#!/usr/bin/env python3
"""Cold-start benchmark of the company-data pipeline library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                             --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
driver (perfbench/jvm) with sbt; every run then generates its seeded
inputs, starts one fresh JVM with ``local[N]`` (N = usable cores), times
the workload, checks the outputs and prints one JSON result as the last
line of stdout. ``--trace 1`` runs the workload twice, untraced then
traced, and reports per-layer metrics plus the tracing overhead.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("er_pipeline", "catalog_cold", "dedup_ingest")
JVM_DEADLINE_S = 170
# input generation is repeated and its median taken for setup_s; the
# repeats also prove the generator deterministic within the run
SETUP_REPS = 3
# An explicit, fixed driver heap (the root build's 16g default exceeds a
# 15 GiB box), committed and touched at start so that max_rss_mb does not
# swing with G1's time-based heap sizing (see README.md)
HEAP_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
LAUNCH = os.path.join(BENCH, "jvm", "target", "launch.txt")


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def ensure_build(log_path):
    """Build the library and the driver unless launch.txt is newer than
    every build input."""
    sources = [os.path.join(ROOT, "src", "main"),
               os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties")]
    if not all(os.path.exists(p) for p in sources):
        fail("no library sources beside perfbench/; run from a checkout "
             "of the repository", 2)
    inputs = sources + [os.path.join(BENCH, "jvm", "build.sbt"),
                        os.path.join(BENCH, "jvm", "src"),
                        os.path.join(BENCH, "jvm", "project",
                                     "build.properties")]
    if os.path.exists(LAUNCH) and \
            os.path.getmtime(LAUNCH) > newest_mtime(inputs):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(log_path, "w") as log:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
            cwd=os.path.join(BENCH, "jvm"), env=env, stdout=log,
            stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {rc}); see {log_path}", 3)


def _cpu_jiffies():
    """(user + nice, system, steal) jiffies of the whole box."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1], v[2], v[7] if len(v) > 7 else 0


def host_sample(since=None):
    """Load average, the box's sys/user CPU ratio and its steal share,
    over ``since`` (a previous sample) or else over the next half second."""
    if since is None:
        since = {"jiffies": _cpu_jiffies()}
        time.sleep(0.5)
    u0, s0, st0 = since["jiffies"]
    u1, s1, st1 = _cpu_jiffies()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    busy = (u1 - u0) + (s1 - s0) + (st1 - st0)
    return {"loadavg": load, "jiffies": (u1, s1, st1),
            "sys_user_ratio": (s1 - s0) / (u1 - u0) if u1 > u0 else 0.0,
            "steal_share": (st1 - st0) / busy if busy else 0.0}


def usable_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def generate_inputs(workload, seed, cfg, ops, work, reps):
    """Generate and write the inputs ``reps`` times; the same seed must
    give identical tables every time. Returns (seconds per rep, meta)."""
    times, digests, meta = [], [], None
    for i in range(reps):
        t0 = time.perf_counter()
        tables, meta = gen.generate(workload, seed, cfg, ops)
        target = os.path.join(work, "input" if i == 0 else f"input_{i}")
        os.makedirs(target)
        os.makedirs(os.path.join(work, "check"), exist_ok=True)
        truth = {k: v for k, v in tables.items() if k == "truth"}
        gen.write({k: v for k, v in tables.items() if k != "truth"}, target)
        if i == 0:
            gen.write(truth, os.path.join(work, "check"))
        times.append(time.perf_counter() - t0)
        digests.append(gen.digest(tables))
        if i:
            shutil.rmtree(target)
    if len(set(digests)) != 1:
        fail(f"generator is not deterministic for seed {seed}", 4)
    return times, meta, digests[0]


def run_jvm(workload, ops, cores, traced, work, tag, deadline, queries):
    with open(LAUNCH) as f:
        lines = [ln.rstrip("\n") for ln in f if ln.strip()]
    classpath, opts = lines[0], [o for o in lines[1:]
                                 if not o.startswith(("-Xms", "-Xmx"))]
    out = os.path.join(work, f"out_{tag}")
    tmp = os.path.join(work, f"tmp_{tag}")
    os.makedirs(out)
    os.makedirs(tmp)
    result = os.path.join(work, f"result_{tag}.json")
    # -XX:-UsePerfData keeps the JVM from writing hsperfdata outside the
    # checkout; every other temp file goes to the run's own tmp directory
    cmd = (["java"] + HEAP_OPTS + ["-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", workload, "--input", os.path.join(work, "input"),
            "--out", out, "--ops", str(ops), "--cores", str(cores),
            "--trace", "1" if traced else "0",
            "--local-dir", os.path.join(tmp, "spark"), "--result", result])
    if queries:
        cmd += ["--queries", ",".join(queries)]
    log_path = os.path.join(work, f"jvm_{tag}.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=log,
                                stderr=subprocess.STDOUT,
                                timeout=max(1, deadline - time.time())
                                ).returncode
        except subprocess.TimeoutExpired:
            fail(f"{workload} JVM ({tag}) exceeded the deadline", 5)
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} JVM ({tag}) exited {rc}", 5)
    with open(result) as f:
        return json.load(f), out


def check(workload, out, work, meta, queries):
    if workload == "er_pipeline":
        return checks.er_pipeline(out, os.path.join(work, "check"),
                                  meta["shards"])
    if workload == "catalog_cold":
        return checks.catalog(out, os.path.join(work, "input"), queries)
    return checks.dedup_ingest(out)


def config_metrics(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    deadline = started + JVM_DEADLINE_S

    with open(os.path.join(BENCH, "workloads.json")) as f:
        config = json.load(f)
    cfg = config[args.workload]
    work_root = os.path.join(BENCH, ".work")
    os.makedirs(work_root, exist_ok=True)
    ensure_build(os.path.join(work_root, "build.log"))
    deadline = max(deadline, time.time() + 150)
    phases = {"build": time.time() - started}

    host_start = host_sample()
    cores = usable_cores()
    ops = max(2, round(cfg["ops_per_second"] * args.seconds))
    queries = None
    if args.workload == "catalog_cold":
        ops = min(ops, len(cfg["sample"]))
        queries = cfg["sample"][:ops]
    work = os.path.join(work_root, f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t = time.time()
    gen_s, meta, digest = generate_inputs(
        args.workload, args.seed, cfg, ops, work, SETUP_REPS)
    phases["generate"] = time.time() - t
    passes = [False, True] if args.trace else [False]
    recs, bad = {}, {}
    for traced in passes:
        tag = "traced" if traced else "plain"
        t = time.time()
        rec, out = run_jvm(args.workload, ops, cores, traced, work, tag,
                           deadline, queries)
        phases[f"jvm_{tag}"] = time.time() - t
        t = time.time()
        recs[traced] = rec
        bad.update(rec["failures"])
        bad.update(check(args.workload, out, work, meta, queries))
        phases[f"check_{tag}"] = time.time() - t
    plain = recs[False]
    e2e, tail_info = stats.end_to_end(plain, meta, gen_s)
    metrics = e2e if not args.trace else \
        stats.per_layer(recs[True], plain["wall_s"], meta)
    units = {m["name"]: m["unit"] for m in config_metrics(
        "per_layer" if args.trace else "end_to_end")}
    attempted = plain["attempted"]
    failed = min(attempted, len(bad))
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "ops": ops,
        "cores": cores, "heap": HEAP_OPTS,
        "input_digest": digest, "input_rows": meta["input_rows"],
        "setup_generate_s": gen_s,
        "session_ready_s": plain["session_ready_s"],
        "failed_ratio": failed / attempted,
        "failures": bad, **tail_info, "op_s": plain["op_s"],
        "phase_s": phases,
        "end_to_end": e2e, "queries": queries,
        "host_start": host_start, "host_end": host_sample(host_start),
    }
    print(json.dumps({"detail": detail}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}))


if __name__ == "__main__":
    main()
