"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: it
returns ``{name: pyarrow.Table}`` plus a ``meta`` dict of planted truth and
input sizes. The program under test only ever sees the tables, written as
parquet; the truth stays on the benchmark side for the correctness checks.
"""
import datetime as dt
import hashlib
import io

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# ER pipeline: stg ABR registry rows + stg crawl rows, blocked by postcode
# --------------------------------------------------------------------------

_ONSETS = ["B", "C", "D", "F", "G", "H", "K", "L", "M", "N", "P", "R", "S",
           "T", "V", "W", "Br", "Cr", "St", "Tr"]
_VOWELS = ["a", "e", "i", "o", "u"]
_CODAS = ["l", "n", "r", "x"]
# 400 pronounceable name words, identical for every seed
NAME_WORDS = [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]
# (registry spelling, abbreviated spelling) pairs
SUFFIXES = [("Proprietary Limited", "Pty Ltd"), ("Holdings", "Hldgs"),
            ("Services", "Svcs"), ("International", "Intl"),
            ("Group", "Grp"), ("Trading Company", "Trading Co")]
ENTITY_TYPES = ["Australian Private Company", "Individual/Sole Trader",
                "Discretionary Trading Trust", "Australian Public Company",
                "Other Partnership"]
# raw state spellings: canonical, long form, and a dotted variant the
# cleaner's fuzzy fallback has to resolve
STATES = [("NSW", "New South Wales", "N.S.W."), ("VIC", "Victoria", "Vic."),
          ("QLD", "Queensland", "Qld."), ("SA", "South Australia", "S.A."),
          ("WA", "Western Australia", "W.A."), ("TAS", "Tasmania", "Tas."),
          ("NT", "Northern Territory", "N.T."),
          ("ACT", "Australian Capital Territory", "A.C.T.")]


def _abn_text(v, spaced):
    s = "%011d" % v
    return f"{s[:2]} {s[2:5]} {s[5:8]} {s[8:]}" if spaced else s


def er_frames(seed, shards, blocks_per_shard, abr_per_block, crawl_per_block):
    """ABR and crawl stg frames for ``shards`` independent postcode ranges.

    Each postcode block holds ``abr_per_block`` registry rows and
    ``crawl_per_block`` crawl rows. Crawl rows are planted as: exact-ABN
    copies (40 %), dropped-word fuzzy variants with no ABN (25 %),
    abbreviated-suffix variants with no ABN (15 %), and non-matches (20 %).
    """
    rng = np.random.default_rng(seed)
    n_exact = int(round(crawl_per_block * 0.40))
    n_drop = int(round(crawl_per_block * 0.25))
    n_abbr = int(round(crawl_per_block * 0.15))
    n_none = crawl_per_block - n_exact - n_drop - n_abbr
    assert n_exact + n_drop + n_abbr <= abr_per_block
    # unique 11-digit ABNs: an affine walk with a seed-drawn offset
    span = 89_999_999_999
    offset = int(rng.integers(0, span))
    stride = 7_919_007_919  # coprime with span
    tables, truth = {}, []
    abr_serial = 0
    for s in range(shards):
        abr_cols = {k: [] for k in
                    ("abn", "entity_name", "entity_type", "state", "postcode")}
        crawl_cols = {k: [] for k in ("domain", "company_name", "abn",
                                      "postcode")}
        for b in range(blocks_per_shard):
            postcode = 2000 + s * blocks_per_shard + b
            st = STATES[postcode % len(STATES)]
            words = rng.integers(0, len(NAME_WORDS), size=(abr_per_block, 3))
            suffix = rng.integers(0, len(SUFFIXES), size=abr_per_block)
            block = []
            for i in range(abr_per_block):
                abn = 10_000_000_000 + (offset + abr_serial * stride) % span
                abr_serial += 1
                w = [NAME_WORDS[j] for j in words[i]]
                block.append((abn, w, int(suffix[i])))
                name = " ".join(w + [SUFFIXES[suffix[i]][0]]).upper()
                raw_state = st[int(rng.integers(0, 3))]
                raw_pc = str(postcode) if rng.random() < 0.9 else f" {postcode}-"
                abr_cols["abn"].append(_abn_text(abn, rng.random() < 0.3))
                abr_cols["entity_name"].append(name)
                abr_cols["entity_type"].append(
                    ENTITY_TYPES[int(rng.integers(0, len(ENTITY_TYPES)))])
                abr_cols["state"].append(raw_state)
                abr_cols["postcode"].append(raw_pc)
                if rng.random() < 0.02:
                    # a re-extracted copy: the same entity with its ABN,
                    # name and postcode reformatted, which the cleaner's
                    # dedup collapses. The raw state is kept: "N.S.W."
                    # cleans to null but "NSW" does not, and two registry
                    # rows of one ABN in two states both rule-match.
                    abr_cols["abn"].append(_abn_text(abn, True))
                    abr_cols["entity_name"].append(name.title() + ".")
                    abr_cols["entity_type"].append(abr_cols["entity_type"][-1])
                    abr_cols["state"].append(raw_state)
                    abr_cols["postcode"].append(str(postcode))
            picks = rng.permutation(abr_per_block)
            kinds = (["exact"] * n_exact + ["dropped_word"] * n_drop +
                     ["abbreviation"] * n_abbr)
            for j, kind in enumerate(kinds):
                abn, w, sfx = block[picks[j]]
                if kind == "exact":
                    name = " ".join(w + [SUFFIXES[sfx][0]])
                    crawl_abn = _abn_text(abn, rng.random() < 0.5)
                elif kind == "dropped_word":
                    drop = int(rng.integers(0, 3))
                    keep = [x for k, x in enumerate(w) if k != drop]
                    name = " ".join(keep + [SUFFIXES[sfx][0]])
                    crawl_abn = None
                else:
                    name = " ".join(w + [SUFFIXES[sfx][1]])
                    crawl_abn = None
                if rng.random() < 0.5:
                    name = name + "."
                domain = f"{w[0].lower()}{w[1].lower()}-{s}-{b}-{j}.com.au"
                crawl_cols["domain"].append(domain)
                crawl_cols["company_name"].append(name)
                crawl_cols["abn"].append(crawl_abn)
                crawl_cols["postcode"].append(str(postcode))
                truth.append((s, domain, kind, "%011d" % abn, str(postcode)))
            for j in range(n_none):
                w = [NAME_WORDS[k] for k in
                     rng.integers(0, len(NAME_WORDS), size=2)]
                domain = f"{w[0].lower()}{w[1].lower()}-{s}-{b}-n{j}.net"
                crawl_cols["domain"].append(domain)
                crawl_cols["company_name"].append(" ".join(w) + " Studio")
                # a malformed ABN the cleaner nulls out
                crawl_cols["abn"].append(None if j % 2 else "12 345")
                crawl_cols["postcode"].append(str(postcode))
                truth.append((s, domain, "none", None, str(postcode)))
        tables[f"abr_{s}"] = pa.table(abr_cols, schema=pa.schema(
            [(k, pa.string()) for k in abr_cols]))
        tables[f"crawl_{s}"] = pa.table(crawl_cols, schema=pa.schema(
            [(k, pa.string()) for k in crawl_cols]))
    truth_t = pa.table(
        {k: [t[i] for t in truth] for i, k in
         enumerate(("shard", "domain", "kind", "abn", "postcode"))})
    tables["truth"] = truth_t
    # the fuzzy stage scores every rule-residue crawl row against every
    # registry row of its block (one registry row per entity after the
    # cleaner's dedup)
    residue = crawl_per_block - n_exact
    meta = {
        "shards": shards,
        "abr_rows": sum(tables[f"abr_{s}"].num_rows for s in range(shards)),
        "crawl_rows": sum(tables[f"crawl_{s}"].num_rows
                          for s in range(shards)),
        "pairs_scored": shards * blocks_per_shard * residue * abr_per_block,
        "fuzzy_candidates": shards * blocks_per_shard * residue,
    }
    meta["input_rows"] = meta["abr_rows"] + meta["crawl_rows"]
    return tables, meta


# --------------------------------------------------------------------------
# Dedup ingest: replica-scaled document corpus + ingest waves
# --------------------------------------------------------------------------

# the word list of the catalog's documents table
DOC_WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "data", "table", "agg", "value", "key", "stream", "window",
             "spark", "a", "group", "part", "big", "sort", "query", "fast",
             "the"]
REPLICA_STRIDE = 10_000_000


def _family_text(words, fam, cache):
    """The per-family word re-hash: token w of family f becomes
    md5("w:f")[:8], so each family has a private vocabulary and
    near-duplicates exist only inside a family."""
    out = []
    for w in words:
        key = (w, fam)
        h = cache.get(key)
        if h is None:
            h = hashlib.md5(f"{w}:{fam}".encode()).hexdigest()[:8]
            cache[key] = h
        out.append(h)
    return " ".join(out)


def dedup_corpus(seed, families, fresh_families, replicas, waves,
                 min_words=20, max_words=60):
    """History corpus plus ``waves`` ingest batches.

    ``families`` base documents are replicated ``replicas`` times (ids
    shifted by REPLICA_STRIDE, a marker token ``r<k>`` prepended, then the
    per-family re-hash). The last replica of every family, and every
    replica of ``fresh_families`` families never seen in history, arrive
    through the waves in a seeded order: old-family docs are near-dups of
    history, and a fresh family's first arrival is novel while its later
    replicas are near-dups of what the index absorbed.
    """
    rng = np.random.default_rng(seed)
    total = families + fresh_families
    lengths = rng.integers(min_words, max_words + 1, size=total)
    cache = {}
    hist_ids, hist_text, ingest = [], [], []
    for f in range(total):
        base = [DOC_WORDS[k] for k in
                rng.integers(0, len(DOC_WORDS), size=int(lengths[f]))]
        for k in range(replicas):
            doc_id = f + k * REPLICA_STRIDE
            text = _family_text([f"r{k}"] + base, str(f), cache)
            if f >= families or k == replicas - 1:
                ingest.append((doc_id, text))
            else:
                hist_ids.append(doc_id)
                hist_text.append(text)
    order = rng.permutation(len(ingest))
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    tables = {"history": pa.table({"doc_id": hist_ids, "text": hist_text},
                                  schema=schema)}
    for w in range(waves):
        idx = order[w::waves]
        tables[f"wave_{w}"] = pa.table(
            {"doc_id": [ingest[i][0] for i in idx],
             "text": [ingest[i][1] for i in idx]}, schema=schema)
    meta = {"history_docs": len(hist_ids), "ingest_docs": len(ingest),
            "waves": waves, "input_rows": len(hist_ids) + len(ingest)}
    return tables, meta


# --------------------------------------------------------------------------
# Query catalog: the star schema + events/documents/embeddings tables
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "gear", "bolt", "ring", "rod", "plate", "gizmo",
             "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]


def _days(start, end, n, rng):
    d0 = dt.datetime(*start)
    width = (dt.datetime(*end) - d0).days
    days = rng.integers(0, width + 1, size=n)
    return (np.datetime64(d0, "us") +
            days.astype("timedelta64[D]").astype("timedelta64[us]"))


def catalog_tables(seed, scale):
    """The ten catalog tables at ``scale`` (1.0 = 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(20_000 * scale)
    n_user = int(15_000 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[
            rng.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days((1995, 1, 1), (2001, 8, 1), n_ord, rng)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n_ord)])})
    # (orderkey, linenumber) is unique: each order's lines take distinct
    # numbers from a per-order permutation of 1..7
    ok = np.sort(rng.integers(0, n_ord, n_line))
    first = np.searchsorted(ok, ok, side="left")
    rank = np.arange(n_line) - first
    keep = rank < 7
    ok, rank = ok[keep], rank[keep]
    n = len(ok)
    perm = np.argsort(rng.random((n_ord, 7)), axis=1) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(perm[ok, rank], pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days((1995, 1, 2), (2001, 11, 4), n, rng))})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        (secs * 1e6).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(8, 91, n_doc)
    texts = []
    for i in range(n_doc):
        words = list(np.array(DOC_WORDS)[rng.integers(0, 30, lens[i])])
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=lang_p)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    meta = {"input_rows": sum(x.num_rows for x in t.values()),
            "scale": scale}
    return t, meta


# --------------------------------------------------------------------------


def digest(tables):
    """Content hash of a table set (names, schemas and values)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(sink.getvalue())
    return h.hexdigest()


def write(tables, out_dir):
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


def generate(workload, seed, cfg, ops):
    """Dispatch on workload name: (tables, meta) for ``ops`` operations."""
    if workload == "er_pipeline":
        return er_frames(seed, ops, cfg["blocks_per_shard"],
                         cfg["abr_per_block"], cfg["crawl_per_block"])
    if workload == "dedup_ingest":
        return dedup_corpus(seed, cfg["families"], cfg["fresh_families"],
                            cfg["replicas"], ops)
    if workload == "catalog_cold":
        return catalog_tables(seed, cfg["scale"])
    raise ValueError(f"unknown workload {workload}")
