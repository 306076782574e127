"""Correctness checks on a run's landed outputs, made after the timed
section. Each returns ``{op_label: reason}`` for the ops whose output is
wrong; an empty dict means every check passed."""
import json
import math
import os
from collections import Counter

import duckdb

CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]


def _rows(con, sql):
    return con.execute(sql).fetchall()


def er_pipeline(out_dir, check_dir, shards):
    """Every planted exact-ABN crawl row is matched by rule_based_abn to
    its own ABN; no match crosses a postcode block; each crawl domain
    appears at most once."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW truth AS SELECT * FROM "
                f"'{check_dir}/truth.parquet'")
    bad = {}
    for s in range(shards):
        label = f"shard_{s}"
        path = f"{out_dir}/er_{s}"
        if not os.path.isdir(path):
            bad[label] = "no landed output"
            continue
        con.execute(f"CREATE OR REPLACE VIEW m AS SELECT * FROM "
                    f"'{path}/*.parquet'")
        missing = _rows(con, f"""
            SELECT count(*) FROM truth t LEFT JOIN m
              ON m.crawl_domain = t.domain
             AND m.match_method = 'rule_based_abn' AND m.abr_abn = t.abn
            WHERE t.shard = {s} AND t.kind = 'exact'
              AND m.crawl_domain IS NULL""")[0][0]
        crossing = _rows(con, """
            SELECT count(*) FROM m JOIN truth t ON m.crawl_domain = t.domain
            WHERE m.abr_postcode IS DISTINCT FROM t.postcode""")[0][0]
        repeated = _rows(con, """
            SELECT count(*) FROM (SELECT crawl_domain FROM m
              GROUP BY 1 HAVING count(*) > 1)""")[0][0]
        unknown = _rows(con, """
            SELECT count(*) FROM m ANTI JOIN truth t
              ON m.crawl_domain = t.domain""")[0][0]
        if missing or crossing or repeated or unknown:
            bad[label] = (f"{missing} exact rows unmatched, {crossing} "
                          f"cross-block, {repeated} repeated domains, "
                          f"{unknown} unknown domains")
    return bad


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def catalog(out_dir, input_dir, names):
    """Each landed query result equals its DuckDB oracle SQL over the same
    tables: same column names, same type kinds, same multiset of rows."""
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{input_dir}/{t}.parquet'")
    oracle_path = f"{out_dir}/oracle_sql.json"
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) \
        else {}
    bad = {}
    for name in names:
        if name not in oracle:
            bad[name] = "no oracle SQL"
            continue
        if not os.path.isdir(f"{out_dir}/{name}"):
            bad[name] = "no landed output"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
            want = con.execute(oracle[name]).fetchdf()
        except duckdb.Error as e:
            bad[name] = f"oracle error: {e}"
            continue
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            bad[name] = f"columns {cols} vs {sorted(want.columns)}"
            continue
        kinds = [c for c in cols if got[c].dtype.kind != want[c].dtype.kind]
        if kinds:
            bad[name] = f"type kinds differ on {kinds}"
            continue
        g = Counter(tuple(_norm(v) for v in row)
                    for row in got[cols].itertuples(index=False))
        w = Counter(tuple(_norm(v) for v in row)
                    for row in want[cols].itertuples(index=False))
        if g != w:
            bad[name] = (f"rows differ: {sum(g.values())} landed, "
                         f"{sum(w.values())} oracle")
    return bad


def dedup_ingest(out_dir):
    """No near-duplicate pair and no cluster straddles two splits, and the
    bulk build found the planted replica families."""
    need = ["pairs", "split"]
    if not all(os.path.isdir(f"{out_dir}/{d}") for d in need):
        return {"bulk": "no landed pairs or split"}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW p AS SELECT * FROM '{out_dir}/pairs/*.parquet'")
    con.execute(f"CREATE VIEW s AS SELECT * FROM '{out_dir}/split/*.parquet'")
    n_pairs = _rows(con, "SELECT count(*) FROM p")[0][0]
    straddling_pairs = _rows(con, """
        SELECT count(*) FROM p JOIN s a ON a.doc_id = p.id_a
        JOIN s b ON b.doc_id = p.id_b WHERE a.split <> b.split""")[0][0]
    straddling_clusters = _rows(con, """
        SELECT count(*) FROM (SELECT cluster_id FROM s GROUP BY 1
          HAVING count(DISTINCT split) > 1)""")[0][0]
    if n_pairs == 0 or straddling_pairs or straddling_clusters:
        return {"bulk": f"{n_pairs} pairs, {straddling_pairs} pairs and "
                        f"{straddling_clusters} clusters straddle splits"}
    return {}
