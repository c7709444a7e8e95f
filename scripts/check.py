#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads the parquet results written by `graft.Verify <sfDir> <outDir>`,
runs each oracle SQL from outDir/oracle_sql.json in DuckDB against the
same sfDir tables, and compares: row count, column names, and values
(columns sorted by name, rows sorted by all columns, exact equality).

Usage: python3 scripts/check.py [--json report.json] [--shards R] <sfDir> <outDir> [query...]

--json additionally writes a driver-style correctness report
({query: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}}) — used for the CORRECTNESS_SCALE artifacts (history/).

--shards R enables the SHARDED-ORACLE mode for the list-heavy queries
DuckDB cannot execute whole at the 100x replica (per-doc list aggs and
token windows are outside its spillable operator set — history/SCALING_r10.md
§2). ScaleGen replicas are DISJOINT key-shifted copies (replica k holds
keys in [k*Off, (k+1)*Off) and document words carry a per-replica
suffix, so no shingle/word/edge crosses replicas); for the queries in
SHARD_COMPOSE the oracle therefore decomposes: run it per replica slice
(views filtered to one key range — each slice is 1x-sized) and compose
the slices with the query's documented expansion law (plain union for
pair sets; union + the query's own final ORDER/LIMIT for global top-k,
valid because a row's rank within its slice is never worse than its
global rank; re-derived ratios from summed counts for the recall eval).
Queries not in SHARD_COMPOSE run normally against the full tables.
report rows gain "method": "sharded-oracle(R)" when the mode was used.
"""
import json, sys, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# per-replica key offset (graft.tools.ScaleGen.Off) and the key column
# that carries each fact table's replica range; region/nation are fixed
# dimensions and stay unsharded
SHARD_OFF = 10000000
SHARD_KEYS = {"customer": "c_custkey", "supplier": "s_suppkey",
              "part": "p_partkey", "orders": "o_orderkey",
              "lineitem": "l_orderkey", "events": "event_id",
              "documents": "doc_id", "embeddings": "vec_id"}

# composition law per shardable query, run over `shards` = UNION ALL of
# the per-slice oracle results:
# - dedup_apss_prefix: exact near-dup pairs are intra-replica by
#   construction (shingle vocabularies are disjoint) -> plain union.
# - graph_triangles: the co-purchase graph never crosses replicas, so
#   per-slice top-100 rows are a superset of the global top-100 under
#   the total order (a row's slice rank <= its global rank) -> union +
#   the query's own final ORDER BY/LIMIT.
# - text_rake_keywords: word stats are corpus-wide but replica-suffixed
#   words are disjoint, so per-slice scores equal global scores ->
#   union + final ORDER BY/LIMIT (same superset argument).
# - dedup_lsh_recall: truth pairs and candidate hits are intra-replica
#   (a cross-replica LSH bucket collision can never match a truth
#   pair) -> re-derive the band ratios from the summed counts.
SHARD_COMPOSE = {
    "dedup_apss_prefix": "SELECT * FROM shards",
    "graph_triangles": ("SELECT part, n_triangles FROM shards "
                        "ORDER BY n_triangles DESC, part LIMIT 100"),
    "text_rake_keywords": ("SELECT phrase, n_words, n_occurrences, "
                           "rake_score FROM shards "
                           "ORDER BY rake_score DESC, phrase LIMIT 50"),
    "dedup_lsh_recall": ("SELECT jaccard_band, "
                         "CAST(SUM(n_truth) AS BIGINT) AS n_truth, "
                         "CAST(SUM(n_hit) AS BIGINT) AS n_hit, "
                         "CAST(SUM(n_hit) AS DOUBLE) / SUM(n_truth) AS recall "
                         "FROM shards GROUP BY 1"),
}


def make_views(con, sf_dir, shard=None):
    """(Re)create the table views; shard=(k, R) filters each fact table
    to replica k's key range."""
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table: a directory of parts
            p = f"{p}/*.parquet"
        if not glob.glob(p):
            continue
        pred = ""
        if shard is not None and t in SHARD_KEYS:
            k = shard
            key = SHARD_KEYS[t]
            pred = (f" WHERE {key} >= {k * SHARD_OFF}"
                    f" AND {key} < {(k + 1) * SHARD_OFF}")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{p}'){pred}")


def run_sharded(con, sf_dir, sql, name, reps):
    """Run `sql` once per replica slice, compose per SHARD_COMPOSE.
    Each slice lands in its own temp table (INSERT INTO ... (WITH
    ... MATERIALIZED ...) trips a DuckDB binder bug on some CTEs)."""
    for k in range(reps):
        make_views(con, sf_dir, shard=k)
        con.execute(f"CREATE OR REPLACE TEMP TABLE shard_{k} AS ({sql})")
        print(f"  [shard {k + 1}/{reps}] {name}: "
              f"{con.execute(f'SELECT COUNT(*) FROM shard_{k}').fetchone()[0]}"
              " rows", flush=True)
    make_views(con, sf_dir)  # restore the unsharded views
    union = " UNION ALL ".join(
        f"SELECT * FROM shard_{k}" for k in range(reps))
    con.execute(f"CREATE OR REPLACE TEMP VIEW shards AS {union}")
    cols, rows = fetch(con.execute(SHARD_COMPOSE[name]))
    con.execute("DROP VIEW shards")
    for k in range(reps):
        con.execute(f"DROP TABLE shard_{k}")
    return cols, rows


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in idx))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in idx], out


def norm(v):
    # Mirrors the driver, which canonicalizes through pandas: a DuckDB
    # HUGEINT (e.g. bare SUM(int)) arrives as float64 there and hashes
    # as "3.0" against Spark's int64 "3" — so we go through fetchdf()
    # too (see fetch()) and norm only handles pandas-ish scalars.
    import datetime, decimal, math
    import numpy as np
    if isinstance(v, (np.floating, float)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        return tuple(norm(x) for x in v)
    return v


def fetch(cursor):
    df = cursor.fetchdf()
    cols = list(df.columns)
    rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
    return cols, rows


def main(sf_dir, out_dir, names=None, json_path=None, shards=None):
    report = {}
    con = duckdb.connect()
    # an in-memory connection has NO temp_directory, so large sorts/
    # joins cannot spill and abort with OOM at the 100x replica —
    # point spilling at a disk path (same engine semantics, just
    # out-of-core execution for oracle queries that exceed RAM)
    tmp = os.environ.get("GRAFT_DUCKDB_TMP",
                         f"/tmp/graft_duckdb_spill_{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET preserve_insertion_order=false")
    # peak memory scales with threads x per-operator buffers: the 100x
    # replica checks run fewer, fatter threads (default 32 exhausts
    # the 100 GiB limit before spilling kicks in)
    if os.environ.get("GRAFT_DUCKDB_THREADS"):
        con.execute(f"SET threads={int(os.environ['GRAFT_DUCKDB_THREADS'])}")
    if os.environ.get("GRAFT_DUCKDB_MEM"):
        con.execute(f"SET memory_limit='{os.environ['GRAFT_DUCKDB_MEM']}'")
    make_views(con, sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    names = names or sorted(oracle)
    for name in names:
        sql = oracle[name]
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        rep = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        report[name] = rep
        if not files:
            print(f"FAIL {name}: no spark result parquet")
            rep["err"] = "no spark result parquet"
            n_fail += 1
            continue
        try:
            gcols, grows = fetch(con.execute(f"SELECT * FROM read_parquet({files!r})"))
            if shards and name in SHARD_COMPOSE:
                rep["method"] = f"sharded-oracle({shards})"
                wcols, wrows = run_sharded(con, sf_dir, sql, name, shards)
            else:
                wcols, wrows = fetch(con.execute(sql))
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            rep["err"] = f"exec error: {e}"
            n_fail += 1
            continue
        gc, gr = canon(grows, gcols)
        wc, wr = canon(wrows, wcols)
        rep["spark_rows"], rep["oracle_rows"] = len(gr), len(wr)
        rep["schema_match"] = gc == wc
        rep["rows_match"] = len(gr) == len(wr)
        rep["hash_match"] = gr == wr
        if gc != wc:
            print(f"FAIL {name}: columns {gc} != {wc}")
            n_fail += 1
        elif len(gr) != len(wr):
            print(f"FAIL {name}: rows {len(gr)} != {len(wr)}")
            n_fail += 1
        elif gr != wr:
            bad = next(i for i in range(len(gr)) if gr[i] != wr[i])
            print(f"FAIL {name}: value mismatch at sorted-row {bad}:")
            print(f"   spark : {gr[bad]}")
            print(f"   duckdb: {wr[bad]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(gr)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if json_path:
        json.dump(report, open(json_path, "w"), indent=1)
        print(f"report -> {json_path}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    argv = sys.argv[1:]
    jp = None
    shards = None
    while argv and argv[0].startswith("--"):
        if argv[0] == "--json":
            jp = argv[1]
        elif argv[0] == "--shards":
            shards = int(argv[1])
        else:
            sys.exit(f"unknown flag {argv[0]}")
        argv = argv[2:]
    main(argv[0], argv[1], argv[2:] or None, jp, shards)
