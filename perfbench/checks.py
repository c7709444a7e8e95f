"""Correctness checks of one benchmark run.

They run after the harness has exited, outside every timed call, and
never compare with a saved copy of earlier output: each expected answer
is computed here, in DuckDB (the SQL in sql/), from the same generated
files the program read, or is a property the operation must have.
`check` returns one line per failed check, and the findings of the
checks that are reported but not counted (see check_corpus).
"""
import glob
import json
import math
import os

import duckdb
import pyarrow as pa

# A token window longer than any document: the whole text.
FULL_TEXT = 1 << 30
SQL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sql")


def sql(name):
    with open(os.path.join(SQL_DIR, name + ".sql")) as f:
        return f.read()


def same_value(a, b):
    """Equal; floats within one unit of the sixth decimal place, the
    precision obsStats rounds its mean to (Spark and DuckDB may round a
    tie differently)."""
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-12,
                                                                abs_tol=1.000001e-6)
    return a == b


def same_rows(got, want, ordered):
    """Row lists equal value by value; unordered compares sorted."""
    got = [list(r) for r in got]
    want = [list(r) for r in want]
    if not ordered:
        key = lambda r: json.dumps(r, default=str)  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(same_value(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def check(res, work):
    """Returns (problems, notes)."""
    if res["workload"] == "etl_serve":
        return check_etl_serve(res, work), []
    return check_corpus(res, work)


def check_etl_serve(res, work):
    problems = []
    con = duckdb.connect()
    inp = os.path.join(work, "in")
    files = sorted(glob.glob(os.path.join(inp, "events.parquet", "*.parquet")))
    con.execute(sql("events"), {"files": files})
    con.execute("CREATE TABLE customer AS SELECT * FROM read_parquet($f)",
                {"f": os.path.join(inp, "customer.parquet")})
    n_rows = con.execute("SELECT count(*) FROM ev").fetchone()[0]

    # The batch flow, over the table as it stood after the last pass.
    got = con.execute(
        "SELECT patient_id, code, n_observations, latest_value, epoch_us(latest_effective) "
        "FROM read_parquet($f) ORDER BY patient_id, code",
        {"f": os.path.join(work, "check", "end_to_end.parquet", "*.parquet")}).fetchall()
    want = con.execute(sql("flow_latest")).fetchall()
    if not same_rows(got, want, ordered=True):
        problems.append("end_to_end: per-(patient, code) count or latest value differs "
                        "from DuckDB (%d rows vs %d)" % (len(got), len(want)))
    rejects = {r[0]: r[1] for r in res["reject_counts"]}
    want_rejects = dict(con.execute(sql("flow_rejects")).fetchall())
    if rejects != want_rejects:
        problems.append("reject_counts %s, DuckDB %s" % (rejects, want_rejects))
    persisted = sum(r[2] for r in got)
    rejected = sum(n for k, n in rejects.items() if k != "valid")
    if persisted + rejected != n_rows or rejects.get("valid") != persisted:
        problems.append("persisted %d + rejected %d != %d input rows"
                        % (persisted, rejected, n_rows))

    # Every Query API read, against the table as it stood at that read.
    with open(os.path.join(work, "check", "reads.jsonl")) as f:
        reads = [json.loads(ln) for ln in f if ln.strip()]
    for r in reads:
        if r["ok"]:
            problems += check_read(con, r)
    return problems


def check_read(con, r):
    kind, rows = r["kind"], r["rows"]
    p = {"landed": r["landed"], "patient": r["patient"], "code": r["code"],
         "from": r["from"], "to": r["to"], "limit": r["limit"], "tenant": r["patient"] % 4}
    where = "%s(patient %d, code %s, pass %d)" % (kind, r["patient"], r["code"], r["pass"])

    def q(name, keys):
        return con.execute(sql(name), {k: p[k] for k in keys}).fetchall()

    out = []
    if kind in ("fresh", "obsByPatient"):
        want = q("read_obs_by_patient", ["landed", "patient", "code", "from", "to", "limit"])
        ordered = True
        keys = [(row[4], row[1]) for row in rows]
        lo, hi = q_bounds(con, r["from"], r["to"])
        if keys != sorted(keys) or len(rows) > r["limit"] or \
                any(not lo <= k[0] < hi for k in keys):
            out.append(where + ": rows not ascending, outside [from, to) or over the limit")
        if kind == "fresh":
            landed = {x[0] for x in con.execute(
                "SELECT event_id FROM ev WHERE batch = $b AND user_id = $p AND event_type = $c",
                {"b": r["landed"] - 1, "p": r["patient"], "c": r["code"]}).fetchall()}
            if not landed or not landed <= {row[1] for row in rows}:
                out.append(where + ": the first read after the batch landed misses its rows")
    elif kind in ("getPatient", "patientBundle"):
        con.execute(sql("patient_meta"), {"landed": p["landed"], "patient": p["patient"]})
        if kind == "getPatient":
            want = con.execute(sql("read_get_patient")).fetchall()
        else:
            want = q("read_patient_bundle", ["landed", "patient", "code", "from", "to"])
        ordered = True
    elif kind == "latestObservation":
        want, ordered = q("read_latest_observation", ["landed", "tenant"]), False
    else:
        want, ordered = q("read_obs_stats", ["landed", "tenant"]), False
    if not same_rows(rows, want, ordered):
        out.append(where + ": %d rows differ from DuckDB's %d" % (len(rows), len(want)))
    return out


def q_bounds(con, lo, hi):
    return con.execute("SELECT epoch_us(CAST($a AS TIMESTAMP)), epoch_us(CAST($b AS TIMESTAMP))",
                       {"a": lo, "b": hi}).fetchone()


def check_corpus(res, work):
    """Checks every fresh shard's corpusPrep manifest. The held-out
    trigram check fails only within the 60-token shingle window that
    corpusPrep decontaminates; survivors that share a trigram with the
    held-out slice past that window, which corpusPrep's contract also
    excludes, are counted over the full text and reported as a note:
    whether a shard has any depends on the seed."""
    problems = ["revisit differs from the fresh pass: " + m for m in res["revisit_mismatches"]]
    con = duckdb.connect()
    n_survivors = 0
    leaks = {}
    for path in sorted(glob.glob(os.path.join(work, "check", "prep-*.json"))):
        shard = os.path.basename(path)[len("prep-"):-len(".json")]
        with open(path) as f:
            man = sorted(json.load(f))
        where = "corpus.prep shard %s: " % shard
        if not man:
            problems.append(where + "no survivors")
            continue
        offsets = [m[2] for m in man]
        expect = [0]
        for m in man[:-1]:
            expect.append(expect[-1] + m[1])
        if offsets != expect:
            problems.append(where + "token offsets are not a gap-free prefix sum")
        con.register("manifest", pa.table({
            "doc_id": [m[0] for m in man], "n_tokens": [m[1] for m in man],
            "token_offset": offsets}))
        con.execute(sql("corpus_docs"), {
            "documents": os.path.join(work, "in", "shard-" + shard, "documents.parquet")})
        con.execute(sql("corpus_survivors"))
        n, n_fp, bad_tok, held = con.execute(
            "SELECT count(*), count(DISTINCT fingerprint), "
            "count(*) FILTER (WHERE n_tokens <> len(toks)), "
            "count(*) FILTER (WHERE doc_id % 10 = 0) FROM survivors").fetchone()
        if n != len(man):
            problems.append(where + "survivors missing from the shard")
        if n_fp != n:
            problems.append(where + "%d survivors share a normalised fingerprint" % (n - n_fp))
        if bad_tok:
            problems.append(where + "%d token counts differ from the text" % bad_tok)
        if held:
            problems.append(where + "%d held-out documents survived" % held)
        windowed = con.execute(sql("corpus_heldout_trigrams"), {"window": 60}).fetchall()
        if windowed:
            problems.append(where + "%d survivors share a trigram with the held-out slice "
                            "within the first 60 tokens" % len(windowed))
        full = con.execute(sql("corpus_heldout_trigrams"), {"window": FULL_TEXT}).fetchall()
        n_survivors += n
        if full:
            leaks[shard] = len(full)
        con.unregister("manifest")
    notes = ["corpus.prep held-out trigrams over the full text: %d of %d survivors share one "
             "(%s); within the 60-token window: checked above" % (
                 sum(leaks.values()), n_survivors,
                 ", ".join("shard %s: %d" % kv for kv in sorted(leaks.items())) or "none")]
    return problems, notes
