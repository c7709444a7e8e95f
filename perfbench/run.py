#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

  python3 perfbench/run.py --workload etl_serve --seed 1 --seconds 12 --trace 0
  python3 perfbench/run.py --smoke        # all workloads, tiny inputs, checks only

Run it from the root of the repository. The first run builds the
program and the harness with sbt (offline) and caches the class path
under .bench_build/; later runs reuse it while no source changes. Each
run starts a fresh JVM with a fixed heap on local[<all cores>], makes
the inputs from --seed, measures for --seconds, checks the program's
outputs against DuckDB and prints one JSON object as its last line:

  {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see README.md). Exits non-zero without a result when the program, the
build or the harness is missing or fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_serve", "corpus_curate")
HEAP = "1g"
DEADLINE_S = 170  # a run must end within 180 s
# Scale factor of the generated tables (sf0.1: 100k events, 1500
# patients; a corpus shard of 5000 documents at sf0.1), per workload.
SCALE = {"etl_serve": 0.05, "corpus_curate": 0.01}
SMOKE_SCALE = 0.001
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads; a change rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the class path."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Engine.scala"))):
        die("the graft sources (build.sbt, src/main/scala/graft) are not in %s" % ROOT)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true" + (
            " -Dsbt.repository.config=" + repos if os.path.isfile(repos) else "")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die("build failed: %s (log: %s)" % (e, log), 3)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed (log: %s)" % log, 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_harness(cp, workload, seed, seconds, trace, scale, work, deadline):
    """Runs one workload in a fresh JVM; returns the harness's result."""
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    # The benchmark measures the program as shipped: no conf overrides
    # from the environment, and Spark's scratch space inside the run's
    # work directory.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS",
                                                               "JAVA_TOOL_OPTIONS")}
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--work", work,
            "--gen", os.path.join(HERE, "gen.py"), "--scale", str(scale)]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die("%s did not finish in time (log: %s)" % (workload, log), 4)
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(res):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die("%s harness failed with code %s (log: %s)" % (workload, rc, log), 4)
    with open(res) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def passes(res, phase):
    return [p for p in res["passes"] if p["phase"] == phase]


def calls(res, phase):
    """The workload's own calls (no traced-only probes) in passes of
    one phase."""
    seqs = {p["seq"] for p in passes(res, phase)}
    return [o for o in res["ops"] if o["pass"] in seqs and not o["probe"]]


def rows_per_pass(res, scale, p):
    """Input rows one pass handles: the events table as the pass found
    it (base rows plus every batch landed so far), or a shard's
    documents."""
    sz = gen.sizes(scale)
    if res["workload"] == "etl_serve":
        return sz["events"] + gen.BATCH_ROWS * (p["seq"] + 1)
    return sz["docs"]


def end_to_end(res, scale):
    timed = passes(res, "timed")
    # Totals over every timed pass: runs differ mostly by how fast the
    # shared host is while they run, and a figure over a longer span is
    # moved less by one busy stretch. read_mean_ms covers the calls that
    # return rows to the caller, a fixed mix per pass.
    reads = [o["ms"] for o in calls(res, "timed") if o["collect"]]
    return {
        "setup_s": (res["setup_s"], "s"),
        "first_pass_s": (passes(res, "first")[0]["s"], "s"),
        "rows_per_s": (sum(rows_per_pass(res, scale, p) for p in timed) /
                       sum(p["s"] for p in timed), "1/s"),
        "read_mean_ms": (statistics.mean(reads), "ms"),
        "revisit_s": (passes(res, "revisit")[0]["s"], "s"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
    }


LAYER_CALLS = [
    "tables.events_scan", "adapters.csv_labx", "adapters.hl7_obx", "adapters.json_generic",
    "ingest.envelope", "ingest.dedup_idempotency", "normalize.reject_counts",
    "normalize.end_to_end", "persist.upsert_version", "persist.patient_meta",
    "text.quality_score", "text.lang_id", "corpus.prep", "corpus.refresh",
    "dedup.minhash_lsh", "dedup.apss_prefix", "similarity.ivf_probe", "similarity.topk"]
QUERY_API = ["get_patient", "obs_by_patient", "latest_observation", "patient_bundle",
             "obs_stats"]


def per_layer(res, work):
    """Per-layer metrics of a traced run. A layer's time is the median
    span of its calls in the timed passes, 0 where the workload does not
    call it; the Spark counters cover the workload's own calls in the
    timed passes (per call, or per pass where marked)."""
    seqs = {p["seq"] for p in passes(res, "timed")}
    timed = [o for o in res["ops"] if o["pass"] in seqs]

    def med(xs):
        return median(xs) if xs else 0.0
    out = {}
    for name in LAYER_CALLS:
        out[name + "_ms"] = (med([o["ms"] for o in timed if o["name"] == name]), "ms")
    hits = [o["ms"] for o in res["ops"] if o["name"] == "dedup.minhash_lsh" and
            o["pass"] in {p["seq"] for p in passes(res, "revisit")}]
    out["dedup.minhash_lsh_hit_ms"] = (med(hits), "ms")
    for q in QUERY_API:
        xs = [o["ms"] for o in timed if o["name"] == "query_api." + q]
        out["query_api.%s_p50_ms" % q] = (med(xs), "ms")
    fresh = []
    if res["workload"] == "etl_serve":
        with open(os.path.join(work, "check", "reads.jsonl")) as f:
            fresh = [r["ms"] for r in map(json.loads, f) if r["kind"] == "fresh"
                     and r["pass"] in seqs]
    out["query_api.fresh_read_p50_ms"] = (med(fresh), "ms")
    out["memo.cached_mb"] = (res["memo_cached_mb"], "MB")
    own = calls(res, "timed")
    n = max(1, len(own))
    npass = max(1, len(seqs))
    wall_ms = sum(o["ms"] for o in own)
    mb = 1024.0 * 1024.0
    out["spark.plan_ms"] = (sum(o["plan_us"] for o in own) / 1e3 / n, "ms")
    out["spark.jobs"] = (sum(o["jobs"] for o in own) / n, "count")
    out["spark.tasks"] = (sum(o["tasks"] for o in own) / n, "count")
    out["spark.core_util"] = (
        sum(o["task_ms"] for o in own) / max(1e-9, wall_ms * res["env"]["cores"]), "ratio")
    out["spark.shuffle_write_mb"] = (sum(o["shuffle_bytes"] for o in own) / mb / npass, "MB")
    out["spark.spill_mb"] = (sum(o["spill_bytes"] for o in own) / mb / npass, "MB")
    out["spark.gc_ms"] = (sum(o["gc_ms"] for o in own) / npass, "ms")
    return out


def one_run(cp, workload, seed, seconds, trace, scale, deadline):
    """Runs and checks one workload; returns the result object and, for
    smoke mode, both metric sets."""
    work = os.path.join(BUILD, "work", workload)
    res = run_harness(cp, workload, seed, seconds, trace, scale, work, deadline)
    problems, notes = checks.check(res, work)
    env = res["env"]
    print("env: cores=%s master=%s heap_max_mb=%.0f spark=%s java=%s confs=%s" % (
        env["cores"], env["master"], env["heap_max_mb"], env["spark_version"], env["java"],
        json.dumps(env["confs"], sort_keys=True)))
    print("%s seed=%d trace=%d: setup=%.3f (main %.1f, session %.1f, inputs %.1f) passes %s" % (
        workload, seed, trace, res["setup_s"], res["setup_marks"]["main"],
        res["setup_marks"]["session"], res["setup_marks"]["inputs"],
        " ".join("%s=%.3f(cpu %.1f)" % (p["phase"], p["s"], p["cpu_s"]) for p in res["passes"])))
    for n in notes:
        print("check: " + n)
    for e in res["errors"]:
        print("operation failed: " + e)
    for pr in problems:
        print("CHECK FAILED: " + pr)
    both = {"end_to_end": end_to_end(res, scale)}
    if trace:
        both["per_layer"] = per_layer(res, work)
    metrics = both["per_layer" if trace else "end_to_end"]
    out = {"correct": not problems, "attempted": res["attempted"], "failed": res["failed"],
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return out, both


def smoke(cp, seed):
    """Every workload, traced, on tiny inputs: the checks must pass, no
    call may fail, and both metric sets must match BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for w in WORKLOADS:
        out, both = one_run(cp, w, seed, 1, 1, SMOKE_SCALE, time.time() + DEADLINE_S)
        print(json.dumps({"workload": w, **out}))
        for kind, got in both.items():
            want = {m["name"]: m["unit"] for m in spec[kind]}
            if {k: u for k, (v, u) in got.items()} != want:
                bad.append("%s: %s metrics differ from BENCHMARK.json" % (w, kind))
        if not out["correct"] or out["failed"]:
            bad.append("%s: %d failed calls or a failed check" % (w, out["failed"]))
    if bad:
        die("smoke failed: " + "; ".join(bad), 1)
    print("smoke ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload briefly on tiny inputs and check the outputs")
    a = ap.parse_args()
    start = time.time()
    cp = build()
    if a.smoke:
        smoke(cp, a.seed)
    elif not a.workload:
        die("--workload or --smoke is required")
    else:
        out, _ = one_run(cp, a.workload, a.seed, a.seconds, a.trace, SCALE[a.workload],
                         start + DEADLINE_S)
        print(json.dumps(out))


if __name__ == "__main__":
    main()
