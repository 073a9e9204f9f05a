#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload sql_analytic --seed 1 --seconds 12 --trace 0

One client issues a workload's queries back to back on one
`local[nproc]` Spark session (see perfbench/src/perfbench/PerfBench.scala).
The script

  1. compiles the engine (src/main/scala) and the benchmark's JVM side with
     the Scala compiler shipped in Spark's jars, into $CARGO_TARGET_DIR
     (default .bench_build), unless the sources are unchanged;
  2. resets the run's working directory, so every run starts from the
     same disk state (Spark warehouse, local dirs and temp files all live
     under .bench_build/work);
  3. runs the JVM: a set-up timed from JVM start, one cold pass, one
     untimed check pass that dumps every result, warm passes for
     --seconds, and a second untimed check pass;
  4. checks the results of both check passes: against their DuckDB
     oracle on the same inputs with the strict rules of tools/check.py
     (column names, dtypes, rows, exact values); a query without an
     oracle counts as wrong;
  5. prints one JSON line: the end-to-end metrics (--trace 0) or the
     per-layer metrics (--trace 1). A wrong result makes it exit 1.

The seed sets the query order of every pass; the inputs are the tables
under perfbench/data plus the TPC-DS tables the engine generates
deterministically. The full record of a run (seed, query set, per-query
outcomes, latencies, spans when traced) is written under
.bench_build/records.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fixed query sets (corpus names), slices of the corpus families sized so
# that a run with its set-up, cold pass and check passes stays under a minute;
# the seed only orders them. Every one has a DuckDB oracle.
WORKLOADS = {
    "sql_analytic": [
        "tpch_q1", "tpch_q3", "tpch_q6", "tpcds_q03", "tpcds_q42", "tpcds_q96",
        "tpcds_q44", "window_groups_native", "window_ranking", "agg_approx_top_k",
        "topk_aggregation", "func_json", "stream_tumbling", "stream_session"],
    "llm_pipeline": [
        "pipe_dedup_cluster", "pipe_dedup_minhash",
        "pipe_dedup_exact", "pipe_chunk_docs", "pipe_text_langid",
        "pipe_text_repetition", "pipe_embed_quantize", "pipe_text_fingerprint",
        "pipe_text_top_tokens"],
}

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
             "cpu_s": "s", "peak_heap_mb": "MB"}

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# The untimed passes whose results are checked: after the cold pass, and
# after the warm window.
CHECK_PASSES = ("check", "check_end")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if "_mb" in name:
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("share", "util", "frac", "per_result_row")):
        return "ratio"
    return "count"


# ── build ───────────────────────────────────────────────────────────────
def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}; set SPARK_HOME")
    return jars


def build(bdir, jars):
    main = os.path.join(ROOT, "src", "main", "scala")
    srcs = sorted(glob.glob(f"{main}/**/*.scala", recursive=True))
    if not srcs:
        fail(f"no engine sources under {main}")
    srcs += sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    res = sorted(glob.glob(f"{ROOT}/src/main/resources/**/*", recursive=True))
    h = hashlib.sha256()
    for p in srcs + [r for r in res if os.path.isfile(r)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = f"{jars}/*"
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


# ── JVM ─────────────────────────────────────────────────────────────────
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def java(classes, jars, work, tpcds_dir, args, log, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # CompileThresholdScaling: the JIT compiles hot code four times sooner,
    # so a one-minute run gets closer to steady state before the warm window.
    # A fixed heap size keeps G1 from starting concurrent marking cycles at
    # an occupancy that its adaptive sizing picks anew in every run.
    cmd = ["java", *flags, "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m",
           "-XX:CompileThresholdScaling=0.25", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{ROOT}/src/main/resources:{jars}/*",
           "perfbench.PerfBench", *args]
    env = dict(os.environ, SPARK_GRAFT_TPCDS_DIR=tpcds_dir, SPARK_LOCAL_DIRS=tmp)
    with open(log, "a") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=out)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM timed out, see {log}")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"JVM exited with {rc}, see {log}")


# ── correctness ─────────────────────────────────────────────────────────
# The strict rules are those of tools/check.py, the repository's oracle
# gate: its helpers are imported, not copied.

def compare(sql, got, con, cache_dir, stamp):
    """None when the result matches its oracle, else the reason."""
    import pandas as pd
    from check import dtype_key, nested_cols, norm
    key = hashlib.sha256((stamp + "\0" + sql).encode()).hexdigest()[:32]
    cached = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(cached):
        exp = pd.read_pickle(cached)
    else:
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            return f"oracle error: {e}"
        exp.to_pickle(cached)
    bad = nested_cols(got) + nested_cols(exp)
    if bad:
        return f"nested output columns {sorted(set(bad))}"
    e, g = norm(exp), norm(got)
    if list(e.columns) != list(g.columns):
        return f"columns exp={list(e.columns)} got={list(g.columns)}"
    dt = [c for c in e.columns if dtype_key(e[c].dtype) != dtype_key(g[c].dtype)]
    if dt:
        return "dtype mismatch " + ", ".join(f"{c}: {e[c].dtype} vs {g[c].dtype}" for c in dt)
    if len(e) != len(g):
        return f"rows exp={len(e)} got={len(g)}"
    try:
        pd.testing.assert_frame_equal(e, g, check_dtype=False, check_exact=True)
    except AssertionError as a:
        return str(a).replace("\n", " | ")[:300]
    return None


def check(record, out, data, bdir, stamp):
    """Per-query outcome: None when both check passes' results are
    correct, else the reason."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    cache = os.path.join(bdir, "oracle_cache")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    outcome = {}
    for name in record["queries"]:
        if name in record["failures"]:
            outcome[name] = "error: " + record["failures"][name]
            continue
        if name not in record["oracle"]:
            outcome[name] = "no DuckDB oracle to check against"
            continue
        outcome[name] = None
        for kind in CHECK_PASSES:
            files = sorted(glob.glob(f"{out}/results/{kind}/{name}/*.parquet"))
            if not files:
                why = "no result written"
            elif any(pa.types.is_decimal(f.type) for f in pq.ParquetDataset(files).schema):
                why = "DECIMAL output columns"
            else:
                got = duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").df()
                why = compare(record["oracle"][name], got, con, cache, stamp)
            if why is not None:
                outcome[name] = f"{kind} pass: {why}"
                break
    return outcome


# ── main ────────────────────────────────────────────────────────────────
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    queries = WORKLOADS[a.workload]

    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    data = os.path.join(HERE, "data", "sf0.01")
    if not all(os.path.exists(f"{data}/{t}.parquet") for t in TABLES):
        fail(f"input tables missing under {data}")
    os.makedirs(bdir, exist_ok=True)
    jars = spark_jars()
    classes, stamp = build(bdir, jars)
    sys.path.insert(0, os.path.join(ROOT, "tools"))

    work = os.path.join(bdir, "work")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    log = os.path.join(bdir, "jvm.log")
    open(log, "w").close()
    tpcds_dir = os.path.join(bdir, "data", "tpcds")
    if (any(q.startswith("tpcds_") for q in queries)
            and not os.path.exists(os.path.join(tpcds_dir, "_graft_ok"))):
        java(classes, jars, work, tpcds_dir, ["prep"], log, timeout=600)

    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(queries) + "\n")
    cores = len(os.sched_getaffinity(0))
    java(classes, jars, work, tpcds_dir,
         ["run", f"queries={qfile}", f"data={data}", f"out={out}", f"seed={a.seed}",
          f"seconds={a.seconds}", f"trace={a.trace}", f"cores={cores}"], log, timeout=150)

    record = json.load(open(os.path.join(out, "record.json")))
    outcome = check(record, out, data, bdir, stamp)
    wrong = {n: r for n, r in outcome.items() if r is not None}
    timed = [q for q in record["per_query"] if q["kind"] not in CHECK_PASSES]
    attempted = len(timed)
    failed = sum(1 for q in timed if q["error"] or q["name"] in wrong)

    records = os.path.join(bdir, "records")
    os.makedirs(records, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    record.update(workload=a.workload, outcome=outcome, attempted=attempted, failed=failed)
    with open(os.path.join(records, tag + ".json"), "w") as f:
        json.dump(record, f)
    if a.trace:
        shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(records, tag + ".spans.jsonl"))

    for n, r in wrong.items():
        print(f"perfbench: WRONG {n}: {r}", file=sys.stderr)
    e2e, layers = record["end_to_end"], record["per_layer"]
    summary = {k: round(v, 4) for k, v in e2e.items()}
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} cores={cores} "
          f"end_to_end={json.dumps(summary)}", file=sys.stderr)
    if a.trace:
        held = sorted({q["name"] for q in record["per_query"]
                       if q.get("held_mb_added", 0) > 0})
        print(f"perfbench: tracing overhead {layers['trace.overhead_frac']:+.3f} of warm_pass_s; "
              f"build.share {layers['build.share']:.3f}; exec.core_util "
              f"{layers['exec.core_util']:.3f}; queries that leave storage held: {held}; "
              f"spans in {os.path.join(records, tag + '.spans.jsonl')}", file=sys.stderr)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(1 if wrong else 0)


if __name__ == "__main__":
    main()
