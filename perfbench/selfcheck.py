#!/usr/bin/env python3
"""Self-check of the benchmark's output contract and seed handling.

Usage (from the root of a checkout):

    python3 perfbench/selfcheck.py --workload llm_pipeline --seeds 1,2 --seconds 4

For each seed it runs perfbench/run.py with tracing off and then

  * reads the command's stdout the way a harness that keeps only a tail
    does: the last 2000 bytes, the last line that starts with '{';
  * checks that line is bare JSON with exactly the keys correct,
    attempted, failed and metrics, and that every end-to-end metric of
    BENCHMARK.json is there by name, with its unit and a positive value.

Across the seeds it checks, from the run records, that each seed was
recorded, that every seed ran the same query set, and that every query
had the same correctness outcome. Exits 1 on any violation.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def tail_record(stdout: bytes) -> dict:
    tail = stdout[-2000:].decode("utf-8", "replace")
    lines = [l for l in tail.splitlines() if l.startswith("{")]
    if not lines:
        raise ValueError("no line starting with '{' in the last 2000 bytes")
    return json.loads(lines[-1])


def check_line(rec: dict, e2e: list) -> list:
    errs = []
    if set(rec) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"keys are {sorted(rec)}")
    if not (isinstance(rec.get("attempted"), int) and rec["attempted"] >= 1):
        errs.append("attempted is not a whole number >= 1")
    for m in e2e:
        got = rec.get("metrics", {}).get(m["name"])
        if got is None:
            errs.append(f"metric {m['name']} missing")
        elif got.get("unit") != m["unit"]:
            errs.append(f"metric {m['name']} unit {got.get('unit')} != {m['unit']}")
        elif not (isinstance(got.get("value"), (int, float)) and got["value"] > 0):
            errs.append(f"metric {m['name']} value {got.get('value')} is not positive")
    return errs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--seconds", default="4")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    errs, records = [], {}
    for seed in a.seeds.split(","):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", seed, "--seconds", a.seconds,
                            "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE)
        if p.returncode != 0:
            errs.append(f"seed {seed}: run.py exited {p.returncode}")
        try:
            errs += [f"seed {seed}: {e}" for e in check_line(tail_record(p.stdout), bench["end_to_end"])]
        except ValueError as e:
            errs.append(f"seed {seed}: {e}")
        path = os.path.join(bdir, "records", f"{a.workload}-seed{seed}-trace0.json")
        records[seed] = json.load(open(path))
        if str(records[seed]["seed"]) != seed:
            errs.append(f"seed {seed}: record carries seed {records[seed]['seed']}")
    base_seed, base = next(iter(records.items()))
    for seed, r in records.items():
        if sorted(r["queries"]) != sorted(base["queries"]):
            errs.append(f"seeds {base_seed} and {seed} ran different query sets")
        ok = {n: v is None for n, v in r["outcome"].items()}
        if ok != {n: v is None for n, v in base["outcome"].items()}:
            errs.append(f"seeds {base_seed} and {seed} differ in correctness outcome")
    for e in errs:
        print(f"selfcheck: {e}", file=sys.stderr)
    print(f"selfcheck: {a.workload} seeds {a.seeds}: {'FAIL' if errs else 'ok'}")
    sys.exit(1 if errs else 0)


if __name__ == "__main__":
    main()
