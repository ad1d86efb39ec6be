#!/usr/bin/env python3
"""Self-test of the benchmark: broken outputs must count as failures.

    python3 perfbench/selftest.py

Run from the repository root (about four minutes on 4 cores). Uses the
small `tiny` inputs. Checks that

  * a clean run is `correct` with no failed operation;
  * an Elasticsearch transport that drops half of each bulk call's
    items, or rejects every tenth item with a 400, makes operations
    fail: the result says `correct: false`, `failed > 0`;
  * a wrong expected oracle digest for one query fails that query's
    operations the same way;
  * the metric names `run.py` prints are exactly BENCHMARK.json's, the
    end-to-end ones untraced and the per-layer ones traced;
  * in a directory holding only BENCHMARK.json and this package (no
    graft sources to build) the benchmark exits non-zero without
    printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def bench(*args, cwd=None, trace=0):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny", *args],
        capture_output=True, text=True, cwd=cwd, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        res = None
    return p.returncode, res, p.stderr


def main():
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rc, res, err = bench("--workload", "reindex_churn")
    expect(rc == 0 and res and res["correct"] and res["failed"] == 0,
           f"clean reindex_churn run is correct ({res})")
    expect(res is not None and set(res["metrics"]) ==
           {m["name"] for m in spec["end_to_end"]},
           "end-to-end metric names match BENCHMARK.json")
    for fault in ("drop", "4xx"):
        rc, res, err = bench("--workload", "reindex_churn", "--fault", fault)
        expect(rc == 0 and res and not res["correct"] and res["failed"] > 0,
               f"transport fault '{fault}' is reported as failed ops ({res})")
    rc, res, err = bench("--workload", "query_headline",
                         "--wrong-digest", "q1_pricing_summary", trace=1)
    expect(rc == 0 and res and not res["correct"] and res["failed"] >= 1
           and res["failed"] < res["attempted"],
           f"a wrong expected digest fails that query's ops "
           f"({res and {k: res[k] for k in ('correct', 'attempted', 'failed')}})")
    expect(res is not None and set(res["metrics"]) ==
           {m["name"] for m in spec["per_layer"]},
           "per-layer metric names match BENCHMARK.json")

    bare = os.path.join(os.path.abspath(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build")), "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res, err = bench("--workload", "reindex_churn", cwd=bare)
        expect(rc != 0 and res is None,
               f"without graft sources: exit {rc}, no result line")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print("self-test " + ("passed" if not problems else
                          f"FAILED: {len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
