#!/usr/bin/env python3
"""graft's benchmark: one seeded command over two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Builds graft and the harness from source
(`build.py`, reused while sources are unchanged), makes the workload's
inputs from the seed, runs it in one JVM on `local[<cpus>]`, checks
every operation's outputs, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see README.md).

Workloads:
  reindex_churn   full `Indexer.run` after ~1% of leaf dirs churned
  query_headline  the 19 headline queries via `SparkEntry.queries`
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

DEADLINE_S = 170.0
# scale factor of query_headline's tables (0.1 = 600,000 lineitem rows)
QUERY_SF = {"standard": 0.01, "tiny": 0.002}
STEPS = ["scan_merge_write", "deletion_reconcile", "link_refresh", "rollup",
         "bulk_index", "bulk_delete", "unlabeled"]
PIPELINE_LAYERS = {}
for _s in STEPS:
    for _m, _u in (("wall_s", "s"), ("task_s", "s"), ("shuffle_mb", "MB"),
                   ("spill_mb", "MB")):
        PIPELINE_LAYERS[f"pipeline.step.{_s}.{_m}"] = _u
PIPELINE_LAYERS.update({
    "pipeline.links.fetch_calls": "count",
    "pipeline.links.fetch_per_changed_file": "ratio",
    "pipeline.links.next_run_fetch_calls": "count",
    "pipeline.scoped.publish_s": "s",
    "sources.scan_s": "s", "sources.entries_per_s": "1/s",
    "sources.subtree_scan_s": "s",
    "sinks.es.items": "count", "sinks.es.bulk_calls": "count",
    "sinks.es.mb_sent": "MB", "sinks.es.failed": "count",
    "sinks.es.busy_s": "s", "sinks.es.items_per_changed_entry": "ratio",
    "sinks.store.read_mor_s": "s", "sinks.store.mor_log_entries": "count",
    "sinks.store.mor_log_mb": "MB", "sinks.store.bytes_written_mb": "MB",
    "sinks.store.snapshot_files": "count",
    "sinks.store.bytes_per_entry": "B",
    "spark.jobs": "count",
})


def per_layer(headline):
    """Every per-layer metric and its unit; the per-query ones follow the
    headline list the harness reports (`Queries.names`)."""
    m = dict(PIPELINE_LAYERS)
    for q in headline:
        m[f"operators.query.{q}_s"] = "s"
        m[f"operators.query.{q}.shuffle_mb"] = "MB"
    m.update({"jvm.gc_s": "s", "jvm.peak_rss_mb": "MB"})
    return m


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pct_summary(xs):
    """Sample count, median, and the highest of p99/p90/p75 that has at
    least ten samples beyond it (none below 40 samples)."""
    s = sorted(xs)
    out = {"n": len(s), "median": statistics.median(s) if s else None}
    for p in (99, 90, 75):
        if len(s) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = s[min(len(s) - 1, int(len(s) * p / 100))]
            break
    return out


def run_jvm(cp, args, work, timeout):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap: G1 shrinks a growable one after each System.gc(),
    # and some runs then spent 10x the usual time in GC
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-XX:ActiveProcessorCount=%d" % cpus(),
            "-cp", cp, "graftbench.Bench"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"benchmark JVM exceeded {timeout:.0f} s")
        finally:
            # never leave the JVM behind: timeout, error or SIGTERM
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {rc}:\n{tail}")


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["reindex_churn", "query_headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # for the self-test: smaller inputs and injected faults
    ap.add_argument("--size", default="standard", choices=list(QUERY_SF))
    ap.add_argument("--fault", default="none",
                    choices=["none", "drop", "4xx"])
    ap.add_argument("--wrong-digest", default="")
    a = ap.parse_args(argv)

    root = os.getcwd()
    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    try:
        cp = build.ensure(root, build_dir)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    t_built = time.monotonic()

    work = os.path.join(os.path.abspath(build_dir), "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    # a traced run's spans outlive its work dir
    spans = os.path.join(os.path.abspath(build_dir), "spans",
                         f"{a.workload}-{a.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs_s = None
        jargs = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", work, "--out", os.path.join(work, "raw.json"),
                 "--spans", spans,
                 "--size", a.size, "--fault", a.fault]
        if a.workload == "query_headline":
            import gen_tables
            # the inputs, as the fixture tables would be: not graft's
            # work, so not part of setup_s
            t0 = time.monotonic()
            gen_tables.generate(os.path.join(work, "tables"), a.seed,
                                QUERY_SF[a.size])
            inputs_s = time.monotonic() - t0
            jargs += ["--tables", os.path.join(work, "tables")]
        budget = DEADLINE_S - (time.monotonic() - t_built) - 20
        run_jvm(cp, jargs, work, budget)
        with open(os.path.join(work, "raw.json")) as f:
            raw = json.load(f)

        ops = raw["ops_s"]
        attempted, failed = len(ops), raw["failed_ops"]
        failures = list(raw["failures"])
        es_failed = sum(raw["info"].pop("es_failed_items", []))
        info = {k: statistics.median(v) for k, v in raw["info"].items() if v}
        info["setup_parts_s"] = {"session": raw["session_s"],
                                 "tree": raw["extra"].get("tree_s"),
                                 "body": raw["setup_body_s"],
                                 "warmup": raw["warmup_s"]}
        headline = raw["headline"]
        if a.workload == "query_headline":
            import oracle
            info["inputs_s"] = inputs_s
            times = raw["extra"]["query_times"]
            verdict = oracle.check(
                os.path.join(work, "tables"), raw["extra"]["outputs"],
                raw["extra"]["oracle_sql"], headline,
                corrupt=set(filter(None, a.wrong_digest.split(","))))
            for q, why in verdict.items():
                if why:
                    failures.append(f"{q}: {why}")
                    failed += len(times[q])
            op_s = sum(statistics.median(times[q]) for q in headline)
            info["headline_total_s"] = op_s
            info["query_median_s"] = {
                q: round(statistics.median(times[q]), 4) for q in headline}
            info["query_warmup_s"] = {
                q: round(v, 4) for q, v in raw["extra"]["warmup_times"].items()}
            setup_s = raw["session_s"] + \
                statistics.median(raw["setup_body_s"]) + raw["warmup_s"]
        else:
            op_s = statistics.median(ops)
            setup_s = raw["session_s"] + float(raw["extra"]["tree_s"]) + \
                statistics.median(raw["setup_body_s"]) + raw["warmup_s"]
        failed = min(failed, attempted)
        info["failed_op_frac"] = (failed + es_failed) / attempted
        summary = {"workload": a.workload, "seed": a.seed,
                   "cpus": raw["cpus"], "measured_s": raw["measured_s"],
                   "ops": pct_summary(ops), "ops_s": [round(x, 4) for x in ops],
                   "info": info,
                   "failures": failures[:10]}
        print("perfbench: " + json.dumps(summary, sort_keys=True))
        if a.trace:
            layers = dict(raw["layers"])
            if "sinks.store.bytes_per_entry" not in layers:
                layers["sinks.store.bytes_per_entry"] = info.get(
                    "store_bytes_per_entry", 0.0)
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in per_layer(headline).items()}
        else:
            metrics = {"op_s": {"value": op_s, "unit": "s"},
                       "setup_s": {"value": setup_s, "unit": "s"}}
        print(json.dumps({"correct": failed == 0 and attempted > 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    except Exception as e:
        print(f"perfbench: {a.workload} failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
