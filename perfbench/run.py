#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload backfill|serve|ingest --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
timed phase in one JVM (perfbench/src), checks the outputs
(perfbench/check.py), prints a report (every metric with its unit and sample
count) and, as the last line, {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, measured from spans, a SparkListener, streaming progress and
the engine's BenchProbe phases. Exits non-zero if an output check fails.

The work dir is perfbench/_work/<workload>-s<seed>-t<trace>; a traced run
leaves its spans there in spans.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Inputs per workload (gen.DIMS, the sf0.1 fixture's shape, fills the rest).
# The tape is half the fixture's 100k ticks, so that one run, set-up and
# checks included, stays inside a minute on 4 cores; half the symbols keep
# the fixture's ticks per symbol.
WORKLOADS = {
    "backfill": {"ticks": 50_000, "symbols": 750, "requests": 0},
    "serve": {"ticks": 50_000, "symbols": 750, "entities": 0},
    "ingest": {"ticks": 0},
}
# ingest lands a fixed number of files, whatever the engine's speed: the
# JVM's two warm-up files (IngestLoad.WarmupFiles), then one per
# INGEST_BATCH_S seconds of --seconds, the mean batch time (landing to both
# commits, 4.1-4.8 s) measured on 4 cores.
INGEST_WARMUP_FILES = 2
INGEST_BATCH_S = 4.4

END_TO_END = [("setup_s", "s"), ("live_heap_mb", "MB"), ("ops_per_s", "1/s"),
              ("op_p50_ms", "ms")]

_FEATURES = ["ohlc_1m", "vwap_5m", "imbalance_5m", "sma20", "volatility_1h",
             "ewm12", "spread", "regime", "large_trades"]
_PHASES = ["trigger", "add_batch", "query_planning", "wal_commit",
           "commit_offsets", "latest_offset", "get_batch"]
PER_LAYER = (
    [("core.load_s", "s")]
    + [(f"features.{f}_s", "s") for f in _FEATURES]
    + [("asof.retrieve_s", "s"), ("asof.snapshot_call_ms", "ms"),
       ("asof.snapshot_plan_ms", "ms"), ("asof.snapshot_exec_ms", "ms"),
       ("sources.read_filtered_ms", "ms"), ("sources.dirs_admitted_ratio", "ratio"),
       ("sources.commit_write_s", "s/op"), ("sources.commit_stats_s", "s/op"),
       ("sources.append_ms", "ms"), ("sources.merge_mor_ms", "ms"),
       ("sources.merge_mor_growth", "ratio"), ("sources.maintenance_ms", "ms"),
       ("sources.maintenance_rewritten_mb", "MB"), ("sources.files_written", "count"),
       ("sources.stored_per_input", "ratio")]
    + [(f"streaming.{q}.{p}_ms", "ms") for q in ("upsert", "cep") for p in _PHASES]
    + [(f"streaming.{q}.{k}", "count") for q in ("upsert", "cep")
       for k in ("batches", "no_data_batches")]
    + [("streaming.cep.state_rows", "count"), ("streaming.cep.state_mb", "MB"),
       ("streaming.cep.state_commit_ms", "ms")]
    + [(f"spark.{k}", u) for k, u in [
        ("cpu_s", "s/op"), ("gc_s", "s/op"), ("shuffle_read_mb", "MB/op"),
        ("shuffle_write_mb", "MB/op"), ("input_mb", "MB/op"), ("output_mb", "MB/op"),
        ("spill_mb", "MB/op"), ("jobs", "count/op"), ("stages", "count/op"),
        ("tasks", "count/op"), ("read_stages", "count"), ("read_tasks", "count")]]
    + [("bench.reader_late_ms", "ms")]
)

# the JVM's own time beyond --seconds: start, set-up, checks, stop
JVM_SLACK_S = 120
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def say(line):
    print(line, flush=True)


def run_jvm(cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()  # not set-up: a checkout builds once

    work = os.path.join(HERE, "_work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    in_dir = os.path.join(work, "in")
    dims = dict(WORKLOADS[a.workload])
    if a.workload == "ingest":
        dims["files"] = INGEST_WARMUP_FILES + max(2, round(a.seconds / INGEST_BATCH_S))
    t_gen = time.time()
    meta = gen.generate(a.seed, in_dir, dims)
    gen_s = time.time() - t_gen
    say(f"# workload {a.workload} seed {a.seed} seconds {a.seconds:g} trace {a.trace}")
    say("# inputs " + json.dumps(meta["dims"], sort_keys=True))

    t_launch = time.time()
    code = run_jvm(cp, ["--workload", a.workload, "--in", in_dir, "--work", work,
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--cpus", str(os.cpu_count() or 1)],
                   work, a.seconds + JVM_SLACK_S)
    res_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed (exit {code})")
    with open(res_path) as fh:
        res = json.load(fh)

    report = res["report"]
    report["setup_s"] = {"value": gen_s + res["first_op_epoch_ms"] / 1e3 - t_launch,
                         "unit": "s", "n": 1}
    att, fail = res["attempted"], res["failed"]
    report["fail_ratio"] = {"value": fail / max(att, 1), "unit": "ratio", "n": att}

    checks = list(res["checks"])
    extra = res["extra"]
    if a.workload == "backfill":
        checks += check.backfill(in_dir, extra["oracle_checks"])
    if a.workload == "ingest":
        with open(os.path.join(in_dir, "wire_book.json")) as fh:
            checks += check.ingest(json.load(fh), extra)
    correct = bool(checks) and all(c["ok"] for c in checks)

    for name in sorted(report):
        m = report[name]
        say(f"metric {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    if "late_probes" in extra:
        lp = extra["late_probes"]
        say(f"# late-listing probes (untimed): {lp['failed']}/{lp['attempted']} failed"
            + (f"; first error: {lp['first_error']}" if lp["first_error"] else ""))
    for c in checks:
        say(f"check {'ok' if c['ok'] else 'FAILED'}: {c['name']} -- {c['detail'][:300]}")

    if a.trace:
        layer = res["per_layer"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        for n, u in PER_LAYER:
            say(f"layer {n} = {metrics[n]['value']:.6g} {u}")
    else:
        metrics = {n: {"value": report[n]["value"], "unit": u} for n, u in END_TO_END}
    with open(os.path.join(work, "summary.json"), "w") as fh:
        json.dump({"report": report, "per_layer": res["per_layer"], "checks": checks}, fh)

    # the inputs and tables are large; the result, summary and spans stay
    for d in ("in", "tables", "check", "ckpt", "landing", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    print(json.dumps({"correct": correct, "attempted": att, "failed": fail,
                      "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
