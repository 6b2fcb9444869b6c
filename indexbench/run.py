#!/usr/bin/env python3
"""Indexer benchmark of record.

    python3 indexbench/run.py --workload backfill|explorer --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the indexer and the benchmark
(`build.py`), runs one workload in a JVM with Spark at local[nproc],
checks the outputs against the batch path, and prints one JSON line:
with `--trace 0` the end-to-end metrics of BENCHMARK.json, with
`--trace 1` its per-layer metrics. The spans of a traced run are written
to `.bench_build/traces/`. See README.md in this directory.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

import build
import stats

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
BUILD = REPO / ".bench_build"
WORKLOADS = ("backfill", "explorer")
JVM_TIMEOUT_S = 170


def end_to_end(raw):
    """End-to-end metrics from the JVM's raw samples."""
    wh = raw["warehouse"]
    m = {
        "setup_s": stats.median(raw["setup_s"]),
        "warehouse_bytes_per_input_byte": wh["bytes"] / raw["input_bytes"],
    }
    if raw["workload"] == "backfill":
        m["throughput_per_s"] = raw["blocks"] / stats.median(raw["backfill_s"])
    else:
        # Closed loop: the clients' sustained rate at the nominal mix.
        m["throughput_per_s"] = raw["clients"] / stats.mix_weighted_latency(raw["queries"], raw["mix"])
    return m


def per_layer(raw):
    """Per-layer metrics from the JVM's raw samples of a traced run."""
    lay = dict(raw["layers"])
    m = {k: v for k, v in lay.items() if not isinstance(v, list)}
    m["trace.overhead_ratio"] = trace_overhead(raw)
    m["stream.batches"] = len(lay["stream.batch_s"])
    m["stream.blocks_per_batch_p50"] = stats.median(lay["stream.blocks_per_batch"])
    m["stream.batch_s_p50"] = stats.median(lay["stream.batch_s"])
    m["stream.batch_s_max"] = max(lay["stream.batch_s"])
    m["stream.spark_jobs_per_batch"] = stats.median(lay["stream.spark_jobs_per_batch"])
    m["stream.overhead_s_per_batch"] = stats.median(lay["stream.overhead_s"])
    queries = raw["queries"]
    for t in raw["mix"]:
        m[f"query.{t}_s"] = stats.median([s for q, s in queries if q == t])
    m["query.samples"] = len(queries)
    lat = [s for _, s in queries]
    tail = stats.tail(lat)
    m["query.tail_percentile"] = tail[0] if tail else 50.0
    m["query.tail_s"] = tail[1] if tail else stats.median(lat)
    return m


def trace_overhead(raw):
    """The timed part traced over the same part untraced, both in the
    traced run: the backfill pass time, or the explorer's mix latency."""
    if raw["workload"] == "backfill":
        return stats.median(raw["backfill_s"]) / stats.median(raw["backfill_untraced_s"])
    return (stats.mix_weighted_latency(raw["queries"], raw["mix"])
            / stats.mix_weighted_latency(raw["queries_untraced"], raw["mix"]))


def declared(trace):
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    build.build()
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    root = BUILD / "runs" / tag
    out = root / "result.json"
    log = BUILD / "logs" / f"{tag}.log"
    (root / "tmp").mkdir(parents=True, exist_ok=True)
    log.parent.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + build.java_opens() + [
        "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={root / 'tmp'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join(build.classpath()), "indexbench.Main", "run",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--root", str(root), "--out", str(out),
        "--trace-out", str(BUILD / "traces" / f"{args.workload}-{args.seed}.jsonl"),
    ])
    try:
        with open(log, "w") as lf:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not out.exists():
            sys.stderr.write(log.read_text()[-4000:])
            raise SystemExit(f"run: JVM exited with {r.returncode}; log in {log}")
        raw = json.loads(out.read_text())
    finally:
        shutil.rmtree(root, ignore_errors=True)

    values = per_layer(raw) if args.trace else end_to_end(raw)
    metrics = {}
    for spec in declared(args.trace):
        v = values.get(spec["name"])
        if v is None or not math.isfinite(v):
            raise SystemExit(f"run: metric {spec['name']} was not measured")
        metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
    failures = raw["failures"]
    for f in failures:
        sys.stderr.write(f"FAILED: {f}\n")
    print(json.dumps({"correct": not failures, "attempted": raw["attempted"],
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
