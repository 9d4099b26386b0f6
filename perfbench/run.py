"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds its inputs from ``--seed``, drives one
workload for ``--seconds`` of measurement, checks every result against an
independent DuckDB computation and prints one JSON object as the last line
of stdout. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run. Everything the run writes stays
under ``.perfbench_work/`` in the current directory and is removed at exit.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

END_TO_END = {"setup_s": "s", "suite_s": "s", "lat_p50_s": "s", "lat_p90_s": "s"}

#: Per-layer metrics and their units. Metrics of a layer a workload does
#: not reach are reported as 0 there (see the two sets below).
PER_LAYER = {
    "build_s": "s", "build_jobs": "count", "build_stages": "count",
    "build_share": "ratio", "graph_loop_s": "s", "graph_loop_calls": "count",
    "graph_loop_rounds": "count", "read_calls": "count", "read_s": "s",
    "input_bytes": "bytes", "input_rows": "rows", "plan_s": "s", "exec_s": "s",
    "exec_jobs": "count",
    "stages": "count", "tasks": "count", "executor_run_ms": "ms",
    "executor_cpu_ms": "ms", "jvm_gc_ms": "ms", "cpu_busy_share": "ratio",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "batches": "count", "trigger_ms_p50": "ms",
    "add_batch_ms_p50": "ms", "query_planning_ms_p50": "ms",
    "latest_offset_ms_p50": "ms", "wal_commit_ms_p50": "ms",
    "commit_offsets_ms_p50": "ms", "rows_per_batch_p50": "rows",
    "state_rows_max": "rows", "state_mem_bytes_max": "bytes",
    "rows_dropped_by_watermark": "rows", "backlog_files_max": "count",
    "gen_lag_max_s": "s", "trace_overhead_frac": "ratio",
    "output_rows": "rows",
}
STREAM_ONLY = {
    "batches", "trigger_ms_p50", "add_batch_ms_p50", "query_planning_ms_p50",
    "latest_offset_ms_p50", "wal_commit_ms_p50", "commit_offsets_ms_p50",
    "rows_per_batch_p50", "state_rows_max", "state_mem_bytes_max",
    "rows_dropped_by_watermark", "backlog_files_max", "gen_lag_max_s",
}
BATCH_ONLY = {"plan_s", "build_share", "trace_overhead_frac"}

WORKLOADS = ("relational_batch", "iterative_build", "stream_interval_join")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work_dir = os.path.join(root, ".perfbench_work", f"{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"))
    # Spark's launcher and the JVM put scratch files under the temp dir.
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    # The launcher JVM that spark-submit starts would otherwise write its
    # performance-data file to /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, root)
    try:
        if args.workload == "stream_interval_join":
            import stream

            out = stream.run(args.seed, args.seconds, bool(args.trace), work_dir)
            not_here = BATCH_ONLY
        else:
            import batch

            out = batch.run(args.workload, args.seed, args.seconds, bool(args.trace), work_dir)
            not_here = STREAM_ONLY
    finally:
        if "pyspark" in sys.modules:
            import harness

            harness.shutdown_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass

    if args.trace:
        layers = out["layers"]
        metrics = {}
        for name, unit in PER_LAYER.items():
            value = 0.0 if name in not_here else layers[name]
            metrics[name] = {"value": float(value), "unit": unit}
    else:
        metrics = {name: {"value": float(out["metrics"][name][0]), "unit": unit}
                   for name, unit in END_TO_END.items()}
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
