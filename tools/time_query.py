#!/usr/bin/env python
"""Time declared queries in isolation with the noop sink.

Usage:
    python tools/time_query.py q_llm_repetition [q_...] [--n 3] [--sf-dir D]

Per guide §1.4: each draw fully executes the plan into the noop sink.
First draw is reported separately (codegen/JIT compile premium); the
min/median over the remaining draws is the plan cost. Next to each draw's
wall time the tool prints how many generated classes Catalyst compiled for
it and the compile ms (``CodegenMetrics``/``CodeGenerator`` counters, the
whole JVM): a warm draw that still compiles means the compiled-class cache
is evicting. Timings are box-load-sensitive — run on an idle box.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--n", type=int, default=3, help="timed draws after the first")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from join_example_spark.conf import build_local_session, codegen_compile_ms, codegen_compiles
    from join_example_spark.registry import load_all

    spark = build_local_session(
        app_name="time-query", cores=args.cores, shuffle_partitions=int(args.cores)
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    for name in args.queries:
        spec = registry[name]
        draws, compiles, compile_ms = [], [], []
        for i in range(args.n + 1):
            spark.sparkContext.setJobDescription(f"{name} draw {i}")
            c0, ms0 = codegen_compiles(spark), codegen_compile_ms(spark)
            t0 = time.perf_counter()
            df = spec.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            draws.append(round(time.perf_counter() - t0, 3))
            compiles.append(codegen_compiles(spark) - c0)
            compile_ms.append(round(codegen_compile_ms(spark) - ms0))
        rest = draws[1:]
        print(
            f"{name}: first={draws[0]}s warm_min={min(rest)}s "
            f"warm_med={round(statistics.median(rest), 3)}s draws={draws} "
            f"codegen_compiles={compiles} codegen_ms={compile_ms}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
