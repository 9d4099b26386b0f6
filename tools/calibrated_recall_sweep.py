"""Calibrate the 0.85-recall IVF dial schedule (round-8 deliverable,
VERDICT r7 task #5): the ADAPTIVE schedule (constant probed fraction)
overshoots to recall ~1.0 at the 8x/64x tiers, paying the full
Theta(n^1.5 * frac^2) candidate budget; a deployment would calibrate the
fraction DOWN with n to sit at a recall target instead. This tool sweeps
nprobe at the rotation-enlarged tiers and reports (recall, work_pairs)
per dial so the shipped ``target_recall`` schedule constants are
measured, not guessed.

Usage:  python tools/calibrated_recall_sweep.py
Env:    SPARK_GRAFT_PROBE_COPIES=8,64    tier multipliers
        SPARK_GRAFT_SWEEP_NPROBES=...    per-tier comma/colon list, e.g.
                                         "6,8,10,15:10,14,20,40"
                                         (defaults below)
        SPARK_GRAFT_SWEEP_IMI_TS=...     sweep the IMI product-cell beam
                                         instead: per-tier T lists, e.g.
                                         "14,18,32:30,39,124"; p is
                                         derived as max(4, ceil(sqrt(T)))
                                         (the top-T selection needs p^2
                                         >= T candidates)

Protocol identical to the adaptive-dial tier probe of SCALE.md §3.10
(same ground truth: exact rounded dots of a 1% probe sample vs the corpus
at sim >= 0.35; recall via cell-set overlap without materializing the
join; work audit via the cell-occupancy histogram).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = [int(x) for x in os.environ.get("SPARK_GRAFT_PROBE_COPIES", "8,64").split(",")]
DEFAULT_SWEEP = {8: [6, 8, 10, 15], 64: [10, 14, 20, 28, 40]}
PROBE_MOD = 100
THRESHOLD = 0.35


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from join_example_spark.conf import ensure_session_confs
    from join_example_spark.operators.similarity import (
        DOT_SQL,
        imi_c_per_half,
        imi_cells,
        ivf_cells,
    )

    imi_env = os.environ.get("SPARK_GRAFT_SWEEP_IMI_TS", "")
    sweep_env = os.environ.get("SPARK_GRAFT_SWEEP_NPROBES", "")
    if imi_env:
        sweeps = {
            c: [int(t) for t in part.split(",")]
            for c, part in zip(COPIES, imi_env.split(":"))
        }
    elif sweep_env:
        sweeps = {
            c: [int(p) for p in part.split(",")]
            for c, part in zip(COPIES, sweep_env.split(":"))
        }
    else:
        sweeps = {c: DEFAULT_SWEEP.get(c, [5, 10, 20]) for c in COPIES}

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ensure_session_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n0 = base.count()
    results = {}

    for copies in COPIES:
        big = base
        for k in range(1, copies):
            r = k % 63 + 1  # cyclic rotation isometry, never identity
            big = big.union(
                base.select(
                    (F.col("vec_id") + F.lit(k * n0)).alias("vec_id"),
                    F.expr(
                        f"concat(slice(embedding, {r + 1}, {64 - r}),"
                        f" slice(embedding, 1, {r}))"
                    ).alias("embedding"),
                    F.col("label"),
                )
            )
        big = big.repartition(32).localCheckpoint(eager=True)
        n = big.count()
        c = int(math.ceil(math.sqrt(n)))

        probes = big.where(F.col("vec_id") % PROBE_MOD == 0).select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a")
        )
        dot = F.expr(DOT_SQL.format(a="vec_a", b="vec_b"))
        truth = (
            big.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
            .crossJoin(F.broadcast(probes))
            .where(F.col("id_a") < F.col("id_b"))
            .where(F.round(dot, 4) >= THRESHOLD)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
        n_true = truth.count()
        print(f"tier {copies}x: n={n} C={c} true_pairs={n_true}", file=sys.stderr)

        for p in sweeps[copies]:
            t0 = time.perf_counter()
            if imi_env:
                t_cells = p  # in IMI mode the swept dial is T
                ph = max(4, int(math.ceil(math.sqrt(t_cells))))
                mk = imi_cells(
                    big,
                    c_per_half=imi_c_per_half(n),
                    nprobe_half=ph,
                    nprobe_cells=t_cells,
                )
            else:
                mk = ivf_cells(big, n_centroids=c, nprobe=p)
            cell_sets = (
                mk.groupBy("vec_id")
                .agg(F.collect_set("cell").alias("cells"))
                .localCheckpoint(eager=True)
            )
            hits = (
                truth.join(
                    cell_sets.select(
                        F.col("vec_id").alias("id_a"), F.col("cells").alias("ca")
                    ),
                    "id_a",
                )
                .join(
                    cell_sets.select(
                        F.col("vec_id").alias("id_b"), F.col("cells").alias("cb")
                    ),
                    "id_b",
                )
                .where(F.arrays_overlap("ca", "cb"))
                .count()
            )
            occ = (
                cell_sets.select(F.explode("cells").alias("cell"))
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("o"))
                .agg(F.sum(F.expr("o * o")).alias("w"))
                .collect()[0]["w"]
            )
            secs = round(time.perf_counter() - t0, 1)
            rec = round(hits / max(n_true, 1), 4)
            results[f"{copies}x_p{p}"] = {
                "n": n,
                "C": c,
                "nprobe": p,
                "frac": round(p / c, 4),
                "recall_pairs": rec,
                "work_pairs": int(occ // 2),
                "sec": secs,
            }
            print(
                f"  p={p} (frac {p / c:.3f}): recall={rec}"
                f" work_pairs={occ // 2:,} ({secs}s)",
                file=sys.stderr,
            )

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
