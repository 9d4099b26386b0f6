#!/usr/bin/env python
"""Interleaved A/B: plain min-label CC vs star-contraction CC inside the
two declared clustering consumers (round 16, OPTIMIZATION_r16.md 7b).

Per query: full-collect result-equality check first (both formulations
label every node with the minimum reachable id — the swap is only legal
because this holds), then one discarded warm draw per variant, then
3 x A,B followed by 3 x B,A (the 8c03dfc reverse-then-interleave
protocol). Measured verdict (on the pre-swap tree): star won BOTH
orders in q_llm_cluster_dbscan (4.94/4.98 vs 5.43/5.42 med), plain won
BOTH orders in q_llm_cluster_quality (4.45/4.57 vs 5.03/5.04) — the
swap was applied to dbscan only.

Both registry names are monkeypatched per variant (A forces the plain
loop, B forces star) so the A/B reproduces the same experiment
regardless of which formulation each query's source currently calls.

Usage: python tools/cc_swap_ab.py
"""
import os, sys, time, statistics
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from join_example_spark.conf import build_local_session
import join_example_spark.operators.graph as g
from join_example_spark.registry import load_all

spark = build_local_session(app_name="cc-swap-ab", cores="32", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
reg = load_all()
SF = "/root/testdata/sf0.1"
plain, star = g.connected_components, g.connected_components_star


def use(variant):
    """Force BOTH registry names to one formulation (A=plain, B=star)."""
    impl = plain if variant == "A" else star
    g.connected_components = impl
    g.connected_components_star = impl


def draw(q):
    t0 = time.perf_counter()
    reg[q].fn(spark, SF).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


try:
    for q in ("q_llm_cluster_dbscan", "q_llm_cluster_quality"):
        # result equality check once
        use("A")
        rows_a = sorted(map(tuple, reg[q].fn(spark, SF).collect()))
        use("B")
        rows_b = sorted(map(tuple, reg[q].fn(spark, SF).collect()))
        print(q, "rows_equal", rows_a == rows_b, len(rows_a), flush=True)
        # interleave: discard one warm each, then A,B,A,B then B,A,B,A
        use("A"); draw(q)
        use("B"); draw(q)
        res = {"A": [], "B": []}
        for order in ("AB", "BA"):
            blk = {"A": [], "B": []}
            for _ in range(3):
                for v in order:
                    use(v)
                    blk[v].append(draw(q))
            print(q, order, "A(plain)", blk["A"], "B(star)", blk["B"],
                  "medA", statistics.median(blk["A"]), "medB", statistics.median(blk["B"]), flush=True)
            res["A"] += blk["A"]; res["B"] += blk["B"]
        print(q, "OVERALL medA", statistics.median(res["A"]), "medB", statistics.median(res["B"]), flush=True)
finally:
    # restore BOTH module names even when a draw or the check raises
    g.connected_components, g.connected_components_star = plain, star
    spark.stop()
