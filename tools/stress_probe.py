"""Nx stress probe (SCALE.md sections 3.2-3.4): measure which operators
absorb a synthetic Nx data enlargement and which pay quadratically for it.

Usage:  python tools/stress_probe.py [query ...]
Env:    SPARK_GRAFT_PROBE_COPIES=N   tier multiplier (default 8; round 5
                                     added the 64x tier for the semantic-
                                     dedup candidate-fraction claim)
        SPARK_GRAFT_PROBE_CANDFRAC=1 additionally measure the semantic-
                                     dedup default's candidate fraction
                                     (work pairs via the cell histogram,
                                     distinct pairs, int8-screen
                                     survivors) at the probe tier
        SPARK_GRAFT_PROBE_IMI=1      measure IMI-vs-IVF candidate scaling
                                     on a rotation-enlarged DISTINCT
                                     corpus (SCALE.md §3.5 — saturated
                                     tiers contract away and cannot show
                                     the n-growth trend)

Builds Nx embeddings/documents/events tables (the sf0.1 rows unioned with
N-1 id-shifted copies — near-dup-saturated, the adversarial case for
candidate generation; events keep their time axis so windows densify Nx
and copies get disjoint user ids so distinct counts grow), copies the
relational tables as-is, then times each named query once at sf0.1 and
once at Nx in the same warm session (noop sink — full materialization)
and prints name, both timings, and the ratio. The default query list is
the embedding family whose scale posture SCALE.md documents. Timings go
to stdout as one JSON line; everything else stderr.

This is the committed version of the ad-hoc probe used in rounds 3-4 so
the SCALE.md numbers stay reproducible.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "q_llm_pq_quantize",
    "q_llm_sim_pq_adc",
    "q_llm_decontaminate_semantic",
    "q_llm_dedup_semantic",
]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SPARK_GRAFT_PROBE_COPIES", "8"))
PROBE_DIR = os.environ.get(
    "SPARK_GRAFT_PROBE_DIR", f"/tmp/spark_graft_probe{COPIES}x"
)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from join_example_spark.conf import ensure_session_confs
    from join_example_spark.registry import load_all

    names = sys.argv[1:] or DEFAULT_QUERIES
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
    reg = load_all()

    os.makedirs(PROBE_DIR, exist_ok=True)

    def enlarge(table: str, id_col: str, shift_cols: dict[str, str] | None = None):
        """Union COPIES id-shifted copies of a fixture table (near-dup-
        saturated — adversarial for dedup). ``shift_cols`` maps extra
        columns to shift expressions templated on {k} and {n}."""
        df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        n = df.count()
        big = df
        for k in range(1, COPIES):
            cols = []
            for c in df.columns:
                if c == id_col:
                    cols.append((F.col(c) + F.lit(k * n)).alias(c))
                elif shift_cols and c in shift_cols:
                    cols.append(
                        F.expr(shift_cols[c].format(k=k, n=n)).alias(c)
                    )
                else:
                    cols.append(F.col(c))
            big = big.union(df.select(*cols))
        big.repartition(32).write.mode("overwrite").parquet(
            f"{PROBE_DIR}/{table}.parquet"
        )
        log(f"probe table {table}: {COPIES}x{n} rows")

    enlarge("embeddings", "vec_id")
    enlarge("documents", "doc_id")
    # events: keep the ts axis identical (windows stay comparably dense —
    # 8x the rows per window, the worst case for frame buffering) and give
    # copies disjoint user ids so distinct counts grow with the data.
    enlarge("events", "event_id", {"user_id": "user_id + {k} * 100000"})
    # Small relational tables referenced through read_table: copy as-is.
    import shutil

    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        src = f"{SF_DIR}/{t}.parquet"
        dst = f"{PROBE_DIR}/{t}.parquet"
        if os.path.exists(src) and not os.path.exists(dst):
            shutil.copyfile(src, dst)

    def run(name, sf):
        # noop sink: full materialization of every output column — count()
        # would let Catalyst prune unevaluated projections (e.g. window
        # columns), silently under-measuring window-only queries.
        reg[name].fn(spark, sf).write.format("noop").mode("overwrite").save()

    # Warm the session (codegen, broadcast machinery) before timing.
    run(names[0], SF_DIR)

    out = {}
    for name in names:
        t0 = time.time()
        run(name, SF_DIR)
        base = time.time() - t0
        t0 = time.time()
        run(name, PROBE_DIR)
        probed = time.time() - t0
        out[name] = {
            "sf0.1_sec": round(base, 2),
            "%dx_sec" % COPIES: round(probed, 2),
            "ratio": round(probed / base, 2) if base > 0 else None,
        }
        log(f"{name}: {base:.2f}s -> {probed:.2f}s ({probed / base:.1f}x)")

    if os.environ.get("SPARK_GRAFT_PROBE_CANDFRAC") == "1":
        # Measure the semantic-dedup default's candidate volume at the
        # probe tier: C = ceil(sqrt(n)) centroids, nprobe=5 (the audited
        # operating point). Three numbers:
        #   work_pairs     = sum over cells of c_a*(c_a-1)/2 with multi-
        #                    assignment multiplicity — the rows the cell
        #                    join actually produces (the SCAN cost);
        #   distinct_pairs = unique (a, b) candidates — the frac the
        #                    p^2/sqrt(n) theory bounds;
        #   screen_pairs   = distinct candidates surviving the int8
        #                    lossless screen — what reaches the exact
        #                    verify since round 5.
        import math

        from join_example_spark.operators.similarity import (
            ivf_candidate_pairs,
            ivf_cells,
        )
        from join_example_spark.sources.readers import read_table

        emb = read_table(spark, PROBE_DIR, "embeddings")
        n = emb.count()
        c = int(math.ceil(math.sqrt(n)))
        total = n * (n - 1) / 2.0
        cells = ivf_cells(emb, n_centroids=c, nprobe=5)
        work = (
            cells.groupBy("cell")
            .count()
            .selectExpr("CAST(SUM(count * (count - 1) / 2) AS BIGINT) AS w")
            .collect()[0].w
        )
        t0 = time.time()
        distinct_pairs = (
            ivf_candidate_pairs(emb, n_centroids=c, nprobe=5, dedup=False)
            .select("id_a", "id_b")
            .distinct()
            .count()
        )
        t_distinct = time.time() - t0
        delta = 1.0 / 254.0
        qthresh = int(
            math.floor((0.35 - 5e-5 - delta * (16.0 + 64.0 * delta)) * 127 * 127)
        )
        from pyspark.sql import functions as F

        qcode = F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0D)"
            " AS TINYINT))"
        )
        qcells = ivf_cells(emb, n_centroids=c, nprobe=5).select(
            "vec_id", qcode.alias("qv"), "cell"
        )
        qa = qcells.select(
            F.col("vec_id").alias("id_a"), F.col("qv").alias("qv_a"), "cell"
        )
        qb = qcells.select(
            F.col("vec_id").alias("id_b"), F.col("qv").alias("qv_b"), "cell"
        )
        qdot = F.expr(
            "aggregate(zip_with(qv_a, qv_b, (x, y) -> CAST(x AS INT)"
            " * CAST(y AS INT)), 0, (acc, v) -> acc + v)"
        )
        if os.environ.get("SPARK_GRAFT_PROBE_SCREEN", "1") == "1":
            t0 = time.time()
            screen_pairs = (
                qa.join(qb, "cell")
                .where(F.col("id_a") < F.col("id_b"))
                .where(qdot >= F.lit(qthresh))
                .select("id_a", "id_b")
                .distinct()
                .count()
            )
            t_screen = time.time() - t0
        else:
            screen_pairs, t_screen = -1, 0.0
        out["candfrac"] = {
            "n": n,
            "centroids": c,
            "work_pairs": int(work),
            "distinct_pairs": int(distinct_pairs),
            "screen_pairs": int(screen_pairs),
            "total_pairs": int(total),
            "distinct_frac": round(distinct_pairs / total, 4),
            "work_frac": round(work / total, 4),
            "screen_frac_of_candidates": round(
                screen_pairs / max(1, distinct_pairs), 4
            ),
            "theory_frac_p2_over_sqrt_n": round(25.0 / c, 4),
            "t_distinct_sec": round(t_distinct, 1),
            "t_screen_sec": round(t_screen, 1),
        }
        log(f"candfrac: {out['candfrac']}")

    if os.environ.get("SPARK_GRAFT_PROBE_IMI") == "1":
        # IMI vs flat-IVF candidate scaling on a DISTINCT-vector
        # enlargement. The duplicate-saturated probe tables contract away
        # (identity contraction collapses them back to n_reps = 2000), so
        # the sub-n^1.5 claim needs genuinely distinct growth: copy k
        # cyclically rotates the 64 components by k positions — an
        # isometry (unit norms and within-copy pair structure preserved,
        # cross-copy sims scrambled), giving a corpus that behaves like a
        # real Nx-larger one. Reported per index: work_pairs (cell
        # histogram — the join's scan cost), distinct candidate pairs,
        # and their fractions of n(n-1)/2; theory columns alongside
        # (IVF p²/√n with p=5; IMI T²/C² with T=8, C=⌈∛n⌉).
        import math

        from join_example_spark.operators.similarity import (
            imi_c_per_half,
            imi_candidate_pairs,
            imi_cells,
            ivf_candidate_pairs,
            ivf_cells,
        )

        base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        n0 = base.count()
        big = base
        for k in range(1, COPIES):
            r = k % 63 + 1  # rotations 1..63: never the identity.
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
        total = n * (n - 1) / 2.0
        imi_block = {"n": n, "total_pairs": int(total)}

        c_ivf = int(math.ceil(math.sqrt(n)))
        cells = ivf_cells(big, n_centroids=c_ivf, nprobe=5)
        work_ivf = (
            cells.groupBy("cell").count()
            .selectExpr("CAST(SUM(count * (count - 1) / 2) AS BIGINT) AS w")
            .collect()[0].w
        )
        t0 = time.time()
        d_ivf = (
            ivf_candidate_pairs(big, n_centroids=c_ivf, nprobe=5, dedup=False)
            .select("id_a", "id_b").distinct().count()
        )
        imi_block["ivf"] = {
            "centroids": c_ivf,
            "work_pairs": int(work_ivf),
            "distinct_pairs": int(d_ivf),
            "work_frac": round(work_ivf / total, 4),
            "distinct_frac": round(d_ivf / total, 4),
            "theory_frac_p2_over_sqrt_n": round(25.0 / c_ivf, 4),
            "t_distinct_sec": round(time.time() - t0, 1),
        }
        log(f"imi-probe ivf: {imi_block['ivf']}")

        c_imi = imi_c_per_half(n)
        icells = imi_cells(big, c_imi, nprobe_half=4, nprobe_cells=8)
        work_imi = (
            icells.groupBy("cell").count()
            .selectExpr("CAST(SUM(count * (count - 1) / 2) AS BIGINT) AS w")
            .collect()[0].w
        )
        t0 = time.time()
        d_imi = (
            imi_candidate_pairs(big, c_imi, nprobe_half=4, nprobe_cells=8, dedup=False)
            .select("id_a", "id_b").distinct().count()
        )
        imi_block["imi"] = {
            "c_per_half": c_imi,
            "work_pairs": int(work_imi),
            "distinct_pairs": int(d_imi),
            "work_frac": round(work_imi / total, 4),
            "distinct_frac": round(d_imi / total, 4),
            "theory_frac_t2_over_c2": round(64.0 / (c_imi * c_imi), 4),
            "t_distinct_sec": round(time.time() - t0, 1),
        }
        log(f"imi-probe imi: {imi_block['imi']}")
        out["imi_probe"] = imi_block

    if (
        os.environ.get("SPARK_GRAFT_PROBE_PREFIX") == "1"
        or os.environ.get("SPARK_GRAFT_PROBE_CONTAIN") == "1"
    ):
        # Prefix-filter join on a DISTINCT-text enlargement. The saturated
        # probe tables contract to the same 453 rep sets (the identity-
        # contraction rewrite makes that tier output-bound), so the
        # organic n-growth claim needs genuinely distinct text: copy k
        # prefixes every token with 'k{k}x' (replace ' ' -> ' k{k}x'),
        # which keeps each copy's internal similarity structure intact
        # while making cross-copy token sets disjoint — per-copy match
        # density is preserved and the vocabulary grows Nx, the organic
        # regime where prefix fan-out should stay flat.
        docs_base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n0 = docs_base.count()
        bigd = docs_base
        for k in range(1, COPIES):
            mark = f"k{k}x"
            bigd = bigd.union(
                docs_base.select(
                    *[
                        (F.col("doc_id") + F.lit(k * n0)).alias("doc_id")
                        if c == "doc_id"
                        else F.expr(
                            f"concat('{mark}', replace(text, ' ', ' {mark}'))"
                        ).alias("text")
                        if c == "text"
                        else F.col(c)
                        for c in docs_base.columns
                    ]
                )
            )
        pdir = f"{PROBE_DIR}_prefix_distinct"
        os.makedirs(pdir, exist_ok=True)
        bigd.repartition(32).write.mode("overwrite").parquet(
            f"{pdir}/documents.parquet"
        )
        probes = []
        if os.environ.get("SPARK_GRAFT_PROBE_PREFIX") == "1":
            probes.append(("q_llm_dedup_prefix", "prefix_distinct_probe"))
        if os.environ.get("SPARK_GRAFT_PROBE_CONTAIN") == "1":
            # Same organic enlargement works for the DIRECTED containment
            # join: cross-copy token sets are disjoint, so every copy
            # carries the base corpus's subset/quote structure and nothing
            # else — candidate volume should grow linearly with N.
            probes.append(("q_llm_dedup_containment", "contain_distinct_probe"))
        for qname, key in probes:
            t0 = time.time()
            run(qname, SF_DIR)
            base_s = time.time() - t0
            t0 = time.time()
            run(qname, pdir)
            dist_s = time.time() - t0
            out[key] = {
                "copies": COPIES,
                "sf0.1_sec": round(base_s, 2),
                "distinct_sec": round(dist_s, 2),
                "ratio": round(dist_s / base_s, 2),
            }
            log(f"{key}: {out[key]}")

    if os.environ.get("SPARK_GRAFT_PROBE_COSINE") == "1":
        # Scale posture of the lossless metric-pruned cosine pair join
        # (operators/cosine_pairs.py), two geometries:
        #
        # 1. CLUSTERED organic growth — K = 32 tight clusters (noise 0.03,
        #    d=64, tau=0.9): the COVERABLE regime (K <= sqrt(n) cells, so
        #    per-cluster cells get small radii and the triangle bound
        #    prunes cross-cluster cell pairs). The answer here is all
        #    within-cluster pairs (~n²/2K — output-bound quadratic), so
        #    the claim is about WORK per output row: the pruned join's
        #    verify volume tracks the answer (n²/2K) while the naive
        #    join's tracks n²/2 — a K-fold work cut, measured by timing
        #    BOTH paths on the same corpus. (A first probe used K = n/25
        #    clusters — MORE clusters than cells; a flat ceil(sqrt(n))-
        #    cell index cannot cover that geometry, every radius blows up
        #    to the inter-cluster distance and nothing prunes. That
        #    coverage bound — flat metric pruning needs cluster count
        #    <= cell count — is the documented limit, SCALE.md §3.7.)
        # 2. ISOTROPIC organic growth (rotation-enlarged, as the IMI
        #    probe) at the graph family's tau=0.25: the answer itself is
        #    ~2.2% of n²/2 (output-bound — no lossless method can be
        #    sub-quadratic; exact high-dim similarity search is SETH-hard
        #    in general), so the honest claim is wall tracking OUTPUT,
        #    not n². Skipped above 8x (the 64x answer would be ~180M
        #    rows).
        import math as _math

        import numpy as _np
        import pandas as _pd

        from join_example_spark.operators.cosine_pairs import (
            _cells_and_admissible,
            cosine_lossless_pairs,
        )
        from join_example_spark.operators.similarity import (
            cosine_near_pairs_naive,
        )

        def _clustered(n, seed=13):
            rng = _np.random.default_rng(seed)
            K = 32
            cent = rng.normal(size=(K, 64))
            cent /= _np.linalg.norm(cent, axis=1, keepdims=True)
            v = cent[_np.arange(n) % K] + 0.03 * rng.normal(size=(n, 64))
            v /= _np.linalg.norm(v, axis=1, keepdims=True)
            pdf = _pd.DataFrame(
                {
                    "vec_id": _np.arange(n, dtype="int64"),
                    "embedding": [row.astype("float32").tolist() for row in v],
                    "label": (_np.arange(n) % 10).astype("int32"),
                }
            )
            return spark.createDataFrame(pdf).repartition(32).localCheckpoint(
                eager=True
            )

        def _time_pairs(df, tau, blk):
            t0 = time.time()
            cosine_lossless_pairs(df, threshold=tau, block_col=blk, index_min_reps=0).write.format(
                "noop"
            ).mode("overwrite").save()
            return time.time() - t0

        def _edges(df, tau, blk):
            return cosine_lossless_pairs(df, threshold=tau, block_col=blk, index_min_reps=0).count()

        def _adm_frac(df, tau):
            reps = df.selectExpr(
                "CAST(0 AS INT) AS _blk", "vec_id AS _id", "embedding AS _vec"
            )
            thr_d = _math.sqrt(max(0.0, 2.0 - 2.0 * (tau - 1e-4))) + 1e-6
            _a, adm = _cells_and_admissible(reps, thr_d)
            C = _math.ceil(_math.sqrt(df.count()))
            return round(adm.count() / (C * C), 4)

        def _time_naive(df, tau):
            t0 = time.time()
            cosine_near_pairs_naive(
                df.withColumn("label", F.lit(0)), threshold=tau, block_col="label"
            ).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        n0 = 2000
        base_c = _clustered(n0)
        tier_c = _clustered(n0 * COPIES)
        tau_c = 0.9
        _time_pairs(base_c, tau_c, None)  # warm
        b_s = _time_pairs(base_c, tau_c, None)
        t_s = _time_pairs(tier_c, tau_c, None)
        bn_s = _time_naive(base_c, tau_c)
        tn_s = _time_naive(tier_c, tau_c)
        out["cosine_clustered_probe"] = {
            "copies": COPIES,
            "base_sec": round(b_s, 2),
            "tier_sec": round(t_s, 2),
            "ratio": round(t_s / b_s, 2),
            "naive_base_sec": round(bn_s, 2),
            "naive_tier_sec": round(tn_s, 2),
            "base_edges": _edges(base_c, tau_c, None),
            "tier_edges": _edges(tier_c, tau_c, None),
            "base_adm_frac": _adm_frac(base_c, tau_c),
            "tier_adm_frac": _adm_frac(tier_c, tau_c),
        }
        log(f"cosine clustered probe: {out['cosine_clustered_probe']}")

        if COPIES <= 8:
            base_i = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            ni = base_i.count()
            bigi = base_i
            for k in range(1, COPIES):
                r = k % 63 + 1
                bigi = bigi.union(
                    base_i.select(
                        (F.col("vec_id") + F.lit(k * ni)).alias("vec_id"),
                        F.expr(
                            f"concat(slice(embedding, {r + 1}, {64 - r}),"
                            f" slice(embedding, 1, {r}))"
                        ).alias("embedding"),
                        F.col("label"),
                    )
                )
            bigi = bigi.repartition(32).localCheckpoint(eager=True)
            tau_i = 0.25
            b_s = _time_pairs(base_i, tau_i, "label")
            t_s = _time_pairs(bigi, tau_i, "label")
            be, te = _edges(base_i, tau_i, "label"), _edges(bigi, tau_i, "label")
            out["cosine_isotropic_probe"] = {
                "copies": COPIES,
                "base_sec": round(b_s, 2),
                "tier_sec": round(t_s, 2),
                "ratio": round(t_s / b_s, 2),
                "base_edges": be,
                "tier_edges": te,
                "edge_ratio": round(te / be, 2),
            }
            log(f"cosine isotropic probe: {out['cosine_isotropic_probe']}")

    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
