"""§2.10 — similarity search over the ``embeddings`` table.

The DuckDB oracle mirrors the exact path with the same sequential-fold dot
product (list_zip + lambdas), same rounding, same tiebreak ranking. The LSH
path has no SQL twin (MLlib random projections) — rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from join_example_spark.operators.similarity import (
    DOT_SQL,
    cosine_near_pairs,
    cosine_topk,
    ivf_topk,
    lsh_ann_pairs,
)
from join_example_spark.registry import register
from join_example_spark.sources.readers import (
    fanout_repartition,
    read_table,
    table_row_count,
)

# DuckDB-side dot product: identical sequential left-fold in DOUBLE.
_DUCK_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
)


@register(
    "q_llm_sim_topk",
    oracle=f"""
WITH pairs AS (
    SELECT p.vec_id AS probe_id,
           c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM embeddings p
    JOIN embeddings c
      ON p.label = c.label
     AND p.vec_id % 100 = 0
     AND p.vec_id <> c.vec_id
)
SELECT probe_id, cand_id, sim, rn
FROM (
    SELECT probe_id, cand_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, cand_id) AS BIGINT) AS rn
    FROM pairs
)
WHERE rn <= 3
""",
    note="exact blocked cosine top-3 per probe (dot == cosine on unit vectors)",
    tags=("llm", "similarity"),
)
def q_llm_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, k=3, probe_pred="vec_id % 100 = 0")


@register(
    "q_llm_embed_near",
    oracle=f"""
SELECT a.vec_id AS id_a,
       b.vec_id AS id_b,
       ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) AS sim
FROM embeddings a
JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) >= 0.35
""",
    note="embedding-cosine near-dup pairs within label blocks",
    tags=("llm", "similarity", "dedup"),
)
def q_llm_embed_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_near_pairs(emb, threshold=0.35)


@register(
    "q_llm_sim_ivf",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id LIMIT 16
), assign AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM embeddings e CROSS JOIN cents c
), cells AS (
    SELECT vec_id, embedding, cent_id AS cell FROM assign WHERE arn = 1
), pairs AS (
    SELECT p.vec_id AS probe_id,
           p.cell AS cell,
           c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM cells p
    JOIN cells c
      ON p.cell = c.cell
     AND p.vec_id % 100 = 0
     AND p.vec_id <> c.vec_id
)
SELECT probe_id, CAST(cell AS BIGINT) AS cell, cand_id, sim, rn
FROM (
    SELECT probe_id, cell, cand_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, cand_id) AS BIGINT) AS rn
    FROM pairs
)
WHERE rn <= 3
""",
    note="IVF top-3 with a deterministic coarse quantizer (16 lowest-id "
    "vectors as centroids, nprobe=1): broadcast assignment + cell-local "
    "search — the exact-SQL-checkable skeleton of the FAISS-style ANN path",
    tags=("llm", "similarity", "approx"),
)
def q_llm_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, n_centroids=16, k=3, probe_pred="vec_id % 100 = 0")


@register(
    "q_llm_sim_ivf_probe",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id LIMIT 16
), assign AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM embeddings e CROSS JOIN cents c
), cells AS (
    SELECT vec_id, embedding, cent_id AS cell FROM assign WHERE arn = 1
), pcells AS (
    SELECT vec_id, embedding, cent_id AS cell FROM assign WHERE arn <= 4
), pairs AS (
    SELECT p.vec_id AS probe_id,
           c.cell AS cell,
           c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM pcells p
    JOIN cells c
      ON p.cell = c.cell
     AND p.vec_id % 100 = 0
     AND p.vec_id <> c.vec_id
)
SELECT probe_id, CAST(cell AS BIGINT) AS cell, cand_id, sim, rn
FROM (
    SELECT probe_id, cell, cand_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, cand_id) AS BIGINT) AS rn
    FROM pairs
)
WHERE rn <= 3
""",
    note="MULTI-PROBE IVF top-3 (nprobe=4): each probe searches its 4 "
    "nearest cells (ranked by rounded centroid sim, cent_id tiebreak); "
    "candidates stay in their single home cell so every (probe, candidate) "
    "pair arises at most once. The recall-vs-cost dial the round-3 audit "
    "demanded: ~4/16 of the index scanned per probe instead of 1/16, "
    "recall@3 measured 2x the nprobe=1 path on this corpus (SCALE.md "
    "§3.3). Same broadcast-assign + cell-key shuffle shape as nprobe=1",
    tags=("llm", "similarity", "approx"),
)
def q_llm_sim_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, n_centroids=16, k=3, probe_pred="vec_id % 100 = 0", nprobe=4)


@register(
    "q_llm_sim_ivf_sym",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id LIMIT 16
), assign AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM embeddings e CROSS JOIN cents c
), ccells AS (
    SELECT vec_id, embedding, cent_id AS cell FROM assign WHERE arn <= 2
), pcells AS (
    SELECT vec_id, embedding, cent_id AS cell FROM assign WHERE arn <= 2
), pairs AS (
    SELECT p.vec_id AS probe_id,
           c.vec_id AS cand_id,
           MIN(c.cell) AS cell,
           MAX(ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4)) AS sim
    FROM pcells p
    JOIN ccells c
      ON p.cell = c.cell
     AND p.vec_id % 100 = 0
     AND p.vec_id <> c.vec_id
    GROUP BY p.vec_id, c.vec_id
)
SELECT probe_id, CAST(cell AS BIGINT) AS cell, cand_id, sim, rn
FROM (
    SELECT probe_id, cell, cand_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, cand_id) AS BIGINT) AS rn
    FROM pairs
)
WHERE rn <= 3
""",
    note="SYMMETRIZED IVF top-3 (round 11): corpus multi-assign q=2 AND "
    "probe dial p=2 — the SAME q*p=4 candidate volume as "
    "q_llm_sim_ivf_probe's asymmetric (1, 4), redistributed per the "
    "round-10 coverage argument (SCALE §3.14: at the 64x tier the "
    "symmetric split wins +4.6pp top-1 recall at matched volume; q=2 "
    "already beats probe-doubling). A pair can surface through both "
    "shared cells, so pairs dedup via GROUP BY (probe, cand) with "
    "MIN(cell) reported and MAX(sim) (exact-equal copies) — mirrored "
    "literally in the oracle twin. This drives the round-11 "
    "ivf_topk(..., corpus_assign=q) opt-in through the driver gate "
    "(the default-1 path stays pinned by the asymmetric siblings). At "
    "100 TB: index rows x2 (storage, not compute), one extra narrow "
    "dedup shuffle keyed by (probe, cand)",
    tags=("llm", "similarity", "approx"),
)
def q_llm_sim_ivf_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        n_centroids=16,
        k=3,
        probe_pred="vec_id % 100 = 0",
        nprobe=2,
        corpus_assign=2,
    )


@register(
    "q_llm_ann_recall_nprobe",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id
    LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings)
), assign AS (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM embeddings e CROSS JOIN cents c
), probed AS (
    SELECT vec_id, cent_id AS cell FROM assign WHERE arn <= 5
), cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM probed a
    JOIN probed b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE a.vec_id % 10 = 0
), truth AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) AS sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id % 10 = 0
), j AS (
    SELECT t.sim, CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM truth t
    LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_sampled,
       CAST(SUM(CASE WHEN sim >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN sim >= 0.35 AND hit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       CAST(SUM(hit) AS BIGINT) AS n_cand,
       ROUND(CAST(SUM(CASE WHEN sim >= 0.35 AND hit = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(CAST(SUM(CASE WHEN sim >= 0.35 THEN 1 ELSE 0 END) AS DOUBLE), 0.0),
             6) AS recall_pairs,
       ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS cand_frac
FROM j
""",
    note="the USABLE ANN operating point the round-3 verdict demanded, "
    "audited: near-dup PAIR recall (sim >= 0.35) of multi-probe IVF "
    "(ceil(sqrt(n)) centroids, nprobe=5, multi-assignment blocking) "
    "against exact ground truth on a deterministic 10% probe sample "
    "(pairs whose smaller endpoint id % 10 = 0). Measured: recall 0.97 "
    "at sf0.01, 0.85 at sf0.1 — vs 0.13-0.2 for the round-3 nprobe=1 "
    "point. Pair recall (not top-k recall) is the metric that governs "
    "semantic dedup: a missed pair is an under-merge. cand_frac is the "
    "work audit: the fraction of sampled pairs the index actually "
    "scores (~p^2/C, shrinking as sqrt(n) grows). Ground truth is "
    "quadratic BY DEFINITION — production runs this audit on a bounded "
    "sample (the %10 dial), never the full corpus",
    tags=("llm", "similarity", "approx"),
)
def q_llm_ann_recall_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from join_example_spark.operators.similarity import (
        adaptive_nprobe,
        ivf_candidate_pairs,
    )

    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    # Footer-metadata row count (cached, no scan — round 13, VERDICT r12 #4).
    n = table_row_count(sf_dir, "embeddings")
    n_centroids = int(math.ceil(math.sqrt(n)))
    # The derived dial == 5 at every fixture SF (so the arn <= 5 oracle
    # pins exactly this operating point); past n ~ 2025 it grows with
    # ceil(sqrt(n)) to hold the probed fraction. NOTE: production semantic
    # dedup derives n from the identity-contracted DISTINCT-rep count,
    # while this audit uses the full embeddings count — the two schedules
    # coincide whenever duplicate multiplicity is low (all fixture SFs)
    # and diverge under duplicate saturation; the full-count form is kept
    # here to leave this driver-green plan unchanged.
    cand = (
        ivf_candidate_pairs(emb, n_centroids=n_centroids, nprobe=adaptive_nprobe(n))
        .where(F.col("id_a") % 10 == 0)
        .select("id_a", "id_b", F.lit(1).alias("hit"))
    )
    a0 = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a")
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    dot = F.expr(DOT_SQL.format(a="vec_a", b="vec_b"))
    truth = (
        b.crossJoin(F.broadcast(a0))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(dot, 4))
        .select("id_a", "id_b", "sim")
    )
    j = truth.join(cand, ["id_a", "id_b"], "left").select(
        "sim", F.coalesce(F.col("hit"), F.lit(0)).alias("hit")
    )
    is_true = F.col("sim") >= 0.35
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs_sampled"),
        F.sum(F.when(is_true, 1).otherwise(0)).cast("bigint").alias("n_true"),
        F.sum(F.when(is_true & (F.col("hit") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_found"),
        F.sum("hit").cast("bigint").alias("n_cand"),
    ).select(
        "n_pairs_sampled",
        "n_true",
        "n_found",
        "n_cand",
        F.round(
            F.col("n_found").cast("double")
            / F.nullif(F.col("n_true").cast("double"), F.lit(0.0)),
            6,
        ).alias("recall_pairs"),
        F.round(
            F.col("n_cand").cast("double") / F.col("n_pairs_sampled").cast("double"), 6
        ).alias("cand_frac"),
    )


def _duck_imi_ctes(src: str, c_expr: str, p: int, t: int) -> str:
    """DuckDB twin of the IMI coarse quantizer (operators/similarity.py
    imi_cells): two per-half codebooks from the ``c_expr`` lowest-id rows
    of ``src``, per-half argmax by rounded 32-dim half-dot (centroid-index
    tiebreak), multi-sequence product cells ranked by s1+s2. Ends at
    ``imi_cells(vec_id, cell)`` with cell = c1*1024 + c2. Kept textually
    parallel to the Spark operator so the two cannot drift."""
    d1 = _DUCK_DOT.format(a="list_slice(e.embedding, 1, 32)", b="c.cv1")
    d2 = _DUCK_DOT.format(a="list_slice(e.embedding, 33, 64)", b="c.cv2")
    return f"""imi_cents AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cidx,
           list_slice(embedding, 1, 32) AS cv1,
           list_slice(embedding, 33, 64) AS cv2
    FROM (SELECT vec_id, embedding FROM {src} ORDER BY vec_id LIMIT ({c_expr}))
), imi_assign AS (
    SELECT e.vec_id, c.cidx,
           ROUND({d1}, 4) AS s1,
           ROUND({d2}, 4) AS s2,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND({d1}, 4) DESC, c.cidx) AS rn1,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND({d2}, 4) DESC, c.cidx) AS rn2
    FROM {src} e CROSS JOIN imi_cents c
), imi_prod AS (
    SELECT a1.vec_id, a1.cidx AS c1, a2.cidx AS c2,
           ROW_NUMBER() OVER (PARTITION BY a1.vec_id
               ORDER BY a1.s1 + a2.s2 DESC, a1.cidx, a2.cidx) AS prn
    FROM imi_assign a1
    JOIN imi_assign a2 ON a1.vec_id = a2.vec_id
    WHERE a1.rn1 <= {p} AND a2.rn2 <= {p}
), imi_cells AS (
    SELECT vec_id, c1 * 1024 + c2 AS cell FROM imi_prod WHERE prn <= {t}
)"""


@register(
    "q_llm_sim_imi",
    oracle=f"""
WITH {_duck_imi_ctes("embeddings", "16", 2, 4)},
home AS (
    SELECT a1.vec_id, a1.cidx * 1024 + a2.cidx AS cell
    FROM imi_assign a1
    JOIN imi_assign a2 ON a1.vec_id = a2.vec_id
    WHERE a1.rn1 = 1 AND a2.rn2 = 1
), pairs AS (
    SELECT p.vec_id AS probe_id,
           c.cell AS cell,
           c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="pe.embedding", b="ce.embedding")}, 4) AS sim
    FROM imi_cells p
    JOIN home c ON p.cell = c.cell
    JOIN embeddings pe ON pe.vec_id = p.vec_id
    JOIN embeddings ce ON ce.vec_id = c.vec_id
    WHERE p.vec_id % 100 = 0
      AND p.vec_id <> c.vec_id
)
SELECT probe_id, CAST(cell AS BIGINT) AS cell, cand_id, sim, rn
FROM (
    SELECT probe_id, cell, cand_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, cand_id) AS BIGINT) AS rn
    FROM pairs
)
WHERE rn <= 3
""",
    note="INVERTED MULTI-INDEX top-3 (Babenko & Lempitsky 2012, "
    "DataFrame-native): the vector splits in two 32-dim halves, each "
    "quantized against its own 16-centroid codebook, giving 256 product "
    "cells for 2·n·16 assignment dots — flat IVF would pay n·256 for the "
    "same cell count. Candidates live in their single home (argmax, "
    "argmax) cell; probes search their 2×2 half-probe product (4 cells "
    "of 256). The sub-n^1.5 index structure (SCALE.md §3.5): at C=∛n "
    "per half, assignment AND cell-local pair work are both O(n^4/3). "
    "Same broadcast-assign + pinned cell-key-shuffle shape as the IVF "
    "family; recall audited by q_llm_imi_recall",
    tags=("llm", "similarity", "approx"),
)
def q_llm_sim_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.similarity import imi_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return imi_topk(emb, c_per_half=16, k=3, probe_pred="vec_id % 100 = 0", nprobe_half=2)


_IMI_C_RULE = (
    "SELECT GREATEST(4, (SELECT CAST(MIN(i) AS BIGINT) FROM range(1, 1025) t(i)"
    " WHERE i*i*i >= (SELECT COUNT(*) FROM embeddings)))"
)


@register(
    "q_llm_imi_recall",
    oracle=f"""
WITH {_duck_imi_ctes("embeddings", _IMI_C_RULE, 4, 8)},
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM imi_cells a
    JOIN imi_cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE a.vec_id % 10 = 0
), truth AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) AS sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id % 10 = 0
), j AS (
    SELECT t.sim, CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM truth t
    LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_sampled,
       CAST(SUM(CASE WHEN sim >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN sim >= 0.35 AND hit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       CAST(SUM(hit) AS BIGINT) AS n_cand,
       ROUND(CAST(SUM(CASE WHEN sim >= 0.35 AND hit = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(CAST(SUM(CASE WHEN sim >= 0.35 THEN 1 ELSE 0 END) AS DOUBLE), 0.0),
             6) AS recall_pairs,
       ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS cand_frac
FROM j
""",
    note="the IMI recall audit — same protocol as q_llm_ann_recall_nprobe "
    "(near-dup PAIR recall at sim >= 0.35 against exact ground truth on "
    "the deterministic 10%-of-pairs sample) over the multi-sequence "
    "inverted multi-index at its audited dial: C = max(4, ⌈∛n⌉) per half "
    "(EXACT integer cube root — float pow(n,1/3) is not correctly "
    "rounded and can flip ceil at perfect cubes), top-4 per half, top-8 "
    "product cells by s1+s2. Measured: recall 0.92/0.91/0.69 at "
    "sf0.001/0.01/0.1, cand_frac 0.57/0.59/0.28 — the same frontier as "
    "flat IVF at matched candidate budget (0.565@0.195 IMI vs "
    "0.542@0.187 IVF at the mid dial) for quadratically cheaper "
    "assignment. cand_frac falls as n^(-2/3) under the ∛n sizing "
    "(vs n^(-1/2) for IVF) — the sub-n^1.5 trend, measured in the "
    "stress probe tiers (SCALE.md §3.5)",
    tags=("llm", "similarity", "approx"),
)
def q_llm_imi_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.similarity import (
        adaptive_imi_dials,
        imi_c_per_half,
        imi_candidate_pairs,
    )

    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    # Scalar plan-build action (sizes the codebooks), same class as the
    # other √n/∛n operators. The derived dials == (4, 8) at every fixture
    # SF (the oracle pins exactly that operating point); past it they grow
    # to hold the probed product-cell fraction, so this audit measures the
    # SAME schedule the production IMI variant runs (SCALE.md §3.10b).
    n = table_row_count(sf_dir, "embeddings")
    c_per_half = imi_c_per_half(n)
    d_p, d_t = adaptive_imi_dials(n)
    cand = (
        imi_candidate_pairs(emb, c_per_half, nprobe_half=d_p, nprobe_cells=d_t)
        .where(F.col("id_a") % 10 == 0)
        .select("id_a", "id_b", F.lit(1).alias("hit"))
    )
    a0 = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a")
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    dot = F.expr(DOT_SQL.format(a="vec_a", b="vec_b"))
    truth = (
        b.crossJoin(F.broadcast(a0))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(dot, 4))
        .select("id_a", "id_b", "sim")
    )
    j = truth.join(cand, ["id_a", "id_b"], "left").select(
        "sim", F.coalesce(F.col("hit"), F.lit(0)).alias("hit")
    )
    is_true = F.col("sim") >= 0.35
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs_sampled"),
        F.sum(F.when(is_true, 1).otherwise(0)).cast("bigint").alias("n_true"),
        F.sum(F.when(is_true & (F.col("hit") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_found"),
        F.sum("hit").cast("bigint").alias("n_cand"),
    ).select(
        "n_pairs_sampled",
        "n_true",
        "n_found",
        "n_cand",
        F.round(
            F.col("n_found").cast("double")
            / F.nullif(F.col("n_true").cast("double"), F.lit(0.0)),
            6,
        ).alias("recall_pairs"),
        F.round(
            F.col("n_cand").cast("double") / F.col("n_pairs_sampled").cast("double"), 6
        ).alias("cand_frac"),
    )


@register(
    "q_llm_sim_knn_scale",
    oracle=f"""
WITH truth AS (
    SELECT p.vec_id AS id_a, c.vec_id AS id_b
    FROM embeddings p
    JOIN embeddings c
      ON p.vec_id % 10 = 0 AND p.vec_id < c.vec_id
    WHERE ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) >= 0.28
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
       CAST(COUNT(*) AS BIGINT) AS n_true_sampled,
       TRUE AS recall_ok
FROM truth
""",
    note="BucketedRandomProjectionLSH approximate neighbor pairs (the 100 TB "
    "ANN path; euclidean on unit vectors ~ cosine: d^2 = 2 - 2*cos, so "
    "dist <= 1.2 <=> cos >= 0.28) — re-declared in round 8 as an "
    "exact-regime-certified recall audit (HLL/approx_percentile pattern; "
    "the driver has no rows-only mode, proven round 7): output = exact "
    "anchors both engines compute identically (corpus size, sampled-probe "
    "true-pair count at ROUND(dot,4) >= 0.28) plus a recall boolean the "
    "oracle asserts literally (gate 0.8; measured 0.964/0.948/0.942 at "
    "sf0.001/0.01/0.1 — approxSimilarityJoin at bucketLength 0.5 x 3 "
    "tables, fixed seed). The raw pair list stays a library "
    "operator (operators/similarity.py lsh_ann_pairs, planted-neighbor "
    "recall test in tests/test_round6_ops.py)",
    tags=("llm", "similarity", "approx"),
)
def q_llm_sim_knn_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    # Defensive pair-dedup: approxSimilarityJoin distincts its output today,
    # but a duplicate (id_a, id_b) here would fan out the LEFT join below
    # and inflate n_true_sampled vs the oracle — cheap insurance on a small
    # set against MLlib behavior drift.
    found = (
        lsh_ann_pairs(emb, threshold_distance=1.2)
        .where(F.col("id_a") % 10 == 0)
        .select("id_a", "id_b", F.lit(1).alias("hit"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a0 = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a")
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    dot = F.expr(DOT_SQL.format(a="vec_a", b="vec_b"))
    truth = (
        b.crossJoin(F.broadcast(a0))
        .where(F.col("id_a") < F.col("id_b"))
        # ROUND(,4) >= 0.28 is engine-divergent only within half an ulp of
        # a x.xxxx5 boundary (ADVICE r8): if a future fixture regeneration
        # trips this query's driver hash, check for a dot at ~0.27995
        # before suspecting the LSH path.
        .where(F.round(dot, 4) >= 0.28)
        .select("id_a", "id_b")
    )
    j = truth.join(found, ["id_a", "id_b"], "left")
    stats = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_sampled"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_found"),
    )
    nvec = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    return nvec.crossJoin(stats).select(
        "n_vectors",
        "n_true_sampled",
        (
            (F.col("n_true_sampled") == 0)
            | (
                F.col("n_found").cast("double")
                >= F.lit(0.8) * F.col("n_true_sampled").cast("double")
            )
        ).alias("recall_ok"),
    )


@register(
    "q_llm_kmeans_iter",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id LIMIT 8
), assign AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) AS csim
    FROM embeddings e CROSS JOIN cents c
), cells AS (
    SELECT vec_id, embedding, cent_id AS cell, csim
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY csim DESC, cent_id) AS arn
        FROM assign
    ) WHERE arn = 1
), comp AS (
    SELECT cell,
           CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
           unnest(embedding) AS val
    FROM cells
), newc AS (
    SELECT cell, pos,
           CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE), 4) AS DECIMAL(25,6))) AS DOUBLE)
             / COUNT(*) AS nc
    FROM comp GROUP BY cell, pos
), oldc AS (
    SELECT cent_id AS cell,
           CAST(generate_subscripts(cvec, 1) - 1 AS INTEGER) AS pos,
           ROUND(CAST(unnest(cvec) AS DOUBLE), 4) AS oc
    FROM cents
), shift AS (
    SELECT n.cell,
           ROUND(SQRT(CAST(SUM(CAST((n.nc - o.oc) * (n.nc - o.oc)
                                    AS DECIMAL(38,20))) AS DOUBLE)), 4)
             AS centroid_shift
    FROM newc n JOIN oldc o ON n.cell = o.cell AND n.pos = o.pos
    GROUP BY n.cell
), stats AS (
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST(csim AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_sim
    FROM cells GROUP BY cell
)
SELECT CAST(s.cell AS BIGINT) AS cell, s.n_members, s.avg_sim, sh.centroid_shift
FROM stats s JOIN shift sh ON s.cell = sh.cell
""",
    note="one deterministic k-means Lloyd iteration over embeddings: "
    "broadcast-assign, decimal-bridged centroid update, per-cell audit "
    "(member count, mean sim, centroid shift)",
    tags=("llm", "similarity", "ml"),
)
def q_llm_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.similarity import kmeans_lloyd_stats

    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_stats(emb, n_centroids=8)


@register(
    "q_graph_triangles",
    oracle=f"""
WITH pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) >= 0.35
), deg AS (
    SELECT v, COUNT(*) AS deg FROM (
        SELECT id_a AS v FROM pairs UNION ALL SELECT id_b AS v FROM pairs
    ) GROUP BY v
), agg AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(COALESCE(SUM(CAST(deg * (deg - 1) / 2 AS BIGINT)), 0)
                   AS BIGINT) FROM deg) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM pairs e1
            JOIN pairs e2 ON e2.id_a = e1.id_b
            JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
             AS n_triangles
)
SELECT n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN ROUND(CAST(3 * n_triangles AS DOUBLE) / n_wedges, 6)
            ELSE CAST(NULL AS DOUBLE) END AS global_clustering
FROM agg
""",
    note="triangle census of the embedding near-dup graph via degree-oriented "
    "forward enumeration (O(m^1.5) wedge bound); oracle is the independent "
    "a<b<c triple-join formulation, cross-checking the orientation logic",
    tags=("llm", "similarity", "graph"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.graph import triangle_stats

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_pairs(emb, threshold=0.35)
    return triangle_stats(pairs, src_col="id_a", dst_col="id_b")


@register(
    "q_llm_ann_recall",
    oracle=f"""
WITH xpairs AS (
    SELECT p.vec_id AS probe_id,
           c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM embeddings p
    JOIN embeddings c
      ON p.label = c.label
     AND p.vec_id % 100 = 0
     AND p.vec_id <> c.vec_id
), exact AS (
    SELECT probe_id, cand_id FROM (
        SELECT probe_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, cand_id) AS rn
        FROM xpairs
    ) WHERE rn <= 3
), cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id LIMIT 16
), assign AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM embeddings e CROSS JOIN cents c
), cells AS (
    SELECT vec_id, embedding, cent_id AS cell FROM assign WHERE arn = 1
), ipairs AS (
    SELECT p.vec_id AS probe_id,
           c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM cells p
    JOIN cells c
      ON p.cell = c.cell
     AND p.vec_id % 100 = 0
     AND p.vec_id <> c.vec_id
), ivf AS (
    SELECT probe_id, cand_id FROM (
        SELECT probe_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, cand_id) AS rn
        FROM ipairs
    ) WHERE rn <= 3
), j AS (
    SELECT e.probe_id, e.cand_id,
           CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM exact e
    LEFT JOIN ivf i ON i.probe_id = e.probe_id AND i.cand_id = e.cand_id
)
SELECT CAST(COUNT(DISTINCT probe_id) AS BIGINT) AS n_probes,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(hit) AS BIGINT) AS n_matched,
       ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall_micro
FROM j
""",
    note="ANN quality audit: micro-averaged recall@3 of the IVF (nprobe=1) "
    "path against the exact blocked top-k, computed as integer hit counts "
    "(order-independent) with ONE final IEEE division. This is the "
    "measurement a pipeline runs before trusting an approximate index at "
    "scale — and the recall-vs-cost dial (n_centroids/nprobe) it tunes",
    tags=("llm", "similarity", "approx"),
)
def q_llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, k=3, probe_pred="vec_id % 100 = 0").select(
        "probe_id", "cand_id"
    )
    approx = ivf_topk(emb, n_centroids=16, k=3, probe_pred="vec_id % 100 = 0").select(
        "probe_id", "cand_id", F.lit(1).alias("hit")
    )
    j = exact.join(approx, ["probe_id", "cand_id"], "left")
    return j.agg(
        F.countDistinct("probe_id").cast("bigint").alias("n_probes"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_matched"),
    ).select(
        "n_probes",
        "n_exact",
        "n_matched",
        F.round(
            F.col("n_matched").cast("double") / F.col("n_exact").cast("double"), 6
        ).alias("recall_micro"),
    )


@register(
    "q_llm_embed_quantize",
    oracle="""
WITH scaled AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec,
           GREATEST(list_aggregate(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-30) / 127.0 AS scale
    FROM embeddings
), quant AS (
    SELECT vec_id, dvec, scale,
           list_transform(dvec, x -> CAST(FLOOR(x / scale + 0.5) AS BIGINT)) AS qvec
    FROM scaled
)
SELECT vec_id,
       CAST(list_aggregate(qvec, 'min') AS BIGINT) AS q_min,
       CAST(list_aggregate(qvec, 'max') AS BIGINT) AS q_max,
       list_aggregate(list_transform(list_zip(dvec, qvec),
         p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)), 'max')
           AS max_abs_err,
       list_aggregate(list_transform(list_zip(dvec, qvec),
         p -> CAST(p[1] AS DOUBLE) * (CAST(p[2] AS DOUBLE) * scale)), 'sum')
       / NULLIF(
           sqrt(list_aggregate(list_transform(dvec, x -> x * x), 'sum'))
           * sqrt(list_aggregate(list_transform(list_zip(dvec, qvec),
               p -> (CAST(p[2] AS DOUBLE) * scale) * (CAST(p[2] AS DOUBLE) * scale)), 'sum')),
           0.0)
           AS cos_orig_deq
FROM quant
""",
    note="int8 symmetric embedding quantization + reconstruction audit: "
    "per-vector scale = max|x|/127, q = floor(x/scale + 0.5) (floor-based "
    "so both engines round identically — engine ROUND() ties differ), "
    "emitting the quantized range, max absolute reconstruction error, and "
    "original-vs-dequantized cosine as RAW doubles (identical sequential "
    "fold order both sides — bit-stable without ROUND). The 100 TB story: "
    "4x memory cut for the ANN candidate store, and this query IS the "
    "audit that gates switching retrieval onto the quantized index. "
    "Zero-shuffle: pure map over the embeddings scan",
    tags=("llm", "similarity", "quantize"),
)
def q_llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("dvec"),
        )
        .withColumn(
            "scale",
            F.expr(
                "GREATEST(array_max(transform(dvec, x -> abs(x))), 1e-30D) / 127.0D"
            ),
        )
        .withColumn(
            "qvec",
            F.expr("transform(dvec, x -> CAST(FLOOR(x / scale + 0.5D) AS BIGINT))"),
        )
        .select(
            "vec_id",
            F.expr("CAST(array_min(qvec) AS BIGINT)").alias("q_min"),
            F.expr("CAST(array_max(qvec) AS BIGINT)").alias("q_max"),
            F.expr(
                "array_max(zip_with(dvec, qvec,"
                " (x, q) -> abs(x - CAST(q AS DOUBLE) * scale)))"
            ).alias("max_abs_err"),
            F.expr(
                "aggregate(zip_with(dvec, qvec,"
                "   (x, q) -> x * (CAST(q AS DOUBLE) * scale)), 0D, (acc, v) -> acc + v)"
                " / NULLIF("
                "   sqrt(aggregate(transform(dvec, x -> x * x), 0D, (acc, v) -> acc + v))"
                "   * sqrt(aggregate(zip_with(dvec, qvec,"
                "       (x, q) -> (CAST(q AS DOUBLE) * scale) * (CAST(q AS DOUBLE) * scale)),"
                "       0D, (acc, v) -> acc + v)), 0.0D)"
            ).alias("cos_orig_deq"),
        )
    )


# Shared DuckDB-side PQ scaffolding: deterministic 256-entry codebook from the
# lowest-id vectors, 4 subspaces x 16 dims, rounded squared-L2 assignment with
# code-id tiebreak. Textually mirrors operators/similarity.py
# (pq_codebook_subs / pq_assignments); the squared-distance fold is the same
# sequential left-fold in DOUBLE proven bit-identical for _DUCK_DOT.
_DUCK_D2 = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
)

_PQ_CTES = f"""
cb AS (
    SELECT embedding AS cvec, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
    FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 256)
),
cbs AS (
    SELECT code, s.sub, cvec[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS cb_sub
    FROM cb CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS sub) s
),
vs AS (
    SELECT vec_id, s.sub, embedding[(s.sub * 16 + 1):(s.sub * 16 + 16)] AS v_sub
    FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS sub) s
),
assign AS (
    SELECT vec_id, sub, code, d2r FROM (
        SELECT v.vec_id, v.sub, c.code,
               ROUND({_DUCK_D2.format(a="v.v_sub", b="c.cb_sub")}, 4) AS d2r,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY ROUND({_DUCK_D2.format(a="v.v_sub", b="c.cb_sub")}, 4), c.code) AS rn
        FROM vs v JOIN cbs c ON c.sub = v.sub
    ) WHERE rn = 1
)"""


@register(
    "q_llm_pq_quantize",
    oracle=f"""
WITH {_PQ_CTES}
SELECT vec_id,
       CAST(SUM(code << (8 * sub)) AS BIGINT) AS code_word,
       CAST(SUM(CAST(d2r AS DECIMAL(25,6))) AS DOUBLE) AS recon_err
FROM assign
GROUP BY vec_id
""",
    note="product quantization (Jegou et al., TPAMI 2011) at the canonical "
    "operating point: each 64-dim vector splits into 4x16-dim subvectors, "
    "each assigned to the nearest of 256 deterministic codebook entries "
    "(lowest-id vectors, same no-RNG quantizer convention as IVF) by "
    "rounded squared-L2 with code-id tiebreak. Output: the 4 codes PACKED "
    "into one 32-bit word (8 bits each -- a 64x memory cut vs float32, "
    "what keeps a billion-vector candidate store RAM-resident at 100 TB) "
    "plus the per-vector reconstruction error (decimal-bridged sum of the "
    "selected rounded distances) as the quantization-quality audit. "
    "Codebook broadcasts; distance evaluation is map-side; argmin is "
    "MIN(STRUCT(d2r, code)) partial-agg -- one shuffle, no window sort",
    tags=("llm", "similarity", "quantize"),
)
def q_llm_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.similarity import pq_assignments

    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    return (
        pq_assignments(emb)
        .groupBy("vec_id")
        .agg(
            F.expr(
                "CAST(SUM(CAST(code AS BIGINT) << CAST(8 * sub AS INT)) AS BIGINT)"
            ).alias("code_word"),
            F.expr("CAST(SUM(CAST(d2r AS DECIMAL(25,6))) AS DOUBLE)").alias(
                "recon_err"
            ),
        )
    )


@register(
    "q_llm_sim_pq_adc",
    oracle=f"""
WITH {_PQ_CTES},
lut AS (
    SELECT v.vec_id AS probe_id, v.sub, c.code,
           ROUND({_DUCK_DOT.format(a="v.v_sub", b="c.cb_sub")}, 4) AS part
    FROM vs v JOIN cbs c ON c.sub = v.sub
    WHERE v.vec_id % 100 = 0
),
scored AS (
    SELECT l.probe_id, a.vec_id AS cand_id,
           CAST(SUM(CAST(l.part AS DECIMAL(25,6))) AS DOUBLE) AS adc_sim
    FROM assign a
    JOIN lut l ON l.sub = a.sub AND l.code = a.code
    WHERE l.probe_id <> a.vec_id
    GROUP BY l.probe_id, a.vec_id
)
SELECT probe_id, cand_id, adc_sim, rn FROM (
    SELECT probe_id, cand_id, adc_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY adc_sim DESC, cand_id) AS BIGINT) AS rn
    FROM scored
) WHERE rn <= 3
""",
    note="asymmetric-distance (ADC) top-3 over PQ codes -- the raw "
    "compressed-domain ranking: probes stay full-precision, candidates "
    "are represented ONLY by their 32-bit PQ codes. Per probe, a lookup "
    "table (4 subspaces x 256 codes = 1024 rounded dot parts) broadcasts; "
    "the candidate scan joins its (sub, code) assignments to the LUT and "
    "partial-agg SUMs 4 decimal-bridged parts per (probe, candidate) -- "
    "the scan never touches raw vectors, so at 100 TB it reads the code "
    "table (32 bits/vector) instead of 256-byte floats. The raw ADC "
    "ordering is approximate BY DESIGN (this near-isotropic synthetic "
    "corpus is PQ's worst case -- measured: the exact top-1 sits at ADC "
    "rank <= 51 for n=500, <= 297 for n=5000); the USABLE search is "
    "q_llm_sim_ivfpq (IVF cell restriction + constant shortlist=32 exact "
    "re-rank; flat ADC without IVF needs a linear shortlist of about n/4). "
    "This query certifies the LUT machinery itself",
    tags=("llm", "similarity", "approx"),
)
def q_llm_sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.similarity import pq_adc_topk

    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    return pq_adc_topk(emb, k=3, probe_pred="vec_id % 100 = 0")


@register(
    "q_llm_decontaminate_semantic",
    oracle=f"""
WITH tg AS (
    SELECT vec_id, embedding,
           MIN(vec_id) OVER (PARTITION BY embedding) AS gid
    FROM embeddings WHERE vec_id % 7 <> 0
), treps AS (
    SELECT vec_id, embedding FROM tg WHERE vec_id = gid
), ereps AS (
    SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
               MIN(vec_id) OVER (PARTITION BY embedding) AS gid
        FROM embeddings WHERE vec_id % 7 = 0
    ) WHERE vec_id = gid
), cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM treps ORDER BY vec_id
    LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM treps)
), t_cells AS (
    SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cent_id AS cell,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                            c.cent_id) AS arn
        FROM treps e CROSS JOIN cents c
    ) WHERE arn <= 5
), e_cells AS (
    SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cent_id AS cell,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                            c.cent_id) AS arn
        FROM ereps e CROSS JOIN cents c
    ) WHERE arn <= 5
), rep_hits AS (
    SELECT DISTINCT t.vec_id, ev.vec_id AS eval_id,
           ROUND({_DUCK_DOT.format(a="t.embedding", b="ev.embedding")}, 4) AS sim
    FROM t_cells t
    JOIN e_cells ev ON t.cell = ev.cell
    WHERE ROUND({_DUCK_DOT.format(a="t.embedding", b="ev.embedding")}, 4) >= 0.35
), best AS (
    SELECT vec_id, eval_id, sim FROM (
        SELECT vec_id, eval_id, sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, eval_id) AS rn
        FROM rep_hits
    ) WHERE rn = 1
)
SELECT g.vec_id, b.eval_id, b.sim
FROM tg g JOIN best b ON b.vec_id = g.gid
""",
    note="SEMANTIC decontamination -- the embedding-space twin of the "
    "n-gram q_llm_decontaminate: training vectors (vec_id % 7 <> 0) are "
    "flagged when any held-out eval vector (vec_id % 7 = 0) sits within "
    "cosine >= 0.35, with candidate generation through the certified "
    "multi-probe IVF index (sqrt(train_reps) centroids, nprobe=5) instead "
    "of the quadratic train x eval join. Identity-contracted PER SIDE "
    "since round 5 (an identity group can straddle the train/eval "
    "boundary, so contraction must not cross it): rep-level matching, "
    "then flags expand to every duplicate of a flagged train rep with "
    "the rep's (eval_id, sim) -- bit-identical vectors have bit-identical "
    "dots, so the expansion invents nothing. Paraphrased eval leakage "
    "passes n-gram screens; this is the screen that catches it. Output: "
    "one row per contaminated training VECTOR (not rep) with its "
    "strongest eval match (max sim, min eval_id tiebreak via "
    "MAX(STRUCT(sim, -eval_id)) partial-agg -- no window over the full "
    "candidate set). At 100 TB: eval embeddings are millions of rows vs "
    "billions of training rows -- cell-key join touches "
    "~nprobe/sqrt(n_reps) of the contracted corpus. Recall vs the exact "
    "quadratic screen pinned with a >=0.7 floor in the unit tests",
    tags=("llm", "similarity", "dedup"),
)
def q_llm_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql import Window

    from join_example_spark.operators.similarity import (
        _by_cell,
        adaptive_nprobe,
        identity_reps,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") % 7 != 0)
    # Hash-aggregate contraction (not a window over the array column —
    # see identity_reps); tgrp doubles as the rep set and, join-backed,
    # as the member -> gid expansion map.
    tgrp = train.groupBy("embedding").agg(F.min("vec_id").alias("gid"))
    treps = tgrp.select(F.col("gid").alias("vec_id"), "embedding")
    train_g = train.select("vec_id", "embedding").join(tgrp, "embedding")
    ereps = identity_reps(emb.where(F.col("vec_id") % 7 == 0))
    # Scalar plan-build action, same class as the CC convergence witness.
    n_treps = max(treps.count(), 1)
    n_centroids = int(math.ceil(math.sqrt(n_treps)))
    # Derived dial == 5 at every fixture SF (oracle pins arn <= 5 at the
    # fixture operating point); grows with ceil(sqrt(n)) past it so the
    # probed fraction — and the measured contamination recall — holds.
    nprobe = adaptive_nprobe(n_treps)
    cents = (
        treps.orderBy("vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec"))
    )

    def assign(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        cdot = F.expr(DOT_SQL.format(a="embedding", b="cvec"))
        w = Window.partitionBy("vec_id").orderBy(
            F.col("csim").desc(), F.col("cent_id")
        )
        return (
            df.crossJoin(F.broadcast(cents))
            .withColumn("csim", F.round(cdot, 4))
            .withColumn("arn", F.row_number().over(w))
            .where(F.col("arn") <= nprobe)
            .select(
                F.col("vec_id").alias(out_id),
                F.col("embedding").alias(out_vec),
                F.col("cent_id").alias("cell"),
            )
        )

    t = assign(treps, "rid", "vec_t")
    ev = assign(ereps, "eval_id", "vec_e")
    dot = F.expr(DOT_SQL.format(a="vec_t", b="vec_e"))
    hits = (
        _by_cell(t).join(_by_cell(ev), "cell")
        .withColumn("sim", F.round(dot, 4))
        .where(F.col("sim") >= 0.35)
        # A (rep, eval) pair can meet in up to nprobe shared cells.
        .dropDuplicates(["rid", "eval_id"])
    )
    best = (
        hits.groupBy("rid")
        .agg(F.max(F.struct(F.col("sim"), (-F.col("eval_id")).alias("neg"))).alias("m"))
        .select("rid", (-F.col("m.neg")).alias("eval_id"), F.col("m.sim").alias("sim"))
    )
    return (
        train_g.select("vec_id", "gid")
        .join(best, F.col("gid") == F.col("rid"))
        .select("vec_id", "eval_id", "sim")
    )


@register(
    "q_llm_sim_ivfpq",
    oracle=f"""
WITH {_PQ_CTES},
cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id
    LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings)
),
cassign AS (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM embeddings e CROSS JOIN cents c
),
home AS (SELECT vec_id, cent_id AS cell FROM cassign WHERE arn = 1),
probedc AS (
    SELECT vec_id AS probe_id, cent_id AS cell
    FROM cassign WHERE arn <= 3 AND vec_id % 100 = 0
),
cand_ids AS (
    SELECT p.probe_id, h.vec_id AS cand_id
    FROM probedc p JOIN home h ON h.cell = p.cell
    WHERE h.vec_id <> p.probe_id
),
lut AS (
    SELECT v.vec_id AS probe_id, v.sub, c.code,
           ROUND({_DUCK_DOT.format(a="v.v_sub", b="c.cb_sub")}, 4) AS part
    FROM vs v JOIN cbs c ON c.sub = v.sub
    WHERE v.vec_id % 100 = 0
),
scored AS (
    SELECT ci.probe_id, ci.cand_id,
           CAST(SUM(CAST(l.part AS DECIMAL(25,6))) AS DOUBLE) AS adc_sim
    FROM cand_ids ci
    JOIN assign a ON a.vec_id = ci.cand_id
    JOIN lut l ON l.probe_id = ci.probe_id AND l.sub = a.sub AND l.code = a.code
    GROUP BY ci.probe_id, ci.cand_id
),
short AS (
    SELECT probe_id, cand_id FROM (
        SELECT probe_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY adc_sim DESC, cand_id) AS srn
        FROM scored
    ) WHERE srn <= 32
),
rescored AS (
    SELECT s.probe_id, s.cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM short s
    JOIN embeddings p ON p.vec_id = s.probe_id
    JOIN embeddings c ON c.vec_id = s.cand_id
)
SELECT probe_id, cand_id, sim, rn FROM (
    SELECT probe_id, cand_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, cand_id) AS BIGINT) AS rn
    FROM rescored
) WHERE rn <= 3
""",
    note="the full IVFPQ stack -- how a billion-vector index actually "
    "serves: IVF cell restriction (sqrt(n) centroids, probes search their "
    "top-3 cells -- candidate volume ~nprobe/sqrt(n) of the corpus) + ADC "
    "scoring of in-cell candidates from their 32-bit PQ codes via the "
    "probe's broadcast LUT (the scan reads codes, never vectors) + exact "
    "re-rank of the per-probe top-32 shortlist (output sims exact). "
    "Composes the two separately-audited halves; recall is the product "
    "of the IVF nprobe dial (SCALE.md 3.3 curve) and PQ shortlist "
    "coverage -- exactly how production IVFPQ deployments reason about "
    "quality. At 100 TB: centroids + codebook + per-probe LUT broadcast, "
    "candidate scan is cell-key-joined 32-bit codes, exact dot touches "
    "32 vectors per probe",
    tags=("llm", "similarity", "approx"),
)
def q_llm_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from join_example_spark.operators.similarity import ivfpq_topk

    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    # Size the coarse quantizer from footer metadata (cached, no scan) so
    # the operator's default emb.count() plan-build job never runs here.
    n_centroids = int(math.ceil(math.sqrt(table_row_count(sf_dir, "embeddings"))))
    return ivfpq_topk(
        emb,
        k=3,
        n_centroids=n_centroids,
        nprobe=3,
        shortlist=32,
        probe_pred="vec_id % 100 = 0",
    )


@register(
    "q_llm_embed_outliers",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id
    LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings)
),
cells AS (
    SELECT vec_id, cell, csim FROM (
        SELECT e.vec_id, c.cent_id AS cell,
               ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) AS csim,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                            c.cent_id) AS arn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE arn = 1
),
stats AS (
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST(csim AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS cell_mean,
           sqrt(GREATEST(
               CAST(SUM(CAST(csim AS DECIMAL(12,4)) * CAST(csim AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*)
               - (CAST(SUM(CAST(csim AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))
                 * (CAST(SUM(CAST(csim AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)),
               0.0)) AS cell_std
    FROM cells GROUP BY cell
)
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, c.csim,
       s.n_members, s.cell_mean
FROM cells c JOIN stats s ON s.cell = c.cell
WHERE s.n_members >= 5 AND c.csim < s.cell_mean - 1.0 * s.cell_std
""",
    note="embedding-quality outlier screen: every vector's home-cell "
    "assignment similarity is compared against its cell's mean - 1*std "
    "(a review-queue threshold: this clean synthetic corpus has NO "
    "2-sigma tail at any SF, and an always-empty result would certify "
    "nothing; 1-sigma flags the real bottom tail - 2/1/33 rows at the "
    "three SFs) "
    "-- members far from their own coarse centroid are corrupted/garbage "
    "embedding candidates (wrong modality, zeroed rows, encoder crashes) "
    "that silently poison ANN graphs and semantic dedup. Determinism: "
    "csim is the rounded fold (4 decimals); the squared term is computed "
    "as DECIMAL(12,4)*DECIMAL(12,4) -> DECIMAL(25,8), which holds the "
    "8-decimal square EXACTLY in both engines (a DECIMAL(25,6) square "
    "would exceed Spark's 38-digit cap and be truncated to scale 6 -- "
    "engine-divergent); mean and E[x^2] accumulate in exact DECIMAL then "
    "take ONE IEEE division/sqrt on identical operands both engines, so "
    "the sigma-threshold comparison is bit-stable. Cells "
    "with < 5 members are skipped (no meaningful sigma). At 100 TB: "
    "centroids broadcast, stats is a partial-agg over O(sqrt(n)) cells "
    "broadcast back -- two map-side passes, no quadratic anything",
    tags=("llm", "similarity", "quality"),
)
def q_llm_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from join_example_spark.operators.similarity import ivf_cells

    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    # Footer-metadata row count (cached, no scan — round 13, VERDICT r12 #4).
    n_centroids = int(math.ceil(math.sqrt(table_row_count(sf_dir, "embeddings"))))
    cents = (
        emb.orderBy("vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec"))
    )
    from pyspark.sql import Window

    cdot = F.expr(DOT_SQL.format(a="embedding", b="cvec"))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cent_id")
    )
    cells = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("csim", F.round(cdot, 4))
        .withColumn("arn", F.row_number().over(w_assign))
        .where(F.col("arn") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"), "csim")
    )
    mean_expr = "CAST(SUM(CAST(csim AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)"
    stats = cells.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.expr(mean_expr).alias("cell_mean"),
        F.expr(
            "sqrt(GREATEST("
            " CAST(SUM(CAST(csim AS DECIMAL(12,4)) * CAST(csim AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*)"
            f" - ({mean_expr}) * ({mean_expr}),"
            " 0.0D))"
        ).alias("cell_std"),
    )
    return (
        cells.join(F.broadcast(stats), "cell")
        .where(
            (F.col("n_members") >= 5)
            & (F.col("csim") < F.col("cell_mean") - 1.0 * F.col("cell_std"))
        )
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            "csim",
            "n_members",
            "cell_mean",
        )
    )


@register(
    "q_llm_dedup_semantic_incr",
    oracle=f"""
WITH corpus_full AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0
), corpus AS (
    SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
               MIN(vec_id) OVER (PARTITION BY embedding) AS gid
        FROM corpus_full
    ) WHERE vec_id = gid
), arriving AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
), cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM corpus ORDER BY vec_id
    LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM corpus)
), a_cells AS (
    SELECT vec_id, embedding, cell FROM (
        SELECT a.vec_id, a.embedding, c.cent_id AS cell,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY ROUND({_DUCK_DOT.format(a="a.embedding", b="c.cvec")}, 4) DESC,
                            c.cent_id) AS arn
        FROM arriving a CROSS JOIN cents c
    ) WHERE arn <= 5
), c_cells AS (
    SELECT vec_id, embedding, cell FROM (
        SELECT k.vec_id, k.embedding, c.cent_id AS cell,
               ROW_NUMBER() OVER (
                   PARTITION BY k.vec_id
                   ORDER BY ROUND({_DUCK_DOT.format(a="k.embedding", b="c.cvec")}, 4) DESC,
                            c.cent_id) AS arn
        FROM corpus k CROSS JOIN cents c
    ) WHERE arn <= 5
), hits AS (
    SELECT vec_id_in,
           MIN(match_id) FILTER (WHERE sim = best_sim) AS match_id,
           best_sim AS sim
    FROM (
        SELECT a.vec_id AS vec_id_in, k.vec_id AS match_id,
               ROUND({_DUCK_DOT.format(a="a.embedding", b="k.embedding")}, 4) AS sim,
               MAX(ROUND({_DUCK_DOT.format(a="a.embedding", b="k.embedding")}, 4))
                   OVER (PARTITION BY a.vec_id) AS best_sim
        FROM (SELECT DISTINCT vec_id, embedding, cell FROM a_cells) a
        JOIN (SELECT DISTINCT vec_id, embedding, cell FROM c_cells) k
          ON a.cell = k.cell
        WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="k.embedding")}, 4) >= 0.35
    )
    GROUP BY vec_id_in, best_sim
)
SELECT ar.vec_id,
       CASE WHEN h.match_id IS NOT NULL THEN 'dup_semantic' ELSE 'kept' END AS status,
       CAST(h.match_id AS BIGINT) AS match_id,
       h.sim
FROM arriving ar LEFT JOIN hits h ON h.vec_id_in = ar.vec_id
""",
    note="incremental SEMANTIC ingest dedup -- the embedding twin of "
    "q_llm_dedup_incremental and the vector-store front door: arriving "
    "vectors (vec_id % 5 = 0) are judged against the STATIC corpus "
    "through a corpus-derived multi-probe IVF index (sqrt(corpus-reps) "
    "centroids, nprobe=5 both sides -- the audited-recall configuration), "
    "exact rounded dot >= 0.35 verify, one kept/dup_semantic verdict per "
    "arriving vector with its best corpus match (max sim, lowest id on "
    "ties). The corpus side is identity-contracted since round 5 "
    "(candidates/centroids = distinct-vector reps; a duplicate corpus "
    "member has a bit-identical dot to its rep and the min-id tie rule "
    "already elects the rep, so the verdict semantics survive while a "
    "duplicate-saturated store costs its distinct size). Verdicts depend "
    "ONLY on (vector, corpus) -- never on other arriving vectors -- so "
    "micro-batch ingestion reproduces the one-shot answer exactly "
    "(asserted by the streaming equivalence AND checkpoint-restart tests "
    "over stream_semantic_ingest). At 100 TB the contracted corpus index "
    "is precomputed and bucketed by cell; arriving partitions assign "
    "map-side",
    tags=("llm", "dedup", "similarity", "approx"),
)
def q_llm_dedup_semantic_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.similarity import semantic_ingest_verdicts

    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_ingest_verdicts(
        batch=emb.where(F.col("vec_id") % 5 == 0),
        corpus=emb.where(F.col("vec_id") % 5 != 0),
    )


def _duck_pagerank_sql(iters: int = 3) -> str:
    """Unrolled power-method PageRank oracle over the label-blocked
    near-dup graph — textually mirrors operators/graph.py:pagerank_fixed
    (same ROUND(r/deg, 8) contributions, exact DECIMAL(25,8) sums, same
    parsed-literal 0.15/0.85 affine map)."""
    ctes = [
        f"""pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) >= 0.35
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
), deg AS (
    SELECT src AS v, COUNT(*) AS deg FROM edges GROUP BY src
), nn AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
), r0 AS (
    SELECT vec_id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
    FROM embeddings
)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""c{i} AS (
    SELECT e.dst, ROUND(p.r / d.deg, 8) AS c
    FROM edges e
    JOIN r{i - 1} p ON p.vec_id = e.src
    JOIN deg d ON d.v = e.src
), s{i} AS (
    SELECT dst, CAST(SUM(CAST(c AS DECIMAL(25,8))) AS DOUBLE) AS s
    FROM c{i} GROUP BY dst
), r{i} AS (
    SELECT v.vec_id,
           ROUND(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                 + CAST(0.85 AS DOUBLE) * COALESCE(s{i}.s, CAST(0.0 AS DOUBLE)),
                 8) AS r
    FROM embeddings v LEFT JOIN s{i} ON s{i}.dst = v.vec_id
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vec_id, rank, rn
FROM (
    SELECT vec_id, r AS rank,
           CAST(ROW_NUMBER() OVER (ORDER BY r DESC, vec_id) AS BIGINT) AS rn
    FROM r{iters}
)
WHERE rn <= 20
"""
    )


@register(
    "q_graph_pagerank",
    oracle=_duck_pagerank_sql(3),
    note="fixed-3-iteration power-method PageRank over the label-blocked "
    "embedding near-dup graph (damping 0.85, teleport 0.15/N, no "
    "dangling redistribution — stated identically in the oracle): the "
    "centrality that ranks a cluster's most-connected members, e.g. to "
    "pick canonical representatives or prioritize review queues. "
    "Bit-deterministic by the decimal-bridge pattern: per-edge "
    "contributions are ROUND(r/deg, 8) doubles summed EXACTLY in "
    "DECIMAL(25,8) (order-independent under any partitioning), each "
    "iteration one rounded affine map; 0.15 is a parsed literal on both "
    "sides, never computed as 1 - 0.85 (IEEE 1.0-0.85 is a DIFFERENT "
    "double). Edges + degrees localCheckpoint once so 3 iterations do "
    "not re-run the pair join 3x. Top-20 under a total order. At 100 TB "
    "each iteration is one edge join + one narrow (dst, contrib) "
    "shuffle — the Pregel cost shape with no driver-side state at all",
    tags=("llm", "similarity", "graph"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from join_example_spark.operators.graph import pagerank_fixed

    emb = read_table(spark, sf_dir, "embeddings")
    nodes = emb.select("vec_id")
    pairs = cosine_near_pairs(emb, threshold=0.35)
    r = pagerank_fixed(nodes, pairs, iters=3, damping=0.85)
    # TakeOrderedAndProject over the corpus-sized rank vector, THEN a
    # row_number over the surviving 20 rows — never a global-order window
    # over all n nodes (the unpartitioned-window scale hazard).
    top = r.orderBy(F.col("r").desc(), F.col("vec_id")).limit(20)
    w = Window.orderBy(F.col("r").desc(), F.col("vec_id"))
    return (
        top.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .select("vec_id", F.col("r").alias("rank"), "rn")
    )


@register(
    "q_llm_sim_imipq",
    oracle=f"""
WITH {{PQ}},
{{IMI}},
home AS (
    SELECT a1.vec_id, a1.cidx * 1024 + a2.cidx AS cell
    FROM imi_assign a1
    JOIN imi_assign a2 ON a1.vec_id = a2.vec_id
    WHERE a1.rn1 = 1 AND a2.rn2 = 1
),
probedc AS (
    SELECT vec_id AS probe_id, cell FROM imi_cells WHERE vec_id % 100 = 0
),
cand_ids AS (
    SELECT p.probe_id, h.vec_id AS cand_id
    FROM probedc p JOIN home h ON h.cell = p.cell
    WHERE h.vec_id <> p.probe_id
),
lut AS (
    SELECT v.vec_id AS probe_id, v.sub, c.code,
           ROUND({{DOT_VS}}, 4) AS part
    FROM vs v JOIN cbs c ON c.sub = v.sub
    WHERE v.vec_id % 100 = 0
),
scored AS (
    SELECT ci.probe_id, ci.cand_id,
           CAST(SUM(CAST(l.part AS DECIMAL(25,6))) AS DOUBLE) AS adc_sim
    FROM cand_ids ci
    JOIN assign a ON a.vec_id = ci.cand_id
    JOIN lut l ON l.probe_id = ci.probe_id AND l.sub = a.sub AND l.code = a.code
    GROUP BY ci.probe_id, ci.cand_id
),
short AS (
    SELECT probe_id, cand_id FROM (
        SELECT probe_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY adc_sim DESC, cand_id) AS srn
        FROM scored
    ) WHERE srn <= 32
),
rescored AS (
    SELECT s.probe_id, s.cand_id,
           ROUND({{DOT_PC}}, 4) AS sim
    FROM short s
    JOIN embeddings p ON p.vec_id = s.probe_id
    JOIN embeddings c ON c.vec_id = s.cand_id
)
SELECT probe_id, cand_id, sim, rn FROM (
    SELECT probe_id, cand_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, cand_id) AS BIGINT) AS rn
    FROM rescored
) WHERE rn <= 3
""".format(
        PQ=_PQ_CTES,
        IMI=_duck_imi_ctes("embeddings", "16", 2, 4),
        DOT_VS=_DUCK_DOT.format(a="v.v_sub", b="c.cb_sub"),
        DOT_PC=_DUCK_DOT.format(a="p.embedding", b="c.embedding"),
    ),
    note="Multi-D-ADC — the search system of the inverted-multi-index "
    "paper (Babenko & Lempitsky 2012 §5), composed from this repo's "
    "audited halves like q_llm_sim_ivfpq: IMI product-cell restriction "
    "(two 16-centroid half-codebooks, 256 cells for 2·n·16 assignment "
    "dots; probes search their 2×2 multi-sequence product) + ADC "
    "scoring of in-cell candidates from 32-bit PQ codes via the "
    "broadcast LUT + exact re-rank of the per-probe top-32 shortlist. "
    "The coarse stage trades IVFPQ's n·K assignment for 2·n·C with "
    "K = C² cells — the sub-n^1.5 front end, same compressed-domain "
    "scan behind it; candidates single-assigned so no pair dedup before "
    "ADC. Recall is the product of the IMI cell dial (q_llm_imi_recall "
    "curve) and PQ shortlist coverage",
    tags=("llm", "similarity", "approx"),
)
def q_llm_sim_imipq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.similarity import imipq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return imipq_topk(
        emb, k=3, c_per_half=16, nprobe_half=2, shortlist=32,
        probe_pred="vec_id % 100 = 0",
    )


def _duck_bfs_sql(iters: int = 4, seed_mod: int = 97, tau: float = 0.25) -> str:
    """Unrolled multi-source BFS oracle over the label-blocked near-dup
    graph — textually mirrors operators/graph.py:bfs_distances (same
    integer min-plus relaxation per level; no WITH RECURSIVE walk, which
    would enumerate paths and explode on cyclic duplicate cliques)."""
    ctes = [
        f"""pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) >= {tau}
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
), d0 AS (
    SELECT vec_id AS v, CAST(0 AS BIGINT) AS d
    FROM embeddings WHERE vec_id % {seed_mod} = 0
)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""u{i} AS (
    SELECT v, d FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS v, p.d + 1 AS d
    FROM d{i - 1} p JOIN edges e ON e.src = p.v
), d{i} AS (
    SELECT v, CAST(MIN(d) AS BIGINT) AS d FROM u{i} GROUP BY v
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v AS vec_id, d AS dist FROM d{iters}
"""
    )


@register(
    "q_graph_bfs",
    oracle=_duck_bfs_sql(4),
    note="multi-source BFS shortest-path distances (4 hops) from the "
    "vec_id % 97 = 0 seed set over the label-blocked tau=0.25 embedding "
    "similarity graph (looser than the 0.35 dedup threshold so genuine "
    "2+-hop chains exist at every fixture SF — at 0.35 the graph has "
    "ZERO multi-hop structure at sf0.001 and the query would certify "
    "nothing but the seed echo) — the reachability/contamination-radius primitive (how far "
    "does a flagged document's duplicate neighborhood extend?). Pure "
    "integer min-plus relaxation, level-synchronous, bit-deterministic "
    "under any partitioning with NO float anywhere; the oracle is the "
    "identical unrolled min-relaxation CTE chain, deliberately not a "
    "WITH RECURSIVE walk (path enumeration explodes on cyclic duplicate "
    "cliques; min-relaxation stays node-sized every round). Edges "
    "localCheckpoint once, each frontier eager-localCheckpoints because "
    "it is referenced twice per round (relax + union) — the sanctioned "
    "twice-referenced-subplan pattern. At 100 TB each round is one "
    "edge-key join + one narrow (node, dist) shuffle — Pregel cost, "
    "zero driver-side state",
    tags=("llm", "similarity", "graph"),
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.graph import bfs_distances

    emb = read_table(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id") % 97 == 0)
    pairs = cosine_near_pairs(emb, threshold=0.25)
    dist = bfs_distances(seeds, pairs, iters=4)
    return dist.select(F.col("v").alias("vec_id"), F.col("d").alias("dist"))


def _duck_lpa_sql(iters: int = 3, tau: float = 0.25) -> str:
    """Unrolled synchronous label-propagation oracle — textually mirrors
    operators/graph.py:label_propagation_fixed (same mode-with-smallest-
    label tiebreak, same keep-own fallback for isolated nodes)."""
    ctes = [
        f"""pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) >= {tau}
), edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
), l0 AS (
    SELECT vec_id AS v, CAST(vec_id AS BIGINT) AS lbl FROM embeddings
)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""c{i} AS (
    SELECT e.dst AS v, p.lbl AS nlbl, COUNT(*) AS c
    FROM l{i - 1} p JOIN edges e ON e.src = p.v
    GROUP BY e.dst, p.lbl
), m{i} AS (
    SELECT v, nlbl AS new_lbl FROM (
        SELECT v, nlbl,
               ROW_NUMBER() OVER (
                   PARTITION BY v ORDER BY c DESC, nlbl ASC) AS rn
        FROM c{i}
    ) WHERE rn = 1
), l{i} AS (
    SELECT l.v, CAST(COALESCE(m.new_lbl, l.lbl) AS BIGINT) AS lbl
    FROM l{i - 1} l LEFT JOIN m{i} m ON m.v = l.v
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v AS vec_id, lbl AS community FROM l{iters}
"""
    )


@register(
    "q_graph_label_prop",
    oracle=_duck_lpa_sql(3),
    note="fixed-3-round synchronous label propagation (deterministic LPA: "
    "each node adopts the MODE of neighbor labels, ties to the SMALLEST "
    "label, isolated nodes keep their own) over the tau=0.25 embedding "
    "similarity graph — the lightweight community-detection rung between "
    "connected components (pure reachability) and PageRank (centrality): "
    "dense duplicate cliques converge to one community while bridge "
    "edges do NOT glue weakly-linked groups the way min-label CC does. "
    "All-integer algebra, bit-deterministic under any partitioning; the "
    "oracle is the identical unrolled mode-pick CTE chain. Per round one "
    "edge join + one (node, label) count + a per-node top-1 window + "
    "one join-back; node-sized label vectors eager-localCheckpoint "
    "(twice-referenced-subplan rule). Pregel cost shape at 100 TB",
    tags=("llm", "similarity", "graph"),
)
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.graph import label_propagation_fixed

    emb = read_table(spark, sf_dir, "embeddings")
    nodes = emb.select("vec_id")
    pairs = cosine_near_pairs(emb, threshold=0.25)
    lbl = label_propagation_fixed(nodes, pairs, iters=3)
    return lbl.select(F.col("v").alias("vec_id"), F.col("lbl").alias("community"))


def _duck_kcore_sql(k: int = 2, rounds: int = 3, tau: float = 0.25) -> str:
    """Unrolled fixed-round k-core peel oracle — textually mirrors
    operators/graph.py:kcore_peel (same degree-then-two-semi-joins round)."""
    ctes = [
        f"""pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) >= {tau}
), e0 AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""k{i} AS (
    SELECT src FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {k}
), e{i} AS (
    SELECT e.src, e.dst
    FROM e{i - 1} e
    JOIN k{i} a ON e.src = a.src
    JOIN k{i} b ON e.dst = b.src
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM e{rounds} GROUP BY src
"""
    )


@register(
    "q_graph_kcore",
    oracle=_duck_kcore_sql(2, 3),
    note="fixed-3-round 2-core peel of the tau=0.25 similarity graph: "
    "each round drops every node of degree < 2 with its edges, then the "
    "survivors' degrees are reported — the dense-cluster extractor that "
    "separates genuinely interlinked duplicate groups from dangling "
    "chain-ends (a node pair joined by a single bridge edge never "
    "survives, unlike in connected components). Fixed rounds so the "
    "oracle unrolls identically (the PageRank/BFS/LPA convention); "
    "all-integer degree arithmetic, bit-deterministic under any "
    "partitioning. Per round one degree aggregate + two semi-joins on "
    "the shrinking edge list (eager-localCheckpointed — referenced "
    "three ways per round). Pregel cost shape at 100 TB",
    tags=("llm", "similarity", "graph"),
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.graph import kcore_peel

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_pairs(emb, threshold=0.25)
    core = kcore_peel(pairs, k=2, rounds=3)
    return core.select(F.col("v").alias("vec_id"), "core_deg")


MARGIN_BASELINE_ORACLE = f"""
WITH probes AS (
    SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
    WHERE vec_id % 50 = 0
), corpus AS (
    SELECT vec_id AS cand_id, embedding AS cv FROM embeddings
    WHERE vec_id % 50 <> 0
), scored AS (
    SELECT p.probe_id, c.cand_id,
           ROUND({_DUCK_DOT.format(a="p.pv", b="c.cv")}, 4) AS sim
    FROM probes p CROSS JOIN corpus c
), ranked AS (
    SELECT probe_id, cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM scored
), best2 AS (
    SELECT probe_id,
           MAX(CASE WHEN rn = 1 THEN cand_id END) AS best_id,
           MAX(CASE WHEN rn = 1 THEN sim END) AS best_sim,
           MAX(CASE WHEN rn = 2 THEN sim END) AS second_sim
    FROM ranked WHERE rn <= 2 GROUP BY probe_id
)
SELECT probe_id, CAST(best_id AS BIGINT) AS best_id, best_sim,
       best_sim - second_sim AS margin,
       (best_sim - second_sim) >= 0.05 AND best_sim >= 0.3 AS accepted
FROM best2
"""


def q_llm_mine_margin_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based mining, exact flat ground truth (the Artetxe & Schwenk
    bitext-mining acceptance rule, absolute-margin variant): each probe
    (``vec_id % 50 == 0``) keeps its best corpus match only if best_sim
    clears a floor AND beats the second-best by a margin — the curation
    signal that rejects hubness artifacts (a probe whose neighborhood is
    uniformly mediocre gets a small margin and is dropped, where a plain
    top-1 would keep it).

    Determinism: sims are ROUND(fold, 4) doubles under a (sim desc,
    cand_id) total order; margin is one exact-rounded IEEE subtraction of
    identical operands, and both acceptance comparisons evaluate on
    identical doubles.

    Scale baseline by design: the flat probes x corpus crossJoin is the
    exact truth that the declared q_llm_mine_margin_recall runs as its
    flat side and that tests compare the family default
    q_llm_mine_margin_ivf against. Not a declared query; its row-level
    DuckDB twin is ``MARGIN_BASELINE_ORACLE``, oracle-pinned in tests at
    both fixture SFs.
    """
    from pyspark.sql import Window

    from join_example_spark.operators.similarity import DOT_SQL

    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    probes = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )
    corpus = emb.where(F.col("vec_id") % 50 != 0).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    scored = probes.crossJoin(corpus).select(
        "probe_id",
        "cand_id",
        F.round(F.expr(DOT_SQL.format(a="pv", b="cv")), 4).alias("sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    best2 = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("probe_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cand_id"))).alias("best_id"),
            F.max(F.when(F.col("rn") == 1, F.col("sim"))).alias("best_sim"),
            F.max(F.when(F.col("rn") == 2, F.col("sim"))).alias("second_sim"),
        )
    )
    margin = F.col("best_sim") - F.col("second_sim")
    return best2.select(
        "probe_id",
        F.col("best_id").cast("bigint").alias("best_id"),
        "best_sim",
        margin.alias("margin"),
        ((margin >= F.lit(0.05)) & (F.col("best_sim") >= F.lit(0.3))).alias(
            "accepted"
        ),
    )


@register(
    "q_llm_mine_margin_ivf",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id
    LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings)
), assign AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM embeddings e CROSS JOIN cents c
), corpus AS (
    SELECT vec_id AS cand_id, embedding AS cv, cent_id AS cell
    FROM assign WHERE arn <= 4 AND vec_id % 50 <> 0
), probes AS (
    SELECT vec_id AS probe_id, embedding AS pv, cent_id AS cell
    FROM assign WHERE arn <= 5 AND vec_id % 50 = 0
), scored AS (
    SELECT p.probe_id, c.cand_id,
           MAX(ROUND({_DUCK_DOT.format(a="p.pv", b="c.cv")}, 4)) AS sim
    FROM probes p JOIN corpus c ON p.cell = c.cell
    GROUP BY p.probe_id, c.cand_id
), ranked AS (
    SELECT probe_id, cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM scored
), best2 AS (
    SELECT probe_id,
           MAX(CASE WHEN rn = 1 THEN cand_id END) AS best_id,
           MAX(CASE WHEN rn = 1 THEN sim END) AS best_sim,
           MAX(CASE WHEN rn = 2 THEN sim END) AS second_sim
    FROM ranked WHERE rn <= 2 GROUP BY probe_id
), est AS (
    SELECT probe_id, best_id, best_sim, second_sim
    FROM best2 WHERE second_sim IS NOT NULL
), acc AS (
    SELECT probe_id FROM est
    WHERE best_sim - second_sim >= 0.04 AND best_sim >= 0.29
), rescored AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM embeddings p
    JOIN acc a ON a.probe_id = p.vec_id
    JOIN embeddings c ON c.vec_id % 50 <> 0
), vranked AS (
    SELECT probe_id, cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM rescored
), vbest2 AS (
    SELECT probe_id,
           MAX(CASE WHEN rn = 1 THEN cand_id END) AS vbest_id,
           MAX(CASE WHEN rn = 1 THEN sim END) AS vbest_sim,
           MAX(CASE WHEN rn = 2 THEN sim END) AS vsecond_sim
    FROM vranked WHERE rn <= 2 GROUP BY probe_id
)
SELECT e.probe_id,
       CAST(COALESCE(v.vbest_id, e.best_id) AS BIGINT) AS best_id,
       COALESCE(v.vbest_sim, e.best_sim) AS best_sim,
       COALESCE(v.vbest_sim, e.best_sim)
           - COALESCE(v.vsecond_sim, e.second_sim) AS margin,
       COALESCE(v.vbest_sim, e.best_sim)
           - COALESCE(v.vsecond_sim, e.second_sim) >= 0.05
           AND COALESCE(v.vbest_sim, e.best_sim) >= 0.3 AS accepted
FROM est e LEFT JOIN vbest2 v ON v.probe_id = e.probe_id
""",
    note="the FAMILY-DEFAULT margin miner (round 9; screen symmetrized + "
    "gray-zone escalation round 10): the probe side routes through the "
    "multi-probe IVF front end — ceil(sqrt(n)) lowest-id centroids, "
    "margin_screen_dials(n) = (q=4, p=5) at every fixture SF (the "
    "arn <= 4 / arn <= 5 oracle pins both; the fixture-drift test pins "
    "the dial) — and the Artetxe & Schwenk margin rule runs over the "
    "candidate set instead of the full corpus. Margin needs each "
    "probe's top-2; round 9's single-home-cell corpus capped accept "
    "recall at P(home cell in probe window) = 0.656 at the 64x tier "
    "with EVERY miss a best-dropped margin collapse, so round 10 "
    "SYMMETRIZES the screen: corpus candidates are multi-assigned to "
    "their top-4 cells (each top-2 member gets 4 chances to intersect "
    "the probe window) with the probe dial halved — candidate volume "
    "2x round 9, measured accept recall 0.656->0.922 (default dial) "
    "and 0.422->0.672 (0.90 notch) at the 64x tier "
    "(SCALE.md §3.13). A pair can now "
    "meet in up to 4 cells, so scored "
    "pairs are de-duplicated (GROUP BY probe,cand with MAX over "
    "identical rounded sims) before the top-2 window — one extra "
    "narrow-row shuffle, same asymptotic volume. Probes whose probed "
    "cells yield < 2 candidates are dropped (margin undefined) — "
    "identically on both engines via the second_sim IS NOT NULL filter. "
    "TWO-STAGE with GRAY-ZONE ESCALATION: tentative accepts AND any "
    "probe whose screen estimates land within eps=0.01 of the gates "
    "(margin >= 0.04, best >= 0.29 — literals, see MARGIN_ESC_* in "
    "operators/similarity.py) are VERIFIED by an exact full-corpus "
    "rescan (verify-the-positives), so every accepted row carries the "
    "EXACT flat-truth best/margin and accept precision is 1.0 by "
    "construction; a borderline screen estimate can never silently "
    "drop a true accept, and candidate restriction can only lose "
    "accepts, never fabricate them. The escalated set is ~7-10% of "
    "probes at the 64x tier, so verify costs |escalated|*n folds vs "
    "the flat scan's (n/50)*n. At 100 TB: centroids broadcast, "
    "assignment map-side, ONE shuffle of probes+corpus on the cell key "
    "(repartition-pinned against AQE fan-out-blind coalescing) plus "
    "one narrow pair-dedup shuffle, screen work n_probes * q*p/C of "
    "the corpus, verify work |escalated| * corpus (broadcast accepts). "
    "Isotropic-fixture caveat (SCALE.md §3.12/§3.13): near-tie "
    "neighborhoods make screen margins collapse when a top-2 member is "
    "dropped; the symmetrized screen is what recovers them (the "
    "eps-widened gate alone is measured blind there). Candidate-subset "
    "dominance (screen best_sim <= flat best_sim) and accepted-set "
    "exactness are pinned in tests/test_round9_ops.py; escalation "
    "exactness in tests/test_round10_ops.py",
    tags=("llm", "similarity", "search", "approx"),
)
def q_llm_mine_margin_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql import Window

    from join_example_spark.operators.similarity import (
        DOT_SQL,
        MARGIN_ESC_FLOOR,
        MARGIN_ESC_MARGIN,
        _by_cell,
        ivf_cells,
        margin_screen_dials,
    )

    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    # Footer-metadata row count (cached, no scan — round 13, VERDICT r12 #4).
    n = table_row_count(sf_dir, "embeddings")
    n_centroids = int(math.ceil(math.sqrt(n)))
    q_assign, nprobe = margin_screen_dials(n)
    corpus = (
        ivf_cells(emb, n_centroids, nprobe=q_assign)
        .where(F.col("vec_id") % 50 != 0)
        .select(F.col("vec_id").alias("cand_id"), "cell", F.col("embedding").alias("cv"))
    )
    probes = (
        ivf_cells(emb, n_centroids, nprobe=nprobe)
        .where(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("probe_id"), "cell", F.col("embedding").alias("pv"))
    )
    # Both sides multi-assigned: a pair can meet in up to q_assign cells —
    # de-duplicate (identical rounded sims, so MAX == the one value) before
    # the top-2 window; narrow (int, int, double) rows, map-side combined.
    scored = (
        _by_cell(probes)
        .join(_by_cell(corpus), "cell")
        .select(
            "probe_id",
            "cand_id",
            F.round(F.expr(DOT_SQL.format(a="pv", b="cv")), 4).alias("sim"),
        )
        .groupBy("probe_id", "cand_id")
        .agg(F.max("sim").alias("sim"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    best2 = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("probe_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cand_id"))).alias("best_id"),
            F.max(F.when(F.col("rn") == 1, F.col("sim"))).alias("best_sim"),
            F.max(F.when(F.col("rn") == 2, F.col("sim"))).alias("second_sim"),
        )
    )
    # Stage-1 estimates feed TWO branches below (the accept semi-join and
    # the final left join); localCheckpoint the per-probe table (tiny —
    # n/50 rows) so the whole IVF subplan doesn't execute twice (the
    # round-5 branch-split lesson; executor-side, no driver data).
    est = (
        best2.where(F.col("second_sim").isNotNull())
        .localCheckpoint(eager=True)
    )
    margin_e = F.col("best_sim") - F.col("second_sim")
    acc = est.where(
        (margin_e >= F.lit(MARGIN_ESC_MARGIN))
        & (F.col("best_sim") >= F.lit(MARGIN_ESC_FLOOR))
    ).select("probe_id")
    # Verify-the-positives with gray-zone escalation: exact full-corpus
    # rescan of the tentative accepts AND every probe within eps of the
    # gates (broadcast both tiny sides) — accepted rows become the exact
    # flat truth, so screen-stage margin inflation cannot fabricate an
    # accept, and a borderline deflated estimate cannot silently drop one.
    acc_p = emb.join(
        F.broadcast(acc), emb.vec_id == F.col("probe_id")
    ).select("probe_id", F.col("embedding").alias("pv"))
    corpus_full = emb.where(F.col("vec_id") % 50 != 0).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    rescored = corpus_full.crossJoin(F.broadcast(acc_p)).select(
        "probe_id",
        "cand_id",
        F.round(F.expr(DOT_SQL.format(a="pv", b="cv")), 4).alias("sim"),
    )
    vbest2 = (
        rescored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("probe_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cand_id"))).alias("vbest_id"),
            F.max(F.when(F.col("rn") == 1, F.col("sim"))).alias("vbest_sim"),
            F.max(F.when(F.col("rn") == 2, F.col("sim"))).alias("vsecond_sim"),
        )
    )
    j = est.join(vbest2, "probe_id", "left")
    best_sim_f = F.coalesce(F.col("vbest_sim"), F.col("best_sim"))
    second_f = F.coalesce(F.col("vsecond_sim"), F.col("second_sim"))
    margin_f = best_sim_f - second_f
    return j.select(
        "probe_id",
        F.coalesce(F.col("vbest_id"), F.col("best_id"))
        .cast("bigint")
        .alias("best_id"),
        best_sim_f.alias("best_sim"),
        margin_f.alias("margin"),
        ((margin_f >= F.lit(0.05)) & (best_sim_f >= F.lit(0.3))).alias("accepted"),
    )


@register(
    "q_llm_mine_margin_recall",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id
    LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings)
), assign AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM embeddings e CROSS JOIN cents c
), corpus AS (
    SELECT vec_id AS cand_id, embedding AS cv, cent_id AS cell
    FROM assign WHERE arn <= 4 AND vec_id % 50 <> 0
), probes AS (
    SELECT vec_id AS probe_id, embedding AS pv, cent_id AS cell
    FROM assign WHERE arn <= 5 AND vec_id % 50 = 0
), scored AS (
    SELECT p.probe_id, c.cand_id,
           MAX(ROUND({_DUCK_DOT.format(a="p.pv", b="c.cv")}, 4)) AS sim
    FROM probes p JOIN corpus c ON p.cell = c.cell
    GROUP BY p.probe_id, c.cand_id
), ranked AS (
    SELECT probe_id, cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM scored
), best2 AS (
    SELECT probe_id,
           MAX(CASE WHEN rn = 1 THEN cand_id END) AS best_id,
           MAX(CASE WHEN rn = 1 THEN sim END) AS best_sim,
           MAX(CASE WHEN rn = 2 THEN sim END) AS second_sim
    FROM ranked WHERE rn <= 2 GROUP BY probe_id
), est AS (
    SELECT probe_id, best_id, best_sim, second_sim
    FROM best2 WHERE second_sim IS NOT NULL
), acc AS (
    SELECT probe_id FROM est
    WHERE best_sim - second_sim >= 0.04 AND best_sim >= 0.29
), rescored AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM embeddings p
    JOIN acc a ON a.probe_id = p.vec_id
    JOIN embeddings c ON c.vec_id % 50 <> 0
), vranked AS (
    SELECT probe_id, cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM rescored
), vbest2 AS (
    SELECT probe_id,
           MAX(CASE WHEN rn = 1 THEN cand_id END) AS vbest_id,
           MAX(CASE WHEN rn = 1 THEN sim END) AS vbest_sim,
           MAX(CASE WHEN rn = 2 THEN sim END) AS vsecond_sim
    FROM vranked WHERE rn <= 2 GROUP BY probe_id
), ivf_acc AS (
    SELECT e.probe_id,
           CAST(COALESCE(v.vbest_id, e.best_id) AS BIGINT) AS v_best
    FROM est e LEFT JOIN vbest2 v ON v.probe_id = e.probe_id
    WHERE COALESCE(v.vbest_sim, e.best_sim)
              - COALESCE(v.vsecond_sim, e.second_sim) >= 0.05
      AND COALESCE(v.vbest_sim, e.best_sim) >= 0.3
), fscored AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM embeddings p
    JOIN embeddings c ON c.vec_id % 50 <> 0
    WHERE p.vec_id % 50 = 0
), franked AS (
    SELECT probe_id, cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM fscored
), fbest2 AS (
    SELECT probe_id,
           MAX(CASE WHEN rn = 1 THEN cand_id END) AS best_id,
           MAX(CASE WHEN rn = 1 THEN sim END) AS best_sim,
           MAX(CASE WHEN rn = 2 THEN sim END) AS second_sim
    FROM franked WHERE rn <= 2 GROUP BY probe_id
), flat_acc AS (
    SELECT probe_id, CAST(best_id AS BIGINT) AS t_best
    FROM fbest2
    WHERE best_sim - second_sim >= 0.05 AND best_sim >= 0.3
), j AS (
    SELECT i.probe_id, i.v_best, f.t_best
    FROM ivf_acc i LEFT JOIN flat_acc f ON f.probe_id = i.probe_id
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ivf_accepts,
           CAST(COALESCE(SUM(CASE WHEN v_best = t_best THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_hits
    FROM j
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM flat_acc) AS n_true_accepts,
       n_ivf_accepts,
       n_hits,
       n_hits = n_ivf_accepts AS precision_exact,
       ROUND(CAST(n_hits AS DOUBLE)
             / NULLIF(CAST((SELECT COUNT(*) FROM flat_acc) AS DOUBLE), 0.0),
             6) AS accept_recall
FROM agg
""",
    note="the margin-mining family's ACCEPT-RECALL AUDIT as a declared "
    "query (round 10) — same idiom as q_llm_ann_recall_nprobe / "
    "q_llm_imi_recall: run the family default (symmetrized two-stage "
    "q_llm_mine_margin_ivf plan) AND the exact flat ground truth "
    "(q_llm_mine_margin_baseline plan) side by side, and emit the "
    "counts the consumer actually pays for: n_true_accepts, "
    "n_ivf_accepts, n_hits (accepts agreeing with the flat best), "
    "precision_exact (n_hits == n_ivf_accepts — the "
    "verify-the-positives 1.0-precision contract, asserted literally "
    "by the oracle twin), accept_recall (NULL when the fixture has no "
    "true accepts, via NULLIF — sf0.001's accept set is empty; sf0.01 "
    "has two). The Spark side literally CALLS the two declared query "
    "functions and joins their accepted rows, so this audit can never "
    "drift from the plans it certifies; the oracle twin restates both "
    "plans' SQL (shared CTEs f-prefixed for the flat side). Ground "
    "truth is quadratic BY DEFINITION — production runs this audit on "
    "a bounded probe sample exactly as the tier instruments do "
    "(the SCALE.md §3.13 tier probe measured 0.9219/0.6719 at the "
    "64x tier); the declared form certifies the audit "
    "MACHINERY cross-engine at fixture scale",
    tags=("llm", "similarity", "approx"),
)
def q_llm_mine_margin_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat_acc = (
        q_llm_mine_margin_baseline(spark, sf_dir)
        .where("accepted")
        .select("probe_id", F.col("best_id").alias("t_best"))
    )
    ivf_acc = (
        q_llm_mine_margin_ivf(spark, sf_dir)
        .where("accepted")
        .select("probe_id", F.col("best_id").alias("v_best"))
    )
    j = ivf_acc.join(flat_acc, "probe_id", "left")
    counts = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ivf_accepts"),
        F.coalesce(
            F.sum(F.when(F.col("v_best") == F.col("t_best"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_hits"),
    )
    truth_n = flat_acc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_accepts")
    )
    return truth_n.crossJoin(counts).select(
        "n_true_accepts",
        "n_ivf_accepts",
        "n_hits",
        (F.col("n_hits") == F.col("n_ivf_accepts")).alias("precision_exact"),
        F.round(
            F.col("n_hits").cast("double")
            / F.nullif(F.col("n_true_accepts").cast("double"), F.lit(0.0)),
            6,
        ).alias("accept_recall"),
    )


MARGIN_RATIO_BASELINE_ORACLE = f"""
WITH fwd AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM embeddings p
    JOIN embeddings c ON c.vec_id % 100 <> 0
    WHERE p.vec_id % 100 = 0
), fr AS (
    SELECT probe_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM fwd
), fden AS (
    SELECT probe_id,
           (GREATEST(MAX(CASE WHEN rn = 1 THEN sim END), 0.0)
            + GREATEST(COALESCE(MAX(CASE WHEN rn = 2 THEN sim END), 0.0), 0.0)
            + GREATEST(COALESCE(MAX(CASE WHEN rn = 3 THEN sim END), 0.0), 0.0)
            + GREATEST(COALESCE(MAX(CASE WHEN rn = 4 THEN sim END), 0.0), 0.0)) / 8.0 AS den_x
    FROM fr WHERE rn <= 4 GROUP BY probe_id
), br AS (
    SELECT cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY cand_id ORDER BY sim DESC, probe_id) AS rn
    FROM fwd
), bden AS (
    SELECT cand_id,
           (GREATEST(MAX(CASE WHEN rn = 1 THEN sim END), 0.0)
            + GREATEST(COALESCE(MAX(CASE WHEN rn = 2 THEN sim END), 0.0), 0.0)
            + GREATEST(COALESCE(MAX(CASE WHEN rn = 3 THEN sim END), 0.0), 0.0)
            + GREATEST(COALESCE(MAX(CASE WHEN rn = 4 THEN sim END), 0.0), 0.0)) / 8.0 AS den_y
    FROM br WHERE rn <= 4 GROUP BY cand_id
), sc AS (
    SELECT f.probe_id, f.cand_id, f.sim,
           f.sim / (d.den_x + b.den_y) AS ratio
    FROM fwd f
    JOIN fden d ON d.probe_id = f.probe_id
    JOIN bden b ON b.cand_id = f.cand_id
), rk AS (
    SELECT probe_id, cand_id, sim, ratio,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY ratio DESC, cand_id) AS rn
    FROM sc
)
SELECT probe_id, CAST(cand_id AS BIGINT) AS best_id, sim AS best_sim,
       ratio,
       ratio >= 1.05 AND sim >= 0.3 AS accepted
FROM rk WHERE rn = 1
"""


def q_llm_mine_margin_ratio_baseline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RATIO-margin mining, exact flat ground truth (the Artetxe & Schwenk
    2019 flagship scoring): score(x, y) = sim(x, y) / (den_x + den_y) with
    den = (sum of the top-4 neighbor sims, missing treated as 0) / 8 — the
    distance-normalized, hubness-robust variant the paper prefers over the
    absolute margin (q_llm_mine_margin_baseline): a hub whose whole
    neighborhood is uniformly close gets a large den and a ratio near 1,
    where the absolute rule needs a tuned gap.

    Den slots are NONNEG-CLAMPED (GREATEST(s_i, 0)): negative-sim
    neighbors must not inflate the ratio, and the clamp is what makes the
    IVF sibling's screening bounds theorems (see _top4_den). k = 4 is the
    dyadic choice: den sums are FIXED-ORDER additions of clamped
    rounded-sim doubles divided by 8 (exact), so every den, the
    den_x + den_y sum and the final IEEE division are bit-identical
    cross-engine; the ratio is emitted RAW. Acceptance: ratio >= 1.05 AND
    best_sim >= 0.3 (the sim floor guards the ratio rule's
    scale-invariance weakness: an all-garbage neighborhood can have a
    confident ratio). Backward dens use the probe set
    (``vec_id % 100 == 0``) as the opposing corpus, exactly the
    bitext-mining setup.

    Scale baseline by design (the probes x corpus crossJoin, executed
    once and localCheckpointed against the three-consumer branch split);
    the family scale default is the declared q_llm_mine_margin_ratio_ivf,
    which tests compare against this flat truth. Not a declared query;
    its row-level DuckDB twin is ``MARGIN_RATIO_BASELINE_ORACLE``,
    oracle-pinned in tests at both fixture SFs.
    """
    from pyspark.sql import Window

    from join_example_spark.operators.similarity import DOT_SQL

    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )
    corpus = emb.where(F.col("vec_id") % 100 != 0).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    # One quadratic/100 sim table feeds THREE consumers (forward dens,
    # backward dens, the scored join) — checkpoint it once, eagerly
    # (executor-side; the round-5 branch-split lesson).
    fwd = (
        corpus.crossJoin(F.broadcast(probes))
        .select(
            "probe_id",
            "cand_id",
            F.round(F.expr(DOT_SQL.format(a="pv", b="cv")), 4).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    fden = _top4_den(fwd, "probe_id", "cand_id", "den_x")
    bden = _top4_den(fwd, "cand_id", "probe_id", "den_y")
    sc = (
        fwd.join(fden, "probe_id")
        .join(bden, "cand_id")
        .withColumn("ratio", F.col("sim") / (F.col("den_x") + F.col("den_y")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("ratio").desc(), F.col("cand_id"))
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "probe_id",
            F.col("cand_id").cast("bigint").alias("best_id"),
            F.col("sim").alias("best_sim"),
            "ratio",
            ((F.col("ratio") >= F.lit(1.05)) & (F.col("sim") >= F.lit(0.3))).alias(
                "accepted"
            ),
        )
    )


def _top4_den(fwd: DataFrame, part_col: str, tie_col: str, out_col: str) -> DataFrame:
    """The ratio-margin denominator: (top-4 NONNEGATIVE-clamped sims +
    missing-as-0) / 8 over ``part_col`` groups, additions in FIXED
    left-to-right order so the double sum is bit-identical to the oracle
    twin's identically-shaped expression (k=4 makes the closing division
    dyadic — exact).

    Each slot is clamped with GREATEST(s_i, 0) (round 11, ADVICE r10):
    raw-Gaussian/real embeddings have negative neighbor dots, and the two
    screening bounds the family's precision/recall contracts rest on are
    theorems ONLY with nonnegative slots — (a) a candidate's backward den
    >= sim/8 for sim > 0 (the lossless verify shortlist), and (b) a
    subset top-4 den <= the full-set top-4 den (the one-sided screened
    over-estimate). Unclamped, both fail exactly when s2..s4 < 0 — which
    the sf0.001/sf0.01 fixtures really hit (126/103 negative top-4
    backward slots measured). Semantically this is Artetxe & Schwenk
    margin scoring with neighbor contributions floored at orthogonality
    (a negative-sim "neighbor" should not inflate the ratio)."""
    from pyspark.sql import Window

    w = Window.partitionBy(part_col).orderBy(F.col("sim").desc(), F.col(tie_col))
    s = [
        F.max(F.when(F.col("rn") == i, F.col("sim"))).alias(f"s{i}")
        for i in (1, 2, 3, 4)
    ]
    g = (
        fwd.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 4)
        .groupBy(part_col)
        .agg(*s)
    )
    den = (
        F.greatest(F.col("s1"), F.lit(0.0))
        + F.greatest(F.coalesce(F.col("s2"), F.lit(0.0)), F.lit(0.0))
        + F.greatest(F.coalesce(F.col("s3"), F.lit(0.0)), F.lit(0.0))
        + F.greatest(F.coalesce(F.col("s4"), F.lit(0.0)), F.lit(0.0))
    ) / F.lit(8.0)
    return g.select(part_col, den.alias(out_col))


#: DuckDB twin of _top4_den's fixed-order clamped sum (kept textually
#: parallel so the two cannot drift): {rn} is the per-group rank column,
#: {sim} the rounded-sim column. GREATEST(x, 0.0) is exact (no rounding)
#: on both engines, so the clamp preserves bit-identity.
_DUCK_TOP4_DEN = """(GREATEST(MAX(CASE WHEN {rn} = 1 THEN {sim} END), 0.0)
            + GREATEST(COALESCE(MAX(CASE WHEN {rn} = 2 THEN {sim} END), 0.0), 0.0)
            + GREATEST(COALESCE(MAX(CASE WHEN {rn} = 3 THEN {sim} END), 0.0), 0.0)
            + GREATEST(COALESCE(MAX(CASE WHEN {rn} = 4 THEN {sim} END), 0.0), 0.0)) / 8.0"""


_RATIO_IVF_CTES = f"""cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings ORDER BY vec_id
    LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings)
), assign AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM embeddings e CROSS JOIN cents c
), corpus AS (
    SELECT vec_id AS cand_id, embedding AS cv, cent_id AS cell
    FROM assign WHERE arn <= 4 AND vec_id % 100 <> 0
), probes AS (
    SELECT vec_id AS probe_id, embedding AS pv, cent_id AS cell
    FROM assign WHERE arn <= 5 AND vec_id % 100 = 0
), scored AS (
    SELECT p.probe_id, c.cand_id,
           MAX(ROUND({_DUCK_DOT.format(a="p.pv", b="c.cv")}, 4)) AS sim
    FROM probes p JOIN corpus c ON p.cell = c.cell
    GROUP BY p.probe_id, c.cand_id
), sxr AS (
    SELECT probe_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM scored
), sdx AS (
    SELECT probe_id,
           {_DUCK_TOP4_DEN.format(rn="rn", sim="sim")} AS den_x
    FROM sxr WHERE rn <= 4 GROUP BY probe_id
), syr AS (
    SELECT cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY cand_id ORDER BY sim DESC, probe_id) AS rn
    FROM scored
), sdy AS (
    SELECT cand_id,
           {_DUCK_TOP4_DEN.format(rn="rn", sim="sim")} AS den_y
    FROM syr WHERE rn <= 4 GROUP BY cand_id
), ssc AS (
    SELECT s.probe_id, s.cand_id, s.sim,
           s.sim / (x.den_x + y.den_y) AS ratio
    FROM scored s
    JOIN sdx x ON x.probe_id = s.probe_id
    JOIN sdy y ON y.cand_id = s.cand_id
), est AS (
    SELECT probe_id, cand_id AS best_id, sim AS best_sim, ratio
    FROM (
        SELECT probe_id, cand_id, sim, ratio,
               ROW_NUMBER() OVER (
                   PARTITION BY probe_id ORDER BY ratio DESC, cand_id) AS rn
        FROM ssc
    ) WHERE rn = 1
), esc AS (
    SELECT DISTINCT probe_id FROM ssc
    WHERE ratio >= 1.05 AND sim >= 0.3
), vfwd AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM embeddings p
    JOIN esc a ON a.probe_id = p.vec_id
    JOIN embeddings c ON c.vec_id % 100 <> 0
), vxr AS (
    SELECT probe_id, cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM vfwd
), vdx AS (
    SELECT probe_id,
           {_DUCK_TOP4_DEN.format(rn="rn", sim="sim")} AS vden_x
    FROM vxr WHERE rn <= 4 GROUP BY probe_id
), vanch AS (
    SELECT probe_id, cand_id AS anchor_id, sim AS anchor_sim
    FROM vxr WHERE rn = 1
), aback AS (
    SELECT y.vec_id AS cand_id, x.vec_id AS p2_id,
           ROUND({_DUCK_DOT.format(a="y.embedding", b="x.embedding")}, 4) AS sim
    FROM embeddings y
    JOIN (SELECT DISTINCT anchor_id FROM vanch) an ON an.anchor_id = y.vec_id
    JOIN embeddings x ON x.vec_id % 100 = 0
), abr AS (
    SELECT cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY cand_id ORDER BY sim DESC, p2_id) AS rn
    FROM aback
), aden AS (
    SELECT cand_id,
           {_DUCK_TOP4_DEN.format(rn="rn", sim="sim")} AS aden_y
    FROM abr WHERE rn <= 4 GROUP BY cand_id
), lbound AS (
    SELECT v.probe_id,
           v.anchor_sim / (x.vden_x + a.aden_y) AS l_ratio
    FROM vanch v
    JOIN vdx x ON x.probe_id = v.probe_id
    JOIN aden a ON a.cand_id = v.anchor_id
), short AS (
    SELECT f.probe_id, f.cand_id, f.sim
    FROM vfwd f
    JOIN vdx x ON x.probe_id = f.probe_id
    JOIN lbound l ON l.probe_id = f.probe_id
    WHERE f.sim > 0.0 AND f.sim / (x.vden_x + f.sim / 8.0) >= l.l_ratio
), sback AS (
    SELECT y.vec_id AS cand_id, x.vec_id AS p2_id,
           ROUND({_DUCK_DOT.format(a="y.embedding", b="x.embedding")}, 4) AS sim
    FROM embeddings y
    JOIN (SELECT DISTINCT cand_id FROM short) sh ON sh.cand_id = y.vec_id
    JOIN embeddings x ON x.vec_id % 100 = 0
), sbr AS (
    SELECT cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY cand_id ORDER BY sim DESC, p2_id) AS rn
    FROM sback
), sden AS (
    SELECT cand_id,
           {_DUCK_TOP4_DEN.format(rn="rn", sim="sim")} AS vden_y
    FROM sbr WHERE rn <= 4 GROUP BY cand_id
), vbest AS (
    SELECT probe_id, cand_id AS vbest_id, sim AS vbest_sim, vratio
    FROM (
        SELECT s.probe_id, s.cand_id, s.sim,
               s.sim / (x.vden_x + d.vden_y) AS vratio,
               ROW_NUMBER() OVER (
                   PARTITION BY s.probe_id
                   ORDER BY s.sim / (x.vden_x + d.vden_y) DESC, s.cand_id
               ) AS rn
        FROM short s
        JOIN vdx x ON x.probe_id = s.probe_id
        JOIN sden d ON d.cand_id = s.cand_id
    ) WHERE rn = 1
)"""


def _ratio_ivf_plan(spark: SparkSession, sf_dir: str) -> "tuple[DataFrame, DataFrame]":
    """The q_llm_mine_margin_ratio_ivf plan, also returning the escalated
    probe set so q_llm_mine_margin_ratio_recall audits the EXACT shipped
    plan (the same can-never-drift idiom as q_llm_mine_margin_recall)."""
    import math

    from pyspark.sql import Window

    from join_example_spark.operators.similarity import (
        DOT_SQL,
        _by_cell,
        ivf_cells,
        margin_screen_dials,
    )

    emb = fanout_repartition(read_table(spark, sf_dir, "embeddings"))
    # Footer-metadata row count (cached, no scan — round 13, VERDICT r12 #4).
    n = table_row_count(sf_dir, "embeddings")
    n_centroids = int(math.ceil(math.sqrt(n)))
    q_assign, nprobe = margin_screen_dials(n)
    corpus = (
        ivf_cells(emb, n_centroids, nprobe=q_assign)
        .where(F.col("vec_id") % 100 != 0)
        .select(F.col("vec_id").alias("cand_id"), "cell", F.col("embedding").alias("cv"))
    )
    probes = (
        ivf_cells(emb, n_centroids, nprobe=nprobe)
        .where(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("probe_id"), "cell", F.col("embedding").alias("pv"))
    )
    # The screened pair set feeds FOUR consumers (den_x, den_y, the score
    # join, the escalation gate) — checkpoint once, eagerly (the round-5
    # branch-split lesson; executor-side).
    scored = (
        _by_cell(probes)
        .join(_by_cell(corpus), "cell")
        .select(
            "probe_id",
            "cand_id",
            F.round(F.expr(DOT_SQL.format(a="pv", b="cv")), 4).alias("sim"),
        )
        .groupBy("probe_id", "cand_id")
        .agg(F.max("sim").alias("sim"))
        .localCheckpoint(eager=True)
    )
    sdx = _top4_den(scored, "probe_id", "cand_id", "den_x")
    sdy = _top4_den(scored, "cand_id", "probe_id", "den_y")
    ssc = (
        scored.join(sdx, "probe_id")
        .join(sdy, "cand_id")
        .withColumn("ratio", F.col("sim") / (F.col("den_x") + F.col("den_y")))
    )
    wr = Window.partitionBy("probe_id").orderBy(F.col("ratio").desc(), F.col("cand_id"))
    est = (
        ssc.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "probe_id",
            F.col("cand_id").alias("best_id"),
            F.col("sim").alias("best_sim"),
            "ratio",
        )
        .localCheckpoint(eager=True)
    )
    esc = (
        ssc.where((F.col("ratio") >= F.lit(1.05)) & (F.col("sim") >= F.lit(0.3)))
        .select("probe_id")
        .distinct()
    )
    # --- exact verify of escalated probes, lossless-shortlisted ---
    acc_p = emb.join(F.broadcast(esc), emb.vec_id == F.col("probe_id")).select(
        "probe_id", F.col("embedding").alias("pv")
    )
    corpus_full = emb.where(F.col("vec_id") % 100 != 0).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    vfwd = (
        corpus_full.crossJoin(F.broadcast(acc_p))
        .select(
            "probe_id",
            "cand_id",
            F.round(F.expr(DOT_SQL.format(a="pv", b="cv")), 4).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    vdx = _top4_den(vfwd, "probe_id", "cand_id", "vden_x")
    ws = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    vanch = (
        vfwd.withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") == 1)
        .select("probe_id", F.col("cand_id").alias("anchor_id"), F.col("sim").alias("anchor_sim"))
    )
    probes_all = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("p2_id"), F.col("embedding").alias("p2v")
    )
    anchor_emb = emb.join(
        F.broadcast(vanch.select("anchor_id").distinct()),
        emb.vec_id == F.col("anchor_id"),
    ).select("anchor_id", F.col("embedding").alias("av"))
    aback = probes_all.crossJoin(F.broadcast(anchor_emb)).select(
        F.col("anchor_id").alias("cand_id"),
        "p2_id",
        F.round(F.expr(DOT_SQL.format(a="av", b="p2v")), 4).alias("sim"),
    )
    aden = _top4_den(aback, "cand_id", "p2_id", "aden_y").select(
        F.col("cand_id").alias("anchor_id"), "aden_y"
    )
    lbound = (
        vanch.join(vdx, "probe_id")
        .join(aden, "anchor_id")
        .select(
            "probe_id",
            (F.col("anchor_sim") / (F.col("vden_x") + F.col("aden_y"))).alias("l_ratio"),
        )
    )
    # Lossless shortlist (valid because dens are nonneg-clamped): the true
    # winner has vratio >= l_ratio > 0 and D > 0, hence sim > 0; and for
    # sim > 0 the clamped backward den is >= sim/8 (the probe sits in the
    # candidate's backward set), so sim/(vden_x + sim/8) upper-bounds the
    # true vratio with a strictly positive denominator on both engines.
    short = (
        vfwd.join(vdx, "probe_id")
        .join(lbound, "probe_id")
        .where(
            (F.col("sim") > F.lit(0.0))
            & (
                F.col("sim") / (F.col("vden_x") + F.col("sim") / F.lit(8.0))
                >= F.col("l_ratio")
            )
        )
        .select("probe_id", "cand_id", "sim", "vden_x")
    )
    short_emb = emb.join(
        F.broadcast(short.select("cand_id").distinct()), emb.vec_id == F.col("cand_id")
    ).select("cand_id", F.col("embedding").alias("sv"))
    sback = probes_all.crossJoin(F.broadcast(short_emb)).select(
        "cand_id",
        "p2_id",
        F.round(F.expr(DOT_SQL.format(a="sv", b="p2v")), 4).alias("sim"),
    )
    sden = _top4_den(sback, "cand_id", "p2_id", "vden_y")
    wvr = Window.partitionBy("probe_id").orderBy(F.col("vratio").desc(), F.col("cand_id"))
    vbest = (
        short.join(sden, "cand_id")
        .withColumn("vratio", F.col("sim") / (F.col("vden_x") + F.col("vden_y")))
        .withColumn("rn", F.row_number().over(wvr))
        .where(F.col("rn") == 1)
        .select(
            "probe_id",
            F.col("cand_id").alias("vbest_id"),
            F.col("sim").alias("vbest_sim"),
            "vratio",
        )
    )
    j = est.join(vbest, "probe_id", "left")
    best_sim_f = F.coalesce(F.col("vbest_sim"), F.col("best_sim"))
    ratio_f = F.coalesce(F.col("vratio"), F.col("ratio"))
    out = j.select(
        "probe_id",
        F.coalesce(F.col("vbest_id"), F.col("best_id")).cast("bigint").alias("best_id"),
        best_sim_f.alias("best_sim"),
        ratio_f.alias("ratio"),
        ((ratio_f >= F.lit(1.05)) & (best_sim_f >= F.lit(0.3))).alias("accepted"),
    )
    return out, esc


@register(
    "q_llm_mine_margin_ratio_ivf",
    oracle=f"""
WITH {_RATIO_IVF_CTES}
SELECT e.probe_id,
       CAST(COALESCE(v.vbest_id, e.best_id) AS BIGINT) AS best_id,
       COALESCE(v.vbest_sim, e.best_sim) AS best_sim,
       COALESCE(v.vratio, e.ratio) AS ratio,
       COALESCE(v.vratio, e.ratio) >= 1.05
           AND COALESCE(v.vbest_sim, e.best_sim) >= 0.3 AS accepted
FROM est e LEFT JOIN vbest v ON v.probe_id = e.probe_id
""",
    note="the RATIO-margin family's SCALE DEFAULT (round 10; bounds made "
    "unconditional in round 11 per ADVICE r10): the symmetrized IVF "
    "screen (corpus multi-assign 4, probe dial margin_screen_dials(n) — "
    "fixture (4, 5), pinned by the arn<=4/arn<=5 oracle) scores "
    "cell-join pairs and estimates BOTH ratio denominators from the "
    "same screened pair set. Dens are NONNEG-CLAMPED (_top4_den), which "
    "makes the one-sidedness a THEOREM: each screened den is a subset "
    "top-4 of clamped slots, so screened den <= true den slot-by-slot "
    "(missing slot = 0 <= clamped true slot) and both dens of a scored "
    "pair are >= sim/8 > 0 when sim >= 0.3 (the pair itself sits in "
    "both top-4 sets), hence the screened ratio OVER-estimates the true "
    "ratio for every gate-relevant scored pair — no eps, no geometry "
    "precondition: a true accept is missed ONLY when its probe has no "
    "gate-passing scored pair at all. VERIFY is exact with a LOSSLESS "
    "shortlist: exact forward sims give den_x and the top-by-sim "
    "anchor; the anchor's exact backward den gives the per-probe score "
    "floor l_ratio (> 0: anchor_sim >= 0.3 and dens > 0); the true "
    "winner has vratio >= l_ratio > 0 hence sim > 0, and for sim > 0 "
    "the clamped backward den is >= sim/8 (the probe sits in the "
    "candidate's backward set), so true_ratio <= sim/(den_x + sim/8) "
    "with a strictly positive denominator — candidates failing sim > 0 "
    "or falling below l_ratio under that bound provably cannot win, so "
    "exact backward dens are computed only for the surviving shortlist. "
    "Accepted rows therefore carry the exact flat-truth best/ratio "
    "(precision 1.0 by construction, same contract as "
    "q_llm_mine_margin_ivf; pinned in tests/test_round10_ops.py; "
    "negative-sim geometry exercised by the sf0.001/sf0.01 fixtures "
    "themselves — 126/103 negative top-4 backward slots measured). At "
    "100 TB: one cell-key shuffle + one narrow pair-dedup shuffle for "
    "the screen; verify is |esc|*n forward + |esc|*(n/100) "
    "anchor-backward + |shortlist|*(n/100) folds, all broadcast-bounded. "
    "den determinism: fixed-order clamped top-4 sums / 8 (dyadic), raw "
    "IEEE divisions — bit-identical cross-engine (see "
    "q_llm_mine_margin_ratio_baseline)",
    tags=("llm", "similarity", "search", "approx"),
)
def q_llm_mine_margin_ratio_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _esc = _ratio_ivf_plan(spark, sf_dir)
    return out


MARGIN_RATIO_RECALL_ORACLE = f"""
WITH {_RATIO_IVF_CTES},
ivf_acc AS (
    SELECT e.probe_id,
           CAST(COALESCE(v.vbest_id, e.best_id) AS BIGINT) AS v_best
    FROM est e LEFT JOIN vbest v ON v.probe_id = e.probe_id
    WHERE COALESCE(v.vratio, e.ratio) >= 1.05
      AND COALESCE(v.vbest_sim, e.best_sim) >= 0.3
), ffwd AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
           ROUND({_DUCK_DOT.format(a="p.embedding", b="c.embedding")}, 4) AS sim
    FROM embeddings p
    JOIN embeddings c ON c.vec_id % 100 <> 0
    WHERE p.vec_id % 100 = 0
), ffr AS (
    SELECT probe_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
    FROM ffwd
), ffden AS (
    SELECT probe_id,
           {_DUCK_TOP4_DEN.format(rn="rn", sim="sim")} AS den_x
    FROM ffr WHERE rn <= 4 GROUP BY probe_id
), fbr AS (
    SELECT cand_id, sim,
           ROW_NUMBER() OVER (
               PARTITION BY cand_id ORDER BY sim DESC, probe_id) AS rn
    FROM ffwd
), fbden AS (
    SELECT cand_id,
           {_DUCK_TOP4_DEN.format(rn="rn", sim="sim")} AS den_y
    FROM fbr WHERE rn <= 4 GROUP BY cand_id
), fsc AS (
    SELECT f.probe_id, f.cand_id, f.sim,
           f.sim / (d.den_x + b.den_y) AS ratio
    FROM ffwd f
    JOIN ffden d ON d.probe_id = f.probe_id
    JOIN fbden b ON b.cand_id = f.cand_id
), frk AS (
    SELECT probe_id, cand_id, sim, ratio,
           ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY ratio DESC, cand_id) AS rn
    FROM fsc
), flat_acc AS (
    SELECT probe_id, CAST(cand_id AS BIGINT) AS t_best
    FROM frk WHERE rn = 1 AND ratio >= 1.05 AND sim >= 0.3
), jj AS (
    SELECT i.probe_id, i.v_best, f.t_best
    FROM ivf_acc i LEFT JOIN flat_acc f ON f.probe_id = i.probe_id
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ivf_accepts,
           CAST(COALESCE(SUM(CASE WHEN v_best = t_best THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_hits
    FROM jj
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
        WHERE vec_id % 100 = 0) AS n_probes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM esc) AS n_escalated,
       ROUND(CAST((SELECT COUNT(*) FROM esc) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM embeddings
                     WHERE vec_id % 100 = 0) AS DOUBLE), 6) AS escalated_frac,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM flat_acc) AS n_true_accepts,
       n_ivf_accepts,
       n_hits,
       n_hits = n_ivf_accepts AS precision_exact,
       ROUND(CAST(n_hits AS DOUBLE)
             / NULLIF(CAST((SELECT COUNT(*) FROM flat_acc) AS DOUBLE), 0.0),
             6) AS accept_recall
FROM agg
"""


def q_llm_mine_margin_ratio_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The RATIO-margin family's ACCEPT-RECALL + ESCALATED-FRACTION audit
    (mirrors the declared q_llm_mine_margin_recall): runs the family scale
    default (_ratio_ivf_plan — the same builder q_llm_mine_margin_ratio_ivf
    ships, so the audit cannot drift from the plan it certifies) AND the
    exact flat ground truth (q_llm_mine_margin_ratio_baseline) side by
    side, in one row.

    Emits the statistics a 100 TB deployment gates on (SCALE.md §3.15):
    escalated_frac (the fraction of probes whose screen escalates to
    exact verify — the cost observable; ~1.0 on the isotropic accept-all
    fixtures), n_true_accepts / n_ivf_accepts / n_hits, precision_exact
    (the verify-the-positives 1.0-precision contract, asserted literally
    by the oracle twin) and accept_recall (NULL via NULLIF when there are
    no true accepts). Ground truth is quadratic by definition; production
    runs this audit on a bounded probe sample. Count ratios are
    int64 -> double with ROUND(x, 6), far from half-ulp boundaries at
    fixture cardinalities.

    Not a declared query: tests drive it over seeded adversarial
    geometries, and its row-level DuckDB twin
    ``MARGIN_RATIO_RECALL_ORACLE`` is oracle-pinned in tests at both
    fixture SFs.
    """
    out, esc = _ratio_ivf_plan(spark, sf_dir)
    flat_acc = (
        q_llm_mine_margin_ratio_baseline(spark, sf_dir)
        .where("accepted")
        .select("probe_id", F.col("best_id").alias("t_best"))
    )
    ivf_acc = out.where("accepted").select(
        "probe_id", F.col("best_id").alias("v_best")
    )
    j = ivf_acc.join(flat_acc, "probe_id", "left")
    counts = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ivf_accepts"),
        F.coalesce(
            F.sum(F.when(F.col("v_best") == F.col("t_best"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_hits"),
    )
    truth_n = flat_acc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_accepts")
    )
    esc_n = esc.agg(F.count(F.lit(1)).cast("bigint").alias("n_escalated"))
    probes_n = (
        read_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 100 == 0)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_probes"))
    )
    return (
        probes_n.crossJoin(esc_n)
        .crossJoin(truth_n)
        .crossJoin(counts)
        .select(
            "n_probes",
            "n_escalated",
            F.round(
                F.col("n_escalated").cast("double")
                / F.col("n_probes").cast("double"),
                6,
            ).alias("escalated_frac"),
            "n_true_accepts",
            "n_ivf_accepts",
            "n_hits",
            (F.col("n_hits") == F.col("n_ivf_accepts")).alias("precision_exact"),
            F.round(
                F.col("n_hits").cast("double")
                / F.nullif(F.col("n_true_accepts").cast("double"), F.lit(0.0)),
                6,
            ).alias("accept_recall"),
        )
    )


@register(
    "q_llm_cluster_dbscan",
    oracle=f"""
WITH RECURSIVE
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) >= 0.25
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS c FROM edges GROUP BY src),
core AS (SELECT src AS v FROM deg WHERE c >= 3),
ce AS (
    SELECT e.src, e.dst FROM edges e
    JOIN core a ON e.src = a.v
    JOIN core b ON e.dst = b.v
),
reach(v, root) AS (
    SELECT v, v FROM core
    UNION
    SELECT ce.dst, r.root FROM reach r JOIN ce ON ce.src = r.v
),
cc AS (SELECT v, MIN(root) AS cluster_id FROM reach GROUP BY v),
border AS (
    SELECT e.src AS v, MIN(c.cluster_id) AS cluster_id
    FROM edges e
    JOIN cc c ON c.v = e.dst
    WHERE e.src NOT IN (SELECT v FROM core)
    GROUP BY e.src
)
SELECT emb.vec_id,
       CASE WHEN cc.v IS NOT NULL THEN 'core'
            WHEN b.v IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(cc.cluster_id, b.cluster_id) AS BIGINT) AS cluster_id
FROM embeddings emb
LEFT JOIN cc ON cc.v = emb.vec_id
LEFT JOIN border b ON b.v = emb.vec_id
""",
    note="deterministic DBSCAN over the tau=0.25 similarity graph "
    "(eps-neighborhood = rounded-cosine edge, core = >= 3 neighbors "
    "i.e. minPts 4 counting self): clusters are connected components "
    "of the CORE-induced subgraph, border points attach to the "
    "SMALLEST adjacent core cluster (classic DBSCAN assigns borders "
    "arbitrarily — the min rule makes it reproducible), everything "
    "else is noise. The density-based third clustering paradigm next "
    "to centroid k-means and similarity-graph CC/LPA: chain-linked "
    "sparse bridges do NOT merge dense groups (bridge nodes fail the "
    "core test) and outliers are labeled noise instead of polluting a "
    "cluster. All-integer; core CC runs the O(log n) star-contraction "
    "loop (operators/graph.py — round 16: interleaved A/B vs the "
    "min-label loop won in both orders, 4.96 vs 5.42 s med; the core "
    "subgraph chains enough that diameter-bound propagation pays more "
    "rounds), oracle = recursive-CTE reachability over core-core edges "
    "(DuckDB UNION-distinct recursion handles the cycles). Per stage "
    "one degree aggregate, two semi-joins, the star-CC loop, one "
    "border min-join",
    tags=("llm", "similarity", "graph"),
)
def q_llm_cluster_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 16: star-contraction CC instead of min-label propagation —
    # same labeling (minimum reachable id; rows_equal verified at sf0.1
    # and mirror-pinned at both fixture SFs), measured faster in BOTH
    # interleave orders (the ≥3-degree core subgraph chains enough that
    # the diameter-bound loop pays more rounds than O(log n) star).
    # q_llm_cluster_quality keeps the min-label loop — the same A/B won
    # the OTHER way there (see OPTIMIZATION_r16.md §10).
    from join_example_spark.operators.graph import connected_components_star

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_pairs(emb, threshold=0.25)
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
    core = deg.where(F.col("c") >= 3).select(F.col("src").alias("id"))
    core_edges = edges.join(
        core.select(F.col("id").alias("src")), "src", "left_semi"
    ).join(core.select(F.col("id").alias("dst")), "dst", "left_semi")
    cc = connected_components_star(core, core_edges, id_col="id")
    border = (
        edges.join(
            cc.select(F.col("id").alias("dst"), "cluster_id"), "dst"
        )
        .join(core.select(F.col("id").alias("src")), "src", "left_anti")
        .groupBy("src")
        .agg(F.min("cluster_id").alias("b_cluster"))
    )
    return (
        emb.select("vec_id")
        .join(
            cc.select(F.col("id").alias("vec_id"), F.col("cluster_id").alias("c_cluster")),
            "vec_id",
            "left",
        )
        .join(border.select(F.col("src").alias("vec_id"), "b_cluster"), "vec_id", "left")
        .select(
            "vec_id",
            F.expr(
                "CASE WHEN c_cluster IS NOT NULL THEN 'core'"
                " WHEN b_cluster IS NOT NULL THEN 'border'"
                " ELSE 'noise' END"
            ).alias("role"),
            F.coalesce("c_cluster", "b_cluster").cast("bigint").alias("cluster_id"),
        )
    )


@register(
    "q_llm_cluster_quality",
    oracle=f"""
WITH RECURSIVE
allp AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) AS sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
),
pairs AS (SELECT id_a, id_b FROM allp WHERE sim >= 0.35),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(v, root) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.v
),
cc AS (SELECT v, MIN(root) AS cluster_id FROM reach GROUP BY v),
sized AS (
    SELECT cluster_id, COUNT(*) AS n_members FROM cc GROUP BY cluster_id
    HAVING COUNT(*) >= 2
),
intra AS (
    SELECT ca.cluster_id,
           CAST(SUM(CAST(p.sim AS DECIMAL(12,4))) AS DOUBLE)
               / COUNT(*) AS mean_intra,
           MIN(p.sim) AS min_intra
    FROM allp p
    JOIN cc ca ON ca.v = p.id_a
    JOIN cc cb ON cb.v = p.id_b
    WHERE ca.cluster_id = cb.cluster_id
    GROUP BY ca.cluster_id
),
boundary AS (
    SELECT cluster_id, MAX(sim) AS max_boundary FROM (
        SELECT ca.cluster_id, p.sim
        FROM allp p
        JOIN cc ca ON ca.v = p.id_a
        JOIN cc cb ON cb.v = p.id_b
        WHERE ca.cluster_id <> cb.cluster_id
        UNION ALL
        SELECT cb.cluster_id, p.sim
        FROM allp p
        JOIN cc ca ON ca.v = p.id_a
        JOIN cc cb ON cb.v = p.id_b
        WHERE ca.cluster_id <> cb.cluster_id
    ) GROUP BY cluster_id
)
SELECT s.cluster_id,
       CAST(s.n_members AS BIGINT) AS n_members,
       i.mean_intra, i.min_intra,
       b.max_boundary,
       COALESCE(i.min_intra > b.max_boundary, TRUE) AS separated
FROM sized s
JOIN intra i USING (cluster_id)
LEFT JOIN boundary b USING (cluster_id)
""",
    note="cluster cohesion/separation audit (the silhouette idea made "
    "exact and mergeable) for the tau=0.35 near-dup components: per "
    "multi-member cluster, member count, mean and MIN intra-cluster "
    "similarity (cohesion: decimal-bridged mean over rounded-4dp sims, "
    "one IEEE division), and the MAX similarity from any member to any "
    "same-label NON-member (boundary leakage); separated = cohesion "
    "floor above boundary max (TRUE when no boundary pair exists). "
    "The post-clustering DQ gate: a cluster whose min_intra dips under "
    "max_boundary is a merge/threshold-tuning candidate. Similarity is "
    "label-blocked exactly like the edge generation, so boundary means "
    "'nearest non-member that COULD have been linked'. Scale: the pair "
    "table is the already-blocked n²/labels set computed once and "
    "reused for both cohesion and separation; cluster map via the "
    "convergence-checked CC loop; all aggregates map-side partial",
    tags=("llm", "similarity", "graph", "dq"),
)
def q_llm_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.graph import connected_components

    emb = read_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("blk"),
        F.col("embedding").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("blk"),
        F.col("embedding").alias("vb"),
    )
    from join_example_spark.operators.similarity import DOT_SQL

    allp = (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(F.expr(DOT_SQL.format(a="va", b="vb")), 4).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    pairs = allp.where(F.col("sim") >= 0.35)
    cc = connected_components(
        emb.select(F.col("vec_id").alias("id")),
        pairs,
        id_col="id",
        src_col="id_a",
        dst_col="id_b",
    )
    cmap = cc.select(F.col("id").alias("v"), "cluster_id").localCheckpoint(
        eager=True
    )
    sized = (
        cmap.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .where(F.col("n_members") >= 2)
    )
    tagged = (
        allp.join(cmap.select(F.col("v").alias("id_a"), F.col("cluster_id").alias("ca")), "id_a")
        .join(cmap.select(F.col("v").alias("id_b"), F.col("cluster_id").alias("cb")), "id_b")
        .localCheckpoint(eager=True)
    )
    intra = (
        tagged.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(
            (
                F.sum(F.col("sim").cast("decimal(12,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_intra"),
            F.min("sim").alias("min_intra"),
        )
    )
    crossp = tagged.where(F.col("ca") != F.col("cb"))
    boundary = (
        crossp.select(F.col("ca").alias("cluster_id"), "sim")
        .unionByName(crossp.select(F.col("cb").alias("cluster_id"), "sim"))
        .groupBy("cluster_id")
        .agg(F.max("sim").alias("max_boundary"))
    )
    return (
        sized.join(intra, "cluster_id")
        .join(boundary, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            "mean_intra",
            "min_intra",
            "max_boundary",
            F.coalesce(
                F.col("min_intra") > F.col("max_boundary"), F.lit(True)
            ).alias("separated"),
        )
    )


def _kmeans_rounds_oracle(k: int, rounds: int) -> str:
    """Generate the unrolled-CTE DuckDB oracle for ``kmeans_lloyd_rounds``
    (PageRank convention: fixed round count => straight CTE replay)."""
    dot = _DUCK_DOT.format(a="e.embedding", b="c.cvec")
    parts = [
        f"""cents0 AS (
    SELECT vec_id AS cell,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
    FROM embeddings ORDER BY vec_id LIMIT {k}
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f"""assign{r} AS (
    SELECT e.vec_id, e.embedding, c.cell, ROUND({dot}, 4) AS csim
    FROM embeddings e CROSS JOIN cents{p} c
), cells{r} AS (
    SELECT vec_id, embedding, cell, csim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY csim DESC, cell) AS arn
        FROM assign{r}
    ) WHERE arn = 1
), comp{r} AS (
    SELECT cell, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
           unnest(embedding) AS val
    FROM cells{r}
), newc{r} AS (
    SELECT cell, pos,
           CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE), 4) AS DECIMAL(25,6)))
                AS DOUBLE) / COUNT(*) AS nc
    FROM comp{r} GROUP BY cell, pos
), oldp{r} AS (
    SELECT cell, CAST(generate_subscripts(cvec, 1) - 1 AS INTEGER) AS pos,
           ROUND(CAST(unnest(cvec) AS DOUBLE), 4) AS oc
    FROM cents{p}
), shift{r} AS (
    SELECT n.cell,
           ROUND(SQRT(CAST(SUM(CAST((n.nc - o.oc) * (n.nc - o.oc)
                                    AS DECIMAL(38,20))) AS DOUBLE)), 4)
             AS centroid_shift
    FROM newc{r} n JOIN oldp{r} o ON n.cell = o.cell AND n.pos = o.pos
    GROUP BY n.cell
), stats{r} AS (
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST(csim AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_sim
    FROM cells{r} GROUP BY cell
), audit{r} AS (
    SELECT CAST({r} AS BIGINT) AS round, CAST(s.cell AS BIGINT) AS cell,
           s.n_members, s.avg_sim, sh.centroid_shift
    FROM stats{r} s JOIN shift{r} sh ON s.cell = sh.cell
), cents{r} AS (
    SELECT cell, list(nc ORDER BY pos) AS cvec FROM newc{r} GROUP BY cell
)""")
    union = "\nUNION ALL\n".join(f"SELECT * FROM audit{r}" for r in range(1, rounds + 1))
    return "WITH " + ",\n".join(parts) + "\n" + union


@register(
    "q_llm_kmeans_converged",
    oracle=_kmeans_rounds_oracle(8, 3),
    note="k-means run to a FIXED 3-round convergence audit (unrolled "
    "Lloyd, PageRank convention): per round and cell, member count, mean "
    "assigned similarity and centroid shift — the operational signal a "
    "pipeline uses to decide convergence. Round r+1 assigns against "
    "round r's decimal-bridged mean centroids: both engines hold "
    "bit-identical centroid doubles (exact DECIMAL(25,6) component sums "
    "+ one IEEE division), arrays reassembled in pos order (array_sort "
    "of (pos,nc) structs == list(nc ORDER BY pos)), so the sequential "
    "fold keeps every round's dots bit-identical. Scale: k x dim "
    "centroid tables broadcast per round; only O(k*dim) partial sums "
    "shuffle; member vectors never leave their partitions",
    tags=("llm", "similarity", "ml"),
)
def q_llm_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.similarity import kmeans_lloyd_rounds

    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_rounds(emb, n_centroids=8, rounds=3)
