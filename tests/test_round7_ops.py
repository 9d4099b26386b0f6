"""Round-7 operator tests.

1. Bit-identity of the statically-unrolled DOT_SQL/D2_SQL templates
   (operators/similarity.py) against the original interpreted folds —
   the unroll is a pure codegen optimization and MUST NOT change a single
   bit of any similarity/ANN/dedup output (every oracle downstream pins
   on the fold's sequential-addition order).
2. The adaptive nprobe dial (derived from corpus rep count) — monotone,
   matches the shipped constants at the calibrated sizes.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from join_example_spark.operators.similarity import (
    D2_FOLD_SQL,
    DOT_FOLD_SQL,
    d2_sql_for,
    dot_sql_for,
)


def _vec_rows(dims, per_dim=40, seed=11):
    """Adversarial float32 vectors: random values, exact zeros, negative
    zeros, subnormal-ish tiny values, mixed signs — per listed dim. The
    unrolled templates' ELSE branch is reached by the dims other than the
    template's own; a length mismatch raises in both folds (tests below)."""
    rng = np.random.default_rng(seed)
    rows = []
    rid = 0
    for d in dims:
        for _ in range(per_dim):
            a = rng.normal(size=d).astype(np.float32)
            b = rng.normal(size=d).astype(np.float32)
            # salt in exact +-0.0 and tiny magnitudes
            a[rng.integers(0, d)] = 0.0
            b[rng.integers(0, d)] = -0.0
            a[rng.integers(0, d)] = np.float32(1e-38)
            rows.append((rid, [float(x) for x in a], [float(x) for x in b]))
            rid += 1
    # all-negative-zero vectors: the case the CAST(0.0) seed exists for
    for d in dims:
        rows.append((rid, [-0.0] * d, [0.0] * d))
        rid += 1
    return rows


@pytest.mark.parametrize(
    "tmpl_new,tmpl_old",
    [
        (dot_sql_for(64), DOT_FOLD_SQL),
        (dot_sql_for(16), DOT_FOLD_SQL),
        (d2_sql_for(64), D2_FOLD_SQL),
        (d2_sql_for(16), D2_FOLD_SQL),
    ],
)
def test_unrolled_templates_bit_identical_to_fold(spark, tmpl_new, tmpl_old):
    rows = _vec_rows(dims=(7, 16, 32, 64))
    df = spark.createDataFrame(rows, "rid long, va array<float>, vb array<float>")
    out = df.select(
        F.expr(tmpl_new.format(a="va", b="vb")).alias("new"),
        F.expr(tmpl_old.format(a="va", b="vb")).alias("old"),
    ).where(
        # IS DISTINCT FROM catches value/NULL drift; the string compare
        # additionally catches -0.0 vs +0.0 (equal under IEEE ==).
        F.expr("new IS DISTINCT FROM old OR CAST(new AS STRING) <> CAST(old AS STRING)")
    )
    assert out.count() == 0


def test_adaptive_nprobe_schedule():
    """The derived dial must (a) equal the previously shipped constant 5 at
    every fixture rep count — plans, costs and oracles unchanged there —
    (b) be monotone in n, and (c) hold the probed fraction at the audited
    operating point past the calibration size (40 at the 128k tier where
    the fixed dial's recall fell to 0.37, SCALE.md §3.7b/§3.10)."""
    import math

    from join_example_spark.operators.similarity import NPROBE_FRAC, adaptive_nprobe

    # fixture rep counts: embeddings are 500/500/2000 at the three SFs
    assert adaptive_nprobe(500) == 5
    assert adaptive_nprobe(2000) == 5
    assert adaptive_nprobe(1) == 5
    # 64x tier from SCALE.md §3.7b: n=128000, C=358 -> ceil(358/9)=40
    assert adaptive_nprobe(128_000) == 40
    # monotone + constant probed fraction above the floor
    prev = 0
    for n in (10, 100, 1000, 2025, 10_000, 128_000, 1_000_000, 10_000_000):
        p = adaptive_nprobe(n)
        assert p >= prev
        prev = p
        c = math.ceil(math.sqrt(n))
        assert p >= NPROBE_FRAC * c - 1e-9
        assert p <= max(5, NPROBE_FRAC * c + 1)


def test_adaptive_imi_dials_schedule():
    """IMI twin of the nprobe schedule: equal to the shipped (4, 8) at
    every fixture rep count, monotone, probed product-cell fraction held
    at the audited 8/169 point past the calibration size, and p² ≥ T
    always (the top-T product selection needs p² candidates)."""
    import math

    from join_example_spark.operators.similarity import (
        IMI_T_FRAC,
        adaptive_imi_dials,
        imi_c_per_half,
    )

    assert adaptive_imi_dials(500) == (4, 8)
    assert adaptive_imi_dials(2000) == (4, 8)
    assert adaptive_imi_dials(1) == (4, 8)
    # 64x tier: C=51 (51^3 >= 128000), cells=2601 -> T=ceil(8/169*2601)=124
    assert adaptive_imi_dials(128_000) == (12, 124)
    prev_t = 0
    for n in (10, 1000, 2197, 16_000, 128_000, 1_000_000):
        p, t = adaptive_imi_dials(n)
        assert t >= prev_t
        prev_t = t
        assert p * p >= t
        c = imi_c_per_half(n)
        assert t >= IMI_T_FRAC * c * c - 1e-9


def _grid_rows(seed, G=8, n=512, half=32, noise=0.02):
    """G×G = 64 clusters with PRODUCT structure: centers are (u_i, w_j)
    prototype combinations — the geometry where a product index genuinely
    beats a flat one (real multi-factor embedding spaces: topic × style,
    source × language). The first G rows sit on the diagonal (u_i, w_i)
    so the lowest-id half-codebooks span all G prototypes per half."""
    rng = np.random.default_rng(seed)
    u = rng.normal(size=(G, half))
    u /= np.linalg.norm(u, axis=1, keepdims=True) * np.sqrt(2.0)
    w = rng.normal(size=(G, half))
    w /= np.linalg.norm(w, axis=1, keepdims=True) * np.sqrt(2.0)
    rows = []
    for i in range(n):
        # diagonal first (codebook spans all prototypes), then a full
        # row-major sweep over all G*G combos
        gi, gj = (i, i) if i < G else (i % G, (i // G) % G)
        v = np.concatenate([u[gi], w[gj]]) + noise * rng.normal(size=2 * half)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v.astype(np.float32)], 0))
    return rows


def _mk_emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_imi_front_end_lossless_and_prunes_coverage_bound_regime(spark):
    """The coverage-bound regime (SCALE.md §3.7): K = 64 product-structured
    clusters with only ⌈√512⌉ = 23 flat cells — every flat cell mixes
    clusters, its radius blows up to inter-cluster scale, and the flat
    triangle bound admits ~every cell pair. The product front end's
    ⌈∛512⌉² = 64 cells align with the grid structure, so it must (a)
    produce EXACTLY the naive join's rows (losslessness is front-end-
    independent) and (b) admit a far smaller cell-pair fraction."""
    from join_example_spark.operators.cosine_pairs import (
        _cells_and_admissible,
        _cells_and_admissible_imi,
        cosine_lossless_pairs,
    )
    from join_example_spark.operators.similarity import cosine_near_pairs_naive

    import math

    rows = _grid_rows(seed=19, G=8, n=512, half=32, noise=0.02)
    emb = _mk_emb(spark, rows)
    thr = 0.8

    got = cosine_lossless_pairs(
        emb, threshold=thr, block_col=None, index_min_reps=0, index_kind="imi"
    ).select("id_a", "id_b", "sim")
    # naive twin needs a real column; a constant == the global block
    want = cosine_near_pairs_naive(
        emb.withColumn("_one", F.lit(0)), threshold=thr, block_col="_one"
    )
    assert _canon(got) == _canon(want)
    assert len(_canon(got)) > 0  # intra-cluster pairs exist at tau=0.8

    # pruning-rate comparison on the same reps
    reps = emb.select(
        F.col("vec_id").alias("_id"), F.lit(0).alias("_blk"),
        F.col("embedding").alias("_vec"),
    )
    tau_eff = thr - 1e-4
    thr_d = math.sqrt(max(0.0, 2.0 - 2.0 * tau_eff)) + 1e-6
    _, adm_flat = _cells_and_admissible(reps, thr_d)
    asg_imi, adm_imi = _cells_and_admissible_imi(reps, thr_d)
    n_flat_cells = 23
    flat_frac = adm_flat.count() / (n_flat_cells * n_flat_cells)
    n_occ = asg_imi.select("_cell").distinct().count()
    imi_frac = adm_imi.count() / (n_occ * n_occ)
    # flat is coverage-bound (admits nearly everything); imi prunes hard
    assert flat_frac > 0.9, flat_frac
    assert imi_frac < 0.4, (imi_frac, n_occ)


def test_imi_front_end_lossless_on_isotropic_and_duplicates(spark):
    """Isotropic corpus (no structure to exploit) + exact duplicates:
    the imi front end must still be row-identical to the naive join —
    pruning may be useless there, losslessness may not degrade."""
    from join_example_spark.operators.cosine_pairs import cosine_lossless_pairs
    from join_example_spark.operators.similarity import cosine_near_pairs_naive

    rng = np.random.default_rng(43)
    rows = []
    for i in range(150):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v.astype(np.float32)], i % 2))
    # exact duplicates exercising contraction + expansion + self-sim
    rows += [(1000 + i, rows[i][1], rows[i][2]) for i in range(10)]
    emb = _mk_emb(spark, rows)
    for blk, naive_blk in ((None, "_one"), ("label", "label")):
        got = cosine_lossless_pairs(
            emb, threshold=0.25, block_col=blk, index_min_reps=0, index_kind="imi"
        ).select("id_a", "id_b", "sim")
        want = cosine_near_pairs_naive(
            emb.withColumn("_one", F.lit(0)), threshold=0.25, block_col=naive_blk
        )
        assert _canon(got) == _canon(want), blk


def test_unrolled_dot_handles_null_arrays(spark):
    df = spark.createDataFrame(
        [(1, None, [1.0, 2.0]), (2, [1.0, 2.0], None), (3, None, None)],
        "rid long, va array<float>, vb array<float>",
    )
    out = df.select(
        F.expr(dot_sql_for(64).format(a="va", b="vb")).alias("new"),
        F.expr(DOT_FOLD_SQL.format(a="va", b="vb")).alias("old"),
    )
    rows = out.collect()
    assert all(r.new is None and r.old is None for r in rows)


def test_unrolled_dot_raises_on_ragged_vectors(spark):
    """A size mismatch takes the unrolled template's ELSE branch, which is
    the guarded fold: it must fail the action, not return a NULL dot."""
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [1.0])],
        "rid long, va array<float>, vb array<float>",
    )
    with pytest.raises(PySparkException, match="ragged"):
        df.select(F.expr(dot_sql_for(2).format(a="va", b="vb"))).collect()


def test_unrolled_d2_raises_on_ragged_vectors(spark):
    """The squared-L2 fold has the dot fold's guard: a size mismatch fails
    the action (a NULL distance would drop the row out of an argmin), on
    the unrolled template's ELSE branch and on the plain fold alike, while
    a NULL array still yields a NULL distance."""
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [1.0])],
        "rid long, va array<float>, vb array<float>",
    )
    for tmpl in (d2_sql_for(2), D2_FOLD_SQL):
        with pytest.raises(PySparkException, match="ragged"):
            df.select(F.expr(tmpl.format(a="va", b="vb"))).collect()
    nulls = spark.createDataFrame(
        [(1, None, [1.0, 2.0]), (2, [1.0, 2.0], None)],
        "rid long, va array<float>, vb array<float>",
    )
    got = nulls.select(
        F.expr(d2_sql_for(2).format(a="va", b="vb")).alias("new"),
        F.expr(D2_FOLD_SQL.format(a="va", b="vb")).alias("old"),
    ).collect()
    assert all(r.new is None and r.old is None for r in got)


def test_cosine_topk_raises_on_ragged_vectors(spark):
    """A ragged vector in a block used to rank as a NULL-similarity
    neighbour (``(0, 2, sim=None, rn=2)``); it must fail the action."""
    from pyspark.errors import PySparkException

    from join_example_spark.operators.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [1.0])],
        "vec_id long, embedding array<float>",
    ).withColumn("label", F.lit(0))
    with pytest.raises(PySparkException, match="ragged"):
        cosine_topk(emb, k=2, probe_pred=None).collect()
