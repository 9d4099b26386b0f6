"""Round-11 pins: the nonneg-clamped ratio-margin dens (ADVICE r10), the
1-in-100 ratio-family probe split, and the ratio accept-recall /
escalated-fraction audit (verdict task 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


class TestClampedRatioDens:
    def test_den_slots_clamped_nonnegative(self, spark):
        # The screening bounds (verify shortlist + screen one-sidedness)
        # are theorems ONLY with nonneg den slots. Feed _top4_den a group
        # whose top-4 holds negatives and pin the clamp: unclamped the den
        # would be (0.5 - 0.2 - 0.3 - 0.4)/8 = -0.05; clamped it is
        # 0.5/8 = 0.0625.
        from join_example_spark.queries.llm_similarity import _top4_den

        rows = [
            (1, 10, 0.5),
            (1, 11, -0.2),
            (1, 12, -0.3),
            (1, 13, -0.4),
            (1, 14, -0.9),
            (2, 10, -0.1),  # single all-negative slot -> den 0.0
        ]
        df = spark.createDataFrame(rows, "g int, t int, sim double")
        out = {
            r["g"]: r["den"]
            for r in _top4_den(df, "g", "t", "den").collect()
        }
        assert out[1] == 0.5 / 8.0
        assert out[2] == 0.0

    def test_fixtures_exercise_negative_top4_geometry(self, spark):
        # The clamp must be load-bearing on the declared fixtures, not
        # vacuous: with the 1-in-100 split (5 probes at the small SFs)
        # the candidates' top-4 backward sets contain negative sims.
        from pyspark.sql import Window

        from join_example_spark.operators.similarity import DOT_SQL
        from join_example_spark.sources.readers import read_table

        emb = read_table(spark, SF, "embeddings")
        probes = emb.where(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
        )
        cands = emb.where(F.col("vec_id") % 100 != 0).select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
        )
        bw = Window.partitionBy("cand_id").orderBy(
            F.col("sim").desc(), F.col("probe_id")
        )
        neg = (
            cands.crossJoin(F.broadcast(probes))
            .select(
                "cand_id",
                "probe_id",
                F.round(F.expr(DOT_SQL.format(a="pv", b="cv")), 4).alias("sim"),
            )
            .withColumn("rn", F.row_number().over(bw))
            .where((F.col("rn") <= 4) & (F.col("sim") < 0))
            .count()
        )
        assert neg > 0


class TestImi095Notch:
    def test_measured_landings(self):
        # The sweep-measured 0.95-crossings (SCALE.md §3.11d): T=37 at 16k
        # (recall 0.9719; T=36 → 0.9443 below band) and T=66 at 128k
        # (0.9574; T=64 → 0.9278 below). p = max(4, ceil(sqrt(T))).
        from join_example_spark.operators.similarity import adaptive_imi_dials

        assert adaptive_imi_dials(16000, target_recall=0.95) == (7, 37)
        assert adaptive_imi_dials(128000, target_recall=0.95) == (9, 66)

    def test_fixture_dials_and_default_unchanged(self):
        # Declared queries use the DEFAULT dials — (4, 8) at fixture n —
        # so no plan or oracle moves; the 0.95 notch at fixture n is
        # (4, 10) (the default constant fraction under-shoots 0.95, see
        # the honest-non-dominance note at IMI_CALIB_FRAC_95).
        from join_example_spark.operators.similarity import adaptive_imi_dials

        assert adaptive_imi_dials(2000) == (4, 8)
        assert adaptive_imi_dials(500) == (4, 8)
        assert adaptive_imi_dials(2000, target_recall=0.95) == (4, 10)

    def test_notch_dominance_85_90_95(self):
        # T85 = T90 <= T95 for all n (the 0.85/0.90 targets share one
        # measured line; the 0.95 fraction ratio >= 1.156·(n/16k)^0.061
        # >= 1). NOTE: unlike flat IVF there is no "<= default" clause —
        # the IMI default is constant-fraction, not recall-1.0, and the
        # 0.95 schedule legitimately exceeds it below n ≈ 23.7k.
        from join_example_spark.operators.similarity import adaptive_imi_dials

        for n in list(range(100, 20000, 777)) + list(
            range(20000, 8_000_001, 99_991)
        ) + [2_300_000, 4_000_000, 8_000_000]:
            p85, t85 = adaptive_imi_dials(n, target_recall=0.85)
            p90, t90 = adaptive_imi_dials(n, target_recall=0.90)
            p95, t95 = adaptive_imi_dials(n, target_recall=0.95)
            assert t85 == t90 <= t95, (n, t85, t90, t95)
            assert p85 == p90 <= p95, (n, p85, p90, p95)

    def test_uncalibrated_targets_still_raise(self):
        from join_example_spark.operators.similarity import adaptive_imi_dials

        with pytest.raises(ValueError):
            adaptive_imi_dials(128000, target_recall=0.99)


class TestRatioContractsOnPlantedNegativeGeometry:
    def test_randomized_negative_geometries_keep_both_contracts(
        self, spark, tmp_path
    ):
        # The ADVICE-r10 bug class: the family's screening bounds silently
        # assumed nonnegative neighbor sims. This property test feeds the
        # shipped ratio plans (via a synthetic embeddings.parquet fixture dir)
        # seeded raw-Gaussian sets — dots go negative aggressively at
        # these sizes — and asserts the two contracts the round-11 clamp
        # makes theorems: precision_exact always (accepted rows carry
        # exact flat truth through the lossless sim>0 shortlist), and
        # accept_recall == 1.0 whenever every probe escalated (the
        # escalate-all regime makes the verify path's losslessness fully
        # observable). Would have caught the unclamped-bound bug on any
        # seed whose winner rides a negative backward top-4.
        import math
        import random

        from join_example_spark.queries.llm_similarity import (
            q_llm_mine_margin_ratio_recall,
        )

        for seed in (7, 23, 101):
            rnd = random.Random(seed)
            rows = []
            # probes at ids 0,100,...,400 (the % 100 == 0 split), corpus
            # ids scattered in between — 5 probes + 55 candidates.
            ids = [p * 100 for p in range(5)] + [
                i for i in range(1, 500) if i % 100 != 0
            ][:55]
            for vid in ids:
                v = [rnd.gauss(0.0, 1.0) for _ in range(64)]
                n = math.sqrt(sum(x * x for x in v))
                rows.append(
                    (vid, [float(x / n) for x in v], f"l{vid % 3}")
                )
            d = tmp_path / f"geo{seed}"
            d.mkdir()
            spark.createDataFrame(
                rows, "vec_id bigint, embedding array<float>, label string"
            ).write.parquet(str(d / "embeddings.parquet"))

            audit = q_llm_mine_margin_ratio_recall(spark, str(d)).collect()
            assert len(audit) == 1
            r = audit[0]
            assert r["precision_exact"] is True, (seed, r)
            if r["n_escalated"] == r["n_probes"]:
                assert r["accept_recall"] == 1.0, (seed, r)
            # Deterministic seeds -> pin the measured outcomes so a
            # regression in EITHER direction (fabricated accepts, or a
            # shortlist/escalation miss) fails loudly. Measured: seed 7
            # accepts nothing (no-fabrication case, 92 negative top-4
            # slots); seeds 23/101 accept 2 of 5 probes with recall 1.0
            # through partial escalation (76/80 negative slots) — the
            # one-sided screen escalated exactly the flat-accepting
            # probes despite the negative geometry.
            expected = {7: (0, None), 23: (2, 1.0), 101: (2, 1.0)}[seed]
            assert (r["n_true_accepts"], r["accept_recall"]) == expected, (
                seed,
                r,
            )
            assert r["n_ivf_accepts"] == r["n_true_accepts"], (seed, r)


class TestSymmetrizedTopkOptIn:
    def test_corpus_assign_full_probe_is_brute_force_complete(self, spark):
        # With nprobe = n_centroids every probe sees every cell, so top-k
        # must equal the exact brute-force answer EVEN under corpus
        # multi-assign — this is what pins the q>1 dedup (without it, a
        # pair surfacing through several shared cells would occupy
        # several rn slots and push true neighbors out of the top-k).
        from pyspark.sql import Window

        from join_example_spark.operators.similarity import DOT_SQL, ivf_topk
        from join_example_spark.sources.readers import read_table

        emb = read_table(spark, SF, "embeddings")
        c = 16
        got = ivf_topk(
            emb, n_centroids=c, k=3, nprobe=c, corpus_assign=4
        ).collect()

        probes = emb.where(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("vec_p")
        )
        cands = emb.select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("vec_c")
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.col("sim").desc(), F.col("cand_id")
        )
        truth = (
            cands.crossJoin(F.broadcast(probes))
            .where(F.col("probe_id") != F.col("cand_id"))
            .select(
                "probe_id",
                "cand_id",
                F.round(
                    F.expr(DOT_SQL.format(a="vec_p", b="vec_c")), 4
                ).alias("sim"),
            )
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .collect()
        )
        got_set = {(r["probe_id"], r["rn"], r["cand_id"], r["sim"]) for r in got}
        true_set = {
            (r["probe_id"], r["rn"], r["cand_id"], r["sim"]) for r in truth
        }
        assert got_set == true_set

    def test_corpus_assign_partial_probe_emits_no_duplicate_slots(self, spark):
        # At a partial probe budget the q>1 screen is approximate, but
        # each (probe, rn) slot must still be unique and every emitted
        # sim must be the exact rounded dot of a real pair.
        from join_example_spark.operators.similarity import ivf_topk
        from join_example_spark.sources.readers import read_table

        emb = read_table(spark, SF, "embeddings")
        rows = ivf_topk(
            emb, n_centroids=16, k=3, nprobe=2, corpus_assign=4
        ).collect()
        slots = [(r["probe_id"], r["rn"]) for r in rows]
        assert len(slots) == len(set(slots))
        pairs = [(r["probe_id"], r["cand_id"]) for r in rows]
        assert len(pairs) == len(set(pairs))

    def test_default_plan_unchanged(self, spark):
        # corpus_assign=1 must produce the identical result set to the
        # pre-dial operator (declared queries ride this path; their
        # driver-green proofs stay valid without --reprove).
        from join_example_spark.operators.similarity import ivf_topk
        from join_example_spark.sources.readers import read_table

        emb = read_table(spark, SF, "embeddings")
        a = ivf_topk(emb, n_centroids=16, k=3, nprobe=2).collect()
        b = ivf_topk(emb, n_centroids=16, k=3, nprobe=2, corpus_assign=1).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestRatioRecallAudit:
    def test_fixture_values(self, spark):
        # Accept-all regime at fixture SFs: every probe escalates
        # (escalated_frac 1.0 — the cost observable a 100 TB deployment
        # gates on, degenerate here by construction, see SCALE §3.15) and
        # the verified accepts hit flat truth exactly (precision AND
        # recall 1.0 — the lossless-shortlist certificate).
        from join_example_spark.queries.llm_similarity import (
            q_llm_mine_margin_ratio_recall,
        )

        for sf in (SF, SF01):
            rows = q_llm_mine_margin_ratio_recall(spark, sf).collect()
            assert len(rows) == 1
            r = rows[0]
            assert r["n_probes"] == 5, (sf, r)
            assert r["n_escalated"] == 5, (sf, r)
            assert r["escalated_frac"] == 1.0, (sf, r)
            assert r["precision_exact"] is True, (sf, r)
            assert r["accept_recall"] == 1.0, (sf, r)
            assert r["n_hits"] == r["n_ivf_accepts"] == r["n_true_accepts"]

    def test_audit_uses_shipped_plan_builder(self):
        # The audit must call the exact builder the declared ivf query
        # ships (the can-never-drift idiom): pin the shared symbol.
        import inspect

        from join_example_spark.queries import llm_similarity as m

        src = inspect.getsource(m.q_llm_mine_margin_ratio_recall)
        assert "_ratio_ivf_plan(spark, sf_dir)" in src
        src_ivf = inspect.getsource(m.q_llm_mine_margin_ratio_ivf)
        assert "_ratio_ivf_plan(spark, sf_dir)" in src_ivf
