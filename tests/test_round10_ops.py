"""Round-10 pins: the symmetrized margin-miner screen (corpus multi-assign
q=4, halved probe dial) and the gray-zone escalation gate.

Hash-level correctness stays certified by the oracle mirror (both SFs);
these pin the structural contracts a silent edit would break first:

- the dial rule's fixture floor and 64x-tier landing points (the oracle
  hardcodes arn <= 4 / arn <= 5; the measured-frontier table in SCALE.md
  §3.13 cites (4, 20) / (4, 7));
- the escalation contract: any OUTPUT row passing the WIDENED gate
  (margin >= 0.04 AND best_sim >= 0.29) was routed through the exact
  verify stage, so it must carry the exact flat-truth best/margin — a
  row with near-gate screen estimates in the output means the escalation
  was bypassed;
- pair de-duplication under multi-assign: a candidate meeting a probe in
  several cells must not occupy both top-2 slots (second_sim would equal
  best_sim with the same cand — margin 0 corruption).
"""

from __future__ import annotations

# The margin flat truths are plain reference functions (not declared
# queries); the IVF siblings they check are declared.
from join_example_spark.queries import llm_similarity as sim_q
from join_example_spark.registry import load_all

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


class TestMarginScreenDials:
    def test_fixture_floor_and_tier_landings(self):
        from join_example_spark.operators.similarity import (
            MARGIN_CORPUS_ASSIGN,
            margin_screen_dials,
        )

        assert MARGIN_CORPUS_ASSIGN == 4
        # fixture SFs: probe dial floors at the audited 5
        assert margin_screen_dials(500) == (4, 5)
        assert margin_screen_dials(2000) == (4, 5)
        # measured 64x-tier landing points (SCALE.md §3.13):
        # default (4, 20) -> accept recall 0.9219; the halved 0.90-notch
        # probe dial is ceil(14/2) = 7
        assert margin_screen_dials(128000) == (4, 20)
        assert margin_screen_dials(128000, target_recall=0.90) == (4, 7)

    def test_escalation_literals(self):
        # 0.05 - 0.01 and 0.3 - 0.01 computed in IEEE are NOT the literals
        # 0.04 / 0.29 (e.g. 0.05 - 0.01 == 0.040000000000000001); the
        # constants must be the literals the oracle SQL parses.
        from join_example_spark.operators.similarity import (
            MARGIN_ESC_FLOOR,
            MARGIN_ESC_MARGIN,
        )

        assert MARGIN_ESC_MARGIN == 0.04
        assert MARGIN_ESC_FLOOR == 0.29
        reg = load_all()
        sql = reg["q_llm_mine_margin_ivf"].oracle
        assert ">= 0.04" in sql and ">= 0.29" in sql
        assert "arn <= 4" in sql and "arn <= 5" in sql


class TestGrayZoneEscalation:
    def test_widened_gate_rows_carry_exact_truth(self, spark):
        # Escalation contract: every output row whose (margin, best_sim)
        # pass the WIDENED gate was exact-verified, so it must equal the
        # flat truth row — including escalated-but-REJECTED rows (their
        # estimates are replaced by exact values, which is what makes the
        # final accepted flag exact at the 0.05/0.3 thresholds).
        reg = load_all()
        flat = {
            r["probe_id"]: r
            for r in sim_q.q_llm_mine_margin_baseline(spark, SF01).collect()
        }
        ivf = reg["q_llm_mine_margin_ivf"].fn(spark, SF01).collect()
        widened = [
            r for r in ivf if r["margin"] >= 0.04 and r["best_sim"] >= 0.29
        ]
        assert widened, "fixture drift: no row passes the widened gate at sf0.01"
        for r in widened:
            f = flat[r["probe_id"]]
            assert r["best_id"] == f["best_id"]
            assert r["best_sim"] == f["best_sim"]
            assert r["margin"] == f["margin"]
            assert r["accepted"] == f["accepted"]

    def test_dedup_under_multi_assign(self, spark):
        # One output row per probe, and no probe may show margin == 0.0
        # with best_id duplicated into the second slot (the corruption the
        # GROUP BY dedup exists to prevent). margin == 0.0 from two
        # DISTINCT equally-similar candidates remains legal; the oracle
        # mirror certifies values, this pins the row-shape.
        reg = load_all()
        rows = reg["q_llm_mine_margin_ivf"].fn(spark, SF).collect()
        assert len(rows) == len({r["probe_id"] for r in rows})
        for r in rows:
            assert r["margin"] is not None and r["margin"] >= 0.0

    def test_accept_precision_and_recall_floor_at_sf001(self, spark):
        # Precision: every ivf accept must be a flat accept with the same
        # best (1.0 by construction — the verify stage). Recall: the
        # sf0.01 flat accept set is TWO probes (a binomial, not a metric —
        # the real recall evidence is the 64x-tier table in SCALE.md
        # §3.13: 0.922 default / 0.672 notch); probe 300's true best sits
        # outside the q=4/p=5 cell overlap at this SF, so 0.5 is the
        # current measured point — pin it as the floor so a screen
        # regression (0 accepts) still fails loudly.
        reg = load_all()
        flat_acc = {
            r["probe_id"]: r["best_id"]
            for r in sim_q.q_llm_mine_margin_baseline(spark, SF01).collect()
            if r["accepted"]
        }
        ivf_acc = {
            r["probe_id"]: r["best_id"]
            for r in reg["q_llm_mine_margin_ivf"].fn(spark, SF01).collect()
            if r["accepted"]
        }
        assert flat_acc, "fixture drift: flat accept set empty at sf0.01"
        for p, b in ivf_acc.items():
            assert flat_acc.get(p) == b, f"precision break: {p} -> {b}"
        hits = sum(1 for p, b in ivf_acc.items() if flat_acc.get(p) == b)
        recall = hits / len(flat_acc)
        assert recall >= 0.5, f"accept recall regressed: {recall}"

    def test_recall_audit_query_coherent(self, spark):
        # q_llm_mine_margin_recall (round 10): single-row audit; the
        # precision_exact boolean IS the verify-the-positives contract
        # and must hold at every SF; hits can never exceed either count.
        reg = load_all()
        for sf in (SF, SF01):
            row = reg["q_llm_mine_margin_recall"].fn(spark, sf).collect()
            assert len(row) == 1
            r = row[0]
            assert r["precision_exact"] is True, (sf, r)
            assert r["n_hits"] <= r["n_true_accepts"] or r["n_true_accepts"] == 0
            assert r["n_hits"] <= r["n_ivf_accepts"] or r["n_ivf_accepts"] == 0
            if r["n_true_accepts"] == 0:
                assert r["accept_recall"] is None


class TestCalibrated095Dial:
    def test_measured_landing_points(self):
        # Round-10 sweep rows (tools/calibrated_recall_sweep.py):
        # p=11 at 16k -> recall 0.9642 / 122.1M pairs; p=16 at 128k ->
        # 0.9515 / 5.86B (6.2x fewer than the recall-1.0 p=40).
        from join_example_spark.operators.similarity import adaptive_nprobe

        assert adaptive_nprobe(16000, target_recall=0.95) == 11
        assert adaptive_nprobe(128000, target_recall=0.95) == 16

    def test_fixture_floor_unchanged(self):
        from join_example_spark.operators.similarity import adaptive_nprobe

        for n in (500, 2000):
            assert adaptive_nprobe(n, target_recall=0.95) == 5

    def test_dominance_all_notches(self):
        # p85 <= p90 <= p95 <= recall-1.0 default for ALL n: the raw 0.95
        # tail (0.33) crosses below the 0.85 law near n ~ 10M, so the
        # schedule floors at the FINAL 0.90 schedule — pin past the
        # crossover (same grid idiom as the round-9 0.90 pin).
        from join_example_spark.operators.similarity import adaptive_nprobe

        for n in list(range(100, 20000, 777)) + list(
            range(20000, 8_000_001, 99_991)
        ) + [2_300_000, 4_000_000, 8_000_000]:
            p85 = adaptive_nprobe(n, target_recall=0.85)
            p90 = adaptive_nprobe(n, target_recall=0.90)
            p95 = adaptive_nprobe(n, target_recall=0.95)
            pd = adaptive_nprobe(n)
            assert p85 <= p90 <= p95 <= pd, (n, p85, p90, p95, pd)

    def test_uncalibrated_targets_still_raise(self):
        import pytest as _pytest

        from join_example_spark.operators.similarity import adaptive_nprobe

        with _pytest.raises(ValueError):
            adaptive_nprobe(128000, target_recall=0.99)


class TestRatioMarginFamily:
    def test_family_declared_and_oracled(self):
        # the IVF default is declared with its oracle twin; the flat truth
        # is a plain function whose oracle twin is a module constant
        reg = load_all()
        assert reg["q_llm_mine_margin_ratio_ivf"].oracle is not None
        assert "q_llm_mine_margin_ratio_baseline" not in reg
        assert "FROM rk WHERE rn = 1" in sim_q.MARGIN_RATIO_BASELINE_ORACLE

    def test_accepted_rows_are_exact_flat_truth(self, spark):
        # The ratio family inherits the verify-the-positives contract:
        # every accepted ivf row must equal the flat-truth row (best id,
        # sim, RAW ratio — bit-identical doubles). This is the
        # cross-plan check the oracle mirror cannot see (both twins use
        # the same lossless shortlist; a shortlist soundness bug would
        # cancel out there, not here).
        reg = load_all()
        for sf in (SF, SF01):
            flat = {
                r["probe_id"]: r
                for r in sim_q.q_llm_mine_margin_ratio_baseline(spark, sf).collect()
            }
            ivf = reg["q_llm_mine_margin_ratio_ivf"].fn(spark, sf).collect()
            accepted = [r for r in ivf if r["accepted"]]
            assert accepted, f"{sf}: ivf-accepted set empty (fixture drift?)"
            for r in accepted:
                f = flat[r["probe_id"]]
                assert r["best_id"] == f["best_id"], (sf, r, f)
                assert r["best_sim"] == f["best_sim"], (sf, r, f)
                assert r["ratio"] == f["ratio"], (sf, r, f)
                assert f["accepted"] is True

    def test_accepted_booleans_derive_from_values(self, spark):
        # The accepted column is constant-True at fixture SFs (isotropic
        # small-n ratios sit well above 1.05), which weakens the oracle's
        # boolean certification — re-derive it from the emitted values so
        # a sign-flip in either gate fails loudly.
        for name, fn in (
            ("q_llm_mine_margin_ratio_baseline", sim_q.q_llm_mine_margin_ratio_baseline),
            ("q_llm_mine_margin_ratio_ivf", load_all()["q_llm_mine_margin_ratio_ivf"].fn),
        ):
            for r in fn(spark, SF).collect():
                assert r["accepted"] == (
                    r["ratio"] >= 1.05 and r["best_sim"] >= 0.3
                ), (name, r)
