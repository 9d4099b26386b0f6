"""Round-9 pins: the q_llm_mine_margin family split (flat baseline vs the
IVF-front-end default) and the IMI codebook-sizing NULL guard.

The margin family's hash-level correctness is certified by the oracle
mirror (both queries, both SFs); these tests pin the cheap structural
facts a silent edit would break first: the candidate-subset dominance
invariant that makes the IVF miner's errors one-sided per component, and
the saturation bound on the IMI sizing expression.
"""

from __future__ import annotations

import pytest

# The margin flat truths are plain reference functions (not declared
# queries); the IVF siblings they check are declared.
from join_example_spark.queries import llm_similarity as sim_q
from join_example_spark.registry import load_all

SF = "/root/testdata/sf0.001"


class TestMineMarginFamily:
    def test_family_is_declared_and_oracled(self):
        reg = load_all()
        # the IVF default is declared with its oracle twin; the flat truth
        # is a plain function whose oracle twin is a module constant
        assert reg["q_llm_mine_margin_ivf"].oracle is not None
        assert "q_llm_mine_margin_baseline" not in reg
        assert "FROM best2" in sim_q.MARGIN_BASELINE_ORACLE
        # the unsuffixed name is GONE (renamed round 9, per the r8 verdict)
        assert "q_llm_mine_margin" not in reg

    def test_candidate_subset_dominance(self, spark):
        # The IVF miner scores a SUBSET of the flat miner's candidate set,
        # so per probe: ivf best_sim <= flat best_sim (equality iff the true
        # best survived candidate generation). A violation means the IVF
        # path scored a pair the flat path didn't — impossible unless the
        # probe/corpus split or the rounding drifted between the twins.
        reg = load_all()
        flat = {
            r["probe_id"]: r
            for r in sim_q.q_llm_mine_margin_baseline(spark, SF).collect()
        }
        ivf = reg["q_llm_mine_margin_ivf"].fn(spark, SF).collect()
        assert len(ivf) > 0
        for r in ivf:
            assert r["probe_id"] in flat
            assert r["best_sim"] <= flat[r["probe_id"]]["best_sim"]

    def test_accepted_rows_are_exact_flat_truth(self, spark):
        # Verify-the-positives contract: every accepted row in the IVF
        # miner's output must carry the EXACT flat-truth best/margin —
        # accept precision 1.0 by construction. A violation means the
        # exact rescan stage was bypassed or its corpus drifted from the
        # baseline's.
        # sf0.01: the smallest fixture with a NON-EMPTY ivf-accepted set
        # (sf0.001 has 0 — this pin would be vacuous there).
        sf01 = "/root/testdata/sf0.01"
        reg = load_all()
        flat = {
            r["probe_id"]: r
            for r in sim_q.q_llm_mine_margin_baseline(spark, sf01).collect()
        }
        ivf = reg["q_llm_mine_margin_ivf"].fn(spark, sf01).collect()
        accepted = [r for r in ivf if r["accepted"]]
        assert accepted, "fixture drift: ivf-accepted set became empty at sf0.01"
        for r in accepted:
            f = flat[r["probe_id"]]
            assert r["best_id"] == f["best_id"]
            assert r["best_sim"] == f["best_sim"]
            assert r["margin"] == f["margin"]
            assert f["accepted"] is True

    def test_ivf_never_emits_single_candidate_probes(self, spark):
        # margin is undefined below 2 candidates; the declared filter must
        # keep every emitted margin/accepted non-null on both engines.
        reg = load_all()
        rows = reg["q_llm_mine_margin_ivf"].fn(spark, SF).collect()
        for r in rows:
            assert r["margin"] is not None
            assert r["accepted"] is not None


class TestCalibrated090Dial:
    def test_fixture_sfs_unchanged_by_target(self):
        from join_example_spark.operators.similarity import (
            adaptive_imi_dials,
            adaptive_nprobe,
        )

        # Floors keep every calibrated schedule at the audited fixture
        # operating points — no declared plan or oracle moves.
        for n in (1, 500, 2000, 2025):
            assert adaptive_nprobe(n, target_recall=0.90) == 5
            assert adaptive_imi_dials(n, target_recall=0.90) == (4, 8)

    def test_measured_landing_points(self):
        from join_example_spark.operators.similarity import (
            adaptive_imi_dials,
            adaptive_nprobe,
        )

        # The two-piece 0.90 law must land exactly on MEASURED rows of the
        # deterministic round-8 sweep (SCALE.md §3.11 table):
        #   n=16k  -> p=10 (recall 0.9358, 100.9 M work pairs)
        #   n=128k -> p=14 (recall 0.9121, 4.49 B work pairs)
        assert adaptive_nprobe(16000, target_recall=0.90) == 10
        assert adaptive_nprobe(128000, target_recall=0.90) == 14
        # IMI: the 0.85 knee law's landings (0.9396 @16k, 0.9054 @128k)
        # already sit inside [0.90, 0.95] — one measured operating line
        # serves both targets.
        assert adaptive_imi_dials(16000, target_recall=0.90) == adaptive_imi_dials(
            16000, target_recall=0.85
        )
        assert adaptive_imi_dials(128000, target_recall=0.90) == adaptive_imi_dials(
            128000, target_recall=0.85
        )

    def test_dominance_ordering(self):
        from join_example_spark.operators.similarity import adaptive_nprobe

        # Higher target must never probe LESS than a lower one, and the
        # calibrated schedules never exceed the recall-1.0 default. The
        # grid deliberately extends PAST the ~2.3M crossover where the
        # unfloored 0.90 two-piece law dips below the 0.85 law (ADVICE
        # r9): the max-of-fractions floor in adaptive_nprobe must hold
        # dominance out to 8M.
        for n in range(1, 8_000_001, 997):
            p85 = adaptive_nprobe(n, target_recall=0.85)
            p90 = adaptive_nprobe(n, target_recall=0.90)
            p10 = adaptive_nprobe(n)
            assert p85 <= p90 <= p10, n
        # Spot-check the ADVICE example: n=4M previously gave p90=24 < p85=27.
        assert adaptive_nprobe(4_000_000, target_recall=0.90) >= adaptive_nprobe(
            4_000_000, target_recall=0.85
        )

    def test_uncalibrated_targets_still_raise(self):
        from join_example_spark.operators.similarity import (
            adaptive_imi_dials,
            adaptive_nprobe,
        )

        # 0.95 became a calibrated FLAT-IVF notch in round 10 (see
        # tests/test_round10_ops.py) and an IMI notch in round 11 (see
        # tests/test_round11_ops.py); other targets still raise.
        for bad in (0.8, 0.99):
            with pytest.raises(ValueError):
                adaptive_nprobe(16000, target_recall=bad)
            with pytest.raises(ValueError):
                adaptive_imi_dials(16000, target_recall=bad)


class TestImiSizingGuard:
    def test_c_of_n_saturates_instead_of_nulling(self, spark):
        # The inline SQL sizing rule must COALESCE to the scan max (1024)
        # past 1024^3 reps per block instead of returning NULL (which would
        # silently empty the centroid set — ADVICE r8). Evaluate the exact
        # expression used by operators/cosine_pairs.py on boundary counts.
        import re

        from pathlib import Path

        src = (
            Path(__file__).resolve().parents[1]
            / "join_example_spark"
            / "operators"
            / "cosine_pairs.py"
        ).read_text(encoding="utf-8")
        m = re.search(r'"(coalesce\(array_min\(filter[^"]+)"', src)
        assert m, "sizing expression moved — update this pin"
        expr = m.group(1)
        df = spark.createDataFrame(
            [(8,), (1000,), (1024**3,), (1024**3 + 1,)], ["_n"]
        )
        got = [r[0] for r in df.selectExpr(f"{expr} AS c").collect()]
        assert got == [2, 10, 1024, 1024]
        # and the Python twin (which additionally floors at 4) agrees on
        # in-range points above its floor
        from join_example_spark.operators.similarity import imi_c_per_half

        assert imi_c_per_half(8) == 4  # floor, not ceil-cbrt
        assert imi_c_per_half(1000) == 10
        assert imi_c_per_half(1001) == 11
