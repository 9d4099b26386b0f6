"""Round-13 pins.

1. Planted-skew equivalence for the two-pass q_llm_domain_cap plan
   (VERDICT r12 task 5): the salted partial-top-K + hash-aggregate-totals
   plan must be row-identical to the naive single-window semantics on an
   adversarial host distribution (one host holding ~90% of the corpus,
   heavy n_chars ties, a below-cap host), across salt counts including the
   degenerate salts=1.
2. URL-canonicalizer regression pins for the ADVICE r12 escape bug live in
   tests/test_round12_ops.py (planted wwwx.com / indexZhtml cases).
3. The both-SF oracle mirror of the ratio-margin accept-recall audit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from join_example_spark.queries import llm_similarity as sim_q
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import compare_fn

#: The ratio-margin accept-recall audit: a plain reference function, not a
#: declared query (its screen stays driver-audited via the declared
#: q_llm_mine_margin_ratio_ivf). Its full oracle-parity proof stays HERE at
#: both fixture SFs.
RATIO_RECALL = {"q_llm_mine_margin_ratio_recall": sim_q.MARGIN_RATIO_RECALL_ORACLE}


@pytest.mark.parametrize("name", RATIO_RECALL)
def test_r13_library_mirror_smoke(spark, name):
    problems = compare_fn(spark, getattr(sim_q, name), RATIO_RECALL[name], SF_SMOKE)
    assert not problems, problems


@pytest.mark.parametrize("name", RATIO_RECALL)
def test_r13_library_mirror_sf001(spark, name):
    problems = compare_fn(spark, getattr(sim_q, name), RATIO_RECALL[name], SF_ORACLE)
    assert not problems, problems


def _planted_skew_df(spark):
    # big.example: 900 rows — the pathological host the cap exists to bound;
    # n_chars = doc_id % 7 plants massive ties so the doc_id tiebreak is
    # load-bearing. tiny.example: 3 rows (below cap — rank must not pad).
    # ties.example: all n_chars equal (pure-tiebreak ordering).
    # NULL host x2: groupBy/Window both treat NULLs as ONE group — the
    # two-pass plan's totals join must be null-safe or these rows vanish
    # (round-13 review finding).
    rows = [(i, i % 7, "big.example") for i in range(900)]
    rows += [(1000 + i, 50 + i, "tiny.example") for i in range(3)]
    rows += [(2000 + i, 5, "ties.example") for i in range(40)]
    rows += [(3000, 9, None), (3001, 4, None)]
    return spark.createDataFrame(rows, "doc_id bigint, n_chars int, host string")


def test_domain_cap_planted_skew_equivalence(spark):
    from join_example_spark.queries.llm_dedup import (
        domain_cap_naive_plan,
        domain_cap_plan,
    )

    hosts = _planted_skew_df(spark)
    want = sorted(
        map(tuple, domain_cap_naive_plan(hosts, cap=12).collect()),
        key=lambda t: (t[0],),
    )
    assert len(want) == 12 + 3 + 12 + 2
    assert sum(1 for t in want if t[1] is None) == 2
    for salts in (1, 5, 32):
        got = sorted(
            map(tuple, domain_cap_plan(hosts, cap=12, salts=salts).collect()),
            key=lambda t: (t[0],),
        )
        assert got == want, f"salts={salts} diverged from single-window semantics"


def test_total_adjudication_separates_hot_session_from_regression():
    """Round-13 pin (VERDICT r12 task 2): the suite-total adjudicator must
    read DIFFUSE inflation (every query a little slow, none clearing 2x
    its own envelope median) as a hot session, and CONCENTRATED excess
    (>2x-median queries carrying >=50% of the overshoot) as a suspected
    code regression. The baseline is the ENVELOPE, never the truncated
    recorded bench payload (round-13 review: BENCH_r{N}.json keeps only
    the ~60 most expensive queries, so a common-set baseline is blind to
    regressions in the other ~170)."""
    from tools.compare_bench import adjudicate_total, compute_diff

    n = 100
    old = {f"q{i}": 1.0 for i in range(n)}
    env = {f"q{i}": {"spread_pct": 30, "median": 1.0} for i in range(n)}
    env_totals = [100.0, 102.0, 105.0]

    # uniform +30%: total 130 > envelope max 105, but no query reaches
    # 2x its median -> diffuse -> hot session
    hot = compute_diff(old, {q: 1.3 for q in old}, env=env, env_totals=env_totals)
    assert hot["total_adjudication"] == "hot_session_suspected"
    assert hot["outside_envelope"] == []

    # one query +30 s, rest unchanged: a >2x-median row carries the whole
    # excess -> code regression
    new = dict(old)
    new["q0"] = 31.0
    reg = compute_diff(old, new, env=env, env_totals=env_totals)
    assert reg["total_adjudication"] == "code_regression_suspected"
    assert [r["query"] for r in reg["outside_envelope"]] == ["q0"]

    # the regressed query is ABSENT from the recorded old payload (the
    # stdout-truncation case): the envelope-based adjudicator must still
    # convict even though the common-set diff cannot flag it
    old_trunc = {q: s for q, s in old.items() if q != "q0"}
    reg2 = compute_diff(old_trunc, new, env=env, env_totals=env_totals)
    assert reg2["outside_envelope"] == []  # common-set diff is blind...
    assert reg2["total_adjudication"] == "code_regression_suspected"  # ...this isn't
    assert reg2["total_adjudication_detail"]["concentrated_excess_sec"] == 30.0

    # inside the same-code envelope: nothing to explain
    ok = compute_diff(old, {q: 1.02 for q in old}, env=env, env_totals=env_totals)
    assert ok["total_adjudication"] == "within_envelope"

    # unattributable time (queries with no envelope row) is surfaced so a
    # stale-envelope verdict is readable as such
    new3 = dict(old)
    new3["q_brand_new"] = 40.0
    unrec = adjudicate_total(new3, env, env_totals)
    assert unrec["verdict"] == "hot_session_suspected"
    assert unrec["unrecorded_sec"] == 40.0

    # no envelope recorded -> explicit no_envelope, never a false verdict
    assert adjudicate_total({"q0": 500.0}, {}, [])["verdict"] == "no_envelope"


def test_table_row_count_footer_cache():
    """table_row_count reads parquet FOOTER metadata (exact), and caches:
    a second call for the same (sf_dir, table) must not re-open the file."""
    import pyarrow.parquet as pq

    from join_example_spark.sources import readers

    readers._ROW_COUNT_CACHE.clear()
    want = pq.read_metadata("/root/testdata/sf0.001/embeddings.parquet").num_rows
    assert readers.table_row_count("/root/testdata/sf0.001", "embeddings") == want
    # trailing-slash normalization shares the cache entry
    assert ("/root/testdata/sf0.001", "embeddings") in readers._ROW_COUNT_CACHE
    orig = pq.read_metadata
    try:
        def boom(*a, **k):
            raise AssertionError("cache miss: re-read footer")
        pq.read_metadata = boom
        assert readers.table_row_count("/root/testdata/sf0.001/", "embeddings") == want
    finally:
        pq.read_metadata = orig


def test_table_row_count_directory_skips_hidden_paths(tmp_path):
    """The directory branch must match Spark's file-index semantics:
    basenames starting with '_' or '.' (_temporary leftovers,
    _spark_metadata, hidden files) are invisible to the scan and must not
    count (round-13 review: a phantom n would silently resize the ANN
    dials away from the oracle-pinned operating point)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from join_example_spark.sources import readers

    d = tmp_path / "t.parquet"
    (d / "_temporary").mkdir(parents=True)
    pq.write_table(pa.table({"x": list(range(7))}), d / "part-0.parquet")
    pq.write_table(pa.table({"x": list(range(5))}), d / "part-1.parquet")
    # extension-less part file: Spark's file index reads every non-hidden
    # file regardless of suffix, so it must count here too (ADVICE r13)
    pq.write_table(pa.table({"x": list(range(4))}), d / "part-2")
    # all three of these must be ignored
    pq.write_table(pa.table({"x": list(range(99))}), d / "_temporary" / "part-9.parquet")
    pq.write_table(pa.table({"x": list(range(50))}), d / "_committed.parquet")
    pq.write_table(pa.table({"x": list(range(31))}), d / ".hidden.parquet")

    readers._ROW_COUNT_CACHE.clear()
    assert readers.table_row_count(str(tmp_path), "t") == 16


def test_ann_plan_build_runs_no_scan_jobs(spark, monkeypatch):
    """Round-13 pin (VERDICT r12 task 4): the ANN-family index-sizing dials
    come from cached footer metadata — BUILDING these plans must launch
    zero DataFrame.count() actions (previously each execution paid a
    full-scan count job)."""
    from pyspark.sql import DataFrame

    from join_example_spark.registry import load_all

    def boom(self):
        raise AssertionError("plan-build ran a DataFrame.count() action")

    monkeypatch.setattr(DataFrame, "count", boom)
    declared = load_all()
    for name in (
        "q_llm_ann_recall_nprobe",
        "q_llm_imi_recall",
        "q_llm_sim_ivfpq",
        "q_llm_embed_outliers",
        "q_llm_mine_margin_ivf",
    ):
        df = declared[name].fn(spark, SF_SMOKE)
        assert df.columns  # plan built, no action ran


def test_domain_cap_salt_stage_bounds_partitions(spark):
    """The property that makes the plan skew-safe: after the salted stage,
    no (host) group exceeds salts*cap rows — the final window never sees
    the raw host multiplicity."""
    from join_example_spark.queries.llm_dedup import domain_cap_plan  # noqa: F401

    hosts = _planted_skew_df(spark)
    salts, cap = 8, 12
    w_salt = Window.partitionBy("host", "salt").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    survivors = (
        hosts.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(salts)).cast("int"))
        .withColumn("salt_rank", F.row_number().over(w_salt))
        .where(F.col("salt_rank") <= cap)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_host = {r["host"]: r["n"] for r in survivors}
    assert by_host["big.example"] <= salts * cap
    assert by_host["tiny.example"] == 3
