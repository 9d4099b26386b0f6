"""Round-12 pins.

1. Row-level oracle mirrors of the two margin flat truths
   (q_llm_mine_margin_baseline, q_llm_mine_margin_ratio_baseline): plain
   reference functions, not declared queries, that the declared margin
   audits and the round-9/10 pins compare against. Their FULL DuckDB-oracle
   parity proof stays here — same normalization as the driver, both
   fixture SFs.
2. NULL-user regression pins for the two-level count-distinct rewrites
   (ADVICE r11): outer count(user_id) must match COUNT(DISTINCT user_id)
   even when NULL user_ids exist.
"""

from __future__ import annotations

import pytest

from join_example_spark.queries import llm_similarity as sim_q
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import compare_fn

# the margin flat truths: their plans execute inside the declared recall
# audits; these pins keep their per-probe row-level oracle proofs (the
# audits only certify aggregated accept stats)
FLAT_TRUTHS = {
    "q_llm_mine_margin_baseline": sim_q.MARGIN_BASELINE_ORACLE,
    "q_llm_mine_margin_ratio_baseline": sim_q.MARGIN_RATIO_BASELINE_ORACLE,
}


@pytest.mark.parametrize("name", FLAT_TRUTHS)
def test_library_baseline_mirror_smoke(spark, name):
    problems = compare_fn(spark, getattr(sim_q, name), FLAT_TRUTHS[name], SF_SMOKE)
    assert not problems, problems


@pytest.mark.parametrize("name", FLAT_TRUTHS)
def test_library_baseline_mirror_sf001(spark, name):
    problems = compare_fn(spark, getattr(sim_q, name), FLAT_TRUTHS[name], SF_ORACLE)
    assert not problems, problems


def test_url_canonicalization_planted_cases(spark):
    """Explicit expectations (not oracle-relative) for the canonicalizer:
    each rule exercised by a handcrafted URL."""
    from pyspark.sql import functions as F

    from join_example_spark.queries.llm_dedup import _URL_CANON_SQL

    cases = [
        # (raw, expected canonical)
        ("HTTP://WWW.Ex.COM:80/a//b/index.html?utm_source=x&b=2&a=1#f",
         "http://ex.com/a/b?a=1&b=2"),
        ("http://ex.com/a/", "http://ex.com/a"),
        ("Http://ex.com:80/a", "http://ex.com/a"),
        ("http://www.ex.com/a?utm_medium=m", "http://ex.com/a"),
        ("http://ex.com/index.html", "http://ex.com"),
        # :80 stripping is anchored to the END of the authority — a host
        # merely containing '80' must survive
        ("http://ex80.com/a", "http://ex80.com/a"),
        # the www-strip dot is a LITERAL '[.]' (ADVICE r12: '\\.' in a Spark
        # string literal loses its backslash and matched ANY char) — a host
        # merely starting with 'www' must survive unchanged
        ("http://wwwx.com/a", "http://wwwx.com/a"),
        # same class for the /index[.]html rule: 'indexZhtml' is not a match
        ("http://ex.com/indexZhtml", "http://ex.com/indexZhtml"),
        # only utm_* params drop; sort is binary ascii
        ("http://ex.com/a?z=1&A=2", "http://ex.com/a?A=2&z=1"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    c = _URL_CANON_SQL
    out = (
        df.withColumn("scheme", F.expr(c["scheme"]))
        .withColumn("authority", F.expr(c["authority"]))
        .withColumn("pathq", F.expr(c["pathq"]))
        .withColumn("host", F.expr(c["host"]))
        .withColumn("path", F.expr(c["path"]))
        .withColumn("qs", F.expr(c["qs"]))
        .select("url", F.expr(c["canonical_url"]).alias("canon"))
        .collect()
    )
    got = {r["url"]: r["canon"] for r in out}
    for raw, want in cases:
        assert got[raw] == want, f"{raw!r}: got {got[raw]!r}, want {want!r}"


def test_url_canonicalization_is_fixpoint(spark):
    """Canonicalizing a canonical URL is the identity — the property that
    makes the dedup key stable under repeated ingestion."""
    from pyspark.sql import functions as F

    from join_example_spark.queries.llm_dedup import (
        _URL_CANON_SQL,
        _URL_SYNTH_SQL,
    )
    from join_example_spark.sources.readers import read_table

    c = _URL_CANON_SQL

    def canon(df):
        return (
            df.withColumn("scheme", F.expr(c["scheme"]))
            .withColumn("authority", F.expr(c["authority"]))
            .withColumn("pathq", F.expr(c["pathq"]))
            .withColumn("host", F.expr(c["host"]))
            .withColumn("path", F.expr(c["path"]))
            .withColumn("qs", F.expr(c["qs"]))
            .select("doc_id", F.expr(c["canonical_url"]).alias("url"))
        )

    docs = read_table(spark, SF_SMOKE, "documents")
    raw = docs.select("doc_id", F.expr(_URL_SYNTH_SQL).alias("url"))
    once = canon(raw)
    twice = canon(once)
    diff = (
        once.withColumnRenamed("url", "u1")
        .join(twice.withColumnRenamed("url", "u2"), "doc_id")
        .where(F.col("u1") != F.col("u2"))
        .count()
    )
    assert diff == 0


def test_two_level_distinct_null_user(spark):
    """ADVICE r11: the two-level HLL rewrite's outer count must be
    count(user_id), not count(1) — a NULL user_id forms its own per-user
    group and would otherwise inflate n_users vs the NULL-excluding
    COUNT(DISTINCT user_id) / HLL twins. Pin with a crafted frame."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("click", 1), ("click", 1), ("click", 2), ("click", None), ("view", None)],
        "event_type string, user_id int",
    )
    per_user = df.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("_n"))
    out = (
        per_user.groupBy("event_type")
        .agg(
            F.count(F.col("user_id")).cast("bigint").alias("n_users"),
            F.sum("_n").cast("bigint").alias("n_events"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("hll"),
        )
        .collect()
    )
    rows = {r["event_type"]: r for r in out}
    # click: users {1,2} (NULL excluded), 4 events total (NULL included)
    assert rows["click"]["n_users"] == 2 and rows["click"]["n_events"] == 4
    assert rows["click"]["hll"] == 2  # HLL ignores NULLs too
    # view: only a NULL user — 0 distinct users, 1 event
    assert rows["view"]["n_users"] == 0 and rows["view"]["n_events"] == 1
    assert rows["view"]["hll"] == 0
