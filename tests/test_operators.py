"""Operator unit tests on crafted micro-fixtures (FIXTURES.md).

These cover the semantic edges the synthetic tables cannot exercise:
as-of ties, session-gap boundaries (< vs <=), NULL join keys, and the
bucketed range join's equivalence to the plain formulation.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from join_example_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    token_jaccard_pairs,
)
from join_example_spark.operators.temporal import (
    asof_join,
    latest_per_key,
    range_join,
    range_join_bucketed,
)


def _ts(minute: int, second: int = 0, micro: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 12, minute, second, micro)


# ---------------------------------------------------------------- as-of join


def test_asof_join_picks_latest_at_or_before_with_tie(spark):
    left = spark.createDataFrame(
        [Row(k=1, lid=100, ts=_ts(30)), Row(k=1, lid=101, ts=_ts(10))]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rid=1, ts=_ts(5)),
            Row(k=1, rid=2, ts=_ts(10)),  # tie with left lid=101 at :10 (<= wins)
            Row(k=1, rid=3, ts=_ts(10)),  # identical right ts — tie on right
            Row(k=1, rid=4, ts=_ts(31)),  # after both lefts — never matches
        ]
    )
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts").select(
        "l_lid", "r_ts"
    )
    got = {(r.l_lid, r.r_ts) for r in out.collect()}
    assert got == {(100, _ts(10)), (101, _ts(10))}


def test_asof_join_inner_drops_unmatched_and_respects_keys(spark):
    left = spark.createDataFrame(
        [Row(k=1, lid=1, ts=_ts(1)), Row(k=2, lid=2, ts=_ts(50))]
    )
    right = spark.createDataFrame([Row(k=1, rid=9, ts=_ts(0))])
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts")
    rows = out.select("l_lid", "r_rid").collect()
    assert [(r.l_lid, r.r_rid) for r in rows] == [(1, 9)]  # k=2 has no match


def test_asof_tolerance_bounds_lookback(spark):
    left = spark.createDataFrame([Row(k=1, lid=1, ts=_ts(30))])
    right = spark.createDataFrame([Row(k=1, rid=1, ts=_ts(0))])
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        tolerance="INTERVAL 10 MINUTES",
    )
    assert out.count() == 0  # match is 30 min old, tolerance is 10


# ------------------------------------------------------------- range joins


def _range_fixture(spark):
    left = spark.createDataFrame(
        [Row(k=1, lid=1, ts=_ts(0)), Row(k=1, lid=2, ts=_ts(45)), Row(k=2, lid=3, ts=_ts(0))]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rid=1, ts=_ts(0)),       # boundary: == left ts
            Row(k=1, rid=2, ts=_ts(59, 59)),  # within 1h of lid=1
            Row(k=1, rid=3, ts=dt.datetime(2024, 1, 1, 13, 0, 0)),  # exactly +1h
            Row(k=2, rid=4, ts=_ts(30)),
            Row(k=3, rid=5, ts=_ts(1)),       # key with no left
        ]
    )
    return left, right


def test_range_join_window_semantics(spark):
    left, right = _range_fixture(spark)
    out = range_join(left, right, on=["k"], left_ts="ts", right_ts="ts")
    got = sorted((r.l_lid, r.r_rid) for r in out.collect())
    # lid=1 matches rids 1,2,3 (inclusive both ends); lid=2 matches 2,3; lid=3 matches 4
    assert got == [(1, 1), (1, 2), (1, 3), (2, 2), (2, 3), (3, 4)]


def test_range_join_bucketed_equals_plain(spark):
    left, right = _range_fixture(spark)
    plain = range_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                       upper="INTERVAL 3600 SECOND")
    bucketed = range_join_bucketed(left, right, "ts", "ts", 3600, on=["k"])
    p = sorted((r.l_lid, r.r_rid) for r in plain.collect())
    b = sorted((r.l_lid, r.r_rid) for r in bucketed.collect())
    assert p == b


# ------------------------------------------------------ latest per key / NULLs


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, id=1, ts=_ts(10)),
            Row(k=1, id=2, ts=_ts(10)),  # same ts — larger id wins
            Row(k=2, id=3, ts=_ts(0)),
        ]
    )
    out = latest_per_key(df, keys=["k"], ts="ts", tiebreak="id")
    got = {(r.k, r.id) for r in out.collect()}
    assert got == {(1, 2), (2, 3)}


def test_null_join_keys_never_match(spark):
    left = spark.createDataFrame(
        [Row(k=None, v=1), Row(k=1, v=2)], "k INT, v INT"
    )
    right = spark.createDataFrame(
        [Row(k=None, w=10), Row(k=1, w=20)], "k INT, w INT"
    )
    inner = left.join(right, "k").count()
    assert inner == 1  # NULL keys don't match (ANSI)
    anti = left.join(right, "k", "left_anti").count()
    assert anti == 1  # the NULL-key left row survives anti


# ---------------------------------------------------------------- dedup ops


def _dup_docs(spark):
    """Planted exact + near duplicates (FIXTURES.md dup-docs fixture)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"  # 1 token edit
    far = "one two three four five six seven eight nine ten"
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base.upper()),          # exact dup after normalize
            Row(doc_id=3, text="  " + base + "  "),    # exact dup after trim
            Row(doc_id=4, text=near),                  # near dup (J = 9/11)
            Row(doc_id=5, text=far),
        ]
    )


def test_exact_dedup_keeps_lowest_id(spark):
    out = exact_dedup(_dup_docs(spark))
    assert sorted(r.doc_id for r in out.collect()) == [1, 4, 5]


def test_minhash_lsh_finds_planted_near_dup(spark):
    docs = _dup_docs(spark)
    cands = minhash_lsh_candidates(docs, num_perm=16, band_size=4)
    verified = token_jaccard_pairs(docs, cands, threshold=0.7)
    got = {(r.id_a, r.id_b) for r in verified.collect()}
    # The exact-dup pairs (1,2),(1,3),(2,3) are J=1.0; the near pair (x,4) is
    # J=9/11≈0.82. LSH must surface all of them (16 perms, 4-row bands).
    assert {(1, 2), (1, 3), (2, 3)} <= got
    assert any(b == 4 or a == 4 for a, b in got)
    # and nothing pairs with the unrelated doc 5
    assert not any(5 in p for p in got)


# ------------------------------------------------------- session boundaries


def test_session_window_gap_boundary_semantics(spark):
    """Spark session_window merges at EXACTLY the gap (new session iff
    diff > gap, strictly) — the gaps-and-islands oracle must use
    ``brk WHEN diff > 30min`` to match. Pinned here at the µs boundary."""
    rows = [
        Row(user_id=1, event_id=1, ts=_ts(0)),
        Row(user_id=1, event_id=2, ts=_ts(30)),  # +30:00.000000 exactly -> MERGES
        Row(user_id=1, event_id=3, ts=dt.datetime(2024, 1, 1, 13, 0, 0, 1)),  # +30:00.000001 -> new
    ]
    df = spark.createDataFrame(rows)
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("n")
        .collect()
    )
    assert sorted(r.n for r in out) == [1, 2]
    # And the oracle's strict-> rule reproduces the same grouping in DuckDB.
    import duckdb

    con = duckdb.connect()
    got = con.sql(
        """
        WITH e(ts) AS (VALUES (TIMESTAMP '2024-01-01 12:00:00'),
                              (TIMESTAMP '2024-01-01 12:30:00'),
                              (TIMESTAMP '2024-01-01 13:00:00.000001')),
        g AS (SELECT ts, CASE WHEN ts - LAG(ts) OVER (ORDER BY ts)
                               > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM e),
        s AS (SELECT ts, SUM(brk) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        SELECT COUNT(*) AS n FROM s GROUP BY sid ORDER BY n
        """
    ).fetchall()
    con.close()
    assert [r[0] for r in got] == [1, 2]


def test_connected_components_multi_hop_chain(spark):
    from join_example_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
    # chain 1-2-3-4 (diameter 3), pair 5-6, singleton 7
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6)], ["src", "dst"]
    )
    got = {
        (r.id, r.cluster_id)
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 7)}


def test_connected_components_raises_without_convergence(spark):
    import pytest as _pytest

    from join_example_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 30)], ["id"])
    # one long chain: diameter 28 needs ~28 rounds > max_iter=3
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 29)], ["src", "dst"]
    )
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(nodes, edges, max_iter=3)


@pytest.mark.parametrize("loop", ["connected_components", "connected_components_star"])
def test_connected_components_without_edges_are_singletons(spark, loop):
    """With no edges the first round finds the fixpoint and every node is
    its own component."""
    from join_example_spark.operators import graph

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "id BIGINT")
    edges = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    got = {(r.id, r.cluster_id) for r in getattr(graph, loop)(nodes, edges).collect()}
    assert got == {(1, 1), (2, 2), (3, 3)}


def test_connected_components_star_matches_propagation(spark):
    from join_example_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
    edges = spark.createDataFrame([(2, 1), (2, 3), (3, 4), (5, 6)], ["src", "dst"])
    star = {
        (r.id, r.cluster_id)
        for r in connected_components_star(nodes, edges).collect()
    }
    prop = {
        (r.id, r.cluster_id)
        for r in connected_components(nodes, edges).collect()
    }
    assert star == prop == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 7)}


def test_connected_components_star_long_chain_logarithmic_rounds(spark):
    from join_example_spark.operators.graph import connected_components_star

    # Chain of 29 nodes (diameter 28): plain propagation needs ~29 rounds;
    # star contraction must finish well within 12 (O(log n)).
    nodes = spark.createDataFrame([(i,) for i in range(1, 30)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 29)], ["src", "dst"])
    got = {
        (r.id, r.cluster_id)
        for r in connected_components_star(nodes, edges, max_iter=12).collect()
    }
    assert got == {(i, 1) for i in range(1, 30)}


def test_connected_components_star_string_ids(spark):
    from join_example_spark.operators.graph import connected_components_star

    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], ["id"])
    edges = spark.createDataFrame([("b", "c"), ("c", "a")], ["src", "dst"])
    got = {
        (r.id, r.cluster_id)
        for r in connected_components_star(nodes, edges).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")}


def test_simhash_band_pairs_complete_vs_brute_force(spark):
    # Pigeonhole banding must find EVERY pair within the radius — exact
    # recall, not probabilistic.
    from join_example_spark.operators.dedup import simhash64, simhash_band_pairs
    from join_example_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    sigs = simhash64(docs)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    truth = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.expr("bit_count(sa ^ sb)"))
        .where(F.col("h") <= 3)
        .select("id_a", "id_b")
        .collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in simhash_band_pairs(docs, max_hamming=3).collect()
    }
    assert got == truth


def test_simhash_block_pairs_sound_subset_of_brute_force(spark):
    # The block-column variant (contrast to exact banding) must be SOUND:
    # everything it returns is a true hamming<=3 pair. (It is deliberately
    # not complete — blocking is a recall/cost tradeoff.)
    from join_example_spark.operators.dedup import simhash64, simhash_near_pairs
    from join_example_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    got = {
        (r.id_a, r.id_b)
        for r in simhash_near_pairs(docs, max_hamming=3, block_col="lang").collect()
    }
    sigs = simhash64(docs)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    truth = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.expr("bit_count(sa ^ sb)"))
        .where(F.col("h") <= 3)
        .select("id_a", "id_b")
        .collect()
    }
    assert got <= truth


def test_minhash_band_geometry_guard(spark):
    from join_example_spark.operators.dedup import minhash_lsh_candidates
    from join_example_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match="band_size must divide"):
        minhash_lsh_candidates(docs, num_perm=8, band_size=16)
    with pytest.raises(ValueError, match="band_size must divide"):
        minhash_lsh_candidates(docs, num_perm=16, band_size=5)


def test_simhash_radius_zero_finds_identical_fingerprints(spark):
    from join_example_spark.operators.dedup import simhash64, simhash_band_pairs
    from join_example_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    got = simhash_band_pairs(docs, max_hamming=0)
    assert got.where(F.col("hamming") != 0).count() == 0
    assert got.count() > 0  # fixture corpus has exact-duplicate texts


def test_asof_tie_break_is_deterministic(spark):
    from join_example_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 1, 100)], "lid BIGINT, key BIGINT, ts BIGINT")
    right = spark.createDataFrame(
        [(2, 1, 90), (3, 1, 90)], "rid BIGINT, key BIGINT, ts BIGINT"
    )
    for _ in range(3):
        out = asof_join(left, right, on=["key"], left_ts="ts", right_ts="ts")
        # max-ts tie between rid 2 and 3 -> the remaining-columns ordering
        # (desc) must always pick rid=3.
        assert [r.r_rid for r in out.collect()] == [3]


def test_salted_join_rejects_outer_modes(spark):
    from join_example_spark.operators.skew import salted_join
    from join_example_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    li = read_table(spark, SF_SMOKE, "lineitem").withColumnRenamed(
        "l_suppkey", "s_suppkey"
    )
    s = read_table(spark, SF_SMOKE, "supplier")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(li, s, on="s_suppkey", salt_src="l_orderkey", how="full")


def test_connected_components_string_ids(spark):
    from join_example_spark.operators.graph import connected_components

    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "id STRING"
    )
    edges = spark.createDataFrame([("b", "a"), ("b", "c")], "src STRING, dst STRING")
    got = {
        (r.id, r.cluster_id) for r in connected_components(nodes, edges).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d")}


def test_hash_sample_is_partition_independent(spark):
    from join_example_spark.operators.sampling import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in hash_sample(df, "doc_id", 10).collect()}
    b = {
        r.doc_id
        for r in hash_sample(df.repartition(13, "doc_id"), "doc_id", 10).collect()
    }
    assert a == b
    # ~10% within loose tolerance (deterministic, so exact across reruns)
    assert 100 <= len(a) <= 300


def test_split_assign_is_group_stable_and_total(spark):
    from join_example_spark.operators.sampling import split_assign

    df = spark.createDataFrame(
        [(i, f"src{i % 20}") for i in range(400)], "doc_id LONG, source STRING"
    )
    out = split_assign(df, "source")
    per_group = (
        out.groupBy("source")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r.n_splits == 1 for r in per_group)
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits


def test_pack_chunks_respects_running_budget(spark):
    from join_example_spark.operators.sampling import pack_chunks

    rows = [(i, "s", 100) for i in range(1, 11)]  # 10 docs x 100 tokens
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, n_tok LONG")
    out = {r.doc_id: r.shard_id for r in pack_chunks(df, "source", "doc_id", "n_tok", 256).collect()}
    # cum_before: 0,100,...,900 -> shards 0,0,0,1,1,1,2,2,3,3
    assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1, 7: 2, 8: 2, 9: 3, 10: 3}
    # an oversized doc still gets a shard of its own (no truncation)
    big = spark.createDataFrame(
        [(1, "s", 1000), (2, "s", 5), (3, "s", 5)], "doc_id LONG, source STRING, n_tok LONG"
    )
    got = {r.doc_id: r.shard_id for r in pack_chunks(big, "source", "doc_id", "n_tok", 256).collect()}
    assert got == {1: 0, 2: 3, 3: 3}


def test_triangle_stats_known_graphs(spark):
    from join_example_spark.operators.graph import triangle_stats

    # K4: 6 edges, 12 wedges, 4 triangles, clustering 3*4/12 = 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4, "src LONG, dst LONG")
    row = triangle_stats(df).collect()[0]
    assert (row.n_edges, row.n_wedges, row.n_triangles) == (6, 12, 4)
    assert row.global_clustering == 1.0

    # Path 0-1-2-3: 3 edges, 2 wedges, 0 triangles
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src LONG, dst LONG")
    row = triangle_stats(path).collect()[0]
    assert (row.n_edges, row.n_wedges, row.n_triangles) == (3, 2, 0)
    assert row.global_clustering == 0.0

    # Duplicate/reversed/self edges are canonicalized away
    messy = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 0), (1, 2), (0, 2), (2, 0)], "src LONG, dst LONG"
    )
    row = triangle_stats(messy).collect()[0]
    assert (row.n_edges, row.n_triangles) == (3, 1)


def test_repetition_features_known_doc(spark):
    from join_example_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y"), (3, "solo")], "doc_id LONG, text STRING"
    )
    got = {r.doc_id: r for r in repetition_features(df).collect()}
    assert got[1].n_tokens == 4 and got[1].top_word_frac == 0.75
    # bigrams of doc 1: "a a","a a","a b" -> top 2/3
    assert abs(got[1].top_bigram_frac - 2 / 3) < 1e-12
    assert got[2].top_word_frac == 0.5 and got[2].top_bigram_frac == 1.0
    assert got[3].top_word_frac == 1.0 and got[3].top_bigram_frac is None


def test_kmeans_lloyd_stats_converged_fixpoint(spark):
    from join_example_spark.operators.similarity import kmeans_lloyd_stats

    # Two orthogonal unit vectors, each duplicated: centroids are the two
    # lowest ids; every member sits exactly on its centroid -> shift 0.
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = {r.cell: r for r in kmeans_lloyd_stats(df, n_centroids=2).collect()}
    assert set(out) == {0, 1}
    for r in out.values():
        assert r.n_members == 2
        assert r.centroid_shift == 0.0
        assert r.avg_sim == 1.0
