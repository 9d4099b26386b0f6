"""Round-16 focused pins: star-CC structural convergence witness.

The optimization round replaced connected_components_star's
consecutive-iterate set-equality test with a structural star-forest
witness (all pairs downhill + no parent is a child + unique parent per
child) — the fixpoints of LS∘SS are exactly the downhill star forests,
so the witness fires one full large-star/small-star round EARLIER than
observing the set stutter. These tests pin (a) the round saving and
(b) that the witness does not fire prematurely on non-star iterates.
"""

from __future__ import annotations

import pytest


def _counting_small_star(g, calls):
    orig = g._small_star

    def wrapper(p):
        calls.append(1)
        return orig(p)

    return wrapper


def test_star_cc_witness_stops_at_first_star_forest(spark, monkeypatch):
    """Chain 1-2-3: one LS+SS round already yields the star forest
    {(2,1),(3,1)} — the structural witness must stop there (the old
    set-equality test needed a second confirming round)."""
    import join_example_spark.operators.graph as g

    calls: list[int] = []
    monkeypatch.setattr(g, "_small_star", _counting_small_star(g, calls))
    nodes = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    got = {
        (r.id, r.cluster_id)
        for r in g.connected_components_star(nodes, edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1)}
    assert len(calls) == 1


def test_star_cc_witness_rejects_non_star_iterates(spark, monkeypatch):
    """Chain of 5: round 1 produces {(2,1),(3,1),(4,2),(5,3)} — a downhill
    FUNCTION whose parents {2,3} are also children (height 2). A witness
    missing the overlap check would stop there and under-merge; the full
    witness keeps iterating until every node points at the component
    minimum."""
    import join_example_spark.operators.graph as g

    calls: list[int] = []
    monkeypatch.setattr(g, "_small_star", _counting_small_star(g, calls))
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], ["src", "dst"]
    )
    got = {
        (r.id, r.cluster_id)
        for r in g.connected_components_star(nodes, edges).collect()
    }
    assert got == {(i, 1) for i in range(1, 6)}
    assert len(calls) >= 2


def test_star_cc_witness_multi_parent_merges(spark):
    """Two roots sharing a child ({(5,1),(5,2)} after round 1) are ONE
    component through the child — the unique-parent clause must reject
    that iterate so 1 and 2 merge."""
    import join_example_spark.operators.graph as g

    nodes = spark.createDataFrame([(1,), (2,), (5,)], ["id"])
    edges = spark.createDataFrame([(5, 1), (5, 2)], ["src", "dst"])
    got = {
        (r.id, r.cluster_id)
        for r in g.connected_components_star(nodes, edges).collect()
    }
    assert got == {(1, 1), (2, 1), (5, 1)}


def _count_nodes(plan, name: str) -> int:
    """Physical-plan nodes whose nodeName() is ``name``, counted by walking
    the JVM tree (through the AQE wrapper) rather than matching printed
    plan text."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    kids = plan.children()
    return int(plan.nodeName() == name) + sum(
        _count_nodes(kids.apply(i), name) for i in range(kids.size())
    )


def test_kmeans_lloyd_stats_single_assignment_pass(spark):
    """Round-16 fuse: the Lloyd audit derives stats AND shift from one
    (cell, pos) aggregate, so the broadcast-assign + row_number window
    subplan appears exactly ONCE in the executed plan (it used to appear
    twice — separate stats and shift aggregations over ``cells``)."""
    from join_example_spark.operators.similarity import kmeans_lloyd_stats

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(1, 13)],
        ["vec_id", "embedding"],
    )
    df = kmeans_lloyd_stats(emb, n_centroids=2)
    plan = df._jdf.queryExecution().executedPlan()
    # one Window NODE (WindowGroupLimit is a separate node name)
    assert _count_nodes(plan, "Window") == 1, plan.toString()
    # and the audit still carries all four columns
    rows = {r.cell: r for r in df.collect()}
    assert rows and all(
        r.n_members >= 1 and r.avg_sim is not None and r.centroid_shift is not None
        for r in rows.values()
    )


def test_kmeans_ragged_embedding_raises(spark):
    """The fused audit re-reads each cell's csim sum as MAX over its pos
    groups, which is the member sum only for fixed-dim vectors. A ragged
    cell must fail the action rather than return a wrong avg_sim."""
    from pyspark.errors import PySparkException

    from join_example_spark.operators.similarity import (
        kmeans_lloyd_rounds,
        kmeans_lloyd_stats,
    )

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [1.0])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    for df in (
        kmeans_lloyd_stats(emb, n_centroids=2),
        kmeans_lloyd_rounds(emb, n_centroids=2, rounds=1),
    ):
        with pytest.raises(PySparkException, match="ragged"):
            df.collect()
