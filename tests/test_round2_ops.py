"""Known-input / invariant pins for the round-2 operators.

The oracle mirror proves Spark == DuckDB; these tests pin that both sides
mean the RIGHT thing (guarding against coincidentally-agreeing bugs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from join_example_spark.registry import load_all
from tests.conftest import SF_SMOKE

_REG = load_all()


def test_zorder_interleave_known_values(spark):
    from join_example_spark.queries.analytics_ext import _z_expr

    df = spark.createDataFrame(
        [(5, 3), (0, 0), (15, 0), (0, 15)], "x LONG, y LONG"
    ).withColumn("z", F.expr(_z_expr("x", "y", 4, "spark")))
    got = {(r.x, r.y): r.z for r in df.collect()}
    # x occupies even bit positions, y odd: z(5,3)=0b11011=27,
    # z(15,0)=0b1010101=85, z(0,15)=0b10101010=170.
    assert got == {(5, 3): 27, (0, 0): 0, (15, 0): 85, (0, 15): 170}


def test_zorder_buckets_bound_both_spans(spark):
    # Truncating the low 14 z-bits leaves 7 x-bits and 7 y-bits free, so
    # within any coarse bucket neither dimension can span more than 127 —
    # the property that makes z-sorted files prunable on both columns.
    rows = _REG["q_zorder_layout"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.x_span <= 127 and 0 <= r.y_span <= 127


def test_keep_best_elects_true_representative(spark):
    # Reference labels: the declared near-dup clustering (oracle-pinned
    # against its recursive-CTE reachability twin).
    labels = {
        r.doc_id: r.cluster_id
        for r in _REG["q_llm_dedup_cluster_star"].fn(spark, SF_SMOKE).collect()
    }
    docs = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .where(F.col("source").isin("src0", "src1"))
        .select("doc_id", "n_chars")
        .collect()
    }
    reps = _REG["q_llm_dedup_keep_best"].fn(spark, SF_SMOKE).collect()
    # Partition: every doc in exactly one cluster; sizes sum to the corpus.
    assert sum(r.cluster_size for r in reps) == len(docs)
    for r in reps:
        members = [d for d, c in labels.items() if c == r.cluster_id]
        assert r.rep_doc_id in members
        best = max(members, key=lambda d: (docs[d], -d))
        assert r.rep_doc_id == best and r.rep_n_chars == docs[best]


def test_recursive_chains_partition_the_orders(spark):
    # Chains are maximal paths over consecutive-order links (out-degree and
    # in-degree both <=1), so they PARTITION the orders table:
    # sum(chain_len * n_chains) == total orders.
    rows = _REG["q_recursive_chain"].fn(spark, SF_SMOKE).collect()
    total = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert sum(r.chain_len * r.n_chains for r in rows) == total
    assert max(r.chain_len for r in rows) >= 2  # recursion actually recursed


def test_fuzzy_pairs_respect_threshold_and_order(spark):
    rows = _REG["q_llm_dedup_fuzzy"].fn(spark, SF_SMOKE).collect()
    assert rows  # threshold tuned to be non-vacuous at sf0.001
    for r in rows:
        assert r.id_a < r.id_b
        assert 0.0 < r.edit_ratio <= 0.7
        assert r.edit_dist >= 1


def test_fuzzy_block_fanout_capped_by_mintok_key(spark):
    # The candidate join must carry the content-derived min-token-hash as a
    # SECOND equi-key (skewed (lang, length) blocks would otherwise go
    # quadratic at scale). _mintok exists only as a join key, so its
    # presence in the physical plan proves the join uses it.
    df = _REG["q_llm_dedup_fuzzy"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_mintok" in plan, "fuzzy-dedup join lost its second blocking key"


def test_ann_recall_arithmetic_consistent(spark):
    row = _REG["q_llm_ann_recall"].fn(spark, SF_SMOKE).collect()[0]
    assert 0 < row.n_probes
    assert row.n_exact <= 3 * row.n_probes
    assert 0 <= row.n_matched <= row.n_exact
    assert abs(row.recall_micro - round(row.n_matched / row.n_exact, 6)) < 1e-12


def test_snapshot_diff_counts_match_direct_computation(spark):
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    n_deleted = cust.where(F.expr("c_custkey % 13 = 0")).count()
    n_modified = cust.where(F.expr("c_custkey % 13 <> 0 AND c_custkey % 7 = 0")).count()
    n_total = cust.count()
    got = {r.change_type: r.n for r in _REG["q_snapshot_diff"].fn(spark, SF_SMOKE).collect()}
    assert got["deleted"] == n_deleted
    assert got["modified"] == n_modified
    assert got["unchanged"] == n_total - n_deleted - n_modified


def test_outlier_fences_are_ordered(spark):
    for r in _REG["q_outlier_iqr"].fn(spark, SF_SMOKE).collect():
        assert r.q1 <= r.q3
        assert 0 <= r.n_outliers < r.n_docs


def test_transition_counts_conserve_events(spark):
    # Each user's n-event sequence yields exactly n-1 transitions.
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    rows = _REG["q_event_transitions"].fn(spark, SF_SMOKE).collect()
    assert sum(r.n for r in rows) == n_events - n_users


def test_chunk_overlap_tiles_every_document(spark):
    from collections import defaultdict

    chunks = defaultdict(list)
    for r in _REG["q_llm_chunk_overlap"].fn(spark, SF_SMOKE).collect():
        chunks[r.doc_id].append(r)
    docs = dict(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", F.expr("SIZE(SPLIT(TRIM(text), ' '))"))
        .collect()
    )
    assert set(chunks) == set(docs)
    for doc_id, rows in chunks.items():
        rows.sort(key=lambda r: r.chunk_idx)
        n = docs[doc_id]
        # First chunk starts at 0; strides are exactly 48; tiles cover [0, n).
        assert rows[0].start_tok == 0
        assert all(b.start_tok - a.start_tok == 48 for a, b in zip(rows, rows[1:]))
        assert rows[-1].end_tok == n
        for r in rows:
            assert r.chunk_tokens == r.end_tok - r.start_tok <= 64
