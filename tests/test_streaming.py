"""Streaming ≡ batch equivalence tests (SURVEY.md §5.2.5).

Each live micro-batch demo must produce the same final answer as its
declared batch-equivalent query on the same bounded input — the
prefix-consistency criterion of the Structured Streaming model.
Late-data behavior is exercised with a crafted out-of-order micro-fixture
(the sf events table is ts-sorted, so it can't test lateness by itself).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from join_example_spark.registry import load_all
from join_example_spark.streaming import demos
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare_frames


def _final(stream_df, tmp_path, sub, mode="append"):
    return demos.run_to_completion(stream_df, str(tmp_path / sub), mode)


def _write_events(path, rows):
    """Write ``(event_id, ts_seconds, user_id, event_type)`` rows as raw
    events parquet (int64-ns ts, the nanosAsLong representation)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1_000_000_000 for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        path,
    )


@pytest.mark.streaming
def test_tumbling_stream_equals_batch(spark, tmp_path):
    # complete mode: the bounded input's trailing windows never pass the
    # watermark, so append mode would (correctly) withhold them.
    streamed = _final(
        demos.tumbling_counts_stream(spark, SF_SMOKE), tmp_path, "t", "complete"
    )
    batch = load_all()["q_stream_tumbling"].fn(spark, SF_SMOKE)
    problems = compare_frames(streamed.toPandas(), batch.toPandas())
    assert not problems, problems


@pytest.mark.streaming
def test_stream_static_join_equals_batch(spark, tmp_path):
    streamed = _final(demos.stream_static_enrich(spark, SF_SMOKE), tmp_path, "ss")
    from join_example_spark.sources.readers import read_table

    events = read_table(spark, SF_SMOKE, "events")
    customer = read_table(spark, SF_SMOKE, "customer")
    batch = events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    ).select("event_id", "ts", "user_id", "c_mktsegment", "value")
    problems = compare_frames(streamed.toPandas(), batch.toPandas())
    assert not problems, problems


def _interval_join_batch(spark, sf_dir):
    """Batch twin of the interval-join demo: the same interval join at 10
    minutes on the bounded table."""
    from join_example_spark.sources.readers import read_table

    events = read_table(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("view_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("purchase_ts"),
    )
    return views.join(
        purchases,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("purchase_ts") >= F.expr("view_ts - INTERVAL 10 MINUTES"))
        & (F.col("purchase_ts") <= F.expr("view_ts + INTERVAL 10 MINUTES")),
    ).select("view_id", "purchase_id", "view_ts", "purchase_ts")


@pytest.mark.streaming
def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    streamed = _final(
        demos.stream_stream_interval_join(spark, SF_SMOKE), tmp_path, "ssj"
    )
    batch = _interval_join_batch(spark, SF_SMOKE)
    problems = compare_frames(streamed.toPandas(), batch.toPandas())
    assert not problems, problems


_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_JOIN_FORMAT = "spark.sql.streaming.join.stateFormatVersion"
_HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
_V2_STORES = {
    f"{side}-{kind}"
    for side in ("left", "right")
    for kind in ("keyToNumValues", "keyWithIndexToValue")
}


def _state_stores(checkpoint):
    """{partition: {store dir relative to the partition dir: version files}}
    for the checkpoint's one stateful operator. A store dir is any dir that
    holds ``N.delta`` / ``N.snapshot`` (HDFS-backed) or ``N.changelog`` /
    ``N.zip`` (RocksDB) files."""
    import os
    import re

    version_file = re.compile(r"^\d+\.(delta|snapshot|changelog|zip)$")
    root = os.path.join(checkpoint, "state", "0")
    out = {}
    for part in sorted(p for p in os.listdir(root) if p.isdigit()):
        stores = {}
        for dirpath, _dirs, files in os.walk(os.path.join(root, part)):
            names = {f for f in files if version_file.match(f)}
            if names:
                stores[os.path.relpath(dirpath, os.path.join(root, part))] = names
        out[int(part)] = stores
    return out


@pytest.mark.streaming
def test_interval_join_state_is_one_rocksdb_store_per_partition(spark, tmp_path):
    """conf.SESSION_CONFS: join state format v3 keeps ONE store per state
    partition (the partition dir itself; v2 keeps four sub-stores), and
    changelog checkpointing commits each version as ``N.changelog``."""
    ck = str(tmp_path / "ck")
    demos.run_to_completion(demos.stream_stream_interval_join(spark, SF_SMOKE), ck)
    stores = _state_stores(ck)
    assert len(stores) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    for part, by_dir in stores.items():
        assert list(by_dir) == ["."], (part, by_dir)
        assert any(f.endswith(".changelog") for f in by_dir["."]), (part, by_dir)


@pytest.mark.streaming
def test_interval_join_resumes_hdfs_v2_checkpoint(spark, tmp_path):
    """A checkpoint written on the HDFS-backed provider with join state
    format v2 resumes after ensure_session_confs has switched the session
    to RocksDB/v3: Spark restores the provider and format from the
    checkpoint, so the restarted query keeps its four v2 stores and writes
    ``.delta`` files to them, and the two runs together equal the batch
    twin."""
    import pandas as pd
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    events = events.take(pc.sort_indices(events, [("ts", "ascending"), ("event_id", "ascending")]))
    half = events.num_rows // 2
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(events.slice(0, half), src / "events.parquet")
    ck = str(tmp_path / "ck")
    session = spark.newSession()

    joined = demos.stream_stream_interval_join(session, str(src))
    session.conf.set(_PROVIDER, _HDFS)
    session.conf.set(_JOIN_FORMAT, "2")
    first = demos.run_to_completion(joined, ck)
    before = _state_stores(ck)
    assert all(set(d) == _V2_STORES for d in before.values()), before

    pq.write_table(events.slice(half), src / "events_part2.parquet")
    joined = demos.stream_stream_interval_join(session, str(src))
    assert (session.conf.get(_PROVIDER), session.conf.get(_JOIN_FORMAT)) == (_ROCKSDB, "3")
    second = demos.run_to_completion(joined, ck)
    after = _state_stores(ck)

    def last_delta(names):
        return max(int(n.split(".")[0]) for n in names if n.endswith(".delta"))

    for part, by_dir in after.items():
        assert set(by_dir) == _V2_STORES, (part, by_dir)
        for store, names in by_dir.items():
            assert all(n.endswith((".delta", ".snapshot")) for n in names), names
            assert last_delta(names) > last_delta(before[part][store]), (part, store)
    streamed = pd.concat([first.toPandas(), second.toPandas()], ignore_index=True)
    problems = compare_frames(streamed, _interval_join_batch(spark, SF_SMOKE).toPandas())
    assert not problems, problems


@pytest.mark.streaming
def test_interval_join_state_falls_back_after_eviction(spark, tmp_path):
    """Per-trigger progress pins the interval join's bounded state on the
    RocksDB store: 20 buffered rows stay in state while the watermark is
    within their 10-minute bound, and once a wave 5 h later moves the
    watermark past them they are evicted, leaving only the new wave. The
    planted late view (1 h behind the restored watermark) is counted by
    ``numRowsDroppedByWatermark`` exactly."""
    t0 = 1_700_000_000
    src = tmp_path / "src"
    src.mkdir()
    # Wave 1: a view and a purchase 60 s apart for each of 10 users, all
    # inside 5 minutes -> 10 matches, no row evictable.
    _write_events(src / "events.parquet", [
        (2 * u + k, t0 + 15 * u + 60 * k, u, ("view", "purchase")[k])
        for u in range(10) for k in range(2)
    ])
    ck = str(tmp_path / "ck")
    first, progress1 = demos.run_with_progress(
        demos.stream_stream_interval_join(spark, str(src)), ck
    )
    # Wave 2, 5 h later: one matching pair plus one view 1 h behind the
    # watermark that wave 1 left (max ts - 10 min).
    _write_events(src / "events_part2.parquet", [
        (100, t0 + 18_000, 0, "view"),
        (101, t0 + 18_030, 0, "purchase"),
        (102, t0 - 3_600, 1, "view"),
    ])
    second, progress2 = demos.run_with_progress(
        demos.stream_stream_interval_join(spark, str(src)), ck
    )

    def ops(progress):
        return [op for p in progress for op in p.stateOperators]

    assert (first.count(), second.count()) == (10, 1)
    assert ops(progress1)[-1].numRowsTotal == 20
    assert ops(progress2)[-1].numRowsTotal == 2
    assert sum(op.numRowsRemoved for op in ops(progress2)) >= 20
    assert sum(op.numRowsDroppedByWatermark for op in ops(progress1)) == 0
    assert sum(op.numRowsDroppedByWatermark for op in ops(progress2)) == 1
    assert progress2[-1].eventTime["watermark"] > progress1[-1].eventTime["watermark"]
    assert any(m.startswith("rocksdb") for op in ops(progress2) for m in op.customMetrics)


@pytest.fixture()
def late_events_dir(spark, tmp_path):
    """Out-of-order micro-fixture: duplicates + a late straggler, written as
    raw parquet in the nanosAsLong representation the file stream expects."""
    rows = [
        # (event_id, ts_ns, user_id, event_type, value, props)
        (1, 1_700_000_000_000_000_000, 1, "view", 1.0, "{}"),
        (2, 1_700_000_060_000_000_000, 1, "view", 2.0, "{}"),
        (1, 1_700_000_120_000_000_000, 1, "view", 1.0, "{}"),  # dup within wm
        (3, 1_700_003_600_000_000_000, 2, "click", 3.0, "{}"),  # advances wm 1h
        (4, 1_700_000_000_500_000_000, 1, "view", 4.0, "{}"),  # late arrival
    ]
    pdf_dir = tmp_path / "late_events"
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.int64()),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pdf_dir.mkdir()
    pq.write_table(table, pdf_dir / "part-0.parquet")
    return str(pdf_dir)


@pytest.mark.streaming
def test_dedup_within_watermark_drops_duplicate(spark, tmp_path, late_events_dir):
    streamed = _final(
        demos.stream_dedup_within_watermark(spark, late_events_dir), tmp_path, "ddw"
    )
    ids = [r.event_id for r in streamed.select("event_id").collect()]
    # event_id 1 appears twice within the watermark window -> kept once.
    assert sorted(ids) == [1, 2, 3, 4]


@pytest.mark.streaming
def test_watermark_drop_counter_equals_planted_late_rows(spark, tmp_path, late_events_dir):
    """``numRowsDroppedByWatermark`` counts late rows exactly. The fixture
    is one micro-batch (its straggler is not late yet: the watermark only
    moves between batches), which leaves the watermark at 1_700_001_800 s
    (max ts - 30 min). A restart over the same checkpoint then reads two
    planted rows behind it and one on-time row: the two are dropped and
    counted, the on-time row is emitted."""
    ck = str(tmp_path / "ck")
    first, progress1 = demos.run_with_progress(
        demos.stream_dedup_within_watermark(spark, late_events_dir), ck
    )
    late = [(5, 1_700_000_300, 1, "view"), (6, 1_700_000_400, 1, "view")]
    _write_events(f"{late_events_dir}/part-1.parquet", late + [(7, 1_700_003_700, 2, "click")])
    second, progress2 = demos.run_with_progress(
        demos.stream_dedup_within_watermark(spark, late_events_dir), ck
    )

    def dropped(progress):
        return sum(op.numRowsDroppedByWatermark for p in progress for op in p.stateOperators)

    assert sorted(r.event_id for r in first.collect()) == [1, 2, 3, 4]
    assert dropped(progress1) == 0
    assert [r.event_id for r in second.collect()] == [7]
    assert dropped(progress2) == len(late)


@pytest.mark.streaming
def test_stateful_sessionization_matches_batch_sessions(spark, tmp_path):
    import pyarrow.parquet as pq

    streamed, progress = demos.run_with_progress(
        demos.sessionize_stateful(spark, SF_SMOKE), str(tmp_path / "sess")
    )
    # State rows and timeouts, per trigger: the one data trigger leaves one
    # open session per user in state; the following no-data trigger moves
    # the watermark past every session's event-time timeout, which flushes
    # and removes every state row.
    n_users = len(
        set(pq.read_table(f"{SF_SMOKE}/events.parquet", columns=["user_id"])
            .column("user_id").to_pylist())
    )

    def state_op(p):
        (op,) = [o for o in p.stateOperators if o.operatorName == "applyInPandasWithState"]
        return op

    assert len(progress) >= 2, [p.numInputRows for p in progress]
    assert state_op(progress[0]).numRowsTotal == n_users
    assert progress[1].numInputRows == 0
    assert state_op(progress[1]).numRowsRemoved == n_users
    assert state_op(progress[1]).numRowsTotal == 0
    batch = load_all()["q_stream_session"].fn(spark, SF_SMOKE)
    # The stateful op emits sessions closed by a subsequent event or state
    # timeout; with AvailableNow over a bounded file the final open session
    # per user flushes on timeout, so totals must match the batch answer.
    s = streamed.agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events")
    ).collect()[0]
    b = batch.agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events")
    ).collect()[0]
    assert (s.n_sessions, s.n_events) == (b.n_sessions, b.n_events)


@pytest.mark.streaming
def test_watermark_drops_late_window_contribution(spark, tmp_path):
    """The defining watermark semantics: once the watermark passes a window's
    end, rows for that window arriving later are DROPPED from the aggregate.
    Needs two micro-batches (watermark only advances between batches), so the
    fixture is two files consumed with maxFilesPerTrigger=1."""
    import time as _time

    t0 = 1_700_000_000
    src = tmp_path / "wm_events"
    src.mkdir()

    # Batch 1: two rows in the first 1-min window, then a row 1h ahead. The
    # watermark (10-min delay) is computed from a batch's data AFTER the
    # batch, so batch 2 runs with watermark t0+3000s.
    _write_events(src / "a.parquet", [(1, t0, 1, "view"), (2, t0 + 10, 1, "view"),
                                      (3, t0 + 3600, 2, "view")])
    _time.sleep(1.1)  # file-stream orders by modification time
    # Batch 2: watermark now past the first window's end -> the window is
    # finalized, emitted, and its state evicted at end-of-batch. (A straggler
    # arriving in THIS batch would still be merged: within a batch, inputs
    # are added to state before eviction — empirically pinned.)
    _write_events(src / "b.parquet", [(5, t0 + 3610, 2, "view")])
    _time.sleep(1.1)
    # Batch 3: the straggler. Its window was evicted and its event time is
    # behind the watermark -> guaranteed dropped.
    _write_events(src / "c.parquet", [(4, t0 + 20, 1, "view")])

    raw = (
        spark.readStream.schema(demos.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    out = demos.run_to_completion(agg, str(tmp_path / "ckpt"), "append")
    rows = [(str(r.w_start), r.n) for r in out.collect()]
    # Exactly one finalized window: the first one, with ONLY the two batch-1
    # rows — the batch-3 straggler (event 4) was behind the watermark and
    # dropped. The t0+1h windows never finalize on this bounded input.
    assert [n for _, n in rows] == [2], rows


@pytest.mark.streaming
def test_streaming_parquet_sink_with_checkpoint(spark, tmp_path):
    """SURVEY §2.1 sink row: append a transformed stream to a parquet sink
    with a checkpoint, then read the files back as a batch table. Restarting
    the query against the same checkpoint must be a no-op (exactly-once)."""
    events = demos.read_events_stream(spark, SF_SMOKE)
    enriched = events.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    out_dir = str(tmp_path / "sink_out")
    ck_dir = str(tmp_path / "sink_ck")

    def run():
        q = (
            enriched.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    from join_example_spark.sources.readers import read_table

    expected = (
        read_table(spark, SF_SMOKE, "events")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    assert spark.read.parquet(out_dir).count() == expected
    # Second run over the same checkpoint: no new input -> no duplicate rows.
    run()
    assert spark.read.parquet(out_dir).count() == expected


@pytest.mark.streaming
def test_stream_stream_left_join_semantics(spark, tmp_path):
    """Left-outer stream-stream join: matched pairs must equal the batch
    inner join exactly; null-extended rows must be genuine non-matches
    (subset of the batch left-anti side — trailing ones may be withheld
    by the final watermark, mirroring the KStreams grace period)."""
    streamed = _final(
        demos.stream_stream_left_join(spark, SF_SMOKE), tmp_path, "ssl"
    )
    from join_example_spark.sources.readers import read_table

    events = read_table(spark, SF_SMOKE, "events")
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("click_ts"),
    )
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.expr("view_ts + INTERVAL 10 MINUTES"))
    )
    batch_inner = {
        (r.view_id, r.click_id)
        for r in views.join(clicks, cond).select("view_id", "click_id").collect()
    }
    batch_unmatched = {
        r.view_id
        for r in views.join(clicks, cond, "left_anti").select("view_id").collect()
    }
    got_matched = {
        (r.view_id, r.click_id)
        for r in streamed.where(F.col("click_id").isNotNull()).collect()
    }
    got_null = {
        r.view_id for r in streamed.where(F.col("click_id").isNull()).collect()
    }
    assert got_matched == batch_inner
    assert got_null <= batch_unmatched


@pytest.mark.streaming
def test_stateful_agg_recovers_from_checkpoint(spark, tmp_path):
    """Stop/restart recovery: a keyed streaming aggregation processes file A,
    terminates, then a NEW query over the same checkpoint processes file B.
    The restored state must carry A's counts forward — the final per-key
    result equals the batch aggregate over A ∪ B, and B's rows are not
    double-counted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = 1_700_000_000
    src = tmp_path / "rec_events"
    src.mkdir()

    def _write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] * 1_000_000_000 for r in rows], pa.int64()),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array(["view"] * len(rows), pa.string()),
                    "value": pa.array([float(r[0]) for r in rows], pa.float64()),
                    "props": pa.array(["{}"] * len(rows), pa.string()),
                }
            ),
            src / name,
        )

    ck = str(tmp_path / "rec_ck")
    results: dict[int, tuple[int, float]] = {}

    def run_once():
        raw = spark.readStream.schema(demos.EVENTS_RAW_SCHEMA).parquet(str(src))
        events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        agg = events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)").alias("tot"),
        )

        def sink(bdf, bid):
            for r in bdf.collect():
                results[r.user_id] = (r.n, r.tot)

        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write("a.parquet", [(1, t0, 1), (2, t0 + 10, 1), (3, t0 + 20, 2)])
    run_once()
    assert results[1] == (2, 3.0) and results[2] == (1, 3.0)

    _write("b.parquet", [(4, t0 + 30, 1), (5, t0 + 40, 3)])
    run_once()
    # user 1: state restored (2 events) + 1 new = 3; values 1+2+4=7.
    assert results[1] == (3, 7.0), results
    assert results[2] == (1, 3.0)
    assert results[3] == (1, 5.0)


@pytest.mark.streaming
def test_stateful_sessionizer_merges_exact_gap(spark, tmp_path):
    """Boundary parity with session_window: a pair exactly gap apart MERGES
    (split requires strictly greater); pinned separately because the sf
    fixtures contain no exact-gap pair."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = 1_700_000_000
    src = tmp_path / "gap_events"
    src.mkdir()
    rows = [(1, t0), (2, t0 + 1800), (3, t0 + 1800 + 1801)]  # 30:00 then 30:01
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1_000_000_000 for r in rows], pa.int64()),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        src / "events.parquet",
    )
    out = demos.run_to_completion(
        demos.sessionize_stateful(spark, str(src)), tmp_path / "gap_ck", "append"
    )
    got = sorted((r.n_events for r in out.collect()))
    # events 1+2 merge (gap == 30:00 exactly); event 3 splits (30:01 > gap)
    assert got == [1, 2], out.collect()


@pytest.mark.streaming
def test_streaming_training_ingest_equals_batch(spark, tmp_path):
    # The sampling/split operators are stateless map-side expressions, so
    # the streaming ingest must produce exactly the batch answer.
    streamed = _final(demos.stream_training_ingest(spark, SF_SMOKE), tmp_path, "ti")
    batch = load_all()["q_llm_split_assign"].fn(spark, SF_SMOKE)
    from join_example_spark.operators.sampling import hash_sample
    from join_example_spark.sources.readers import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    sampled_ids = {r.doc_id for r in hash_sample(docs, "doc_id", 10).collect()}
    expected = batch.where(batch.doc_id.isin(sampled_ids))
    problems = compare_frames(streamed.toPandas(), expected.toPandas())
    assert not problems, problems


def test_stream_upsert_matview_equals_batch(spark, tmp_path):
    """The foreachBatch keyed-upsert view, fed the events table chopped into
    3 separate files (3 micro-batches), must equal the one-shot batch
    aggregation bit-for-bit — the q_incremental_agg algebra, live."""
    from join_example_spark.queries.streaming_equiv import q_incremental_agg
    from join_example_spark.streaming.demos import stream_upsert_matview

    sf_dir = "/root/testdata/sf0.001"
    src = tmp_path / "chunks"
    # Chop the raw events file into 3 files WITHOUT touching the ns values
    # (write back the raw int64 ts so the stream-side schema still applies).
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw.where("event_id % 3 = 0").coalesce(1).write.parquet(f"{src}/c0")
    raw.where("event_id % 3 = 1").coalesce(1).write.parquet(f"{src}/c1")
    raw.where("event_id % 3 = 2").coalesce(1).write.parquet(f"{src}/c2")
    import glob, shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    for i, f in enumerate(sorted(glob.glob(f"{src}/c*/part-*.parquet"))):
        shutil.copy(f, flat / f"chunk{i}.parquet")

    got = stream_upsert_matview(
        spark, str(flat), str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    want = q_incremental_agg(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.streaming
def test_stream_incremental_dedup_equals_batch(spark, tmp_path):
    """The streaming ingest-dedup (foreachBatch over the arriving stream)
    must produce exactly the batch q_llm_dedup_incremental verdicts — the
    operator judges each document against the corpus only, so chopping the
    input into micro-batches cannot change any verdict."""
    got = demos.stream_incremental_dedup(
        spark, SF_SMOKE, str(tmp_path / "verdicts"), str(tmp_path / "ck")
    )
    want = load_all()["q_llm_dedup_incremental"].fn(spark, SF_SMOKE)
    problems = compare_frames(got.toPandas(), want.toPandas())
    assert not problems, problems

    # Round-3 ADVICE item 2: a RE-RUN against the now-exhausted checkpoint
    # with a FRESH out_dir schedules zero micro-batches — foreachBatch never
    # fires and the sink dir is never created. The demo must return an
    # empty, correctly-typed verdict frame, not raise PATH_NOT_FOUND.
    rerun = demos.stream_incremental_dedup(
        spark, SF_SMOKE, str(tmp_path / "verdicts_rerun"), str(tmp_path / "ck")
    )
    assert rerun.count() == 0
    # dtypes (not full schema): the parquet round-trip relaxes nullability.
    assert rerun.dtypes == got.dtypes, (rerun.dtypes, got.dtypes)


@pytest.mark.streaming
def test_stream_semantic_ingest_equals_batch(spark, tmp_path):
    """The streaming embedding-ingest dedup (foreachBatch over arriving
    vectors) must produce exactly the batch q_llm_dedup_semantic_incr
    verdicts — the operator judges each vector against the corpus index
    only, so micro-batch chopping cannot change any verdict."""
    got = demos.stream_semantic_ingest(
        spark, SF_SMOKE, str(tmp_path / "verdicts"), str(tmp_path / "ck")
    )
    want = load_all()["q_llm_dedup_semantic_incr"].fn(spark, SF_SMOKE)
    problems = compare_frames(got.toPandas(), want.toPandas())
    assert not problems, problems


@pytest.mark.streaming
def test_stream_windowed_distinct_equals_batch_hll(spark, tmp_path):
    """HLL's register-max merge is commutative, so the streaming windowed
    estimate must EQUAL (not approximate) the batch estimate on the same
    bounded input, regardless of micro-batch chopping. The estimates'
    accuracy itself is certified separately by q_stream_distinct_users'
    tolerance gate."""
    streamed = _final(
        demos.stream_windowed_distinct(spark, SF_SMOKE), tmp_path, "wd", "complete"
    )
    from join_example_spark.sources.readers import read_table

    events = read_table(spark, SF_SMOKE, "events")
    batch = (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"))
        .select(F.col("w.start").cast("date").alias("day"), "event_type", "approx_users")
    )
    problems = compare_frames(streamed.toPandas(), batch.toPandas())
    assert not problems, problems


@pytest.mark.streaming
def test_stream_semantic_ingest_restart_from_checkpoint(spark, tmp_path):
    """Kill-and-restart exactly-once (round-4 verdict item 6): the vector
    ingest processes arrival file A, terminates (the "crash" — AvailableNow
    completion before B exists), then a NEW query over the SAME checkpoint
    and sink processes arrival file B that landed while it was down. The
    union of the two runs' verdicts must (a) contain exactly ONE verdict
    per arriving vector — the restart must not re-judge or re-append A's
    batch — and (b) equal the one-shot batch answer over A ∪ B."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from join_example_spark.operators.similarity import semantic_ingest_verdicts

    full = papq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    vid = full["vec_id"].to_pandas()
    is_b = pa.array(((vid % 5 == 0) & (vid % 10 == 5)).to_numpy())

    src = tmp_path / "src"
    src.mkdir()
    # File 1: the static corpus (vec_id % 5 != 0) plus arrival wave A.
    papq.write_table(full.filter(pa.compute.invert(is_b)), src / "embeddings.parquet")

    out = str(tmp_path / "verdicts")
    ck = str(tmp_path / "ck")
    run1 = demos.stream_semantic_ingest(spark, str(src), out, ck)
    n_a = run1.count()
    assert n_a > 0

    # The crash window: wave B lands while the query is down.
    papq.write_table(full.filter(is_b), src / "embeddings_part2.parquet")
    got = demos.stream_semantic_ingest(spark, str(src), out, ck)

    # (a) exactly-once: one verdict per arriving vector, no A re-appends.
    n_b = got.count() - n_a
    assert n_b > 0, "restart never processed wave B"
    assert got.select("vec_id").distinct().count() == got.count()

    # (b) the recovered union equals the one-shot batch judgment.
    import math

    from join_example_spark.sources.readers import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.where(F.col("vec_id") % 5 != 0).select("vec_id", "embedding")
    want = semantic_ingest_verdicts(
        batch=emb.where(F.col("vec_id") % 5 == 0).select("vec_id", "embedding"),
        corpus=corpus,
        n_centroids=int(math.ceil(math.sqrt(corpus.count()))),
    )
    problems = compare_frames(got.toPandas(), want.toPandas())
    assert not problems, problems


@pytest.mark.streaming
def test_stream_incremental_dedup_restart_from_checkpoint(spark, tmp_path):
    """The text twin of the semantic restart test: ingest-dedup processes
    document wave A, terminates, then a NEW query over the SAME checkpoint
    and sink judges wave B that landed while it was down — one verdict per
    arriving doc (no A re-appends) and the union equals the one-shot batch
    judgment."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from join_example_spark.operators.dedup import incremental_dedup_verdicts

    full = papq.read_table(f"{SF_SMOKE}/documents.parquet")
    did = full["doc_id"].to_pandas()
    src = full["source"].to_pandas()
    # src1 doc_ids step by 20 from 1 (1, 21, 41, …) — all ≡1 mod 4, so the
    # wave split keys on mod 40, which alternates 1/21 over that sequence.
    is_b = pa.array(((src == "src1") & (did % 40 == 21)).to_numpy())

    d = tmp_path / "src"
    d.mkdir()
    papq.write_table(full.filter(pa.compute.invert(is_b)), d / "documents.parquet")

    out = str(tmp_path / "verdicts")
    ck = str(tmp_path / "ck")
    run1 = demos.stream_incremental_dedup(spark, str(d), out, ck)
    n_a = run1.count()
    assert n_a > 0

    papq.write_table(full.filter(is_b), d / "documents_part2.parquet")
    got = demos.stream_incremental_dedup(spark, str(d), out, ck)

    assert got.count() > n_a, "restart never processed wave B"
    assert got.select("doc_id").distinct().count() == got.count()

    from join_example_spark.sources.readers import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    corpus = docs.where(F.col("source") == "src0").select(
        "doc_id", "lang", "n_chars", "text"
    )
    want = incremental_dedup_verdicts(
        batch=docs.where(F.col("source") == "src1").select(
            "doc_id", "lang", "n_chars", "text"
        ),
        corpus=corpus,
    )
    problems = compare_frames(got.toPandas(), want.toPandas())
    assert not problems, problems


def test_stream_ts_series_maintain_equals_batch_search(spark, tmp_path):
    """The maintained per-minute series must reproduce the batch
    subsequence search EXACTLY: count partials merge associatively under
    any micro-batch chopping, and the search is the shared
    ts_subseq_topk code path — so the streaming store's top-10 equals
    q_ts_sim_search's row for row."""
    from join_example_spark.queries.analytics_ext import q_ts_sim_search
    from join_example_spark.streaming import demos

    got = demos.stream_ts_series_maintain(
        spark, SF_SMOKE, str(tmp_path / "store"), str(tmp_path / "ck")
    ).collect()
    want = q_ts_sim_search(spark, SF_SMOKE).collect()
    key = lambda r: (r.rn, r.event_type, r.win_start_m, r.sse)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_stream_ts_smooth_maintain_equals_batch_ewma(spark, tmp_path):
    """The stream-maintained count store fed through the SHARED dyadic
    EWMA code path must equal batch q_ts_ewma bit for bit: count partials
    merge associatively under any micro-batch chopping, and the smoothing
    is integer arithmetic + one exact power-of-two division."""
    from join_example_spark.queries.analytics_ext import q_ts_ewma
    from join_example_spark.streaming import demos

    got = demos.stream_ts_smooth_maintain(
        spark, SF_SMOKE, str(tmp_path / "store"), str(tmp_path / "ck")
    ).collect()
    want = q_ts_ewma(spark, SF_SMOKE).collect()
    key = lambda r: (r.event_type, r.win_end_m, r.ewma)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_stream_ts_smooth_maintain_restart_from_checkpoint(spark, tmp_path):
    """Kill-and-restart exactly-once for the maintained count store: the
    stream processes event wave A, terminates, wave B lands while it is
    down, and a NEW query over the SAME checkpoint + store processes only
    B. The merged store's EWMA must equal batch q_ts_ewma over A ∪ B —
    a double-append of A's partials would inflate counts and shift every
    window."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from join_example_spark.queries.analytics_ext import q_ts_ewma
    from tests.oracle_utils import compare_frames

    full = papq.read_table(f"{SF_SMOKE}/events.parquet")
    eid = full["event_id"].to_pandas()
    is_b = pa.array((eid % 2 == 0).to_numpy())

    src = tmp_path / "src"
    src.mkdir()
    papq.write_table(full.filter(pa.compute.invert(is_b)), src / "events.parquet")

    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    first = demos.stream_ts_smooth_maintain(spark, str(src), store, ck)
    assert first.count() > 0

    papq.write_table(full.filter(is_b), src / "events_part2.parquet")
    got = demos.stream_ts_smooth_maintain(spark, str(src), store, ck)

    want = q_ts_ewma(spark, SF_SMOKE)
    problems = compare_frames(got.toPandas(), want.toPandas())
    assert not problems, problems
