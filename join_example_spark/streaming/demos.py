"""Structured Streaming demos — the live micro-batch side of §2.9.

Each demo mirrors a Kafka Streams DSL operation on a *real stream*
(file source, AvailableNow trigger — no Kafka jar in this environment;
on a cluster the same topologies run against
``spark.readStream.format("kafka")`` unchanged):

- tumbling window agg        ~ windowedBy(TimeWindows.of(1d))
- stream-static join         ~ KStream.join(KTable/GlobalKTable)
- stream-stream interval join~ KStream.join(KStream, JoinWindows.of(10m))
- watermark + dedup          ~ grace periods / custom store dedup
- stateful sessionization    ~ Processor API transform + state store

The batch-equivalence tests (tests/test_streaming.py) assert each demo's
final output equals the declared batch query on the same bounded input —
the prefix-consistency criterion Structured Streaming guarantees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from join_example_spark.conf import ensure_session_confs

#: Raw parquet schema of events with the ns timestamp as int64 (the
#: nanosAsLong representation). Kept for tests that synthesize int64-ns
#: fixtures; real fixture dirs are footer-probed instead
#: (readers.probe_stream_schema) so either ts encoding streams correctly.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


#: Raw parquet schema of the documents corpus (file streams need an
#: explicit schema — streaming schema inference is banned at any scale).
DOCUMENTS_RAW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_training_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest: documents stream → deterministic hash
    sample → group-stable split assignment.

    The training-pipeline operators (operators/sampling.py) are stateless
    map-side expressions, so the SAME code runs batch or streaming — this
    demo is literally the batch operators applied to ``readStream``. At
    scale this is the continuous-ingest front of the pipeline: each
    arriving file partition is sampled/split independently, no state, no
    shuffle, and the deterministic hashes guarantee a document lands in
    the same sample/split no matter when or where it arrives.
    """
    from join_example_spark.operators.sampling import hash_sample, split_assign

    ensure_session_confs(spark)
    docs = (
        spark.readStream.schema(DOCUMENTS_RAW_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    return split_assign(hash_sample(docs, "doc_id", 10), "source").select(
        "doc_id", "source", "split"
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table from its parquet file (directory listing
    source — the moral equivalent of consuming a topic from offset 0)."""
    from join_example_spark.sources.readers import (
        normalize_event_ts,
        probe_stream_schema,
    )

    ensure_session_confs(spark)
    # File-stream sources list a *directory*; pathGlobFilter scopes the
    # listing to the events file(s) within the fixture dir. The wildcard
    # matches exactly one file in fixture dirs and lets restart tests
    # stage arrival waves (events_part2.parquet ...) like the ingest
    # demos' documents*/embeddings* globs. The stream schema is
    # footer-probed so either ts encoding (int64-ns or timestamp_ntz)
    # arrives intact, then normalize_event_ts dispatches on it.
    raw = (
        spark.readStream.schema(
            probe_stream_schema(spark, sf_dir, "events.parquet")
        )
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    return normalize_event_ts(raw)


def run_to_completion(
    stream_df: DataFrame, checkpoint_dir: str, mode: str = "append"
) -> DataFrame:
    """Run a streaming DataFrame with AvailableNow to its final answer.

    - ``append``: rows accumulate across micro-batches (joins, row streams,
      finalized-only windowed output under a watermark).
    - ``complete``: each batch re-emits the full result; the last batch is
      the final answer — use for windowed aggregations when the trailing
      windows (which the watermark never finalizes on a bounded input) must
      be included.
    """
    return run_with_progress(stream_df, checkpoint_dir, mode)[0]


def run_with_progress(
    stream_df: DataFrame, checkpoint_dir: str, mode: str = "append"
) -> tuple[DataFrame, list]:
    """:func:`run_to_completion`, plus the query's per-trigger
    ``StreamingQueryProgress`` records in batch order: ``durationMs``
    phases, ``eventTime["watermark"]``, and per stateful operator
    ``numRowsTotal``, ``memoryUsedBytes``, ``numRowsDroppedByWatermark``
    and the store's ``customMetrics``. Spark keeps the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100)."""
    spark = stream_df.sparkSession
    buf: list = []
    schema = stream_df.schema

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()
        if mode == "complete":
            buf.clear()
        buf.extend(rows)

    q = (
        stream_df.writeStream.outputMode(mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.createDataFrame(buf, schema) if buf else spark.createDataFrame([], schema)
    return result, list(q.recentProgress)


def tumbling_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time window with a 1-hour watermark."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(CAST((value) AS DECIMAL(25,6))) AS DOUBLE)").alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").cast("date").alias("day"), "event_type", "n", "total_value")
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer dim.

    KStream.join(GlobalKTable): the static side is broadcast per micro-batch;
    no watermark needed (static side never changes mid-query)."""
    from join_example_spark.sources.readers import read_table

    events = read_events_stream(spark, sf_dir)
    customer = read_table(spark, sf_dir, "customer")
    return events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    ).select("event_id", "ts", "user_id", "c_mktsegment", "value")


def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join within ±10 minutes, both sides watermarked.

    KStream.join(KStream, JoinWindows.of(10m), grace): symmetric — a
    purchase within 10 minutes BEFORE or AFTER the view matches, exactly
    like JoinWindows. Spark buffers both sides in state, expiring buffered
    rows once the watermark passes the interval bound — bounded state at
    any scale."""
    # One source filtered twice, so each trigger lists the directory and
    # writes a source offset log once. Spark does not support restarting
    # from a checkpoint written by the earlier two-source plan (a change in
    # the number of sources); it does not detect it either, so discard such
    # checkpoints.
    events = read_events_stream(spark, sf_dir)
    left = events.where(F.col("event_type") == "view")
    right = events.where(F.col("event_type") == "purchase")
    l = left.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", "10 minutes")
    r = right.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", "10 minutes")
    return l.join(
        r,
        F.expr(
            "l_user = r_user "
            "AND purchase_ts >= view_ts - INTERVAL 10 MINUTES "
            "AND purchase_ts <= view_ts + INTERVAL 10 MINUTES"
        ),
        "inner",
    ).select("view_id", "purchase_id", "view_ts", "purchase_ts")


def stream_dedup_within_watermark(spark: SparkSession, source_dir: str) -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark window.

    The streaming twin of exact dedup: state holds one entry per key only
    until the watermark passes — bounded memory on an unbounded stream."""
    from join_example_spark.sources.readers import (
        normalize_event_ts,
        probe_stream_schema,
    )

    ensure_session_confs(spark)
    raw = spark.readStream.schema(
        probe_stream_schema(spark, source_dir)
    ).parquet(source_dir)
    events = normalize_event_ts(raw)
    return events.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def sessionize_stateful(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState.

    The Processor-API analog (transform + state store + punctuate): per-user
    state carries the open session (start, last_ts, n, sum); an event past
    the gap closes and emits the session. Timed-out state flushes residual
    sessions. This is the engine's one sanctioned Python-boundary operator
    (Arrow-batched); everything batch stays JVM-native.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")

    out_schema = (
        "user_id BIGINT, session_start TIMESTAMP, last_event_ts TIMESTAMP, "
        "n_events BIGINT, session_value DOUBLE"
    )
    state_schema = "start BIGINT, last BIGINT, n BIGINT, total DOUBLE"
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = -1
            n, total = 0, 0.0
        sessions = []
        if state.hasTimedOut:
            if n > 0:
                sessions.append((user_id, start, last, n, total))
            state.remove()
        else:
            rows = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
            for ts, val in zip(rows["ts"], rows["value"]):
                ts_us = int(ts.value // 1000)  # pandas ns -> µs
                if start < 0:
                    start, last, n, total = ts_us, ts_us, 1, float(val)
                elif ts_us - last > gap_us:
                    # Strictly-greater gap splits: an exactly-gap pair MERGES,
                    # matching Spark session_window and the q_stream_session
                    # oracle (pinned in tests).
                    sessions.append((user_id, start, last, n, total))
                    start, last, n, total = ts_us, ts_us, 1, float(val)
                elif ts_us < start - gap_us:
                    # A late row older than the open session's reach forms its
                    # own (already-closed) session. If it should have merged
                    # with a previously EMITTED session, that emission is
                    # final — the documented append-mode limitation.
                    sessions.append((user_id, ts_us, ts_us, 1, float(val)))
                else:
                    # Merge, extending in BOTH directions: a late within-gap
                    # row may precede the current session start.
                    start = min(start, ts_us)
                    last = max(last, ts_us)
                    n += 1
                    total += float(val)
            state.update((start, last, n, total))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 60_000)
        if sessions:
            yield pd.DataFrame(
                {
                    "user_id": [s[0] for s in sessions],
                    "session_start": [pd.Timestamp(s[1], unit="us") for s in sessions],
                    "last_event_ts": [pd.Timestamp(s[2], unit="us") for s in sessions],
                    "n_events": [s[3] for s in sessions],
                    "session_value": [s[4] for s in sessions],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (KStream.leftJoin(KStream)).

    Unmatched left rows are held in state until the watermark proves no
    match can still arrive (view_ts + 10 min < watermark), then emitted
    null-extended. On a bounded AvailableNow run the trailing unmatched rows
    may never flush (the stream ends before the watermark passes them) —
    exactly the KStreams grace-period behavior; the test asserts subset
    semantics accordingly.
    """
    events = read_events_stream(spark, sf_dir)  # one source, as above
    left = events.where(F.col("event_type") == "view")
    right = events.where(F.col("event_type") == "click")
    l = left.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", "10 minutes")
    r = right.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", "10 minutes")
    return l.join(
        r,
        F.expr(
            "l_user = r_user AND click_ts >= view_ts "
            "AND click_ts <= view_ts + INTERVAL 10 MINUTES"
        ),
        "left_outer",
    ).select("view_id", "click_id", "view_ts", "click_ts")


def stream_upsert_matview(
    spark: SparkSession, source_dir: str, store_dir: str, checkpoint_dir: str
) -> DataFrame:
    """foreachBatch keyed-upsert sink: maintain a (user_id, event_type)
    materialized view across micro-batches — the KTable aggregation as a
    live stream, and the streaming twin of ``q_incremental_agg``.

    Each micro-batch aggregates its own partials (count + exact decimal
    sum), then MERGEs them with the current store by key: union + re-sum.
    Decimal partials compose associatively, so the final view is
    bit-identical to a one-shot batch aggregation regardless of how the
    input was chopped into batches. The store is a versioned parquet
    directory (v0, v1, …) written by executors — no row ever transits the
    driver; on a lakehouse the same ``def merge`` body becomes MERGE INTO.
    ``maxFilesPerTrigger=1`` makes every source file its own micro-batch.
    """
    ensure_session_confs(spark)
    from join_example_spark.sources.readers import (
        normalize_event_ts,
        probe_stream_schema,
    )

    raw = (
        spark.readStream.schema(probe_stream_schema(spark, source_dir))
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir.rstrip("/"))
    )
    events = normalize_event_ts(raw)

    import os

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("pn"),
            F.expr("SUM(CAST(value AS DECIMAL(25,6)))").alias("psum"),
        )
        versions = sorted(d for d in os.listdir(store_dir)) if os.path.isdir(store_dir) else []
        if versions:
            prev = batch_df.sparkSession.read.parquet(os.path.join(store_dir, versions[-1]))
            partial = prev.unionByName(partial)
        merged = partial.groupBy("user_id", "event_type").agg(
            F.sum("pn").alias("pn"), F.sum("psum").alias("psum")
        )
        merged.write.mode("overwrite").parquet(os.path.join(store_dir, f"v{batch_id:06d}"))

    q = (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    versions = sorted(d for d in os.listdir(store_dir))
    final = spark.read.parquet(os.path.join(store_dir, versions[-1]))
    return final.select(
        "user_id",
        "event_type",
        F.col("pn").cast("bigint").alias("n_events"),
        F.col("psum").cast("double").alias("total_value"),
    )


def stream_incremental_dedup(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Continuous-ingest dedup: the arriving documents stream judged against
    the STATIC corpus — the live twin of ``q_llm_dedup_incremental``.

    Each micro-batch runs the SAME ``incremental_dedup_verdicts`` operator
    (foreachBatch), appending per-doc verdicts to a parquet sink. Verdicts
    depend only on (document, corpus) — never on other batch documents — so
    the union of per-micro-batch verdicts equals the one-shot batch answer
    no matter how the input is chopped (asserted in tests). At 100 TB this
    is the ingest front door: corpus index broadcast/bucketed, each arriving
    partition judged and routed independently, exactly-once via the
    checkpoint.
    """
    from join_example_spark.operators.dedup import incremental_dedup_verdicts
    from join_example_spark.sources.readers import probe_stream_schema, read_table

    ensure_session_confs(spark)
    corpus = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("source") == "src0")
        .select("doc_id", "lang", "n_chars", "text")
    )
    arriving = (
        spark.readStream.schema(
            probe_stream_schema(spark, sf_dir, "documents.parquet")
        )
        # documents*.parquet: a restarted query must pick up document files
        # that LANDED while it was down (same recovery contract as
        # stream_semantic_ingest); on the fixture dirs the pattern still
        # matches only documents.parquet.
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir.rstrip("/"))
        .where(F.col("source") == "src1")
    )

    def judge(batch_df: DataFrame, batch_id: int) -> None:
        incremental_dedup_verdicts(
            batch=batch_df.select("doc_id", "lang", "n_chars", "text"),
            corpus=corpus,
        ).write.mode("append").parquet(out_dir)

    q = (
        arriving.writeStream.foreachBatch(judge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    if not os.path.isdir(out_dir):
        # Zero micro-batches were scheduled (e.g. a re-run against an
        # existing checkpoint_dir but a fresh out_dir): foreachBatch never
        # fired, so the sink directory was never created. Return an empty,
        # correctly-typed verdict frame instead of raising PATH_NOT_FOUND —
        # limit(0) through the same operator yields the exact sink schema
        # without touching data.
        return incremental_dedup_verdicts(
            batch=corpus.limit(0).select("doc_id", "lang", "n_chars", "text"),
            corpus=corpus,
        ).limit(0)
    return spark.read.parquet(out_dir)


def stream_semantic_ingest(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Continuous vector-store ingest: arriving EMBEDDINGS judged against
    the static corpus index — the live twin of ``q_llm_dedup_semantic_incr``
    and the embedding counterpart of ``stream_incremental_dedup``.

    Each micro-batch runs the SAME ``semantic_ingest_verdicts`` operator
    (foreachBatch) against the corpus-derived multi-probe IVF index,
    appending per-vector kept/dup_semantic verdicts to a parquet sink.
    Verdicts depend only on (vector, corpus) — never on other arriving
    vectors — so the union of per-micro-batch verdicts equals the one-shot
    batch answer no matter how the input is chopped (asserted in tests).
    At 100 TB: centroids broadcast once, the corpus cell index is
    precomputed/bucketed, each arriving partition assigns map-side —
    exactly-once via the checkpoint.
    """
    from join_example_spark.operators.similarity import semantic_ingest_verdicts
    from join_example_spark.sources.readers import probe_stream_schema, read_table

    ensure_session_confs(spark)
    corpus = (
        read_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 5 != 0)
        .select("vec_id", "embedding")
    )
    # The index derives from the corpus only; sizing it is a one-time
    # plan-build scalar, NOT per-batch work. Round 5: the operator
    # identity-contracts the corpus, so the quantizer is sized on the
    # DISTINCT-vector count (must match the oracle's reps-based LIMIT).
    from join_example_spark.operators.similarity import identity_reps

    n_reps = identity_reps(corpus).count()
    import math

    n_centroids = int(math.ceil(math.sqrt(max(n_reps, 1))))
    arriving = (
        spark.readStream.schema(
            probe_stream_schema(spark, sf_dir, "embeddings.parquet")
        )
        # embeddings*.parquet (not the exact name): a restarted query must
        # pick up vector files that LANDED while it was down — the
        # checkpoint-recovery test feeds embeddings_part2.parquet into the
        # same source dir between runs. On the fixture dirs the pattern
        # still matches only embeddings.parquet.
        .option("pathGlobFilter", "embeddings*.parquet")
        .parquet(sf_dir.rstrip("/"))
        .where(F.col("vec_id") % 5 == 0)
    )

    def judge(batch_df: DataFrame, batch_id: int) -> None:
        semantic_ingest_verdicts(
            batch=batch_df.select("vec_id", "embedding"),
            corpus=corpus,
            n_centroids=n_centroids,
        ).write.mode("append").parquet(out_dir)

    q = (
        arriving.writeStream.foreachBatch(judge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    if not os.path.isdir(out_dir):
        # Zero micro-batches scheduled (exhausted checkpoint + fresh
        # out_dir) — same guard as stream_incremental_dedup.
        return semantic_ingest_verdicts(
            batch=corpus.limit(0), corpus=corpus, n_centroids=n_centroids
        ).limit(0)
    return spark.read.parquet(out_dir)


def stream_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window distinct-audience estimation — the live twin of
    ``q_stream_distinct_users``'s sketch column.

    Exact COUNT(DISTINCT) cannot run in a streaming aggregation (per-window
    distinct state is neither bounded nor mergeable); the scale path is the
    HLL sketch, whose register-max merge is COMMUTATIVE — so the streaming
    estimate over any micro-batch chopping equals the one-shot batch
    estimate exactly (asserted in tests, not just approximately). Tumbling
    1-day event-time windows under a 1-hour watermark bound the state.
    """
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"))
        .select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "approx_users",
        )
    )


def stream_ts_series_maintain(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming maintenance of the per-(type, minute) count series + the
    SAME subsequence search ``q_ts_sim_search`` runs — the streaming shape
    of the PAPERS.md EDBT'19 time-series-similarity class.

    Window scores depend on the WHOLE series, so unlike the per-row
    ingest-dedup demos the search itself cannot be batch-local. What IS
    streaming-maintainable is the series: per-minute counts are
    associative partials (the stream_upsert_matview algebra), so each
    micro-batch appends its (type, minute, partial-count) rollup to the
    store and merge-on-read (SUM per key) reconstructs EXACTLY the batch
    rollup under any micro-batch chopping. The search then runs the
    shared :func:`operators.temporal.ts_subseq_topk` over the maintained
    store — one code path with the batch query, equality asserted in
    tests. At 100 TB: the store is the tiny (types × minutes) rollup,
    compacted periodically; arriving events never re-scan history.
    """
    arriving = read_events_stream(spark, sf_dir)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                "event_type",
                F.expr("unix_micros(ts) DIV 60000000").alias("m"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        arriving.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from join_example_spark.operators.temporal import ts_subseq_topk

    maintained = (
        spark.read.parquet(out_dir)
        .groupBy("event_type", "m")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    return ts_subseq_topk(maintained)


def stream_ts_smooth_maintain(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming maintenance of the per-(type, minute) count store, read
    back through the SHARED :func:`operators.temporal.dyadic_weighted_series`
    EWMA — the stream-maintained smoothed-rate monitor.

    Same store algebra as :func:`stream_ts_series_maintain` (per-minute
    counts are associative partials: append each micro-batch's rollup,
    merge-on-read with SUM — exact under any micro-batch chopping), and
    the smoothing is the same bit-exact dyadic-weight code path as the
    batch ``q_ts_ewma``, so the streaming result equals the batch result
    row for row (asserted in tests). At 100 TB the store is the tiny
    (types × minutes) rollup; each trigger touches only arriving
    partials, and the 20-minute EWMA reads only the trailing window of
    the store.
    """
    arriving = read_events_stream(spark, sf_dir)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                "event_type",
                F.expr("unix_micros(ts) DIV 60000000").alias("m"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        arriving.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from join_example_spark.operators.temporal import dyadic_weighted_series

    maintained = (
        spark.read.parquet(out_dir)
        .groupBy("event_type", "m")
        .agg(F.sum("cnt").cast("bigint").alias("x"))
    )
    weights = tuple(1 << (19 - k) for k in range(20))
    return dyadic_weighted_series(maintained, weights, 1048576.0, "ewma")
