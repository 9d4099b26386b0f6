"""Session configuration for deterministic, oracle-comparable execution.

The driver (and any embedding application) builds its own SparkSession, so
everything here must be runtime-settable (``spark.conf.set``), not
session-static. Verified against PySpark 4.1.2.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime session configs required for correctness & determinism.
#:
#: - ``timeZone=UTC``: timestamps must collect identically to DuckDB's
#:   (tz-naive, UTC) reads.
#: - ``nanosAsLong=true``: the ``events`` table has shipped as parquet
#:   TIMESTAMP(NANOS) in some fixture generations, which Spark 4.x refuses
#:   to read natively (PARQUET_TYPE_ILLEGAL). With this flag that encoding
#:   arrives as ns-since-epoch int64; the current generation is
#:   TIMESTAMP(MICROS)/ntz which the flag does not affect. Either way
#:   :func:`join_example_spark.sources.readers.normalize_event_ts`
#:   dispatches on the arriving dtype — keep the flag so BOTH generations
#:   read correctly.
#: - AQE on (default in 4.x, set explicitly): runtime shuffle coalescing,
#:   skew-join splitting, and runtime broadcast demotion — the knobs that
#:   make these plans survive a 100 TB scale-up.
SESSION_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Round-15 plan audit: InferFiltersFromGenerate synthesizes
    # `size(e) > 0 AND isnotnull(e)` below every explode that feeds a
    # join/aggregate. Every generator input on a declared path here is
    # either a computed text expression (split/transform — never NULL or
    # empty once text is non-null, so the guard removes ZERO rows while
    # re-evaluating the full split/fold expression per input row in a
    # Filter) or a fixed-dimension stored array (also never empty). The
    # rule is a pure per-row CPU pessimization for this workload at any
    # scale — results are identical with or without it (it only ever adds
    # redundant filters). Measured: removes 2 of 4 split evaluations per
    # row on the BM25/hybrid token paths.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # Streaming state: one RocksDB store per stateful partition, committed
    # by changelog. The HDFS-backed default keeps FOUR stores per
    # stream-stream join partition (keyToNumValues + keyWithIndexToValue
    # per side), and every trigger commits each one as a checksummed delta
    # file that its task blocks on until closed. Join state format v3
    # (RocksDB-only) puts the four join stores into column families of ONE
    # store; changelog checkpointing makes a commit append the version's
    # changes instead of uploading a snapshot. RocksDB alone, with four
    # stores and no changelog, measured slower than the default. Measured
    # on the open-loop interval join (perfbench stream_interval_join,
    # local[2], 4 vCPUs, seed 7) with these three entries: the summed
    # per-trigger state commit (stateOperators commitTimeMs, both join
    # tasks) fell from 280-419 ms to 85-128 ms, addBatch from 478-649 ms
    # to 430-532 ms. State lives off-heap, so it is not bounded by the JVM
    # heap. Batch paths never read these keys. An
    # existing checkpoint is safe: Spark records the provider and
    # join.stateFormatVersion in the checkpoint's offset log and restores
    # them on restart, so an HDFS-backed/v2 checkpoint resumes on its own
    # stores (pinned in tests/test_streaming.py).
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.join.stateFormatVersion": "3",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply the required runtime confs to ``spark``."""
    for key, value in SESSION_CONFS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)
    return spark


def build_local_session(
    app_name: str = "join_example_spark",
    cores: int | str = "*",
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build a local session for tests/bench (the driver builds its own)."""
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        # Managed-table home for the bucketed-join path; kept out of the
        # repo tree and made per-user/per-process: Derby is single-instance
        # per database, so a shared path would fail with XSDB6 when two
        # JVMs (bench + tests, or two CI jobs) run concurrently.
        .config(
            "spark.sql.warehouse.dir",
            f"/tmp/join_example_spark_wh_{os.getuid()}_{os.getpid()}",
        )
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home=/tmp/join_example_spark_derby_{os.getuid()}_{os.getpid()}",
        )
        .getOrCreate()
    )
    return ensure_session_confs(spark)
