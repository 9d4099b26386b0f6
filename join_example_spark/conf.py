"""Session configuration for deterministic, oracle-comparable execution.

The driver (and any embedding application) builds its own SparkSession, so
everything here must be runtime-settable (``spark.conf.set``), not
session-static. The one exception is the compiled-class cache size, which
:func:`ensure_session_confs` can still set before the JVM's first code
generation (see ``CODEGEN_CACHE_ENTRIES``). Verified against PySpark 4.1.2.
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


#: Size of Spark's compiled-class cache (``spark.sql.codegen.cache.maxEntries``,
#: default 100). The cache is one per JVM, and Spark 4.1 keys it on
#: (classloader, generated source). In local mode the driver thread and the
#: executor task threads use different classloaders, so every generated body
#: takes two entries. The cache is also split into segments that evict on
#: their own, so it starts evicting below 100 entries. At the default the
#: engine's classes evicted each other and every execution compiled (and
#: JIT-warmed) them again. Measured with ``CodegenMetrics`` on perfbench
#: (local[2], 4 vCPUs, seed 7): at 100 a steady-state pass compiled 248-250
#: classes (1.1-1.2 s) on ``iterative_build`` and 35 on ``relational_batch``;
#: with the cache sized, 0-4 and 0. ``iterative_build`` ``suite_s`` fell from
#: 5.35 to 4.01 s (medians of 10 interleaved pairs) with jobs, rounds and rows
#: unchanged. The size covers one pass of the whole declared suite at sf0.001
#: (3,077 entries; a second pass compiled 87-134 new AQE plan variants and
#: nothing again). At 2000 a second pass recompiled 2,892 classes (15.7 s),
#: because a cyclic pass larger than an LRU cache misses on every class.
#: Metaspace after one suite pass: 202 MB at 2000 entries, 209 MB with
#: nothing evicted.
#:
#: The key is a *static* conf: ``spark.conf.set`` refuses it, and Spark reads
#: it once per JVM, when ``CodeGenerator`` is first used. On a session the
#: engine did not build (the benchmark harness, the driver's entry session)
#: :func:`ensure_session_confs` writes it straight into the session's SQLConf,
#: which is what ``CodeGenerator`` reads, and only while this JVM has compiled
#: no generated code yet; later the write could not take effect and
#: ``spark.conf.get`` would report a size that is not in force.
CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 4096


def codegen_compiles(spark: SparkSession) -> int:
    """JVM-wide count of Catalyst generated-class compiles so far.

    Read from ``CodegenMetrics``, so it does not initialise ``CodeGenerator``
    (and its cache) the way reading :func:`codegen_compile_ms` does.
    """
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def codegen_compile_ms(spark: SparkSession) -> float:
    """JVM-wide wall time spent compiling generated classes so far, in ms."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply the required runtime confs to ``spark``, and size
    the compiled-class cache while this JVM has compiled nothing yet."""
    for key, value in SESSION_CONFS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)
    if (
        int(spark.conf.get(CODEGEN_CACHE_KEY)) < CODEGEN_CACHE_ENTRIES
        and codegen_compiles(spark) == 0
    ):
        spark._jsparkSession.sessionState().conf().setConfString(
            CODEGEN_CACHE_KEY, str(CODEGEN_CACHE_ENTRIES)
        )
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
