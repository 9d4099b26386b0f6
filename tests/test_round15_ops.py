"""Round-15 pins: ADVICE r14 fixes (envelope-median floor in the suspect
rule, cross-SF redraw gate), the environment probe, and the fan-out
repartition of small scans."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_concentrated_excess_floors_zero_median():
    """ADVICE r14: a query whose recorded envelope median is exactly 0.0
    must NOT auto-classify as concentrated hot excess (t > 2*0.0 is every
    positive draw) — the suspect rule floors the median at 0.05 s, so a
    breached total carried by sub-resolution rows reads as a hot session,
    not a code regression."""
    from tools.compare_bench import adjudicate_total

    n = 150
    env = {f"q{i}": {"spread_pct": 30, "median": 0.0} for i in range(n)}
    env_totals = [10.0, 10.5, 11.0]
    # every query draws 0.09 s: above 2*0.0 but below the floored 2*0.05
    # bar -> diffuse excess -> hot session, never a regression conviction
    new = {f"q{i}": 0.09 for i in range(n)}
    out = adjudicate_total(new, env, env_totals)
    assert out["verdict"] == "hot_session_suspected"
    assert out["n_concentrated"] == 0

    # a genuinely slow row against a 0.0 median still convicts: 9 s of a
    # ~9.9 s excess is concentrated even under the floor
    new2 = {f"q{i}": 0.09 for i in range(n)}
    new2["q0"] = 12.0
    out2 = adjudicate_total(new2, env, env_totals)
    assert out2["verdict"] == "code_regression_suspected"
    assert out2["n_concentrated"] == 1


def test_bench_redraw_envelope_is_sf_gated():
    """ADVICE r14: bench.py's redraw/suspects stage must compare run
    timings against the envelope only when the bench SF matches the
    envelope SF — source-level pin (the stage reads _env from the same
    SF-gated read as the verdict/diff stages)."""
    import re

    src = open("bench.py").read()
    # the envelope queries are zeroed when the envelope SF differs
    assert re.search(
        r'_env = _env_doc\.get\("queries", \{\}\) if _env_sf == sf_val else \{\}',
        src,
    ), "redraw-stage envelope read lost its SF gate"
    # exactly one BENCH_VARIANCE.json read in bench.py (redraw + verdict +
    # diff all share it) — a second unconditional read would reintroduce
    # the cross-SF bug
    assert src.count('"BENCH_VARIANCE.json"') == 1


def test_env_probe_runs_and_matches_code_assumptions():
    """tools/env_probe.py (VERDICT r14 task 5) must run cleanly and its
    findings must agree with the code paths the engine actually takes:
    streaming uses applyInPandasWithState iff transformWithState is
    unusable, demos use file sources iff no Kafka jar is present, and the
    streaming state store (RocksDB, conf.SESSION_CONFS) opens. If this
    test ever fails on those asserts, the ENVIRONMENT changed —
    re-evaluate the gated paths, don't patch the test."""
    from tools.env_probe import run_probes

    doc = run_probes()
    assert set(doc) == {
        "probed_at", "reference", "protobuf", "kafka_jar",
        "rocksdb_state_store", "versions",
    }
    # engine-relevant invariants the code is currently shaped around:
    assert doc["protobuf"]["transform_with_state_usable"] is False
    assert doc["kafka_jar"]["kafka_connector_present"] is False
    assert doc["rocksdb_state_store"]["opens"] is True, doc["rocksdb_state_store"]
    # reference probe is structural (empty or not, it must report)
    assert isinstance(doc["reference"].get("file_count", 0), int)
    assert doc["versions"]["pyspark"].startswith("4.")


def test_fanout_repartition_spreads_small_scans_and_noops_at_scale(spark):
    """Round-15 single-split finding: every fixture table is one parquet
    split, so the first (often heaviest) stage of a plan ran on ONE core.
    fanout_repartition spreads a small scan to the session's default
    parallelism, and is a NO-OP when the natural split count already
    reaches it (the 100 TB posture: wide scans are never re-shuffled).
    Result-identity under the extra exchange is the partition-independence
    property pinned by tests/test_determinism.py and the oracle mirrors."""
    from join_example_spark.sources.readers import (
        fanout_repartition,
        read_table,
    )

    par = spark.sparkContext.defaultParallelism
    docs = read_table(spark, SF_SMOKE, "documents")
    fanned = fanout_repartition(docs)
    assert fanned.rdd.getNumPartitions() == par
    # row set identical (keyless round-robin moves rows, loses none)
    assert fanned.count() == docs.count()

    # Scale guard: when the estimated split count reaches the session
    # parallelism the input is returned UNCHANGED (same plan object — no
    # exchange inserted for an already-wide scan). The size function is
    # injected (ADVICE r15: no process-wide os.path.getsize rebinding).
    assert fanout_repartition(docs, getsize=lambda p: par * (128 << 20)) is docs


def test_fanout_repartition_reads_max_partition_bytes_conf(spark):
    """Round-16 (VERDICT r15 task 7): the no-op guard derives its split
    size from the session's spark.sql.files.maxPartitionBytes, not a
    hardcoded 128 MB — a deployment that tunes the conf keeps a correct
    natural-split estimate."""
    from join_example_spark.sources.readers import (
        _parse_byte_size,
        fanout_repartition,
        read_table,
    )

    assert _parse_byte_size("134217728") == 128 << 20
    assert _parse_byte_size("128MB") == 128 << 20
    assert _parse_byte_size("128m") == 128 << 20
    assert _parse_byte_size("1g") == 1 << 30
    assert _parse_byte_size("134217728b") == 128 << 20

    par = spark.sparkContext.defaultParallelism
    docs = read_table(spark, SF_SMOKE, "documents")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    try:
        # Tiny split size => the same physical bytes now estimate as >= par
        # natural splits => guard no-ops without any getsize stubbing.
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
        assert fanout_repartition(docs) is docs
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
