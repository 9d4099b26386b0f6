"""Per-round environment re-probe (VERDICT r14 task 5): one tool, one
dated JSON, replacing the hand-run checks that previously updated
SURVEY.md §0.1, CLAUDE.md's gotchas, and the streaming docstrings
separately each round.

Usage:  python tools/env_probe.py            # prints JSON, writes ENV_PROBE.json
        python tools/env_probe.py --no-write # print only

Probes (read-only outside a temporary directory):

- ``reference``      — /root/reference emptiness (file count, dir mode,
                       mtime). SURVEY §0.1: if this ever reports files,
                       re-read SURVEY §2 against the actual source before
                       building anything.
- ``protobuf``       — ``import google.protobuf`` (the
                       transformWithStateInPandas runtime dependency; its
                       breakage is why custom stateful streaming uses
                       applyInPandasWithState) and the
                       ``StatefulProcessor`` import (historically fine —
                       the break is runtime-only).
- ``kafka_jar``      — Kafka connector jars under $SPARK_HOME/jars (none
                       installed => streaming demos stay on file sources
                       + AvailableNow).
- ``rocksdb_state_store`` — whether the streaming state store opens and
                       commits (it needs the RocksDB JNI library): a
                       one-row streaming count on the provider that
                       ``conf.SESSION_CONFS`` selects, in a temporary
                       directory (the only probe that needs a Spark
                       session; it reuses a running one or starts a
                       ``local[1]`` one and stops it).
- ``network``        — DNS resolution of github.com with a 2 s timeout
                       (offline expected; a resolving box would mean the
                       reference could be cloned).
- ``versions``       — pyspark / duckdb / pyarrow / pandas / numpy /
                       python, for drift detection across rounds.

The JSON is self-describing: docs cite ``ENV_PROBE.json`` (checked in,
regenerated each round) instead of restating the probe results.
"""

from __future__ import annotations

import datetime
import importlib
import json
import os
import stat
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe_reference() -> dict:
    ref = "/root/reference"
    out: dict = {"path": ref}
    try:
        st = os.stat(ref)
        out["exists"] = True
        out["mode"] = stat.filemode(st.st_mode)
        out["mtime"] = datetime.datetime.fromtimestamp(
            st.st_mtime, tz=datetime.timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S UTC")
        n = 0
        for _root, _dirs, files in os.walk(ref):
            n += len(files)
        out["file_count"] = n
        out["empty"] = n == 0
    except OSError as exc:
        out["exists"] = False
        out["error"] = str(exc)
    return out


def probe_protobuf() -> dict:
    out: dict = {}
    try:
        importlib.import_module("google.protobuf")
        out["google_protobuf_importable"] = True
    except Exception as exc:  # noqa: BLE001 — the probe IS the except
        out["google_protobuf_importable"] = False
        out["google_protobuf_error"] = f"{type(exc).__name__}: {exc}"
    try:
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )

        out["stateful_processor_importable"] = True
    except Exception as exc:  # noqa: BLE001
        out["stateful_processor_importable"] = False
        out["stateful_processor_error"] = f"{type(exc).__name__}: {exc}"
    out["transform_with_state_usable"] = (
        out["google_protobuf_importable"]
        and out["stateful_processor_importable"]
    )
    return out


def probe_kafka_jar() -> dict:
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars_dir = os.path.join(spark_home, "jars")
    out: dict = {"jars_dir": jars_dir}
    try:
        jars = sorted(
            j for j in os.listdir(jars_dir) if "kafka" in j.lower()
        )
        out["kafka_jars"] = jars
        out["kafka_connector_present"] = bool(jars)
    except OSError as exc:
        out["error"] = str(exc)
        out["kafka_connector_present"] = False
    return out


def probe_rocksdb_state_store() -> dict:
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from join_example_spark.conf import SESSION_CONFS

    key = "spark.sql.streaming.stateStore.providerClass"
    out: dict = {"provider": SESSION_CONFS[key]}
    owns = SparkContext._active_spark_context is None
    builder = SparkSession.builder
    if owns:
        builder = builder.master("local[1]").appName("env_probe").config("spark.ui.enabled", "false")
    base = builder.getOrCreate()
    tmp = tempfile.mkdtemp(prefix="env_probe_rocksdb_")
    try:
        spark = base.newSession()  # own SQL conf; the caller's is untouched
        spark.conf.set(key, SESSION_CONFS[key])
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        src = os.path.join(tmp, "src")
        os.mkdir(src)
        pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), os.path.join(src, "a.parquet"))
        q = (
            spark.readStream.schema("k BIGINT").parquet(src).groupBy("k").count()
            .writeStream.format("noop").outputMode("update")
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        metrics = [m for p in q.recentProgress for op in p.stateOperators for m in op.customMetrics]
        out["opens"] = any(m.startswith("rocksdb") for m in metrics)
    except Exception as exc:  # noqa: BLE001
        out["opens"] = False
        out["error"] = f"{type(exc).__name__}: {exc}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if owns:
            base.stop()
    return out


def probe_network() -> dict:
    import socket

    out: dict = {"host": "github.com"}
    try:
        socket.setdefaulttimeout(2.0)
        socket.getaddrinfo("github.com", 443)
        out["resolves"] = True
    except OSError as exc:
        out["resolves"] = False
        out["error"] = f"{type(exc).__name__}: {exc}"
    finally:
        socket.setdefaulttimeout(None)
    return out


def probe_versions() -> dict:
    out = {"python": sys.version.split()[0]}
    for mod in ("pyspark", "duckdb", "pyarrow", "pandas", "numpy"):
        try:
            out[mod] = importlib.import_module(mod).__version__
        except Exception as exc:  # noqa: BLE001
            out[mod] = f"unimportable: {type(exc).__name__}"
    return out


def run_probes() -> dict:
    return {
        "probed_at": datetime.datetime.now(tz=datetime.timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S UTC"
        ),
        "reference": probe_reference(),
        "protobuf": probe_protobuf(),
        "kafka_jar": probe_kafka_jar(),
        "rocksdb_state_store": probe_rocksdb_state_store(),
        "network": probe_network(),
        "versions": probe_versions(),
    }


def main() -> None:
    doc = run_probes()
    text = json.dumps(doc, indent=1)
    print(text)
    if "--no-write" not in sys.argv:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(repo, "ENV_PROBE.json"), "w") as fh:
            fh.write(text + "\n")


if __name__ == "__main__":
    main()
