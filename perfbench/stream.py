"""Open-loop stream workload: the stream-stream interval join demo fed by a
file generator running at a fixed rate.

The generator replays ``events`` rows in ``(ts, event_id)`` order. A seed
file ``events.parquet`` is written before the query starts; once its
micro-batch has been emitted, files ``events_NNNNN.parquet`` follow at
:data:`RATE` files per second, each written under a hidden name and then
renamed so the file source never lists a partial file. Every file holds a
disjoint, later slice of event time spanning far more than the demo's
10-minute watermark, so no row is ever late and the emitted rows do not
depend on how files group into micro-batches.

A file's latency runs from its scheduled due time to the end of the
``foreachBatch`` call for the micro-batch that consumed it, as read back
from the checkpoint's file-source logs. The first :data:`WARM_S` seconds of
files are a warm-up prefix, left out of the samples.
"""

from __future__ import annotations

import json
import os
import re
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
import harness

DATA_SEED = 42
RATE = 10.0  # files per second
WARM_S = 4.0  # open-loop warm-up prefix, excluded from latency samples
SPAN_US = 9000 * 1_000_000  # event time covered by one file (2.5 h)
N_USERS = 1500  # user-id domain of the sf0.1 events table
USER_SHARE = 0.5  # share of users the seed keeps
DRAIN_TIMEOUT_S = 30.0

_LOG_NAME = re.compile(r"^\d+(\.compact)?$")


def _event_chunks(seed: int, n_files: int) -> list:
    """``n_files`` consecutive event-time slices of the seed's user subset."""
    n_events = int(n_files * SPAN_US / 26e6 * 1.1) + 1000
    events = datagen.events_table(np.random.default_rng(DATA_SEED), n_events, N_USERS)
    keep = np.flatnonzero(np.random.default_rng(seed).random(N_USERS) < USER_SHARE)
    users = events.column("user_id").to_numpy()
    events = events.filter(np.isin(users, keep))
    ts = events.column("ts").cast("int64").to_numpy()
    span = (ts - ts[0]) // SPAN_US
    bounds = np.searchsorted(span, np.arange(n_files + 1))
    if span[-1] < n_files:
        raise ValueError("not enough generated events for the requested files")
    return [events.slice(lo, hi - lo) for lo, hi in zip(bounds[:-1], bounds[1:])]


def _consumed_batches(checkpoint: str) -> dict[str, int]:
    """file name -> micro-batch that made it visible to every source.

    Reads both the numbered and the ``.compact`` logs of each file source;
    the file source compacts every 10 batches.
    """
    per_source: list[dict[str, int]] = []
    root = os.path.join(checkpoint, "sources")
    for source in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        seen: dict[str, int] = {}
        src_dir = os.path.join(root, source)
        for name in os.listdir(src_dir):
            if not _LOG_NAME.match(name):
                continue
            with open(os.path.join(src_dir, name)) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    seen[os.path.basename(entry["path"])] = int(entry["batchId"])
        per_source.append(seen)
    if not per_source:
        return {}
    common = set.intersection(*(set(s) for s in per_source))
    return {f: max(s[f] for s in per_source) for f in common}


def _progress_listener(progress: list):
    """A ``StreamingQueryListener`` that appends every progress event to
    ``progress``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _interval_join_oracle(src_dir: str) -> tuple[int, str]:
    import duckdb

    con = duckdb.connect()
    try:
        rel = con.sql(f"""
            WITH ev AS (SELECT * FROM read_parquet('{src_dir}/events*.parquet'))
            SELECT v.event_id AS view_id, p.event_id AS purchase_id,
                   epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purchase_us
            FROM ev v JOIN ev p
              ON v.user_id = p.user_id
             AND p.ts BETWEEN v.ts - INTERVAL 10 MINUTE AND v.ts + INTERVAL 10 MINUTE
            WHERE v.event_type = 'view' AND p.event_type = 'purchase'""")
        return harness.result_hash(rel.columns, rel.fetchall())
    finally:
        con.close()


def run(seed: int, seconds: float, trace: bool, work_dir: str) -> dict:
    n_warm = int(WARM_S * RATE)
    n_timed = max(int(seconds * RATE), 1)
    chunks = _event_chunks(seed, 1 + n_warm + n_timed)
    names = ["events.parquet"] + [f"events_{i:05d}.parquet" for i in range(1, len(chunks))]
    src_dir = os.path.join(work_dir, "stream-src")
    checkpoint = os.path.join(work_dir, "checkpoint")
    os.makedirs(src_dir)
    pq.write_table(chunks[0], os.path.join(src_dir, names[0]))
    t_setup = time.perf_counter()

    probes = harness.LayerProbes()
    if trace:
        probes.install()
        probes.enabled = True
    try:
        from join_example_spark.streaming import demos

        spark = harness.build_session(work_dir)
        progress: list = []
        listener = _progress_listener(progress)
        spark.streams.addListener(listener)

        columns = ["view_id", "purchase_id", "view_us", "purchase_us"]
        emitted: list[tuple] = []
        batch_end: dict[int, float] = {}

        def sink(batch_df, batch_id: int) -> None:
            rows = batch_df.selectExpr(
                "view_id", "purchase_id",
                "unix_micros(view_ts) AS view_us", "unix_micros(purchase_ts) AS purchase_us",
            ).collect()
            emitted.extend(tuple(r) for r in rows)
            batch_end[batch_id] = time.perf_counter()

        spark.sparkContext.setJobGroup("stream/build", "stream/build")
        t0 = time.perf_counter()
        joined = demos.stream_stream_interval_join(spark, src_dir)
        build_s = time.perf_counter() - t0
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        probes.enabled = False
        query = (
            joined.writeStream.outputMode("append").foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            wait_until = time.perf_counter() + 120
            while 0 not in batch_end and time.perf_counter() < wait_until:
                if query.exception():
                    raise RuntimeError(f"streaming query failed: {query.exception()}")
                time.sleep(0.01)

            setup_s = time.perf_counter() - t_setup
            # The generator runs on this thread; the query runs in Spark's.
            t_sched = time.perf_counter() + 0.05
            due = {names[i]: t_sched + (i - 1) / RATE for i in range(1, len(names))}
            lags: list[float] = []
            for i in range(1, len(names)):
                name = names[i]
                pause = due[name] - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                tmp = os.path.join(src_dir, f".{name}.tmp")
                pq.write_table(chunks[i], tmp)
                os.rename(tmp, os.path.join(src_dir, name))
                lags.append(time.perf_counter() - due[name])
            wait_until = time.perf_counter() + DRAIN_TIMEOUT_S
            while True:
                consumed = _consumed_batches(checkpoint)
                done = all(n in consumed and consumed[n] in batch_end for n in names)
                if done or time.perf_counter() > wait_until or query.exception():
                    break
                time.sleep(0.05)
        finally:
            query.stop()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)
        run_group = str(query.runId)
        counters = harness.group_counters(spark, run_group) if trace else None
        build_counters = harness.group_counters(spark, "stream/build") if trace else None
        spark.stop()
    finally:
        probes.restore()

    consumed = _consumed_batches(checkpoint)
    timed = names[1 + n_warm:]
    timed_batches = {consumed[n] for n in timed if n in consumed}
    first_batch, last_batch = min(timed_batches, default=0), max(timed_batches, default=-1)
    # One progress event per micro-batch that read input, from the first to
    # the last that consumed a timed file.
    timed_progress = list({
        p.batchId: p for p in progress if first_batch <= p.batchId <= last_batch and p.numInputRows > 0
    }.values())
    latencies = [batch_end[consumed[n]] - due[n] for n in timed if n in consumed and consumed[n] in batch_end]
    unconsumed = sum(1 for n in names if n not in consumed or consumed[n] not in batch_end)
    dropped = sum(op.numRowsDroppedByWatermark for p in progress for op in p.stateOperators)
    ok_rows = harness.result_hash(columns, emitted) == _interval_join_oracle(src_dir)
    if not ok_rows or dropped:
        harness.log(f"stream output check failed: rows_match={ok_rows} dropped={dropped}")
    attempted = len(names)
    failed = attempted if (not ok_rows or dropped) else unconsumed
    result = {"attempted": attempted, "failed": failed}
    if not trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            # The result refresh period: the median trigger of the timed
            # micro-batches. Triggers run back to back, so their sum would
            # only track the generator's schedule.
            "suite_s": (harness.median(p.durationMs.get("triggerExecution", 0) for p in timed_progress) / 1000.0, "s"),
            "lat_p50_s": (harness.quantile(latencies, 0.5), "s"),
            "lat_p90_s": (harness.quantile(latencies, 0.9), "s"),
        }
        return result

    def p50(key: str) -> float:
        return harness.median(p.durationMs.get(key, 0) for p in timed_progress)

    files_per_batch: dict[int, int] = {}
    for n in timed:
        if n in consumed:
            files_per_batch[consumed[n]] = files_per_batch.get(consumed[n], 0) + 1
    ops = [op for p in progress for op in p.stateOperators]
    layer = probes.snapshot()
    exec_s = sum(p.durationMs.get("addBatch", 0) for p in progress) / 1000.0
    layer.update({k: counters[k] for k in harness.STAGE_FIELDS})
    layer.update(
        build_s=build_s, build_jobs=build_counters["jobs"], build_stages=build_counters["stages"],
        exec_s=exec_s, exec_jobs=counters["jobs"],
        cpu_busy_share=counters["executor_run_ms"] / 1000.0 / (exec_s * harness.CORES) if exec_s else 0.0,
        batches=float(len({p.batchId for p in progress if p.numInputRows > 0})),
        trigger_ms_p50=p50("triggerExecution"),
        add_batch_ms_p50=p50("addBatch"),
        query_planning_ms_p50=p50("queryPlanning"),
        latest_offset_ms_p50=p50("latestOffset"),
        wal_commit_ms_p50=p50("walCommit"),
        commit_offsets_ms_p50=p50("commitOffsets"),
        rows_per_batch_p50=harness.median(p.numInputRows for p in timed_progress),
        state_rows_max=float(max((op.numRowsTotal for op in ops), default=0)),
        state_mem_bytes_max=float(max((op.memoryUsedBytes for op in ops), default=0)),
        rows_dropped_by_watermark=float(dropped),
        backlog_files_max=float(max(files_per_batch.values(), default=0)),
        gen_lag_max_s=max(lags, default=0.0),
        output_rows=float(len(emitted)),
    )
    result["layers"] = layer
    return result
