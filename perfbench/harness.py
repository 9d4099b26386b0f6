"""Pieces shared by every workload: the Spark session, per-job-group stage
counters read from Spark's status store, the layer probes that wrap engine
entry points in the traced run, and the order-insensitive result hash."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import statistics
import subprocess
import sys
import time
from collections.abc import Callable, Iterable

#: Spark parallelism used by every workload. The machine the benchmark was
#: sized on has 4 cores; one is left to the benchmark's own threads.
CORES = 2
SHUFFLE_PARTITIONS = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(values: Iterable[float]) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of ``values``."""
    if not values:
        return 0.0
    vals = sorted(values)
    pos = q * (len(vals) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def build_session(work_dir: str):
    """A local session whose scratch files all stay under ``work_dir``."""
    from pyspark.sql import SparkSession

    from join_example_spark.conf import ensure_session_confs

    jtmp = os.path.join(work_dir, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    java_opts = (
        f"-Djava.io.tmpdir={jtmp} "
        f"-Dderby.system.home={os.path.join(work_dir, 'derby')} "
        "-XX:-UsePerfData"
    )
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", java_opts)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_session_confs(spark)


def shutdown_jvm() -> None:
    """Stop the active session, if any, and wait for the Spark JVM to exit.

    ``SparkSession.stop`` leaves the gateway JVM running until the Python
    process exits; the benchmark ends it explicitly so no process it started
    outlives it.
    """
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# Stage counters from Spark's status store
# --------------------------------------------------------------------------

STAGE_FIELDS = (
    "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms",
    "input_bytes", "input_rows", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes",
)


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs and completed-stage counters of every job tagged ``group``.

    Waits for the listener bus to drain first, so the status store has seen
    every job and stage end of the actions that just returned. Skipped
    stages (shuffle output reused) are not counted.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = float(len(job_ids))
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted or never submitted
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["executor_run_ms"] += sd.executorRunTime()
        out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        out["jvm_gc_ms"] += sd.jvmGcTime()
        out["input_bytes"] += sd.inputBytes()
        out["input_rows"] += sd.inputRecords()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


# --------------------------------------------------------------------------
# Layer probes: benchmark-side wrappers on engine entry points
# --------------------------------------------------------------------------

#: layer -> (module, function names). Calls are counted at the outermost
#: level per layer, so ``read_table("events")`` -> ``read_events`` is one
#: read and a loop that calls another loop is one loop call.
PROBED: dict[str, tuple[str, tuple[str, ...]]] = {
    "graph_loop": (
        "join_example_spark.operators.graph",
        ("connected_components", "connected_components_star", "bfs_distances",
         "label_propagation_fixed", "kcore_peel", "pagerank_fixed"),
    ),
    "read": (
        "join_example_spark.sources.readers",
        ("read_table", "read_events"),
    ),
}


#: The converging loops and the DataFrame action each takes once per round
#: to test for its fixpoint; counting that action inside the loop counts its
#: rounds. The fixed-round loops plan their rounds lazily and take none.
ROUND_WITNESS = {"connected_components": "count", "connected_components_star": "first"}


class LayerProbes:
    """Counting/timing wrappers around the functions in :data:`PROBED`.

    :meth:`install` replaces each function in its defining module and in
    every loaded ``join_example_spark`` module that already bound it by
    name, so it must run before the query modules are imported for their
    ``from ... import`` bindings to pick up the wrapper. It also wraps the
    DataFrame actions in :data:`ROUND_WITNESS` to count the rounds of each
    converging-loop call. :meth:`restore` puts every original back,
    wherever a wrapper was bound since.
    """

    def __init__(self) -> None:
        self.calls = {layer: 0 for layer in PROBED}
        self.seconds = {layer: 0.0 for layer in PROBED}
        self.enabled = False
        #: Rounds of every converging-loop call, in call order.
        self.loop_rounds: list[int] = []
        self._witness: str | None = None
        self._depth = {layer: 0 for layer in PROBED}
        self._swaps: dict[int, tuple[Callable, Callable]] = {}
        self._actions: dict[str, Callable] = {}

    def _wrap(self, layer: str, fn: Callable) -> Callable:
        witness = ROUND_WITNESS.get(fn.__name__) if layer == "graph_loop" else None

        def wrapper(*args, **kwargs):
            if not self.enabled or self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            if witness:
                self._witness = witness
                self.loop_rounds.append(0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self.calls[layer] += 1
                self._depth[layer] -= 1
                self._witness = None

        wrapper.__name__ = fn.__name__
        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_action(self, action: str, fn: Callable) -> Callable:
        def wrapper(df, *args, **kwargs):
            if self._witness == action:
                self.loop_rounds[-1] += 1
            return fn(df, *args, **kwargs)

        wrapper.__name__ = fn.__name__
        return wrapper

    def _rebind(self, mapping: dict[int, Callable]) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("join_example_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in mapping:
                    setattr(mod, attr, mapping[id(value)])

    def install(self) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame

        for layer, (mod_name, fn_names) in PROBED.items():
            mod = importlib.import_module(mod_name)
            for fn_name in fn_names:
                original = getattr(mod, fn_name)
                self._swaps[id(original)] = (original, self._wrap(layer, original))
        self._rebind({k: wrapped for k, (_, wrapped) in self._swaps.items()})
        for action in set(ROUND_WITNESS.values()):
            self._actions[action] = getattr(DataFrame, action)
            setattr(DataFrame, action, self._wrap_action(action, self._actions[action]))

    def restore(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        self._rebind({id(wrapped): orig for orig, wrapped in self._swaps.values()})
        self._swaps.clear()
        for action, original in self._actions.items():
            setattr(DataFrame, action, original)
        self._actions.clear()

    def snapshot(self) -> dict[str, float]:
        return {
            "graph_loop_calls": float(self.calls["graph_loop"]),
            "graph_loop_rounds": float(sum(self.loop_rounds)),
            "graph_loop_s": self.seconds["graph_loop"],
            "read_calls": float(self.calls["read"]),
            "read_s": self.seconds["read"],
        }


# --------------------------------------------------------------------------
# Order-insensitive result hash
# --------------------------------------------------------------------------

def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def result_hash(columns: list[str], rows: Iterable[tuple]) -> tuple[int, str]:
    """(row count, digest) of a result, independent of row and column order.

    Columns are put in name order and every cell is rendered canonically,
    so a Spark result and a DuckDB result of the same values hash alike.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc, n = 0, 0
    for row in rows:
        key = "\x1f".join(_cell(row[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")) % (1 << 64)
        n += 1
    head = ",".join(sorted(columns))
    return n, f"{head}|{n}|{acc:016x}"
