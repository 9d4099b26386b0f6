"""Closed-loop batch workloads over the declared-query registry.

One client runs the workload's query list in a seed-permuted order, one
query at a time. A query is ``spec.fn(spark, data_dir)`` (plan build)
followed by a ``noop`` write (Catalyst, execution and shuffle), the shape
``bench.py`` uses. Set-up ends after one untimed warm pass of that shape at
the benchmark scale. An untimed check pass then collects every result for
the result check. Timed passes follow, whole passes only; their number is
fixed by the measuring time and the workload's nominal pass time, never by
how fast a run happens to go, so every run takes the same samples.
"""

from __future__ import annotations

import json
import random
import time
from dataclasses import dataclass

import datagen
import harness

#: Seed of the generated tables. The run seed permutes the query order only,
#: so every seed times the same inputs.
DATA_SEED = 42
#: Fewest timed passes in a run, so every query gives at least this many
#: samples whatever the measuring time.
MIN_PASSES = 2


@dataclass(frozen=True)
class BatchWorkload:
    sf: float
    queries: tuple[str, ...]
    #: Nominal seconds of one timed pass on a 4-vCPU machine; sets the
    #: number of passes that fill the measuring time.
    pass_s: float
    #: Whether the ``operators.graph`` loop probe must fire (True) or must
    #: stay silent (False) in the traced run.
    graph_loops: bool


WORKLOADS = {
    # Single-plan joins, TPC-H composites, stream-equivalent windows.
    "relational_batch": BatchWorkload(
        sf=0.1,
        queries=(
            "q_tpch_q3", "q_tpch_q5", "q_join_salted", "q_join_asof",
            "q_stream_session", "q_win_topk_per_group",
        ),
        pass_s=5.0,
        graph_loops=False,
    ),
    # Consumers of the operators.graph loops: both converging
    # connected-components loops (min-label and star), whose every round is
    # a driver-synchronized job, and BFS for the fixed-round loops. The
    # PageRank, label-propagation and k-core loops share BFS's shape (eager
    # checkpoints, then rounds planned lazily) and are left out to keep a
    # run short.
    "iterative_build": BatchWorkload(
        sf=0.01,
        queries=("q_llm_cluster_quality", "q_llm_cluster_dbscan", "q_graph_bfs"),
        pass_s=7.0,
        graph_loops=True,
    ),
}

LAYER_KEYS = (
    "build_s", "build_jobs", "build_stages", "plan_s", "exec_s", "exec_jobs",
    *harness.STAGE_FIELDS, "graph_loop_s", "graph_loop_calls",
    "graph_loop_rounds", "read_s", "read_calls",
)


def _run_plain(spark, spec, data_dir: str) -> float:
    t0 = time.perf_counter()
    spec.fn(spark, data_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _run_traced(spark, spec, data_dir: str, tag: str, probes) -> tuple[float, dict]:
    """Run one query with a job group per phase; return (wall, layer dict)."""
    sc = spark.sparkContext
    before = probes.snapshot()
    build_group, exec_group = f"{spec.name}/build/{tag}", f"{spec.name}/exec/{tag}"
    sc.setJobGroup(build_group, build_group)
    t0 = time.perf_counter()
    df = spec.fn(spark, data_dir)
    t1 = time.perf_counter()
    sc.setJobGroup(exec_group, exec_group)
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    sc.setLocalProperty("spark.jobGroup.id", None)
    after = probes.snapshot()

    build = harness.group_counters(spark, build_group)
    execd = harness.group_counters(spark, exec_group)
    layer = {k: execd[k] for k in harness.STAGE_FIELDS}
    layer["input_bytes"] += build["input_bytes"]
    layer["input_rows"] += build["input_rows"]
    layer.update(
        build_s=t1 - t0, build_jobs=build["jobs"], build_stages=build["stages"],
        plan_s=t2 - t1, exec_s=t3 - t1, exec_jobs=execd["jobs"],
    )
    for key, value in after.items():
        layer[key] = value - before[key]
    return t3 - t0, layer


def _oracle_hashes(specs, data_dir: str, tables) -> dict[str, tuple[int, str]]:
    """Result hash of every query's DuckDB oracle over the same inputs."""
    import duckdb

    con = duckdb.connect()
    try:
        for table in tables:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data_dir}/{table}.parquet')")
        out = {}
        for spec in specs:
            rel = con.sql(spec.oracle)
            out[spec.name] = harness.result_hash(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def run(name: str, seed: int, seconds: float, trace: bool, work_dir: str) -> dict:
    wl = WORKLOADS[name]
    data_dir = f"{work_dir}/data"
    t0 = time.perf_counter()
    tables = datagen.make_tables(wl.sf, DATA_SEED)
    datagen.write_tables(tables, data_dir)
    t_setup = time.perf_counter()
    harness.log(f"inputs written in {t_setup - t0:.2f}s")

    probes = harness.LayerProbes()
    if trace:
        probes.install()  # before the query modules import
    try:
        from join_example_spark.registry import load_all

        spark = harness.build_session(work_dir)
        registry = load_all()
        specs = [registry[q] for q in wl.queries]
        random.Random(seed).shuffle(specs)
        harness.log(f"session up in {time.perf_counter() - t_setup:.2f}s")

        # Set-up ends with a warm pass in the timed shape. A query that
        # raises here raises again in the check pass and fails its check.
        for spec in specs:
            try:
                _run_plain(spark, spec, data_dir)
            except Exception as exc:  # noqa: BLE001
                harness.log(f"{spec.name} raised in the warm pass: {exc!r}")
        setup_s = time.perf_counter() - t_setup
        harness.log(f"{name}: set-up {setup_s:.2f}s")

        # Check pass, outside set-up and the timed region. It is also each
        # query's second execution, which still runs markedly slower than
        # later ones, so timing starts at the third.
        got: dict[str, tuple[int, str] | None] = {}
        for spec in specs:
            try:
                df = spec.fn(spark, data_dir)
                got[spec.name] = harness.result_hash(df.columns, df.collect())
            except Exception as exc:  # noqa: BLE001 - a failed check
                harness.log(f"{spec.name} raised in the check pass: {exc!r}")
                got[spec.name] = None

        # Timed region: whole passes in the seeded order. The traced run
        # runs each query plain and traced, the order alternating between
        # queries and passes.
        plain = {s.name: [] for s in specs}
        traced = {s.name: [] for s in specs}
        layers = {s.name: [] for s in specs}
        passes = max(MIN_PASSES, round(seconds / wl.pass_s))
        errors = 0
        for n in range(1, passes + 1):
            for i, spec in enumerate(specs):
                try:
                    if not trace:
                        plain[spec.name].append(_run_plain(spark, spec, data_dir))
                        continue
                    plain_first = (n + i) % 2 == 0
                    if plain_first:
                        plain[spec.name].append(_run_plain(spark, spec, data_dir))
                    probes.enabled = True
                    wall, layer = _run_traced(spark, spec, data_dir, str(n), probes)
                    probes.enabled = False
                    traced[spec.name].append(wall)
                    layers[spec.name].append(layer)
                    if not plain_first:
                        plain[spec.name].append(_run_plain(spark, spec, data_dir))
                except Exception as exc:  # noqa: BLE001 - counted as a failure
                    probes.enabled = False
                    harness.log(f"{spec.name} raised: {exc!r}")
                    errors += 1
        spark.stop()
    finally:
        probes.restore()

    want = _oracle_hashes(specs, data_dir, tables)
    bad = [q for q in want if got[q] != want[q]]
    for q in bad:
        harness.log(f"{q}: result {got[q]} != oracle {want[q]}")
    per_run = 2 if trace else 1
    attempted = per_run * passes * len(specs)
    # Every timed run of a query whose result is wrong, plus every raise.
    failed = min(per_run * passes * len(bad) + errors, attempted)
    result = {"attempted": attempted, "failed": failed}
    suite_plain = sum(harness.median(v) for v in plain.values())
    harness.log(f"{name}: {passes} timed passes, suite {suite_plain:.3f}s")
    harness.log("samples " + json.dumps({q: [round(x, 3) for x in v] for q, v in plain.items()}))
    if not trace:
        latencies = [x for v in plain.values() for x in v]
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "suite_s": (suite_plain, "s"),
            "lat_p50_s": (harness.quantile(latencies, 0.5), "s"),
            "lat_p90_s": (harness.quantile(latencies, 0.9), "s"),
        }
        return result

    layer = {key: sum(harness.median(x[key] for x in v) for v in layers.values()) for key in LAYER_KEYS}
    suite_traced = sum(harness.median(v) for v in traced.values())
    # Where the loops must fire, every converging-loop call must also run a
    # round: a loop that returns before its first round measures no
    # per-round jobs.
    loops_fired = layer["graph_loop_calls"] > 0
    no_rounds = wl.graph_loops and min(probes.loop_rounds, default=0) == 0
    if layer["read_calls"] == 0 or loops_fired != wl.graph_loops or no_rounds:
        harness.log(
            f"layer probe check failed: read_calls={layer['read_calls']:.0f} "
            f"graph_loop_calls={layer['graph_loop_calls']:.0f} "
            f"loop rounds per converging call={probes.loop_rounds} (loops expected: {wl.graph_loops})"
        )
        result["failed"] = attempted
    layer["build_share"] = layer["build_s"] / suite_traced
    layer["cpu_busy_share"] = layer["executor_run_ms"] / 1000.0 / (layer["exec_s"] * harness.CORES)
    layer["output_rows"] = float(sum(want[q][0] for q in want))
    layer["trace_overhead_frac"] = suite_traced / suite_plain - 1.0
    result["layers"] = layer
    return result
