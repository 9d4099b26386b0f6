"""Spark's compiled-class cache holds the engine's working set.

``conf.ensure_session_confs`` sizes ``spark.sql.codegen.cache.maxEntries``
(a static conf, default 100) before the JVM compiles its first generated
class. With the default, the declared queries' classes evict each other and
every execution compiles them again. These pins run queries twice and count
compiles with ``CodegenMetrics``: the second run compiles no class that the
first run compiled.

Under AQE a loop query can plan a stage differently from one execution to
the next (a codegen stage numbered in stage-completion order, a broadcast
side picked from runtime sizes), and such a plan is a new class. So the pin
is "each compile of the second run added a cache entry" (nothing evicted,
nothing compiled twice) rather than a bare count of zero.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import textwrap

from join_example_spark.conf import CODEGEN_CACHE_ENTRIES, CODEGEN_CACHE_KEY, codegen_compiles
from join_example_spark.registry import load_all
from tests.conftest import SF_SMOKE

ROOT = pathlib.Path(__file__).resolve().parent.parent

#: Both connected-components loops, BFS, a TPC-H join and the salted join:
#: about 230 compiles on a cold JVM, more than twice the default cache.
QUERIES = ("q_llm_cluster_quality", "q_llm_cluster_dbscan", "q_graph_bfs", "q_tpch_q3", "q_join_salted")


def _cache_entries(spark) -> int:
    """Entries in ``CodeGenerator``'s compiled-class cache (a private field)."""
    gw = spark.sparkContext._gateway
    jvm = gw.jvm
    cls = jvm.java.lang.Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    getter = cls.getDeclaredMethod("cache", gw.new_array(jvm.java.lang.Class, 0))
    getter.setAccessible(True)
    return int(getter.invoke(cls.getField("MODULE$").get(None), gw.new_array(jvm.java.lang.Object, 0)).size())


def _run(spark, names) -> tuple[int, int]:
    """Run each query into the noop sink; return (compiles, new cache entries)."""
    c0, e0 = codegen_compiles(spark), _cache_entries(spark)
    registry = load_all()
    for name in names:
        registry[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    return codegen_compiles(spark) - c0, _cache_entries(spark) - e0


def test_second_run_recompiles_nothing(spark):
    assert spark.conf.get(CODEGEN_CACHE_KEY) == str(CODEGEN_CACHE_ENTRIES)
    _run(spark, QUERIES)
    compiles, added = _run(spark, QUERIES)
    assert _cache_entries(spark) < CODEGEN_CACHE_ENTRIES, "cache full: evictions are expected"
    assert compiles == added, f"{compiles - added} of {compiles} compiles re-built an evicted class"


_HARNESS_STYLE = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, ".")
    from pyspark.sql import SparkSession
    from join_example_spark.conf import CODEGEN_CACHE_KEY, ensure_session_confs
    from tests.test_codegen_cache import _run

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ensure_session_confs(spark)
    first = _run(spark, ["q_llm_cluster_dbscan"])
    second = _run(spark, ["q_llm_cluster_dbscan"])
    # Too late for a second session: this JVM has compiled generated code.
    late = ensure_session_confs(spark.newSession()).conf.get(CODEGEN_CACHE_KEY)
    print(json.dumps({"size": spark.conf.get(CODEGEN_CACHE_KEY), "first": first, "second": second, "late": late}))
    spark.stop()
    """
)


def test_harness_style_session_recompiles_nothing(tmp_path):
    """A plain builder session, then ``ensure_session_confs``, in a new JVM
    (the benchmark harness and the driver's entry session build theirs so).
    One execution of the star-CC query compiles more classes than the
    default cache holds."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _HARNESS_STYLE],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["size"] == str(CODEGEN_CACHE_ENTRIES)
    assert got["first"][0] > 100, got
    compiles, added = got["second"]
    assert compiles == added, got
    assert got["late"] == "100", got
