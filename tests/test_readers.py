"""Fixture reads: per-file parquet schema reuse and read routing.

``readers._read_parquet`` infers a local file's schema once and passes it
back on later reads, so a repeated ``read_table`` fires no Spark job. These
pins check that the reuse is invisible (same schema, same rows), that a
rewritten file infers again, that a missing path fails exactly as a plain
read does, and that queries and operators read tables only via readers.
"""

from __future__ import annotations

import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from join_example_spark.sources import readers
from tests.conftest import SF_SMOKE

ROOT = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("table", readers.TABLES)
def test_second_read_fires_no_job(spark, table):
    first = readers.read_table(spark, SF_SMOKE, table)
    sc = spark.sparkContext
    group = f"second_read_{table}"
    sc.setJobGroup(group, group)
    try:
        second = readers.read_table(spark, SF_SMOKE, table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert second.schema == first.schema
    assert sorted(map(repr, second.collect())) == sorted(map(repr, first.collect()))


def test_rewritten_file_infers_again(spark, tmp_path):
    """events.ts drifted between fixture generations; a file rewritten at
    the same path with the other encoding must not reuse the old schema."""
    path = tmp_path / "events.parquet"
    us = [1_704_164_645_678_901, 1_704_164_645_678_902]
    pq.write_table(pa.table({"ts": pa.array([v * 1000 for v in us], pa.timestamp("ns"))}), path)
    assert dict(readers._read_parquet(spark, str(path)).dtypes)["ts"] == "bigint"
    before = [r.ts for r in readers.read_events(spark, str(tmp_path)).collect()]

    pq.write_table(pa.table({"ts": pa.array(us + [us[0]], pa.timestamp("us"))}), path)
    assert dict(readers._read_parquet(spark, str(path)).dtypes)["ts"] == "timestamp_ntz"
    after = [r.ts for r in readers.read_events(spark, str(tmp_path)).collect()]
    assert sorted(after) == sorted(before + before[:1])


def test_missing_path_error_unchanged(spark, tmp_path):
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(str(tmp_path / "lineitem.parquet"))
    with pytest.raises(AnalysisException) as got:
        readers.read_table(spark, str(tmp_path), "lineitem")
    assert got.value.getCondition() == want.value.getCondition() == "PATH_NOT_FOUND"
    assert str(got.value) == str(want.value)


#: A batch parquet read: ``.read`` then any chained options, then ``.parquet(``.
_DIRECT_READ = re.compile(r"\.read\s*(?:\.\s*\w+\([^()]*\)\s*)*\.\s*parquet\(")


def test_queries_and_operators_read_through_readers():
    hits = []
    for top in ("queries", "operators"):
        for path in sorted((ROOT / "join_example_spark" / top).rglob("*.py")):
            text = path.read_text()
            for m in _DIRECT_READ.finditer(text):
                lineno = text.count("\n", 0, m.start()) + 1
                hits.append(f"{path.relative_to(ROOT)}:{lineno}")
    assert not hits, f"read fixture tables via sources.readers, not .read.parquet: {hits}"
