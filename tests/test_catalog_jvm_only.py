"""LakeTable's JVM paths start no Python worker.

A frame built from a driver-side Python list plans as ``Scan
ExistingRDD``; executing it boots ``pyspark.daemon`` plus one worker
per task. The merge-on-read read, the copy-on-write and merge-on-read
probes and compaction must run entirely in the JVM: the executed plan
of every SQL execution they start carries none of the Python exec
nodes below. The lint test keeps every ``createDataFrame`` call in
``catalog``/``streaming`` inside the one JVM-local helper
(``table.local_frame``). Pandas-UDF features (``ibucket``, hilbert
rewrites) are out of scope."""

import ast
import os

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog.iceberg_export import read_via_iceberg_metadata
from iceberg_catalog_bench_spark.catalog.table import LakeTable

PYTHON_NODES = ("ExistingRDD", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "iceberg_catalog_bench_spark")


def _executed_plans(spark, action) -> list[str]:
    """The physical plans of every SQL execution ``action`` starts,
    read back from the SQL status store once the listener bus drains."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    marker = max((e.executionId() for e in executions()), default=-1)
    action()
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() > marker]
    assert plans, "the operation started no SQL execution"
    return plans


def _assert_jvm_only(spark, action) -> None:
    for plan in _executed_plans(spark, action):
        hits = [n for n in PYTHON_NODES if n in plan]
        assert not hits, f"Python exec node(s) {hits} in:\n{plan}"


@pytest.fixture()
def mor(spark, tmp_path):
    """Four partition groups, then a position delete and an equality
    delete: every read of the older files applies both kinds."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "id bigint, v double, cat string",
        partition_by=["cat"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    rows = spark.range(200).selectExpr(
        "id", "cast(id * 1.5 as double) v", "concat('c', id % 4) cat")
    t.append(rows)
    t.append(rows.selectExpr("id + 1000 as id", "v", "cat"))
    t.delete_where("id % 10 = 3")
    t.delete_by_keys(spark.range(5).selectExpr("id * 7 as id"), on=["id"])
    return t


def test_mor_scan_and_read_are_jvm_only(spark, mor):
    _assert_jvm_only(spark, lambda: mor.scan("cat = 'c1'").collect())
    _assert_jvm_only(spark, lambda: mor.read().collect())


def test_time_travel_read_is_jvm_only(spark, mor):
    sid = mor._snapshot().snapshot_id  # carries both delete kinds
    mor.append(spark.range(3).selectExpr("id", "1.0 v", "'c9' cat"))
    _assert_jvm_only(spark, lambda: mor.read(snapshot_id=sid).collect())


def test_empty_snapshot_read_is_jvm_only(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "e"), "id bigint, m map<string, string>")
    _assert_jvm_only(spark, lambda: t.read().collect())


def test_cow_probe_is_jvm_only(spark, mor):
    _assert_jvm_only(spark, lambda: mor._affected_files(mor._snapshot(), "id < 50"))
    _assert_jvm_only(spark, lambda: mor.delete_where("id < 50", mode="copy-on-write"))


def test_mor_delete_probe_is_jvm_only(spark, mor):
    _assert_jvm_only(spark, lambda: mor.delete_where("id > 1190"))


def test_rewrite_data_files_is_jvm_only(spark, mor):
    _assert_jvm_only(spark, lambda: mor.rewrite_data_files(min_input_files=1))


def test_compact_delete_files_is_jvm_only(spark, mor):
    _assert_jvm_only(spark, mor.compact_delete_files)


def test_adopted_iceberg_mor_read_is_jvm_only(spark, mor):
    md = mor.to_iceberg_metadata()
    expected = sorted(r["id"] for r in mor.read().collect())
    got = []
    _assert_jvm_only(spark, lambda: got.extend(
        r["id"] for r in read_via_iceberg_metadata(spark, md).collect()))
    assert sorted(got) == expected


def test_create_dataframe_lives_only_in_local_frame():
    """A ``createDataFrame`` over a Python list, comprehension or
    generator plans as a PythonRDD scan; in ``catalog`` and
    ``streaming`` every call goes through ``local_frame`` instead."""
    offenders = []
    for sub in ("catalog", "streaming"):
        for root, _dirs, files in os.walk(os.path.join(PKG, sub)):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(root, fn)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                allowed = {
                    id(n) for f in ast.walk(tree)
                    if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
                    for n in ast.walk(f)
                }
                offenders += [
                    f"{os.path.relpath(path, PKG)}:{n.lineno}"
                    for n in ast.walk(tree)
                    if isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "createDataFrame"
                    and id(n) not in allowed
                ]
    assert not offenders, f"createDataFrame outside local_frame: {offenders}"


def test_local_frame_round_trips_types(spark):
    import datetime
    import decimal

    from iceberg_catalog_bench_spark.catalog.table import local_frame

    rows = [(1, "a", {"k": "v"}, (2, ["x"]), datetime.datetime(2024, 1, 1, 12),
             decimal.Decimal("1.50")),
            (None, None, None, None, None, None)]
    df = local_frame(spark, rows, "i bigint, s string, m map<string, string>, "
                                  "st struct<a: int, b: array<string>>, "
                                  "ts timestamp, d decimal(10, 2)")
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    got = df.orderBy(F.col("i").asc_nulls_last()).collect()
    assert got[0]["m"] == {"k": "v"} and got[0]["st"]["b"] == ["x"]
    assert got[0]["ts"] == datetime.datetime(2024, 1, 1, 12)
    assert got[0]["d"] == decimal.Decimal("1.50")
    assert all(v is None for v in got[1])
    with pytest.raises(ValueError):
        local_frame(spark, [(1, "a"), (2,)], "i bigint, s string")
    with pytest.raises(ValueError):
        local_frame(spark, [(1,)], "i bigint, s string")
