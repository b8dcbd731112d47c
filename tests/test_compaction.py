"""Compaction invariants: ``rewrite_data_files`` and
``rewrite_position_delete_files`` rewrite every chosen partition group
in ONE Spark write job.

Per call: exactly one tagged job writes output; each group becomes one
file carrying the group's original partition dict (also a group written
under a since-dropped spec field); the sort order holds inside every
output file; a group over ``target_file_size_bytes`` splits into
several files; a ``where=``-scoped rewrite leaves other groups alone;
and the table's row multiset is unchanged."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from iceberg_catalog_bench_spark.catalog.table import LakeTable

SCHEMA = "id bigint, v bigint, cat string, grp string"


def _write_jobs(spark, action) -> int:
    """Run ``action`` under a job tag; return how many of its jobs
    wrote output records."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tag = f"compaction-{id(action)}"
    sc.addJobTag(tag)
    try:
        action()
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    writers = 0
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if not job.jobTags().contains(tag):
            continue
        stages = job.stageIds()
        out = 0
        for s in range(stages.size()):
            data = store.stageData(stages.apply(s), False, None, False, None)
            out += sum(data.apply(k).outputRecords() for k in range(data.size()))
        writers += out > 0
    return writers


def _rows(t) -> Counter:
    return Counter(tuple(r) for r in t.read().collect())


def _batch(spark, lo, n, cats, grp="x"):
    return spark.range(lo, lo + n).selectExpr(
        "id", "(id * 7919) % 1000 as v",
        f"element_at(array({', '.join(repr(c) for c in cats)}), "
        f"cast(id % {len(cats)} as int) + 1) as cat",
        f"'{grp}' as grp",
    )


@pytest.fixture()
def table(spark, tmp_path):
    """Eight (cat, grp) groups of two files each, written under the
    spec ``[cat, grp]``; then ``grp`` is dropped from the spec and two
    more groups keyed ``{cat}`` only are written; group ``big`` gets
    six files. Merge-on-read position and equality deletes apply to
    the older files."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, partition_by=["cat", "grp"],
        sort_order=["v"], properties={"write.delete.mode": "merge-on-read"},
    )
    cats = [f"c{i}" for i in range(8)]
    t.append(_batch(spark, 0, 800, cats))
    t.append(_batch(spark, 10_000, 800, cats))
    t.drop_partition_field("grp")
    for i in range(6):
        t.append(_batch(spark, 20_000 + 1000 * i, 100, ["big"], grp="y"))
    t.append(_batch(spark, 30_000, 100, ["c0"], grp="z"))
    t.append(_batch(spark, 31_000, 100, ["c0"], grp="z"))
    t.delete_where("id % 13 = 5")
    t.delete_by_keys(spark.range(40).selectExpr("id * 25 as id"), on=["id"])
    return t


def _groups(files) -> Counter:
    return Counter(tuple(sorted(e.partition.items())) for e in files)


def _assert_sorted(t, files) -> None:
    for e in files:
        v = pq.read_table(os.path.join(t.path, e.path), columns=["v"]).column("v")
        v = v.to_pylist()
        assert v == sorted(v), f"{e.path} is not sorted by v"


def test_rewrite_data_files_one_job_per_call(spark, table):
    t = table
    before_rows = _rows(t)
    before = t._snapshot().files
    assert len(_groups(before)) >= 10
    assert any("_p_identity_grp" not in e.partition for e in before)

    # where=-scoped: only the c3 group is rewritten
    c3 = {e.path for e in before if e.partition.get("_p_identity_cat") == "c3"}
    out = {}
    assert _write_jobs(spark, lambda: out.update(
        t.rewrite_data_files(where="cat = 'c3'"))) == 1
    assert out["rewritten_data_files_count"] == len(c3) == 2
    after = t._snapshot().files
    assert {e.path for e in before} - {e.path for e in after} == c3
    assert _rows(t) == before_rows

    # table-wide: the big group's six files exceed two targets
    big = [e for e in after if e.partition.get("_p_identity_cat") == "big"]
    target = max(e.bytes for e in after) + 1
    assert sum(e.bytes for e in big) // target >= 2
    kept = {e.path for e in after if e.partition.get("_p_identity_cat") == "c3"}
    assert _write_jobs(spark, lambda: out.update(
        t.rewrite_data_files(target_file_size_bytes=target))) == 1
    final = t._snapshot().files
    new = [e for e in final if e.path not in kept]
    groups = _groups(new)
    assert set(groups) == set(_groups(e for e in after if e.path not in kept))
    big_key = tuple(sorted(big[0].partition.items()))
    assert groups[big_key] >= 2
    assert all(n == 1 for k, n in groups.items() if k != big_key)
    # the group written under the dropped spec field keeps its key
    assert any(dict(k).get("_p_identity_grp") == "x" for k in groups)
    assert any("_p_identity_grp" not in dict(k) for k in groups)
    _assert_sorted(t, new)
    assert not t._snapshot().delete_files
    assert _rows(t) == before_rows


def test_rewrite_position_delete_files_one_job_per_call(spark, table):
    t = table
    t.append(_batch(spark, 50_000, 100, ["fresh"], grp="w"))
    before_rows = _rows(t)
    snap = t._snapshot()
    dirty = t._dirty_files(snap)
    clean = {e.path for e in snap.files} - {e.path for e in dirty}
    assert len(_groups(dirty)) >= 8 and clean
    out = {}
    assert _write_jobs(spark, lambda: out.update(
        t.rewrite_position_delete_files())) == 1
    assert out["rewritten_data_files_count"] == len(dirty)
    final = t._snapshot().files
    assert clean <= {e.path for e in final}
    new = [e for e in final if e.path not in clean]
    assert _groups(new) == Counter(set(_groups(dirty)))
    _assert_sorted(t, new)
    assert not t._snapshot().delete_files
    assert _rows(t) == before_rows
