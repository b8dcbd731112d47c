"""Tests of the benchmark's own logic; no JVM is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datasets  # noqa: E402
import harness  # noqa: E402
import lake_mixed as lm  # noqa: E402
from gates import check_frame, compare_digests, duck_views  # noqa: E402


def _log(seed: int, cycles: int = 2) -> list[dict]:
    s = lm.OpStream(seed)
    return [s.next(n) for n in lm.CYCLE * cycles + lm.CLOSING]


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            full = os.path.join(d, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


# -- generators -----------------------------------------------------------------

def test_op_log_is_a_function_of_the_seed():
    assert _log(3) == _log(3)
    assert _log(3) != _log(4)


def test_corpus_bytes_are_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        datasets.write_corpus(str(tmp_path / name), 300, 100, seed, parts=3)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))
    assert len(os.listdir(tmp_path / "a" / "documents.parquet")) == 3


def test_star_schema_bytes_are_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        datasets.write_star_schema(str(tmp_path / name), 0.001, seed)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))


# -- statistics and counting ------------------------------------------------------------

def test_p90_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        harness.percentile(list(range(99)), 0.9)
    assert harness.percentile(list(range(100)), 0.9) == 89
    assert harness.percentile([5.0, 1.0, 3.0], 0.5) == 3.0


def test_fail_ratio_counts_raised_operations():
    log = harness.OpLog()

    def op(op_id):
        if op_id % 4 == 3:
            raise RuntimeError("boom")
        return op_id

    results = [log.run("read", "x", op) for _ in range(8)]
    assert (log.attempted, log.failed) == (8, 2)
    assert log.fail_ratio == 0.25
    assert results[3] is None and results[4] == 4
    assert len(log.ok_ms()) == 6


def test_self_time_subtracts_the_union_of_children():
    S = harness.Span
    spans = [
        S("op.read", 0.0, 10.0, None, 0),
        S("catalog.scan", 1.0, 4.0, 0, 0),
        S("spark.plan", 3.0, 6.0, 0, 0),      # overlaps its sibling
        S("spark.action", 8.0, 12.0, 0, 0),   # runs past its parent
        S("inner", 8.5, 9.0, 3, 0),
    ]
    assert harness.self_times(spans) == pytest.approx([3.0, 3.0, 3.0, 3.5, 0.5])


def test_tracer_records_parent_and_operation():
    tr = harness.Tracer(True)
    with tr.span("op.query", 7):
        with tr.span("operators.build"):
            pass
    assert [(s.name, s.parent, s.op_id) for s in tr.spans] == [
        ("op.query", None, 7), ("operators.build", 0, 7)]
    off = harness.Tracer(False)
    with off.span("op.query", 1):
        pass
    assert off.spans == []


def test_work_units_follow_seconds_only():
    assert harness.units(10, 13.0) == 1
    assert harness.units(10, 6.5) == 2
    assert harness.units(1, 6.5) == 1
    assert harness.units(60, 6.5) == 9


def test_cpus_beyond_nproc_are_refused():
    harness.check_cpus({"SPARK_GRAFT_CPUS": "4"}, 4)
    harness.check_cpus({}, 4)
    with pytest.raises(ValueError):
        harness.check_cpus({"SPARK_GRAFT_CPUS": "8"}, 4)


# -- correctness gates fail on one flipped row ----------------------------------------------

def _flip(frame, col):
    flipped = frame.copy()
    v = flipped.at[0, col]
    flipped.at[0, col] = v + 1 if not isinstance(v, str) else v + "x"
    return flipped


def test_lake_gate_fails_on_a_flipped_row():
    base = lm.batch_frame(list(range(lm.BASE_ROWS)), 0, 9)
    log = [op for op in _log(11) if lm.CLASS[op["op"]] == "write"]
    expected = lm.canonical(lm.replay(base, log))
    assert compare_digests("t", expected.sample(frac=1.0, random_state=1), expected) == []
    assert compare_digests("t", _flip(expected, "amount"), expected)
    assert compare_digests("t", expected.iloc[1:], expected)


def test_replay_applies_each_write():
    base = lm.batch_frame(list(range(lm.BASE_ROWS)), 1, 9)  # no row on day 0
    s = lm.OpStream(2)
    ops = [s.next("append"), s.next("delete_cow"), s.next("delete_mor"),
           s.next("upsert"), s.next("overwrite_day")]
    out = lm.replay(base, ops)
    n = lm.BASE_ROWS + lm.APPEND_ROWS - 1 - lm.IN_LIST // 2 + lm.OVERWRITE_ROWS
    assert len(out) == n
    assert out["user_id"].is_unique


def _registry():
    from iceberg_catalog_bench_spark.operators import registry

    registry.load_all()
    return registry


def _gate_flip(sf_dir: str, names: list[str]) -> None:
    from iceberg_catalog_bench_spark.sources import TABLES

    registry = _registry()
    con = duck_views(sf_dir, TABLES)
    for name in names:
        sql = registry.ORACLES[name]
        frame = con.execute(sql).fetchdf()
        assert len(frame) > 0, name
        assert check_frame(frame, sql, con) == [], name
        num = [c for c in frame.columns if frame[c].dtype.kind in "if"]
        assert check_frame(_flip(frame, num[0]), sql, con), name


def test_query_suite_gate_fails_on_a_flipped_row(tmp_path):
    from suites import bench_suite_members

    members = bench_suite_members(os.path.join(ROOT, "bench.py"))
    assert len(members) == 50 and set(members) <= set(_registry().ORACLES)
    datasets.write_star_schema(str(tmp_path), 0.002, 42)
    _gate_flip(str(tmp_path), ["tpch_q6_forecast_revenue", "pricing_summary",
                               "tpcds_channel_union"])


def test_curation_gate_fails_on_a_flipped_row(tmp_path):
    from suites import CURATION

    datasets.write_corpus(str(tmp_path), 400, 200, 3, parts=2)
    _gate_flip(str(tmp_path), list(CURATION))


def test_minhash_gate_oracle_equals_the_registered_one(tmp_path):
    from iceberg_catalog_bench_spark.sources import TABLES
    from suites import hot_shingles, oracle_sql

    datasets.write_corpus(str(tmp_path), 400, 10, 4, parts=1)
    con = duck_views(str(tmp_path), TABLES)
    assert hot_shingles(con) == 0
    name = "dedup_minhash_lsh"
    fast = con.execute(oracle_sql(name, con)).fetchdf()
    assert len(fast) > 0
    assert check_frame(fast, _registry().ORACLES[name], con) == []
