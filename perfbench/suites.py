"""The two registry workloads: each operation is one registered query,
called through ``registry.QUERIES[name](spark, sf_dir)``, planned with
``executedPlan()`` and collected with ``toPandas()``. The frames of the
first timed pass are kept for the oracle gate.

- ``query_suite``: the 50 oracle-backed members of ``bench.py``'s
  ``TPCH_22`` and ``TPCDS_28`` over a generated star schema. The seed
  permutes their order. ``operators``, Catalyst, py4j and the shuffle
  carry the load; ``catalog`` does nothing.
- ``curation``: the registered curation operators over a seeded corpus
  that spans ``nproc`` input partitions. The Python/Arrow boundary
  carries most of the load.
"""

from __future__ import annotations

import ast
import os
import random
import time

import datasets
from gates import check_frame, duck_views

# generated star schema: lineitem holds 6M * SF rows. Per-query cost at
# this size is mostly driver-side build and planning plus job launch,
# which is the layer split this workload exists to show.
STAR_SF = 0.01
STAR_SEED = 42
N_DOCS, N_VEC = 1000, 500
CURATION = ("pipeline_curate_full", "dedup_minhash_lsh", "dedup_substring_spans",
            "text_quality_pandas_udf", "dedup_semantic_clusters")


def bench_suite_members(bench_py: str) -> list[str]:
    """``TPCH_22`` + ``TPCDS_28`` as ``bench.py`` defines them, so the
    member lists exist once."""
    with open(bench_py) as f:
        tree = ast.parse(f.read())
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id in ("TPCH_22", "TPCDS_28")):
            found[node.targets[0].id] = ast.literal_eval(node.value)
    return found["TPCH_22"] + found["TPCDS_28"]


def hot_shingles(con) -> int:
    """Shingles frequent enough for the dedup operators' boilerplate cap."""
    from iceberg_catalog_bench_spark.operators import dedup

    return con.execute(
        f"WITH sh0 AS (SELECT doc_id, unnest({dedup._ORACLE_SHINGLES}) AS shingle "
        "FROM documents) SELECT COUNT(*) FROM (SELECT shingle FROM sh0 GROUP BY shingle "
        f"HAVING COUNT(*) > greatest({dedup._STOP_SHINGLE_MIN}, "
        f"{dedup._STOP_SHINGLE_FRAC} * (SELECT COUNT(*) FROM documents)))").fetchone()[0]


def oracle_sql(name: str, con) -> str:
    """The registered oracle of ``name``, except for ``dedup_minhash_lsh``:
    its all-pairs SQL is quadratic in DuckDB (about 20 s at 1,000 docs),
    so the gate uses the shingle-join form of the same 0.8 threshold,
    which returns the same pairs whenever no shingle is capped."""
    from iceberg_catalog_bench_spark.operators import dedup, registry

    if name == "dedup_minhash_lsh" and hot_shingles(con) == 0:
        return dedup._oracle_jaccard_capped(0.8)
    return registry.ORACLES[name]


class RegistryWorkload:
    names: list[str]
    rows_in: dict[str, int]

    def __init__(self, seed: int, nproc: int, root: str):
        self.seed, self.nproc = seed, nproc
        self.results: dict[str, tuple] = {}

    def warm_up(self, ctx) -> None:
        for name in self.names:
            self._query(ctx, -1, name)

    def run(self, ctx, seconds: float) -> None:
        """``units(seconds, pass_s)`` whole passes over ``names``."""
        from harness import units

        for p in range(units(seconds, self.pass_s)):
            for name in self.names:
                ctx.op(self.op_class, name,
                       lambda op_id, n=name, keep=p == 0: self._query(ctx, op_id, n, keep),
                       rows_in=self.rows_in.get(name, 0))

    def _query(self, ctx, op_id: int, name: str, keep: bool = False) -> None:
        from iceberg_catalog_bench_spark.operators import registry

        tr = ctx.tracer
        with tr.span("operators.build"):
            df = registry.QUERIES[name](ctx.spark, self.sf_dir)
        with tr.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("spark.action"):
            frame = df.toPandas()
        if keep:
            self.results[name] = (df.schema, frame)
        if ctx.traced and op_id >= 0:
            ctx.note(op_id, **ctx.probe.plan_metrics(df))

    def gate(self, spark) -> list[str]:
        from iceberg_catalog_bench_spark.sources import TABLES

        con = duck_views(self.sf_dir, TABLES)
        errors = []
        for name in self.names:
            if name not in self.results:
                errors.append(f"{name}: no result from the timed pass")
                continue
            schema, frame = self.results[name]
            errors += [f"{name}: {e}" for e in
                       check_frame(frame, oracle_sql(name, con), con, schema)]
        return errors


class QuerySuite(RegistryWorkload):
    op_class = "query"
    pass_s = 13.0
    rows_in: dict[str, int] = {}

    def __init__(self, seed: int, nproc: int, root: str):
        super().__init__(seed, nproc, root)
        self.names = bench_suite_members(os.path.join(root, "bench.py"))
        random.Random(seed).shuffle(self.names)

    def prepare(self, spark, work: str, rep: int) -> tuple[int, float]:
        t0 = time.perf_counter()
        self.sf_dir = os.path.join(work, f"star{rep}")
        rows = datasets.write_star_schema(self.sf_dir, STAR_SF, STAR_SEED)
        return rows, time.perf_counter() - t0

    def extra_metrics(self, ctx) -> dict[str, float]:
        from harness import geomean

        return {"query_geomean_ms": geomean(ctx.oplog.ok_ms())}


class Curation(RegistryWorkload):
    op_class = "curate"
    pass_s = 9.5
    names = list(CURATION)
    rows_in = {n: (N_VEC if n == "dedup_semantic_clusters" else N_DOCS) for n in CURATION}

    def prepare(self, spark, work: str, rep: int) -> tuple[int, float]:
        t0 = time.perf_counter()
        self.sf_dir = os.path.join(work, f"corpus{rep}")
        rows = datasets.write_corpus(self.sf_dir, N_DOCS, N_VEC, self.seed, self.nproc)
        return rows, time.perf_counter() - t0

    def extra_metrics(self, ctx) -> dict[str, float]:
        ok = [o for o in ctx.oplog.ops if o.ok]
        busy = sum(o.end - o.start for o in ok)
        return {"docs_per_s": sum(o.rows_in for o in ok) / busy}
