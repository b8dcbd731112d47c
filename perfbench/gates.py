"""Correctness gates. They run after the timed section, outside every
timer, and a mismatch fails the run.

- ``check_frame``: the registry oracle check of ``engine/oracle.compare``
  (column set, row count, engine type kinds, order-insensitive exact
  values), applied to the frame the timed section produced, so the gate
  verifies what was timed;
- ``table_digest`` / ``compare_digests``: row count plus an
  order-insensitive hash, for the lake table against its replay.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def duck_views(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table under ``sf_dir``; a
    table is a parquet file or a directory of them."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_frame(frame: pd.DataFrame, oracle_sql: str,
                con: duckdb.DuckDBPyConnection, spark_schema=None) -> list[str]:
    """Mismatches between a query's result and its DuckDB oracle.
    ``spark_schema`` (the result's Spark schema) turns on the type-kind
    check."""
    from iceberg_catalog_bench_spark.engine import oracle

    odf = con.execute(oracle_sql).fetchdf()
    sdf = frame.copy()
    if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        return [f"rowcount differs: spark={len(sdf)} oracle={len(odf)}"]
    sdf.columns = [c.lower() for c in sdf.columns]
    odf.columns = [c.lower() for c in odf.columns]
    if spark_schema is not None:
        errors = oracle._type_kind_errors(
            spark_schema, con.execute(oracle_sql).fetch_arrow_table().schema)
        if errors:
            return errors
    a, b = oracle._normalize(sdf), oracle._normalize(odf)
    errors = []
    for i in range(len(a)):
        for c in a.columns:
            if not oracle._values_equal(a.at[i, c], b.at[i, c]):
                errors.append(f"row {i} col {c}: spark={a.at[i, c]!r} oracle={b.at[i, c]!r}")
                if len(errors) > 5:
                    return errors
    return errors


def table_digest(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive hash): the sum mod 2**64 of per-row
    hashes over the columns in name order."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype="uint64")
    return len(df), int(h.sum(dtype="uint64"))


def compare_digests(label: str, actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    a, e = table_digest(actual), table_digest(expected)
    if a == e:
        return []
    return [f"{label}: table has {a[0]} rows hash {a[1]:#x}, "
            f"replay has {e[0]} rows hash {e[1]:#x}"]
