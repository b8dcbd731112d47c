"""``lake_mixed``: the paper's write / read / maintenance set as one
growing LakeTable history, driven by a seeded CDC-style operation stream.

The table is ``days(ts), bucket(4, user_id)`` seeded from
``generate_tx_events`` with two days of rows (8 partitions). The timed
loop repeats ``CYCLE``, then runs ``CLOSING``: a table-wide
``rewrite_data_files`` that rewrites every partition group, one Spark
job per group, plus expiry and manifest rewrite. Two days and four
buckets keep that table-wide pass, and the whole run, short enough for
the benchmark's time budget while the per-group cost stays visible.

The operation stream is generated without Spark, so the correctness
gate replays it in DuckDB from the same base rows and compares the
final table and a tagged mid-run snapshot by row count and an
order-insensitive hash.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

from gates import compare_digests

SCHEMA = "user_id bigint, ts timestamp, amount double, city string, category string"
SPEC = ["days(ts)", "bucket(4, user_id)"]
DAY_S = 86_400
BASE_ROWS = 2 * DAY_S  # generate_tx_events places row i at second i
EPOCH = np.datetime64("2025-01-01T00:00:00", "us")
CITIES = ["Paris", "Seoul", "Tokyo", "Lyon", "Lille", "Marseille", "Nantes", "Bordeaux"]
CATEGORIES = ["A", "B", "C", "D", "E"]
RECENT_DAY = 1
APPEND_ROWS, UPSERT_ROWS, OVERWRITE_ROWS, IN_LIST = 4000, 1000, 4000, 8
RETAIN_LAST = 3

# The shape of each step is fixed; the seed picks keys, rows and values.
CYCLE = (
    "append", "window_1d", "point", "delete_mor", "in_list", "upsert", "delete_cow",
    "time_travel", "percentile", "overwrite_day", "drain", "rewrite_hot", "expire",
    "rewrite_manifests",
)
CLOSING = ("rewrite_all", "expire", "rewrite_manifests")
CLASS = {
    "append": "write", "delete_mor": "write", "delete_cow": "write",
    "upsert": "write", "overwrite_day": "write",
    "window_1d": "read", "point": "read", "in_list": "read",
    "time_travel": "read", "percentile": "read",
    "drain": "drain",
    "rewrite_hot": "maint", "rewrite_all": "maint", "expire": "maint",
    "rewrite_manifests": "maint",
}
CYCLE_S = 30.0  # one cycle on the 4-vCPU host
TAG_AFTER = CYCLE.index("delete_cow")  # the mid-run snapshot the gate time-travels to
MID_TAG = "perfbench-mid"


def day_str(day: int) -> str:
    return str(np.datetime64("2025-01-01", "D") + day)


def batch_frame(ids: list[int], day: int, seed: int) -> pd.DataFrame:
    """The rows of one write batch, a pure function of its log entry."""
    rng = np.random.default_rng(seed)
    n = len(ids)
    secs = day * DAY_S + rng.integers(0, DAY_S, n)
    return pd.DataFrame({
        "user_id": np.asarray(ids, dtype=np.int64),
        "ts": EPOCH + secs.astype("timedelta64[s]"),
        "amount": rng.random(n) * 1000.0,
        "city": np.array(CITIES)[rng.integers(0, len(CITIES), n)],
        "category": np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), n)],
    })


class OpStream:
    """The seeded operation log. It tracks which keys are live (and on
    which day) so deletes, upserts and lookups target real rows."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.ids = list(range(BASE_ROWS))
        self.pos = {k: k for k in self.ids}
        self.day = {k: k // DAY_S for k in self.ids}
        self.next_id = BASE_ROWS

    def _fresh(self, n: int, day: int) -> list[int]:
        new = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        for k in new:
            self.pos[k] = len(self.ids)
            self.ids.append(k)
            self.day[k] = day
        return new

    def _drop(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.ids.pop()
        if last != k:
            self.ids[i] = last
            self.pos[last] = i
        del self.day[k]

    def _live(self, n: int) -> list[int]:
        return sorted(self.rng.sample(self.ids, n))

    def _seed(self) -> int:
        return self.rng.randrange(2**31)

    def next(self, name: str) -> dict:
        op: dict = {"op": name}
        if name == "append":
            op.update(ids=self._fresh(APPEND_ROWS, RECENT_DAY), day=RECENT_DAY,
                      seed=self._seed())
        elif name in ("delete_mor", "delete_cow"):
            keys = self._live(1 if name == "delete_cow" else IN_LIST // 2)
            for k in keys:
                self._drop(k)
            op["where"] = (f"user_id = {keys[0]}" if len(keys) == 1
                           else f"user_id IN ({', '.join(map(str, keys))})")
        elif name == "upsert":
            keys = self._live(UPSERT_ROWS)
            for k in keys:
                self.day[k] = RECENT_DAY
            op.update(ids=keys, day=RECENT_DAY, seed=self._seed())
        elif name == "overwrite_day":
            for k in [k for k, d in self.day.items() if d == 0]:
                self._drop(k)
            op.update(ids=self._fresh(OVERWRITE_ROWS, 0), day=0, seed=self._seed())
        elif name in ("window_1d", "time_travel"):
            op["where"] = f"ts >= '{day_str(RECENT_DAY)}' AND ts < '{day_str(RECENT_DAY + 1)}'"
        elif name == "point":
            op["where"] = f"user_id = {self._live(1)[0]}"
        elif name == "in_list":
            op["where"] = f"user_id IN ({', '.join(map(str, self._live(IN_LIST)))})"
        return op


def replay(base: pd.DataFrame, log: list[dict]) -> pd.DataFrame:
    """Apply the write operations of ``log`` to ``base`` in DuckDB."""
    con = duckdb.connect()
    con.register("base_rows", base)
    con.execute("CREATE TABLE t AS SELECT * FROM base_rows")
    for op in log:
        name = op["op"]
        if name in ("delete_mor", "delete_cow"):
            con.execute(f"DELETE FROM t WHERE {op['where']}")
        elif name in ("append", "upsert", "overwrite_day"):
            con.register("batch", batch_frame(op["ids"], op["day"], op["seed"]))
            if name == "upsert":
                con.execute("DELETE FROM t WHERE user_id IN (SELECT user_id FROM batch)")
            elif name == "overwrite_day":
                con.execute(f"DELETE FROM t WHERE ts >= TIMESTAMP '{day_str(op['day'])}' "
                            f"AND ts < TIMESTAMP '{day_str(op['day'] + 1)}'")
            con.execute("INSERT INTO t SELECT * FROM batch")
            con.unregister("batch")
    return con.execute("SELECT * FROM t").fetchdf()


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """One dtype per column, whatever engine produced the frame."""
    return pd.DataFrame({
        "user_id": df["user_id"].astype("int64"),
        "ts": pd.to_datetime(df["ts"]).astype("datetime64[us]").astype("int64"),
        "amount": df["amount"].astype("float64"),
        "city": df["city"].astype(str),
        "category": df["category"].astype(str),
    })


@dataclass
class LakeState:
    table: object = None
    head: int | None = None
    prev: int | None = None
    drained_to: int | None = None
    mid: tuple[int, int] | None = None  # (snapshot id, log length)
    log: list[dict] = field(default_factory=list)
    drains: list[tuple[int, int]] = field(default_factory=list)  # (rows seen, rows expected)
    appended_since_drain: int = 0
    maint_s: float = 0.0


class LakeMixed:
    def __init__(self, seed: int):
        self.seed = seed

    # -- setup ----------------------------------------------------------------

    def prepare(self, spark, work: str, rep: int) -> tuple[int, float]:
        """Build the seeded table; return (rows generated, seconds spent
        generating them)."""
        from iceberg_catalog_bench_spark.catalog.table import LakeTable
        from iceberg_catalog_bench_spark.sources.datagen import generate_tx_events
        from iceberg_catalog_bench_spark.streaming.table_source import register_source

        register_source(spark)
        t0 = time.perf_counter()
        self.stream = OpStream(self.seed)
        base = generate_tx_events(spark, BASE_ROWS, seed=self.seed)
        gen_s = time.perf_counter() - t0
        t = LakeTable.create(spark, os.path.join(work, f"table{rep}"), SCHEMA,
                             partition_by=SPEC)
        snap = t.append(base)
        self.st = LakeState(table=t, head=snap.snapshot_id, drained_to=snap.snapshot_id)
        self.work = work
        return BASE_ROWS, gen_s

    def warm_up(self, ctx) -> None:
        """Run each read shape once; reads leave the table unchanged."""
        for name in ("window_1d", "point", "in_list", "percentile", "time_travel"):
            self._read(ctx, -1, self.stream.next(name))
        self.stream = OpStream(self.seed)

    # -- timed loop -------------------------------------------------------------

    def run(self, ctx, seconds: float) -> None:
        """``units(seconds, CYCLE_S)`` whole cycles, then the closing pass."""
        from harness import units

        steps = [*CYCLE * units(seconds, CYCLE_S), *CLOSING]
        for i, name in enumerate(steps):
            self._step(ctx, name, i)

    def _step(self, ctx, name: str, i: int) -> None:
        op = self.stream.next(name)
        cls = CLASS[name]
        rows = len(op.get("ids", ()))
        if cls == "read":
            fn = lambda op_id: self._read(ctx, op_id, op)  # noqa: E731
        elif cls == "write":
            fn = lambda op_id: self._write(ctx, op_id, op)  # noqa: E731
        elif cls == "drain":
            fn = lambda op_id: self._drain(ctx, op_id)  # noqa: E731
        else:
            fn = lambda op_id: self._maint(ctx, op_id, name)  # noqa: E731
        failed_before = ctx.oplog.failed
        ctx.op(cls, name, fn, rows_in=rows)
        if cls == "maint":
            self.st.maint_s += ctx.oplog.ops[-1].end - ctx.oplog.ops[-1].start
        if cls == "write" and ctx.oplog.failed == failed_before:
            self.st.log.append(op)
            if name == "append":
                self.st.appended_since_drain += len(op["ids"])
        if i == TAG_AFTER and self.st.mid is None:
            self.st.table.create_tag(MID_TAG, self.st.head)
            self.st.mid = (self.st.head, len(self.st.log))

    def _read(self, ctx, op_id: int, op: dict) -> None:
        from pyspark.sql import functions as F

        t, tr, name = self.st.table, ctx.tracer, op["op"]
        with tr.span("catalog.scan"):
            if name == "percentile":
                df = t.read()
            elif name == "time_travel":
                df = t.scan(op["where"], snapshot_id=self.st.prev or self.st.head)
            else:
                df = t.scan(op["where"])
        if name == "percentile":
            df = df.groupBy("city").agg(
                F.percentile_approx("amount", [0.5, 0.9], 1000).alias("p"))
        elif name == "window_1d":
            df = df.groupBy("city", "category").agg(
                F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amount"))
        elif name == "time_travel":
            df = df.groupBy().count()
        with tr.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("spark.action"):
            df.collect()
        if ctx.traced and op_id >= 0:
            snap = t._snapshot()
            scanned = ctx.probe.plan_metrics(df).get("files_scanned", 0.0)
            ctx.note(op_id, files_live=len(snap.files), files_scanned=scanned,
                     delete_files_live=len(snap.delete_files))

    def _write(self, ctx, op_id: int, op: dict) -> None:
        t, tr, name, spark = self.st.table, ctx.tracer, op["op"], ctx.spark
        if "ids" in op:
            with tr.span("bench.input"):
                df = spark.createDataFrame(
                    batch_frame(op["ids"], op["day"], op["seed"]), SCHEMA)
        with tr.span("catalog.commit"):
            if name == "append":
                snap = t.append(df)
            elif name == "upsert":
                snap = t.upsert_by_keys(df, on=["user_id"])
            elif name == "overwrite_day":
                snap = t.overwrite_partitions(df)
            else:
                mode = "merge-on-read" if name == "delete_mor" else "copy-on-write"
                snap = t.delete_where(op["where"], mode=mode)
        self.st.prev, self.st.head = self.st.head, snap.snapshot_id
        if ctx.traced:
            ctx.note(op_id, files_added=float(snap.summary.get("added_files", 0)),
                     **self._meta_counts())

    def _meta_counts(self) -> dict[str, float]:
        t = self.st.table
        return {
            "meta_bytes": float(os.path.getsize(os.path.join(t.path, "_meta", "metadata.json"))),
            "snapshots_live": float(len(t._meta["snapshots"])),
        }

    def _drain(self, ctx, op_id: int) -> None:
        t, spark = self.st.table, ctx.spark
        with ctx.tracer.span("streaming.drain"):
            q = (spark.readStream.format("laketable").option("path", t.path)
                 .option("starting-snapshot-id", str(self.st.drained_to))
                 .option("skip-non-appends", "true").load()
                 .writeStream.format("noop").trigger(availableNow=True)
                 .option("checkpointLocation", os.path.join(self.work, f"ck{op_id}"))
                 .start())
            try:
                q.awaitTermination(120)
            finally:
                q.stop()
        progress = q.recentProgress
        rows = sum(p.numInputRows for p in progress)
        self.st.drains.append((rows, self.st.appended_since_drain))
        self.st.appended_since_drain = 0
        self.st.drained_to = self.st.head
        if ctx.traced:
            dur = lambda k: sum(p.durationMs.get(k, 0) for p in progress)  # noqa: E731
            ctx.note(op_id, stream_rows=float(rows), latest_offset_ms=float(dur("latestOffset")),
                     add_batch_ms=float(dur("addBatch")))

    def _maint(self, ctx, op_id: int, name: str) -> None:
        t = self.st.table
        before = {e.path: e.bytes for e in t._snapshot().files} if ctx.traced else {}
        with ctx.tracer.span("catalog.maint"):
            if name == "rewrite_hot":
                out = t.rewrite_data_files(where=f"ts >= '{day_str(RECENT_DAY)}'")
            elif name == "rewrite_all":
                # every group, one-file groups too: one job per partition group
                out = t.rewrite_data_files(min_input_files=1)
            elif name == "expire":
                out = t.expire_snapshots(retain_last=RETAIN_LAST)
            else:
                out = t.rewrite_manifests()
        head = t._meta["current_snapshot_id"]
        if head != self.st.head:
            self.st.prev, self.st.head = self.st.head, head
        # a rewrite is not an append: start the next drain after it
        self.st.drained_to = self.st.head
        if ctx.traced:
            after = {e.path for e in t._snapshot().files}
            gone = [b for p, b in before.items() if p not in after]
            ctx.note(op_id, files_rewritten=float(out.get("rewritten_data_files_count", 0)),
                     bytes_rewritten=float(sum(gone)), **self._meta_counts())

    # -- results ------------------------------------------------------------------

    def space_amp(self) -> float:
        """Bytes under the table root over bytes of the data files the
        current snapshot references."""
        t = self.st.table
        live = sum(e.bytes for e in t._snapshot().files)
        on_disk = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(t.path) for f in fs)
        return on_disk / live

    def extra_metrics(self, ctx) -> dict[str, float]:
        """Class medians only: a run has under 100 reads or writes, so
        ``percentile`` refuses their p90."""
        from harness import percentile

        out = {"maint_s": self.st.maint_s, "space_amp": self.space_amp()}
        for cls in ("read", "write"):
            ms = ctx.oplog.ok_ms(cls)
            out[f"{cls}_p50_ms"] = percentile(ms, 0.5)
            out[f"{cls}_samples"] = len(ms)
        return out

    # -- gate --------------------------------------------------------------------

    def gate(self, spark) -> list[str]:
        from iceberg_catalog_bench_spark.sources.datagen import generate_tx_events

        t = self.st.table
        base = generate_tx_events(spark, BASE_ROWS, seed=self.seed).toPandas()
        errors = compare_digests("final table", canonical(t.read().toPandas()),
                                 canonical(replay(base, self.st.log)))
        sid, n = self.st.mid
        errors += compare_digests(f"snapshot {sid}", canonical(t.read(snapshot_id=sid).toPandas()),
                                  canonical(replay(base, self.st.log[:n])))
        for i, (seen, want) in enumerate(self.st.drains):
            if seen != want:
                errors.append(f"drain {i}: streamed {seen} rows, {want} were appended")
        return errors
