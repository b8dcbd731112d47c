"""LakeTable — a snapshot-versioned parquet table format in pure PySpark.

Reimplements the Iceberg-v2 table semantics the reference exercises
(``ICEBERG-Interoperability-Test-Spec.md:27,50-52,70-85``) without an
Iceberg runtime jar:

- versioned snapshots + time travel by snapshot-id / timestamp
  (reference T1-T6: ``time_travel_validate.sql:6-12``,
  ``bulk_insert_sales_events.sql:14-17``)
- copy-on-write UPDATE / DELETE / MERGE row-level ops
  (reference M3-M5: ``update_sales_events.sql``,
  ``delete_sales_events.sql``, ``merge_sales_events.sql``)
- schema evolution: add / rename / widen / drop with field-id mapping
  (reference D6-D8: ``schema_evolution_sales_events.sql:3-10``)
- partition-transform write clustering + stats-based file pruning
  (reference D3: ``PARTITIONED BY (days(ts), bucket(16, user_id))``,
  ``blob-dfs_bench.py:72``)
- metadata tables ``.snapshots`` / ``.files`` / ``.history``
- maintenance procedures: rewrite_data_files, rewrite_manifests,
  expire_snapshots, remove_orphan_files (reference P1-P4:
  ``blob-dfs_bench.py:140-155``)

Scale design: all row data flows through DataFrames (never the
driver); metadata is driver-side JSON — the same split Iceberg makes
(manifests on the driver, data on executors). File-level pruning
happens before any scan: first min/max stats (driver, no I/O), then
an exact ``_metadata.file_path`` probe (executors, pushdown-filtered)
so copy-on-write rewrites touch only files that actually contain
matching rows.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import urllib.parse
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._fsutil import atomic_write
from .transforms import Transform, parse_spec, transform_expr

_META_DIR = "_meta"
_META_FILE = "metadata.json"
_DATA_DIR = "data"
# Lease timeout for breaking a commit lock whose owner died without
# releasing it (SIGKILL mid-commit). Same-host pid liveness breaks it
# sooner; this bound is the portable fallback.
_LOCK_STALE_SEC = 30.0

# Tombstone sets broadcast only below this on-disk size (snappy parquet
# ≈ 2-4× smaller than in-memory rows, so 64 MB of files is roughly
# 128-256 MB per executor — autoBroadcastJoinThreshold territory). A
# row-count gate alone let multi-hundred-MB (path, pos) sets through.
_BROADCAST_DELETE_BYTES = 64 * 1024 * 1024
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# Position-delete files (Iceberg content=1) have a fixed schema: reading
# them with it skips Spark's schema-inference job on every MoR read.
_POS_DELETE_DDL = "file_path string, pos bigint"


# ---------------------------------------------------------------------------
# Metadata model
# ---------------------------------------------------------------------------


@dataclass
class Field:
    id: int
    name: str
    type: str  # Spark DDL type string, e.g. "bigint", "decimal(18,2)"
    default: Any = None

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type, "default": self.default}

    @staticmethod
    def from_json(d: dict) -> "Field":
        return Field(d["id"], d["name"], d["type"], d.get("default"))


@dataclass
class FileEntry:
    path: str  # relative to table root
    rows: int
    bytes: int
    schema_version: int
    stats: dict[str, list] = field(default_factory=dict)  # col -> [min, max]
    partition: dict[str, str] = field(default_factory=dict)  # transform -> value
    # Iceberg data sequence number: assigned at commit (the committing
    # snapshot's id — monotonic), carried unchanged by later snapshots.
    # Equality deletes apply only to files with a SMALLER sequence.
    seq: int | None = 0

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "rows": self.rows,
            "bytes": self.bytes,
            "schema_version": self.schema_version,
            "stats": self.stats,
            "partition": self.partition,
            "seq": self.seq,
        }

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(
            d["path"], d["rows"], d["bytes"], d["schema_version"],
            d.get("stats", {}), d.get("partition", {}), d.get("seq", 0),
        )


@dataclass
class DeleteFileEntry:
    """A merge-on-read delete file.

    ``content="position"`` (Iceberg v2 content=1): parquet rows of
    ``(file_path, pos)`` tombstoning specific rows of specific data
    files; ``referenced`` lists the table-relative paths the tombstones
    point at, so reads anti-join only those files and commits drop the
    delete file once its targets leave the table.

    ``content="equality"`` (Iceberg v2 content=2): parquet rows of key
    values over ``equality_cols``; a row in any data file whose
    sequence number is SMALLER than ``seq`` and whose key equals a
    delete row is deleted. This is the streaming-CDC shape — a writer
    retracts keys without ever reading the target."""

    path: str  # relative to table root
    rows: int
    bytes: int
    referenced: list[str] = field(default_factory=list)
    content: str = "position"
    equality_cols: list[str] = field(default_factory=list)
    seq: int | None = 0
    # Physical column names inside the delete parquet file, frozen at
    # write time. ``equality_cols`` tracks the CURRENT schema names
    # (rename_column rewrites them — Iceberg's binds-by-field-id
    # semantics); empty means "never renamed", i.e. same as
    # equality_cols.
    file_cols: list[str] = field(default_factory=list)

    @property
    def physical_cols(self) -> list[str]:
        return self.file_cols or self.equality_cols

    def to_json(self) -> dict:
        out = {
            "path": self.path,
            "rows": self.rows,
            "bytes": self.bytes,
            "referenced": self.referenced,
            "content": self.content,
            "equality_cols": self.equality_cols,
            "seq": self.seq,
        }
        if self.file_cols:
            out["file_cols"] = self.file_cols
        return out

    @staticmethod
    def from_json(d: dict) -> "DeleteFileEntry":
        return DeleteFileEntry(
            d["path"], d["rows"], d["bytes"], d.get("referenced", []),
            d.get("content", "position"), d.get("equality_cols", []),
            d.get("seq", 0), d.get("file_cols", []),
        )


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str
    schema_version: int
    files: list[FileEntry]
    summary: dict[str, Any] = field(default_factory=dict)
    delete_files: list[DeleteFileEntry] = field(default_factory=list)

    def to_json(self) -> dict:
        out = {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "schema_version": self.schema_version,
            "files": [f.to_json() for f in self.files],
            "summary": self.summary,
        }
        if self.delete_files:
            out["delete_files"] = [d.to_json() for d in self.delete_files]
        return out

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"],
            d.get("parent_id"),
            d["timestamp_ms"],
            d["operation"],
            d["schema_version"],
            [FileEntry.from_json(f) for f in d["files"]],
            d.get("summary", {}),
            [DeleteFileEntry.from_json(x) for x in d.get("delete_files", [])],
        )


def _decode_path_uri(col):
    """Spark's ``_metadata.file_path`` is a PERCENT-ENCODED URI (a
    table under ``/tmp/odd dir`` reads back as ``/tmp/odd%20dir``) —
    canonicalize to the raw filesystem path so every path match
    (tombstone joins, referenced-file attribution, Python-side
    relpath) happens in ONE domain, and position-delete files record
    the spec's raw location strings a foreign reader expects. Literal
    ``+`` is pre-escaped because ``url_decode`` is FORM decoding
    (``+`` → space) while the URI producer leaves ``+`` unencoded."""
    return F.url_decode(F.regexp_replace(col, r"\+", "%2B"))


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: T.StructType | str) -> DataFrame:
    """Driver-side rows as a DataFrame that runs entirely in the JVM.
    ``createDataFrame(<list>)`` plans as ``Scan ExistingRDD`` over a
    PythonRDD, so executing it boots ``pyspark.daemon`` plus one worker
    per task; an Arrow table plans as ``LocalTableScan`` and starts no
    Python process. The one ``createDataFrame`` call in ``catalog`` and
    ``streaming`` (a lint test keeps it that way)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _parse_type(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema=schema)


def footer_min_max(md) -> dict[str, list]:
    """Per-column ``[min, max]`` from a parquet FileMetaData's
    row-group statistics, json-safe — the one source of truth for
    file-entry stats (shared by the JVM-write path's footer_entry and
    the Python writers in streaming/table_source.py). Columns whose
    physical type exposes no stats (e.g. INT96) are omitted."""
    stats: dict[str, list] = {}
    for ci in range(md.num_columns):
        col = md.schema.column(ci)
        # nested columns flatten to LEAF parquet columns. STRUCT
        # leaves are row-level values — their stats record under the
        # dotted path ("meta.n") so struct-field predicates prune
        # natively and export as Iceberg leaf-field bounds. List/map
        # leaves (paths containing the ".list."/".key_value."
        # repetition groups) aggregate over ELEMENTS, which the
        # row-predicate grammar cannot express — skip them; and never
        # attribute a leaf's stats to a same-named top-level field
        # (the bare-leaf-name bug this guard originally fixed).
        if ".list." in col.path or ".key_value." in col.path:
            continue
        name = col.path if "." in col.path else col.name
        lo = hi = None
        try:
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        except Exception:
            lo = hi = None
        if lo is not None:
            stats[name] = [_json_safe(lo), _json_safe(hi)]
    return stats


def _json_safe(v: Any) -> Any:
    """Make a parquet-footer stat value JSON-serializable but comparable.

    Timestamps serialize with a SPACE separator ('2024-01-05 12:00:00')
    — the form SQL literals use — so string comparison against predicate
    literals orders correctly. The ISO default 'T' separator sorts AFTER
    ' ', which made same-day range predicates wrongly prune files (a
    file containing the exact matching row looked out-of-range)."""
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        # tz-aware (parquet isAdjustedToUTC) → naive UTC, so the string
        # carries no '+00:00' suffix that would break ordering against
        # a plain literal
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        return None
    return v


_ISO_TS = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}")
_ISO_PREFIX = re.compile(r"^\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}:\d{2})?")


def _calendar_floor(transform: str, val: Any) -> str | None:
    """Floor an ISO-shaped predicate literal to a calendar transform's
    partition-value SPELLING — pure string arithmetic, so equality and
    range pruning on days/hours/months/years partitions never run a
    Spark job. None when the transform is not calendar or the literal
    is not ISO-shaped (callers fall back to the Spark-eval path)."""
    if transform not in ("days", "hours", "months", "years"):
        return None
    s = str(val)
    if not _ISO_PREFIX.match(s):
        return None
    if len(s) == 10:  # bare date literal
        s = s + " 00:00:00"
    s = s.replace("T", " ", 1)
    if transform == "days":
        return s[:10]
    if transform == "hours":
        return s[:13] + ":00:00"
    if transform == "months":
        return s[:7] + "-01 00:00:00"
    return s[:4] + "-01-01 00:00:00"


def _map_free(dt: T.DataType) -> bool:
    """True when no MapType appears anywhere in the type tree."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.StructType):
        return all(_map_free(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _map_free(dt.elementType)
    return True


def _maps_to_entries(col, dt: T.DataType):
    """Lossless rewrite of every MapType inside ``dt`` (any nesting) to
    a key-sorted ``array<struct<key,value>>`` — Spark rejects map
    columns in set operations (exceptAll), but arrays and structs
    compare fine, and sorting entries by the (unique) key makes the
    rendering canonical: two logically equal maps always convert to
    the same array, two distinct maps never collide. Inverted exactly
    by :func:`_entries_to_maps` (ADVICE r14: the changelog fallback
    must accept the map types the streaming netting refuses)."""
    if isinstance(dt, T.MapType):
        entries = F.map_entries(col)
        if not (_map_free(dt.keyType) and _map_free(dt.valueType)):
            entries = F.transform(entries, lambda e: F.struct(
                _maps_to_entries(e["key"], dt.keyType).alias("key"),
                _maps_to_entries(e["value"], dt.valueType).alias("value"),
            ))
        return F.array_sort(entries)
    if isinstance(dt, T.ArrayType):
        if _map_free(dt.elementType):
            return col
        return F.when(col.isNotNull(), F.transform(
            col, lambda e: _maps_to_entries(e, dt.elementType)))
    if isinstance(dt, T.StructType):
        if _map_free(dt):
            return col
        rebuilt = F.struct(*[
            _maps_to_entries(col[f.name], f.dataType).alias(f.name)
            for f in dt.fields
        ])
        # rebuilding from fields would turn a NULL struct into a
        # struct of NULLs — guard to keep them distinct under exceptAll
        return F.when(col.isNotNull(), rebuilt)
    return col


def _entries_to_maps(col, dt: T.DataType):
    """Inverse of :func:`_maps_to_entries`: ``dt`` is the ORIGINAL
    (map-bearing) type; ``col`` holds its entry-array encoding."""
    if isinstance(dt, T.MapType):
        entries = col
        if not (_map_free(dt.keyType) and _map_free(dt.valueType)):
            entries = F.transform(entries, lambda e: F.struct(
                _entries_to_maps(e["key"], dt.keyType).alias("key"),
                _entries_to_maps(e["value"], dt.valueType).alias("value"),
            ))
        return F.map_from_entries(entries)
    if isinstance(dt, T.ArrayType):
        if _map_free(dt.elementType):
            return col
        return F.when(col.isNotNull(), F.transform(
            col, lambda e: _entries_to_maps(e, dt.elementType)))
    if isinstance(dt, T.StructType):
        if _map_free(dt):
            return col
        rebuilt = F.struct(*[
            _entries_to_maps(col[f.name], f.dataType).alias(f.name)
            for f in dt.fields
        ])
        return F.when(col.isNotNull(), rebuilt)
    return col


def _align_read_col(col, inferred: T.DataType | None, target: str):
    """Align one raw-read column onto its declared type string.

    Plain CAST everywhere except the one inference-unsafe case:
    parquet cannot self-describe DAY-TO-SECOND intervals (both Spark
    and the python sink store plain INT64 micros, Spark-written files
    only recover the type from their footer metadata), so a
    python-sink-written interval column infers as BIGINT — and
    CAST(bigint AS interval) reinterprets stored MICROS as SECONDS
    (r15, caught by the interval sink-pipe e2e). Reinterpret micros
    exactly instead: make_dt_interval over an exact decimal seconds
    value. Every other inferred/declared pair keeps the CAST — adopted
    FOREIGN files rely on it (decimal rescale, numeric widenings)."""
    if (isinstance(inferred, T.LongType)
            and target.strip().lower().startswith("interval day")):
        secs = (col.cast("decimal(26,0)") / 1000000).cast("decimal(26,6)")
        return F.when(
            col.isNotNull(),
            F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), secs),
        ).cast(target)
    return col.cast(target)


def _norm_stat(v: Any) -> Any:
    """Normalize ISO timestamp strings — 'T' separator, tz offsets —
    to the naive-UTC SQL-literal space form so stats written by older
    metadata (or 'T'-form predicate literals) still compare correctly."""
    import datetime

    if isinstance(v, str) and _ISO_TS.match(v):
        try:
            d = datetime.datetime.fromisoformat(v)
        except ValueError:
            return v
        if d.tzinfo is not None:
            d = d.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return d.isoformat(sep=" ")
    return v


def encode_meta(meta: dict) -> dict:
    """DISK form of table metadata: a snapshot whose parent is retained
    in the same document stores its data-file list as a DELTA —
    ``files_delta: {base, removed: [paths], added: [entries]}`` —
    instead of the full cumulative list, when the delta is smaller.
    Cuts the serialized metadata from O(snapshots × live files) to
    O(live files + total changes): the per-commit metadata write then
    scales with what the commit CHANGED, the property that keeps a
    long-lived 100 TB table's commit latency flat. Fallbacks keep it
    always-correct: root commits, snapshots whose parent was expired,
    and snapshots whose delta would not shrink (e.g. a rollback far
    back) store the full list. Delete-file lists stay full — they are
    bounded by outstanding tombstones, not table size.

    In-memory metadata is ALWAYS the expanded form; this runs only at
    serialization (and :func:`expand_meta` at parse). Invariant it
    relies on: data-file entry dicts are IMMUTABLE once committed
    (expansion shares them across snapshots — every existing mutation
    site touches delete files, schemas or specs, never data entries).
    """
    snaps = meta.get("snapshots") or []
    by_id: dict[int, dict] = {}
    enc: list[dict] = []
    changed = False
    for sj in snaps:
        parent = by_id.get(sj.get("parent_id"))
        by_id[sj["snapshot_id"]] = sj
        if parent is None:
            enc.append(sj)
            continue
        pf = {f["path"]: f for f in parent["files"]}
        cf = sj["files"]
        cpaths = {f["path"] for f in cf}
        removed = [p for p in pf if p not in cpaths]
        added = [
            f for f in cf
            if (pf.get(f["path"]) is not f and pf.get(f["path"]) != f)
        ]
        if len(removed) + len(added) >= len(cf):
            enc.append(sj)
            continue
        e = {k: v for k, v in sj.items() if k != "files"}
        e["files_delta"] = {
            "base": sj["parent_id"], "removed": removed, "added": added,
        }
        enc.append(e)
        changed = True
    if not changed:
        return meta
    out = dict(meta)
    out["snapshots"] = enc
    return out


def expand_meta(meta: dict) -> dict:
    """Inverse of :func:`encode_meta`, applied at parse time: rebuild
    every snapshot's full cumulative file list (parents always precede
    children in the append-ordered snapshot list). Plain pre-delta
    metadata passes through untouched — both forms load."""
    by_id: dict[int, dict] = {}
    for sj in meta.get("snapshots") or []:
        d = sj.pop("files_delta", None)
        if d is not None:
            base = by_id.get(d["base"])
            if base is None:
                raise ValueError(
                    f"metadata corrupt: snapshot {sj['snapshot_id']} "
                    f"delta-encodes against snapshot {d['base']}, which is "
                    f"not retained earlier in the document"
                )
            removed = set(d["removed"])
            sj["files"] = [
                f for f in base["files"] if f["path"] not in removed
            ] + d["added"]
        by_id[sj["snapshot_id"]] = sj
    return meta


class CommitConflict(Exception):
    """Optimistic-concurrency conflict: the table advanced underneath us."""


class CommitLockTimeout(CommitConflict):
    """The commit lock stayed held by a live writer past the wait
    budget. Nothing was published, so it is retryable like any other
    conflict (the append/upsert retry loops catch it as one)."""


# ---------------------------------------------------------------------------
# The table
# ---------------------------------------------------------------------------


class LakeTable:
    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._meta = meta

    # -- lifecycle -----------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType | str,
        partition_by: list[str] | None = None,
        sort_order: list[str] | None = None,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> "LakeTable":
        path = os.path.abspath(path)
        if os.path.exists(os.path.join(path, _META_DIR, _META_FILE)):
            if if_not_exists:
                return cls.load(spark, path)
            raise FileExistsError(f"table already exists at {path}")
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        fields = [
            Field(i + 1, f.name, f.dataType.simpleString()) for i, f in enumerate(schema.fields)
        ]
        spec = [t.to_json() for t in parse_spec(partition_by or [])]
        if (properties or {}).get("write.bucket-transform", "").lower() \
                == "iceberg":
            # property gate: make bucket() mean the Iceberg-spec
            # murmur3 transform for this table, so its exported chains
            # carry partition values a conforming external reader
            # prunes correctly (table spec Appendix B).
            spec = [dict(s, transform="ibucket")
                    if s["transform"] == "bucket" else s for s in spec]
        meta = {
            "format_version": 2,
            "next_field_id": len(fields) + 1,
            "current_schema_version": 0,
            "schemas": {"0": [f.to_json() for f in fields]},
            "partition_spec": spec,
            "sort_order": sort_order or [],
            "properties": properties or {},
            "current_snapshot_id": None,
            "snapshots": [],
        }
        os.makedirs(os.path.join(path, _META_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        t = cls(spark, path, meta)
        t._write_meta()
        return t

    @classmethod
    def snapshot_of(cls, src: "LakeTable", dest_path: str) -> "LakeTable":
        """CALL system.snapshot — a ZERO-COPY clone: a new independent
        table whose first snapshot references the source's CURRENT
        live data files in place (absolute paths, stats carried over),
        with the source's full schema history, partition spec, sort
        order and properties. Writes to either table never affect the
        other; the clone's ``remove_orphan_files`` sweeps only its own
        directory, so shared source files are never collected. This is
        Iceberg's staging/testing on-ramp: fork a 100 TB table for a
        risky migration at metadata cost.

        Refuses when the source has OUTSTANDING delete files: their
        position/equality tombstones bind to the source's layout
        (relative paths, sequence numbers) and would silently apply
        wrong in the clone — compact first (``rewrite_data_files``
        folds tombstones), then snapshot.

        Lifecycle caveat (same as Iceberg's ``snapshot`` procedure):
        the SOURCE does not know about clones — a source-side
        ``expire_snapshots`` + ``remove_orphan_files`` that drops a
        shared file breaks the clone's first snapshot. Treat clones as
        staging tables whose lifetime is shorter than the source's
        retention, or ``rewrite_data_files`` on the clone to take
        ownership of its data."""
        dest_path = os.path.abspath(dest_path)
        if os.path.exists(os.path.join(dest_path, _META_DIR, _META_FILE)):
            raise FileExistsError(f"table already exists at {dest_path}")
        snap = src._snapshot()
        if snap is not None and snap.delete_files:
            raise ValueError(
                "source has outstanding merge-on-read delete files; run "
                "rewrite_data_files first so tombstones fold into data "
                "files, then snapshot"
            )
        meta = {
            "format_version": 2,
            "next_field_id": src._meta.get("next_field_id"),
            "current_schema_version": src._meta["current_schema_version"],
            "schemas": json.loads(json.dumps(src._meta["schemas"])),
            "partition_spec": json.loads(json.dumps(src._meta["partition_spec"])),
            "sort_order": list(src._meta.get("sort_order") or []),
            "properties": dict(src._meta.get("properties") or {}),
            "current_snapshot_id": None,
            "snapshots": [],
        }
        for k in ("spec_history",):
            if k in src._meta:
                meta[k] = json.loads(json.dumps(src._meta[k]))
        os.makedirs(os.path.join(dest_path, _META_DIR), exist_ok=True)
        os.makedirs(os.path.join(dest_path, _DATA_DIR), exist_ok=True)
        t = cls(src.spark, dest_path, meta)
        t._write_meta()
        if snap is None:
            return t
        entries = [
            FileEntry(
                path=os.path.join(src.path, e.path),  # absolute: in place
                rows=e.rows, bytes=e.bytes,
                schema_version=e.schema_version, stats=e.stats,
                partition=e.partition, seq=None,
            )
            for e in snap.files
        ]
        t._commit(
            "import", entries,
            {"snapshot_of": src.path,
             "source_snapshot_id": snap.snapshot_id,
             "imported_files": len(entries),
             "imported_rows": sum(e.rows for e in entries)},
        )
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        path = os.path.abspath(path)
        with open(os.path.join(path, _META_DIR, _META_FILE)) as fh:
            return cls(spark, path, expand_meta(json.load(fh)))

    def drop(self) -> None:
        shutil.rmtree(self.path)

    # -- metadata plumbing ---------------------------------------------------

    def _write_meta(self) -> None:
        """Atomic, durable metadata commit (``atomic_write``: fsynced
        temp + rename + directory fsync), Iceberg-style.

        The DISK form delta-encodes snapshot file lists against their
        parents (see :func:`encode_meta`): in-memory metadata always
        carries every snapshot's FULL cumulative list, but serializing
        that is O(retained snapshots × live files) per commit — the
        quadratic growth Iceberg avoids with shared manifest files,
        re-expressed here as structural sharing inside the one
        metadata document."""
        atomic_write(os.path.join(self.path, _META_DIR, _META_FILE),
                     json.dumps(encode_meta(self._meta), default=_json_safe))

    def _reload(self) -> None:
        with open(os.path.join(self.path, _META_DIR, _META_FILE)) as fh:
            self._meta = expand_meta(json.load(fh))

    @contextmanager
    def _commit_lock(self):
        """O_EXCL filesystem lock serializing metadata writers, with
        stale-lock recovery (reference spec `:107-111`, failure
        injection: a writer killed mid-commit must not wedge the
        table). The owner's pid is recorded in the lock file; a
        contender breaks the lock when that pid is gone (same-host
        check) or the lock is older than ``_LOCK_STALE_SEC`` (the
        lease-timeout fallback — on an object store, where pid checks
        are meaningless, the mtime lease is the whole mechanism, which
        is exactly how Iceberg's lock-table/DynamoDB lock managers
        expire dead holders)."""
        lock = os.path.join(self.path, _META_DIR, "commit.lock")
        fd = None
        for _ in range(500):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                break
            except FileExistsError:
                try:
                    with open(lock) as fh:
                        owner = int(fh.read().strip() or "0")
                    dead = False
                    if owner:
                        try:
                            os.kill(owner, 0)
                        except ProcessLookupError:
                            dead = True
                        except PermissionError:
                            pass  # alive, other uid
                    expired = (
                        time.time() - os.path.getmtime(lock) > _LOCK_STALE_SEC
                    )
                    if dead or expired:
                        # benign race: two breakers may both remove —
                        # O_EXCL re-create still admits exactly one
                        os.remove(lock)
                        continue
                except OSError:
                    pass  # lock vanished/changed under us — just retry
                time.sleep(0.01)
        if fd is None:
            try:
                with open(lock) as fh:
                    held = (f"pid {fh.read().strip()} for "
                            f"{time.time() - os.path.getmtime(lock):.1f} s")
            except OSError:
                held = "a writer that has just released it"
            raise CommitLockTimeout(f"could not acquire commit lock {lock}: held by {held}")
        try:
            yield
        finally:
            os.close(fd)
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass  # a (mistaken) breaker raced us; commit already done

    def _locked_meta_mutation(self, mutate) -> None:
        """Locked read-modify-write for non-snapshot metadata (schema
        evolution, partition-spec evolution, tags, expiry): reload the
        on-disk state under the commit lock, apply ``mutate()`` against
        it, publish. A handle holding stale ``_meta`` therefore cannot
        clobber snapshots committed concurrently by another writer —
        the same lost-commit protection ``_commit`` has."""
        with self._commit_lock():
            self._reload()
            mutate()
            self._write_meta()

    def _commit(self, op: str, files: list[FileEntry], summary: dict | None = None,
                branch: str | None = None,
                delete_files: list[DeleteFileEntry] | None = None) -> Snapshot:
        """Optimistic commit under a filesystem lock: verify the ref we
        planned against (main, or a named branch) has not advanced,
        then publish atomically onto the RELOADED on-disk metadata
        (reference spec `:83`, concurrent writers / no lost commits).
        Reloading under the lock means a main commit can never clobber
        a concurrent branch commit and vice versa — the two refs only
        share the append-only snapshot list. The O_EXCL lock file
        closes the check-then-write race between concurrent committers;
        the stale-ref raise is the optimistic-concurrency conflict the
        caller retries."""

        def head(meta: dict) -> int | None:
            if branch is None:
                return meta.get("current_snapshot_id")
            return (meta.get("branches") or {}).get(branch)

        with self._commit_lock():
            expected = head(self._meta)
            self._reload()
            if head(self._meta) != expected:
                raise CommitConflict(
                    f"{'branch ' + branch if branch else 'table'} advanced: "
                    f"expected parent {expected}, found {head(self._meta)}"
                )
            ids = [s["snapshot_id"] for s in self._meta["snapshots"]]
            sid = (max(ids) + 1) if ids else 1
            # Sequence-number assignment (Iceberg data sequence): files
            # and delete files new to this commit (seq None) get the
            # committing snapshot's id; carried-over entries keep theirs.
            for e in files:
                if e.seq is None:
                    e.seq = sid
            # Delete-file carry-over: merge-on-read delete files ride
            # along until nothing they can apply to remains — position
            # deletes until every referenced data file left the table,
            # equality deletes until no live file has a smaller sequence
            # — then they are dropped automatically (Iceberg's dangling-
            # delete cleanup in rewrite_data_files).
            if delete_files is None:
                parent = self._snapshot(expected) if expected is not None else None
                delete_files = list(parent.delete_files) if parent else []
            for d in delete_files:
                if d.seq is None:
                    d.seq = sid
            live = {e.path for e in files}
            min_seq = min((e.seq for e in files), default=0)
            delete_files = [
                d for d in delete_files
                if (d.content == "position" and any(p in live for p in d.referenced))
                or (d.content == "equality" and min_seq < d.seq)
            ]
            snap = Snapshot(
                snapshot_id=sid,
                parent_id=expected,
                timestamp_ms=int(time.time() * 1000),
                operation=op,
                schema_version=self._meta["current_schema_version"],
                files=files,
                summary=summary or {},
                delete_files=delete_files,
            )
            self._meta["snapshots"].append(snap.to_json())
            if branch is None:
                self._meta["current_snapshot_id"] = snap.snapshot_id
            else:
                self._meta.setdefault("branches", {})[branch] = snap.snapshot_id
            self._write_meta()
            return snap

    def _snapshot(self, snapshot_id: int | None = None, as_of_ms: int | None = None) -> Snapshot | None:
        snaps = [Snapshot.from_json(s) for s in self._meta["snapshots"]]
        if not snaps:
            return None
        if snapshot_id is not None:
            for s in snaps:
                if s.snapshot_id == snapshot_id:
                    return s
            raise KeyError(f"no snapshot {snapshot_id}")
        if as_of_ms is not None:
            eligible = [s for s in snaps if s.timestamp_ms <= as_of_ms]
            if not eligible:
                raise KeyError(f"no snapshot at or before {as_of_ms}")
            return eligible[-1]
        cur = self._meta["current_snapshot_id"]
        if cur is None:  # snapshots may exist only on branches
            return None
        return next(s for s in snaps if s.snapshot_id == cur)

    def _fields(self, version: int | None = None) -> list[Field]:
        v = self._meta["current_schema_version"] if version is None else version
        return [Field.from_json(f) for f in self._meta["schemas"][str(v)]]

    def schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f.name, _parse_type(f.type), True) for f in self._fields()]
        )

    def _names_at_version(self, names: list[str], version: int) -> list[str]:
        """Resolve CURRENT-schema column names to their spelling in an
        older schema version via field ids — the Iceberg bind-by-id
        rule that keeps equality deletes working across renames when a
        read time-travels to a pre-rename snapshot."""
        cur_ids = {f.name: f.id for f in self._fields()}
        at_v = {f.id: f.name for f in self._fields(version)}
        return [at_v.get(cur_ids.get(n, -1), n) for n in names]

    @property
    def partition_spec(self) -> list[Transform]:
        return parse_spec(self._meta["partition_spec"])

    # -- write path ----------------------------------------------------------

    def _write_files(self, df: DataFrame, cluster: bool = True,
                     groups: list[dict[str, str]] | None = None) -> list[FileEntry]:
        """Write a DataFrame as new parquet data files; collect per-file
        stats from the parquet footers (driver-side metadata-only read).

        With a partition spec, rows are physically SPLIT by transform
        value (``write.partitionBy`` on materialized transform columns)
        after a hash repartition on those values — Iceberg's fanout
        writer. Each data file then covers exactly one partition value,
        so the footer min/max of the *source* column (which stays in
        the file) is tight and manifest pruning actually skips files.
        A plain hash-repartition alone mixes partition values whenever
        shuffle-partitions < distinct values, leaving every file with
        full-range stats — pruning silently degrades to nothing (found
        the hard way at 10M rows: a 2-day window kept 32/32 files).
        The transform columns live only in directory names, never in
        the data files, so readers see the declared schema unchanged.

        ``groups`` (compaction): rows carry ``_lake_group``/``_lake_salt``
        instead of transform values; each pair becomes one directory
        whose files take ``groups[group]`` as their partition.
        """
        import pyarrow.parquet as pq

        # INT96 (the legacy default) carries NO min/max statistics in
        # parquet footers → timestamp predicates could never prune.
        # INT64 micros is also what Iceberg mandates for its files.
        self.spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

        sub = f"snap-{uuid.uuid4().hex[:12]}"
        out_dir = os.path.join(self.path, _DATA_DIR, sub)
        fields = self._fields()
        cols = [F.col(f.name).cast(f.type).alias(f.name) for f in fields]
        pcols = [] if groups is None else ["_lake_group", "_lake_salt"]
        df = df.select(*cols, *pcols)

        spec = self.partition_spec if cluster and groups is None else []
        if spec:
            type_of = {f.name: f.type for f in fields}
            for t in spec:
                # index-free key: stable across partition-spec evolution
                name = f"_p_{t.name}_{t.column}"
                df = df.withColumn(
                    name,
                    transform_expr(t, type_of.get(t.column)).cast("string"))
                pcols.append(name)
        if pcols:
            # co-locate each partition value in one task → one file per
            # value (write.distribution-mode=hash, framework.yaml:139).
            # The width is pinned to the session's shuffle-partition
            # setting (r15 optimization): without an explicit width,
            # AQE coalesces this small-byte/high-fanout exchange to
            # 1-3 tasks and the partitionBy writer then creates every
            # partition's files SERIALLY — measured 3.8-7.3 s vs 2.4 s
            # at 480 fanout values on local[32]. Byte-based coalescing
            # is the wrong signal for a fanout write: the cost is file
            # creation count, not shuffle bytes. The width stays
            # conf-driven (spark.sql.shuffle.partitions tracks the
            # cluster), never a constant.
            # ADVICE r15: the conf is not an integer on every runtime
            # (some managed platforms set "auto") — fall back to the
            # scheduler's parallelism rather than failing the write.
            try:
                width = int(
                    self.spark.conf.get("spark.sql.shuffle.partitions"))
            except ValueError:
                width = self.spark.sparkContext.defaultParallelism
            df = df.repartition(width, *[F.col(c) for c in pcols])
        order = self._meta.get("sort_order") or []
        if order and cluster:
            # WRITE ORDERED BY (create_sales_events.sql:21-24). The
            # directory columns lead: the partitionBy writer needs its
            # input sorted by them and would otherwise add its own sort
            # on them alone, discarding this one.
            df = df.sortWithinPartitions(*pcols, *order)

        writer = df.write.mode("overwrite")
        # Iceberg bloom-filter table properties
        # (TableProperties.PARQUET_BLOOM_FILTER_*): the upstream surface
        # is `write.parquet.bloom-filter-enabled.column.<col>`,
        # `write.parquet.bloom-filter-fpp.column.<col>`, and the global
        # `write.parquet.bloom-filter-max-bytes`. Map each to its
        # parquet-mr writer option so equality lookups on
        # high-cardinality, unsorted columns can skip row groups whose
        # min/max span everything (where footer stats are useless).
        # `...bloom-filter-expected-ndv.column.<col>` is a DELIBERATE
        # EXTENSION beyond Iceberg's surface (parquet-mr sizes filters
        # from NDV; Iceberg only exposes fpp/max-bytes) — kept because
        # it is the direct sizing knob, named with the same prefix
        # convention so it can't be mistaken for an upstream property.
        props = self._meta.get("properties", {}) or {}
        _BLOOM_ON = "write.parquet.bloom-filter-enabled.column."
        _BLOOM_FPP = "write.parquet.bloom-filter-fpp.column."
        _BLOOM_NDV = "write.parquet.bloom-filter-expected-ndv.column."
        _BLOOM_MAX = "write.parquet.bloom-filter-max-bytes"
        for k, v in props.items():
            if k.startswith(_BLOOM_ON) and str(v).lower() == "true":
                writer = writer.option(
                    f"parquet.bloom.filter.enabled#{k[len(_BLOOM_ON):]}", "true"
                )
            elif k.startswith(_BLOOM_FPP):
                writer = writer.option(
                    f"parquet.bloom.filter.fpp#{k[len(_BLOOM_FPP):]}", str(v)
                )
            elif k.startswith(_BLOOM_NDV):
                writer = writer.option(
                    f"parquet.bloom.filter.expected.ndv#{k[len(_BLOOM_NDV):]}", str(v)
                )
            elif k == _BLOOM_MAX:
                writer = writer.option("parquet.bloom.filter.max.bytes", str(v))
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(out_dir)

        version = self._meta["current_schema_version"]
        work: list[tuple[str, dict[str, str]]] = []
        for dirpath, _dirs, files in os.walk(out_dir):
            # partition values from hive-style dir components
            part_vals: dict[str, str] = {}
            rel_dir = os.path.relpath(dirpath, out_dir)
            if rel_dir != ".":
                for comp in rel_dir.split(os.sep):
                    if "=" in comp:
                        k, _, v = comp.partition("=")
                        # Spark percent-escapes dir values (':'→'%3A');
                        # store the UNESCAPED value so equality pruning
                        # compares like with like (_transform_value
                        # computes unescaped values). The hive null
                        # marker stays as-is — pruning treats it as an
                        # explicit null sentinel.
                        part_vals[k] = (
                            v if v == _HIVE_NULL else urllib.parse.unquote(v)
                        )
            if groups is not None and part_vals:
                part_vals = dict(groups[int(part_vals["_lake_group"])])
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    work.append((os.path.join(dirpath, fn), part_vals))

        def footer_entry(item: tuple[str, dict[str, str]]) -> FileEntry | None:
            fpath, part_vals = item
            md = pq.ParquetFile(fpath).metadata
            if md.num_rows == 0:
                return None
            stats = footer_min_max(md)
            return FileEntry(
                path=os.path.relpath(fpath, self.path),
                rows=md.num_rows,
                bytes=os.path.getsize(fpath),
                schema_version=version,
                stats=stats,
                partition=part_vals,
                seq=None,  # assigned by the commit that publishes it
            )

        # footer reads are metadata-only and GIL-bound, not
        # latency-bound, on a local filesystem: measured 0.14 s serial
        # vs 0.43 s with a 16-thread pool for 480 files (threads only
        # add contention — pyarrow's footer decode holds the GIL).
        # Serial keeps the code simple; an object-store deployment
        # (real fetch latency) would re-introduce a pool sized to
        # round-trip latency, or read stats executor-side.
        entries = [e for e in map(footer_entry, work) if e is not None]
        entries.sort(key=lambda e: e.path)
        return entries

    def append(self, df: DataFrame, _retries: int = 5,
               branch: str | None = None,
               wap_id: str | None = None) -> Snapshot:
        """Bulk append — reference M1/M6 (`df.writeTo(t).append()`,
        blob-dfs_bench.py:104-105). ``branch`` targets a named branch
        head instead of main (Iceberg's ``toBranch`` / WAP staging
        write): main readers never see the rows until ``fast_forward``
        (or ``cherrypick_snapshot`` when main advanced meanwhile).
        ``wap_id`` stamps the staged snapshot (Iceberg's
        ``spark.wap.id``) so a publish can be deduplicated.

        Appends auto-retry on commit conflicts (spec `:83`: concurrent
        writers, no lost commits): the new data files are written once;
        only the metadata commit re-bases onto the advanced snapshot —
        safe because an append reads nothing, exactly Iceberg's
        fast-append retry. Row-level ops (delete/update/merge) do NOT
        auto-retry: their rewrites depend on the snapshot they read, so
        the caller must reload and re-run."""
        if branch is not None and branch not in (self._meta.get("branches") or {}):
            raise KeyError(
                f"no branch {branch!r}; branches: "
                f"{sorted(self._meta.get('branches') or {})}"
            )
        new_files = self._write_files(df)
        for attempt in range(_retries + 1):
            if branch is None:
                cur = self._snapshot() if self._meta["current_snapshot_id"] else None
            else:
                head = (self._meta.get("branches") or {}).get(branch)
                cur = self._snapshot(head) if head is not None else None
            base = list(cur.files) if cur else []
            summary = {"added_files": len(new_files),
                       "added_rows": sum(f.rows for f in new_files)}
            if wap_id is not None:
                summary["wap.id"] = wap_id
            try:
                return self._commit("append", base + new_files, summary,
                                    branch=branch)
            except CommitConflict:
                if attempt == _retries:
                    raise
                self._reload()

    def last_streaming_batch(self, query_id: str = "default") -> int | None:
        """Most recent micro-batch id committed for ``query_id``, read
        from snapshot summaries (newest first) — the recovery pointer
        Iceberg's streaming sink keeps so a replayed batch can be
        recognized. Walks the summary chain rather than a single table
        property so interleaved batch writers never clobber it."""
        for s in reversed(self._meta["snapshots"]):
            summ = s.get("summary") or {}
            if summ.get("streaming.query-id") == query_id:
                return int(summ["streaming.batch-id"])
        return None

    def streaming_append(self, df: DataFrame, batch_id: int,
                         query_id: str = "default",
                         _retries: int = 5) -> Snapshot | None:
        """Replay-idempotent ``foreachBatch`` append — Iceberg's
        streaming-sink contract (reference: idempotent re-run
        semantics, ICEBERG-Interoperability-Test-Spec.md:70): the
        committed snapshot's summary records ``(query-id, batch-id)``
        atomically with the data, and any batch whose id is ≤ the last
        committed id for that query is SKIPPED. ``query_id`` is the
        DURABLE identity: passing the same id across a checkpoint loss
        deliberately dedups the full from-zero replay (stronger than
        Iceberg, whose Spark-queryId key reprocesses on checkpoint
        loss) — so a NEW logical query into the same table must use a
        NEW query_id, or its batches 0..watermark are treated as
        replays (the `laketable` sink derives its default id from the
        checkpoint location for exactly this reason). This closes the
        double-append window when Spark replays a micro-batch after a
        crash between the sink commit and the checkpoint commit
        (VERDICT r4 item 3); the keyed CDC upsert path is naturally
        idempotent and needs no guard. Returns None for a skipped
        replay. Concurrent replays of the same batch race through the
        normal commit lock: the loser sees CommitConflict, re-checks
        the pointer, skips, and unlinks its duplicate files."""
        self._reload()
        last = self.last_streaming_batch(query_id)
        if last is not None and batch_id <= last:
            return None
        return self.commit_streaming_files(
            self._write_files(df), batch_id, query_id, _retries=_retries
        )

    def commit_data_files(self, new_files: list["FileEntry"],
                          overwrite: bool = False,
                          _retries: int = 5) -> Snapshot:
        """Publish ALREADY-WRITTEN data files as one batch append (or
        overwrite) commit — the driver-side half of the `laketable`
        batch writer (``df.write.format("laketable")``). Appends
        auto-retry on conflicts exactly like :meth:`append` (the files
        are written once; only the metadata commit re-bases); an
        overwrite replaces the file set wholesale. Metadata +
        filesystem only — no SparkSession needed."""
        for attempt in range(_retries + 1):
            summary = {"added_files": len(new_files),
                       "added_rows": sum(f.rows for f in new_files)}
            try:
                if overwrite:
                    return self._commit("overwrite", list(new_files), summary)
                cur = self._snapshot() if self._meta["current_snapshot_id"] else None
                base = list(cur.files) if cur else []
                return self._commit("append", base + new_files, summary)
            except CommitConflict:
                if attempt == _retries:
                    raise
                self._reload()

    def commit_streaming_files(self, new_files: list["FileEntry"],
                               batch_id: int, query_id: str = "default",
                               _retries: int = 5) -> Snapshot | None:
        """Publish ALREADY-WRITTEN data files as one replay-idempotent
        streaming append — the driver-side half of the `laketable`
        streaming SINK (executor tasks write the files, this commits
        them). Same ``(query-id, batch-id)`` dedup as
        :meth:`streaming_append` — ids ≤ the watermark are replays,
        skipped with their duplicate files unlinked; query_id is the
        durable identity (the sink defaults it to the checkpoint
        location so a fresh checkpoint is a fresh identity). Metadata
        + filesystem only — safe to call without a SparkSession
        (``LakeTable.load(None, path)``)."""

        def _discard(files: list[FileEntry]) -> None:
            for e in files:
                try:
                    os.remove(os.path.join(self.path, e.path))
                except OSError:
                    pass  # remove_orphan_files collects any leftovers

        self._reload()
        last = self.last_streaming_batch(query_id)
        if last is not None and batch_id <= last:
            _discard(new_files)
            return None
        for attempt in range(_retries + 1):
            cur = self._snapshot() if self._meta["current_snapshot_id"] else None
            base = list(cur.files) if cur else []
            try:
                return self._commit(
                    "append", base + new_files,
                    {"added_files": len(new_files),
                     "added_rows": sum(f.rows for f in new_files),
                     "streaming.query-id": query_id,
                     "streaming.batch-id": int(batch_id)},
                )
            except CommitConflict:
                self._reload()
                last = self.last_streaming_batch(query_id)
                if last is not None and batch_id <= last:
                    _discard(new_files)
                    return None
                if attempt == _retries:
                    raise

    def overwrite(self, df: DataFrame) -> Snapshot:
        new_files = self._write_files(df)
        return self._commit(
            "overwrite", new_files, {"added_files": len(new_files)}
        )

    def overwrite_partitions(self, df: DataFrame,
                             static: dict[str, Any] | None = None,
                             branch: str | None = None,
                             _retries: int = 5) -> Snapshot:
        """INSERT OVERWRITE — Iceberg's ``ReplacePartitions`` /
        ``df.writeTo(t).overwritePartitions()``.

        Dynamic (default): replaces exactly the partitions the incoming
        rows land in under the CURRENT spec; every other partition's
        files carry over untouched. The 100 TB backfill path — re-running
        one day's pipeline rewrites that day's files only, so the commit
        is O(changed partitions), never O(table).

        ``static={col: literal}`` is the Spark/Hive static form
        (``INSERT OVERWRITE ... PARTITION (col=val)``): the named
        identity partition is cleared and replaced by the incoming rows
        — even when the incoming set is empty (a static overwrite of
        nothing TRUNCATES that partition, per Spark semantics). The
        partition columns are assigned the literal, so the SELECT list
        omits them, Hive-style.

        Unpartitioned tables degenerate to a full overwrite (all rows
        share the single empty partition — Iceberg semantics).

        Files written under a DIFFERENT spec generation (after
        ADD/DROP PARTITION FIELD, or before the table gained a spec)
        record different partition keys and cannot be value-matched by
        the current spec; silently keeping them could retain rows the
        caller asked to replace, so finding one raises — run
        ``rewrite_data_files`` to rewrite old-generation files into the
        current layout first. Like :meth:`append`, the commit auto-
        retries on conflicts: the replacement set is determined by
        partition VALUES, not by a read of table data, so recomputing
        the carried set against the advanced head is safe.

        ``branch`` stages the overwrite on a named branch head (the
        WAP backfill: overwrite on the audit branch, validate, then
        ``fast_forward`` — ``cherrypick_snapshot`` refuses overwrites
        by design, so a diverged main means re-running the backfill).
        """
        spec = self.partition_spec
        if static:
            if any(v is None for v in static.values()):
                # the null partition is written as the hive null marker;
                # a None literal would transform to SQL NULL and never
                # value-match it — refuse rather than silently no-op
                raise ValueError(
                    "static PARTITION values must be non-null; use a "
                    "dynamic overwrite to replace the null partition"
                )
            by_col = {t.column: t for t in spec if t.name == "identity"}
            missing = [c for c in static if c not in by_col]
            if missing:
                raise ValueError(
                    f"static PARTITION columns {missing} are not identity "
                    f"partition fields of spec "
                    f"{[f'{t.name}({t.column})' for t in spec]}"
                )
            fields = {f.name: f for f in self._fields()}
            for c, v in static.items():
                df = df.withColumn(c, F.lit(v).cast(fields[c].type))
        if branch is not None and branch not in (self._meta.get("branches") or {}):
            raise KeyError(
                f"no branch {branch!r}; branches: "
                f"{sorted(self._meta.get('branches') or {})}"
            )
        new_files = self._write_files(df)
        if not spec:
            return self._commit(
                "overwrite", new_files,
                {"added_files": len(new_files),
                 "added_rows": sum(f.rows for f in new_files)},
                branch=branch,
            )
        current_keys = {f"_p_{t.name}_{t.column}" for t in spec}
        if static:
            target = {
                f"_p_identity_{c}": self._transform_value(by_col[c], v)
                for c, v in static.items()
            }

            def replaced(part: dict[str, str]) -> bool:
                return all(part.get(k) == v for k, v in target.items())
        else:
            touched = {
                tuple(sorted(f.partition.items())) for f in new_files
            }

            def replaced(part: dict[str, str]) -> bool:
                return tuple(sorted(part.items())) in touched

        for attempt in range(_retries + 1):
            if branch is None:
                head = self._meta["current_snapshot_id"]
            else:
                head = (self._meta.get("branches") or {}).get(branch)
            cur = self._snapshot(head) if head is not None else None
            base = list(cur.files) if cur else []
            carried: list[FileEntry] = []
            n_replaced = 0
            for f in base:
                if set(f.partition.keys()) != current_keys:
                    raise ValueError(
                        f"cannot overwrite partitions: {f.path} was written "
                        f"under a different partition-spec generation "
                        f"(keys {sorted(f.partition.keys())} vs current "
                        f"{sorted(current_keys)}); rewrite_data_files first"
                    )
                if replaced(f.partition):
                    n_replaced += 1
                else:
                    carried.append(f)
            summary = {
                "added_files": len(new_files),
                "added_rows": sum(f.rows for f in new_files),
                "replaced-data-files": n_replaced,
                "replaced-partitions": (
                    1 if static else len({
                        tuple(sorted(f.partition.items())) for f in new_files
                    })
                ),
            }
            try:
                return self._commit("overwrite", carried + new_files, summary,
                                    branch=branch)
            except CommitConflict:
                if attempt == _retries:
                    raise
                self._reload()

    def insert_rows(self, rows: list[tuple]) -> Snapshot:
        """INSERT INTO ... VALUES — reference M1
        (`bulk_insert_sales_events.sql:3-11`)."""
        df = local_frame(self.spark, rows, self.schema())
        return self.append(df)

    # -- read path -----------------------------------------------------------

    def _read_entries(self, entries: list[FileEntry], schema_version: int,
                      with_file_path: bool = False,
                      with_pos: bool = False) -> DataFrame:
        """Read a file set, aligning every historical schema version to
        ``schema_version`` via field-id mapping (Iceberg-style evolution:
        renames and type widenings never rewrite data files).
        ``with_pos`` adds the row's ordinal within its file
        (``_metadata.row_index``) — the position half of an Iceberg
        position delete."""
        target_fields = self._fields(schema_version)
        if not entries:
            sch = T.StructType(
                [T.StructField(f.name, _parse_type(f.type), True) for f in target_fields]
            )
            if with_file_path:
                sch = sch.add("_lake_file", T.StringType())
            if with_pos:
                sch = sch.add("_lake_pos", T.LongType())
            return local_frame(self.spark, [], sch)

        by_version: dict[int, list[FileEntry]] = {}
        for e in entries:
            by_version.setdefault(e.schema_version, []).append(e)

        parts: list[DataFrame] = []
        for v, group in by_version.items():
            old_fields = {f.id: f for f in self._fields(v)}
            paths = [os.path.join(self.path, e.path) for e in group]
            raw = self.spark.read.parquet(*paths)
            inferred = {sf.name: sf.dataType for sf in raw.schema.fields}
            sel = []
            for f in target_fields:
                old = old_fields.get(f.id)
                if old is not None:
                    sel.append(
                        _align_read_col(F.col(old.name),
                                        inferred.get(old.name), f.type)
                        .alias(f.name))
                else:
                    sel.append(F.lit(f.default).cast(f.type).alias(f.name))
            if with_file_path:
                sel.append(_decode_path_uri(F.col("_metadata.file_path"))
                           .alias("_lake_file"))
            if with_pos:
                sel.append(F.col("_metadata.row_index").alias("_lake_pos"))
            parts.append(raw.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_with_deletes(self, snap: "Snapshot", schema_version: int,
                           entries: list[FileEntry] | None = None,
                           with_file_path: bool = False,
                           with_pos: bool = False,
                           tags: tuple[dict[str, tuple], str] | None = None,
                           ) -> DataFrame:
        """Snapshot read with merge-on-read delete files applied —
        position deletes (Iceberg v2 content=1) AND equality deletes
        (content=2).

        Files no delete file can apply to stream through untouched.
        Position-referenced files join ``(file, pos)`` LEFT ANTI against
        the tombstones; files older than an equality delete join its key
        columns LEFT ANTI with the sequence guard ``file.seq < del.seq``
        (so a key re-inserted AFTER the retraction survives). Delete
        files are dimension-sized, so both anti-joins broadcast and
        stay map-side — at 100 TB the read costs the scan plus hash
        probes, never a shuffle of the data. The file → sequence map
        is a JVM-local frame: the path starts no Python worker.

        ``tags`` (``{entry path: values}``, ``", name type, ..."``) adds
        per-file columns through that same map; every entry then takes
        the delete-applying pass."""
        entries = snap.files if entries is None else entries
        pos_dels = [d for d in snap.delete_files if d.content == "position"]
        eq_dels = [d for d in snap.delete_files if d.content == "equality"]
        if not pos_dels and not eq_dels and not tags:
            return self._read_entries(entries, schema_version, with_file_path, with_pos)
        referenced = {p for d in pos_dels for p in d.referenced}
        dirty = entries if tags else self._dirty_files(snap, entries)
        dirty_paths = {e.path for e in dirty}
        plain = [e for e in entries if e.path not in dirty_paths]
        parts: list[DataFrame] = []
        if dirty:
            df = self._read_entries(dirty, schema_version, True, True)
            stripped = F.regexp_replace(F.col("_lake_file"), "^file:/+", "/")
            if pos_dels and any(e.path in referenced for e in dirty):
                del_paths = [os.path.join(self.path, d.path) for d in pos_dels]
                # normalize BOTH sides: a foreign writer may record URI
                # spellings (file:///...) INSIDE the delete parquet, not
                # just in manifest metadata
                tomb = self.spark.read.schema(_POS_DELETE_DDL).parquet(*del_paths).select(
                    F.regexp_replace("file_path", "^file:/+", "/").alias("file_path"),
                    "pos",
                )
                if sum(d.bytes for d in pos_dels) <= _BROADCAST_DELETE_BYTES:
                    tomb = F.broadcast(tomb)
                df = df.join(
                    tomb,
                    (stripped == tomb["file_path"]) & (df["_lake_pos"] == tomb["pos"]),
                    "left_anti",
                )
            if eq_dels or tags:
                # attach each row's file sequence (and tags) through a
                # broadcast join of a file-keyed local frame, then one
                # anti-join per distinct key set with the sequence guard
                vals, ddl = tags or ({}, "")
                seq_map = local_frame(self.spark, [
                    (os.path.join(self.path, e.path), e.seq or 0, *vals.get(e.path, ()))
                    for e in dirty], "_seq_path string, _file_seq bigint" + ddl)
                df = df.join(
                    F.broadcast(seq_map), stripped == seq_map["_seq_path"], "left"
                ).drop("_seq_path")
                by_cols: dict[tuple, list[DeleteFileEntry]] = {}
                for d in eq_dels:
                    # group by key names AS SPELLED IN THE SCHEMA BEING
                    # READ (field-id resolution — a time travel to a
                    # pre-rename snapshot binds the old spelling); files
                    # written before a rename read via their frozen
                    # physical names below
                    by_cols.setdefault(
                        tuple(self._names_at_version(d.equality_cols, schema_version)),
                        [],
                    ).append(d)
                for cols, group in by_cols.items():
                    tombs = None
                    for d in group:
                        one = self.spark.read.parquet(
                            os.path.join(self.path, d.path)
                        ).select(
                            *[
                                F.col(fc).alias(f"_del_{c}")
                                for fc, c in zip(d.physical_cols, cols)
                            ],
                            F.lit(d.seq).cast("bigint").alias("_del_seq"),
                        )
                        tombs = one if tombs is None else tombs.unionByName(one)
                    if sum(d.bytes for d in group) <= _BROADCAST_DELETE_BYTES:
                        tombs = F.broadcast(tombs)
                    cond = F.col("_file_seq") < tombs["_del_seq"]
                    for c in cols:
                        cond = cond & (df[c].eqNullSafe(tombs[f"_del_{c}"]))
                    df = df.join(tombs, cond, "left_anti")
                df = df.drop("_file_seq")
            if not with_file_path:
                df = df.drop("_lake_file")
            if not with_pos:
                df = df.drop("_lake_pos")
            parts.append(df)
        if plain:
            parts.append(
                self._read_entries(plain, schema_version, with_file_path, with_pos)
            )
        if not parts:
            return self._read_entries([], schema_version, with_file_path, with_pos)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _write_delete_files(self, tombstones: DataFrame) -> list[DeleteFileEntry]:
        """Write ``(file_path, pos)`` tombstone rows as a position-delete
        parquet file set. ``file_path`` is the scheme-stripped absolute
        data-file path (Iceberg position deletes store full paths);
        ``referenced`` is recorded table-relative for metadata use."""
        import pyarrow.parquet as pq

        out_dir = os.path.join(self.path, _DATA_DIR, f"del-{uuid.uuid4().hex[:12]}")
        tombstones.select(
            F.col("file_path").cast("string"), F.col("pos").cast("bigint")
        ).write.mode("overwrite").parquet(out_dir)
        entries = self._delete_entries(out_dir)

        def _entry_dialect(p: str) -> str:
            # must spell EXACTLY like the FileEntry it tombstones:
            # table-relative for table-owned files, absolute for
            # EXTERNAL files registered in place (migrate_parquet /
            # add_files / snapshot_of / from_iceberg_metadata) — a
            # blind relpath renders those as ../../… and the read
            # path's referenced-file match silently never fires
            ap = os.path.abspath(p)
            return (os.path.relpath(ap, self.path)
                    if ap.startswith(self.path + os.sep) else ap)

        # the distinct targets, read driver-side from the (dimension-
        # sized) files just written: no Spark job
        referenced = sorted({
            _entry_dialect(p) for e in entries
            for p in pq.read_table(os.path.join(self.path, e.path), columns=["file_path"])
            .column("file_path").unique().to_pylist()
        })
        for e in entries:
            e.referenced = referenced
        return entries

    def _write_equality_delete_files(
        self, keys: DataFrame, cols: list[str]
    ) -> list[DeleteFileEntry]:
        """Write distinct key rows as an equality-delete file set
        (Iceberg v2 content=2). No target read happens here — that's
        the point: a CDC writer retracts keys blind."""
        out_dir = os.path.join(self.path, _DATA_DIR, f"eqdel-{uuid.uuid4().hex[:12]}")
        keys.select(*cols).distinct().write.mode("overwrite").parquet(out_dir)
        return self._delete_entries(out_dir, content="equality",
                                    equality_cols=list(cols))

    def _delete_entries(self, out_dir: str, **kw) -> list[DeleteFileEntry]:
        """One entry per non-empty parquet file Spark wrote under
        ``out_dir``; its sequence number is assigned at commit."""
        import pyarrow.parquet as pq

        entries: list[DeleteFileEntry] = []
        for dirpath, _dirs, files in os.walk(out_dir):
            for fn in sorted(files):
                full = os.path.join(dirpath, fn)
                if fn.endswith(".parquet") and (
                        rows := pq.ParquetFile(full).metadata.num_rows):
                    entries.append(DeleteFileEntry(
                        path=os.path.relpath(full, self.path), rows=rows,
                        bytes=os.path.getsize(full), seq=None, **kw))
        return entries

    def delete_by_keys(self, keys: DataFrame,
                       on: list[str] | None = None) -> Snapshot:
        """Equality delete (Iceberg v2 content=2): every existing row
        whose ``on`` columns match a key row is deleted — WITHOUT
        reading the target. Rows appended later are unaffected (the
        sequence-number guard). This is the Flink-CDC retraction path:
        at 100 TB a million-key delete costs writing a million-row
        parquet file, zero scans.

        ``on`` defaults to ``keys``'s own columns — NOT the declared
        identifier fields: the caller shaped the keys DataFrame to say
        exactly which columns must match, and narrowing it to a
        schema-level default would silently widen the delete (e.g.
        dropping a region column deletes the ids in EVERY region)."""
        snap = self._snapshot()
        if snap is None:
            raise ValueError("delete on empty table")
        cols = list(on or keys.columns)
        for c in cols:
            if c not in {f.name for f in self._fields()}:
                raise KeyError(f"unknown equality column {c!r}")
        new_dels = self._write_equality_delete_files(keys, cols)
        # Blind write → safe to auto-retry on conflict, like append:
        # rebase onto the advanced snapshot (sequence numbers keep the
        # delete applying only to files older than THIS commit).
        for attempt in range(6):
            snap = self._snapshot()
            try:
                out = self._commit(
                    "delete", list(snap.files),
                    {"equality_delete_keys": sum(d.rows for d in new_dels),
                     "added_delete_files": len(new_dels), "mode": "merge-on-read"},
                    delete_files=list(snap.delete_files) + new_dels,
                )
                self._maybe_auto_compact()
                return out
            except CommitConflict:
                if attempt == 5:
                    raise
                self._reload()

    def upsert_by_keys(self, df: DataFrame,
                       on: list[str] | None = None) -> Snapshot:
        """Streaming-CDC upsert: one commit that equality-deletes the
        incoming keys and appends the new row images. The delete and
        the data files share the commit's sequence number, and equality
        deletes apply only to STRICTLY older files — so the new images
        survive their own retraction. No target read, ever: upsert cost
        is O(batch), not O(table) — the write path Flink uses for CDC
        streams into Iceberg v2.

        Duplicate keys WITHIN the batch reduce to the last image per
        key first (batch order via monotonically_increasing_id), the
        Flink upsert-sink contract — the intra-commit sequence guard is
        strictly 'older', so unreduced duplicates would all survive.

        ``on`` defaults to the declared identifier fields (Flink's
        equality-field rule: the upsert key IS the schema's declared
        row identity unless overridden)."""
        if on is None:
            on = self.identifier_fields
            if not on:
                raise ValueError(
                    "upsert_by_keys needs key columns: pass on=[...] "
                    "or declare them with SET IDENTIFIER FIELDS"
                )
        for c in on:
            if c not in {f.name for f in self._fields()}:
                raise KeyError(f"unknown key column {c!r}")
        others = [c for c in df.columns if c not in on]
        if others:
            # max_by keeps the partial-aggregate (map-side combine)
            # shape — one hash shuffle of the batch, no per-key sort
            df = (
                df.withColumn("_lake_upsert_ord", F.monotonically_increasing_id())
                .groupBy(*on)
                .agg(F.max_by(F.struct(*others), F.col("_lake_upsert_ord")).alias("_img"))
                .select(*on, *[F.col(f"_img.{c}").alias(c) for c in others])
            )
        else:
            df = df.distinct()
        new_files = self._write_files(df)
        new_dels = self._write_equality_delete_files(df.select(*on), on)
        # Reads nothing → append-style auto-retry: rebase onto the
        # advanced snapshot; commit order serializes concurrent writers
        # (this upsert's retraction applies to everything older than
        # its own commit, so the later commit's images win per key).
        for attempt in range(6):
            snap = self._snapshot()
            base = list(snap.files) if snap else []
            base_dels = list(snap.delete_files) if snap else []
            try:
                out = self._commit(
                    "upsert", base + new_files,
                    {"upserted_rows": sum(e.rows for e in new_files),
                     "equality_delete_keys": sum(d.rows for d in new_dels),
                     "mode": "merge-on-read"},
                    delete_files=base_dels + new_dels,
                )
                self._maybe_auto_compact()
                return out
            except CommitConflict:
                if attempt == 5:
                    raise
                self._reload()

    def apply_cdc_batch(self, batch_df: DataFrame,
                        on: list[str] | None = None, *,
                        batch_id: int, query_id: str = "default",
                        _retries: int = 5) -> Snapshot | None:
        """Apply one CDC micro-batch — rows carrying ``_change_type``
        ('insert'/'delete') and ``_commit_snapshot_id``, the
        `laketable` ``mode=cdc`` feed schema — as ONE replay-idempotent
        commit: the exactly-once CDC REPLICATION primitive (pair with
        ``readStream.format('laketable').option('mode', 'cdc')`` in a
        ``foreachBatch``).

        - The batch reduces to the LAST action per key in source-commit
          order (within one commit, the insert of a -D/+I upsert pair
          wins — its retraction targeted the pre-image). One map-side-
          combinable hash shuffle (max_by), never a target read.
        - The commit equality-retracts EVERY touched key and appends
          the final images; delete and data files share the commit's
          sequence number, so images survive their own retraction
          (upsert semantics) while keys whose last action was a delete
          stay tombstoned.
        - The snapshot summary records ``(query-id, batch-id)``
          atomically with the changes: a replayed batch (crash between
          this commit and Spark's checkpoint write) is recognized,
          skipped, and its duplicate files unlinked — the
          ``streaming_append`` exactly-once guard extended to
          row-level changes.

        ``on`` defaults to the declared identifier fields (SET
        IDENTIFIER FIELDS) — the replica inherits the source's row
        identity instead of every caller restating it."""
        if on is None:
            on = self.identifier_fields
            if not on:
                raise ValueError(
                    "apply_cdc_batch needs key columns: pass on=[...] "
                    "or declare them with SET IDENTIFIER FIELDS"
                )
        for c in on:
            if c not in {f.name for f in self._fields()}:
                raise KeyError(f"unknown key column {c!r}")
        meta_cols = {"_change_type", "_commit_snapshot_id"}
        missing = meta_cols - set(batch_df.columns)
        if missing:
            raise ValueError(f"not a CDC feed batch: missing {sorted(missing)}")
        data_cols = [c for c in batch_df.columns if c not in meta_cols]
        self._reload()
        last = self.last_streaming_batch(query_id)
        if last is not None and batch_id <= last:
            return None
        ins_flag = (F.col("_change_type") == "insert").cast("int")
        others = [c for c in data_cols if c not in on]
        last_act = batch_df.groupBy(*on).agg(
            F.max_by(
                F.struct(ins_flag.alias("_ins"), *[F.col(c) for c in others]),
                F.struct(F.col("_commit_snapshot_id"), ins_flag),
            ).alias("_last")
        )
        images = last_act.filter(F.col("_last._ins") == 1).select(
            *[F.col(c) if c in on else F.col(f"_last.{c}").alias(c)
              for c in data_cols]
        )
        keys = last_act.select(*on)
        new_files = self._write_files(images)
        new_dels = self._write_equality_delete_files(keys, list(on))
        if not new_files and not new_dels:
            return None  # empty batch: nothing to publish, no watermark

        def _discard() -> None:
            for e in [*new_files, *new_dels]:
                try:
                    os.remove(os.path.join(self.path, e.path))
                except OSError:
                    pass

        for attempt in range(_retries + 1):
            snap = self._snapshot() if self._meta["current_snapshot_id"] else None
            base = list(snap.files) if snap else []
            base_dels = list(snap.delete_files) if snap else []
            try:
                out = self._commit(
                    "upsert", base + new_files,
                    {"upserted_rows": sum(e.rows for e in new_files),
                     "equality_delete_keys": sum(d.rows for d in new_dels),
                     "mode": "merge-on-read",
                     "streaming.query-id": query_id,
                     "streaming.batch-id": int(batch_id)},
                    delete_files=base_dels + new_dels,
                )
                self._maybe_auto_compact()
                return out
            except CommitConflict:
                self._reload()
                last = self.last_streaming_batch(query_id)
                if last is not None and batch_id <= last:
                    _discard()
                    return None
                if attempt == _retries:
                    raise

    def read(self, snapshot_id: int | None = None, as_of_ms: int | None = None) -> DataFrame:
        """Current-or-time-travel read — reference T2/T3 (VERSION AS OF /
        TIMESTAMP AS OF, `time_travel_validate.sql:6-12`)."""
        snap = self._snapshot(snapshot_id, as_of_ms)
        if snap is None:
            return self._read_entries([], self._meta["current_schema_version"])
        # Iceberg semantics: a current-table read projects the CURRENT
        # schema (evolution is metadata-only); a time-travel read
        # projects the schema as of that snapshot.
        time_travel = snapshot_id is not None or as_of_ms is not None
        version = snap.schema_version if time_travel else self._meta["current_schema_version"]
        return self._read_with_deletes(snap, version)

    def to_df(self) -> DataFrame:
        return self.read()

    def incremental_read(self, from_snapshot_id: int, to_snapshot_id: int | None = None) -> DataFrame:
        """Incremental (append-diff) read: rows in files added between
        two snapshots — Iceberg's incremental append scan
        (``option("start-snapshot-id", ...)``), the CDC-style feed for
        downstream consumers.

        The scan walks the PARENT CHAIN from end back to start — not an
        id interval — so commits staged on unpublished branches (WAP)
        never poison an append-only main line. Like Iceberg, it SKIPS
        'replace' (compaction/rewrite) commits — rewritten files carry
        no new rows, and the appended files they fold are read from
        their own append snapshots — and REFUSES row-level commits
        (delete/update/merge/upsert/rollback): a file diff cannot
        express removed or tombstoned rows, and silently returning a
        wrong feed is worse than failing. Use :meth:`changelog` for
        those ranges — it nets exact row-level inserts and deletes."""
        start = self._snapshot(from_snapshot_id)
        end = self._snapshot(to_snapshot_id) if to_snapshot_id else self._snapshot()
        by_id = {s["snapshot_id"]: s for s in self._meta["snapshots"]}
        chain: list[dict] = []  # end → ... → child-of-start
        cur: int | None = end.snapshot_id
        while cur is not None and cur != start.snapshot_id:
            s = by_id.get(cur)
            if s is None:
                break
            chain.append(s)
            cur = s.get("parent_id")
        if cur != start.snapshot_id:
            raise ValueError(
                f"snapshot {start.snapshot_id} is not an ancestor of "
                f"{end.snapshot_id}; incremental_read needs a linear range"
            )
        non_append = {
            s["snapshot_id"]: s["operation"] for s in chain
            if s["operation"] not in ("append", "replace")
        }
        if non_append:
            raise ValueError(
                "incremental_read is an append-only scan but the range "
                f"contains {sorted(non_append.items())}; use changelog() "
                "for exact row-level changes across those commits"
            )
        added: list[FileEntry] = []
        prev_paths = {e.path for e in start.files}
        for s in reversed(chain):  # oldest → newest
            cur_paths = {f["path"] for f in s["files"]}
            if s["operation"] == "append":
                added.extend(
                    FileEntry.from_json(f) for f in s["files"]
                    if f["path"] not in prev_paths
                )
            prev_paths = cur_paths
        return self._read_entries(added, self._meta["current_schema_version"])

    def changelog(self, from_snapshot_id: int,
                  to_snapshot_id: int | None = None) -> DataFrame:
        """Net row-level changes between two snapshots with a
        ``_change_type`` column ('insert' / 'delete') — Iceberg's
        ``create_changelog_view``. Updates appear as delete+insert
        pairs, exactly Iceberg's net-changes contract for copy-on-write
        tables.

        Computed as multiset difference over the FILE-STATE DIFF, not
        the full table: a file's state is its path plus the set of
        position-delete files that apply to it, so only files that were
        added, removed, or gained/lost tombstones between the snapshots
        are read (an unchanged file cancels itself, so skip it —
        manifest-level work), then ``exceptAll`` nets out rows the
        rewrite carried over unchanged. At 100 TB an incremental poll
        therefore costs O(changed files), and exceptAll is one
        hash-partitioned anti-aggregation on the changed subset."""
        start = self._snapshot(from_snapshot_id)
        end = self._snapshot(to_snapshot_id) if to_snapshot_id else self._snapshot()
        version = self._meta["current_schema_version"]

        def file_state(snap: Snapshot) -> dict[str, frozenset]:
            pos: dict[str, set[str]] = {}
            eq: list[tuple[str, int]] = []
            for d in snap.delete_files:
                if d.content == "position":
                    for p in d.referenced:
                        pos.setdefault(p, set()).add(d.path)
                else:  # equality: applies to files with a smaller sequence
                    eq.append((d.path, d.seq or 0))
            state: dict[str, frozenset] = {}
            for e in snap.files:
                applicable = set(pos.get(e.path, ()))
                applicable.update(p for p, seq in eq if (e.seq or 0) < seq)
                state[e.path] = frozenset(applicable)
            return state

        s_state, e_state = file_state(start), file_state(end)
        changed_new = [
            e for e in end.files if s_state.get(e.path) != e_state[e.path]
        ]
        changed_old = [
            e for e in start.files if s_state[e.path] != e_state.get(e.path)
        ]
        new_rows = self._read_with_deletes(end, version, entries=changed_new)
        old_rows = self._read_with_deletes(start, version, entries=changed_old)
        schema = new_rows.schema
        if not all(_map_free(f.dataType) for f in schema.fields):
            # Spark rejects map columns in set operations — net on the
            # lossless key-sorted entry-array encoding and decode after
            # (ADVICE r14: this is the documented fallback for the map
            # types the streaming cow-netting refuses, e.g.
            # map<double,int>, so it must actually accept them)
            def enc(df: DataFrame) -> DataFrame:
                return df.select(*[
                    _maps_to_entries(F.col(f.name), f.dataType).alias(f.name)
                    for f in schema.fields
                ])

            new_rows, old_rows = enc(new_rows), enc(old_rows)
        inserts = new_rows.exceptAll(old_rows).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = old_rows.exceptAll(new_rows).withColumn(
            "_change_type", F.lit("delete")
        )
        changes = inserts.unionAll(deletes)
        if not all(_map_free(f.dataType) for f in schema.fields):
            changes = changes.select(*[
                _entries_to_maps(F.col(f.name), f.dataType).alias(f.name)
                for f in schema.fields
            ], "_change_type")
        return changes

    def rollback_to_snapshot(self, snapshot_id: int) -> Snapshot:
        """CALL system.rollback_to_snapshot — restore an earlier
        snapshot's file set as a NEW commit (history is preserved;
        time travel to the undone snapshots still works)."""
        target = self._snapshot(snapshot_id)
        return self._commit(
            "rollback", list(target.files), {"rolled_back_to": snapshot_id},
            # restore the TARGET's delete files — inheriting the current
            # head's would keep later tombstones applied to the restored
            # state (rollback must reproduce the target snapshot exactly)
            delete_files=list(target.delete_files),
        )

    def rollback_to_timestamp(self, ts_ms: int) -> Snapshot:
        """CALL system.rollback_to_timestamp — restore the newest
        snapshot committed at or before the cutoff ON THE CURRENT
        ANCESTRY (resolving over all snapshots would resurrect
        branch-staged commits), as a new commit."""
        head = self._meta.get("current_snapshot_id") or 0
        eligible = [
            sn for sn in _ancestry_of(self._meta, head)
            if sn.get("timestamp_ms", 0) <= ts_ms
        ]
        if not eligible:
            raise ValueError(
                f"no snapshot committed at or before {ts_ms} ms on the "
                f"current ancestry"
            )
        return self.rollback_to_snapshot(eligible[0]["snapshot_id"])

    def set_current_snapshot(self, snapshot_id: int) -> Snapshot:
        """CALL system.set_current_snapshot — point the table at ANY
        retained snapshot's state (rollback's sibling without the
        on-ancestry expectation: Iceberg allows jumping to e.g. a
        branch-staged snapshot). Same mechanics: the target's file +
        delete-file sets commit as a new head; history is preserved."""
        return self.rollback_to_snapshot(snapshot_id)

    def ancestors_of(self, snapshot_id: int | None = None) -> DataFrame:
        """CALL system.ancestors_of — the parent-pointer walk from the
        given snapshot (default: current head), newest first, as a
        DataFrame of (snapshot_id, timestamp_ms). Metadata-only."""
        head = (snapshot_id if snapshot_id is not None
                else self._meta.get("current_snapshot_id") or 0)
        rows = [
            (sn["snapshot_id"], sn.get("timestamp_ms", 0))
            for sn in _ancestry_of(self._meta, head)
        ]
        return local_frame(
            self.spark, rows or [], "snapshot_id bigint, timestamp_ms bigint"
        )

    def cherrypick_snapshot(self, snapshot_id: int, _retries: int = 5) -> Snapshot:
        """CALL system.cherrypick_snapshot — apply one snapshot's NET
        CHANGES on top of the current main head as a new commit
        (Iceberg's WAP publish primitive for the case ``fast_forward``
        refuses: main advanced while the audit branch was staged, so
        the branch head is no longer a descendant and must be
        re-applied, not pointed at).

        Like Iceberg, only APPEND snapshots are cherry-pickable: the
        change set is (files added vs the snapshot's own parent); a
        snapshot that removed files or added delete files captured a
        conflict-prone read-modify-write and must be re-run against
        the new head instead of replayed blindly. The re-applied files
        get a FRESH sequence number (the rows become visible at
        publish time — replaying the stale sequence would let
        equality deletes committed meanwhile tombstone them). A
        ``wap.id`` stamped on the staged snapshot (``append(...,
        wap_id=...)``) is recorded as ``published-wap-id`` on the
        publish commit and guards against double-publishing the same
        staged change."""
        target = self._snapshot(snapshot_id)
        parent = (
            self._snapshot(target.parent_id) if target.parent_id is not None else None
        )
        parent_paths = {e.path for e in parent.files} if parent else set()
        added = [e for e in target.files if e.path not in parent_paths]
        removed = parent_paths - {e.path for e in target.files}
        parent_dels = {d.path for d in parent.delete_files} if parent else set()
        new_dels = [d for d in target.delete_files if d.path not in parent_dels]
        if removed or new_dels:
            raise ValueError(
                f"cannot cherry-pick snapshot {snapshot_id}: only append "
                f"snapshots can be cherry-picked (it removed "
                f"{len(removed)} file(s) and added {len(new_dels)} delete "
                f"file(s) — re-run the operation against the current head)"
            )
        wap_id = target.summary.get("wap.id")
        for attempt in range(_retries + 1):
            cur = self._snapshot() if self._meta.get("current_snapshot_id") else None
            # Double-publish guard along the MAIN ancestry: the same
            # staged snapshot (by id, or by wap.id) must not land twice.
            node = cur
            while node is not None:
                if node.summary.get("cherry_picked_from") == snapshot_id or (
                    wap_id is not None
                    and node.summary.get("published-wap-id") == wap_id
                ):
                    raise ValueError(
                        f"snapshot {snapshot_id} (wap.id={wap_id!r}) was "
                        f"already published as snapshot {node.snapshot_id}"
                    )
                node = (
                    self._snapshot(node.parent_id)
                    if node.parent_id is not None
                    else None
                )
            head_paths = {e.path for e in cur.files} if cur else set()
            if any(e.path in head_paths for e in added):
                raise ValueError(
                    f"snapshot {snapshot_id}'s files are already present on main"
                )
            fresh = []
            for e in added:
                c = FileEntry.from_json(e.to_json())
                c.seq = None  # _commit stamps the publishing snapshot's seq
                fresh.append(c)
            summary = {
                "cherry_picked_from": snapshot_id,
                "added_files": len(fresh),
                "added_rows": sum(f.rows for f in fresh),
            }
            if wap_id is not None:
                summary["published-wap-id"] = wap_id
            base = list(cur.files) if cur else []
            try:
                return self._commit("cherrypick", base + fresh, summary)
            except CommitConflict:
                if attempt == _retries:
                    raise
                self._reload()

    def publish_changes(self, wap_id: str, _retries: int = 5) -> Snapshot:
        """CALL system.publish_changes — Iceberg's publish-by-wap-id:
        find the snapshot STAGED with ``wap.id = wap_id`` (an
        ``append(..., wap_id=...)``, typically on an audit branch) and
        cherry-pick its net changes onto main. The id-based spelling is
        the one a WAP pipeline actually uses: the orchestrator knows
        its own write-audit-publish id, not the snapshot id the staging
        commit happened to get. All of :meth:`cherrypick_snapshot`'s
        guards apply (append-only, fresh sequence number, double-
        publish refusal)."""
        matches = [
            s for s in self._meta["snapshots"]
            if (s.get("summary") or {}).get("wap.id") == wap_id
            and "published-wap-id" not in (s.get("summary") or {})
        ]
        if not matches:
            raise KeyError(f"no staged snapshot with wap.id {wap_id!r}")
        if len(matches) > 1:
            raise ValueError(
                f"wap.id {wap_id!r} is stamped on {len(matches)} snapshots "
                f"({[s['snapshot_id'] for s in matches]}); WAP ids must be "
                f"unique per staged change"
            )
        return self.cherrypick_snapshot(
            matches[0]["snapshot_id"], _retries=_retries
        )

    # -- tags (named snapshot refs, Iceberg v2 refs) -------------------------

    def create_tag(self, name: str, snapshot_id: int | None = None, *,
                   max_ref_age_ms: int | None = None,
                   replace: bool = False, if_not_exists: bool = False) -> None:
        """Tag a snapshot with a stable name (Iceberg ref): time travel
        by meaning ('pre-migration') instead of by id.
        ``max_ref_age_ms`` (Iceberg RETAIN): expire_snapshots drops the
        tag once the tagged snapshot is older than this — bounded
        metadata without a manual drop_tag sweep.
        Iceberg exists-semantics: an existing name errors unless
        ``replace`` (repoint) or ``if_not_exists`` (no-op)."""
        sid = snapshot_id if snapshot_id is not None else self._meta["current_snapshot_id"]
        self._snapshot(sid)  # validate

        def mutate():
            refs = self._meta.setdefault("refs", {})
            if name in refs and not replace:
                if if_not_exists:
                    return
                raise ValueError(
                    f"tag {name!r} exists; use REPLACE TAG to repoint")
            refs[name] = sid
            if max_ref_age_ms is not None:
                self._meta.setdefault("ref_retention", {})[name] = {
                    "max-ref-age-ms": int(max_ref_age_ms)}
            else:
                # full ref re-definition: unstated retention reverts
                self._meta.get("ref_retention", {}).pop(name, None)

        self._locked_meta_mutation(mutate)

    def replace_tag(self, name: str, snapshot_id: int | None = None, *,
                    max_ref_age_ms: int | None = None) -> None:
        """ALTER TABLE … REPLACE TAG — repoint an EXISTING tag (errors
        if missing, the Iceberg REPLACE contract)."""
        if name not in (self._meta.get("refs") or {}):
            raise KeyError(f"no tag {name!r} to replace")
        self.create_tag(name, snapshot_id,
                        max_ref_age_ms=max_ref_age_ms, replace=True)

    def drop_tag(self, name: str) -> None:
        def mutate():
            del self._meta.setdefault("refs", {})[name]
            self._meta.get("ref_retention", {}).pop(name, None)

        self._locked_meta_mutation(mutate)

    def read_tag(self, name: str) -> DataFrame:
        refs = self._meta.get("refs", {})
        if name not in refs:
            raise KeyError(f"no tag {name!r}; tags: {sorted(refs)}")
        return self.read(snapshot_id=refs[name])

    # -- branches (writable refs — Iceberg WAP: write-audit-publish) ---------

    def create_branch(self, name: str, snapshot_id: int | None = None, *,
                      min_snapshots_to_keep: int | None = None,
                      max_ref_age_ms: int | None = None,
                      replace: bool = False,
                      if_not_exists: bool = False) -> None:
        """Create a writable branch at a snapshot (default: current
        main head; may be None on an empty table → empty branch).
        Writers then stage commits with ``append(df, branch=name)``;
        main is untouched until ``fast_forward``.

        Retention (Iceberg branch options): ``min_snapshots_to_keep``
        makes expire_snapshots retain that many snapshots of the
        branch's ancestry (not just its head); ``max_ref_age_ms`` lets
        expire_snapshots drop the whole branch once its head snapshot
        is older than this — abandoned audit branches stop pinning
        files forever."""
        sid = snapshot_id if snapshot_id is not None else self._meta.get("current_snapshot_id")
        if sid is not None:
            self._snapshot(sid)  # validate

        def mutate():
            branches = self._meta.setdefault("branches", {})
            if name in branches and not replace:
                if if_not_exists:
                    return
                raise ValueError(
                    f"branch {name!r} exists; use REPLACE BRANCH to repoint")
            branches[name] = sid
            ret = {}
            if min_snapshots_to_keep is not None:
                ret["min-snapshots-to-keep"] = int(min_snapshots_to_keep)
            if max_ref_age_ms is not None:
                ret["max-ref-age-ms"] = int(max_ref_age_ms)
            if ret:
                self._meta.setdefault("ref_retention", {})[name] = ret
            else:
                # REPLACE is a full ref re-definition (Iceberg):
                # retention not restated reverts to the default
                self._meta.get("ref_retention", {}).pop(name, None)

        self._locked_meta_mutation(mutate)

    def replace_branch(self, name: str, snapshot_id: int | None = None, *,
                       min_snapshots_to_keep: int | None = None,
                       max_ref_age_ms: int | None = None) -> None:
        """ALTER TABLE … REPLACE BRANCH — repoint an EXISTING branch
        (errors if missing). The WAP reset: throw away a bad audit
        run's staged commits by repointing the branch at main."""
        if name not in (self._meta.get("branches") or {}):
            raise KeyError(f"no branch {name!r} to replace")
        self.create_branch(name, snapshot_id, replace=True,
                           min_snapshots_to_keep=min_snapshots_to_keep,
                           max_ref_age_ms=max_ref_age_ms)

    def drop_branch(self, name: str) -> None:
        def mutate():
            del self._meta.setdefault("branches", {})[name]
            self._meta.get("ref_retention", {}).pop(name, None)

        self._locked_meta_mutation(mutate)

    def read_branch(self, name: str) -> DataFrame:
        """Audit read of a branch head (the A in WAP): what main WOULD
        become if this branch were published."""
        branches = self._meta.get("branches", {})
        if name not in branches:
            raise KeyError(f"no branch {name!r}; branches: {sorted(branches)}")
        if branches[name] is None:
            return self._read_entries([], self._meta["current_schema_version"])
        return self.read(snapshot_id=branches[name])

    def fast_forward(self, branch: str) -> int:
        """Publish a branch (the P in WAP): fast-forward main to the
        branch head — allowed only when main's head is an ancestor of
        the branch head (Iceberg `fast_forward` semantics; anything
        else would silently drop main commits). Returns the new main
        snapshot id."""
        published: list[int] = []

        def mutate():
            branches = self._meta.get("branches") or {}
            if branch not in branches:
                raise KeyError(f"no branch {branch!r}")
            head = branches[branch]
            if head is None:
                raise ValueError(f"branch {branch!r} has no commits to publish")
            cur = self._meta.get("current_snapshot_id")
            by_id = {s["snapshot_id"]: s for s in self._meta["snapshots"]}
            node, ok = head, cur is None
            while node is not None and not ok:
                if node == cur:
                    ok = True
                    break
                node = by_id[node].get("parent_id")
            if not ok:
                raise ValueError(
                    f"cannot fast-forward: main head {cur} is not an "
                    f"ancestor of branch {branch!r} head {head}"
                )
            self._meta["current_snapshot_id"] = head
            published.append(head)

        self._locked_meta_mutation(mutate)
        return published[0]

    def scan(self, where: str | None = None,
             snapshot_id: int | None = None, as_of_ms: int | None = None) -> DataFrame:
        """Pruned read: manifest-level (file-stats) pruning before the
        Spark scan, then the same predicate applied row-level.

        This is the Iceberg read path split: the driver drops whole
        files whose [min,max] ranges cannot match (no I/O), Spark's
        parquet reader then prunes row groups and rows via the pushed
        filter. At 100 TB the first step is what turns a full-table
        scan into a partition-sized one."""
        snap = self._snapshot(snapshot_id, as_of_ms)
        version = (
            snap.schema_version
            if (snapshot_id is not None or as_of_ms is not None) and snap
            else self._meta["current_schema_version"]
        )
        if snap is None:
            return self._read_entries([], version)
        entries = snap.files
        if where:
            entries = self._prune_files(entries, where)
        df = self._read_with_deletes(snap, version, entries=entries)
        return df.filter(F.expr(where)) if where else df

    # -- file pruning --------------------------------------------------------

    # column refs admit dotted STRUCT-leaf paths (meta.n): leaf stats
    # are recorded under the dotted spelling (footer_min_max), so an
    # embedding-store scan like meta.n >= 5 manifests-prunes too
    _SIMPLE_PRED = re.compile(
        r"^\s*(\w+(?:\.\w+)*)\s*(=|==|<=|>=|<|>)\s*('[^']*'|[-\d.]+)\s*$"
    )
    _IN_PRED = re.compile(
        r"^\s*(\w+(?:\.\w+)*)\s+in\s*\(\s*('[^']*'|[-\d.]+)"
        r"(?:\s*,\s*(?:'[^']*'|[-\d.]+))*\s*\)\s*$",
        re.IGNORECASE,
    )

    def _transform_value(self, t: Transform, val: Any) -> str | None:
        """Apply a partition transform to a literal, driver-side, via a
        1-row Spark eval (so bucket hashing etc. match the write path
        exactly). Memoized — one tiny job per distinct (transform,
        literal) per table handle."""
        key = (t.name, t.column, t.param, repr(val))
        cache = getattr(self, "_tv_cache", None)
        if cache is None:
            cache = self._tv_cache = {}
        if key in cache:
            return cache[key]
        fld = next((f for f in self._fields() if f.name == t.column), None)
        if fld is None:
            cache[key] = None
            return None
        # ibucket/itruncate over the exactly-coercible types compute
        # driver-side (hash-identical by construction — the pandas-UDF
        # write path and iceberg_bucket() share the encoder, pinned in
        # test_iceberg_bucket): an IN-list point lookup on a bucketed
        # table costs |members| dict lookups, not |members| 1-row
        # Spark jobs. Anything type-ambiguous (timestamp/decimal
        # literals) falls through to the Spark eval below.
        base = fld.type.strip().lower().split("(")[0]
        if t.name in ("ibucket", "itruncate"):
            from .iceberg_bucket import iceberg_bucket

            coerced = None
            if base in ("int", "integer", "bigint", "long", "smallint",
                        "tinyint", "short", "byte") and \
                    isinstance(val, (int, float)) and \
                    not isinstance(val, bool) and float(val).is_integer():
                coerced = int(val)
            elif base == "string" and isinstance(val, str):
                coerced = val
            elif base == "date" and isinstance(val, str):
                import datetime as _dt

                try:
                    coerced = _dt.date.fromisoformat(val[:10])
                except ValueError:
                    coerced = None
            if coerced is not None:
                if t.name == "ibucket":
                    out = str(iceberg_bucket(coerced, t.param))
                elif isinstance(coerced, int):
                    out = str(coerced - coerced % t.param)
                else:
                    out = None  # itruncate is numeric-only
                if out is not None:
                    cache[key] = out
                    return out
        row = (
            self.spark.range(1)
            .select(F.lit(val).cast(fld.type).alias(t.column))
            .select(transform_expr(t, fld.type).cast("string").alias("v"))
            .collect()
        )
        cache[key] = row[0]["v"]
        return cache[key]

    def _prune_files(self, entries: list[FileEntry], where: str) -> list[FileEntry]:
        """Manifest-level pruning for conjunctions of simple comparisons,
        in two passes (both zero-I/O, driver-side):

        1. partition values: each file records its transform values
           (directory components); the calendar family
           (`days/hours/months/years`) supports equality, range AND
           IN predicates via pure string flooring of ISO literals
           (`_calendar_floor` — no Spark jobs, and ranges prune even
           on files with NO footer stats, e.g. adopted stat-less
           chains); identity/bucket/truncate support equality and IN
           (driver fast paths where exact, else the transform of the
           literal is computed with a memoized 1-row Spark eval so
           hashing matches the write path);
        2. footer min/max stats of the data columns.

        Anything unparseable keeps all files (correctness preserved;
        the exact `_metadata.file_path` probe narrows further)."""
        conjuncts = [c.strip() for c in re.split(r"(?i)\s+and\s+", where)]
        preds = []

        def _lit(lit: str) -> Any:
            return lit[1:-1] if lit.startswith("'") else (
                float(lit) if "." in lit else int(lit))

        for c in conjuncts:
            m = self._SIMPLE_PRED.match(c)
            if m:
                col, op, lit = m.groups()
                preds.append((col, op, _lit(lit)))
                continue
            m = self._IN_PRED.match(c)
            if m:
                # col IN (v1, v2, ...) — a disjunction of equalities:
                # prunable on partition values (file survives if its
                # transform value matches ANY member) and on stats
                # (file survives if ANY member is inside [min, max])
                col = m.group(1)
                vals = [_lit(x) for x in re.findall(
                    r"'[^']*'|[-\d.]+", c.split("(", 1)[1].rsplit(")", 1)[0])]
                if vals:
                    preds.append((col, "in", vals))
        if not preds:
            return entries

        spec = self.partition_spec
        pkeys = {t.column: (f"_p_{t.name}_{t.column}", t) for t in spec}

        def partition_may_match(e: FileEntry) -> bool:
            for col, op, val in preds:
                hit = pkeys.get(col)
                if hit is None:
                    continue
                pkey, t = hit
                pval = e.partition.get(pkey)
                if pval is None:
                    continue  # file predates this spec field — keep
                if pval == _HIVE_NULL:
                    # file holds only rows whose transform source is
                    # NULL; a simple comparison on that column can never
                    # be true for NULL → drop the file
                    return False
                if op == "in":
                    floors = [_calendar_floor(t.name, v) for v in val]
                    if floors and all(f is not None for f in floors):
                        if pval not in set(floors):
                            return False
                    else:
                        tvs = {self._transform_value(t, v) for v in val}
                        tvs.discard(None)
                        if tvs and pval not in tvs:
                            return False
                    continue
                floor = _calendar_floor(t.name, val)
                if floor is not None:
                    # calendar transform, ISO-shaped literal: the
                    # partition value IS the floored literal spelling,
                    # so equality and ranges compare lexicographically
                    # — zero Spark jobs, and range predicates prune
                    # even on files with no footer stats (adopted
                    # stat-less chains). Conservative at the floor
                    # boundary: pval == floor is always kept.
                    if op in ("=", "==") and pval != floor:
                        return False
                    if op in (">", ">=") and pval < floor:
                        return False
                    if op in ("<", "<=") and pval > floor:
                        return False
                elif op in ("=", "=="):
                    tv = self._transform_value(t, val)
                    if tv is not None and pval != tv:
                        return False
            return True

        def stats_may_match(e: FileEntry) -> bool:
            for col, op, raw_val in preds:
                rng = e.stats.get(col)
                if not rng:
                    continue
                lo, hi = _norm_stat(rng[0]), _norm_stat(rng[1])
                if op == "in":
                    try:
                        if not any(lo <= _norm_stat(v) <= hi
                                   for v in raw_val):
                            return False
                    except TypeError:
                        pass
                    continue
                val = _norm_stat(raw_val)
                try:
                    if op in ("=", "=="):
                        if val < lo or val > hi:
                            return False
                    elif op == "<" and not (lo < val):
                        return False
                    elif op == "<=" and not (lo <= val):
                        return False
                    elif op == ">" and not (hi > val):
                        return False
                    elif op == ">=" and not (hi >= val):
                        return False
                except TypeError:
                    continue
            return True

        return [e for e in entries if partition_may_match(e) and stats_may_match(e)]

    def _affected_files(self, snap: Snapshot, where: str) -> tuple[list[FileEntry], int]:
        """(files containing rows matching ``where``, total matching
        rows): stats-prune first (no I/O), then probe survivors with a
        pushed filter + `_metadata.file_path` projection. The per-file
        match counts ride along in the same probe job, so callers never
        need a second read to report affected-row stats."""
        candidates = self._prune_files(snap.files, where)
        if not candidates:
            return [], 0
        # delete-aware probe: rows already tombstoned by merge-on-read
        # delete files must not count as (or resurrect into) matches
        probe = self._read_with_deletes(
            snap, self._meta["current_schema_version"],
            entries=candidates, with_file_path=True,
        )
        per_file = (
            probe.filter(F.expr(where)).groupBy("_lake_file").count().collect()
        )
        norm_hits = {_strip_scheme(r["_lake_file"]): r["count"] for r in per_file}
        affected = [
            e for e in candidates
            if os.path.join(self.path, e.path) in norm_hits
        ]
        return affected, sum(norm_hits.values())

    # -- row-level ops (copy-on-write) ---------------------------------------

    def _ref_snapshot(self, branch: str | None) -> "Snapshot | None":
        """The snapshot a write against ``branch`` (None = main) plans
        against."""
        if branch is None:
            return self._snapshot()
        branches = self._meta.get("branches") or {}
        if branch not in branches:
            raise KeyError(f"no branch {branch!r}; branches: {sorted(branches)}")
        head = branches[branch]
        return self._snapshot(head) if head is not None else None

    def _row_op_mode(self, op: str, override: str | None) -> str:
        """Resolve copy-on-write vs merge-on-read for a row-level op,
        Iceberg's ``write.delete.mode`` / ``write.update.mode`` table
        properties (spec `:73-74`: equality + position deletes)."""
        mode = override or (self._meta.get("properties") or {}).get(
            f"write.{op}.mode", "copy-on-write"
        )
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"write.{op}.mode must be copy-on-write or merge-on-read, got {mode!r}")
        return mode

    def delete_where(self, where: str, branch: str | None = None,
                     mode: str | None = None) -> Snapshot:
        """DELETE FROM t WHERE ... — reference M4
        (`delete_sales_events.sql:3-4`).

        Copy-on-write (default): only files that contain matching rows
        are rewritten. Merge-on-read (``write.delete.mode`` property or
        ``mode=``): matched row positions are written to a position-
        delete file (Iceberg v2 content=1) and NO data file is touched
        — at 100 TB deleting one row costs one tombstone row, not a
        128 MB rewrite; readers apply the tombstones as a broadcast
        anti-join. ``branch`` stages the delete on a branch head
        (Iceberg's ``spark.wap.branch`` DML), leaving main untouched
        until fast_forward."""
        snap = self._ref_snapshot(branch)
        if snap is None:
            raise ValueError("delete on empty table")
        if self._row_op_mode("delete", mode) == "merge-on-read":
            out = self._delete_where_mor(snap, where, branch)
            self._maybe_auto_compact(branch)
            return out
        # n_matched comes from the delete-aware probe, so it counts LIVE
        # matching rows exactly — correct whatever mix of position and
        # equality tombstones already applies to the affected files.
        affected, n_matched = self._affected_files(snap, where)
        if not affected:
            return self._commit("delete", snap.files, {"deleted_rows": 0},
                                branch=branch)
        keep = [e for e in snap.files if e not in affected]
        remaining = self._read_with_deletes(
            snap, self._meta["current_schema_version"], entries=affected
        ).filter(~F.expr(where))
        rewritten = self._write_files(remaining)
        return self._commit(
            "delete", keep + rewritten,
            {"rewritten_files": len(affected), "deleted_rows": n_matched},
            branch=branch,
        )

    def _delete_where_mor(self, snap: Snapshot, where: str,
                          branch: str | None) -> Snapshot:
        """Merge-on-read DELETE: write position tombstones for matching
        live rows; data files are never rewritten."""
        candidates = self._prune_files(snap.files, where)
        deleted = 0
        new_dels: list[DeleteFileEntry] = []
        if candidates:
            probe = self._read_with_deletes(
                snap, self._meta["current_schema_version"],
                entries=candidates, with_file_path=True, with_pos=True,
            )
            tomb = probe.filter(F.expr(where)).select(
                F.regexp_replace(F.col("_lake_file"), "^file:/+", "/").alias("file_path"),
                F.col("_lake_pos").alias("pos"),
            )
            new_dels = self._write_delete_files(tomb)
            deleted = sum(d.rows for d in new_dels)
        return self._commit(
            "delete", list(snap.files),
            {"deleted_rows": deleted, "added_delete_files": len(new_dels),
             "mode": "merge-on-read"},
            branch=branch,
            delete_files=list(snap.delete_files) + new_dels,
        )

    def update(self, set_exprs: dict[str, str], where: str,
               branch: str | None = None, mode: str | None = None) -> Snapshot:
        """UPDATE t SET col = expr WHERE ... — reference M3
        (`update_sales_events.sql:3-5`, SET price = price*1.1). Exprs are
        Spark SQL over the current schema. Copy-on-write (default)
        rewrites affected files; merge-on-read (``write.update.mode``
        property or ``mode=``) tombstones the matched positions and
        appends the updated rows as new files — Iceberg's MoR UPDATE
        (delete + insert), leaving the original files untouched.
        ``branch`` stages the update on a branch head."""
        snap = self._ref_snapshot(branch)
        if snap is None:
            raise ValueError("update on empty table")
        if self._row_op_mode("update", mode) == "merge-on-read":
            out = self._update_mor(snap, set_exprs, where, branch)
            self._maybe_auto_compact(branch)
            return out
        affected, n_updated = self._affected_files(snap, where)
        if not affected:
            return self._commit("update", snap.files, {"updated_rows": 0},
                                branch=branch)
        keep = [e for e in snap.files if e not in affected]
        df = self._read_with_deletes(
            snap, self._meta["current_schema_version"], entries=affected
        )
        cond = F.expr(where)
        out_cols = []
        for f in self._fields():
            if f.name in set_exprs:
                out_cols.append(
                    F.when(cond, F.expr(set_exprs[f.name]).cast(f.type))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                out_cols.append(F.col(f.name))
        # updated_rows came from the _affected_files probe — no second
        # read of the affected files just for the stat.
        rewritten = self._write_files(df.select(*out_cols))
        return self._commit(
            "update", keep + rewritten,
            {"rewritten_files": len(affected), "updated_rows": n_updated},
            branch=branch,
        )

    def _update_mor(self, snap: Snapshot, set_exprs: dict[str, str],
                    where: str, branch: str | None) -> Snapshot:
        """Merge-on-read UPDATE = position-delete the matched rows +
        append their updated images as new clustered files. One pass
        computes both outputs from the same matched-row scan."""
        candidates = self._prune_files(snap.files, where)
        if not candidates:
            return self._commit("update", snap.files, {"updated_rows": 0},
                                branch=branch)
        # cache: the matched-row scan feeds BOTH the tombstone write and
        # the updated-image write — one pruned read, two small outputs
        matched = self._read_with_deletes(
            snap, self._meta["current_schema_version"],
            entries=candidates, with_file_path=True, with_pos=True,
        ).filter(F.expr(where)).cache()
        try:
            new_dels = self._write_delete_files(
                matched.select(
                    F.regexp_replace(F.col("_lake_file"), "^file:/+", "/").alias("file_path"),
                    F.col("_lake_pos").alias("pos"),
                )
            )
            if not new_dels:  # nothing actually matched
                return self._commit("update", snap.files, {"updated_rows": 0},
                                    branch=branch)
            out_cols = [
                F.expr(set_exprs[f.name]).cast(f.type).alias(f.name)
                if f.name in set_exprs else F.col(f.name)
                for f in self._fields()
            ]
            new_files = self._write_files(matched.select(*out_cols))
            return self._commit(
                "update", list(snap.files) + new_files,
                {"updated_rows": sum(d.rows for d in new_dels),
                 "added_delete_files": len(new_dels), "mode": "merge-on-read"},
                branch=branch,
                delete_files=list(snap.delete_files) + new_dels,
            )
        finally:
            matched.unpersist()

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict[str, str] | str | None = None,
        when_matched_update_condition: str | None = None,
        when_matched_delete: str | bool | None = None,
        when_not_matched_insert: bool | str = True,
        when_not_matched_by_source_update: dict[str, str] | None = None,
        when_not_matched_by_source_delete: str | bool | None = None,
        mode: str | None = None,
        branch: str | None = None,
        schema_evolution: bool = False,
    ) -> Snapshot:
        """MERGE INTO target USING source ON keys — reference M5
        (`merge_sales_events.sql:4-21`: WHEN MATCHED UPDATE SET, WHEN NOT
        MATCHED INSERT). Copy-on-write:

        - files containing key matches are found via a key semi-probe
          (broadcast the source key set when small — it's the dim side);
        - only those files are rewritten (left join + conditional
          column rebuild);
        - not-matched source rows are appended as new clustered files.

        ``when_matched_update``: ``"*"`` sets every non-key column from
        the same-named source column; or a dict {target_col: SQL expr}
        where source columns are visible with a ``src_`` prefix.
        ``when_matched_delete``: True or a SQL condition (over target
        cols + ``src_`` cols) — reference `merge_sales_events.sql:23`
        pairs the merge with a follow-up delete.

        ``when_not_matched_by_source_*`` (Spark 3.4+/Iceberg MERGE
        extension; beyond the reference surface): acts on TARGET rows
        with no source key match. ``_delete`` is True or a SQL
        condition over target columns; ``_update`` is {col: SQL expr}
        over target columns applied to the anti rows the delete clause
        left alive (clauses evaluate delete-first, Spark's order).
        Copy-on-write rewrites every file holding a qualifying anti
        row; merge-on-read position-tombstones them (and re-appends
        updated images) — at scale, prefer a selective delete
        condition: an unconditional by-source clause touches the
        whole table by definition.

        ``branch`` stages the whole merge on a branch head (Iceberg's
        ``spark.wap.branch`` DML): target state is read from, and the
        commit lands on, the branch — main is untouched until
        fast_forward.

        ``schema_evolution`` (SQL: ``MERGE WITH SCHEMA EVOLUTION INTO``,
        the Spark 4 / Iceberg clause): source columns missing from the
        target are ADDED first (metadata-only, null default — old files
        never rewritten), so ``UPDATE SET *`` / ``INSERT *`` carry the
        new columns through. Without the clause, unknown source columns
        are ignored (the pre-existing contract).
        """
        snap = self._ref_snapshot(branch)
        if snap is None:
            raise ValueError("merge into empty table; use append")
        src = source.select(
            *[F.col(c).alias(f"src_{c}") for c in source.columns],
            F.lit(True).alias("_src_match"),
        ).cache()
        try:
            # One materialization of the cached source yields everything we
            # need driver-side: row count (broadcast decision) and key
            # cardinality (MERGE's multiple-matching-rows check).
            key_cols = [F.col(f"src_{k}") for k in on]
            nonnull = key_cols[0].isNotNull()
            for c in key_cols[1:]:
                nonnull = nonnull & c.isNotNull()
            stats = src.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(nonnull, 1)).alias("n_keyed"),
                F.countDistinct(*key_cols).alias("n_distinct"),
            ).first()
            src_rows = stats["n"]
            if stats["n_distinct"] < stats["n_keyed"]:
                # Iceberg/Spark MERGE raises only when a TARGET row
                # matches more than one source row. Duplicate source
                # keys matching an existing target key guarantee it;
                # duplicates matching nothing are a legal insert-only
                # merge, so probe the target before raising. (NULL keys
                # never equality-match, so they're exempt.) The probe
                # job runs only on the duplicate path.
                dup_keys = (
                    src.groupBy(*key_cols)
                    .agg(F.count(F.lit(1)).alias("_dup_n"))
                    .filter(F.col("_dup_n") > 1)
                    .drop("_dup_n")
                )
                tgt_keys = self._read_with_deletes(
                    snap, self._meta["current_schema_version"]
                ).select(*on)
                dup_cond = None
                for k in on:
                    c = tgt_keys[k] == dup_keys[f"src_{k}"]
                    dup_cond = c if dup_cond is None else (dup_cond & c)
                dup_matched = (
                    tgt_keys.join(F.broadcast(dup_keys), dup_cond, "left_semi")
                    .limit(1).count()
                )
                if dup_matched:
                    raise ValueError(
                        "MERGE source has duplicate join keys "
                        f"({stats['n_keyed'] - stats['n_distinct']} extra rows); "
                        "a target row would match multiple source rows"
                    )
            # Broadcast the source only while it's dimension-sized; a
            # corpus-scale MERGE source must shuffle-join or the broadcast
            # OOMs the executors. (Iceberg's MERGE makes the same choice via
            # Spark's join planning.)
            src_for_join = F.broadcast(src) if src_rows <= 1_000_000 else src

            # Schema evolution is applied only AFTER every validation
            # that can reject the merge (empty-table ref check above,
            # duplicate-key check) — a refused merge must not leave the
            # target schema half-evolved (ADVICE r10). add_column is
            # metadata-only, so `snap` stays valid.
            if schema_evolution:
                existing = {f.name for f in self._fields()}
                for sf in source.schema.fields:
                    if sf.name not in existing:
                        self.add_column(sf.name, sf.dataType.simpleString())
            fields = self._fields()
            fnames = [f.name for f in fields]

            # 1. which target files contain matched keys — and how many
            # matching rows each holds (same probe job, no re-read later)
            keys_probe = self._read_with_deletes(
                snap, self._meta["current_schema_version"], with_file_path=True
            )
            join_cond = None
            for k in on:
                c = keys_probe[k] == src[f"src_{k}"]
                join_cond = c if join_cond is None else (join_cond & c)
            per_file = (
                keys_probe.join(src_for_join, join_cond, "inner")
                .groupBy("_lake_file").count().collect()
            )
            norm = {_strip_scheme(r["_lake_file"]) for r in per_file}
            matched_rows = sum(r["count"] for r in per_file)
            bys_upd = when_not_matched_by_source_update
            bys_del = when_not_matched_by_source_delete
            bys_norm: set[str] = set()
            bys_rows = 0
            if bys_upd or bys_del is not None:
                # files holding anti-matched rows the by-source clauses
                # touch: with an update clause every anti row is touched;
                # delete-only with a condition prunes to qualifying files
                anti_probe = keys_probe.join(src_for_join, join_cond, "left_anti")
                if not bys_upd and isinstance(bys_del, str):
                    anti_probe = anti_probe.filter(F.expr(bys_del))
                per_file_bys = anti_probe.groupBy("_lake_file").count().collect()
                bys_norm = {_strip_scheme(r["_lake_file"]) for r in per_file_bys}
                bys_rows = sum(r["count"] for r in per_file_bys)
            affected = [e for e in snap.files if os.path.join(self.path, e.path) in norm]
            cow_affected = [
                e for e in snap.files
                if os.path.join(self.path, e.path) in (norm | bys_norm)
            ]
            keep = [e for e in snap.files if e not in cow_affected]

            mor = self._row_op_mode("merge", mode) == "merge-on-read"
            upd = when_matched_update
            if upd == "*":
                upd = {c: f"src_{c}" for c in fnames if c not in on and f"src_{c}" in src.columns}

            # 2. apply matched actions — copy-on-write rewrites the
            # affected files; merge-on-read position-tombstones the
            # matched rows and appends their post-action images, leaving
            # every original file in place (write.merge.mode, the
            # Iceberg MoR MERGE).
            rewritten: list[FileEntry] = []
            new_dels: list[DeleteFileEntry] = []
            if affected and mor:
                tgt = self._read_with_deletes(
                    snap, self._meta["current_schema_version"],
                    entries=affected, with_file_path=True, with_pos=True,
                )
                cond = None
                for k in on:
                    c = tgt[k] == src[f"src_{k}"]
                    cond = c if cond is None else (cond & c)
                # matched rows feed BOTH the tombstone write and the
                # image write — cache the (small) matched set once
                joined = tgt.join(src, cond, "inner").cache()
                try:
                    new_dels = self._write_delete_files(
                        joined.select(
                            F.regexp_replace(F.col("_lake_file"), "^file:/+", "/").alias("file_path"),
                            F.col("_lake_pos").alias("pos"),
                        )
                    )
                    images = joined
                    if when_matched_delete is not None:
                        del_cond = (
                            F.lit(True) if when_matched_delete is True
                            else F.expr(str(when_matched_delete))
                        )
                        images = images.filter(~del_cond)
                    # WHEN MATCHED [AND cond] THEN UPDATE: rows failing
                    # the condition re-append unchanged (they were
                    # tombstoned with the rest of the matched set)
                    upd_gate = (
                        F.expr(when_matched_update_condition)
                        if when_matched_update_condition else F.lit(True)
                    )
                    out_cols = [
                        F.when(upd_gate, F.expr(upd[f.name]).cast(f.type))
                        .otherwise(F.col(f.name)).alias(f.name)
                        if upd and f.name in upd else F.col(f.name)
                        for f in fields
                    ]
                    rewritten = self._write_files(images.select(*out_cols))
                finally:
                    joined.unpersist()
            elif cow_affected and not mor:
                tgt = self._read_with_deletes(
                    snap, self._meta["current_schema_version"], entries=cow_affected
                )
                cond = None
                for k in on:
                    c = tgt[k] == src[f"src_{k}"]
                    cond = c if cond is None else (cond & c)
                joined = tgt.join(src, cond, "left")
                matched = F.coalesce(F.col("_src_match"), F.lit(False))
                if when_matched_delete is not None:
                    del_cond = matched if when_matched_delete is True else (
                        matched & F.expr(str(when_matched_delete))
                    )
                    joined = joined.filter(~del_cond)
                if bys_del is not None:
                    bdc = F.lit(True) if bys_del is True else F.expr(str(bys_del))
                    joined = joined.filter(~(~matched & bdc))
                upd_gate = matched if when_matched_update_condition is None \
                    else (matched & F.expr(when_matched_update_condition))
                out_cols = []
                for f in fields:
                    e = F.col(f.name)
                    if bys_upd and f.name in bys_upd:
                        # by-source update: anti rows the delete clause
                        # left alive take the target-only expression
                        e = F.when(
                            ~matched, F.expr(bys_upd[f.name]).cast(f.type)
                        ).otherwise(e)
                    if upd and f.name in upd:
                        e = F.when(
                            upd_gate, F.expr(upd[f.name]).cast(f.type)
                        ).otherwise(e)
                    out_cols.append(e.alias(f.name))
                rewritten = self._write_files(joined.select(*out_cols))

            # 2b. by-source actions under merge-on-read: tombstone the
            # touched anti rows; re-append updated images (deleted rows
            # get no image). O(anti rows in qualifying files).
            if mor and (bys_upd or bys_del is not None) and bys_norm:
                bys_entries = [
                    e for e in snap.files
                    if os.path.join(self.path, e.path) in bys_norm
                ]
                tgt2 = self._read_with_deletes(
                    snap, self._meta["current_schema_version"],
                    entries=bys_entries, with_file_path=True, with_pos=True,
                )
                acond = None
                for k in on:
                    c = tgt2[k] == src[f"src_{k}"]
                    acond = c if acond is None else (acond & c)
                anti = tgt2.join(src_for_join, acond, "left_anti").cache()
                try:
                    bdc = (
                        F.lit(True) if bys_del is True
                        else F.expr(str(bys_del)) if bys_del is not None
                        else F.lit(False)
                    )
                    touched = anti if bys_upd else anti.filter(bdc)
                    new_dels += self._write_delete_files(
                        touched.select(
                            F.regexp_replace(
                                F.col("_lake_file"), "^file:/+", "/"
                            ).alias("file_path"),
                            F.col("_lake_pos").alias("pos"),
                        )
                    )
                    if bys_upd:
                        upd_rows = (
                            anti.filter(~bdc) if bys_del is not None else anti
                        )
                        out2 = [
                            F.expr(bys_upd[f.name]).cast(f.type).alias(f.name)
                            if f.name in bys_upd else F.col(f.name)
                            for f in fields
                        ]
                        rewritten += self._write_files(upd_rows.select(*out2))
                finally:
                    anti.unpersist()

            # 3. not-matched inserts: source anti-join target keys
            inserted: list[FileEntry] = []
            if when_not_matched_insert:
                tgt_keys = self._read_with_deletes(
                    snap, self._meta["current_schema_version"]
                ).select(*on).distinct()
                anti_cond = None
                for k in on:
                    c = src[f"src_{k}"] == tgt_keys[k]
                    anti_cond = c if anti_cond is None else (anti_cond & c)
                anti = src.join(tgt_keys, anti_cond, "left_anti")
                if isinstance(when_not_matched_insert, str):
                    # WHEN NOT MATCHED AND <cond> THEN INSERT — the
                    # condition scopes over SOURCE columns (bare
                    # names). Filter BEFORE projecting to the target
                    # schema so source-only columns (a CDC op flag,
                    # say) stay referencable: rewrite each bare source
                    # column to its src_-prefixed spelling.
                    cond = when_not_matched_insert
                    for c in sorted(
                        (c[len("src_"):] for c in src.columns
                         if c.startswith("src_")),
                        key=len, reverse=True,
                    ):
                        # rewrite only OUTSIDE single-quoted literals
                        # (odd segments of a quote split are inside)
                        cond = "'".join(
                            re.sub(rf"(?<![\w.]){re.escape(c)}(?![\w(])",
                                   f"src_{c}", seg) if i % 2 == 0 else seg
                            for i, seg in enumerate(cond.split("'"))
                        )
                    anti = anti.filter(F.expr(cond))
                new_rows = anti.select(
                    *[F.col(f"src_{f.name}").cast(f.type).alias(f.name) for f in fields
                      if f"src_{f.name}" in src.columns]
                )
                if new_rows.columns:
                    inserted = self._write_files(new_rows)

            if mor:
                snap_out = self._commit(
                    "merge", list(snap.files) + rewritten + inserted,
                    {"matched_rows": matched_rows,
                     "by_source_rows": bys_rows,
                     "inserted_rows": sum(e.rows for e in inserted),
                     "added_delete_files": len(new_dels),
                     "mode": "merge-on-read"},
                    branch=branch,
                    delete_files=list(snap.delete_files) + new_dels,
                )
                self._maybe_auto_compact(branch)
            else:
                snap_out = self._commit(
                    "merge", keep + rewritten + inserted,
                    {"matched_rows": matched_rows,
                     "by_source_rows": bys_rows,
                     "inserted_rows": sum(e.rows for e in inserted),
                     "rewritten_files": len(cow_affected)},
                    branch=branch,
                )
            return snap_out
        finally:
            src.unpersist()

    # -- schema evolution (reference D6-D8) ----------------------------------

    def _bump_schema(self, fields: list[Field]) -> None:
        """Record a new schema version in _meta (no write — callers run
        this inside ``_locked_meta_mutation``)."""
        v = self._meta["current_schema_version"] + 1
        self._meta["schemas"][str(v)] = [f.to_json() for f in fields]
        self._meta["current_schema_version"] = v

    def add_column(self, name: str, type_: str, default: Any = None) -> None:
        """ALTER TABLE ADD COLUMN ... DEFAULT — reference D6
        (`schema_evolution_sales_events.sql:3-4`). Metadata-only: old
        files never rewritten; reads fill the default."""
        def mutate():
            fields = self._fields()
            if any(f.name == name for f in fields):
                raise ValueError(f"column {name} exists")
            fid = self._meta["next_field_id"]
            self._meta["next_field_id"] = fid + 1
            fields.append(Field(fid, name, type_, default))
            self._bump_schema(fields)

        self._locked_meta_mutation(mutate)

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — reference D7 (sku → product_sku).
        Field-id mapping keeps old files readable without rewrite.

        Pending equality-delete files follow the rename (Iceberg binds
        equality deletes by field id, so a renamed key keeps deleting):
        ``equality_cols`` is rewritten to the new name while
        ``file_cols`` freezes the physical parquet column names the
        read path selects by."""
        def mutate():
            fields = self._fields()
            for f in fields:
                if f.name == old:
                    f.name = new
                    self._bump_schema(fields)
                    for sj in self._meta.get("snapshots", []):
                        for dj in sj.get("delete_files", []):
                            eq = dj.get("equality_cols") or []
                            if dj.get("content") == "equality" and old in eq:
                                if not dj.get("file_cols"):
                                    dj["file_cols"] = list(eq)
                                dj["equality_cols"] = [
                                    new if c == old else c for c in eq
                                ]
                    # Iceberg partition specs / sort orders reference
                    # columns by FIELD ID, so renames follow into them
                    # automatically; ours store the column NAME — keep
                    # them in sync or the next write/DML would compute
                    # partition values from a column that no longer
                    # resolves.
                    for tj in self._meta.get("partition_spec", []):
                        if tj.get("column") == old:
                            tj["column"] = new
                    if self._meta.get("sort_order"):
                        self._meta["sort_order"] = [
                            new if c == old else c
                            for c in self._meta["sort_order"]
                        ]
                    return
            raise KeyError(old)

        self._locked_meta_mutation(mutate)

    def alter_column_type(self, name: str, new_type: str) -> None:
        """ALTER COLUMN TYPE (widening) — reference D8 (int → bigint,
        decimal widening). Old files cast on read."""
        def mutate():
            fields = self._fields()
            for f in fields:
                if f.name == name:
                    f.type = new_type
                    self._bump_schema(fields)
                    return
            raise KeyError(name)

        self._locked_meta_mutation(mutate)

    def drop_column(self, name: str) -> None:
        def mutate():
            fields = [f for f in self._fields() if f.name != name]
            if len(fields) == len(self._fields()):
                raise KeyError(name)
            if name in self.identifier_fields:
                raise ValueError(
                    f"column {name} is a declared identifier field; "
                    "SET IDENTIFIER FIELDS without it (or DROP "
                    "IDENTIFIER FIELDS) before dropping the column"
                )
            snap = self._snapshot()
            if snap is not None and any(
                d.content == "equality" and name in d.equality_cols
                for d in snap.delete_files
            ):
                # A live equality tombstone keyed on this column would
                # make every later read unresolvable. Compact first
                # (rewrite_data_files folds tombstones), then drop.
                raise ValueError(
                    f"column {name} is referenced by a pending equality "
                    "delete; run rewrite_data_files before dropping it"
                )
            self._bump_schema(fields)

        self._locked_meta_mutation(mutate)

    # -- identifier fields (Iceberg schema identifier-field-ids) -------------

    def set_identifier_fields(self, names: list[str]) -> None:
        """ALTER TABLE ... SET IDENTIFIER FIELDS — declare the table's
        row-identity columns (Iceberg's schema-level
        ``identifier-field-ids``, the key Flink-style CDC writers
        default their equality fields to). Stored as FIELD IDS, not
        names, so a later RENAME COLUMN keeps the declaration bound to
        the same data (the Iceberg bind-by-id rule)."""
        def mutate():
            by_name = {f.name: f.id for f in self._fields()}
            missing = [n for n in names if n not in by_name]
            if missing:
                raise KeyError(f"unknown identifier column(s) {missing}")
            self._meta["identifier-field-ids"] = [by_name[n] for n in names]

        self._locked_meta_mutation(mutate)

    def drop_identifier_fields(self) -> None:
        """ALTER TABLE ... DROP IDENTIFIER FIELDS — clear the declared
        row identity; key-defaulting CDC writes then require explicit
        ``on=`` again."""
        def mutate():
            self._meta.pop("identifier-field-ids", None)

        self._locked_meta_mutation(mutate)

    @property
    def identifier_fields(self) -> list[str]:
        """The declared identifier fields under their CURRENT-schema
        names (ids resolve through renames)."""
        ids = self._meta.get("identifier-field-ids") or []
        by_id = {f.id: f.name for f in self._fields()}
        return [by_id[i] for i in ids if i in by_id]

    # -- partition-spec evolution (Iceberg spec evolution) -------------------

    def add_partition_field(self, transform: str) -> None:
        """ALTER TABLE ... ADD PARTITION FIELD — Iceberg partition-spec
        evolution: future writes cluster by the new spec; existing
        files keep their old per-file partition values (pruning reads
        partition values per FileEntry, so both generations prune
        under whichever keys they actually have). No data rewrite."""
        new = parse_spec([transform])[0]

        def mutate():
            spec = self._meta["partition_spec"]
            if any(Transform.from_json(t) == new for t in spec):
                raise ValueError(f"partition field {transform} already present")
            # spec history: Iceberg keeps every spec ever used (files
            # reference their spec by id); record the outgoing spec so
            # the metadata export can emit the full partition-specs
            # list with correct per-manifest spec ids
            self._meta.setdefault("partition_spec_history", []).append(
                [dict(t) for t in spec]
            )
            spec.append(new.to_json())

        self._locked_meta_mutation(mutate)

    def drop_partition_field(self, transform: str) -> None:
        target = parse_spec([transform])[0]

        def mutate():
            before = len(self._meta["partition_spec"])
            kept = [
                t for t in self._meta["partition_spec"]
                if Transform.from_json(t) != target
            ]
            if len(kept) == before:
                raise KeyError(transform)
            self._meta.setdefault("partition_spec_history", []).append(
                [dict(t) for t in self._meta["partition_spec"]]
            )
            self._meta["partition_spec"] = kept

        self._locked_meta_mutation(mutate)

    def replace_partition_field(self, old: str, new: str) -> None:
        """ALTER TABLE ... REPLACE PARTITION FIELD old WITH new —
        Iceberg's atomic spec-evolution step (e.g. days(ts) →
        hours(ts)): ONE new spec generation replaces the field
        in place, where a drop+add pair would record two generations
        and briefly expose a spec without either key to a concurrent
        writer. No data rewrite; both file generations keep pruning
        under the values they carry."""
        target = parse_spec([old])[0]
        incoming = parse_spec([new])[0]

        def mutate():
            spec = self._meta["partition_spec"]
            idx = [i for i, t in enumerate(spec)
                   if Transform.from_json(t) == target]
            if not idx:
                raise KeyError(old)
            if any(Transform.from_json(t) == incoming for t in spec):
                raise ValueError(f"partition field {new} already present")
            self._meta.setdefault("partition_spec_history", []).append(
                [dict(t) for t in spec]
            )
            spec[idx[0]] = incoming.to_json()

        self._locked_meta_mutation(mutate)

    # -- metadata tables (reference T1/T4/T5) --------------------------------

    def snapshots(self) -> DataFrame:
        """`SELECT snapshot_id, committed_at FROM t.snapshots` —
        reference T1 (`bulk_insert_sales_events.sql:14-17`)."""
        rows = [
            (
                s["snapshot_id"],
                s.get("parent_id"),
                s["timestamp_ms"],
                s["operation"],
                sum(f["rows"] for f in s["files"]),
                len(s["files"]),
                len(s.get("delete_files", [])),
                json.dumps(s.get("summary", {}), default=_json_safe, sort_keys=True),
            )
            for s in self._meta["snapshots"]
        ]
        return local_frame(
            self.spark, rows,
            "snapshot_id bigint, parent_id bigint, committed_at_ms bigint, "
            "operation string, total_rows bigint, file_count int, "
            "delete_file_count int, summary string",
        ).withColumn("committed_at", F.timestamp_millis(F.col("committed_at_ms")))

    def files(self, snapshot_id: int | None = None) -> DataFrame:
        """`t.files` metadata table — reference T4."""
        snap = self._snapshot(snapshot_id)
        rows = [
            (e.path, e.rows, e.bytes, e.schema_version, json.dumps(e.stats, default=_json_safe))
            for e in (snap.files if snap else [])
        ]
        return local_frame(
            self.spark, rows, "file_path string, record_count bigint, file_size_bytes bigint, "
                  "schema_version int, stats_json string"
        )

    def delete_files(self, snapshot_id: int | None = None) -> DataFrame:
        """`t.delete_files` metadata table (Iceberg v2): the snapshot's
        position-delete files with row counts and the data files they
        reference — the merge-on-read debt that compaction pays down."""
        snap = self._snapshot(snapshot_id)
        rows = [
            (
                d.path,
                "position-deletes" if d.content == "position" else "equality-deletes",
                d.rows,
                d.bytes,
                json.dumps(sorted(d.referenced)),
                json.dumps(d.equality_cols),
                d.seq or 0,
            )
            for d in (snap.delete_files if snap else [])
        ]
        return local_frame(
            self.spark, rows, "file_path string, content string, record_count bigint, "
                  "file_size_bytes bigint, referenced_data_files string, "
                  "equality_columns string, sequence_number bigint"
        )

    def position_deletes(self, snapshot_id: int | None = None) -> DataFrame:
        """`t.position_deletes` metadata table (Iceberg spec): one row
        per position-delete TOMBSTONE live in the snapshot —
        ``(file_path, pos, delete_file_path, sequence_number)``.
        ``.delete_files`` lists the delete FILES; this lists their
        ROWS — the view compaction planners and debuggers join against
        data to see exactly which records are dead. Equality deletes
        do not appear (they carry keys, not positions — Iceberg's
        table is position-content only). The scan unions the
        dimension-sized delete parquets; no data file is read."""
        snap = self._snapshot(snapshot_id)
        schema = ("file_path string, pos bigint, delete_file_path string, "
                  "sequence_number bigint")
        pos_dels = [d for d in (snap.delete_files if snap else [])
                    if d.content == "position"]
        if not pos_dels:
            return local_frame(self.spark, [], schema)
        # ONE multi-path scan (a per-file unionByName builds a plan
        # that grows with delete-file count — hundreds deep on a busy
        # MoR table); the owning delete file comes from
        # input_file_name() and its sequence number from a literal map
        # (delete files are dimension-sized, the map is KBs)
        abs_to_rel = {os.path.join(self.path, d.path): d.path
                      for d in pos_dels}
        seq_map = F.create_map(*[
            x for d in pos_dels
            for x in (F.lit(d.path), F.lit(d.seq or 0))
        ])
        # input_file_name() returns a URI whose path is PERCENT-ENCODED
        # (space → %20), so an exact full-path match against d.path
        # would silently miss and emit NULL owner columns (ADVICE r11).
        # Match on the BASENAME instead — file names here are
        # uuid-generated, so they are collision-free and encoding-free;
        # map BOTH the raw and the URI-quoted spelling defensively for
        # foreign delete files whose names carry encodable characters.
        import urllib.parse as _up
        base_pairs: dict[str, str] = {}
        for d in pos_dels:
            b = os.path.basename(d.path)
            for key in {b, _up.quote(b)}:
                if base_pairs.get(key, d.path) != d.path:
                    raise ValueError(
                        f"position-delete file basename {key!r} is "
                        "ambiguous across delete files; cannot attribute "
                        "tombstone ownership"
                    )
                base_pairs[key] = d.path
        rel_map = F.create_map(*[
            x for k, r in base_pairs.items()
            for x in (F.lit(k), F.lit(r))
        ])
        own = F.element_at(F.split(F.input_file_name(), "/"), -1)
        rel = F.element_at(rel_map, own)
        return self.spark.read.schema(_POS_DELETE_DDL).parquet(*abs_to_rel).select(
            # same URI normalization as the MoR read path — a foreign
            # writer may record file:///… spellings
            F.regexp_replace("file_path", "^file:/+", "/")
            .cast("string").alias("file_path"),
            F.col("pos").cast("bigint"),
            rel.alias("delete_file_path"),
            F.element_at(seq_map, rel).cast("bigint")
            .alias("sequence_number"),
        )

    def entries(self, snapshot_id: int | None = None) -> DataFrame:
        """`t.entries` metadata table (Iceberg manifest entries): one
        row per data file in the snapshot with its lifecycle ``status``
        — 1 (ADDED by this snapshot) or 0 (EXISTING, carried forward) —
        and the sequence number of the commit that added it. The status
        split is what incremental readers and compaction planners key
        on: ADDED rows are this commit's change set."""
        snap = self._snapshot(snapshot_id)
        if snap is None:
            rows = []
        else:
            # ADDED iff the file's data sequence number IS this
            # snapshot's id (seq is stamped with the committing
            # snapshot at commit time) — exact even after the parent
            # snapshot has been expired, where a parent-diff would
            # misreport every carried file as ADDED
            rows = [
                (
                    1 if (e.seq or 0) == snap.snapshot_id else 0,
                    snap.snapshot_id,
                    e.seq or 0,
                    e.path,
                    e.rows,
                    e.bytes,
                )
                for e in snap.files
            ]
        return local_frame(
            self.spark, rows, "status int, snapshot_id bigint, sequence_number bigint, "
                  "file_path string, record_count bigint, file_size_bytes bigint"
        )

    def all_files(self) -> DataFrame:
        """`t.all_files` metadata table: every data file referenced by
        ANY retained snapshot (deduped by path), tagged with the first
        and last snapshot that references it — the view maintenance
        jobs use to find files only historical snapshots pin (expire
        candidates) without opening a single manifest twice."""
        first: dict[str, list] = {}
        for s in self._meta["snapshots"]:
            for f in s["files"]:
                rec = first.setdefault(
                    f["path"],
                    [s["snapshot_id"], s["snapshot_id"], f["rows"], f["bytes"]],
                )
                rec[1] = s["snapshot_id"]
        rows = [
            (p, r[0], r[1], r[2], r[3]) for p, r in sorted(first.items())
        ]
        return local_frame(
            self.spark, rows, "file_path string, first_snapshot_id bigint, "
                  "last_snapshot_id bigint, record_count bigint, "
                  "file_size_bytes bigint"
        )

    def maintenance_advice(self) -> DataFrame:
        """Metadata-only merge-on-read debt advisory (VERDICT r4 item 4;
        reference analogue: maintenance acceptance, spec `:85,:104`).
        BASELINE.md measures a 4.9× read tax at 5 outstanding equality
        delete files — this surfaces that measurement operationally,
        from manifests alone (zero data reads):

        - ``read_amplification_est``: 1 + Σ_d affected_bytes(d) /
          total_data_bytes — each outstanding delete file costs roughly
          one extra pass over the data files it applies to (position
          deletes: the files they reference; equality deletes: every
          file with an older sequence number).
        - ``advice``: 'compact' once the outstanding delete-file count
          reaches ``write.delete.compact-advice-after-files`` (default
          3), else 'ok'.

        The opt-in ``write.delete.auto-compact-after-files=N`` property
        goes one further: any row-level op that leaves ≥ N outstanding
        delete files triggers ``rewrite_position_delete_files``
        post-commit, folding the tombstones in."""
        return local_frame(
            self.spark, [self.maintenance_advice_row()],
            "delete_file_count bigint, position_delete_files bigint, "
            "equality_delete_files bigint, delete_rows bigint, "
            "affected_data_files bigint, total_data_files bigint, "
            "read_amplification_est double, advice string",
        )

    def maintenance_advice_row(self) -> tuple:
        """The advisory's raw row — pure metadata arithmetic, no Spark
        (what `bench.py`'s maintenance_advice phase times: driver-side
        manifest work must stay O(metadata), never O(data))."""
        snap = self._snapshot()
        props = self._meta.get("properties", {}) or {}
        threshold = int(props.get("write.delete.compact-advice-after-files", 3))
        files = list(snap.files) if snap else []
        dels = list(snap.delete_files) if snap else []
        total_bytes = sum(e.bytes for e in files)
        affected_paths: set[str] = set()
        extra_bytes = 0
        for d in dels:
            if d.content == "position":
                hit = [e for e in files if e.path in set(d.referenced)]
            else:
                hit = [e for e in files if (e.seq or 0) < (d.seq or 0)]
            affected_paths.update(e.path for e in hit)
            extra_bytes += sum(e.bytes for e in hit)
        amp = 1.0 + (extra_bytes / total_bytes if total_bytes else 0.0)
        return (
            len(dels),
            sum(1 for d in dels if d.content == "position"),
            sum(1 for d in dels if d.content == "equality"),
            sum(d.rows for d in dels),
            len(affected_paths),
            len(files),
            round(amp, 3),
            "compact" if len(dels) >= threshold else "ok",
        )

    def _maybe_auto_compact(self, branch: str | None = None) -> None:
        """Post-commit hook for the opt-in
        ``write.delete.auto-compact-after-files=N`` property: once the
        current snapshot carries ≥ N outstanding delete files, fold
        them with ``rewrite_position_delete_files`` (the targeted MoR
        debt compactor — clean files are never rewritten). Branch-
        staged DML never auto-compacts (publish decides)."""
        if branch is not None:
            return
        props = self._meta.get("properties", {}) or {}
        n = props.get("write.delete.auto-compact-after-files")
        if not n:
            return
        snap = self._snapshot()
        if snap is not None and len(snap.delete_files) >= int(n):
            self.rewrite_position_delete_files()

    def manifests(self, snapshot_id: int | None = None) -> DataFrame:
        """`t.manifests` metadata table: per-snapshot manifest summary
        (LakeTable keeps one data + one delete manifest per snapshot in
        its JSON metadata; the Iceberg export materializes them as
        separate files). Columns mirror Iceberg's manifests table."""
        snap = self._snapshot(snapshot_id)
        rows = []
        if snap:
            rows.append(
                ("data", len(snap.files), sum(e.rows for e in snap.files),
                 sum(e.bytes for e in snap.files), snap.snapshot_id)
            )
            if snap.delete_files:
                rows.append(
                    ("deletes", len(snap.delete_files),
                     sum(d.rows for d in snap.delete_files),
                     sum(d.bytes for d in snap.delete_files), snap.snapshot_id)
                )
        return local_frame(
            self.spark, rows, "content string, file_count bigint, record_count bigint, "
                  "total_size_bytes bigint, added_snapshot_id bigint"
        )

    def refs(self) -> DataFrame:
        """`t.refs` metadata table — every named ref (tags and
        branches) with its snapshot id and declared retention,
        mirroring Iceberg's refs table columns."""
        retention = self._meta.get("ref_retention") or {}

        def _row(name, typ, sid):
            r = retention.get(name) or {}
            return (name, typ, sid, r.get("max-ref-age-ms"),
                    r.get("min-snapshots-to-keep"))

        rows = [
            _row(name, "tag", sid)
            for name, sid in sorted((self._meta.get("refs") or {}).items())
        ] + [
            _row(name, "branch", sid)
            for name, sid in sorted((self._meta.get("branches") or {}).items())
            if sid is not None
        ]
        return local_frame(
            self.spark, rows, "name string, type string, snapshot_id bigint, "
                  "max_reference_age_in_ms bigint, min_snapshots_to_keep int"
        )

    def partitions(self, snapshot_id: int | None = None) -> DataFrame:
        """`t.partitions` metadata table — per-partition file/row/byte
        totals (Iceberg's partitions table, the input to small-file and
        skew diagnostics). Aggregated from manifest-level FileEntry
        stats: no data files are read."""
        snap = self._snapshot(snapshot_id)
        files = snap.files if snap else []
        dels = snap.delete_files if snap else []
        pos_ref = {p for d in dels if d.content == "position" for p in d.referenced}
        max_eq_seq = max((d.seq for d in dels if d.content == "equality"), default=0)
        agg: dict[str, list[int]] = {}
        for e in files:
            key = json.dumps(e.partition, sort_keys=True)
            tot = agg.setdefault(key, [0, 0, 0, 0])
            tot[0] += 1
            tot[1] += e.rows
            tot[2] += e.bytes
            # files with pending merge-on-read debt (Iceberg's partitions
            # table reports delete counts alongside data record counts:
            # record_count here is the DATA rows; tombstoned rows are
            # netted out at read time)
            if e.path in pos_ref or (e.seq or 0) < max_eq_seq:
                tot[3] += 1
        rows = [
            (k, v[0], v[1], v[2], v[3]) for k, v in sorted(agg.items())
        ]
        return local_frame(
            self.spark, rows, "partition string, file_count bigint, record_count bigint, "
                  "total_size_bytes bigint, delete_affected_file_count bigint"
        )

    def _cluster_grid_cols(self, kind: str, columns: list[str], bits: int):
        """Shared scaffolding for the multi-dimensional clustering
        rewrites (zorder/hilbert): partition guard, numeric-type check,
        per-column min/max bounds from MANIFEST stats (falling back to
        one agg job for columns with missing footer stats), and the
        clamped [0, 2^bits) grid-cell expression per column. Returns
        ``(df, scaled_cols)``, or ``(None, None)`` for an empty table.
        One place for every future fix — the two curves must never
        diverge in how they scale coordinates."""
        if self._meta.get("partition_spec"):
            raise ValueError(f"rewrite_{kind} requires an unpartitioned table")
        snap = self._snapshot()
        if snap is None or not snap.files:
            return None, None
        numeric = {"int", "bigint", "smallint", "tinyint", "double", "float"}
        for f in self._fields():
            if f.name in columns and f.type.lower() not in numeric:
                raise ValueError(
                    f"{kind} column {f.name!r} is {f.type}, not numeric")
        df = self._read_with_deletes(snap, self._meta["current_schema_version"])

        bounds: dict[str, tuple[float, float]] = {}
        for c in columns:
            los = [e.stats[c][0] for e in snap.files if c in e.stats]
            his = [e.stats[c][1] for e in snap.files if c in e.stats]
            if len(los) == len(snap.files):
                bounds[c] = (float(min(los)), float(max(his)))
        missing = [c for c in columns if c not in bounds]
        if missing:
            row = df.agg(
                *[F.min(c).alias(f"lo_{c}") for c in missing],
                *[F.max(c).alias(f"hi_{c}") for c in missing],
            ).first()
            for c in missing:
                lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
                if lo is None or hi is None:
                    raise ValueError(
                        f"{kind} column {c!r} has no non-null values — "
                        "cannot derive clustering bounds")
                bounds[c] = (float(lo), float(hi))

        top = (1 << bits) - 1
        scaled_cols = []
        for c in columns:
            lo, hi = bounds[c]
            span = (hi - lo) or 1.0
            scaled_cols.append(F.least(
                F.lit(top),
                F.greatest(
                    F.lit(0),
                    ((F.col(c).cast("double") - F.lit(lo))
                     / F.lit(span) * top).cast("int"),
                ),
            ))
        return df, scaled_cols

    def _relayout(self, op: str, key: str, columns: list[str], snap: Snapshot,
                  shaped: DataFrame) -> dict:
        """The layout rewrites' shared tail: replace every live file of
        ``snap`` with ``shaped``, written as laid out."""
        new_files = self._write_files(shaped, cluster=False)
        self._commit(op, new_files, {key: ",".join(columns),
                                     "rewritten_files": len(snap.files),
                                     "added_files": len(new_files)})
        return {"rewritten_data_files_count": len(snap.files),
                "added_data_files_count": len(new_files)}

    def rewrite_zorder(self, columns: list[str], target_files: int = 16) -> dict:
        """Z-order re-layout (Iceberg's ``rewrite_data_files`` with
        ``strategy => 'sort', sort_order => 'zorder(a, b)'``): rewrite
        the table so file boundaries follow the Z-curve over the given
        NUMERIC columns. Each output file then covers a compact
        hyper-rectangle, so footer-stats pruning works on EVERY z
        column at once — a linear sort prunes only its leading column.

        Mechanics: scale each column to 16-bit using min/max taken from
        MANIFEST stats (no data read; falls back to one agg job for
        columns with missing stats), bit-interleave into a z-value,
        ``repartitionByRange`` on it (one range exchange — the same
        cost class as any sort-based rewrite), one file per range.
        Unpartitioned tables only: a partitioned table's layout is
        already pinned to its spec (Iceberg z-orders within partitions;
        LakeTable keeps the two strategies separate and honest)."""
        df, scaled_cols = self._cluster_grid_cols("zorder", columns, bits=16)
        if df is None:
            return {"rewritten_data_files_count": 0, "added_data_files_count": 0}
        snap = self._snapshot()
        k, bits = len(columns), 16
        z = F.lit(0).cast("bigint")
        for j, scaled in enumerate(scaled_cols):
            for i in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(scaled, i).bitwiseAND(F.lit(1)).cast("bigint"),
                    i * k + j,
                )
        shaped = (
            df.withColumn("_z", z)
            .repartitionByRange(target_files, "_z")
            .sortWithinPartitions("_z")
        )
        return self._relayout("rewrite_zorder", "zorder_by", columns, snap, shaped)

    def rewrite_hilbert(self, columns: list[str],
                        target_files: int = 16) -> dict:
        """Hilbert-curve re-layout (``strategy => 'sort', sort_order =>
        'hilbert(a, b)'``): like :meth:`rewrite_zorder` but file
        boundaries follow the HILBERT curve — the curve only ever steps
        to an adjacent grid cell, so every index range is one compact
        blob, where the Z-curve's diagonal jumps split ranges across
        distant rectangles. Measured: ~9–12% fewer files touched per
        square range query at non-quadrant-aligned file counts (100–
        1000 files); EQUAL when the file count is a power of 4 — both
        curves then split into exactly the same quadrants (probe table
        in BASELINE.md, pinned in tests/test_hilbert.py).

        Mechanics: identical scaling to :meth:`rewrite_zorder`
        (min/max from MANIFEST stats, no data read, agg fallback),
        then the curve position per row is computed by a vectorized
        Arrow UDF (`catalog/hilbert.py`, Skilling's transform — a
        bit-state machine no fixed interleave expression can encode;
        write-path-only Python, the ibucket budget class), one
        ``repartitionByRange`` exchange on it, one file per range.
        Bits per dimension shrink as dims grow (k·bits ≤ 63) so the
        index stays an exact BIGINT."""
        k = len(columns)
        bits = min(16, 63 // k)
        if bits < 1:
            # 64+ columns: zero bits per dimension — every row would
            # collapse to index 0 (and the uint shift arithmetic in
            # hilbert_index underflows). Fail loudly instead (ADVICE r11).
            raise ValueError(
                f"hilbert clustering supports at most 63 columns, got {k}"
            )
        df, scaled_cols = self._cluster_grid_cols("hilbert", columns, bits)
        if df is None:
            return {"rewritten_data_files_count": 0, "added_data_files_count": 0}
        snap = self._snapshot()

        from pyspark.sql.functions import pandas_udf

        from .hilbert import hilbert_index

        @pandas_udf("bigint")
        def _h(*cols):
            import numpy as np
            import pandas as _pd

            x = np.column_stack([s.to_numpy() for s in cols])
            return _pd.Series(hilbert_index(x, bits).astype(np.int64))

        shaped = (
            df.withColumn("_h", _h(*scaled_cols))
            .repartitionByRange(target_files, "_h")
            .sortWithinPartitions("_h")
        )
        return self._relayout("rewrite_hilbert", "hilbert_by", columns, snap, shaped)

    def rewrite_sort(self, columns: list[str], target_files: int = 16) -> dict:
        """Linear sort re-layout (Iceberg's ``rewrite_data_files`` with
        ``strategy => 'sort', sort_order => 'c1 [DESC], c2'``): rewrite
        the table so file boundaries follow the given sort order — one
        ``repartitionByRange`` exchange (range boundaries from Spark's
        sampled partitioner), files internally sorted. Footer stats on
        the LEADING column become disjoint ranges, so point/range
        predicates on it prune to ~1/target_files of the files; later
        columns order within ties (the classic linear-sort tradeoff —
        z-order covers the multi-column case). Unpartitioned tables
        only, matching :meth:`rewrite_zorder`'s honesty rule."""
        if self._meta.get("partition_spec"):
            raise ValueError("rewrite_sort requires an unpartitioned table")
        snap = self._snapshot()
        if snap is None or not snap.files:
            return {"rewritten_data_files_count": 0, "added_data_files_count": 0}
        known = {f.name for f in self._fields()}
        exprs = []
        for c in columns:
            m = re.match(r"(?i)^\s*(\w+)(?:\s+(asc|desc))?\s*$", c)
            if not m or m.group(1) not in known:
                raise ValueError(
                    f"unknown sort column {c!r}; columns: {sorted(known)}"
                )
            col = F.col(m.group(1))
            exprs.append(
                col.desc() if (m.group(2) or "").lower() == "desc" else col.asc()
            )
        df = self._read_with_deletes(snap, self._meta["current_schema_version"])
        shaped = (
            df.repartitionByRange(target_files, *exprs)
            .sortWithinPartitions(*exprs)
        )
        return self._relayout("rewrite_sort", "sort_by", columns, snap, shaped)

    def history(self) -> DataFrame:
        """`t.history` — reference T5 (snapshot refresh history)."""
        return self.snapshots().select(
            "committed_at", "snapshot_id", "parent_id",
            F.lit(True).alias("is_current_ancestor"),
        )

    # -- migrate / add_files (Iceberg's in-place table import) ---------------

    @classmethod
    def migrate_parquet(
        cls,
        spark: SparkSession,
        parquet_dir: str,
        dest_path: str,
    ) -> "LakeTable":
        """Iceberg's ``migrate`` / ``add_files`` procedure: register an
        existing plain-parquet directory as a catalog table WITHOUT
        rewriting a byte — the first snapshot's manifest points at the
        ORIGINAL files (absolute paths), with footer min/max stats
        collected so pruning works from commit one. Schema is inferred
        from the files.

        This is the migration on-ramp at 100 TB: adopting a petabyte
        of historical parquet costs one metadata pass (threaded footer
        reads), not a rewrite; `rewrite_data_files` later folds the
        external files into table-owned, spec-clustered layout
        incrementally if wanted. `remove_orphan_files` only sweeps the
        table's own directory, so imported source files are never
        collected."""
        import glob as _glob
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        src_files = sorted(
            _glob.glob(os.path.join(parquet_dir, "**", "*.parquet"), recursive=True)
        )
        if not src_files:
            raise ValueError(f"no parquet files under {parquet_dir}")
        sample = spark.read.parquet(parquet_dir)
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in sample.schema.fields
        )
        t = cls.create(spark, dest_path, ddl)
        version = t._meta["current_schema_version"]
        entries = _external_footer_entries(src_files, version)
        t._commit(
            "import", entries,
            {"imported_files": len(entries),
             "imported_rows": sum(e.rows for e in entries),
             "source": parquet_dir},
        )
        return t

    @classmethod
    def from_iceberg_metadata(
        cls, spark: SparkSession, metadata_path: str, dest_path: str
    ) -> "LakeTable":
        """Iceberg's ``register_table`` procedure: adopt an EXTERNALLY
        WRITTEN Iceberg v2 table (its ``metadata.json`` chain) as a
        live LakeTable with continued DML — schema history by field
        id, partition specs, refs with retention, snapshot lineage,
        and position + equality delete files all carry over; data
        files are referenced in place (zero copy). The import
        direction of the reference's cross-engine interop loop
        (``ICEBERG-Interoperability-Test-Spec.md:4-14``). See
        :func:`..catalog.iceberg_export.adopt_iceberg_metadata`."""
        from .iceberg_export import adopt_iceberg_metadata

        return adopt_iceberg_metadata(spark, metadata_path, dest_path)

    def sync_from_iceberg_metadata(self, metadata_path: str | None = None) -> int:
        """Pull the FOREIGN chain's new snapshots into this adopted
        table (fast-forward-only; refuses if local commits forked the
        history). Defaults to the chain this table was adopted from.
        Returns the number of snapshots folded in. See
        :func:`..catalog.iceberg_export.sync_iceberg_metadata`."""
        from .iceberg_export import sync_iceberg_metadata

        return sync_iceberg_metadata(self, metadata_path)

    def add_files(self, parquet_dir: str, _retries: int = 5) -> Snapshot:
        """CALL system.add_files — import an EXISTING plain-parquet
        directory's files into this table as one append commit WITHOUT
        rewriting a byte (Iceberg's ``add_files`` procedure; the
        sibling of :meth:`migrate_parquet`, which creates a new table
        instead). The manifest points at the ORIGINAL files with
        footer min/max stats, so pruning works immediately; imported
        files carry no partition keys (same conservative degradation
        as streamed files) until ``rewrite_data_files`` folds them
        into the spec layout. The files' schema must match the
        table's CURRENT schema by name and type — a mismatched import
        would silently corrupt reads, so it refuses instead.

        At 100 TB this is the incremental adoption path: each
        historical drop costs one threaded metadata pass over its own
        footers, never a data copy. ``remove_orphan_files`` sweeps
        only the table's directory, so imported files are safe."""
        import glob as _glob

        import pyarrow.parquet as pq

        src_files = sorted(
            _glob.glob(os.path.join(parquet_dir, "**", "*.parquet"), recursive=True)
        )
        if not src_files:
            raise ValueError(f"no parquet files under {parquet_dir}")
        want = [(f.name, f.type.strip().lower()) for f in self._fields()]
        got_schema = pq.ParquetFile(src_files[0]).schema_arrow
        got = [
            (got_schema.field(i).name,
             _spark_ddl_of_arrow(got_schema.field(i).type))
            for i in range(len(got_schema))
        ]

        def canon(t: str) -> str:
            return {"long": "bigint", "integer": "int"}.get(t, t)

        if [(n, canon(t)) for n, t in got] != [(n, canon(t)) for n, t in want]:
            raise ValueError(
                f"add_files schema mismatch: files carry {got}, table "
                f"expects {want}; evolve the table (or rewrite the files) "
                f"first"
            )
        version = self._meta["current_schema_version"]
        entries = _external_footer_entries(src_files, version)
        for attempt in range(_retries + 1):
            cur = self._snapshot() if self._meta["current_snapshot_id"] else None
            base = list(cur.files) if cur else []
            try:
                return self._commit(
                    "append", base + entries,
                    {"added_files": len(entries),
                     "added_rows": sum(e.rows for e in entries),
                     "imported_from": parquet_dir},
                )
            except CommitConflict:
                if attempt == _retries:
                    raise
                self._reload()

    # -- table statistics (Iceberg Puffin role: ANALYZE TABLE) ---------------

    def analyze(self, columns: list[str] | None = None) -> dict:
        """``ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]`` —
        the role Iceberg's Puffin statistics files play: table-level
        NDV sketches + null counts per column, stored in metadata and
        stamped with the snapshot they were computed at (readers can
        judge staleness). One single-pass aggregate over the CURRENT
        snapshot (merge-on-read deletes applied): NDV via
        approx_count_distinct (HLL, rsd ≈ 1.6% — the same sketch
        class Puffin stores as apache-datasketches-theta), null
        counts exact. These are the inputs a cost-based planner uses
        for broadcast/join-order decisions; at 100 TB the one pass is
        itself map-combined partial aggregation, never a per-column
        scan."""
        fields = [f.name for f in self._fields()]
        cols = list(columns) if columns else fields
        # dotted STRUCT-LEAF paths are analyzable too (the same
        # spelling the prune grammar and leaf stats use: "meta.n")
        valid = set(fields) | set(self._leaf_columns())
        unknown = [c for c in cols if c not in valid]
        if unknown:
            raise ValueError(
                f"no such column(s): {unknown}; have {sorted(valid)}")
        aggs = [F.count(F.lit(1)).alias("_row_count")]
        for c in cols:
            # rsd 0.016 (HLL++ precision ~2^12 registers) — Spark's
            # 0.05 default is a planner-grade guess; stats persisted
            # as metadata deserve the tighter sketch (still KBs)
            aggs.append(F.approx_count_distinct(c, 0.016).alias(f"_ndv_{c}"))
            aggs.append(
                F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0))
                .alias(f"_nulls_{c}")
            )
        row = self.read().agg(*aggs).collect()[0].asDict()
        snap = self._snapshot()
        stats = {
            "snapshot_id": snap.snapshot_id if snap else None,
            "row_count": int(row["_row_count"]),
            "columns": {
                c: {
                    "ndv": int(row[f"_ndv_{c}"]),
                    "null_count": int(row[f"_nulls_{c}"]),
                }
                for c in cols
            },
        }
        self._locked_meta_mutation(
            lambda: self._meta.__setitem__("column_stats", stats)
        )
        return stats

    def column_stats(self) -> dict | None:
        """Most recent ANALYZE result (None if never analyzed)."""
        return self._meta.get("column_stats")

    def _leaf_columns(self) -> list[str]:
        """Dotted struct-leaf paths of the current schema ("meta.n") —
        the columns beyond the top level that stats, pruning and
        ANALYZE all address by the same spelling. List/map interiors
        are not row-level values and are excluded."""
        out: list[str] = []

        def walk(dt, prefix: str) -> None:
            for sf in dt.fields:
                p = f"{prefix}.{sf.name}"
                if isinstance(sf.dataType, T.StructType):
                    walk(sf.dataType, p)
                elif not isinstance(sf.dataType, (T.ArrayType, T.MapType)):
                    out.append(p)

        for f in self._fields():
            dt = _parse_type(f.type)
            if isinstance(dt, T.StructType):
                walk(dt, f.name)
        return out

    # -- maintenance procedures (reference P1-P4) ----------------------------

    def rewrite_data_files(
        self, target_file_size_bytes: int = 128 * 1024 * 1024, min_input_files: int = 2,
        where: str | None = None,
    ) -> dict:
        """CALL system.rewrite_data_files — reference P1
        (`blob-dfs_bench.py:140-143`). Bin-packs small files up to the
        target size, per partition group; every chosen group is
        rewritten in ONE Spark write job (``_rewrite_groups``).

        ``where`` scopes the candidate set (Iceberg's ``where =>``
        argument) via the same manifest-level partition/stats pruning
        the read path uses: only files that MAY contain matching rows
        are considered — at 100 TB you compact the one hot partition a
        streaming sink fragments, not the whole table. Best-effort by
        design (a file is rewritten whole if its range overlaps), same
        as Iceberg."""
        snap = self._snapshot()
        if snap is None:
            return {"rewritten_data_files_count": 0, "added_data_files_count": 0}
        # Files carrying merge-on-read tombstones are ALWAYS rewrite
        # candidates regardless of size (Iceberg's delete-file-threshold):
        # compaction is what folds them back into clean data files,
        # after which _commit drops the delete files automatically
        # (nothing references them anymore).
        dirty = {e.path for e in self._dirty_files(snap)}
        candidates = (
            self._prune_files(snap.files, where) if where else snap.files
        )
        groups = [
            g for g in self._partition_groups(
                e for e in candidates
                if e.bytes < target_file_size_bytes or e.path in dirty)
            if len(g) >= min_input_files or any(e.path in dirty for e in g)
        ]
        inputs = {e.path for g in groups for e in g}
        if not inputs:
            return {"rewritten_data_files_count": 0, "added_data_files_count": 0}
        compacted = self._rewrite_groups(snap, groups, target_file_size_bytes)
        self._commit(
            "replace", [e for e in snap.files if e.path not in inputs] + compacted,
            {"compacted_input": len(inputs), "compacted_output": len(compacted)},
        )
        return {
            "rewritten_data_files_count": len(inputs),
            "added_data_files_count": len(compacted),
        }

    @staticmethod
    def _dirty_files(snap: Snapshot,
                     entries: list[FileEntry] | None = None) -> list[FileEntry]:
        """The files (``entries``, default the snapshot's) some delete
        file of ``snap`` applies to: referenced by a position delete, or
        older than an equality delete."""
        referenced = {
            p for d in snap.delete_files
            if d.content == "position" for p in d.referenced
        }
        max_eq_seq = max(
            (d.seq for d in snap.delete_files if d.content == "equality"),
            default=0,
        )
        return [e for e in (snap.files if entries is None else entries)
                if e.path in referenced or (e.seq or 0) < max_eq_seq]

    @staticmethod
    def _partition_groups(entries) -> list[list[FileEntry]]:
        """Bin files by partition value: compaction never merges across
        values, which would destroy the one-value-per-file layout that
        pruning relies on (Iceberg groups the same way)."""
        groups: dict[tuple, list[FileEntry]] = {}
        for e in entries:
            groups.setdefault(tuple(sorted(e.partition.items())), []).append(e)
        return list(groups.values())

    def _rewrite_groups(self, snap: Snapshot, groups: list[list[FileEntry]],
                        target_file_size_bytes: int) -> list[FileEntry]:
        """Rewrite every group of same-partition files, folding the
        snapshot's delete files in, with ONE read and ONE write job
        (a job sequence per group cost 253-410 s at 480 groups). Rows
        carry their group index and a salt spreading the group over
        ``bytes // target`` (at least 1) files; output files take their
        group's ORIGINAL partition dict, older-spec keys included."""
        tags: dict[str, tuple] = {}
        for gi, g in enumerate(groups):
            n_out = max(1, sum(e.bytes for e in g) // target_file_size_bytes)
            tags.update((e.path, (gi, n_out)) for e in g)
        df = self._read_with_deletes(
            snap, self._meta["current_schema_version"],
            entries=[e for g in groups for e in g],
            with_file_path=True, with_pos=True,
            tags=(tags, ", _lake_group int, _lake_nout bigint"),
        )
        df = df.withColumn("_lake_salt", F.pmod(
            F.xxhash64("_lake_file", "_lake_pos"), F.col("_lake_nout")))
        return self._write_files(df, groups=[g[0].partition for g in groups])

    def rewrite_position_delete_files(self) -> dict:
        """CALL system.rewrite_position_delete_files — Iceberg's
        dedicated merge-on-read debt compactor: rewrite ONLY the data
        files that delete files currently apply to (position-referenced
        or older than an equality delete), folding the tombstones in;
        untouched clean files are left alone regardless of size. The
        commit then drops the dangling delete files automatically."""
        snap = self._snapshot()
        if snap is None or not snap.delete_files:
            return {"rewritten_data_files_count": 0,
                    "removed_delete_files_count": 0}
        dirty = self._dirty_files(snap)
        if not dirty:
            # delete files exist but apply to nothing live — commit a
            # no-op so the auto-prune clears them
            self._commit("replace", list(snap.files), {"noop": True})
            return {"rewritten_data_files_count": 0,
                    "removed_delete_files_count": len(snap.delete_files)}
        rewritten = self._rewrite_groups(
            snap, self._partition_groups(dirty), 128 * 1024 * 1024)
        self._commit(
            "replace", [e for e in snap.files if e not in dirty] + rewritten,
            {"rewritten_files": len(dirty),
             "folded_delete_files": len(snap.delete_files)},
        )
        return {
            "rewritten_data_files_count": len(dirty),
            "removed_delete_files_count": len(snap.delete_files),
        }

    def rewrite_manifests(self) -> dict:
        """CALL system.rewrite_manifests — reference P2. Our manifest is
        one JSON document; rewriting = dropping per-file stats entries
        for columns nobody can prune on (compaction of metadata)."""
        before = len(json.dumps(self._meta))
        self._write_meta()
        return {"rewritten_manifests_count": 1, "metadata_bytes": before}

    def compact_delete_files(self) -> dict:
        """CALL system.compact_delete_files — the DELETE-side-only MoR
        compactor (Iceberg's literal ``rewrite_position_delete_files``
        semantics; this repo's method of that name is the
        fold-into-data variant): consolidate the snapshot's
        position-delete files into one fresh set and drop DANGLING
        tombstone rows (entries pointing at data files the current
        snapshot no longer holds — commit-time carry-over only drops a
        delete file once ALL its targets left, so a file referencing
        one live and one rewritten target keeps riding with dead
        rows). Data files are untouched: at 100 TB this pays down
        read-side anti-join cost for the price of re-writing the
        (small) delete files, not the table. Equality deletes are left
        alone (their application window is sequence-gated, so merging
        them would need seq-preserving splits — fold them with
        rewrite_position_delete_files / rewrite_data_files instead)."""
        result = {"rewritten_delete_files_count": 0,
                  "added_delete_files_count": 0,
                  "removed_dangling_rows": 0}
        # conflict retry restarts the WHOLE consolidation: the kept
        # tombstone set is live-file-relative, so rebasing the commit
        # onto a snapshot whose files changed would ship tombstones
        # semi-joined against a stale live set (re-introducing the
        # dangling rows this procedure exists to prune)
        for attempt in range(6):
            snap = self._snapshot()
            if snap is None:
                return result
            pos_dels = [d for d in snap.delete_files
                        if d.content == "position"]
            if not pos_dels:
                return result
            live_abs = [os.path.join(self.path, e.path) for e in snap.files]
            tomb = self.spark.read.schema(_POS_DELETE_DDL).parquet(
                *[os.path.join(self.path, d.path) for d in pos_dels])
            live_df = local_frame(
                self.spark, [(p,) for p in live_abs], "file_path string")
            kept = tomb.join(F.broadcast(live_df), "file_path", "left_semi")
            n_before = sum(d.rows for d in pos_dels)
            new_dels = (self._write_delete_files(kept)
                        if not kept.isEmpty() else [])
            n_after = sum(d.rows for d in new_dels)
            carried = [d for d in snap.delete_files
                       if d.content != "position"]
            try:
                self._commit(
                    "rewrite-deletes", list(snap.files),
                    {"rewritten_delete_files": len(pos_dels),
                     "removed_dangling_rows": n_before - n_after},
                    delete_files=carried + new_dels,
                )
                break
            except CommitConflict:
                # unlink this attempt's never-referenced output and
                # re-derive from the advanced snapshot
                for e in new_dels:
                    try:
                        os.remove(os.path.join(self.path, e.path))
                    except OSError:
                        pass
                if attempt == 5:
                    raise
                self._reload()
        # old delete-file parquet stays on disk: PRIOR snapshots still
        # reference it (time travel); expire_snapshots sweeps it once
        # those snapshots age out
        result["rewritten_delete_files_count"] = len(pos_dels)
        result["added_delete_files_count"] = len(new_dels)
        result["removed_dangling_rows"] = n_before - n_after
        return result

    def expire_snapshots(self, retain_last: int = 2,
                         older_than_ms: int | None = None) -> dict:
        """CALL system.expire_snapshots(retain_last=>n [, older_than=>ts])
        — reference P3 (`blob-dfs_bench.py:152-155`). Drops old snapshot
        records and physically deletes files no retained snapshot
        references. ``older_than_ms`` (Iceberg's primary knob) expires
        only snapshots committed strictly before that timestamp;
        ``retain_last`` is the floor in either form. Ref-protected
        (tagged/branch) snapshots and the current head are never
        expired — Iceberg's ref-retention semantics — so time travel to
        a ref keeps working after expiry. Per-ref retention declared at
        CREATE TAG/BRANCH is honored here: refs older than their
        ``max-ref-age-ms`` are dropped first (so abandoned refs stop
        pinning files), and each surviving branch keeps
        ``min-snapshots-to-keep`` of its own ancestry, not just its
        head. Locked read-modify-write."""
        result = {"deleted_data_files_count": 0, "expired_snapshots_count": 0}

        def mutate():
            snaps = self._meta["snapshots"]
            by_id = {s["snapshot_id"]: s for s in snaps}
            now_ms = int(time.time() * 1000)
            retention = self._meta.get("ref_retention") or {}
            # 1) age out refs past their max-ref-age (Iceberg RETAIN):
            # age is measured from the REFERENCED snapshot's commit
            # time; an aged ref is dropped entirely so its snapshots
            # lose protection — main is not a named ref and never ages.
            # This runs BEFORE the retain_last short-circuit: a stale
            # ref must drop even when no snapshot can expire yet.
            for store_key in ("refs", "branches"):
                store = self._meta.get(store_key) or {}
                for rname in list(store):
                    max_age = (retention.get(rname) or {}).get("max-ref-age-ms")
                    sid = store[rname]
                    if max_age is None or sid is None or sid not in by_id:
                        continue
                    if now_ms - by_id[sid]["timestamp_ms"] > max_age:
                        del store[rname]
                        retention.pop(rname, None)
            if len(snaps) <= retain_last:
                return
            ref_ids = set((self._meta.get("refs") or {}).values()) | {
                h for h in (self._meta.get("branches") or {}).values()
                if h is not None
            } | {self._meta.get("current_snapshot_id")}
            # 2) branch ancestry floors (Iceberg min-snapshots-to-keep):
            # a surviving branch keeps that many snapshots of its own
            # parent chain, not just its head — branch time travel
            # stays valid across maintenance
            for rname, head in (self._meta.get("branches") or {}).items():
                keep_n = (retention.get(rname) or {}).get("min-snapshots-to-keep")
                node = head
                for _ in range(keep_n or 0):
                    if node is None or node not in by_id:
                        break
                    ref_ids.add(node)
                    node = by_id[node].get("parent_id")
            tail_ids = {s["snapshot_id"] for s in snaps[-retain_last:]}
            if older_than_ms is not None:
                tail_ids |= {
                    s["snapshot_id"] for s in snaps
                    if s["timestamp_ms"] >= older_than_ms
                }
            keep_ids = tail_ids | ref_ids
            retained = [s for s in snaps if s["snapshot_id"] in keep_ids]
            expired = [s for s in snaps if s["snapshot_id"] not in keep_ids]
            if not expired:
                return
            keep_paths = {f["path"] for s in retained for f in s["files"]} | {
                d["path"] for s in retained for d in s.get("delete_files", [])
            }
            dead_paths = (
                {f["path"] for s in expired for f in s["files"]}
                | {d["path"] for s in expired for d in s.get("delete_files", [])}
            ) - keep_paths
            own_root = self.path + os.sep
            deleted = 0
            for rel in dead_paths:
                p = os.path.join(self.path, rel)
                # EXTERNAL files — absolute paths registered in place by
                # migrate_parquet / add_files / snapshot_of /
                # from_iceberg_metadata — belong to their SOURCE table:
                # expiry drops the reference but must never delete a
                # byte outside this table's own directory (the same
                # boundary remove_orphan_files honors), or expiring an
                # adopted snapshot would destroy the foreign table.
                if not os.path.abspath(p).startswith(own_root):
                    continue
                if os.path.exists(p):
                    os.remove(p)
                    deleted += 1
            self._meta["snapshots"] = retained
            result["deleted_data_files_count"] = deleted
            result["expired_snapshots_count"] = len(expired)

        self._locked_meta_mutation(mutate)
        return result

    def to_iceberg_metadata(self) -> str:
        """Emit this table's metadata in the Iceberg v2 layout
        (metadata.json → manifest lists → manifests) for cross-engine
        convertibility; see ``catalog.iceberg_export``. Returns the
        metadata.json path."""
        from .iceberg_export import to_iceberg_metadata

        return to_iceberg_metadata(self)

    # Iceberg's remove_orphan_files default grace period: files younger
    # than this are presumed in-flight (an executor task writes its data
    # file BEFORE the driver commit references it — streaming sink /
    # batch writer, streaming/table_source.py) and are never swept.
    ORPHAN_GRACE_MS = 3 * 24 * 3600 * 1000

    def remove_orphan_files(self, older_than_ms: int | None = None) -> dict:
        """CALL system.remove_orphan_files — reference P4 (spec `:85,:104`,
        acceptance: orphan files = 0). Deletes files on disk that no
        snapshot references AND that are older than ``older_than_ms``
        (an epoch-ms cutoff; default now − 3 days, Iceberg's default).
        The grace period is the correctness half: the Python sink/batch
        writer commits in two steps (executor file write → driver
        metadata commit), so a freshly-written unreferenced file may be
        referenced by an imminent commit — sweeping it would break that
        commit. Pass an explicit cutoff (e.g. ``now``) only when no
        writer can be in flight."""
        import time as _time

        if older_than_ms is None:
            older_than_ms = int(_time.time() * 1000) - self.ORPHAN_GRACE_MS

        def too_young(full: str) -> bool:
            try:
                return os.path.getmtime(full) * 1000 >= older_than_ms
            except OSError:
                return True  # vanished under us — someone else owns it

        referenced = {
            f["path"] for s in self._meta["snapshots"] for f in s["files"]
        } | {
            d["path"] for s in self._meta["snapshots"]
            for d in s.get("delete_files", [])
        }
        removed = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        for dirpath, _dirs, files in os.walk(data_root):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.path)
                if fn.endswith(".parquet") and rel in referenced:
                    continue
                if too_young(full):
                    continue
                os.remove(full)  # orphan parquet, or _SUCCESS/.crc markers
                if fn.endswith(".parquet"):
                    removed += 1
        # metadata debris: a writer killed inside _write_meta — or any
        # of the atomic chain writers under _meta/iceberg/ (exported
        # manifests, metadata.json, Puffin, the nested-id map) —
        # leaves a never-renamed uuid-suffixed temp file (spec
        # `:107-111` — crash debris must be collectable). Live files
        # never carry the ".tmp-" infix; the grace period equally
        # covers a writer mid-rename. Recursive: exported chains nest.
        meta_root = os.path.join(self.path, _META_DIR)
        for dirpath, _dirs, files in os.walk(meta_root):
            for fn in files:
                full = os.path.join(dirpath, fn)
                if ".tmp-" in fn and not too_young(full):
                    os.remove(full)
                    removed += 1
        return {"orphan_file_count": removed}


def _ancestry_of(meta: dict, head: int) -> list[dict]:
    """Snapshot records along parent pointers from ``head``, newest
    first; stops at the oldest retained snapshot (expired tails are
    fine for rollback/ancestors queries)."""
    by_id = {sn["snapshot_id"]: sn for sn in meta.get("snapshots", [])}
    out: list[dict] = []
    cur = head or None
    while cur is not None:
        sn = by_id.get(cur)
        if sn is None:
            break
        out.append(sn)
        cur = sn.get("parent_id")
    return out


def _spark_ddl_of_arrow(t) -> str:
    """Arrow type → Spark DDL spelling, for add_files schema checks
    (the closed type set §1.2 actually uses)."""
    import pyarrow as pa

    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp" if t.tz else "timestamp_ntz"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    return str(t)


def _external_footer_entries(src_files: list[str], version: int) -> list["FileEntry"]:
    """FileEntry per external parquet file from its OWN footer —
    absolute paths (read in place, zero copy), min/max stats so
    pruning works from the first commit. Shared by ``migrate_parquet``
    (new table) and ``add_files`` (existing table). Threaded: one
    metadata read per file, no data I/O."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def footer_entry(fpath: str) -> FileEntry | None:
        md = pq.ParquetFile(fpath).metadata
        if md.num_rows == 0:
            return None
        return FileEntry(
            # ABSOLUTE path: the read path joins entries onto the
            # table dir, and os.path.join yields the absolute path
            # unchanged — external files read in place, zero copy
            path=os.path.abspath(fpath),
            rows=md.num_rows,
            bytes=os.path.getsize(fpath),
            schema_version=version,
            stats=footer_min_max(md),
            partition={},
            seq=None,
        )

    with ThreadPoolExecutor(max_workers=16) as pool:
        entries = [e for e in pool.map(footer_entry, src_files) if e is not None]
    entries.sort(key=lambda e: e.path)
    return entries


def _strip_scheme(p: str) -> str:
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


def _parse_type(ddl: str) -> T.DataType:
    return T._parse_datatype_string(ddl)
