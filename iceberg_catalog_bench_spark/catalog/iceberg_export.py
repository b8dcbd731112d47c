"""Iceberg-v2-shaped metadata export for LakeTable.

The reference's whole point is CROSS-ENGINE reads of Iceberg v2 table
metadata (``ICEBERG-Interoperability-Test-Spec.md:4-14``; the field-id
schema JSON in ``opencatalog/samples/table_create_template.json``).
LakeTable's native metadata is a single JSON document; this module
re-emits it in the Iceberg v2 LAYOUT — ``vN.metadata.json`` with
field-id'd schemas, named partition specs, a snapshot list whose
entries point at per-snapshot MANIFEST LISTS, which point at MANIFESTS
carrying per-file stats — so the table is mechanically convertible to
a real Iceberg table the moment an Iceberg runtime is available.
Manifest lists and manifests are written in the spec's Avro OCF
encoding when ``manifest_format="avro"`` (via the from-scratch codec in
``avro_ocf.py``) or in a JSON dialect with the same field names; the
ADOPTION path (``from_iceberg_metadata`` / ``_parse_iceberg_v2``) reads
BOTH, so externally-written chains — whose manifests are always Avro —
register directly.

``read_via_iceberg_metadata`` walks the exported chain exactly the way
an external Iceberg reader would (metadata → current snapshot →
manifest list → manifests → data files) and never touches LakeTable's
native metadata — the round-trip test's proof of convertibility.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from . import avro_ocf
from ._fsutil import atomic_write
from .table import (
    _DATA_DIR,
    _HIVE_NULL,
    _META_DIR,
    _META_FILE,
    _POS_DELETE_DDL,
    LakeTable,
    _decode_path_uri,
    _strip_scheme,
    local_frame,
)
from .transforms import Transform

# Spark DDL type → Iceberg primitive type name
_TYPE_MAP = {
    "bigint": "long",
    "int": "int",
    "smallint": "int",
    "tinyint": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",  # Spark TIMESTAMP = instant semantics
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def _iceberg_type(ddl: str) -> str:
    """Spark DDL PRIMITIVE → Iceberg primitive name. Nested types
    raise (callers that can allocate element/field ids use
    :func:`_iceberg_type_full`; callers that can't — bounds maps,
    partition sources — must skip nested columns, and the ValueError
    is their skip signal)."""
    ddl = ddl.strip().lower()
    if ddl.startswith("decimal"):
        return ddl  # decimal(p, s) spells identically
    try:
        return _TYPE_MAP[ddl]
    except KeyError:
        raise ValueError(f"no Iceberg mapping for Spark type {ddl!r}") from None


def _split_top(s: str) -> list[str]:
    """Split a DDL type-argument list on commas at bracket depth 0
    (``a:int,b:array<double>,c:decimal(18,2)`` → three parts)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p for p in parts if p.strip()]


def _iceberg_type_full(ddl: str, alloc, path: str = ""):
    """Spark DDL type (possibly nested) → Iceberg schema-JSON type.

    Nested types (``array<T>``/``struct<n:T,...>``/``map<K,V>``) carry
    their OWN field ids in Iceberg (element-id / struct field ids /
    key-id+value-id — table spec §Schemas); native LakeTable metadata
    records only top-level column ids, so ``alloc(path)`` assigns the
    nested ids — deterministically and persistently (see
    ``_NestedIdAllocator``) so re-exports of the same table keep them
    stable. ``path`` components: ``element`` (list), ``key``/``value``
    (map), the field name (struct), joined with ``.`` under the
    owning top-level column id. The one spec line no prior round
    implemented: nested structs/arrays as Iceberg interop coverage
    (reference ``ICEBERG-Interoperability-Test-Spec.md:44``)."""
    s = ddl.strip()
    low = s.lower()
    if low.startswith("array<") and low.endswith(">"):
        inner = s[6:-1]
        return {
            "type": "list",
            "element-id": alloc(path + ".element" if path else "element"),
            "element": _iceberg_type_full(
                inner, alloc, path + ".element" if path else "element"),
            "element-required": False,
        }
    if low.startswith("map<") and low.endswith(">"):
        kv = _split_top(s[4:-1])
        if len(kv) != 2:
            raise ValueError(f"malformed map type {ddl!r}")
        kp = path + ".key" if path else "key"
        vp = path + ".value" if path else "value"
        return {
            "type": "map",
            "key-id": alloc(kp),
            "key": _iceberg_type_full(kv[0], alloc, kp),
            "value-id": alloc(vp),
            "value": _iceberg_type_full(kv[1], alloc, vp),
            "value-required": False,
        }
    if low.startswith("struct<") and low.endswith(">"):
        fields = []
        for part in _split_top(s[7:-1]):
            name, _, ftype = part.partition(":")
            name = name.strip().strip("`")
            if not name or not ftype:
                raise ValueError(f"malformed struct field {part!r} in {ddl!r}")
            fp = path + "." + name if path else name
            fields.append({
                "id": alloc(fp),
                "name": name,
                "required": False,
                "type": _iceberg_type_full(ftype, alloc, fp),
            })
        return {"type": "struct", "fields": fields}
    return _iceberg_type(s)


def _spark_ddl_type(iceberg) -> str:
    """Inverse of `_iceberg_type_full` — Iceberg primitive name or
    nested schema-JSON type object → Spark DDL string (element/field
    ids drop here; adoption preserves them separately so a re-export
    stays id-faithful — see ``nested_ids_of_schema``)."""
    if isinstance(iceberg, dict):
        t = iceberg.get("type")
        if t == "list":
            return f"array<{_spark_ddl_type(iceberg['element'])}>"
        if t == "map":
            return (f"map<{_spark_ddl_type(iceberg['key'])},"
                    f"{_spark_ddl_type(iceberg['value'])}>")
        if t == "struct":
            inner = ",".join(
                f"{f['name']}:{_spark_ddl_type(f['type'])}"
                for f in iceberg.get("fields", [])
            )
            return f"struct<{inner}>"
        raise ValueError(f"unsupported nested Iceberg type {t!r}")
    if iceberg.startswith("decimal"):
        return iceberg
    return {
        "long": "bigint",
        "int": "int",
        "string": "string",
        "double": "double",
        "float": "float",
        "boolean": "boolean",
        "date": "date",
        "timestamptz": "timestamp",
        "timestamp": "timestamp_ntz",
        "binary": "binary",
    }.get(iceberg, "string")


def nested_ids_of_schema(schemas: list, strict: bool = False) -> dict[str, int]:
    """Walk Iceberg schema JSON collecting every NESTED field id keyed
    ``"<top-level-field-id>:<path>"`` — the persistence format
    ``_NestedIdAllocator`` reads, so adopting a foreign chain and
    re-exporting it emits the foreign chain's own element/field ids.

    Malformed nested nodes (a list without ``element-id``, a struct
    field without ``id``/``name``) are SKIPPED by default — seeding
    simply learns nothing for them; ``strict=True`` raises instead,
    which is how the validator turns them into findings rather than
    crashing mid-walk."""
    out: dict[str, int] = {}

    def take(node: dict, key: str, where: str):
        v = node.get(key)
        if v is None and strict:
            raise ValueError(f"nested type at {where!r} is missing {key!r}")
        return v

    def put(key: str, nid) -> None:
        if nid is not None:
            out[key] = nid

    def walk(t, base: str, path: str) -> None:
        if not isinstance(t, dict):
            return
        if t.get("type") == "list":
            p = f"{path}.element" if path else "element"
            put(f"{base}:{p}", take(t, "element-id", f"{base}:{p}"))
            walk(t.get("element"), base, p)
        elif t.get("type") == "map":
            kp = f"{path}.key" if path else "key"
            vp = f"{path}.value" if path else "value"
            put(f"{base}:{kp}", take(t, "key-id", f"{base}:{kp}"))
            put(f"{base}:{vp}", take(t, "value-id", f"{base}:{vp}"))
            walk(t.get("key"), base, kp)
            walk(t.get("value"), base, vp)
        elif t.get("type") == "struct":
            for f in t.get("fields", []):
                name = f.get("name")
                if name is None:
                    if strict:
                        raise ValueError(
                            f"struct field under {base}:{path or '<top>'} "
                            "is missing 'name'")
                    continue
                p = f"{path}.{name}" if path else name
                put(f"{base}:{p}", take(f, "id", f"{base}:{p}"))
                walk(f.get("type"), base, p)

    for s in schemas:
        for f in s.get("fields", []):
            if f.get("id") is None:
                continue  # top-level ids are the validator's own check
            walk(f.get("type"), str(f["id"]), "")
    return out


def _leaf_fields(fields: list, prefix: str = "") -> dict[str, tuple[int, object]]:
    """Iceberg schema-JSON fields → ``{path: (field-id, primitive
    type)}`` for every primitive reachable through STRUCTS only
    (top-level primitives included; list/map interiors excluded —
    their element stats aggregate over collection members, not rows).
    The shared shape for bounds encoding (export) and bounds
    decode/rebind (adoption)."""
    out: dict[str, tuple[int, object]] = {}
    for f in fields:
        t = f.get("type")
        name = f"{prefix}{f.get('name')}"
        if f.get("id") is None or f.get("name") is None:
            continue
        if isinstance(t, dict):
            if t.get("type") == "struct":
                out.update(_leaf_fields(t.get("fields") or [], name + "."))
        elif isinstance(t, str):
            out[name] = (f["id"], t)
    return out


class _NestedIdAllocator:
    """Table-wide allocator for nested element/field ids, persisted at
    ``<table>/_meta/iceberg/nested-field-ids.json`` so ids are STABLE
    across re-exports (Iceberg readers key nested resolution on them).
    Keys are ``"<top-level-field-id>:<path>"`` — immutable under
    column RENAME (the top-level id never changes) and stable across
    schema versions (nested types don't evolve natively).

    Collision rule: native ``ADD COLUMN`` after a prior export may
    take a top-level id a nested id already used (native metadata
    doesn't know about export-side allocations) — such entries are
    REALLOCATED above the new ceiling; each metadata.json stays
    self-consistent, at the cost of nested-id stability across that
    one evolution (documented degradation, loud in the file).

    Concurrency: allocation is DETERMINISTIC given the table's schema
    history and the loaded map, and ``save()`` is atomic
    (tmp + rename) — two concurrent exports of the same table state
    write byte-identical maps, and an export racing a schema
    evolution leaves whichever self-consistent map landed last (the
    next export reloads and extends it; existing keys never move
    unless newly forbidden). No lock needed."""

    def __init__(self, out_dir: str, forbidden: set[int], floor: int):
        self.path = os.path.join(out_dir, "nested-field-ids.json")
        self.forbidden = forbidden
        self.map: dict[str, int] = {}
        if os.path.isfile(self.path):
            with open(self.path) as fh:
                self.map = {k: int(v) for k, v in json.load(fh).items()}
        self.next = max(
            [floor] + [v + 1 for v in self.map.values()]
        )

    def seed(self, mapping: dict[str, int], *,
             authoritative: bool = False) -> None:
        """Load ids from a foreign chain's schemas. ``authoritative``
        (the SYNC path) overwrites existing entries — a fast-forwarded
        table tracks the foreign chain's ids even where the foreign
        writer itself reallocated them; the default (first adoption)
        only fills gaps."""
        for k, v in mapping.items():
            if authoritative:
                self.map[k] = v
            else:
                self.map.setdefault(k, v)
            self.next = max(self.next, v + 1)

    def for_field(self, field_id: int):
        def alloc(path: str) -> int:
            key = f"{field_id}:{path}"
            hit = self.map.get(key)
            if hit is not None and hit not in self.forbidden:
                return hit
            while self.next in self.forbidden:
                self.next += 1
            self.map[key] = self.next
            self.next += 1
            return self.map[key]

        return alloc

    def max_id(self, default: int = 0) -> int:
        return max(self.map.values(), default=default)

    def save(self) -> None:
        if self.map:
            # atomic publication (shared uuid-tmp helper): a reader
            # racing a re-export must never see a truncated id map
            atomic_write(self.path,
                         json.dumps(self.map, indent=1, sort_keys=True))


def _iceberg_transform(t: Transform, source_type: str | None = None) -> str:
    """Iceberg transform spelling: bucket[N] / truncate[W] / day / ...

    The spec-true murmur3 transform (``ibucket``) exports as
    ``bucket[N]`` — its values ARE what a conforming reader computes.
    The legacy xxhash64 ``bucket`` exports as ``void``: its values live
    in a different hash space, and a conforming reader binding a
    ``col = v`` predicate through ``bucket[N]`` would murmur3-hash the
    literal and SILENTLY WRONG-PRUNE files that contain matching rows;
    ``void`` (always null, table spec §Partition Transforms) makes such
    readers scan instead — correct, just unpruned. ``truncate`` is
    value-identical to Iceberg's ONLY for string sources (first W code
    points both sides); for any other source the native transform
    truncates the string RENDERING while Iceberg truncates numerically,
    so non-string truncate exports as ``void`` for the same reason."""
    if t.name == "ibucket":
        return f"bucket[{t.param}]"
    if t.name == "bucket":
        return "void"
    if t.name == "itruncate":  # spec numeric truncate — always exact
        return f"truncate[{t.param}]"
    if t.name == "truncate":
        return f"truncate[{t.param}]" if source_type == "string" else "void"
    # Iceberg uses singular day/hour/month/year
    return {"days": "day", "hours": "hour", "months": "month", "years": "year"}.get(
        t.name, t.name
    )


def _pf_name(t: Transform) -> str:
    """Exported partition field name: conventional `<col>_<transform>`;
    the spec-true murmur3/numeric-truncate transforms display as plain
    `bucket`/`truncate` (their transform strings are `bucket[N]` /
    `truncate[W]`)."""
    disp = {"ibucket": "bucket", "itruncate": "truncate"}.get(t.name, t.name)
    return f"{t.column}_{disp}"


# Iceberg primitive → Avro primitive (for partition-record fields)
_AVRO_OF_ICEBERG = {
    "long": "long", "int": "int", "double": "double", "float": "float",
    "string": "string", "boolean": "boolean", "date": "int",
    "timestamptz": "long", "timestamp": "long",
}

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)


def _sql_to_micros(sval: str) -> int:
    """'2024-01-03 05:00:00[.ffffff]' (the native stat / partition
    rendering) → epoch micros."""
    dt = datetime.datetime.fromisoformat(str(sval))
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return (dt - _EPOCH_DT) // datetime.timedelta(microseconds=1)


def _encode_bound(v, ice_type) -> bytes | None:
    """Native stat value → Iceberg binary single-value serialization
    (inverse of :func:`_decode_bound`). None = not encodable; the bound
    is simply omitted (readers keep the file)."""
    import decimal
    import struct as _struct

    if v is None or not isinstance(ice_type, str):
        return None
    try:
        if ice_type == "boolean":
            return b"\x01" if v else b"\x00"
        if ice_type == "int":
            return _struct.pack("<i", int(v))
        if ice_type == "long":
            return _struct.pack("<q", int(v))
        if ice_type == "float":
            return _struct.pack("<f", float(v))
        if ice_type == "double":
            return _struct.pack("<d", float(v))
        if ice_type == "date":
            d = datetime.date.fromisoformat(str(v)[:10])
            return _struct.pack("<i", (d - _EPOCH_DATE).days)
        if ice_type in ("timestamp", "timestamptz"):
            return _struct.pack("<q", _sql_to_micros(v))
        if ice_type == "string":
            return str(v).encode("utf-8")
        m = re.match(r"^decimal\((\d+),\s*(\d+)\)$", ice_type)
        if m:
            unscaled = int(decimal.Decimal(str(v)).scaleb(int(m.group(2))))
            n = max(1, (unscaled.bit_length() + 8) // 8)
            return unscaled.to_bytes(n, "big", signed=True)
    except Exception:
        return None
    return None


def _avro_kv_map(name: str, key_id: int, val_id: int) -> dict:
    """Iceberg's array-of-{key,value} encoding for int-keyed maps."""
    return {"type": "array", "logicalType": "map", "items": {
        "type": "record", "name": name, "fields": [
            {"name": "key", "type": "int", "field-id": key_id},
            {"name": "value", "type": "bytes", "field-id": val_id}]}}


_MANIFEST_FILE_AVRO_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _avro_partition_value(t: Transform, sval, ice_type):
    """Native ``_p_*`` hive string → typed Iceberg partition value
    (inverse of :func:`_adopt_partition`'s conversions): day →
    epoch-days, hour → epoch-hours, month/year → months/years since
    1970, identity typed by source. ``ibucket`` exports its murmur3
    value verbatim (it IS the spec hash, table spec Appendix B); the
    legacy xxhash64 ``bucket`` exports as ``void`` — always null —
    because its values live in a different hash space and a conforming
    reader binding a predicate through ``bucket[N]`` would murmur3 the
    literal and silently wrong-prune; truncate exports the native
    string rendering."""
    if t.name == "bucket":
        return None  # void: legacy hash space, see _iceberg_transform
    if sval is None or sval == _HIVE_NULL:
        return None
    if t.name == "identity":
        if ice_type in ("long", "int"):
            return int(sval)
        if ice_type in ("double", "float"):
            return float(sval)
        if ice_type == "boolean":
            return str(sval).lower() == "true"
        if ice_type == "date":
            return (datetime.date.fromisoformat(str(sval)[:10])
                    - _EPOCH_DATE).days
        if ice_type in ("timestamp", "timestamptz"):
            return _sql_to_micros(sval)
        return str(sval)
    if t.name == "days":
        return (datetime.date.fromisoformat(str(sval)[:10])
                - _EPOCH_DATE).days
    if t.name == "hours":
        return _sql_to_micros(sval) // 3_600_000_000
    if t.name == "months":
        s = str(sval)
        return (int(s[:4]) - 1970) * 12 + int(s[5:7]) - 1
    if t.name == "years":
        return int(str(sval)[:4]) - 1970
    if t.name == "ibucket":
        return int(sval)
    if t.name == "itruncate":
        st = str(ice_type or "")
        if st.startswith("decimal"):
            # native spelling "12.30" → Avro decimal logical value:
            # minimum-length two's-complement big-endian of the
            # unscaled int (same rule as the Appendix-B hash encoding)
            sc = int(st.rstrip(" )").split(",")[1]) if "," in st else 0
            u = int(decimal.Decimal(str(sval)).scaleb(sc))
            mag = u if u >= 0 else ~u
            return u.to_bytes(mag.bit_length() // 8 + 1, "big", signed=True)
        if st == "binary":
            return bytes.fromhex(str(sval))
        return int(sval)
    # truncate: spec-true for string sources (first W code points both
    # sides); non-string sources export as void (always null)
    return str(sval) if ice_type == "string" else None


def _avro_part_field_type(t: Transform, ice_type) -> object:
    if t.name == "identity":
        return _AVRO_OF_ICEBERG.get(ice_type, "string")
    if t.name == "days":
        return {"type": "int", "logicalType": "date"}
    if t.name in ("hours", "months", "years", "bucket", "ibucket"):
        return "int"
    if t.name == "itruncate":
        st = str(ice_type or "")
        if st.startswith("decimal"):
            m = re.match(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", st)
            p, s = (int(m.group(1)), int(m.group(2))) if m else (10, 0)
            return {"type": "bytes", "logicalType": "decimal",
                    "precision": p, "scale": s}
        if st == "binary":
            return "bytes"
        return "long"
    return "string"  # truncate: native truncates the string rendering


def to_iceberg_metadata(table: LakeTable, *,
                        manifest_format: str = "json") -> str:
    """Emit the Iceberg v2 metadata chain for the table's full history
    under ``<table>/_meta/iceberg/``; return the metadata.json path.

    ``manifest_format="avro"`` serializes manifest lists and manifests
    as REAL Avro OCF files per the Iceberg spec (underscore field
    names, typed partition records, id-keyed byte-encoded bounds) via
    the from-scratch codec in :mod:`.avro_ocf`; ``"json"`` (default)
    keeps the hyphen-keyed JSON dialect. Both round-trip through
    :func:`_parse_iceberg_v2`. Repo extensions (the per-file writing
    ``schema_id``, multi-file ``referenced_data_files``,
    ``equality_field_names``) ride as extra Avro fields — spec readers
    skip unknown fields during schema resolution."""
    if manifest_format not in ("json", "avro"):
        raise ValueError(f"manifest_format must be json|avro, "
                         f"got {manifest_format!r}")
    meta = table._meta
    out_dir = os.path.join(table.path, "_meta", "iceberg")
    os.makedirs(out_dir, exist_ok=True)

    schemas = []
    # top-level ids across EVERY schema generation are forbidden to the
    # nested-id allocator; the floor also clears the native
    # next_field_id so ids the table may still assign to future
    # columns are never taken first
    top_ids = {f["id"] for fields in meta["schemas"].values() for f in fields}
    last_column_id = max(top_ids, default=0)
    ids = _NestedIdAllocator(
        out_dir, top_ids,
        max(last_column_id + 1, meta.get("next_field_id") or 0))
    ident_ids = meta.get("identifier-field-ids") or []
    for ver, fields in sorted(meta["schemas"].items(), key=lambda kv: int(kv[0])):
        schemas.append(
            {
                "type": "struct",
                "schema-id": int(ver),
                # Iceberg spec: identifier-field-ids live on the schema
                # struct; ids only (names rebind per version)
                **({"identifier-field-ids": [
                        i for i in ident_ids
                        if any(f["id"] == i for f in fields)
                    ]} if ident_ids else {}),
                "fields": [
                    {
                        "id": f["id"],
                        "name": f["name"],
                        "required": False,
                        "type": _iceberg_type_full(
                            f["type"], ids.for_field(f["id"])),
                        **(
                            {"initial-default": f["default"]}
                            if f.get("default") is not None
                            else {}
                        ),
                    }
                    for f in fields
                ],
            }
        )
    ids.save()
    # the spec's last-column-id covers NESTED ids too (it is the
    # assign-next ceiling a real runtime continues from)
    last_column_id = max(last_column_id, ids.max_id())

    # Renames keep field ids, but a partition spec / sort order created
    # before a rename still names the column by its old spelling —
    # resolve through EVERY schema version (current spelling wins) so
    # source-ids survive renames.
    field_ids_by_name: dict[str, int] = {}
    for _ver, fields in sorted(meta["schemas"].items(), key=lambda kv: int(kv[0])):
        for f in fields:
            field_ids_by_name.setdefault(f["name"], f["id"])
    field_ids_by_name.update(
        {f["name"]: f["id"] for f in meta["schemas"][str(meta["current_schema_version"])]}
    )
    # native type per column (current spelling wins) — decides whether
    # truncate is exportable as truncate[W] (string sources only)
    ntype_by_name: dict[str, str] = {}
    for _ver, fields in sorted(meta["schemas"].items(), key=lambda kv: int(kv[0])):
        for f in fields:
            ntype_by_name[f["name"]] = f["type"]
    # Partition field-ids are TABLE-WIDE in Iceberg: assigned once per
    # (source column, transform), starting at 1000, never reused, and
    # stable across spec evolution — a reader unions manifest partition
    # structs by field-id, so a positional scheme (1000+index-in-spec,
    # the pre-round-5 behavior flagged in ADVICE r4) would conflate
    # different fields that happen to share a position in different
    # specs. `_pf_ids` is the global allocator; `_spec_fields` only
    # looks up / extends it in first-use order.
    # Keyed on the NATIVE transform identity (column, name, param), not
    # the exported spelling: legacy bucket and non-string truncate both
    # export as 'void', so spelling-keyed ids would conflate e.g.
    # bucket(8,c) + truncate(4,c) on one column into one field-id —
    # invalid metadata (ADVICE r10).
    _pf_ids: dict[tuple[str, str, str], int] = {}

    def _pf_id(t: Transform) -> int:
        key = (t.column, t.name, str(t.param))
        if key not in _pf_ids:
            _pf_ids[key] = 1000 + len(_pf_ids)
        return _pf_ids[key]

    # memoized per spec OBJECT (spec_list keeps every spec alive for
    # this export, so ids are stable): _avro_entry calls this once per
    # data file — without the memo an N-file export re-parses and
    # re-dedups the spec N times
    _pf_names_memo: dict[int, list[str]] = {}

    def _spec_pf_names(spec_json: list) -> list[str]:
        """Exported field names for one spec, deduped in order: two
        native transforms can share a display name (legacy bucket vs
        ibucket on the same column both render `col_bucket`); the
        later one gets a `_2`/`_3` suffix. Deterministic because every
        caller iterates the same spec_json order."""
        hit = _pf_names_memo.get(id(spec_json))
        if hit is not None:
            return hit
        names: list[str] = []
        for tj in spec_json:
            base = _pf_name(Transform.from_json(tj))
            name, k = base, 1
            while name in names:
                k += 1
                name = f"{base}_{k}"
            names.append(name)
        _pf_names_memo[id(spec_json)] = names
        return names

    def _spec_fields(spec_json: list) -> list:
        out = []
        names = _spec_pf_names(spec_json)
        for tj, name in zip(spec_json, names):
            t = Transform.from_json(tj)
            out.append(
                {
                    "field-id": _pf_id(t),
                    "source-id": field_ids_by_name.get(t.column, -1),
                    "name": name,
                    "transform": _iceberg_transform(
                        t, ntype_by_name.get(t.column)),
                }
            )
        return out

    # Full spec history (Iceberg keeps every spec ever used — files in
    # a multi-generation table reference theirs by id). Dedupe the
    # recorded history + current spec in first-seen order; the current
    # spec's position is the default-spec-id.
    all_specs = list(meta.get("partition_spec_history") or []) + [
        meta["partition_spec"]
    ]
    spec_list: list[list] = []
    spec_keys: list[str] = []
    for sp in all_specs:
        key = json.dumps(sp, sort_keys=True)
        if key not in spec_keys:
            spec_keys.append(key)
            spec_list.append(sp)
    default_spec_id = spec_keys.index(
        json.dumps(meta["partition_spec"], sort_keys=True)
    )
    # Walk the spec history OLDEST-FIRST so field-ids reflect first
    # use (spec 0's fields get the lowest ids), then the current spec.
    for sp in spec_list:
        _spec_fields(sp)
    # per-file spec resolution: a file's hive partition keys
    # (_p_<transform>_<column>) identify which spec wrote it; prefer
    # the LATEST spec whose key-set matches (a re-added identical
    # field should resolve to the newest id)
    keyset_by_spec = [
        frozenset(
            f"_p_{Transform.from_json(tj).name}_{Transform.from_json(tj).column}"
            for tj in sp
        )
        for sp in spec_list
    ]
    _PARAM_FREE = {"identity", "days", "hours", "months", "years", "day",
                   "hour", "month", "year"}

    def _file_spec_id(file_entry: dict) -> int:
        fkeys = frozenset(file_entry.get("partition", {}).keys())
        for sid in range(len(spec_list) - 1, -1, -1):
            if keyset_by_spec[sid] == fkeys:
                return sid
        # No recorded spec matches (possible only for tables whose
        # evolution predates spec-history recording). Silently stamping
        # default_spec_id would misattribute the file's partition
        # struct (ADVICE r4): synthesize a spec from the file's own
        # keys when every transform is parameter-free (the key name
        # `_p_<transform>_<column>` loses bucket/truncate params),
        # else fail loudly.
        synthesized = []
        for k in sorted(fkeys):
            name, _, column = k.removeprefix("_p_").partition("_")
            if name not in _PARAM_FREE or not column:
                raise ValueError(
                    f"data file {file_entry.get('path')!r} carries partition "
                    f"keys {sorted(fkeys)} matching no recorded partition "
                    "spec and not synthesizable (parameterized transform); "
                    "cannot attribute a partition-spec-id"
                )
            synthesized.append(Transform(name, column).to_json())
        spec_list.append(synthesized)
        spec_keys.append(json.dumps(synthesized, sort_keys=True))
        keyset_by_spec.append(fkeys)
        _spec_fields(synthesized)
        return len(spec_list) - 1

    # --- Avro emission support (manifest_format="avro") ---
    # bounds maps come from the EMITTED schema JSON (ids + Iceberg
    # types authoritative), and include STRUCT-LEAF paths ("meta.n" →
    # the leaf's own field id) — native stats record struct leaves
    # under the dotted spelling, so those bounds export as the
    # leaf-field bounds a conforming reader prunes on
    types_by_name: dict[str, str] = {}
    bounds_map: dict[str, dict[str, tuple[int, str]]] = {}
    for sj in schemas:
        bm = _leaf_fields(sj["fields"])
        bounds_map[str(sj["schema-id"])] = bm
        for name, (_fid, it) in bm.items():
            if "." not in name:
                types_by_name[name] = it

    def _avro_entry(e: dict, spec_json: list) -> dict:
        d = e["data-file"]
        part = {}
        for tj, pfname in zip(spec_json, _spec_pf_names(spec_json)):
            t = Transform.from_json(tj)
            sval = (d.get("partition") or {}).get(f"_p_{t.name}_{t.column}")
            part[pfname] = _avro_partition_value(
                t, sval, types_by_name.get(t.column))
        bm = bounds_map.get(str(d.get("schema-id")), {})

        def kvs(bounds):
            out = []
            for name, v in (bounds or {}).items():
                hit = bm.get(name)
                if hit is None:
                    continue
                b = _encode_bound(v, hit[1])
                if b is not None:
                    out.append({"key": hit[0], "value": b})
            return out or None

        refs = d.get("referenced-data-files") or []
        return {
            "status": e["status"],
            "snapshot_id": e.get("snapshot-id"),
            "data_sequence_number": d.get("data-sequence-number"),
            "file_sequence_number": None,
            "data_file": {
                "content": d.get("content", 0),
                "file_path": d["file-path"],
                "file_format": d.get("file-format", "PARQUET"),
                "partition": part,
                "record_count": d["record-count"],
                "file_size_in_bytes": d["file-size-in-bytes"],
                "lower_bounds": kvs(d.get("lower-bounds")),
                "upper_bounds": kvs(d.get("upper-bounds")),
                "equality_ids": d.get("equality-ids"),
                "referenced_data_file": refs[0] if len(refs) == 1 else None,
                "schema_id": d.get("schema-id"),
                "referenced_data_files": refs if len(refs) > 1 else None,
                "equality_field_names": d.get("equality-field-names"),
            },
        }

    def _avro_manifest_schema(spec_json: list) -> dict:
        pfields = []
        for tj, pfname in zip(spec_json, _spec_pf_names(spec_json)):
            t = Transform.from_json(tj)
            pfields.append({
                "name": pfname,
                "type": ["null",
                         _avro_part_field_type(t, types_by_name.get(t.column))],
                "field-id": _pf_id(t),
            })
        data_file = {"type": "record", "name": "r2", "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition",
             "type": {"type": "record", "name": "r102", "fields": pfields},
             "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {"name": "lower_bounds",
             "type": ["null", _avro_kv_map("k126_v127", 126, 127)],
             "field-id": 125},
            {"name": "upper_bounds",
             "type": ["null", _avro_kv_map("k129_v130", 129, 130)],
             "field-id": 128},
            {"name": "equality_ids",
             "type": ["null", {"type": "array", "items": "int"}],
             "field-id": 135},
            {"name": "referenced_data_file", "type": ["null", "string"],
             "field-id": 143},
            # repo extensions (no spec field-ids; spec readers skip
            # unknown writer fields during Avro schema resolution)
            {"name": "schema_id", "type": ["null", "int"]},
            {"name": "referenced_data_files",
             "type": ["null", {"type": "array", "items": "string"}]},
            {"name": "equality_field_names",
             "type": ["null", {"type": "array", "items": "string"}]},
        ]}
        return {"type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {"name": "data_sequence_number", "type": ["null", "long"],
             "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ]}

    ext = "avro" if manifest_format == "avro" else "json"

    def _emit_manifest(base: str, spec_id: int, entries: list,
                       content: int) -> str:
        # CONTENT-ADDRESSED name (review r12): Iceberg manifests are
        # immutable files — a re-export whose content CHANGED (schema
        # evolution, quarantine) must write a NEW file, never mutate
        # one a still-resolvable older metadata.json references (a
        # racing external reader would see a whole-but-different
        # manifest whose recorded length no longer matches). Same
        # content → same digest → idempotent overwrite of identical
        # bytes; old manifests stay referenced by their version files.
        import hashlib as _hl

        digest = _hl.sha256(json.dumps(
            [spec_id, content, entries], sort_keys=True,
            default=str).encode()).hexdigest()[:10]
        p = os.path.join(out_dir, f"{base}-{digest}.{ext}")
        if manifest_format == "json":
            atomic_write(p, json.dumps({"partition-spec-id": spec_id,
                                        "entries": entries}))
            return p
        spec_json = spec_list[spec_id]
        avro_ocf.write_ocf(
            p, _avro_manifest_schema(spec_json),
            [_avro_entry(e, spec_json) for e in entries],
            metadata={
                "partition-spec-id": str(spec_id),
                "partition-spec": json.dumps(_spec_fields(spec_json)),
                "format-version": "2",
                "content": "data" if content == 0 else "deletes",
            })
        return p

    def _emit_mlist(base: str, manifests: list, seq: int) -> str:
        import hashlib as _hl

        digest = _hl.sha256(json.dumps(
            [manifests, seq], sort_keys=True,
            default=str).encode()).hexdigest()[:10]
        p = os.path.join(out_dir, f"{base}-{digest}.{ext}")
        if manifest_format == "json":
            atomic_write(p, json.dumps({"manifests": manifests}))
            return p
        recs = [{
            "manifest_path": m["manifest-path"],
            "manifest_length": m["manifest-length"],
            "partition_spec_id": m.get("partition-spec-id", default_spec_id),
            "content": m.get("content", 0),
            "sequence_number": seq,
            "min_sequence_number": 0,
            "added_snapshot_id": m.get("added-snapshot-id", 0),
            "added_files_count": m.get("added-files-count", 0),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": m.get("added-rows-count", 0),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        } for m in manifests]
        avro_ocf.write_ocf(p, _MANIFEST_FILE_AVRO_SCHEMA, recs,
                           metadata={"format-version": "2"})
        return p

    snapshots = []
    for s in meta["snapshots"]:
        # one data manifest PER PARTITION SPEC (Iceberg's invariant: a
        # manifest carries exactly one partition-spec-id; a snapshot
        # spanning an evolution gets one manifest per generation)
        entries_by_spec: dict[int, list] = {}
        for f in s["files"]:
            entry = {
                "status": 1,  # ADDED/EXISTING in this snapshot's scope
                "snapshot-id": s["snapshot_id"],
                "data-file": {
                    "content": 0,  # DATA (delete files ride in their own manifest)
                    "file-path": os.path.join(table.path, f["path"]),
                    "file-format": "PARQUET",
                    "partition": f.get("partition", {}),
                    "data-sequence-number": f.get("seq", 0),
                    "record-count": f["rows"],
                    "file-size-in-bytes": f["bytes"],
                    "lower-bounds": {k: v[0] for k, v in f.get("stats", {}).items()},
                    "upper-bounds": {k: v[1] for k, v in f.get("stats", {}).items()},
                    # Spec extension: real Iceberg resolves columns via
                    # field-ids embedded in parquet footers; Spark-written
                    # parquet lacks them, so the writing schema rides in
                    # the manifest instead (a converter would re-resolve
                    # names→ids from this schema when writing Avro).
                    "schema-id": f["schema_version"],
                },
            }
            entries_by_spec.setdefault(_file_spec_id(f), []).append(entry)
        manifests = []
        for spec_id, entries in sorted(entries_by_spec.items()):
            suffix = f"-spec{spec_id}" if len(entries_by_spec) > 1 else ""
            manifest_path = _emit_manifest(
                f"manifest-{s['snapshot_id']}{suffix}", spec_id, entries, 0
            )
            manifests.append(
                {
                    "manifest-path": manifest_path,
                    "manifest-length": os.path.getsize(manifest_path),
                    "content": 0,
                    "partition-spec-id": spec_id,
                    "added-snapshot-id": s["snapshot_id"],
                    "added-files-count": len(entries),
                    "added-rows-count": sum(
                        e["data-file"]["record-count"] for e in entries
                    ),
                }
            )
        # Iceberg v2 merge-on-read: position-delete files live in their
        # own manifest with content=1; readers anti-join (file, pos).
        if s.get("delete_files"):
            del_entries = [
                {
                    "status": 1,
                    "snapshot-id": s["snapshot_id"],
                    "data-file": {
                        # 1 = POSITION_DELETES, 2 = EQUALITY_DELETES
                        "content": 1 if d.get("content", "position") == "position" else 2,
                        "file-path": os.path.join(table.path, d["path"]),
                        "file-format": "PARQUET",
                        "record-count": d["rows"],
                        "file-size-in-bytes": d["bytes"],
                        "data-sequence-number": d.get("seq", 0),
                        "referenced-data-files": [
                            os.path.join(table.path, p)
                            for p in d.get("referenced", [])
                        ],
                        # Iceberg stores equality field IDS; ids come
                        # from equality_cols (CURRENT names — rename
                        # rewrites them in table metadata, so they
                        # resolve reliably). The names carried
                        # alongside are the PHYSICAL parquet column
                        # names of the delete file (file_cols, frozen
                        # at write time) — readers rebind them to
                        # target names via the ids.
                        "equality-ids": [
                            field_ids_by_name.get(c, -1)
                            for c in d.get("equality_cols", [])
                        ],
                        "equality-field-names": (
                            d.get("file_cols") or d.get("equality_cols", [])
                        ),
                    },
                }
                for d in s["delete_files"]
            ]
            del_manifest_path = _emit_manifest(
                f"delete-manifest-{s['snapshot_id']}", default_spec_id,
                del_entries, 1
            )
            manifests.append(
                {
                    "manifest-path": del_manifest_path,
                    "manifest-length": os.path.getsize(del_manifest_path),
                    "content": 1,
                    "added-snapshot-id": s["snapshot_id"],
                    "added-files-count": len(del_entries),
                    "added-rows-count": sum(d["rows"] for d in s["delete_files"]),
                }
            )
        mlist_path = _emit_mlist(
            f"snap-{s['snapshot_id']}-manifest-list", manifests,
            s["snapshot_id"])
        snapshots.append(
            {
                "snapshot-id": s["snapshot_id"],
                **(
                    {"parent-snapshot-id": s["parent_id"]}
                    if s.get("parent_id") is not None
                    else {}
                ),
                "sequence-number": s["snapshot_id"],
                "timestamp-ms": s["timestamp_ms"],
                "manifest-list": mlist_path,
                "schema-id": s["schema_version"],
                "summary": {
                    "operation": s["operation"],
                    # the spec's standard metrics (Iceberg spec,
                    # Snapshots → Summary): external engines surface
                    # these in their snapshots tables
                    "total-data-files": str(len(s["files"])),
                    "total-records": str(sum(
                        f["rows"] for f in s["files"])),
                    "total-delete-files": str(
                        len(s.get("delete_files") or [])),
                    **{k: str(v)
                       for k, v in (s.get("summary") or {}).items()},
                },
            }
        )

    metadata = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, table.path)),
        "location": table.path,
        "last-sequence-number": meta.get("current_snapshot_id") or 0,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": last_column_id,
        "current-schema-id": meta["current_schema_version"],
        "schemas": schemas,
        "default-spec-id": default_spec_id,
        "partition-specs": [
            {"spec-id": i, "fields": _spec_fields(sp)}
            for i, sp in enumerate(spec_list)
        ],
        # max field-id EVER assigned by the table-wide allocator (999
        # for a never-partitioned table, matching Iceberg's sentinel)
        "last-partition-id": max(_pf_ids.values(), default=999),
        "default-sort-order-id": 0,
        "sort-orders": [
            {
                "order-id": 0,
                "fields": [
                    {
                        "transform": "identity",
                        "source-id": field_ids_by_name.get(c, -1),
                        "direction": "asc",
                        "null-order": "nulls-first",
                    }
                    for c in (meta.get("sort_order") or [])
                ],
            }
        ],
        "properties": {
            **meta.get("properties", {}),
            # Spark-written parquet carries no embedded Iceberg field
            # ids; the spec's name-mapping property is how a real
            # Iceberg runtime resolves such files by column name
            # (Iceberg spec: "Column Projection" / name mapping
            # serialization). Every historical spelling of a field id
            # is listed, so files written before a rename still
            # resolve.
            "schema.name-mapping.default": json.dumps([
                {"field-id": fid,
                 "names": sorted({n for n, i in field_ids_by_name.items()
                                  if i == fid})}
                for fid in sorted(set(field_ids_by_name.values()))
            ], separators=(",", ":")),
        },
        "current-snapshot-id": meta.get("current_snapshot_id"),
        "snapshots": snapshots,
        "snapshot-log": [
            {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
            for s in snapshots
        ],
        "metadata-log": [],
        "refs": {
            # retention keys use Iceberg's metadata.json spellings
            # (max-ref-age-ms / min-snapshots-to-keep)
            **{
                name: {"snapshot-id": sid, "type": "tag",
                       **((meta.get("ref_retention") or {}).get(name) or {})}
                for name, sid in (meta.get("refs") or {}).items()
            },
            **{
                name: {"snapshot-id": sid, "type": "branch",
                       **((meta.get("ref_retention") or {}).get(name) or {})}
                for name, sid in (meta.get("branches") or {}).items()
                if sid is not None
            },
        },
    }
    # ANALYZE results export as a Puffin statistics file (the spec's
    # apache-datasketches-theta-v1 NDV blobs, one per analyzed column)
    # so a conforming reader recovers the NDVs instead of re-deriving
    # them with a table scan. Readers that ignore `statistics` lose
    # nothing — the data chain is complete without it.
    cstats = meta.get("column_stats")
    if cstats and cstats.get("columns"):
        from . import puffin

        stats_snap = cstats.get("snapshot_id") or 0
        # leaf map resolves BOTH top-level names and dotted
        # struct-leaf paths ("meta.n") to their own field ids —
        # reuse the bounds map (same walk, one leaf-selection rule)
        cur_leaf_ids = {
            path: fid for path, (fid, _t) in bounds_map[
                str(meta["current_schema_version"])].items()
        }
        blobs = []
        for cname, cs in sorted(cstats["columns"].items()):
            fid = cur_leaf_ids.get(cname, field_ids_by_name.get(cname))
            if fid is None:
                continue
            blobs.append((
                {
                    "type": "apache-datasketches-theta-v1",
                    "fields": [fid],
                    "snapshot-id": stats_snap,
                    "sequence-number": stats_snap,
                    "properties": {
                        "ndv": str(int(cs["ndv"])),
                        # repo extension (spec properties are free-form)
                        "null-count": str(int(cs.get("null_count", 0))),
                    },
                },
                puffin.theta_sketch_bytes(int(cs["ndv"])),
            ))
        if blobs:
            spath = os.path.join(out_dir, f"stats-{stats_snap}.puffin")
            info = puffin.write_puffin(
                spath, blobs,
                {"row-count": str(int(cstats.get("row_count", 0)))})
            metadata["statistics"] = [{
                "snapshot-id": stats_snap,
                "statistics-path": spath,
                "file-size-in-bytes": info["file-size-in-bytes"],
                "file-footer-size-in-bytes":
                    info["file-footer-size-in-bytes"],
                "blob-metadata": [
                    {k: v for k, v in m.items()
                     if k not in ("offset", "length")}
                    for m, _payload in blobs
                ],
            }]
    n = meta.get("current_snapshot_id") or 0
    metadata_path = os.path.join(out_dir, f"v{n}.metadata.json")
    # atomic: metadata.json is the chain's ROOT and version resolution
    # picks the highest vN file — a crash mid-write must never leave a
    # truncated newest version for readers to resolve
    atomic_write(metadata_path, json.dumps(metadata, indent=1))
    return metadata_path


_ICEBERG_TO_NATIVE_TRANSFORM = {
    "identity": "identity",
    "day": "days",
    "hour": "hours",
    "month": "months",
    "year": "years",
}


def _native_spec_json(
    spec_fields: list, names_by_id: dict[int, str], strict: bool = True,
    types_by_id: dict[int, object] | None = None,
) -> list:
    """Iceberg partition-spec fields → native Transform JSON list.

    ``strict=False`` (historical, non-default specs): a field sourced
    from a column no schema generation still records is SKIPPED rather
    than blocking the whole adoption — that spec is only history; no
    live write will ever use it."""
    out = []
    for f in spec_fields:
        col = names_by_id.get(f["source-id"])
        if col is None:
            if not strict:
                continue
            raise ValueError(
                f"partition spec field {f.get('name')!r} references "
                f"unknown source-id {f.get('source-id')}"
            )
        tr = f["transform"]
        m = re.match(r"^(bucket|truncate)\[(\d+)\]$", tr)
        if m:
            src_type = (types_by_id or {}).get(f["source-id"])
            if m.group(1) == "bucket":
                # Foreign bucket[N] is Iceberg-spec murmur3 → the
                # native `ibucket` transform is hash-identical
                # (Appendix B): adopted values prune exactly and
                # continued DML clusters into the same bucket layout
                name = "ibucket"
            elif src_type == "string":
                # string truncate: both sides keep the first W code
                # points — value-exact
                name = "truncate"
            elif src_type in ("int", "long") \
                    or str(src_type).startswith("decimal") \
                    or src_type == "binary":
                # int/long/decimal/binary truncate: the native
                # `itruncate` computes the spec's exact semantics for
                # all four (v - (v mod W) on the value / unscaled
                # value; first-W-bytes for binary) — value-exact
                name = "itruncate"
            else:
                # truncate over a type the spec does not define it on
                # (float/double/…): no portable value space — the
                # field adopts as clustering-free (values dropped)
                continue
            out.append(Transform(name, col, int(m.group(2))).to_json())
        elif tr == "void":
            # always-null transform (also what this repo's exports use
            # for legacy xxhash64 bucket fields): carries no pruning
            # or clustering information — skip it
            continue
        elif tr in _ICEBERG_TO_NATIVE_TRANSFORM:
            out.append(Transform(_ICEBERG_TO_NATIVE_TRANSFORM[tr], col).to_json())
        else:
            raise ValueError(f"unsupported Iceberg transform {tr!r}")
    return out


def _adopt_partition(part: dict, spec_fields_by_name: dict,
                     names_by_id: dict[int, str],
                     types_by_id: dict | None = None) -> dict:
    """Foreign manifest partition struct → native ``_p_*`` hive keys.

    Only conversions whose VALUE SPELLING provably matches the native
    write path are emitted: identity (``CAST(v AS STRING)``), day
    (epoch-days int or ISO string → ISO date), and hour/month/year —
    Iceberg spells those as deterministic epoch-unit ints
    (hours/months/years since 1970), which convert exactly to the
    native ``CAST(date_trunc(unit, ts) AS STRING)`` rendering.
    ``bucket[N]`` values convert to the native ``ibucket`` transform
    verbatim — both are murmur3_x86_32 over the spec's Appendix B
    encodings, so a point lookup on an adopted bucket-partitioned
    table (the reference's flagship shape: ``bucket(tenant_id,16)``,
    ICEBERG-Interoperability-Test-Spec.md:50) prunes exactly.
    ``truncate[W]`` converts by SOURCE TYPE to the native value-exact
    transform: string → ``truncate`` (first W code points both sides),
    int/long → ``itruncate`` numerals, decimal → ``itruncate`` at the
    declared scale (Avro carries unscaled two's-complement bytes),
    binary → ``itruncate`` uppercase hex (r11 — the full spec truncate
    matrix). A (type, value) combination outside that matrix omits the
    key: a missing partition key means "never prune this file" (the
    same conservative degradation streamed files use). ``void`` fields
    carry nothing and are skipped. Keys already in the native ``_p_*``
    dialect (this repo's own export) pass through whole.
    """
    out: dict[str, str] = {}
    for k, v in part.items():
        if k.startswith("_p_"):
            out[k] = v
            continue
        f = spec_fields_by_name.get(k)
        col = names_by_id.get(f["source-id"]) if f else None
        if f is None or col is None:
            continue
        tr = f["transform"]
        is_int = isinstance(v, int) and not isinstance(v, bool)
        mb = re.match(r"^bucket\[\d+\]$", tr)
        if v is None:
            # null transform source → the native null sentinel (NOT
            # the string "None", which could wrongly equality-prune)
            if tr in _ICEBERG_TO_NATIVE_TRANSFORM:
                out[f"_p_{_ICEBERG_TO_NATIVE_TRANSFORM[tr]}_{col}"] = _HIVE_NULL
            elif mb:
                out[f"_p_ibucket_{col}"] = _HIVE_NULL
        elif mb and is_int:
            # murmur3 bucket ordinal, hash-identical to native ibucket
            out[f"_p_ibucket_{col}"] = str(v)
        elif tr == "identity":
            if isinstance(v, float) and v != 0 and not (
                    1e-3 <= abs(v) < 1e7):
                # Spark's CAST(double AS STRING) switches to E notation
                # outside [1e-3, 1e7) ('1.0E7') while Python's str uses
                # different thresholds ('10000000.0') — emitting the
                # Python spelling would make equality pruning WRONGLY
                # drop the file. Omit the key (never-prune) instead.
                continue
            out[f"_p_identity_{col}"] = str(v)
        elif tr == "day":
            if is_int:
                v = (datetime.date(1970, 1, 1)
                     + datetime.timedelta(days=v)).isoformat()
            out[f"_p_days_{col}"] = str(v)[:10]
        elif tr == "hour" and is_int:
            dt = (datetime.datetime(1970, 1, 1)
                  + datetime.timedelta(hours=v))
            out[f"_p_hours_{col}"] = dt.strftime("%Y-%m-%d %H:%M:%S")
        elif tr == "month" and is_int:
            y, m = divmod(v, 12)
            out[f"_p_months_{col}"] = f"{1970 + y:04d}-{m + 1:02d}-01 00:00:00"
        elif tr == "year" and is_int:
            out[f"_p_years_{col}"] = f"{1970 + v:04d}-01-01 00:00:00"
        elif re.match(r"^truncate\[\d+\]$", tr):
            st = str((types_by_id or {}).get(f["source-id"], ""))
            if st.startswith("decimal"):
                # decimal truncate: the value is the truncated decimal
                # (Avro carries the unscaled two's-complement bytes;
                # JSON dialects a rendered string). Native spelling =
                # Spark's CAST(decimal AS STRING) at the declared
                # scale, which Decimal(u)·10^-s reproduces exactly.
                sc = int(st.rstrip(" )").split(",")[1]) if "," in st else 0
                if isinstance(v, (bytes, bytearray)):
                    # Avro decimal: unscaled two's-complement bytes
                    u = int.from_bytes(bytes(v), "big", signed=True)
                elif isinstance(v, str):
                    # JSON single-value serialization: the rendered
                    # decimal string ("12.30", Iceberg spec Appendix C)
                    u = int(decimal.Decimal(v).scaleb(sc))
                else:
                    # a bare NUMBER is ambiguous (rendered value vs
                    # unscaled units) — guessing wrong would WRONGLY
                    # prune, so omit the key (never-prune) instead
                    continue
                out[f"_p_itruncate_{col}"] = str(
                    decimal.Decimal(u).scaleb(-sc))
            elif st == "binary":
                # binary truncate: first W bytes — native spelling is
                # the uppercase hex the JVM hex() rendering produces.
                # Avro carries raw bytes; the Iceberg JSON single-value
                # serialization is a hex STRING (normalize its case and
                # validate — an unparseable value omits the key).
                if isinstance(v, (bytes, bytearray)):
                    out[f"_p_itruncate_{col}"] = bytes(v).hex().upper()
                elif isinstance(v, str):
                    try:
                        out[f"_p_itruncate_{col}"] = \
                            bytes.fromhex(v).hex().upper()
                    except ValueError:
                        pass  # not hex: never-prune on this field
            elif isinstance(v, str) and st in ("string", ""):
                # string truncate: both sides keep the first W code
                # points — value-exact. Gated on the source type so a
                # non-string value never lands under the wrong key
                # ("" = legacy caller without a type map: a str value
                # there can only be a string-truncate value).
                out[f"_p_truncate_{col}"] = v
            elif is_int:
                # numeric truncate → the native spec-true itruncate
                out[f"_p_itruncate_{col}"] = str(v)
            # any other (type, value) combination: omit the key (the
            # file is simply never pruned on it)
    return out


# --- real-Avro manifest decoding ------------------------------------
# Externally-written Iceberg chains serialize manifest lists and
# manifests as Avro OCF (Iceberg spec §Manifests) with underscore field
# names; the repo's own exporter historically used a JSON dialect with
# hyphen names. These readers normalize BOTH to the hyphen dialect the
# parse loop consumes, so adoption is serialization-agnostic.


def _micros_to_sql(us: int) -> str:
    """Epoch-micros → the naive-UTC SQL-literal space form the native
    stats / partition layers compare against ('2024-01-05 12:00:00' or
    '… .123456' with trailing fraction zeros trimmed — the same
    rendering Spark's CAST(ts AS STRING) produces)."""
    dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)
    s = dt.strftime("%Y-%m-%d %H:%M:%S")
    frac = f"{dt.microsecond:06d}".rstrip("0")
    return f"{s}.{frac}" if frac else s


def _decode_bound(b: bytes, ice_type) -> object:
    """Iceberg binary single-value serialization (table spec appendix D)
    → the native stat spelling ``footer_min_max`` would have produced.
    Types the stats layer does not compare (uuid/fixed/binary) return
    None and the bound is omitted — never a wrong prune, just a kept
    file."""
    import decimal
    import struct as _struct

    if not isinstance(ice_type, str) or not isinstance(b, (bytes, bytearray)):
        return None
    t = ice_type
    try:
        if t == "boolean":
            return b[0] != 0
        if t == "int":
            return _struct.unpack("<i", b)[0]
        if t == "long":
            # tolerate 4-byte payloads: bounds written before an
            # int→long widening keep their original width
            return _struct.unpack("<i", b)[0] if len(b) == 4 \
                else _struct.unpack("<q", b)[0]
        if t == "float":
            return _struct.unpack("<f", b)[0]
        if t == "double":
            return _struct.unpack("<f", b)[0] if len(b) == 4 \
                else _struct.unpack("<d", b)[0]
        if t == "date":
            days = _struct.unpack("<i", b)[0]
            return (datetime.date(1970, 1, 1)
                    + datetime.timedelta(days=days)).isoformat()
        if t in ("timestamp", "timestamptz"):
            return _micros_to_sql(_struct.unpack("<q", b)[0])
        if t in ("timestamp_ns", "timestamptz_ns"):
            return _micros_to_sql(_struct.unpack("<q", b)[0] // 1000)
        if t == "time":
            return _struct.unpack("<q", b)[0]
        if t == "string":
            return b.decode("utf-8")
        m = re.match(r"^decimal\((\d+),\s*(\d+)\)$", t)
        if m:
            unscaled = int.from_bytes(b, "big", signed=True)
            return str(decimal.Decimal(unscaled).scaleb(-int(m.group(2))))
    except Exception:
        return None
    return None


def _bounds_from_avro(bounds, types_by_id: dict) -> dict:
    """Avro bound maps arrive as arrays of ``{key: field-id, value:
    bytes}`` records (Avro maps require string keys, so Iceberg uses the
    array-of-kv form); decode each value by its field's type."""
    out: dict[str, object] = {}
    if not bounds:
        return out
    items = (bounds.items() if isinstance(bounds, dict)
             else ((kv["key"], kv["value"]) for kv in bounds))
    for k, v in items:
        fid = int(k)
        dec = _decode_bound(v, types_by_id.get(fid))
        if dec is not None:
            out[str(fid)] = dec
    return out


def _partition_from_avro(part: dict, spec_fields_by_name: dict,
                         types_by_id: dict) -> dict:
    """Decoded Avro partition record → the JSON-dialect partition dict
    ``_adopt_partition`` consumes. Identity values over date/timestamp
    sources become their native string spellings here (Avro carries raw
    epoch ints); day/hour/month/year stay as Iceberg's epoch-unit ints
    (``_adopt_partition`` converts those)."""
    out: dict = {}
    for k, v in part.items():
        f = spec_fields_by_name.get(k)
        if f is None or v is None or not isinstance(v, int) \
                or isinstance(v, bool):
            out[k] = v
            continue
        if f["transform"] == "identity":
            st = types_by_id.get(f["source-id"])
            if st == "date":
                v = (datetime.date(1970, 1, 1)
                     + datetime.timedelta(days=v)).isoformat()
            elif st in ("timestamp", "timestamptz"):
                v = _micros_to_sql(v)
        out[k] = v
    return out


def _read_manifest_list(path: str) -> dict:
    """Manifest list → ``{"manifests": [...]}`` in the hyphen dialect,
    whether the file is a real Avro OCF or the repo's JSON."""
    if not avro_ocf.is_ocf(path):
        with open(path) as fh:
            return json.load(fh)
    _, recs = avro_ocf.read_ocf(path)
    mans = []
    for m in recs:
        entry = {
            "manifest-path": m["manifest_path"],
            "manifest-length": m["manifest_length"],
            "partition-spec-id": m.get("partition_spec_id", 0),
            "content": m.get("content") or 0,
        }
        if m.get("sequence_number") is not None:
            entry["sequence-number"] = m["sequence_number"]
        if m.get("added_snapshot_id") is not None:
            entry["added-snapshot-id"] = m["added_snapshot_id"]
        mans.append(entry)
    return {"manifests": mans}


def _read_manifest(path: str, spec_fields_by_name: dict,
                   types_by_id: dict) -> dict:
    """One manifest → ``{"entries": [...]}`` in the hyphen dialect.
    Avro entries (underscore names, id-keyed byte bounds, typed
    partition records) are normalized field by field; Java writers
    spell the v2 sequence field ``sequence_number`` while the spec
    table says ``data_sequence_number`` — both are accepted."""
    if not avro_ocf.is_ocf(path):
        with open(path) as fh:
            return json.load(fh)
    _, recs = avro_ocf.read_ocf(path)
    entries = []
    for rec in recs:
        d = rec["data_file"]
        lows = _bounds_from_avro(d.get("lower_bounds"), types_by_id)
        highs = _bounds_from_avro(d.get("upper_bounds"), types_by_id)
        df: dict = {
            "content": d.get("content") or 0,
            "file-path": d["file_path"],
            "file-format": d.get("file_format", "PARQUET"),
            "partition": _partition_from_avro(
                d.get("partition") or {}, spec_fields_by_name, types_by_id),
            "record-count": d["record_count"],
            "file-size-in-bytes": d["file_size_in_bytes"],
        }
        if lows:
            df["lower-bounds"] = lows
        if highs:
            df["upper-bounds"] = highs
        seq = rec.get("data_sequence_number")
        if seq is None:
            seq = rec.get("sequence_number")
        if seq is not None:
            df["data-sequence-number"] = seq
        if d.get("equality_ids"):
            df["equality-ids"] = list(d["equality_ids"])
        # spec field 143 (singular; used by pos-deletes that target one
        # file) → the dialect's list form. Absent ⇒ the parse loop's
        # references-all-live-files fallback applies.
        if d.get("referenced_data_file"):
            df["referenced-data-files"] = [d["referenced_data_file"]]
        # this repo's export extensions (unknown fields — spec-compliant
        # readers skip them via Avro schema resolution): the writing
        # schema id, multi-file pos-delete references, and the physical
        # column names of equality-delete parquet
        if d.get("schema_id") is not None:
            df["schema-id"] = d["schema_id"]
        if d.get("referenced_data_files"):
            df["referenced-data-files"] = list(d["referenced_data_files"])
        if d.get("equality_field_names"):
            df["equality-field-names"] = list(d["equality_field_names"])
        entry: dict = {"status": rec.get("status", 1), "data-file": df}
        if rec.get("snapshot_id") is not None:
            entry["snapshot-id"] = rec["snapshot_id"]
        entries.append(entry)
    return {"entries": entries}


def _resolve_metadata_path(path: str) -> str:
    """Accept a metadata.json file OR a table directory. Directories
    resolve the HadoopCatalog way: ``metadata/version-hint.text``
    names the current version N → ``vN.metadata.json``; without a
    hint, the highest version file under ``metadata/`` (or the
    directory itself) wins — both the Hadoop ``vN.metadata.json``
    spelling and the object-store-catalog
    ``NNNNN-<uuid>.metadata.json`` spelling are recognized."""
    if os.path.isfile(path):
        return path
    meta_dir = path
    for cand in (os.path.join(path, "metadata"), path):
        if os.path.isdir(cand):
            meta_dir = cand
            hint = os.path.join(cand, "version-hint.text")
            if os.path.isfile(hint):
                with open(hint) as fh:
                    n = fh.read().strip()
                vf = os.path.join(cand, f"v{n}.metadata.json")
                if os.path.isfile(vf):
                    return vf
            break
    versions = []
    for fn in os.listdir(meta_dir):
        m = (re.match(r"^v(\d+)\.metadata\.json$", fn)
             or re.match(r"^(\d+)-[0-9a-fA-F-]+\.metadata\.json$", fn))
        if m:
            versions.append((int(m.group(1)), fn))
    if not versions:
        raise FileNotFoundError(
            f"no vN.metadata.json found under {meta_dir!r}")
    return os.path.join(meta_dir, max(versions)[1])


def _footer_schema_id(path: str, schemas: list, default_id: int) -> int:
    """Last-resort writing-schema attribution: when a data file's
    adding snapshot was EXPIRED out of the chain (its manifest entry
    survives with an unknown snapshot-id), pick the schema generation
    whose field names match the parquet footer — newest exact match
    first, newest superset as fallback (a reader projects a subset
    fine). Loud when nothing matches: silently defaulting would
    misbind columns after a rename."""
    import pyarrow.parquet as pq

    names = set(pq.ParquetFile(path).schema_arrow.names)
    by_newest = sorted(schemas, key=lambda s: -s["schema-id"])
    for s in by_newest:
        if {f["name"] for f in s["fields"]} == names:
            return s["schema-id"]
    for s in by_newest:
        if names <= {f["name"] for f in s["fields"]}:
            return s["schema-id"]
    raise ValueError(
        f"data file {path!r} matches no schema generation by footer "
        f"column names {sorted(names)}; cannot attribute a writing schema"
    )


def _parse_iceberg_v2(metadata_path: str) -> dict:
    """Walk an Iceberg v2 metadata chain (metadata.json → manifest
    lists → manifests) into LakeTable's native metadata document —
    the shared engine of :func:`adopt_iceberg_metadata` (first
    registration) and :func:`sync_iceberg_metadata` (pulling foreign
    advances after registration).

    Register an EXTERNALLY-WRITTEN Iceberg v2 table as a live
    LakeTable — the import direction of the reference's cross-engine
    interop loop (``ICEBERG-Interoperability-Test-Spec.md:4-14``: one
    engine reads what another wrote), inverting
    :func:`to_iceberg_metadata`'s walk.

    Zero-copy: the adopted snapshots' manifests point at the foreign
    data/delete files IN PLACE (absolute paths, the
    ``migrate_parquet``/``snapshot_of`` idiom), so adopting a 100 TB
    table costs one metadata pass — no byte is rewritten, and
    ``remove_orphan_files`` sweeps only the new table's own directory.

    What carries over, by field id:

    - the FULL schema history (renames/widenings/initial-defaults keep
      working — files read through their written schema generation);
    - every partition spec (default spec becomes the live write spec;
      prior specs land in ``partition_spec_history``);
    - all snapshots with parent lineage, operations, summaries and
      data-sequence numbers (time travel + incremental reads work);
    - position AND equality delete files (merge-on-read reads apply
      them with the strictly-smaller-sequence rule);
    - refs (tags/branches) with their declared retention, sort order,
      identifier fields, and table properties.

    Continued DML is immediate: new commits take ``max(snapshot
    id)+1``, so foreign equality deletes can never reach rows written
    after adoption, and new files cluster under the adopted default
    spec. Manifest lists and manifests may be REAL Avro OCF (what
    foreign engines write — decoded by :mod:`.avro_ocf`, bound bytes
    per the binary single-value spec) or this repo's JSON dialect,
    detected per file by magic; format-version 1 chains normalize
    their legacy spellings first and upgrade on adoption. Bounds keyed
    by field id are rebound to the writing schema's names.
    """
    with open(metadata_path) as fh:
        md = json.load(fh)
    if md.get("format-version") not in (1, 2):
        raise ValueError(
            f"can only adopt Iceberg format-version 1 or 2 metadata, got "
            f"{md.get('format-version')!r}"
        )
    if md.get("format-version") == 1:
        # v1 → normalize the legacy spellings, then the v2 walk applies
        # verbatim (v1 is a strict subset: data files only, no
        # content/sequence fields — the readers' defaults already
        # cover their absence). Adoption upgrades: continued DML
        # writes v2 semantics, exactly like Iceberg's own upgrade.
        if "schemas" not in md:
            legacy = dict(md["schema"])
            legacy.setdefault("schema-id", 0)
            md["schemas"] = [legacy]
        if "current-schema-id" not in md:
            md["current-schema-id"] = md["schemas"][-1].get("schema-id", 0)
        if "partition-specs" not in md:
            md["partition-specs"] = [{
                "spec-id": md.get("default-spec-id", 0),
                "fields": md.get("partition-spec", []),
            }]
        md.setdefault("default-spec-id",
                      md["partition-specs"][0].get("spec-id", 0))

    # --- schemas, by field id ---
    schemas: dict[str, list] = {}
    last_column_id = 0
    for s in md["schemas"]:
        schemas[str(s["schema-id"])] = [
            {
                "id": f["id"],
                "name": f["name"],
                "type": _spark_ddl_type(f["type"]),
                "default": f.get("initial-default"),
            }
            for f in s["fields"]
        ]
        last_column_id = max(
            last_column_id, *(f["id"] for f in s["fields"]), 0
        )
    cur_schema_id = md["current-schema-id"]
    current = next(s for s in md["schemas"] if s["schema-id"] == cur_schema_id)
    names_by_id = {f["id"]: f["name"] for f in current["fields"]}
    schema_names_by_id = {
        s["schema-id"]: {f["id"]: f["name"] for f in s["fields"]}
        for s in md["schemas"]
    }
    # historical specs may source since-dropped columns: resolve ids
    # against the UNION of all schema generations (current names win);
    # types-by-id drive Avro bound/partition decoding (newest wins —
    # widenings decode historical narrow payloads by byte length)
    union_names_by_id: dict[int, str] = {}
    types_by_id: dict[int, object] = {}
    # leaf-id → dotted path per schema version: bounds rebind to the
    # native stats spelling ("meta.n"), where the prune grammar reads
    # them (top-level primitives included — same map, plain names).
    # One _leaf_fields walk per schema serves BOTH maps, and leaf
    # types follow the same newest-wins rule as top-level ids (a
    # post-promotion int→long leaf must decode 8-byte bounds —
    # review r12).
    leaf_names_by_schema: dict[int, dict[int, str]] = {}
    for s in sorted(md["schemas"], key=lambda s: s["schema-id"]):
        for f in s["fields"]:
            union_names_by_id[f["id"]] = f["name"]
            types_by_id[f["id"]] = f["type"]
        lf = _leaf_fields(s["fields"])
        for _path, (fid, t) in lf.items():
            types_by_id[fid] = t
        leaf_names_by_schema[s["schema-id"]] = {
            fid: path for path, (fid, _t) in lf.items()}
    union_names_by_id.update(names_by_id)

    # --- partition specs (default live, rest history) ---
    spec_jsons = md.get("partition-specs") or []
    default_spec_id = md.get("default-spec-id", 0)
    native_specs: dict[int, list] = {}
    spec_fields_by_id: dict[int, dict] = {}
    for sp in spec_jsons:
        native_specs[sp["spec-id"]] = _native_spec_json(
            sp["fields"], union_names_by_id,
            strict=sp["spec-id"] == default_spec_id,
            types_by_id=types_by_id,
        )
        spec_fields_by_id[sp["spec-id"]] = {
            f["name"]: f for f in sp["fields"]
        }
    partition_spec = native_specs.get(default_spec_id, [])
    spec_history = [
        native_specs[i] for i in sorted(native_specs) if i != default_spec_id
    ]

    # --- sort order ---
    sort_order = []
    order_id = md.get("default-sort-order-id", 0)
    for so in md.get("sort-orders") or []:
        if so.get("order-id") == order_id:
            sort_order = [
                names_by_id[f["source-id"]]
                for f in so.get("fields", [])
                if f.get("source-id") in names_by_id
            ]

    # --- snapshots: walk each manifest list ---
    snap_schema = {
        s["snapshot-id"]: s.get("schema-id", cur_schema_id)
        for s in md["snapshots"]
    }

    def _rebind_bounds(bounds: dict, schema_id: int) -> dict:
        # leaf map covers top-level primitives AND struct leaves
        # (dotted spelling) — the names native stats pruning reads
        by_id = leaf_names_by_schema.get(schema_id, {})
        out = {}
        for k, v in (bounds or {}).items():
            name = by_id.get(int(k)) if str(k).isdigit() else k
            if name is not None:
                out[name] = v
        return out

    native_snapshots = []
    # path → parsed manifest: a long-history chain references the same
    # manifest from MANY snapshots' manifest lists — parse each once so
    # adoption is O(unique manifests + entries), not O(snapshots ×
    # entries)
    # keyed (path, spec-id): _read_manifest's partition translation
    # depends on the manifest-list entry's partition-spec-id, so a
    # manifest referenced under two spec ids (pathological but legal)
    # must not reuse the first spec's translation (ADVICE r9)
    manifest_memo: dict[tuple, dict] = {}
    # (path, inherited-seq, spec-id) → (converted data files, delete files):
    # CONVERSION (bounds rebind, partition translation) is the
    # expensive half, so it too runs once per unique manifest; later
    # snapshots share the same dict objects (safe: the disk form
    # delta-encodes per-snapshot file lists, and the one mutating
    # consumer below copies delete dicts first)
    convert_memo: dict[tuple, tuple[list, list]] = {}
    order_key = lambda s: (s.get("sequence-number", 0), s["snapshot-id"])  # noqa: E731
    for s in sorted(md["snapshots"], key=order_key):
        # Iceberg sequence inheritance: an entry with no explicit
        # data-sequence-number takes the sequence of the commit that
        # ADDED its manifest — the manifest-list entry's
        # sequence-number when present, else this snapshot's
        # (defaulting to 0 would make the file strictly older than
        # every equality delete — wrongly retracting its rows)
        snap_seq = s.get("sequence-number", 0)
        mlist = _read_manifest_list(_strip_scheme(s["manifest-list"]))
        files: list[dict] = []
        dels: list[dict] = []
        for m in mlist["manifests"]:
            spec_id = m.get("partition-spec-id", default_spec_id)
            inherit_seq = m.get("sequence-number", snap_seq)
            mpath = _strip_scheme(m["manifest-path"])
            memo_key = (mpath, inherit_seq, spec_id)
            cached = convert_memo.get(memo_key)
            if cached is not None:
                files.extend(cached[0])
                # the no-referenced fallback below mutates delete
                # dicts per snapshot — give each snapshot copies
                dels.extend(dict(dd) for dd in cached[1])
                continue
            mfiles: list[dict] = []
            mdels: list[dict] = []
            manifest = manifest_memo.get((mpath, spec_id))
            if manifest is None:
                manifest = manifest_memo[(mpath, spec_id)] = _read_manifest(
                    mpath, spec_fields_by_id.get(spec_id, {}), types_by_id)
            for e in manifest["entries"]:
                if e.get("status") == 2:  # DELETED — not live
                    continue
                d = e["data-file"]
                added_in = e.get("snapshot-id", s["snapshot-id"])
                schema_id = d.get("schema-id", snap_schema.get(added_in))
                if d.get("content", 0) == 0:
                    if schema_id is None:
                        # adding snapshot expired out of the chain —
                        # attribute the writing schema by footer probe
                        schema_id = _footer_schema_id(
                            _strip_scheme(d["file-path"]),
                            md["schemas"], cur_schema_id)
                    lows = _rebind_bounds(d.get("lower-bounds"), schema_id)
                    highs = _rebind_bounds(d.get("upper-bounds"), schema_id)
                    mfiles.append({
                        "path": _strip_scheme(d["file-path"]),
                        "rows": d["record-count"],
                        "bytes": d["file-size-in-bytes"],
                        "schema_version": schema_id,
                        "stats": {c: [lo, highs.get(c)]
                                  for c, lo in lows.items()},
                        "partition": _adopt_partition(
                            d.get("partition") or {},
                            spec_fields_by_id.get(spec_id, {}),
                            names_by_id,
                            types_by_id,
                        ),
                        "seq": d.get("data-sequence-number", inherit_seq),
                    })
                else:
                    if schema_id is None:
                        schema_id = cur_schema_id
                    eq_ids = d.get("equality-ids") or []
                    eq_cols = [names_by_id[i] for i in eq_ids
                               if i in names_by_id]
                    if len(eq_cols) != len(eq_ids):
                        raise ValueError(
                            f"equality-delete file {d['file-path']!r} keys "
                            f"fields {eq_ids} not all present in the "
                            "current schema; cannot adopt"
                        )
                    # physical parquet column names inside the delete
                    # file = the names current when it was WRITTEN
                    # (the adding snapshot's schema) — real chains
                    # carry only equality-ids, and binding the current
                    # names would break after a post-delete rename
                    write_names = schema_names_by_id.get(schema_id, {})
                    file_cols = (d.get("equality-field-names")
                                 or [write_names.get(i) for i in eq_ids])
                    if any(c is None for c in file_cols):
                        raise ValueError(
                            f"equality-delete file {d['file-path']!r}: "
                            f"fields {eq_ids} unresolved in writing "
                            f"schema {schema_id}; cannot adopt"
                        )
                    mdels.append({
                        "path": _strip_scheme(d["file-path"]),
                        "rows": d["record-count"],
                        "bytes": d["file-size-in-bytes"],
                        "referenced": [
                            _strip_scheme(p)
                            for p in d.get("referenced-data-files", [])
                        ],
                        "content": ("position" if d.get("content") == 1
                                    else "equality"),
                        "equality_cols": eq_cols,
                        "seq": d.get("data-sequence-number", inherit_seq),
                        **({"file_cols": file_cols}
                           if d.get("content") == 2 else {}),
                    })
            convert_memo[memo_key] = (mfiles, mdels)
            files.extend(mfiles)
            dels.extend(dict(dd) for dd in mdels)
        # a position delete with no recorded referenced-data-files
        # applies to any file — reference every live data file (broad
        # but correct: the anti-join simply scans more)
        all_paths = [f["path"] for f in files]
        for dd in dels:
            if dd["content"] == "position" and not dd["referenced"]:
                dd["referenced"] = list(all_paths)
        native_snapshots.append({
            "snapshot_id": s["snapshot-id"],
            # the chain's real sequence number, preserved for
            # consumers that report it (REST RegisterTable's
            # LoadTableResult — ADVICE r9); Snapshot.from_json ignores
            # it, so native table state is unaffected
            "seq": s.get("sequence-number", s["snapshot-id"]),
            "parent_id": s.get("parent-snapshot-id"),
            "timestamp_ms": s["timestamp-ms"],
            "operation": (s.get("summary") or {}).get("operation", "append"),
            "schema_version": snap_schema.get(s["snapshot-id"], cur_schema_id),
            "files": files,
            "summary": {k: v for k, v in (s.get("summary") or {}).items()
                        if k != "operation"},
            **({"delete_files": dels} if dels else {}),
        })

    # --- refs ---
    tags, branches, retention = {}, {}, {}
    for name, r in (md.get("refs") or {}).items():
        keep = {k: r[k] for k in ("max-ref-age-ms", "min-snapshots-to-keep")
                if r.get(k) is not None}
        if keep:
            retention[name] = keep
        if r.get("type") == "branch" or name == "main":
            if name != "main":  # main IS current-snapshot-id
                branches[name] = r["snapshot-id"]
        else:
            tags[name] = r["snapshot-id"]

    # --- Puffin statistics: recover ANALYZE-grade column NDVs from the
    # chain's apache-datasketches-theta-v1 blobs (estimate read from
    # the sketch itself; reconciled against the writer's `ndv`
    # property within the sketch's theta granularity — Iceberg
    # writers carry both, and the property preserves exactness where
    # 63-bit theta cannot). The MOST RECENT parseable statistics
    # entry wins even when it predates the current snapshot: stats
    # are stamped with their snapshot (consumers judge staleness,
    # exactly like native ANALYZE persists across later appends) —
    # dropping them would make the roundtrip lossy for any table
    # modified after its last ANALYZE (review r12). Missing/corrupt
    # statistics files degrade to no stats — never block adoption.
    column_stats = None
    stats_entries = sorted(md.get("statistics") or [],
                           key=lambda st: st.get("snapshot-id") or 0)
    for st in stats_entries:
        try:
            from . import puffin

            _footer, blobs = puffin.read_puffin(
                _strip_scheme(st["statistics-path"]))
        except Exception:
            continue
        cols: dict[str, dict] = {}
        row_count = None
        for m, payload in blobs:
            fids = m.get("fields") or []
            # leaf map resolves struct-leaf blob ids to their dotted
            # spelling; top-level ids resolve either way
            name = (leaf_names_by_schema.get(cur_schema_id, {})
                    .get(fids[0]) or names_by_id.get(fids[0])) \
                if len(fids) == 1 else None
            if name is None:
                continue
            props = m.get("properties") or {}
            prop_ndv = (int(props["ndv"])
                        if str(props.get("ndv", "")).isdigit() else None)
            ndv = None
            if m.get("type") == "apache-datasketches-theta-v1":
                try:
                    est = puffin.theta_estimate(payload)
                    ndv = int(round(est))
                    if prop_ndv is not None and ndv != prop_ndv and \
                            abs(est - prop_ndv) <= max(1.0, 1e-6 * prop_ndv):
                        # within theta granularity: the property is
                        # the writer's exact intent
                        ndv = prop_ndv
                except Exception:
                    ndv = None
            if ndv is None:
                ndv = prop_ndv
            if ndv is None:
                continue
            cols[name] = {"ndv": ndv}
            if str(props.get("null-count", "")).isdigit():
                cols[name]["null_count"] = int(props["null-count"])
        try:
            row_count = int((_footer.get("properties") or {})
                            .get("row-count"))
        except (TypeError, ValueError):
            row_count = None
        if cols:
            column_stats = {
                "snapshot_id": st.get("snapshot-id"),
                **({"row_count": row_count} if row_count is not None
                   else {}),
                "columns": cols,
            }

    ident_ids = current.get("identifier-field-ids") or []
    meta = {
        "format_version": 2,
        # honor the chain's authoritative last-column-id: if the
        # foreign table dropped its highest-id columns (and pruned
        # those schema generations), allocating from the surviving max
        # would REUSE a historical field id and corrupt by-id
        # resolution against surviving bounds/delete metadata
        "next_field_id": max(last_column_id, md.get("last-column-id", 0)) + 1,
        "current_schema_version": cur_schema_id,
        "schemas": schemas,
        "partition_spec": partition_spec,
        "sort_order": sort_order,
        "properties": dict(md.get("properties") or {}),
        "current_snapshot_id": md.get("current-snapshot-id"),
        "snapshots": native_snapshots,
        **({"partition_spec_history": spec_history} if spec_history else {}),
        **({"identifier-field-ids": ident_ids} if ident_ids else {}),
        **({"refs": tags} if tags else {}),
        **({"branches": branches} if branches else {}),
        **({"ref_retention": retention} if retention else {}),
        **({"column_stats": column_stats} if column_stats else {}),
        "adopted_from": os.path.abspath(metadata_path),
        # the chain's own authoritative table root (REST RegisterTable
        # reports it; a directory heuristic misplaces this repo's own
        # exports, which nest under <table>/_meta/iceberg/ — ADVICE r9)
        "source_location": md.get("location"),
    }
    return meta


def validate_iceberg_metadata(metadata_path: str) -> list[dict]:
    """Preflight a foreign Iceberg chain WITHOUT adopting it: walk the
    metadata → manifest lists → manifests → file references and return
    findings as ``[{severity, code, where, detail}]`` (empty list =
    clean). The operational front door to adoption — a broken chain
    fails HERE with every problem listed, instead of failing adoption
    one error at a time.

    severity: ``error`` = adoption would fail or read wrong;
    ``warning`` = adoption succeeds but something is off (length
    drift, unresolvable historical spec); ``info`` = known degradation
    (bucket/truncate partition values never prune).
    """
    findings: list[dict] = []

    def add(severity: str, code: str, where: str, detail: str) -> None:
        findings.append({"severity": severity, "code": code,
                         "where": where, "detail": detail})

    try:
        resolved = _resolve_metadata_path(_strip_scheme(metadata_path))
        with open(resolved) as fh:
            md = json.load(fh)
    except Exception as e:
        return [{"severity": "error", "code": "unreadable-metadata",
                 "where": str(metadata_path), "detail": str(e)}]
    fv = md.get("format-version")
    if fv not in (1, 2):
        add("error", "unsupported-format-version", resolved, f"got {fv!r}")
        return findings
    if fv == 1 and "schemas" not in md:
        legacy = dict(md.get("schema") or {})
        legacy.setdefault("schema-id", 0)
        md["schemas"] = [legacy] if legacy else []
        md.setdefault("current-schema-id", legacy.get("schema-id", 0))
        md.setdefault("partition-specs", [{
            "spec-id": md.get("default-spec-id", 0),
            "fields": md.get("partition-spec", [])}])

    # --- schemas ---
    if not md.get("schemas"):
        add("error", "no-schemas", resolved, "metadata carries no schema")
        return findings
    names_by_id: dict[int, str] = {}
    for s in md["schemas"]:
        seen: set[int] = set()
        for f in s.get("fields", []):
            if f["id"] in seen:
                add("error", "duplicate-field-id",
                    f"schema {s.get('schema-id')}",
                    f"field id {f['id']} appears twice")
            seen.add(f["id"])
            names_by_id[f["id"]] = f["name"]
        # nested element/key/value/struct-field ids share the same
        # table-wide id space — a collision with a column id (or
        # another nested id) corrupts by-id resolution; a nested node
        # MISSING its id is invalid metadata (finding, not a crash)
        try:
            nested = nested_ids_of_schema([s], strict=True)
        except ValueError as e:
            add("error", "invalid-nested-type",
                f"schema {s.get('schema-id')}", str(e))
            nested = nested_ids_of_schema([s])
        for key, nid in nested.items():
            if nid in seen:
                add("error", "duplicate-field-id",
                    f"schema {s.get('schema-id')}",
                    f"nested field id {nid} ({key}) collides")
            seen.add(nid)
    cur_sid = md.get("current-schema-id", 0)
    if not any(s.get("schema-id") == cur_sid for s in md["schemas"]):
        add("error", "missing-current-schema", resolved,
            f"current-schema-id {cur_sid} matches no schema")

    # --- partition specs ---
    default_spec_id = md.get("default-spec-id", 0)
    for sp in md.get("partition-specs") or []:
        is_default = sp.get("spec-id") == default_spec_id
        for f in sp.get("fields", []):
            if f.get("source-id") not in names_by_id:
                add("error" if is_default else "warning",
                    "unresolvable-spec-source",
                    f"spec {sp.get('spec-id')}",
                    f"field {f.get('name')!r} sources unknown id "
                    f"{f.get('source-id')}")
            tr = f.get("transform", "")
            # Every transform the Iceberg spec defines is PORTABLE
            # now: bucket[N] is the native murmur3 ibucket (r10),
            # truncate[W] on string keeps the first W code points both
            # sides, and truncate[W] on int/long/decimal/binary is the
            # native itruncate (r11: v - (v mod W) on the value /
            # unscaled value, first-W-bytes for binary). The only
            # remaining flag is a truncate over a source type the SPEC
            # does not define it on — invalid metadata, not a
            # portability degradation.
            src_type = None
            for sc in md["schemas"]:
                for sf in sc.get("fields", []):
                    if sf["id"] == f.get("source-id"):
                        src_type = sf["type"]
            if re.match(r"^truncate\[\d+\]$", tr) and src_type is not None \
                    and str(src_type) not in ("string", "int", "long") \
                    and not str(src_type).startswith("decimal") \
                    and str(src_type) != "binary":
                add("warning", "invalid-transform-source",
                    f"spec {sp.get('spec-id')}",
                    f"{tr} over a {src_type} source is not defined by "
                    "the Iceberg spec; the field adopts as "
                    "clustering-free")

    # --- snapshots, manifests, files ---
    snap_ids = {s["snapshot-id"] for s in md.get("snapshots") or []}
    head = md.get("current-snapshot-id")
    if head is not None and snap_ids and head not in snap_ids:
        add("error", "dangling-head", resolved,
            f"current-snapshot-id {head} is not in the snapshot list")
    for name, r in (md.get("refs") or {}).items():
        if r.get("snapshot-id") not in snap_ids:
            add("error", "dangling-ref", f"ref {name!r}",
                f"points at unknown snapshot {r.get('snapshot-id')}")
    for st in md.get("statistics") or []:
        sp = _strip_scheme(st.get("statistics-path") or "")
        if not os.path.isfile(sp):
            add("warning", "missing-statistics-file", sp,
                "statistics are advisory; adoption proceeds without them")
    types_by_id = {f["id"]: f["type"]
                   for s in md["schemas"] for f in s.get("fields", [])}
    checked_manifests: set[str] = set()
    for s in sorted(md.get("snapshots") or [],
                    key=lambda s: (s.get("sequence-number", 0),
                                   s["snapshot-id"])):
        parent = s.get("parent-snapshot-id")
        if parent is not None and parent not in snap_ids:
            add("warning", "expired-parent",
                f"snapshot {s['snapshot-id']}",
                f"parent {parent} expired out of the chain")
        mlp = _strip_scheme(s.get("manifest-list", ""))
        try:
            mlist = _read_manifest_list(mlp)
        except Exception as e:
            add("error", "unreadable-manifest-list",
                f"snapshot {s['snapshot-id']}", f"{mlp}: {e}")
            continue
        for m in mlist["manifests"]:
            mpath = _strip_scheme(m["manifest-path"])
            if mpath in checked_manifests:
                continue
            checked_manifests.add(mpath)
            try:
                actual = os.path.getsize(mpath)
            except OSError as e:
                add("error", "missing-manifest", mpath, str(e))
                continue
            declared = m.get("manifest-length")
            if declared is not None and declared != actual:
                add("warning", "manifest-length-drift", mpath,
                    f"declared {declared}, actual {actual}")
            try:
                manifest = _read_manifest(mpath, {}, types_by_id)
            except Exception as e:
                add("error", "unreadable-manifest", mpath, str(e))
                continue
            for e in manifest["entries"]:
                if e.get("status") == 2:
                    continue
                d = e["data-file"]
                fp = _strip_scheme(d["file-path"])
                if not os.path.isfile(fp):
                    add("error", "missing-data-file", mpath, fp)
                for eq_id in d.get("equality-ids") or []:
                    if eq_id not in names_by_id:
                        add("error", "unresolvable-equality-id", fp,
                            f"field id {eq_id} in no schema generation")
                seq = d.get("data-sequence-number")
                if seq is not None and seq > s.get("sequence-number", seq):
                    add("warning", "entry-sequence-exceeds-snapshot",
                        fp, f"entry seq {seq} > snapshot seq "
                            f"{s.get('sequence-number')}")
    return findings


def repair_iceberg_metadata(metadata_path: str, *,
                            dry_run: bool = False) -> list[dict]:
    """The other half of the preflight loop (VERDICT r9 item 4 — the
    reference's operability objective,
    ICEBERG-Interoperability-Test-Spec.md:10-14): FIX the fixable
    findings :func:`validate_iceberg_metadata` reports, with loud
    accounting. Returns ``[{code, where, action, detail}]`` where
    ``action`` is ``applied`` (``planned`` under ``dry_run=True``) or
    ``unrepairable``.

    Fixable, in dependency order:

    * ``missing-data-file`` → QUARANTINE: drop the manifest entries
      whose data files are gone (both serializations rewritten in
      place; quarantined paths listed in the action detail) — the rest
      of the table becomes readable instead of the whole scan failing;
    * ``manifest-length-drift`` → re-resolve every manifest-list's
      declared lengths from the actual file sizes (runs after
      quarantine, which changes them);
    * ``dangling-ref`` → drop refs pointing at snapshots the chain no
      longer carries.

    Anything else (unreadable metadata, missing manifests, duplicate
    field ids, dangling HEAD, unresolvable equality ids) is reported
    ``unrepairable`` — those need human judgment, not silent rewrites.
    Repair MUTATES the chain's own files; run it only on chains you
    own (adopted tables never need it — adoption snapshots state).
    """
    actions: list[dict] = []

    def act(code: str, where: str, action: str, detail: str) -> None:
        actions.append({"code": code, "where": where,
                        "action": action, "detail": detail})

    mode = "planned" if dry_run else "applied"
    try:
        resolved = _resolve_metadata_path(_strip_scheme(metadata_path))
        with open(resolved) as fh:
            md = json.load(fh)
    except Exception as e:
        return [{"code": "unreadable-metadata", "where": str(metadata_path),
                 "action": "unrepairable", "detail": str(e)}]

    # ---- pass 1: quarantine manifest entries whose data files vanished
    repaired_manifests: set[str] = set()
    mlist_paths: list[str] = []
    for s in md.get("snapshots") or []:
        mlp = _strip_scheme(s.get("manifest-list", ""))
        try:
            mlist = _read_manifest_list(mlp)
        except Exception as e:
            act("unreadable-manifest-list", mlp, "unrepairable", str(e))
            continue
        if mlp not in mlist_paths:
            mlist_paths.append(mlp)
        for m in mlist["manifests"]:
            mpath = _strip_scheme(m["manifest-path"])
            if mpath in repaired_manifests:
                continue
            repaired_manifests.add(mpath)
            if not os.path.isfile(mpath):
                act("missing-manifest", mpath, "unrepairable",
                    "manifest file itself is gone")
                continue
            # Quarantine drops entries whose files are GONE — but only
            # DATA files (content 0). Dropping a missing DELETE file
            # (content 1/2) would silently RESURRECT the rows it
            # tombstoned — strictly worse than the scan failing loudly
            # — so those report unrepairable: restore the file or
            # expire the snapshots that reference it.
            if avro_ocf.is_ocf(mpath):
                meta, recs = avro_ocf.read_ocf(mpath)
                missing = [r for r in recs
                           if not os.path.isfile(
                               _strip_scheme(r["data_file"]["file_path"]))]
                gone = [r["data_file"]["file_path"] for r in missing
                        if not (r["data_file"].get("content") or 0)]
                gone_del = [r["data_file"]["file_path"] for r in missing
                            if (r["data_file"].get("content") or 0)]
                if gone and not dry_run:
                    keep = [r for r in recs
                            if os.path.isfile(
                                _strip_scheme(r["data_file"]["file_path"]))
                            or (r["data_file"].get("content") or 0)]
                    schema = json.loads(meta["avro.schema"].decode("utf-8"))
                    extra = {k: v for k, v in meta.items()
                             if not k.startswith("avro.")}
                    avro_ocf.write_ocf(mpath, schema, keep, metadata=extra)
            else:
                with open(mpath) as fh:
                    doc = json.load(fh)
                missing = [e for e in doc.get("entries", [])
                           if not os.path.isfile(
                               _strip_scheme(e["data-file"]["file-path"]))]
                gone = [e["data-file"]["file-path"] for e in missing
                        if not e["data-file"].get("content", 0)]
                gone_del = [e["data-file"]["file-path"] for e in missing
                            if e["data-file"].get("content", 0)]
                if gone and not dry_run:
                    doc["entries"] = [
                        e for e in doc.get("entries", [])
                        if os.path.isfile(
                            _strip_scheme(e["data-file"]["file-path"]))
                        or e["data-file"].get("content", 0)]
                    atomic_write(mpath, json.dumps(doc))
            if gone:
                act("missing-data-file", mpath, mode,
                    f"quarantined {len(gone)} entries: "
                    + ", ".join(sorted(gone)))
            for p in sorted(gone_del):
                act("missing-delete-file", mpath, "unrepairable",
                    f"{p}: dropping a delete file would silently "
                    "RESURRECT the rows it tombstones — restore it or "
                    "expire the snapshots that reference it")

    # ---- pass 2: re-resolve manifest-list lengths (quarantine above
    # changed manifest sizes; pre-existing drift resolves the same way)
    for mlp in mlist_paths:
        if avro_ocf.is_ocf(mlp):
            meta, recs = avro_ocf.read_ocf(mlp)
            drifted = []
            for r in recs:
                mp = _strip_scheme(r["manifest_path"])
                if os.path.isfile(mp):
                    actual = os.path.getsize(mp)
                    if r.get("manifest_length") != actual:
                        drifted.append(mp)
                        r["manifest_length"] = actual
            if drifted and not dry_run:
                schema = json.loads(meta["avro.schema"].decode("utf-8"))
                extra = {k: v for k, v in meta.items()
                         if not k.startswith("avro.")}
                avro_ocf.write_ocf(mlp, schema, recs, metadata=extra)
        else:
            with open(mlp) as fh:
                doc = json.load(fh)
            drifted = []
            for m in doc.get("manifests", []):
                mp = _strip_scheme(m["manifest-path"])
                if os.path.isfile(mp):
                    actual = os.path.getsize(mp)
                    if m.get("manifest-length") != actual:
                        drifted.append(mp)
                        m["manifest-length"] = actual
            if drifted and not dry_run:
                atomic_write(mlp, json.dumps(doc))
        if drifted:
            act("manifest-length-drift", mlp, mode,
                f"re-resolved {len(drifted)} manifest lengths")

    # ---- pass 3: metadata-level fixes
    snap_ids = {s["snapshot-id"] for s in md.get("snapshots") or []}
    head = md.get("current-snapshot-id")
    if head is not None and snap_ids and head not in snap_ids:
        act("dangling-head", resolved, "unrepairable",
            f"current-snapshot-id {head} is not in the snapshot list "
            "(choosing a new head is a human decision)")
    dangling = [n for n, r in (md.get("refs") or {}).items()
                if r.get("snapshot-id") not in snap_ids]
    if dangling:
        if not dry_run:
            for n in dangling:
                del md["refs"][n]
            # the resolved CURRENT metadata.json is the only copy —
            # a torn in-place rewrite here would destroy the chain
            # root (review r12); atomic like every other chain write
            atomic_write(resolved, json.dumps(md))
        act("dangling-ref", resolved, mode,
            "dropped refs: " + ", ".join(sorted(dangling)))
    return actions


def adopt_iceberg_metadata(
    spark: SparkSession, metadata_path: str, dest_path: str
) -> LakeTable:
    """First registration of a foreign Iceberg v2 table: parse the
    chain (see :func:`_parse_iceberg_v2` for the full semantics) and
    publish it as a new LakeTable at ``dest_path``."""
    dest_path = os.path.abspath(dest_path)
    if os.path.exists(os.path.join(dest_path, _META_DIR, _META_FILE)):
        raise FileExistsError(f"table already exists at {dest_path}")
    resolved = _resolve_metadata_path(metadata_path)
    meta = _parse_iceberg_v2(resolved)
    # sync re-resolves a DIRECTORY each time, catching new version files
    meta["adopted_from"] = os.path.abspath(metadata_path)
    os.makedirs(os.path.join(dest_path, _META_DIR), exist_ok=True)
    os.makedirs(os.path.join(dest_path, _DATA_DIR), exist_ok=True)
    t = LakeTable(spark, dest_path, meta)
    t._write_meta()
    # preserve the FOREIGN chain's nested element/field ids (native
    # metadata keeps only DDL strings): seed the export-side allocator
    # so adopt → re-export emits the same ids a conforming reader
    # already resolved against
    with open(resolved) as fh:
        foreign_md = json.load(fh)
    seeds = nested_ids_of_schema(foreign_md.get("schemas") or [])
    if seeds:
        ice_dir = os.path.join(dest_path, "_meta", "iceberg")
        os.makedirs(ice_dir, exist_ok=True)
        alloc = _NestedIdAllocator(ice_dir, set(), 1)
        alloc.seed(seeds)
        alloc.save()
    return t


def sync_iceberg_metadata(table: LakeTable, metadata_path: str | None = None) -> int:
    """Pull FOREIGN ADVANCES into a registered (adopted) table — the
    continuous half of the interop loop: the foreign engine keeps
    committing, and each sync folds its new snapshots in at metadata
    cost (zero data copied, O(new manifest entries) parsed).

    ``metadata_path`` defaults to the chain the table was adopted
    from, so a foreign writer that rewrites ``vN.metadata.json`` in
    place (or a caller passing the newer version file) both work.

    Fast-forward-only, Iceberg's catalog-refresh semantics: if LOCAL
    commits exist that the foreign chain does not know (the table has
    diverged — it is now an independent fork), sync refuses loudly
    instead of merging histories. Schemas, specs, refs, retention,
    properties and heads all move to the foreign chain's current
    state under the commit lock. Returns the number of new snapshots
    folded in."""
    explicit = metadata_path is not None
    metadata_path = metadata_path or table._meta.get("adopted_from")
    if not metadata_path:
        raise ValueError(
            "table was not adopted from an Iceberg chain and no "
            "metadata_path was given"
        )
    # resolve the version file ONCE: a foreign writer committing a new
    # vN.metadata.json mid-sync must not split the snapshot fold and
    # the nested-id seeding below across two versions
    resolved_path = _resolve_metadata_path(metadata_path)
    fresh = _parse_iceberg_v2(resolved_path)
    # An explicit vN.metadata.json override is a one-shot pull: keep
    # following the ORIGINAL adoption source afterwards — overwriting
    # it would permanently pin a directory-adopted table to that one
    # version file and future default syncs would stop seeing newer
    # versions
    orig = table._meta.get("adopted_from")
    if explicit and orig and not os.path.isdir(metadata_path):
        fresh["adopted_from"] = orig
    else:
        fresh["adopted_from"] = os.path.abspath(metadata_path)
    # identity = (id, commit timestamp): a LOCAL commit takes
    # max(id)+1, which can collide with the foreign writer's next id —
    # an id-only check would mistake the fork for a known snapshot
    foreign_keys = {(s["snapshot_id"], s["timestamp_ms"])
                    for s in fresh["snapshots"]}
    pulled = {"n": 0}

    def mutate() -> None:
        local_keys = {(s["snapshot_id"], s["timestamp_ms"])
                      for s in table._meta["snapshots"]}
        diverged = local_keys - foreign_keys
        if diverged:
            raise ValueError(
                f"local table has {len(diverged)} snapshot(s) the foreign "
                f"chain does not know (e.g. snapshot "
                f"{sorted(diverged)[0][0]}) — either local commits forked "
                "the history, or the foreign writer expired those "
                "snapshots; cannot fast-forward (re-adopt to a fresh "
                "table if the foreign chain is the one to follow)"
            )
        pulled["n"] = len(foreign_keys - local_keys)
        table._meta.clear()
        table._meta.update(fresh)

    table._locked_meta_mutation(mutate)
    # keep the nested-id seeds current: a fast-forwarded table tracks
    # the foreign chain's element/field ids AUTHORITATIVELY — including
    # where the foreign writer itself reallocated one (its chain is the
    # id authority; local re-exports must agree with what its readers
    # already resolved). Same resolved version file as the parse above
    # (resolved once) so seeds and snapshots describe one version.
    with open(resolved_path) as fh:
        seeds = nested_ids_of_schema(json.load(fh).get("schemas") or [])
    if seeds:
        ice_dir = os.path.join(table.path, "_meta", "iceberg")
        os.makedirs(ice_dir, exist_ok=True)
        alloc = _NestedIdAllocator(ice_dir, set(), 1)
        alloc.seed(seeds, authoritative=True)
        alloc.save()
    return pulled["n"]


def read_via_iceberg_metadata(
    spark: SparkSession, metadata_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read a table THROUGH its exported Iceberg metadata chain only —
    metadata.json → snapshot → manifest list → manifests → data files —
    with field-id projection to the snapshot's schema, exactly the walk
    an external Iceberg reader performs. Never consults LakeTable
    metadata (that's the point)."""
    from pyspark.sql import functions as F

    with open(metadata_path) as fh:
        md = json.load(fh)
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    types_by_id = {f["id"]: f["type"]
                   for s in md["schemas"] for f in s["fields"]}
    # foreign chains carry no per-file schema-id extension — attribute
    # the writing schema through the ADDING snapshot, like adoption
    cur_sid = snap.get("schema-id", md.get("current-schema-id", 0))
    snap_schema = {s["snapshot-id"]: s.get("schema-id", cur_sid)
                   for s in md["snapshots"]}
    mlist = _read_manifest_list(snap["manifest-list"])
    by_schema: dict[int, list[tuple[str, int]]] = {}
    delete_paths: list[str] = []
    eq_deletes: list[dict] = []
    referenced: set[str] = set()
    for m in mlist["manifests"]:
        manifest = _read_manifest(m["manifest-path"], {}, types_by_id)
        for e in manifest["entries"]:
            if e.get("status") == 2:
                continue
            df_entry = e["data-file"]
            if df_entry.get("content") == 1:  # position deletes
                delete_paths.append(_strip_scheme(df_entry["file-path"]))
                referenced.update(
                    _strip_scheme(p) for p in df_entry.get("referenced-data-files", [])
                )
                continue
            if df_entry.get("content") == 2:  # equality deletes
                eq_deletes.append(_fill_equality_field_names(
                    df_entry, e, md, snap_schema, cur_sid))
                continue
            schema_attr = df_entry.get("schema-id")
            if schema_attr is None:
                schema_attr = snap_schema.get(e.get("snapshot-id"), cur_sid)
            by_schema.setdefault(schema_attr, []).append(
                (_strip_scheme(df_entry["file-path"]),
                 df_entry.get("data-sequence-number", 0))
            )
    target = next(s for s in md["schemas"] if s["schema-id"] == cur_sid)
    if not by_schema:
        ddl = ", ".join(
            f"{f['name']} {_spark_ddl_type(f['type'])}" for f in target["fields"]
        )
        return local_frame(spark, [], ddl)
    # Iceberg resolves columns by FIELD ID: for each file generation,
    # map the target schema's ids onto that generation's names (renames
    # and widenings never rewrote the files), defaulting added columns.
    mor = bool(delete_paths or eq_deletes)
    parts = []
    for schema_id, files in sorted(by_schema.items()):
        written = next(s for s in md["schemas"] if s["schema-id"] == schema_id)
        names_by_id = {f["id"]: f["name"] for f in written["fields"]}
        raw = spark.read.parquet(*[f for f, _seq in files])
        sel = []
        for f in target["fields"]:
            old_name = names_by_id.get(f["id"])
            if old_name is not None:
                sel.append(F.col(old_name).alias(f["name"]))
            else:
                # typed (a bare NULL lit is NullType, which breaks the
                # cross-generation unionByName for nested columns)
                sel.append(F.lit(f.get("initial-default"))
                           .cast(_spark_ddl_type(f["type"]))
                           .alias(f["name"]))
        if mor:
            # percent-decode (shared helper — ONE path-matching
            # domain): tombstone file_path values are raw location
            # strings (spec), the URI spelling is encoded
            sel.append(_decode_path_uri(F.col("_metadata.file_path"))
                       .alias("_ice_file"))
            sel.append(F.col("_metadata.row_index").alias("_ice_pos"))
        parts.append(raw.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if delete_paths:
        # merge-on-read, content=1: (file_path, pos) tombstones applied
        # as a broadcast anti-join; the delete parquet may spell paths
        # as URIs (file:///...) — normalize both sides
        tomb = spark.read.schema(_POS_DELETE_DDL).parquet(*delete_paths).select(
            F.regexp_replace("file_path", "^file:/+", "/").alias("file_path"),
            "pos",
        )
        stripped = F.regexp_replace(F.col("_ice_file"), "^file:/+", "/")
        out = out.join(
            F.broadcast(tomb),
            (stripped == tomb["file_path"]) & (out["_ice_pos"] == tomb["pos"]),
            "left_anti",
        )
    if eq_deletes:
        # merge-on-read, content=2: key tombstones apply to data files
        # with a STRICTLY smaller data sequence number
        seq_rows = [
            (f, seq) for files in by_schema.values() for f, seq in files
        ]
        seq_map = local_frame(spark, seq_rows, "_seq_path string, _file_seq long")
        stripped = F.regexp_replace(F.col("_ice_file"), "^file:/+", "/")
        out = out.join(
            F.broadcast(seq_map), stripped == seq_map["_seq_path"], "left"
        ).drop("_seq_path")
        target_by_id = {f["id"]: f["name"] for f in target["fields"]}
        for d in eq_deletes:
            # the delete parquet's columns carry WRITE-time names; the
            # out relation carries TARGET names — rebind via field ids
            # so a key-column rename after the delete write still
            # matches (Iceberg semantics: equality-ids, not names)
            pairs = _eq_key_pairs(d, target_by_id)
            tomb = spark.read.parquet(_strip_scheme(d["file-path"])).select(
                *[F.col(w).alias(f"_del_{w}") for w, _t in pairs]
            )
            cond = F.col("_file_seq") < F.lit(d.get("data-sequence-number", 0))
            for w, tname in pairs:
                cond = cond & out[tname].eqNullSafe(tomb[f"_del_{w}"])
            out = out.join(F.broadcast(tomb), cond, "left_anti")
        out = out.drop("_file_seq")
    if mor:
        out = out.drop("_ice_file", "_ice_pos")
    return out


# DuckDB type spelling per Iceberg primitive — the second engine's half
# of the cross-engine contract (reference: cross-engine readback,
# ICEBERG-Interoperability-Test-Spec.md:10-14).
_DUCK_TYPE = {
    "long": "BIGINT",
    "int": "INTEGER",
    "string": "VARCHAR",
    "double": "DOUBLE",
    "float": "REAL",
    "boolean": "BOOLEAN",
    "date": "DATE",
    # instant semantics must survive the cast: DuckDB reads Spark's
    # UTC-adjusted parquet timestamps as TIMESTAMPTZ, and CAST(... AS
    # TIMESTAMP) would re-render through the session TimeZone (value
    # shift on non-UTC hosts)
    "timestamptz": "TIMESTAMP WITH TIME ZONE",
    "timestamp": "TIMESTAMP",
    "binary": "BLOB",
}


def _fill_equality_field_names(df_entry: dict, entry: dict, md: dict,
                               snap_schema: dict, cur_sid: int) -> dict:
    """Foreign chains carry only ``equality-ids`` — derive the delete
    parquet's PHYSICAL column names from the schema of the snapshot
    that added the delete file (the names current at write time), the
    same attribution adoption uses. No-op when the exporter's
    ``equality-field-names`` extension is already present."""
    if df_entry.get("equality-field-names"):
        return df_entry
    wid = snap_schema.get(entry.get("snapshot-id"), cur_sid)
    wnames = {f["id"]: f["name"]
              for s in md["schemas"] if s["schema-id"] == wid
              for f in s["fields"]}
    names = [wnames.get(i) for i in (df_entry.get("equality-ids") or [])]
    if names and all(n is not None for n in names):
        df_entry = dict(df_entry)
        df_entry["equality-field-names"] = names
    return df_entry


def _eq_key_pairs(d: dict, target_by_id: dict[int, str]) -> list[tuple[str, str]]:
    """(write-time name, target name) per equality key of one delete
    file. The delete parquet's columns use the names current when it
    was written (``equality-field-names``); the data relation uses the
    target schema's names. Iceberg binds by ``equality-ids``, so a
    key-column rename after the delete write must rebind — falling
    back to the written name only when no id was recorded."""
    ids = d.get("equality-ids") or []
    wnames = d.get("equality-field-names") or []
    pairs = []
    for i, w in enumerate(wnames):
        fid = ids[i] if i < len(ids) else -1
        pairs.append((w, target_by_id.get(fid, w)))
    return pairs


def _duck_type(iceberg) -> str:
    if isinstance(iceberg, dict):
        t = iceberg.get("type")
        if t == "list":
            return f"{_duck_type(iceberg['element'])}[]"
        if t == "map":
            return (f"MAP({_duck_type(iceberg['key'])}, "
                    f"{_duck_type(iceberg['value'])})")
        if t == "struct":
            inner = ", ".join(
                f'"{f["name"]}" {_duck_type(f["type"])}'
                for f in iceberg.get("fields", [])
            )
            return f"STRUCT({inner})"
        raise ValueError(f"no DuckDB mapping for Iceberg type {t!r}")
    if iceberg.startswith("decimal"):
        return iceberg.upper()
    try:
        return _DUCK_TYPE[iceberg]
    except KeyError:
        raise ValueError(f"no DuckDB mapping for Iceberg type {iceberg!r}") from None


def _sql_literal(v, duck_type: str) -> str:
    if v is None:
        return f"CAST(NULL AS {duck_type})"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return f"CAST({v!r} AS {duck_type})"
    return "CAST('" + str(v).replace("'", "''") + f"' AS {duck_type})"


def duckdb_scan_sql(metadata_path: str, snapshot_id: int | None = None) -> str:
    """Compile the exported Iceberg chain into ONE DuckDB SQL statement
    — a scan a SECOND, INDEPENDENT engine executes entirely itself.

    The walk (metadata.json → snapshot → manifest list → manifests)
    only RESOLVES the plan: which parquet files, which schema
    generation wrote each, which position-delete files tombstone them.
    Everything semantic — field-id projection (rename = alias, widen =
    CAST, added column = its initial-default literal), the
    merge-on-read anti-join of ``(file_path, pos)`` tombstones against
    DuckDB's own ``filename``/``file_row_number`` virtual columns, and
    equality-delete application (a null-safe NOT EXISTS against the
    delete file's key rows, guarded by Iceberg's sequence rule: the
    tombstone hits only data files with a STRICTLY smaller data
    sequence number) — is executed BY DuckDB from plain SQL, so
    agreement with ``LakeTable.read()`` proves the exported metadata
    describes the same table to an engine that shares no code with the
    repo's readers.
    """
    with open(metadata_path) as fh:
        md = json.load(fh)
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    types_by_id = {f["id"]: f["type"]
                   for s in md["schemas"] for f in s["fields"]}
    mlist = _read_manifest_list(snap["manifest-list"])
    # union arms are one per (schema generation, data sequence number):
    # the generation fixes the projection, the sequence number rides
    # along as a literal so equality deletes can apply their
    # smaller-sequence rule row-free
    by_arm: dict[tuple[int, int], list[str]] = {}
    delete_paths: list[str] = []
    eq_deletes: list[dict] = []
    cur_sid = snap.get("schema-id", md.get("current-schema-id", 0))
    snap_schema = {s["snapshot-id"]: s.get("schema-id", cur_sid)
                   for s in md["snapshots"]}
    for m in mlist["manifests"]:
        manifest = _read_manifest(m["manifest-path"], {}, types_by_id)
        for e in manifest["entries"]:
            if e.get("status") == 2:
                continue
            df_entry = e["data-file"]
            if df_entry.get("content") == 2:
                eq_deletes.append(_fill_equality_field_names(
                    df_entry, e, md, snap_schema, cur_sid))
                continue
            if df_entry.get("content") == 1:
                delete_paths.append(_strip_scheme(df_entry["file-path"]))
                continue
            schema_attr = df_entry.get("schema-id")
            if schema_attr is None:
                # foreign chains carry no schema-id extension —
                # attribute through the adding snapshot
                schema_attr = snap_schema.get(e.get("snapshot-id"), cur_sid)
            arm = (schema_attr, df_entry.get("data-sequence-number") or 0)
            by_arm.setdefault(arm, []).append(_strip_scheme(df_entry["file-path"]))
    target = next(s for s in md["schemas"] if s["schema-id"] == cur_sid)
    names = ", ".join(f'"{f["name"]}"' for f in target["fields"])
    if not by_arm:
        cols = ", ".join(
            f'{_sql_literal(None, _duck_type(f["type"]))} AS "{f["name"]}"'
            for f in target["fields"]
        )
        return f"SELECT {cols} WHERE FALSE"
    gens = []
    for (schema_id, seq), files in sorted(by_arm.items()):
        written = next(s for s in md["schemas"] if s["schema-id"] == schema_id)
        names_by_id = {f["id"]: f["name"] for f in written["fields"]}
        sel = []
        for f in target["fields"]:
            duck = _duck_type(f["type"])
            old = names_by_id.get(f["id"])
            if old is not None:
                sel.append(f'CAST("{old}" AS {duck}) AS "{f["name"]}"')
            else:
                sel.append(
                    f'{_sql_literal(f.get("initial-default"), duck)} AS "{f["name"]}"'
                )
        flist = ", ".join("'" + p.replace("'", "''") + "'" for p in files)
        sel.append("filename AS _f")
        sel.append("file_row_number AS _pos")
        sel.append(f"CAST({seq} AS BIGINT) AS _seq")
        gens.append(
            f"SELECT {', '.join(sel)} FROM read_parquet([{flist}], "
            f"filename=true, file_row_number=true)"
        )
    union = " UNION ALL ".join(gens)
    conds = []
    if delete_paths:
        dlist = ", ".join("'" + p.replace("'", "''") + "'" for p in delete_paths)
        conds.append(
            f"NOT EXISTS (SELECT 1 FROM read_parquet([{dlist}]) _pd "
            f"WHERE regexp_replace(_pd.file_path, '^file:/+', '/') = _data._f "
            f"AND _pd.pos = _data._pos)"
        )
    target_by_id = {f["id"]: f["name"] for f in target["fields"]}
    for d in eq_deletes:
        if not d.get("equality-field-names"):
            raise ValueError(
                f"equality-delete file {d['file-path']} records no key "
                f"column names; cannot compile its tombstones to SQL"
            )
        dpath = _strip_scheme(d["file-path"]).replace("'", "''")
        dseq = d.get("data-sequence-number") or 0
        match = " AND ".join(
            f'_eq."{w}" IS NOT DISTINCT FROM _data."{t}"'
            for w, t in _eq_key_pairs(d, target_by_id)
        )
        conds.append(
            f"NOT (_data._seq < {dseq} AND EXISTS ("
            f"SELECT 1 FROM read_parquet('{dpath}') _eq WHERE {match}))"
        )
    if not conds:
        return f"SELECT {names} FROM ({union})"
    return (
        f"WITH _data AS ({union}) SELECT {names} FROM _data "
        f"WHERE {' AND '.join(conds)}"
    )
