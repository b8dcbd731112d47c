"""LakeTable semantics tests — replicates the reference's golden
sales_events lifecycle (FIXTURES.md §1 / framework.yaml plans):
create → insert 8 → checksum → update → delete → evolve schema →
append → merge → time travel → maintenance."""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog import LakeTable
from iceberg_catalog_bench_spark.catalog.table import CommitConflict

SCHEMA = (
    "event_id bigint, tenant_id int, event_ts timestamp, sku string, "
    "qty int, price decimal(18,2), country string, ds date"
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


BASELINE_ROWS = [
    (1, 10, _ts("2024-01-01 00:00:00"), "sku-0001", 3, Decimal("19.99"), "US", dt.date(2024, 1, 1)),
    (2, 11, _ts("2024-01-01 00:05:00"), "sku-0002", 5, Decimal("5.00"), "US", dt.date(2024, 1, 1)),
    (3, 12, _ts("2024-01-02 09:30:00"), "sku-0003", 2, Decimal("10.00"), "GB", dt.date(2024, 1, 2)),
    (4, 13, _ts("2024-01-02 10:45:00"), "sku-0004", 8, Decimal("7.50"), "FR", dt.date(2024, 1, 2)),
    (5, 10, _ts("2024-01-03 12:00:00"), "sku-0005", 1, Decimal("99.99"), "US", dt.date(2024, 1, 3)),
    (6, 11, _ts("2024-01-03 13:25:00"), "sku-0002", 10, Decimal("5.00"), "US", dt.date(2024, 1, 3)),
    (7, 12, _ts("2024-01-04 15:55:00"), "sku-0003", 4, Decimal("11.00"), "GB", dt.date(2024, 1, 4)),
    (8, 13, _ts("2024-01-05 16:10:00"), "sku-0004", 6, Decimal("7.50"), "FR", dt.date(2024, 1, 5)),
]


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "sales_events"),
        SCHEMA,
        partition_by=["days(event_ts)"],
        sort_order=["event_ts", "tenant_id"],
        properties={"write.distribution-mode": "hash", "format-version": "2"},
    )
    t.insert_rows(BASELINE_ROWS)
    return t


def test_insert_and_counts(table):
    # rowcount_equals {{ dataset.rows }} (framework.yaml:310-313)
    assert table.read().count() == 8
    agg = table.read().agg(
        F.sum("qty").alias("sum_qty"),
        F.sum(F.col("price") * F.col("qty")).alias("revenue"),
    ).collect()[0]
    assert agg["sum_qty"] == 39
    assert agg["revenue"] == Decimal("403.96")


def test_update_price(table):
    # UPDATE SET price = price*1.1 WHERE event_id = 1 (update_sales_events.sql:3-5)
    snap = table.update({"price": "price * 1.1"}, "event_id = 1")
    assert snap.summary["updated_rows"] == 1
    row = table.read().filter("event_id = 1").collect()[0]
    assert row["price"] == Decimal("21.99")  # 19.99*1.1 = 21.989 → 2dp
    assert table.read().count() == 8


def test_delete(table):
    # DELETE WHERE event_id = 8 → rows-1 (delete_sales_events.sql, framework.yaml:435-437)
    snap = table.delete_where("event_id = 8")
    assert snap.summary["deleted_rows"] == 1
    assert table.read().count() == 7
    assert table.read().filter("event_id = 8").count() == 0


def test_copy_on_write_is_file_scoped(table):
    """Only files containing matches are rewritten — the CoW contract.

    The baseline insert's files (event_id 1-8) contain no event_id=200
    rows, so deleting from the second append must leave them untouched."""
    baseline_files = {e.path for e in table._snapshot().files}
    table.insert_rows([
        (200, 10, _ts("2024-02-01 00:00:00"), "sku-z", 1, Decimal("1.00"),
         "US", dt.date(2024, 2, 1)),
        (201, 11, _ts("2024-02-01 01:00:00"), "sku-z", 1, Decimal("1.00"),
         "US", dt.date(2024, 2, 1)),
    ])
    table.delete_where("event_id = 200")
    after = {e.path for e in table._snapshot().files}
    assert baseline_files <= after, "delete rewrote files that contain no matches"
    assert table.read().count() == 9


def test_schema_evolution_and_append(table):
    # D6/D7: ADD COLUMN channel DEFAULT 'web'; RENAME sku→product_sku
    table.add_column("channel", "string", default="web")
    table.rename_column("sku", "product_sku")
    df = table.read()
    assert "channel" in df.columns and "product_sku" in df.columns
    assert df.filter("channel = 'web'").count() == 8  # default backfills old files

    # M2: post-evolution append naming all 9 cols (append_sales_events.sql:3-7)
    table.insert_rows([
        (10, 10, _ts("2024-01-06 09:05:00"), "sku-0001", 2, Decimal("19.99"), "US",
         dt.date(2024, 1, 6), "app"),
        (11, 12, _ts("2024-01-06 10:10:00"), "sku-0003", 3, Decimal("10.00"), "GB",
         dt.date(2024, 1, 6), "store"),
    ])
    assert table.read().count() == 10
    assert table.read().filter("channel = 'app'").count() == 1


def test_type_widening(table):
    table.alter_column_type("qty", "bigint")
    assert dict(table.read().dtypes)["qty"] == "bigint"
    assert table.read().agg(F.sum("qty")).collect()[0][0] == 39


def test_merge_upsert(spark, table):
    # M5: MERGE matched-update id=2 (qty 6, price 5.50), not-matched-insert id=9
    src = spark.createDataFrame(
        [
            (2, 11, _ts("2024-01-01 00:05:00"), "sku-0002", 6, Decimal("5.50"), "US",
             dt.date(2024, 1, 1)),
            (9, 14, _ts("2024-01-06 08:10:00"), "sku-0006", 7, Decimal("15.00"), "DE",
             dt.date(2024, 1, 6)),
        ],
        SCHEMA,
    )
    snap = table.merge(src, on=["event_id"], when_matched_update="*")
    assert snap.summary["matched_rows"] == 1
    assert snap.summary["inserted_rows"] == 1
    assert table.read().count() == 9
    r2 = table.read().filter("event_id = 2").collect()[0]
    assert (r2["qty"], r2["price"]) == (6, Decimal("5.50"))
    assert table.read().filter("event_id = 9").count() == 1
    # follow-up delete (merge_sales_events.sql:23)
    table.delete_where("event_id = 4")
    assert table.read().count() == 8


def test_time_travel(table):
    """T2/T6: store baseline snapshot, mutate, travel back
    (time_travel_validate.sql:6-12; framework.yaml:317-319,352-360)."""
    baseline = table._snapshot().snapshot_id
    table.update({"price": "price * 1.1"}, "event_id = 1")
    table.delete_where("event_id = 8")
    assert table.read().count() == 7
    # VERSION AS OF baseline
    old = table.read(snapshot_id=baseline)
    assert old.count() == 8
    assert old.agg(F.sum("qty")).collect()[0][0] == 39
    # TIMESTAMP AS OF now → current state
    import time
    cur = table.read(as_of_ms=int(time.time() * 1000) + 1000)
    assert cur.count() == 7


def test_snapshots_metadata_table(table):
    table.delete_where("event_id = 8")
    snaps = table.snapshots()
    assert snaps.count() == 2
    latest = snaps.orderBy(F.desc("committed_at_ms")).limit(1).collect()[0]
    assert latest["operation"] == "delete"
    assert table.files().count() >= 1
    assert table.history().count() == 2


def test_maintenance(table):
    for i in range(3):
        table.insert_rows([
            (100 + i, 10, _ts("2024-01-07 00:00:00"), "sku-x", 1, Decimal("1.00"),
             "US", dt.date(2024, 1, 7)),
        ])
    res = table.rewrite_data_files(min_input_files=2)
    assert res["rewritten_data_files_count"] >= 2
    assert table.read().count() == 11  # compaction preserves data

    res = table.rewrite_manifests()
    assert res["rewritten_manifests_count"] == 1

    res = table.expire_snapshots(retain_last=2)
    assert res["expired_snapshots_count"] >= 1
    assert table.read().count() == 11  # current snapshot unaffected

    import time as _time

    _sweep_all = int(_time.time() * 1000) + 60_000  # no in-flight writers
    res = table.remove_orphan_files(older_than_ms=_sweep_all)
    assert table.read().count() == 11
    # every remaining on-disk parquet is referenced
    res2 = table.remove_orphan_files(older_than_ms=_sweep_all)
    assert res2["orphan_file_count"] == 0
    # default cutoff (now - 3d grace): freshly-written orphans are kept
    assert table.remove_orphan_files()["orphan_file_count"] == 0


def test_commit_conflict(spark, table):
    """Optimistic concurrency (spec :83): a writer holding a stale
    snapshot must not silently clobber a newer commit."""
    stale = LakeTable.load(spark, table.path)
    table.delete_where("event_id = 8")  # advances the table
    with pytest.raises(CommitConflict):
        stale.delete_where("event_id = 7")


def test_stats_pruning_skips_files(table):
    """Min/max pruning: a point predicate on event_id must skip files
    whose [min,max] range excludes it (here: the second append, ids
    500-501, can never contain event_id = 1)."""
    table.insert_rows([
        (500, 10, _ts("2024-03-01 00:00:00"), "sku-p", 1, Decimal("1.00"),
         "US", dt.date(2024, 3, 1)),
        (501, 11, _ts("2024-03-01 01:00:00"), "sku-p", 1, Decimal("1.00"),
         "US", dt.date(2024, 3, 1)),
    ])
    snap = table._snapshot()
    pruned = table._prune_files(snap.files, "event_id = 1")
    assert len(pruned) < len(snap.files)
    # and the pruned set still finds the row
    assert table.read().filter("event_id = 1").count() == 1


def test_scan_prunes_and_matches_full_read(table):
    """scan(where) must return the same rows as read().filter(where)
    while reading fewer files (manifest-level pruning)."""
    table.insert_rows([
        (600, 10, _ts("2024-04-01 00:00:00"), "sku-s", 1, Decimal("1.00"),
         "US", dt.date(2024, 4, 1)),
    ])
    pred = "event_id <= 4"
    full = {r["event_id"] for r in table.read().filter(pred).collect()}
    pruned_df = table.scan(pred)
    pruned = {r["event_id"] for r in pruned_df.collect()}
    assert pruned == full == {1, 2, 3, 4}
    snap = table._snapshot()
    assert len(table._prune_files(snap.files, pred)) < len(snap.files)


def test_dml_after_schema_evolution(table):
    """CoW UPDATE/DELETE/MERGE must work across schema versions:
    predicates over the current schema hit rows stored in
    pre-evolution files (aligned on read, rewritten at the current
    version)."""
    table.add_column("channel", "string", default="web")
    table.rename_column("sku", "product_sku")
    # update rows that only exist in v0-schema files, keyed by renamed col
    snap = table.update({"channel": "'updated'"}, "product_sku = 'sku-0002'")
    assert snap.summary["updated_rows"] == 2
    assert table.read().filter("channel = 'updated'").count() == 2
    # delete via the new column's default
    table.delete_where("channel = 'web' AND event_id = 1")
    assert table.read().count() == 7
    # rewritten files carry the current schema version
    versions = {e.schema_version for e in table._snapshot().files}
    assert max(versions) == table._meta["current_schema_version"]


def test_full_table_dml_via_sql(spark, tmp_path):
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE ft (id bigint, v double)")
    e.execute("INSERT INTO ft VALUES (1, 1.0), (2, 2.0)")
    e.execute("UPDATE ft SET v = v + 1")  # no WHERE → all rows
    assert {r["v"] for r in e.execute("SELECT v FROM ft")[0].rows} == {2.0, 3.0}
    e.execute("TRUNCATE TABLE ft")
    assert e.execute("SELECT COUNT(*) AS c FROM ft")[0].rows[0]["c"] == 0
    e.execute("INSERT INTO ft VALUES (9, 9.0)")
    e.execute("DELETE FROM ft")  # no WHERE → all rows
    assert e.execute("SELECT COUNT(*) AS c FROM ft")[0].rows[0]["c"] == 0


def test_incremental_read(spark, table):
    """Append-diff incremental scan between snapshots."""
    s1 = table._snapshot().snapshot_id
    table.insert_rows([
        (300, 10, _ts("2024-05-01 00:00:00"), "sku-i", 1, Decimal("2.00"),
         "US", dt.date(2024, 5, 1)),
        (301, 11, _ts("2024-05-01 01:00:00"), "sku-i", 2, Decimal("2.00"),
         "US", dt.date(2024, 5, 1)),
    ])
    s2 = table._snapshot().snapshot_id
    inc = table.incremental_read(s1, s2)
    assert {r["event_id"] for r in inc.collect()} == {300, 301}
    # full incremental from baseline to current == everything added since
    table.insert_rows([
        (302, 12, _ts("2024-05-02 00:00:00"), "sku-i", 3, Decimal("2.00"),
         "US", dt.date(2024, 5, 2)),
    ])
    inc2 = table.incremental_read(s1)
    assert {r["event_id"] for r in inc2.collect()} == {300, 301, 302}


def test_rollback_and_tags(spark, table):
    baseline = table._snapshot().snapshot_id
    table.create_tag("baseline")
    table.delete_where("event_id <= 4")
    assert table.read().count() == 4
    # tag read sees the pre-delete state
    assert table.read_tag("baseline").count() == 8
    # rollback restores the file set as a new commit
    snap = table.rollback_to_snapshot(baseline)
    assert snap.operation == "rollback"
    assert table.read().count() == 8
    # history preserved: the deleted state is still time-travelable
    assert table.read(snapshot_id=snap.parent_id).count() == 4


def test_tags_and_rollback_via_sql(spark, tmp_path):
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE rt (id bigint)")
    e.execute("INSERT INTO rt VALUES (1), (2), (3)")
    e.execute("ALTER TABLE rt CREATE TAG before_delete")
    e.execute("DELETE FROM rt WHERE id = 3")
    rows = e.execute("SELECT COUNT(*) AS c FROM rt VERSION AS OF 'before_delete'")[0].rows
    assert rows[0]["c"] == 3
    res = e.execute("CALL system.rollback_to_snapshot(table => 'rt', snapshot_id => 1)")[0]
    assert res.rows[0]["current_snapshot_id"] == 3
    assert e.execute("SELECT COUNT(*) AS c FROM rt")[0].rows[0]["c"] == 3


def test_partition_spec_evolution(spark, tmp_path):
    """Iceberg spec evolution: change partitioning without rewriting
    data. Old files keep their old partition values; both generations
    prune under the keys they actually carry."""
    t = LakeTable.create(
        spark, str(tmp_path / "pe"),
        "id bigint, ts timestamp, grp int",
        partition_by=["days(ts)"],
    )
    t.append(spark.createDataFrame(
        [(i, _ts(f"2024-01-0{1 + i % 3} 00:00:00"), i % 5) for i in range(30)],
        "id bigint, ts timestamp, grp int",
    ))
    t.add_partition_field("bucket(4, grp)")
    t.append(spark.createDataFrame(
        [(100 + i, _ts(f"2024-02-0{1 + i % 3} 00:00:00"), i % 5) for i in range(30)],
        "id bigint, ts timestamp, grp int",
    ))
    assert t.read().count() == 60
    snap = t._snapshot()
    gen1 = [e for e in snap.files if "_p_bucket_grp" not in e.partition]
    gen2 = [e for e in snap.files if "_p_bucket_grp" in e.partition]
    assert gen1 and gen2, "both partition-spec generations should coexist"
    # days-pruning still works across generations
    pruned = t._prune_files(snap.files, "ts >= '2024-02-01 00:00:00'")
    assert len(pruned) < len(snap.files)
    assert t.scan("ts >= '2024-02-01 00:00:00'").count() == 30
    # dropping the field reverts future writes
    t.drop_partition_field("days(ts)")
    assert [tr.name for tr in t.partition_spec] == ["bucket"]


def test_null_partition_values_roundtrip(spark, tmp_path):
    """Rows with NULL partition-source values land in the hive default
    partition and read back correctly; predicate pruning never loses
    them for predicates nulls can't match anyway."""
    t = LakeTable.create(
        spark, str(tmp_path / "np"), "id bigint, ts timestamp",
        partition_by=["days(ts)"],
    )
    t.append(spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00")), (2, None), (3, None)],
        "id bigint, ts timestamp",
    ))
    assert t.read().count() == 3
    assert t.read().filter("ts IS NULL").count() == 2
    # scan with a ts predicate: null rows can't match → dropping their
    # file is correct, and the non-null row survives
    assert {r["id"] for r in t.scan("ts >= '2024-01-01 00:00:00'").collect()} == {1}


def test_same_day_timestamp_stats_prune(spark, tmp_path):
    """Regression: footer timestamp stats must compare correctly against
    SQL space-separated literals. With ISO 'T'-separated stats, same-day
    '<='/'=' predicates wrongly pruned the file holding the matching row
    (scan lost rows; delete/update silently skipped them)."""
    t = LakeTable.create(spark, str(tmp_path / "tsn"), "id bigint, ts timestamp")
    t.append(spark.createDataFrame(
        [(1, _ts("2024-01-05 10:00:00")), (2, _ts("2024-01-05 14:00:00"))],
        "id bigint, ts timestamp",
    ))
    assert {r["id"] for r in t.scan("ts <= '2024-01-05 10:00:00'").collect()} == {1}
    assert {r["id"] for r in t.scan("ts = '2024-01-05 14:00:00'").collect()} == {2}
    assert {r["id"] for r in t.scan("ts < '2024-01-05 12:00:00'").collect()} == {1}
    t.delete_where("ts = '2024-01-05 10:00:00'")
    assert {r["id"] for r in t.read().collect()} == {2}


def test_escaped_partition_values_prune(spark, tmp_path):
    """Regression: Spark percent-escapes partition dir values
    (':' -> '%3A'); pruning must compare the UNESCAPED value or
    hours()/identity-on-string partitions wrongly drop matching files."""
    t = LakeTable.create(
        spark, str(tmp_path / "esc"), "id bigint, ts timestamp, tag string",
        partition_by=["hours(ts)", "identity(tag)"],
    )
    t.append(spark.createDataFrame(
        [(1, _ts("2024-01-05 10:30:00"), "a:b"),
         (2, _ts("2024-01-06 22:15:00"), "c d")],
        "id bigint, ts timestamp, tag string",
    ))
    snap = t._snapshot()
    assert all(
        "%" not in v for e in snap.files for v in e.partition.values()
    ), "partition values must be stored unescaped"
    assert {r["id"] for r in t.scan("tag = 'a:b'").collect()} == {1}
    assert {r["id"] for r in t.scan("ts = '2024-01-05 10:30:00'").collect()} == {1}


def test_concurrent_metadata_mutation_no_lost_commit(spark, tmp_path):
    """Regression: schema evolution / tags from a STALE handle must not
    clobber snapshots committed concurrently by another writer."""
    p = str(tmp_path / "cc")
    t1 = LakeTable.create(spark, p, "id bigint, v double")
    t1.append(spark.createDataFrame([(1, 1.0)], "id bigint, v double"))
    t2 = LakeTable.load(spark, p)  # second handle, snapshot 1 in memory
    t1.append(spark.createDataFrame([(2, 2.0)], "id bigint, v double"))
    t2.add_column("note", "string", default="n/a")  # stale handle mutates
    t3 = LakeTable.load(spark, p)
    assert t3._meta["current_snapshot_id"] == 2, "append must survive evolution"
    assert t3.read().count() == 2
    assert "note" in t3.read().columns
    t2.create_tag("after-evolve")  # tag from the (still stale) handle
    t4 = LakeTable.load(spark, p)
    assert t4._meta["current_snapshot_id"] == 2
    assert t4.read_tag("after-evolve").count() == 2


def test_expire_snapshots_keeps_tagged(spark, tmp_path):
    """Regression: expire_snapshots must never expire ref-protected
    (tagged) snapshots or delete their files — Iceberg ref retention."""
    t = LakeTable.create(spark, str(tmp_path / "tags"), "id bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0)], "id bigint, v double"))
    t.create_tag("first")
    t.overwrite(spark.createDataFrame([(2, 2.0)], "id bigint, v double"))
    t.overwrite(spark.createDataFrame([(3, 3.0)], "id bigint, v double"))
    res = t.expire_snapshots(retain_last=1)
    assert res["expired_snapshots_count"] == 1  # only the middle one
    assert {r["id"] for r in t.read_tag("first").collect()} == {1}
    assert {r["id"] for r in t.read().collect()} == {3}


def test_merge_duplicate_source_keys_raises(spark, table):
    """MERGE with duplicate source join keys must raise (Iceberg's
    multiple-matching-rows cardinality error), not duplicate rows."""
    dup = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 00:00:00"), "sku-0001", 9, Decimal("1.00"), "US", dt.date(2024, 1, 1)),
         (1, 10, _ts("2024-01-01 00:00:00"), "sku-0001", 7, Decimal("2.00"), "US", dt.date(2024, 1, 1))],
        SCHEMA,
    )
    before = table.read().count()
    with pytest.raises(ValueError, match="duplicate join keys"):
        table.merge(dup, on=["event_id"], when_matched_update="*")
    assert table.read().count() == before


def test_iceberg_metadata_export_roundtrip(spark, tmp_path):
    """to_iceberg_metadata emits the Iceberg v2 chain (metadata.json →
    manifest list → manifests); read_via_iceberg_metadata walks ONLY
    that chain, as an external Iceberg reader would, and must reproduce
    the table across appends, schema evolution (add/rename), DML, tags,
    and time travel."""
    import json

    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        read_via_iceberg_metadata,
        to_iceberg_metadata,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "ice"), "id bigint, sku string, price double",
        # spec-true murmur3 bucket: exports as bucket[4] with values a
        # conforming reader prunes (legacy xxhash64 bucket() exports as
        # void — pinned in test_iceberg_bucket.py)
        partition_by=["ibucket(4, id)"], sort_order=["id"],
    )
    t.append(spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "id bigint, sku string, price double",
    ))
    baseline = t._snapshot().snapshot_id
    t.create_tag("exported-baseline", baseline)
    t.add_column("category", "string", default="general")
    t.rename_column("sku", "product_sku")
    t.append(spark.createDataFrame(
        [(4, "d", 4.0, "oversize")],
        "id bigint, product_sku string, price double, category string",
    ))
    t.update({"price": "price * 2"}, "id = 1")

    mp = to_iceberg_metadata(t)
    md = json.loads(open(mp).read())
    assert md["format-version"] == 2
    assert md["partition-specs"][0]["fields"][0]["transform"] == "bucket[4]"
    ids = {f["name"]: f["id"] for f in md["schemas"][-1]["fields"]}
    assert ids["product_sku"] == 2, "rename must preserve the field id"
    assert md["refs"]["exported-baseline"]["snapshot-id"] == baseline

    native = {tuple(r) for r in t.read().collect()}
    via_ice = {tuple(r) for r in read_via_iceberg_metadata(spark, mp).collect()}
    assert via_ice == native

    # time travel through the exported chain: pre-evolution snapshot
    # reads with the pre-evolution schema
    old = read_via_iceberg_metadata(spark, mp, snapshot_id=baseline)
    assert old.columns == ["id", "sku", "price"]
    assert old.count() == 3


def test_concurrent_appenders_all_commit(spark, tmp_path):
    """N handles appending concurrently must ALL land (append
    auto-retries on CommitConflict with a fresh snapshot): final table
    = union of every writer's batch, snapshot count = N appends.
    This is the multi-writer contract a shared catalog table lives by."""
    import threading

    path = str(tmp_path / "concurrent")
    LakeTable.create(spark, path, "k bigint, writer int")
    n_writers, rows_each = 6, 50
    errors = []

    def write(widx: int) -> None:
        try:
            h = LakeTable.load(spark, path)
            df = spark.range(widx * 1000, widx * 1000 + rows_each).select(
                F.col("id").alias("k"), F.lit(widx).alias("writer")
            )
            h.append(df)
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append((widx, e))

    threads = [threading.Thread(target=write, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    final = LakeTable.load(spark, path)
    got = final.read().groupBy("writer").count().collect()
    assert {(r["writer"], r["count"]) for r in got} == {
        (i, rows_each) for i in range(n_writers)
    }
    ops = [r["operation"] for r in final.snapshots().collect()]
    assert ops.count("append") == n_writers


def test_merge_duplicate_keys_insert_only_ok(spark, table):
    """Duplicate source keys that match NO target row are a legal
    insert-only merge — Spark/Iceberg's cardinality error fires only on
    an actual target multi-match, so both duplicate rows append."""
    dup = spark.createDataFrame(
        [(101, 10, _ts("2024-02-01 00:00:00"), "sku-0101", 1, Decimal("1.00"), "US", dt.date(2024, 2, 1)),
         (101, 10, _ts("2024-02-01 00:00:00"), "sku-0101", 2, Decimal("2.00"), "US", dt.date(2024, 2, 1))],
        SCHEMA,
    )
    before = table.read().count()
    table.merge(dup, on=["event_id"], when_matched_update="*",
                when_not_matched_insert=True)
    assert table.read().count() == before + 2
    assert table.read().filter("event_id = 101").count() == 2


def test_iceberg_export_renamed_partition_source_id(spark, tmp_path):
    """Partition-spec and sort-order source-ids must survive a column
    rename (the transform keeps the old spelling; field ids do not
    change), and an empty-snapshot read-back must keep real types."""
    import json

    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        read_via_iceberg_metadata,
        to_iceberg_metadata,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "renamed"), "id bigint, sku string, price double",
        partition_by=["sku"], sort_order=["sku"],
    )
    t.append(spark.createDataFrame([(1, "a", 1.0)], "id bigint, sku string, price double"))
    t.rename_column("sku", "product_sku")
    t.delete_where("id = 1")  # current snapshot: zero data files

    mp = to_iceberg_metadata(t)
    md = json.loads(open(mp).read())
    sku_id = {f["name"]: f["id"] for f in md["schemas"][-1]["fields"]}["product_sku"]
    assert md["partition-specs"][0]["fields"][0]["source-id"] == sku_id
    assert md["sort-orders"][0]["fields"][0]["source-id"] == sku_id

    empty = read_via_iceberg_metadata(spark, mp)
    assert empty.count() == 0
    assert dict(empty.dtypes) == {
        "id": "bigint", "product_sku": "string", "price": "double"
    }


def test_branch_wap_lifecycle(spark, tmp_path):
    """Write-audit-publish: stage appends on a branch (main readers see
    nothing), audit the branch, fast-forward main to publish. Non-fast-
    forward publishes (diverged main) must be refused."""
    t = LakeTable.create(spark, str(tmp_path / "wap"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"))
    t.create_branch("audit")
    t.append(spark.createDataFrame([(3, 3.0)], "k bigint, v double"), branch="audit")
    t.append(spark.createDataFrame([(4, 4.0)], "k bigint, v double"), branch="audit")
    # isolation: main untouched, branch sees staged rows
    assert {r["k"] for r in t.read().collect()} == {1, 2}
    assert {r["k"] for r in t.read_branch("audit").collect()} == {1, 2, 3, 4}
    # publish
    sid = t.fast_forward("audit")
    assert t._meta["current_snapshot_id"] == sid
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4}
    # diverged branch: main advances past the fork -> refuse publish
    t.create_branch("b2")
    t.append(spark.createDataFrame([(5, 5.0)], "k bigint, v double"), branch="b2")
    t.append(spark.createDataFrame([(6, 6.0)], "k bigint, v double"))  # main moves
    with pytest.raises(ValueError, match="fast-forward"):
        t.fast_forward("b2")
    # unknown branch append
    with pytest.raises(KeyError):
        t.append(spark.createDataFrame([(7, 7.0)], "k bigint, v double"), branch="nope")


def test_branch_and_main_commits_do_not_clobber(spark, tmp_path):
    """A main commit through a STALE handle must not lose a branch
    commit that landed in between (commit reloads on-disk metadata
    under the lock), and vice versa."""
    path = str(tmp_path / "iso")
    t1 = LakeTable.create(spark, path, "k bigint, v double")
    t1.append(spark.createDataFrame([(1, 1.0)], "k bigint, v double"))
    t1.create_branch("audit")
    t2 = LakeTable.load(spark, path)  # second writer handle
    t2.append(spark.createDataFrame([(2, 2.0)], "k bigint, v double"), branch="audit")
    # t1 is stale (no branch head in memory) — its main append must
    # preserve t2's branch snapshot
    t1.append(spark.createDataFrame([(3, 3.0)], "k bigint, v double"))
    fresh = LakeTable.load(spark, path)
    assert {r["k"] for r in fresh.read().collect()} == {1, 3}
    assert {r["k"] for r in fresh.read_branch("audit").collect()} == {1, 2}
    # expire_snapshots must protect the branch head
    fresh.append(spark.createDataFrame([(4, 4.0)], "k bigint, v double"))
    fresh.expire_snapshots(retain_last=1)
    assert {r["k"] for r in fresh.read_branch("audit").collect()} == {1, 2}


def test_partitions_metadata_table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "parts"), "k bigint, cat string",
        partition_by=["cat"],
    )
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "k bigint, cat string"
    ))
    rows = {r["partition"]: r for r in t.partitions().collect()}
    assert len(rows) == 2
    a = next(v for k, v in rows.items() if '"a"' in k)
    assert a["record_count"] == 2 and a["file_count"] == 1


def test_sql_frontend_branch_wap(spark, tmp_path):
    """The SQL spelling of WAP: branch DDL, INSERT INTO t.branch_x,
    VERSION AS OF '<branch>', CALL system.fast_forward, .partitions."""
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE wt (id bigint, v double) PARTITIONED BY (bucket(4, id))")
    e.execute("INSERT INTO wt VALUES (1, 1.0), (2, 2.0)")
    e.execute("ALTER TABLE wt CREATE BRANCH audit")
    e.execute("INSERT INTO wt.branch_audit VALUES (3, 3.0)")
    # isolation
    assert e.execute("SELECT COUNT(*) AS c FROM wt")[0].rows[0]["c"] == 2
    assert e.execute(
        "SELECT COUNT(*) AS c FROM wt VERSION AS OF 'audit'"
    )[0].rows[0]["c"] == 3
    # publish
    e.execute("CALL system.fast_forward(table => 'wt', branch => 'audit')")
    assert e.execute("SELECT COUNT(*) AS c FROM wt")[0].rows[0]["c"] == 3
    # partitions metadata table through SQL
    parts = e.execute("SELECT * FROM wt.partitions")[0].rows
    assert sum(p["record_count"] for p in parts) == 3
    e.execute("ALTER TABLE wt DROP BRANCH audit")


def test_rewrite_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order re-layout: after rewriting a 64x64 grid into 16 z-range
    files, a point predicate on EITHER column must exclude most files
    by footer stats — a linear sort would prune only its lead column."""
    t = LakeTable.create(spark, str(tmp_path / "z"), "a bigint, b bigint, v double")
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("bigint").alias("b"),
        F.col("id").cast("double").alias("v"),
    )
    t.append(grid)
    res = t.rewrite_zorder(["a", "b"], target_files=16)
    assert res["added_data_files_count"] == 16
    snap = t._snapshot()

    def files_covering(col, val):
        n = 0
        for e in snap.files:
            lo, hi = e.stats[col]
            if lo <= val <= hi:
                n += 1
        return n

    # each z-range file covers a compact rectangle: a point value on a
    # or b intersects ~sqrt(16)=4 of 16 files; allow slack to 8
    assert files_covering("a", 10) <= 8
    assert files_covering("b", 10) <= 8
    # data rides through unchanged
    assert t.read().count() == 64 * 64
    assert t.read().agg(F.sum("v")).first()[0] == sum(range(64 * 64))
    # scan() actually skips the excluded files
    assert {r["a"] for r in t.scan("a = 10").select("a").collect()} == {10}
    # partitioned tables refuse (layout pinned to the spec)
    tp = LakeTable.create(
        spark, str(tmp_path / "zp"), "a bigint, v double", partition_by=["bucket(4, a)"]
    )
    tp.append(spark.createDataFrame([(1, 1.0)], "a bigint, v double"))
    with pytest.raises(ValueError, match="unpartitioned"):
        tp.rewrite_zorder(["a"])


def test_rewrite_zorder_via_call(spark, tmp_path):
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE zt (a bigint, b bigint)")
    e.execute(
        "INSERT INTO zt SELECT id % 32 AS a, CAST(id / 32 AS BIGINT) AS b FROM RANGE(1024)"
    )
    res = e.execute(
        "CALL system.rewrite_data_files(table => 'zt', strategy => 'sort', "
        "sort_order => 'zorder(a, b)', target_files => 8)"
    )[0]
    assert res.rows[0]["added_data_files_count"] == 8
    assert e.execute("SELECT COUNT(*) AS c FROM zt")[0].rows[0]["c"] == 1024


def test_changelog_nets_out_carried_rows(spark, tmp_path):
    """changelog(): updates appear as delete+insert pairs, deletes as
    deletes, and rows the CoW rewrite carried over unchanged cancel."""
    t = LakeTable.create(spark, str(tmp_path / "cdc"), "k bigint, v double")
    t.append(spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "k bigint, v double"
    ))
    base = t._snapshot().snapshot_id
    t.update({"v": "v * 10"}, "k = 2")
    t.delete_where("k = 3")
    rows = {(r["k"], r["v"], r["_change_type"])
            for r in t.changelog(base).collect()}
    assert rows == {
        (2, 20.0, "insert"),   # new value of the updated row
        (2, 2.0, "delete"),    # its old value
        (3, 3.0, "delete"),    # the deleted row
    }  # k=1 was carried through the rewrite and must not appear


def test_refs_metadata_table(spark, tmp_path):
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE rt (id bigint)")
    e.execute("INSERT INTO rt VALUES (1)")
    e.execute("ALTER TABLE rt CREATE TAG v1")
    e.execute("ALTER TABLE rt CREATE BRANCH audit")
    refs = {(r["name"], r["type"]) for r in e.execute("SELECT * FROM rt.refs")[0].rows}
    assert refs == {("v1", "tag"), ("audit", "branch")}


def test_branch_dml_staging(spark, tmp_path):
    """UPDATE/DELETE staged on a branch (spark.wap.branch-style DML):
    main is untouched until the branch is published."""
    t = LakeTable.create(spark, str(tmp_path / "bdml"), "k bigint, v double")
    t.append(spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "k bigint, v double"
    ))
    t.create_branch("fix")
    t.update({"v": "v * 10"}, "k = 1", branch="fix")
    t.delete_where("k = 2", branch="fix")
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {
        (1, 1.0), (2, 2.0), (3, 3.0)
    }
    assert {(r["k"], r["v"]) for r in t.read_branch("fix").collect()} == {
        (1, 10.0), (3, 3.0)
    }
    t.fast_forward("fix")
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(1, 10.0), (3, 3.0)}


def test_expire_snapshots_older_than(spark, tmp_path):
    """older_than expires only snapshots committed before the cutoff;
    retain_last stays the floor and the head survives."""
    import time as _time

    t = LakeTable.create(spark, str(tmp_path / "exp2"), "id bigint")
    for i in range(3):
        t.append(spark.range(i + 1))
    cutoff_ms = int(_time.time() * 1000) + 1  # after the first three
    _time.sleep(0.01)
    for i in range(2):
        t.append(spark.range(1))
    res = t.expire_snapshots(retain_last=1, older_than_ms=cutoff_ms)
    assert res["expired_snapshots_count"] == 3
    kept = [s["snapshot_id"] for s in t._meta["snapshots"]]
    assert len(kept) == 2
    assert t.read().count() == 1 + 2 + 3 + 1 + 1


def test_parquet_bloom_filter_property_writes_bloom(spark, tmp_path):
    """`write.parquet.bloom-filter-enabled.column.<col>` (the Iceberg
    table property) must reach the parquet writer: every data file's
    footer carries a bloom filter offset for that column, and none for
    columns not listed. Verified through parquet-mr's own footer
    reader (pyarrow does not expose bloom offsets)."""
    import os

    t = LakeTable.create(
        spark, str(tmp_path / "bloom"), "user_id bigint, v double",
        properties={
            "write.parquet.bloom-filter-enabled.column.user_id": "true",
            "write.parquet.bloom-filter-expected-ndv.column.user_id": "50000",
        },
    )
    t.append(spark.range(50_000).selectExpr("id AS user_id", "id * 0.5 AS v"))
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    offsets = {}
    for e in t._snapshot().files:
        path = os.path.join(t.path, e.path)
        inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), conf
        )
        rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
        try:
            for col in rdr.getFooter().getBlocks().get(0).getColumns():
                offsets[col.getPath().toDotString()] = col.getBloomFilterOffset()
        finally:
            rdr.close()
    assert offsets["user_id"] > 0, "bloom filter missing for enabled column"
    assert offsets["v"] == -1, "bloom filter written for non-enabled column"
    # reads are unaffected
    assert t.read().filter("user_id = 4242").count() == 1


def test_parquet_bloom_filter_fpp_and_max_bytes(spark, tmp_path):
    """The upstream Iceberg knobs `write.parquet.bloom-filter-fpp
    .column.<col>` and `write.parquet.bloom-filter-max-bytes` must
    reach parquet-mr: a loose fpp (0.2) with a tight max-bytes cap
    still produces a (small) bloom filter for the enabled column."""
    import os

    t = LakeTable.create(
        spark, str(tmp_path / "bloomfpp"), "user_id bigint, v double",
        properties={
            "write.parquet.bloom-filter-enabled.column.user_id": "true",
            "write.parquet.bloom-filter-fpp.column.user_id": "0.2",
            "write.parquet.bloom-filter-max-bytes": "65536",
        },
    )
    t.append(spark.range(50_000).selectExpr("id AS user_id", "id * 0.5 AS v"))
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    offsets = {}
    for e in t._snapshot().files:
        path = os.path.join(t.path, e.path)
        inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), conf
        )
        rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
        try:
            for col in rdr.getFooter().getBlocks().get(0).getColumns():
                offsets[col.getPath().toDotString()] = col.getBloomFilterOffset()
        finally:
            rdr.close()
    assert offsets["user_id"] > 0, "bloom filter missing with fpp/max-bytes knobs"
    assert t.read().filter("user_id = 4242").count() == 1


def test_iceberg_export_partition_spec_evolution(spark, tmp_path):
    """After ADD/DROP PARTITION FIELD the export must emit the FULL
    spec history (Iceberg keeps every spec ever used), stamp
    default-spec-id at the current spec, and split each snapshot's
    data manifests per spec — a file written under the bucket spec
    must never sit in a manifest claiming the truncate spec."""
    import json

    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        read_via_iceberg_metadata,
    )

    d = str(tmp_path / "t")
    t = LakeTable.create(spark, d, "id bigint, c string", partition_by=["bucket(2, id)"])
    t.append(spark.createDataFrame([(i, f"s{i % 3}") for i in range(10)], "id bigint, c string"))
    t.drop_partition_field("bucket(2, id)")
    t.add_partition_field("truncate(1, c)")
    t.append(spark.createDataFrame([(i, f"s{i % 3}") for i in range(10, 20)], "id bigint, c string"))

    mpath = t.to_iceberg_metadata()
    assert read_via_iceberg_metadata(spark, mpath).count() == 20

    md = json.load(open(mpath))
    specs = {s["spec-id"]: s["fields"] for s in md["partition-specs"]}
    assert len(specs) == 3  # bucket → (empty intermediate) → truncate
    # legacy xxhash64 bucket exports as void (its values live in a
    # different hash space than spec murmur3 — a conforming reader
    # must scan, never wrong-prune); see test_iceberg_bucket.py
    assert specs[0][0]["transform"] == "void"
    assert specs[0][0]["name"] == "id_bucket"
    assert specs[1] == []
    # string truncate IS value-exact both sides → spec-true export
    assert specs[2][0]["transform"] == "truncate[1]"
    assert md["default-spec-id"] == 2

    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"])
    mlist = json.load(open(snap["manifest-list"]))
    seen = {}
    for m in mlist["manifests"]:
        man = json.load(open(m["manifest-path"]))
        sid = man["partition-spec-id"]
        assert m["partition-spec-id"] == sid
        for e in man["entries"]:
            keys = frozenset(e["data-file"]["partition"].keys())
            seen[sid] = keys
            if sid == 0:
                assert keys == {"_p_bucket_id"}
            if sid == 2:
                assert keys == {"_p_truncate_c"}
    assert set(seen) == {0, 2}  # both generations present, correctly attributed


def test_migrate_parquet_inplace(spark, tmp_path):
    """migrate_parquet registers legacy files without rewriting them;
    appends coexist; compaction folds external refs into table-owned
    files; orphan cleanup never touches the legacy directory."""
    import glob
    import os

    from pyspark.sql import functions as F

    d = str(tmp_path)
    spark.range(1000).select(
        "id", (F.col("id") % 7).alias("g"), (F.col("id") * 1.5).alias("v")
    ).repartition(4).write.parquet(d + "/legacy")

    t = LakeTable.migrate_parquet(spark, d + "/legacy", d + "/t")
    assert t.read().count() == 1000
    files = t._snapshot().files
    assert len(files) == 4
    assert all(os.path.isabs(e.path) and e.path.startswith(d + "/legacy") for e in files)
    assert all("id" in e.stats for e in files)  # pruning-ready from commit one

    t.append(spark.range(1000, 1100).select(
        "id", (F.col("id") % 7).alias("g"), (F.col("id") * 1.5).alias("v")
    ))
    assert t.read().count() == 1100

    t.rewrite_data_files(min_input_files=2)
    assert t.read().count() == 1100
    assert not any(
        e.path.startswith(d + "/legacy") for e in t._snapshot().files
    )  # folded into table-owned layout
    import time as _time

    t.remove_orphan_files(older_than_ms=int(_time.time() * 1000) + 60_000)
    assert len(glob.glob(d + "/legacy/*.parquet")) == 4  # source untouched


def test_migrate_parquet_nested_leaf_stats_keep_their_path(spark, tmp_path):
    """An external file's struct leaf ``meta.n`` records its stats under
    the dotted path, never under the bare name of the same-named
    top-level column ``n`` (whose range pruning would then skip a file
    that holds the row)."""
    d = str(tmp_path)
    spark.range(100, 201).selectExpr(
        "id as n", "named_struct('n', cast(id % 10 as bigint)) as meta"
    ).coalesce(1).write.parquet(d + "/legacy")
    t = LakeTable.migrate_parquet(spark, d + "/legacy", d + "/t")
    (entry,) = t._snapshot().files
    assert entry.stats["n"] == [100, 200]
    assert entry.stats["meta.n"] == [0, 9]
    assert t.scan("n = 150").count() == 1


def test_iceberg_export_global_partition_field_ids(spark, tmp_path):
    """Partition field-ids are TABLE-WIDE (Iceberg spec): assigned once
    per (source, transform) starting at 1000, never reused, stable
    across spec evolution — readers union manifest partition structs
    by field-id, so two different fields must never share one and the
    same field must keep its id in every spec (ADVICE r4 medium)."""
    import json

    t = LakeTable.create(
        spark, str(tmp_path / "gids"), "id bigint, c string, ts timestamp",
        partition_by=["bucket(2, id)"],
    )
    t.append(spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1))], "id bigint, c string, ts timestamp"
    ))
    t.add_partition_field("truncate(1, c)")   # spec 1: bucket + truncate
    t.drop_partition_field("bucket(2, id)")   # spec 2: truncate only
    t.add_partition_field("days(ts)")         # spec 3: truncate + days
    t.append(spark.createDataFrame(
        [(2, "b", dt.datetime(2024, 1, 2))], "id bigint, c string, ts timestamp"
    ))

    md = json.load(open(t.to_iceberg_metadata()))
    by_key: dict[tuple, set] = {}
    all_ids: list[int] = []
    for sp in md["partition-specs"]:
        for f in sp["fields"]:
            by_key.setdefault((f["source-id"], f["transform"]), set()).add(f["field-id"])
            all_ids.append(f["field-id"])
    # same (source, transform) -> ONE id across every spec it appears in
    assert all(len(ids) == 1 for ids in by_key.values()), by_key
    # different fields never share an id
    assert len({next(iter(v)) for v in by_key.values()}) == len(by_key)
    # first-use order from spec 0: bucket (exported as void — legacy
    # xxhash64 values must never let a conforming reader wrong-prune)
    # =1000, string truncate (spec-true) =1001, days=1002
    ids = {k[1]: next(iter(v)) for k, v in by_key.items()}
    assert ids == {"void": 1000, "truncate[1]": 1001, "day": 1002}
    assert md["last-partition-id"] == max(all_ids)


def test_streaming_append_replay_idempotent(spark, tmp_path):
    """foreachBatch replay safety (Iceberg streaming-sink semantics,
    spec :70): a micro-batch re-delivered after a sink-commit /
    checkpoint-commit crash must be SKIPPED — the snapshot summary
    records (query-id, batch-id) atomically with the data, and ids
    ≤ the last committed are no-ops. query_id is the DURABLE identity:
    this deliberately dedups even a full from-zero replay after
    checkpoint loss, so a NEW logical query must use a NEW query_id
    (the laketable sink derives its default from the checkpoint
    location for that reason). Distinct query-ids keep independent
    pointers; interleaved batch appends don't disturb them."""
    t = LakeTable.create(spark, str(tmp_path / "s"), "k bigint, v double")
    mk = lambda lo, n: spark.range(lo, lo + n).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))

    assert t.streaming_append(mk(0, 10), 0, query_id="q") is not None
    assert t.streaming_append(mk(10, 10), 1, query_id="q") is not None
    snaps_before = len(t._meta["snapshots"])

    # replay of batch 1 (and a late replay of batch 0): skipped
    assert t.streaming_append(mk(10, 10), 1, query_id="q") is None
    assert t.streaming_append(mk(0, 10), 0, query_id="q") is None
    assert t.read().count() == 20
    assert len(t._meta["snapshots"]) == snaps_before

    # a DIFFERENT query id is a new identity: its batch 0 lands
    assert t.streaming_append(mk(100, 5), 0, query_id="q2") is not None
    assert t.read().count() == 25

    # a plain batch append between micro-batches must not clobber the pointer
    t.append(mk(1000, 5))
    assert t.last_streaming_batch("q") == 1
    assert t.streaming_append(mk(20, 10), 2, query_id="q") is not None
    assert t.read().count() == 40

    # an independent query id has its own sequence
    assert t.streaming_append(mk(2000, 3), 0, query_id="other") is not None
    assert t.last_streaming_batch("q") == 2
    assert t.last_streaming_batch("other") == 0


def test_streaming_append_concurrent_replay_single_commit(spark, tmp_path):
    """Two workers replaying the SAME micro-batch concurrently (the
    crash-recovery race): exactly one commits; the loser detects the
    committed batch-id under conflict, skips, and unlinks its
    duplicate files (no orphan rows, no double count)."""
    import threading

    path = str(tmp_path / "race")
    LakeTable.create(spark, path, "k bigint, v double")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    results, errors = [], []

    def run():
        try:
            h = LakeTable.load(spark, path)
            results.append(h.streaming_append(df, 0, query_id="q"))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    committed = [r for r in results if r is not None]
    assert len(committed) == 1, "exactly one replay may commit"
    final = LakeTable.load(spark, path)
    assert final.read().count() == 100


def test_streaming_ingest_survives_checkpoint_loss(spark, tmp_path):
    """End-to-end: an availableNow foreachBatch ingest whose CHECKPOINT
    is destroyed mid-life (the worst replay case — Spark re-delivers
    every micro-batch from 0) must leave the table with exactly one
    copy of the source. This is the kill-between-sink-commit-and-
    checkpoint scenario taken to its limit."""
    src = str(tmp_path / "src")
    spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    ).repartition(4).write.parquet(src)

    t = LakeTable.create(spark, str(tmp_path / "tbl"), "k bigint, v double")

    def run_stream(ck: str) -> None:
        stream = (
            spark.readStream.schema("k bigint, v double")
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            stream.writeStream
            .foreachBatch(lambda b, bid: t.streaming_append(b, bid, query_id="ingest"))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream(str(tmp_path / "ck1"))
    assert t.read().count() == 500
    # checkpoint lost -> restart replays batches 0..N from scratch
    run_stream(str(tmp_path / "ck2"))
    t2 = LakeTable.load(spark, str(tmp_path / "tbl"))
    assert t2.read().count() == 500, "replayed batches must be skipped"
    assert t2.read().groupBy().agg(F.sum("v")).collect()[0][0] == sum(
        i * 2.0 for i in range(500)
    )


def test_cherrypick_snapshot_wap_divergence(spark, tmp_path):
    """The WAP case fast_forward refuses: main advanced while the
    audit branch was staged — cherrypick re-applies the staged
    append's net change on top of the new head with a fresh sequence
    number, and the wap.id guard blocks a double publish."""
    t = LakeTable.create(spark, str(tmp_path / "cp"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"))
    t.create_branch("audit")
    staged = t.append(
        spark.createDataFrame([(3, 3.0)], "k bigint, v double"),
        branch="audit", wap_id="batch-7",
    )
    # main moves on → branch head is not a descendant any more
    t.append(spark.createDataFrame([(4, 4.0)], "k bigint, v double"))
    with pytest.raises(ValueError, match="fast-forward"):
        t.fast_forward("audit")
    pub = t.cherrypick_snapshot(staged.snapshot_id)
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4}
    assert pub.summary["cherry_picked_from"] == staged.snapshot_id
    assert pub.summary["published-wap-id"] == "batch-7"
    # published rows got the PUBLISH commit's sequence, not the staged one
    staged_paths = {e.path for e in staged.files} - {
        e.path for e in t._snapshot(staged.parent_id).files
    }
    published = [e for e in pub.files if e.path in staged_paths]
    assert published and all(e.seq == pub.snapshot_id for e in published)
    # double publish: blocked by id / wap.id
    with pytest.raises(ValueError, match="already published"):
        t.cherrypick_snapshot(staged.snapshot_id)


def test_cherrypick_refuses_non_append(spark, tmp_path):
    """Snapshots that removed files (delete/rewrite) or added delete
    files captured a read-modify-write — replaying them blindly onto
    a different head would resurrect or re-delete rows, so they must
    be refused (Iceberg cherry-pick contract)."""
    t = LakeTable.create(spark, str(tmp_path / "cpna"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"))
    del_snap = t.delete_where("k = 1")
    with pytest.raises(ValueError, match="only append"):
        t.cherrypick_snapshot(del_snap.snapshot_id)


def test_sql_frontend_cherrypick(spark, tmp_path):
    """CALL system.cherrypick_snapshot routes to the table op and
    reports (source, new current) like the Iceberg procedure."""
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE cpt (k BIGINT, v DOUBLE)")
    e.execute("INSERT INTO cpt VALUES (1, 1.0)")
    e.execute("ALTER TABLE cpt CREATE BRANCH audit")
    e.execute("INSERT INTO cpt.branch_audit VALUES (2, 2.0)")
    staged_id = e.table("cpt")._meta["branches"]["audit"]
    e.execute("INSERT INTO cpt VALUES (3, 3.0)")  # main diverges
    res = e.execute(
        f"CALL system.cherrypick_snapshot(table => 'cpt', "
        f"snapshot_id => {staged_id})"
    )[0]
    assert res.rows[0]["source_snapshot_id"] == staged_id
    rows = e.execute("SELECT k FROM cpt")[0].rows
    assert {r["k"] for r in rows} == {1, 2, 3}


def test_sql_frontend_create_changelog_view(spark, tmp_path):
    """CALL system.create_changelog_view mirrors the Iceberg procedure:
    net row-level changes over a snapshot range land in a queryable
    temp view with _change_type; an update surfaces as delete+insert."""
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE clv (k BIGINT, v DOUBLE)")
    e.execute("INSERT INTO clv VALUES (1, 1.0), (2, 2.0)")
    start = e.table("clv")._meta["current_snapshot_id"]
    e.execute("UPDATE clv SET v = 20.0 WHERE k = 2")
    e.execute("INSERT INTO clv VALUES (3, 3.0)")
    res = e.execute(
        f"CALL system.create_changelog_view(table => 'clv', "
        f"start_snapshot_id => {start})"
    )[0]
    assert res.rows[0]["changelog_view"] == "clv_changes"
    rows = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in spark.sql("SELECT * FROM clv_changes").collect()
    )
    # update of k=2 nets as delete(2.0)+insert(20.0); k=3 is an insert;
    # k=1 is untouched and must NOT appear
    assert rows == [(2, 2.0, "delete"), (2, 20.0, "insert"), (3, 3.0, "insert")]
    # the frontend's own SELECT path also resolves the view
    n = e.execute("SELECT COUNT(*) AS c FROM clv_changes")[0].rows[0]["c"]
    assert n == 3
