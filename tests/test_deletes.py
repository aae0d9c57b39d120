"""Row-level deletes: COW, MOR positional, MOR equality (incl. the null-keep
semantics of caching_delete_file_loader.rs:422-426 and sequence-number
visibility of delete_file_index.rs:84-168 — FIXTURES.md §5)."""

import pyspark.sql.functions as F
import pytest

from iceberg_rust_spark import Table, expr as E
from iceberg_rust_spark.sources.types import schema_from_spark


@pytest.fixture()
def users_table(spark, warehouse):
    rows = [(1, "alice", 1.0), (2, "bob", 2.0), (3, None, 3.0),
            (4, "carol", 4.0), (5, "bob", 5.0), (6, "dave", 6.0)]
    df = spark.createDataFrame(rows, "id long, user string, val double")
    t = Table.create(warehouse, "db.users", schema_from_spark(df.schema))
    t.append(spark, df.where("id <= 3"))
    t.append(spark, df.where("id > 3"))
    return t


def ids(spark, t, **scan_kw):
    return sorted(r[0] for r in t.scan(**scan_kw).to_df(spark).select("id").collect())


def test_cow_delete(spark, users_table):
    t = users_table.delete_where(spark, E.col("val") > 4.5, mode="cow")
    assert ids(spark, t) == [1, 2, 3, 4]
    # whole-file drop path: both files of second append removed when all match
    t2 = t.delete_where(spark, E.col("id") >= 1, mode="cow")
    assert ids(spark, t2) == []


def test_mor_positional_delete(spark, users_table):
    t = users_table.delete_where(spark, E.col("id").isin([2, 4]), mode="mor")
    assert ids(spark, t) == [1, 3, 5, 6]
    # delete file participates in planning, not data rewrite
    ops = [s.operation for s in t.metadata.snapshots]
    assert ops[-1] == "delete"
    # double-delete is idempotent
    t2 = t.delete_where(spark, E.col("id") == 2, mode="mor")
    assert ids(spark, t2) == [1, 3, 5, 6]


def test_mor_equality_delete_null_keep(spark, users_table):
    keys = spark.createDataFrame([("bob",)], "user string")
    t = users_table.delete_by_equality(spark, keys, ["user"])
    # bob rows (2,5) gone; NULL-user row 3 KEPT (null-keep semantics)
    assert ids(spark, t) == [1, 3, 4, 6]


def test_eq_delete_sequence_visibility(spark, users_table, warehouse):
    keys = spark.createDataFrame([("bob",)], "user string")
    t = users_table.delete_by_equality(spark, keys, ["user"])
    # rows appended AFTER the delete are NOT affected (delete.seq < new data.seq)
    late = spark.createDataFrame([(7, "bob", 7.0)], "id long, user string, val double")
    t.append(spark, late)
    assert ids(spark, t) == [1, 3, 4, 6, 7]


def test_pos_delete_then_append(spark, users_table):
    t = users_table.delete_where(spark, E.col("id") == 1, mode="mor")
    late = spark.createDataFrame([(8, "zed", 8.0)], "id long, user string, val double")
    t.append(spark, late)
    assert ids(spark, t) == [2, 3, 4, 5, 6, 8]


def test_time_travel_before_delete(spark, users_table):
    before = users_table.metadata.current_snapshot_id
    t = users_table.delete_where(spark, E.col("id") <= 2, mode="cow")
    assert ids(spark, t) == [3, 4, 5, 6]
    assert ids(spark, t, snapshot_id=before) == [1, 2, 3, 4, 5, 6]


def test_merge_upsert_single_snapshot(spark, warehouse):
    df = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(100)],
        "id long, name string, amount double")
    t = Table.create(warehouse, "db.merge", schema_from_spark(df.schema))
    t = t.append(spark, df)
    n_snaps = len(t.metadata.snapshots)

    # update ids 10..19 (new values), insert ids 100..104
    src = spark.createDataFrame(
        [(i, f"UPD{i}", float(i) * 10) for i in range(10, 20)] +
        [(i, f"NEW{i}", -1.0) for i in range(100, 105)],
        "id long, name string, amount double")
    t = t.merge(spark, src, ["id"])
    assert len(t.metadata.snapshots) == n_snaps + 1  # ONE snapshot

    got = {r["id"]: (r["name"], r["amount"]) for r in t.to_df(spark).collect()}
    assert len(got) == 105
    assert got[15] == ("UPD15", 150.0)   # matched -> updated
    assert got[5] == ("v5", 5.0)         # untouched
    assert got[102] == ("NEW102", -1.0)  # not matched -> inserted

    # time travel still sees the pre-merge state
    prev = t.metadata.snapshots[-2].snapshot_id
    old = {r["id"]: r["name"] for r in
           t.scan(snapshot_id=prev).to_df(spark).collect()}
    assert old[15] == "v15" and 102 not in old

    # a second merge hitting previously-merged rows
    src2 = spark.createDataFrame([(15, "FINAL", 0.0)],
                                 "id long, name string, amount double")
    t = t.merge(spark, src2, ["id"])
    got2 = {r["id"]: r["name"] for r in t.to_df(spark).collect()}
    assert got2[15] == "FINAL" and len(got2) == 105


def test_cow_rewrites_apply_pending_mor_deletes(spark, warehouse):
    """Regression: COW delete / compact / zorder rewrites must not resurrect
    rows whose merge-on-read deletes are still outstanding."""
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 10).alias("g"))
    schema = schema_from_spark(df.schema)

    # COW delete after a MOR positional delete on the same files
    t = Table.create(warehouse, "db.res1", schema).append(spark, df)
    t = t.delete_where(spark, E.col("g") == 0, mode="mor")
    t = t.delete_where(spark, E.col("g") == 1, mode="cow")
    assert t.to_df(spark).count() == 80
    assert t.to_df(spark).where("g in (0, 1)").count() == 0

    # compact after a DV delete
    t2 = Table.create(warehouse, "db.res2", schema)
    for m in range(3):
        t2 = t2.append(spark, df.where(F.col("id") % 3 == m))
    t2 = t2.delete_where(spark, E.col("g") == 5, mode="dv")
    t2 = t2.compact(spark)
    assert t2.to_df(spark).count() == 90
    assert t2.to_df(spark).where("g = 5").count() == 0

    # z-order rewrite after an equality delete
    t3 = Table.create(warehouse, "db.res3", schema).append(spark, df)
    t3 = t3.delete_by_equality(
        spark, spark.createDataFrame([(7,)], "g long"), ["g"])
    t3 = t3.rewrite_zorder(spark, ["id", "g"], n_files=4)
    assert t3.to_df(spark).count() == 90
    assert t3.to_df(spark).where("g = 7").count() == 0


def test_delete_df_cache_shares_and_persists(spark):
    """_DeleteDFCache: one build per key; second group hit persists the
    shared plan (CachingDeleteFileLoader parity, load each set once/scan)."""
    from iceberg_rust_spark.sources.scan import _DeleteDFCache
    cache = _DeleteDFCache()
    builds = []

    def build():
        builds.append(1)
        # distinct plan per build: Spark's cache manager matches by plan,
        # so identical plans would alias each other's storage level
        return spark.range(3 + len(builds))

    a = cache.get(("pos", ("f1",), ()), build)
    b = cache.get(("pos", ("f1",), ()), build)
    c = cache.get(("pos", ("f2",), ()), build)
    assert a is b and len(builds) == 2
    assert b.storageLevel.useMemory      # persisted on first reuse
    assert not c.storageLevel.useMemory  # single-use stays unpersisted


def test_dv_decode_executor_path(spark, warehouse, monkeypatch):
    """The size-gated executor-side DV decode (mapInPandas over blob
    descriptors) must produce the same read results as the driver-LRU fast
    path — forced by zeroing the gate."""
    from iceberg_rust_spark.sources import scan as scan_mod

    df = spark.range(0, 500).select(F.col("id"), (F.col("id") % 5).alias("g"))
    t = Table.create(warehouse, "db.dvexec", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("g") == 1, mode="dv")

    expected = sorted(r["id"] for r in df.where(F.col("g") != 1).collect())
    got_fast = sorted(r["id"] for r in t.to_df(spark).collect())
    assert got_fast == expected

    monkeypatch.setattr(scan_mod, "_DV_DRIVER_DECODE_BYTES", 0)
    got_exec = sorted(r["id"] for r in t.to_df(spark).collect())
    assert got_exec == expected
    # and the CDC path rides the same helper
    from iceberg_rust_spark.streaming.changes import changes_df
    deletes = changes_df(spark, t).where(F.col("_change_type") == "delete")
    assert sorted(r["id"] for r in deletes.collect()) == \
        sorted(r["id"] for r in df.where(F.col("g") == 1).collect())


def test_dv_positions_lru_reused_across_scans(spark, warehouse):
    """The cross-scan DV decode LRU must serve repeat queries without
    re-decoding (the r2 bench regression root cause)."""
    from iceberg_rust_spark.sources import scan as scan_mod

    df = spark.range(0, 200).select(F.col("id"), (F.col("id") % 4).alias("g"))
    t = Table.create(warehouse, "db.dvlru", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("g") == 3, mode="dv")

    scan_mod._manifest_cache.cache_clear()
    misses0 = scan_mod._manifest_cache.stats("dv")["misses"]
    assert t.to_df(spark).count() == 150
    info1 = scan_mod._manifest_cache.stats("dv")
    assert info1["misses"] > misses0
    assert t.to_df(spark).count() == 150   # second scan: all hits
    info2 = scan_mod._manifest_cache.stats("dv")
    assert info2["misses"] == info1["misses"]
    assert info2["hits"] > info1["hits"]


def test_dv_positions_restamped_through_file_io(spark):
    """DV blobs key on their FileIO stamp: a blob rewritten in place at a
    registered-scheme path (same offset and length, new mtime) must serve
    its new positions, not the cached old ones."""
    from iceberg_rust_spark.sources import io as iomod
    from iceberg_rust_spark.sources.manifest import (CONTENT_POSITION_DELETES,
                                                     DataFile)
    from iceberg_rust_spark.sources.puffin import serialize_dv
    from iceberg_rust_spark.sources.scan import dv_pairs_df

    store = {}

    class StampIO(iomod.FileIO):
        spark_native = False

        def read_bytes(self, path, offset=None, length=None):
            return store[path][0][offset:offset + length]

        def mtime_ns(self, path):
            return store[path][1]

    path, ref = "dvstamp://b/dv.puffin", "dvstamp://b/data.parquet"
    iomod.register_file_io("dvstamp", lambda p: StampIO())
    try:
        def positions(blob, mtime):
            store[path] = (blob, mtime)
            dv = DataFile(file_path=path, file_format="puffin",
                          content=CONTENT_POSITION_DELETES,
                          referenced_data_file=ref, content_offset=0,
                          content_size_in_bytes=len(blob))
            return sorted(r["_del_pos"]
                          for r in dv_pairs_df(spark, [dv]).collect())

        old, new = serialize_dv([1, 2]), serialize_dv([3, 4])
        assert len(old) == len(new)
        assert positions(old, 100) == [1, 2]
        assert positions(new, 200) == [3, 4]
    finally:
        iomod.unregister_file_io("dvstamp")


def test_deleted_metadata_column(spark, users_table):
    """scan(include_deleted=True) keeps MOR-deleted rows flagged by the
    reserved `_deleted` boolean (metadata_columns.rs:39,75) instead of
    dropping them: pos deletes, eq deletes (null-keep -> flag stays
    false), and double-deleted positions flag once (no join fan-out)."""
    t = users_table.delete_where(spark, E.col("id").isin([2, 4]), mode="mor")
    keys = spark.createDataFrame([("bob",)], "user string")
    t = t.delete_by_equality(spark, keys, ["user"])
    # double-delete id=2 again via a second pos-delete file
    t = t.delete_where(spark, E.col("id") == 2, mode="mor")

    got = t.scan(include_deleted=True).to_df(spark)
    assert got.schema["_deleted"].dataType.typeName() == "boolean"
    rows = {r["id"]: r["_deleted"] for r in got.collect()}
    # every original row is present exactly once
    assert sorted(rows) == [1, 2, 3, 4, 5, 6]
    # 2,4 pos-deleted; 2,5 eq-deleted ('bob'); NULL-user row 3 kept live
    assert {i for i, d in rows.items() if d} == {2, 4, 5}
    # live subset == the default (filtering) scan
    live = sorted(r["id"] for r in got.where("NOT _deleted").collect())
    assert live == ids(spark, t)


def test_deleted_column_with_dv_deletes(spark, warehouse):
    """_deleted flags rows hit by Puffin deletion vectors too."""
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 5).alias("g"))
    t = Table.create(warehouse, "db.dvflag", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("g") == 1, mode="dv")
    got = t.scan(include_deleted=True).to_df(spark)
    assert got.count() == 100
    flagged = sorted(r["id"] for r in got.where("_deleted").collect())
    assert flagged == [i for i in range(100) if i % 5 == 1]


def test_pos_delete_path_bounds_prune_untouched_files(spark, warehouse):
    """A parquet positional delete indexes with its file_path footer
    bounds (and referenced_data_file when it covers ONE target), so scan
    planning must not attach it to data files outside the range — at
    100 TB that keeps untouched partitions from carrying the delete
    anti-join. Regression: path-position deletes were global."""
    import pyspark.sql.functions as F

    from iceberg_rust_spark import Table, expr as E
    from iceberg_rust_spark.sources.manifest import CONTENT_POSITION_DELETES
    from iceberg_rust_spark.sources.types import schema_from_spark
    df = spark.range(0, 100).select(F.col("id").alias("k"),
                                    (F.col("id") % 4).alias("v"))
    t = Table.create(warehouse, "db.pb", schema_from_spark(df.schema))
    t = t.append(spark, df.where(F.col("k") < 50).coalesce(1))
    t = t.append(spark, df.where(F.col("k") >= 50).coalesce(1))
    # delete rows living ONLY in the first file
    t = t.delete_where(spark, E.col("k") < 10, mode="mor")

    plan = t.scan().plan_files()
    by_file = {}
    for task in plan.tasks:
        lo = min(r["k"] for r in
                 spark.read.parquet(task.data_file.file_path)
                 .select("k").collect())
        by_file[lo < 50] = task
    touched, untouched = by_file[True], by_file[False]
    assert touched.pos_deletes, "delete must attach to its target file"
    assert not untouched.pos_deletes, \
        "path-bounds pruning must skip the untouched file"
    d = touched.pos_deletes[0]
    assert d.content == CONTENT_POSITION_DELETES
    # single-target delete also gets exact referenced_data_file scoping
    assert d.referenced_data_file is not None
    # writer-stamped file_path bounds live on the MANIFEST entry (task
    # attachments are lite — stats consumed during routing, not carried)
    from iceberg_rust_spark.sources.scan import (load_manifest,
                                                 load_manifest_list)
    snap = t.metadata.current_snapshot()
    del_entries = [e for m in load_manifest_list(snap.manifest_list)
                   if m.content
                   for e in load_manifest(m.manifest_path)]
    md_file = next(e.data_file for e in del_entries
                   if e.data_file.file_path == d.file_path)
    assert md_file.lower_bounds.get("file_path") \
        and md_file.upper_bounds.get("file_path")
    # correctness unchanged
    assert t.to_df(spark).count() == 90
    assert t.to_df(spark).where(F.col("k") < 10).count() == 0


def test_uri_special_char_paths_mor_and_lineage(spark, warehouse):
    """Partition values with URI-special characters (space, %, +) put those
    characters into file PATHS. Spark's _metadata.file_path reports the URI
    spelling (%20 etc.) while manifests store raw paths; the _file decode
    must reconcile them or MOR deletes spuriously ValidationConflict and
    row-lineage/sequence maps silently miss."""
    from iceberg_rust_spark.functions.transforms import parse_transform
    from iceberg_rust_spark.sources.metadata import (PartitionField,
                                                     PartitionSpec)
    rows = [(1, "NOT SPECIFIED", 1.0), (2, "A+B", 2.0), (3, "100%", 3.0),
            (4, "café 日本語", 4.0), (5, "plain", 5.0)]
    df = spark.createDataFrame(rows, "id long, cat string, val double")
    schema = schema_from_spark(df.schema)
    fid = schema.field_by_name("cat").field_id
    spec = PartitionSpec(0, [PartitionField(fid, 1000, "cat",
                                            parse_transform("identity"))])
    t = Table.create(warehouse, "db.specialchars", schema,
                     partition_spec=spec)
    t = t.append(spark, df)
    # MOR delete across the spaced/encoded/multibyte partitions: must not
    # raise and must actually remove the rows at read time (delete-index
    # bounds and the anti-join key on the same raw spelling; UTF-8 bytes
    # arrive %-encoded per byte and must decode back to the same string)
    t = t.delete_where(spark, E.col("id").isin([1, 2, 4]), mode="mor")
    assert ids(spark, t) == [3, 5]
    # a second MOR delete exercises validate_files_exist against manifests
    t = t.delete_where(spark, E.col("id") == 3, mode="mor")
    assert ids(spark, t) == [5]


def test_delete_index_normalizes_uri_spelled_path_bounds():
    """A foreign writer's URI-spelled file_path bounds ("file:/...") must
    still attach the delete to its normalized-path target: unnormalized
    bounds sort lexically below every "/..." path, so the range check would
    silently skip a delete that applies — row resurrection at read."""
    from iceberg_rust_spark.sources.manifest import (
        CONTENT_DATA, CONTENT_POSITION_DELETES, DataFile, ManifestEntry)
    from tests.delete_attach import attach, index_of

    data = DataFile(file_path="/tmp/wh/db/t/data/a.parquet",
                    content=CONTENT_DATA, record_count=10,
                    file_size_in_bytes=100)
    de = DataFile(file_path="/tmp/wh/db/t/data/del.parquet",
                  content=CONTENT_POSITION_DELETES, record_count=1,
                  file_size_in_bytes=10,
                  lower_bounds={"file_path": "file:/tmp/wh/db/t/data/a.parquet"},
                  upper_bounds={"file_path": "file:/tmp/wh/db/t/data/a.parquet"})
    idx = index_of(ManifestEntry(status=1, snapshot_id=1,
                                 sequence_number=2, file_sequence_number=2,
                                 data_file=de))
    [task] = attach(idx, ManifestEntry(status=1, snapshot_id=1,
                                       sequence_number=1,
                                       file_sequence_number=1,
                                       data_file=data))
    assert task.pos_deletes == [de], \
        "URI-spelled bounds must normalize to the target's spelling"
    # and genuinely out-of-range bounds still prune
    far = DataFile(file_path="/tmp/wh/db/t/data/zzz.parquet",
                   content=CONTENT_DATA, record_count=10,
                   file_size_in_bytes=100)
    [task2] = attach(idx, ManifestEntry(status=1, snapshot_id=1,
                                        sequence_number=1,
                                        file_sequence_number=1,
                                        data_file=far))
    assert task2.pos_deletes == []
