"""Avro codec + spec-manifest interop (sources/avro.py, avro_manifest.py):
decode the reference's golden manifest-list files, byte-roundtrip our own
writer, verify spec single-value serialization, and prove end-to-end that a
table exported in spec Avro layout scans back identically via StaticTable."""

import datetime as dt
import json
import os
from decimal import Decimal

import pyspark.sql.functions as F
import pytest

from iceberg_rust_spark import Table, expr as E
from iceberg_rust_spark.sources.avro import (decode_value, encode_value,
                                             read_container, write_container)
from iceberg_rust_spark.sources.avro_manifest import (
    MANIFEST_LIST_SCHEMA, decode_single_value, encode_single_value,
    manifest_entry_schema, read_avro_manifest, read_avro_manifest_list)
from iceberg_rust_spark.sources.types import PrimitiveType, schema_from_spark

GOLDEN = "/root/reference/crates/iceberg/testdata"

needs_golden = pytest.mark.skipif(
    not os.path.isdir(GOLDEN), reason="reference testdata not present")


# --------------------------------------------------------------- golden files
@needs_golden
@pytest.mark.parametrize("name,n", [("manifest-list-v2-1.avro", 1),
                                    ("manifest-list-v2-2.avro", 1)])
def test_decode_reference_golden_manifest_lists(name, n):
    data = open(f"{GOLDEN}/manifests_lists/{name}", "rb").read()
    schema, records, meta = read_container(data)
    assert len(records) == n
    r = records[0]
    assert r["manifest_path"].endswith(".avro")
    assert r["manifest_length"] > 0
    assert r["content"] in (0, 1)
    assert r["added_snapshot_id"] > 0
    # our writer must re-encode the golden records losslessly
    out = write_container(schema, records)
    _s2, r2, _m = read_container(out)
    assert r2 == records


@needs_golden
def test_read_avro_manifest_list_maps_golden_fields():
    mfs = read_avro_manifest_list(
        f"{GOLDEN}/manifests_lists/manifest-list-v2-1.avro")
    assert len(mfs) == 1
    m = mfs[0]
    assert m.sequence_number == 1 and m.added_files_count == 1
    assert m.added_rows_count == 1 and m.content == 0


@needs_golden
def test_entry_schema_matches_reference_field_names():
    """Our v2 manifest_entry Avro schema must carry the reference's field
    names (golden avro_schema_manifest_entry.json is v1: a subset plus the
    v1-only block_size_in_bytes)."""
    golden = json.load(open(f"{GOLDEN}/avro_schema_manifest_entry.json"))
    golden_df = [f for f in golden["fields"] if f["name"] == "data_file"][0]
    golden_names = {f["name"] for f in golden_df["type"]["fields"]}

    class _F:  # minimal stand-ins for schema/spec
        pass

    from iceberg_rust_spark.sources.types import NestedField, Schema
    sch = Schema([NestedField(1, "x", PrimitiveType("long"), True)])
    ours = manifest_entry_schema(sch, [])
    our_df = [f for f in ours["fields"] if f["name"] == "data_file"][0]
    our_names = {f["name"] for f in our_df["type"]["fields"]}
    assert golden_names - {"block_size_in_bytes"} <= our_names


# ------------------------------------------------------------- codec details
def test_codec_value_roundtrips():
    import io
    cases = [
        ("long", -(2**62)), ("long", 2**62), ("int", -1), ("int", 0),
        ("string", "héllo"), ("bytes", b"\x00\xff"), ("boolean", True),
        ("double", 3.5), (["null", "long"], None), (["null", "long"], 7),
        ({"type": "array", "items": "long"}, [1, 2, 3]),
        ({"type": "map", "values": "string"}, {"a": "b"}),
        ({"type": "record", "name": "r",
          "fields": [{"name": "a", "type": "long"},
                     {"name": "b", "type": ["null", "string"]}]},
         {"a": 5, "b": None}),
    ]
    for schema, val in cases:
        buf = io.BytesIO()
        encode_value(schema, val, buf)
        buf.seek(0)
        assert decode_value(schema, buf) == val, schema


def test_single_value_serialization_roundtrips():
    cases = [
        (PrimitiveType("int"), -5),
        (PrimitiveType("long"), 2**40),
        (PrimitiveType("double"), 1.25),
        (PrimitiveType("string"), "abc"),
        (PrimitiveType("date"), dt.date(1969, 12, 30)),  # pre-epoch
        (PrimitiveType("timestamp"), dt.datetime(2001, 2, 3, 4, 5, 6, 789)),
        (PrimitiveType("decimal(9,2)"), Decimal("-1234.56")),
        (PrimitiveType("boolean"), True),
    ]
    for t, v in cases:
        assert decode_single_value(t, encode_single_value(t, v)) == v, t.name


# --------------------------------------------------- end-to-end export + scan
def test_export_avro_metadata_and_static_scan(spark, warehouse):
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
        F.concat(F.lit("s"), F.col("id")).alias("s"))
    t = Table.create(warehouse, "db.exp", schema_from_spark(df.schema))
    t = t.append(spark, df)
    paths = t.export_avro_metadata()
    # spec-layout manifests decode back to the same file inventory
    entries = read_avro_manifest(paths["manifests"][0])
    native = list(t.scan().plan_files().tasks)
    assert {e.data_file.file_path for e in entries} == \
        {x.data_file.file_path for x in native}
    e = entries[0]
    assert e.data_file.record_count > 0
    # stats maps were re-keyed by column NAME via the embedded schema
    assert "k" in e.data_file.value_counts
    assert e.data_file.lower_bounds["k"] == 0
    # a real-Iceberg-style static table over the avro metadata scans equal
    st = Table.from_metadata_path(paths["metadata"])
    got = st.scan(row_filter=E.col("k") < 100).to_df(spark)
    assert got.count() == 100
    assert st.to_df(spark).count() == 300


# ----------------------------------------------- native avro-manifest writes
def test_native_avro_manifest_table_property(spark, warehouse):
    """write.metadata.manifest-format=avro: the LIVE table's manifests and
    manifest lists are spec-layout Avro — readable with no export step
    (manifest_list/mod.rs:54 native-format parity), through appends, MOR
    deletes, and survivor-manifest rewrites."""
    from iceberg_rust_spark.sources.avro_manifest import read_avro_manifest_list

    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g"))
    t = Table.create(warehouse, "db.native_avro", schema_from_spark(df.schema),
                     properties={"write.metadata.manifest-format": "avro"})
    t = t.append(spark, df.where(F.col("k") < 120))
    t = t.append(spark, df.where(F.col("k") >= 120))

    snap = t.metadata.current_snapshot()
    assert snap.manifest_list.endswith(".avro")
    mfs = read_avro_manifest_list(snap.manifest_list)
    assert mfs and all(m.manifest_path.endswith(".avro") for m in mfs)
    for m in mfs:
        assert read_avro_manifest(m.manifest_path)

    # full read path over avro metadata: filters, values
    assert t.to_df(spark).count() == 200
    assert t.scan(row_filter=E.col("k") < 50).to_df(spark).count() == 50

    # COW delete rewrites survivor manifests — still avro, still correct
    t = t.delete_where(spark, E.col("g") == 1, mode="cow")
    snap = t.metadata.current_snapshot()
    assert snap.manifest_list.endswith(".avro")
    assert t.to_df(spark).where(F.col("g") == 1).count() == 0
    assert t.to_df(spark).count() == 150
    # time travel across the avro snapshots
    first = t.metadata.snapshots[0].snapshot_id
    assert t.to_df(spark, snapshot_id=first).count() == 120
    # MOR delete: the delete-file manifest (content=1) is avro too
    t = t.delete_where(spark, E.col("g") == 2, mode="mor")
    assert t.metadata.current_snapshot().manifest_list.endswith(".avro")
    assert t.to_df(spark).count() == 100


def test_export_interop_partitioned_evolved_mor(spark, warehouse):
    """SURVEY §5(d) offline half, widened (r11): a PARTITIONED,
    schema-EVOLVED, MOR-DELETE-bearing v2 table exported via
    write_avro_manifest{,_list} + spec-layout metadata JSON must re-read
    through ONLY the interop readers (StaticTable -> .avro manifests,
    never our parquet manifests) with exact scan parity against the
    native path — the strongest cross-engine proof available without a
    live pyiceberg/duckdb-iceberg install (environment-blocked)."""
    from iceberg_rust_spark import PartitionField, PartitionSpec
    from iceberg_rust_spark.functions.transforms import parse_transform
    from iceberg_rust_spark.sources.scan import load_manifest_list

    df1 = spark.range(0, 240).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g"),
        F.concat(F.lit("s"), F.col("id")).alias("s"))
    schema = schema_from_spark(df1.schema)
    gid = next(f.field_id for f in schema.fields if f.name == "g")
    spec = PartitionSpec(0, [PartitionField(gid, 1000, "g",
                                            parse_transform("identity"))])
    t = Table.create(warehouse, "db.interop", schema, partition_spec=spec)
    t = t.append(spark, df1)

    # schema evolution: add a column + rename one, then append post-
    # evolution rows (old files lack `extra` and carry the old name)
    t = t.update_schema().add_column("extra", "double") \
         .rename_column("s", "label").commit()
    df2 = spark.range(240, 300).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g"),
        F.concat(F.lit("s"), F.col("id")).alias("label"),
        (F.col("id") * 0.5).alias("extra"))
    t = t.append(spark, df2)

    # MOR positional deletes on top (delete manifests must export too)
    t = t.delete_where(spark, (E.col("k") >= 100) & (E.col("k") < 130),
                       mode="mor")

    paths = t.export_avro_metadata()
    assert all(p.endswith(".avro") for p in paths["manifests"])

    st = Table.from_metadata_path(paths["metadata"])
    # the static table must plan through .avro manifests exclusively
    snap = st.metadata.current_snapshot()
    assert snap.manifest_list.endswith(".avro")
    assert all(m.manifest_path.endswith(".avro")
               for m in load_manifest_list(snap.manifest_list))

    native_rows = sorted(tuple(r) for r in t.to_df(spark).collect())
    interop_rows = sorted(tuple(r) for r in st.to_df(spark).collect())
    assert len(native_rows) == 270        # 300 - 30 MOR-deleted
    assert interop_rows == native_rows

    # deletes applied through the interop path, not just row counts
    ks = {r[0] for r in interop_rows}
    assert not any(100 <= k < 130 for k in ks)

    # partition pruning works off the exported FieldSummaries/partitions
    pruned = st.scan(row_filter=E.col("g") == 2)
    pplan = pruned.plan_files()
    assert pplan.skipped_manifests + pplan.skipped_by_partition > 0
    native_g2 = sorted(tuple(r) for r in
                       t.scan(row_filter=E.col("g") == 2)
                       .to_df(spark).collect())
    assert sorted(tuple(r) for r in
                  pruned.to_df(spark).collect()) == native_g2

    # evolution semantics through the bridge: old files surface NULL
    # extra + renamed column values
    old = [r for r in interop_rows if r[0] < 240]
    assert old and all(r[3] is None for r in old)
    new = [r for r in interop_rows if r[0] >= 240]
    assert new and all(r[3] == r[0] * 0.5 for r in new)


def test_pos_delete_stats_use_reserved_ids_despite_column_collision(tmp_path):
    """A table column literally named 'file_path' must not shadow the
    reserved positional-delete stat ids (2147483546/2147483545): a pos
    delete entry's file_path bounds export under the RESERVED ids and
    round-trip back as 'file_path' bounds, while a DATA entry's stats for
    the colliding column keep the table column's id."""
    from iceberg_rust_spark.sources.avro_manifest import (
        DELETE_FILE_PATH_ID, write_avro_manifest)
    from iceberg_rust_spark.sources.manifest import (
        CONTENT_POSITION_DELETES, DataFile, ManifestEntry)
    from iceberg_rust_spark.sources.metadata import PartitionSpec
    from iceberg_rust_spark.sources.types import (LONG, STRING, NestedField,
                                                  Schema)

    schema = Schema([NestedField(1, "k", LONG, True),
                     NestedField(2, "file_path", STRING, True)], 0)
    spec = PartitionSpec(0, [])
    data_e = ManifestEntry(
        status=1, snapshot_id=7, sequence_number=3, file_sequence_number=3,
        data_file=DataFile(
            file_path="/w/d1.parquet", record_count=10,
            file_size_in_bytes=100,
            value_counts={"k": 10, "file_path": 10},
            lower_bounds={"k": 1, "file_path": "a.txt"},
            upper_bounds={"k": 9, "file_path": "z.txt"},
            schema_id=0, spec_id=0))
    del_e = ManifestEntry(
        status=1, snapshot_id=7, sequence_number=4, file_sequence_number=4,
        data_file=DataFile(
            file_path="/w/pd1.parquet", content=CONTENT_POSITION_DELETES,
            record_count=2, file_size_in_bytes=64,
            lower_bounds={"file_path": "/w/d1.parquet"},
            upper_bounds={"file_path": "/w/d1.parquet"},
            schema_id=0, spec_id=0))
    p = str(tmp_path / "m.avro")
    write_avro_manifest(p, [data_e, del_e], schema, spec)

    # raw container: the delete entry's bound key is the RESERVED id,
    # the data entry's is the table column id (2)
    _schema, raw, _meta = read_container(open(p, "rb").read())
    by_path = {r["data_file"]["file_path"]: r["data_file"] for r in raw}
    del_keys = {kv["key"] for kv in by_path["/w/pd1.parquet"]["lower_bounds"]}
    data_keys = {kv["key"] for kv in by_path["/w/d1.parquet"]["lower_bounds"]}
    assert DELETE_FILE_PATH_ID in del_keys and 2 not in del_keys
    assert 2 in data_keys and DELETE_FILE_PATH_ID not in data_keys

    # readback maps both to the name 'file_path' in their own contexts
    back = {e.data_file.file_path: e.data_file for e in read_avro_manifest(p)}
    assert back["/w/pd1.parquet"].lower_bounds["file_path"] == "/w/d1.parquet"
    assert back["/w/d1.parquet"].lower_bounds["file_path"] == "a.txt"
    assert back["/w/d1.parquet"].lower_bounds["k"] == 1


@needs_golden
def test_v1_export_matches_golden_schema_and_roundtrips(spark, warehouse,
                                                        tmp_path):
    """format_version=1 export: the v1 manifest-list layout must match the
    reference's v1 golden schema field-for-field
    (crates/iceberg/testdata/avro_schema_manifest_file_v1.json), and a v1
    manifest + list written by us must re-read through ONLY the interop
    readers to the same file inventory a native scan plans."""
    import os

    from iceberg_rust_spark.sources.avro_manifest import (
        MANIFEST_LIST_SCHEMA_V1, manifest_entry_schema, write_avro_manifest,
        write_avro_manifest_list)
    from iceberg_rust_spark.sources.manifest import ManifestFile
    from iceberg_rust_spark.sources.scan import (load_manifest,
                                                 load_manifest_list)

    golden = json.load(open(GOLDEN + "/avro_schema_manifest_file_v1.json"))
    want = [(f["name"], f.get("field-id")) for f in golden["fields"]]
    got = [(f["name"], f.get("field-id"))
           for f in MANIFEST_LIST_SCHEMA_V1["fields"]]
    assert got == want

    # v1 entry schema: no v2-only fields, required block_size_in_bytes
    df = spark.range(0, 120).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g"))
    t = Table.create(warehouse, "db.v1exp", schema_from_spark(df.schema))
    t = t.append(spark, df)
    snap = t.metadata.current_snapshot()
    schema = t.metadata.schema()
    spec = t.metadata.spec()
    es = manifest_entry_schema(schema, spec.fields, format_version=1)
    names = {f["name"] for f in es["fields"]}
    assert names == {"status", "snapshot_id", "data_file"}
    df_names = [f["name"] for f in next(
        f for f in es["fields"] if f["name"] == "data_file")["type"]["fields"]]
    assert "block_size_in_bytes" in df_names
    for v2only in ("content", "equality_ids", "referenced_data_file",
                   "content_offset", "content_size_in_bytes"):
        assert v2only not in df_names

    # export the snapshot's manifests in v1 layout + a v1 manifest list
    base = str(tmp_path / "v1meta")
    os.makedirs(base)
    out_mfs = []
    for i, mf in enumerate(load_manifest_list(snap.manifest_list)):
        entries = list(load_manifest(mf.manifest_path))
        mpath = os.path.join(base, f"m{i}.avro")
        length = write_avro_manifest(mpath, entries, schema, spec,
                                     format_version=1)
        import dataclasses as dc
        out_mfs.append(dc.replace(mf, manifest_path=mpath,
                                  manifest_length=length))
    ml = os.path.join(base, "snap.avro")
    write_avro_manifest_list(ml, out_mfs, spec_fields=spec.fields,
                             schema=schema, format_version=1)

    # re-read through ONLY the interop readers
    back_mfs = read_avro_manifest_list(ml)
    assert len(back_mfs) == len(out_mfs)
    assert all(m.content == 0 and m.sequence_number == 0 for m in back_mfs)
    native = {x.data_file.file_path for x in t.scan().plan_files().tasks}
    got_files = set()
    for m in back_mfs:
        for e in read_avro_manifest(m.manifest_path):
            got_files.add(e.data_file.file_path)
            assert e.data_file.record_count > 0
            assert e.data_file.value_counts.get("k") == \
                e.data_file.record_count
    assert got_files == native

    # a delete entry must be REFUSED in v1
    from iceberg_rust_spark.sources.manifest import (
        CONTENT_POSITION_DELETES, DataFile, ManifestEntry)
    bad = ManifestEntry(1, 1, 1, 1, DataFile(
        file_path="/d.parquet", content=CONTENT_POSITION_DELETES,
        record_count=1, file_size_in_bytes=1, schema_id=0, spec_id=0))
    with pytest.raises(ValueError, match="format_version=1"):
        write_avro_manifest(str(tmp_path / "bad.avro"), [bad], schema, spec,
                            format_version=1)


def test_export_avro_metadata_v1_static_scan(spark, warehouse):
    """export_avro_metadata(format_version=1): the v1-layout export of a
    delete-free table re-reads through StaticTable identically."""
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g"))
    t = Table.create(warehouse, "db.expv1", schema_from_spark(df.schema))
    t = t.append(spark, df)
    paths = t.export_avro_metadata(format_version=1)
    _s, raw, meta = read_container(
        open(paths["manifests"][0], "rb").read())
    assert meta["format-version"] == b"1"
    assert "block_size_in_bytes" in raw[0]["data_file"]
    assert "content" not in raw[0]["data_file"]
    # strict v1 readers require the singular schema/partition-spec keys
    md = json.load(open(paths["metadata"]))
    assert md["format-version"] == 1
    assert md["schema"]["schema-id"] == md["current-schema-id"]
    assert isinstance(md["partition-spec"], list)
    st_t = Table.from_metadata_path(paths["metadata"])
    assert st_t.to_df(spark).count() == 200
    assert st_t.scan(row_filter=E.col("k") < 50).to_df(spark).count() == 50

    # a MOR table refuses the v1 export (delete files are v2+)
    t2 = Table.create(warehouse, "db.expv1mor", schema_from_spark(df.schema))
    t2 = t2.append(spark, df)
    t2 = t2.delete_where(spark, E.col("g") == 1, mode="mor")
    with pytest.raises(ValueError, match="format_version=1"):
        t2.export_avro_metadata(format_version=1)


def test_export_old_snapshot_of_spec_evolved_table_uses_written_spec(
        spark, warehouse):
    """Exporting an OLD snapshot of a partition-spec-evolved table must
    advertise the spec its manifests were WRITTEN under — the v1 singular
    'partition-spec' and the manifest-list FieldSummary encoding both key
    off it, and stamping the table's CURRENT default there hands strict
    readers a spec that disagrees with every manifest (ADVICE r12)."""
    from iceberg_rust_spark.sources.metadata import (PartitionField,
                                                     PartitionSpec)
    from iceberg_rust_spark.functions.transforms import parse_transform

    df = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("b"),
        (F.col("id") % 3).cast("string").alias("cat"))
    schema = schema_from_spark(df.schema)
    spec_a = PartitionSpec(0, [PartitionField(
        schema.field_by_name("b").field_id, 1000, "b", parse_transform("identity"))])
    t = Table.create(warehouse, "db.oldspec", schema, spec_a)
    t = t.append(spark, df.where(F.col("k") < 30))
    old_snap = t.metadata.current_snapshot_id

    spec_b = PartitionSpec(1, [PartitionField(
        schema.field_by_name("cat").field_id, 1001, "cat",
        parse_transform("identity"))])
    t = t.commit_updates(updates=[
        {"action": "add-spec", "spec": spec_b},
        {"action": "set-default-spec", "spec-id": -1}])
    t = t.append(spark, df.where(F.col("k") >= 30))
    assert t.metadata.default_spec_id == 1

    paths = t.export_avro_metadata(snapshot_id=old_snap, format_version=1)
    md = json.load(open(paths["metadata"]))
    # singular spec = the OLD snapshot's manifests' spec, not 'cat'
    assert [f["name"] for f in md["partition-spec"]] == ["b"]
    assert md["default-spec-id"] == 0
    # manifest-list FieldSummaries encode under spec A's field order
    mfs = read_avro_manifest_list(paths["manifest_list"])
    assert all(m.partition_spec_id == 0 for m in mfs)
    # current-snapshot export of the same table advertises spec B
    cur = t.export_avro_metadata(format_version=2)
    mfs2 = read_avro_manifest_list(cur["manifest_list"])
    assert {m.partition_spec_id for m in mfs2} == {0, 1}


# ---------------------------------------------------------------- v1 fuzz
def _norm_enc(v):
    """Canonical form for compare: matches the export encodings, so the
    check holds whether the reader decodes values back to Python objects
    or leaves the wire integers."""
    from iceberg_rust_spark.sources.datum import days_from_date, micros_from_ts
    if isinstance(v, dt.datetime):
        return micros_from_ts(v)
    if isinstance(v, dt.date):
        return days_from_date(v)
    if isinstance(v, Decimal):
        # scale-insensitive (0.00 == 0), in plain notation: a decimal
        # partition value is exported as str(v), which writes 6250 where
        # str(v.normalize()) would write 6.25E+3
        return format(v.normalize(), "f")
    return v


def test_v1_manifest_roundtrip_fuzz(tmp_path):
    """Property fuzz (VERDICT r12 task 6): random schemas, partition specs
    and entries must round-trip through the v1 avro manifest + list
    layout via ONLY the interop readers — field-id layout, partition
    records, bounds and counts all intact, and no v2-only field ever
    present. Spark-free (pure metadata), so the example budget is cheap."""
    import hypothesis.strategies as st
    from hypothesis import HealthCheck, given, settings

    from iceberg_rust_spark.functions.transforms import parse_transform
    from iceberg_rust_spark.plans.evaluators import PartitionFieldInfo  # noqa: F401
    from iceberg_rust_spark.sources.avro_manifest import (
        write_avro_manifest, write_avro_manifest_list)
    from iceberg_rust_spark.sources.manifest import (DataFile, FieldSummaryRec,
                                                     ManifestEntry,
                                                     ManifestFile)
    from iceberg_rust_spark.sources.metadata import (PartitionField,
                                                     PartitionSpec)
    from iceberg_rust_spark.sources.types import (BOOLEAN, DATE, DOUBLE, INT,
                                                  LONG, STRING, TIMESTAMP,
                                                  NestedField, Schema, decimal)

    TYPES = [LONG, INT, STRING, DOUBLE, DATE, TIMESTAMP, BOOLEAN,
             decimal(9, 2)]

    def value_for(t, draw):
        if t in (LONG, INT):
            return draw(st.integers(-10**6, 10**6))
        if t is STRING:
            return draw(st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
                max_size=12))
        if t is DOUBLE:
            return draw(st.floats(allow_nan=False, allow_infinity=False,
                                  width=32))
        if t is DATE:
            return dt.date(1970, 1, 1) + dt.timedelta(
                days=draw(st.integers(-30000, 30000)))
        if t is TIMESTAMP:
            return dt.datetime(2000, 1, 1) + dt.timedelta(
                seconds=draw(st.integers(-10**9, 10**9)))
        if t is BOOLEAN:
            return draw(st.booleans())
        return Decimal(draw(st.integers(-10**7, 10**7))) / 100

    @st.composite
    def table_shape(draw):
        n = draw(st.integers(1, 5))
        types = [draw(st.sampled_from(TYPES)) for _ in range(n)]
        fields = [NestedField(i + 1, f"f{i + 1}", ty)
                  for i, ty in enumerate(types)]
        schema = Schema(fields)
        pfs = []
        for j in range(draw(st.integers(0, 2))):
            src = draw(st.sampled_from(fields))
            tname = None
            if src.field_type in (LONG, INT):
                tname = draw(st.sampled_from(
                    ["identity", "bucket[8]", "truncate[10]"]))
            elif src.field_type is STRING:
                tname = draw(st.sampled_from(["identity", "bucket[8]",
                                              "truncate[3]"]))
            elif src.field_type in (DATE, TIMESTAMP):
                tname = draw(st.sampled_from(["identity", "year", "month",
                                              "day"]))
            elif src.field_type is BOOLEAN:
                tname = "identity"
            else:
                tname = draw(st.sampled_from(["identity", "bucket[4]"]))
            name = f"p{j}_{src.name}"
            if any(p.name == name for p in pfs):
                continue
            pfs.append(PartitionField(src.field_id, 1000 + j, name,
                                      parse_transform(tname)))
        spec = PartitionSpec(0, pfs)
        n_entries = draw(st.integers(1, 3))
        entries = []
        for k in range(n_entries):
            part = {}
            for pf in pfs:
                src_t = schema.field_by_id(pf.source_id).field_type
                rt = pf.transform.result_type(src_t)
                if draw(st.booleans()):
                    part[pf.name] = None
                else:
                    part[pf.name] = value_for(rt, draw)
            stats_f = draw(st.sampled_from(fields))
            lo = value_for(stats_f.field_type, draw)
            hi = value_for(stats_f.field_type, draw)
            if not isinstance(lo, bool) and not isinstance(lo, str) and hi < lo:
                lo, hi = hi, lo
            elif isinstance(lo, str) and hi < lo:
                lo, hi = hi, lo
            entries.append(ManifestEntry(
                status=1, snapshot_id=draw(st.one_of(
                    st.none(), st.integers(1, 2**40))),
                sequence_number=0, file_sequence_number=0,
                data_file=DataFile(
                    file_path=f"/w/f{k}.parquet", partition=part,
                    record_count=draw(st.integers(1, 10**6)),
                    file_size_in_bytes=draw(st.integers(1, 10**9)),
                    value_counts={stats_f.name: draw(st.integers(0, 10**6))},
                    null_value_counts={stats_f.name: 0},
                    lower_bounds={stats_f.name: lo},
                    upper_bounds={stats_f.name: hi},
                    schema_id=0, spec_id=0)))
        return schema, spec, entries

    counter = [0]

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(shape=table_shape())
    def run(shape):
        schema, spec, entries = shape
        counter[0] += 1
        mpath = str(tmp_path / f"fz{counter[0]}.avro")
        write_avro_manifest(mpath, entries, schema, spec, format_version=1)

        # raw layer: no v2-only fields, ids layout intact
        _s, raw, meta = read_container(open(mpath, "rb").read())
        assert meta["format-version"] == b"1"
        es = manifest_entry_schema(schema, spec.fields, format_version=1)
        dfields = next(f for f in es["fields"]
                       if f["name"] == "data_file")["type"]["fields"]
        names = {f["name"] for f in dfields}
        assert not names & {"content", "equality_ids", "referenced_data_file",
                            "content_offset", "content_size_in_bytes"}
        prec = next(f for f in dfields if f["name"] == "partition")["type"]
        assert [f.get("field-id") for f in prec["fields"]] == \
            [pf.field_id for pf in spec.fields]

        # object layer roundtrip
        back = read_avro_manifest(mpath)
        assert len(back) == len(entries)
        for e, b in zip(entries, back):
            assert b.snapshot_id == (e.snapshot_id or 0)
            assert b.data_file.file_path == e.data_file.file_path
            assert b.data_file.record_count == e.data_file.record_count
            assert {k: _norm_enc(v)
                    for k, v in b.data_file.partition.items()} == \
                {k: _norm_enc(v) for k, v in e.data_file.partition.items()}
            assert b.data_file.value_counts == e.data_file.value_counts
            for side in ("lower_bounds", "upper_bounds"):
                got = {k: _norm_enc(v)
                       for k, v in getattr(b.data_file, side).items()}
                want = {k: _norm_enc(v)
                        for k, v in getattr(e.data_file, side).items()}
                for k in want:
                    gv, wv = got[k], want[k]
                    if isinstance(wv, float):
                        assert gv == pytest.approx(wv, rel=1e-6)
                    else:
                        assert gv == wv

        # list layer: v1 manifest list with identity-field summaries
        summaries = {}
        for pf in spec.fields:
            if repr(pf.transform) == "identity":
                vals = [e.data_file.partition.get(pf.name) for e in entries]
                nn = [v for v in vals if v is not None
                      and not isinstance(v, bool)]
                if nn:
                    summaries[pf.name] = FieldSummaryRec(
                        contains_null=any(v is None for v in vals),
                        lower=min(nn), upper=max(nn))
        mf = ManifestFile(
            manifest_path=mpath, manifest_length=123, partition_spec_id=0,
            content=0, sequence_number=0, min_sequence_number=0,
            added_snapshot_id=7, added_files_count=len(entries),
            partitions=summaries)
        lpath = str(tmp_path / f"fzl{counter[0]}.avro")
        write_avro_manifest_list(lpath, [mf], spec_fields=spec.fields,
                                 schema=schema, format_version=1)
        lb = read_avro_manifest_list(lpath, specs_by_id={0: spec},
                                     schema=schema)
        assert len(lb) == 1 and lb[0].manifest_path == mpath
        assert lb[0].content == 0 and lb[0].added_snapshot_id == 7
        for name, fs in summaries.items():
            got_fs = lb[0].partitions.get(name)
            assert got_fs is not None
            assert got_fs.contains_null == fs.contains_null
            if isinstance(fs.lower, float):
                assert got_fs.lower == pytest.approx(fs.lower, rel=1e-6)
                assert got_fs.upper == pytest.approx(fs.upper, rel=1e-6)
            else:
                assert _norm_enc(got_fs.lower) == _norm_enc(fs.lower)
                assert _norm_enc(got_fs.upper) == _norm_enc(fs.upper)

    run()
