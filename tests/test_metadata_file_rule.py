"""The metadata-file contract every catalog shares (sources/catalog.py:
new_metadata_location / metadata_bytes / read_metadata): the pointer names
a file in the table's codec, the loaded metadata records that file, the
metadata-log lists exactly the previous files (capped), each of which
exists — before and after a rename."""

import gzip
import os
import uuid

import pytest

from iceberg_rust_spark import FileSystemCatalog, SqlCatalog, Table
from iceberg_rust_spark.sources.catalog import ptr_version
from iceberg_rust_spark.sources.io import file_io_for, posix_join
from iceberg_rust_spark.sources.rest import (MemoryCatalog, RestCatalog,
                                             RestCatalogServer)
from iceberg_rust_spark.sources.types import LONG, NestedField, Schema

KINDS = ["fs", "sql", "memory", "rest", "glue", "hms", "s3tables"]
GZIP = {"write.metadata.compression-codec": "gzip"}
SCHEMA = Schema([NestedField(1, "id", LONG)])


@pytest.fixture
def make_catalog(tmp_path):
    """kind -> (catalog, pointer(identifier) -> current metadata file)."""
    servers, closers = [], []

    def make(kind):
        wh = str(tmp_path / f"wh_{kind}_{uuid.uuid4().hex[:6]}")
        if kind == "fs":
            cat = FileSystemCatalog(wh)

            def pointer(ident):
                md_dir = cat._metadata_dir(ident)
                v = cat.io.read_text(posix_join(md_dir, "version-hint.text"))
                plain = posix_join(md_dir, f"v{v.strip()}.metadata.json")
                return plain if cat.io.is_file(plain) else plain + ".gz"
            return cat, pointer
        if kind == "sql":
            cat = SqlCatalog(str(tmp_path / f"{kind}.db"), wh)
            return cat, cat._pointer
        if kind in ("memory", "rest"):
            backing = MemoryCatalog(wh)
            cat = (backing if kind == "memory"
                   else RestCatalog(transport=RestCatalogServer(backing)))
            return cat, lambda ident: backing._tables[ident][1]
        if kind == "glue":
            from iceberg_rust_spark.sources.glue import GlueCatalog
            from tests.fake_aws import ACCESS, SECRET, FakeGlue
            server = FakeGlue()
            servers.append(server)
            cat = GlueCatalog(server.start(), wh, region="us-west-2",
                              access_key=ACCESS, secret_key=SECRET)
            return cat, lambda ident: (
                cat._get_table(ident)["Parameters"]["metadata_location"])
        if kind == "hms":
            from iceberg_rust_spark.sources.hms import HmsCatalog, _map_get
            from tests.fake_hms import FakeHms
            server = FakeHms()
            servers.append(server)
            cat = HmsCatalog(server.start(), wh)
            closers.append(cat)
            return cat, lambda ident: (
                _map_get(cat._get_table(ident), 9)["metadata_location"])
        from iceberg_rust_spark.sources.s3tables import S3TablesCatalog
        from tests.fake_aws import ACCESS, SECRET, FakeS3Tables
        server = FakeS3Tables(wh)
        servers.append(server)
        cat = S3TablesCatalog(
            server.start(),
            "arn:aws:s3tables:us-east-1:111122223333:bucket/test-bucket",
            access_key=ACCESS, secret_key=SECRET)
        return cat, lambda ident: cat._get_table(ident)["metadataLocation"]

    yield make
    for c in closers:
        c.close()
    for s in servers:
        s.stop()


def _exists(path):
    return file_io_for(path).is_file(path)


def _log_files(md):
    return [e["metadata-file"] for e in md.metadata_log]


@pytest.mark.parametrize("kind", KINDS)
def test_metadata_file_contract(make_catalog, kind):
    cat, pointer = make_catalog(kind)
    cat.create_namespace("db")
    t = Table.create(cat, "db.a", SCHEMA, properties={
        **GZIP, "write.metadata.previous-versions-max": "2"})
    ptrs = [pointer("db.a")]
    for i in range(3):
        t = t.update_properties({"k": str(i)})
        ptrs.append(pointer("db.a"))
    assert len(set(ptrs)) == 4
    for p in ptrs:
        raw = file_io_for(p).read_bytes(p)
        assert raw[:2] == b"\x1f\x8b", p
        assert b'"format-version"' in gzip.decompress(raw)
    loaded = Table.load(cat, "db.a")
    assert _log_files(loaded.metadata) == ptrs[1:3]
    assert all(_exists(p) for p in _log_files(loaded.metadata))

    # a commit after a rename logs a file that exists
    cat.rename_table("db.a", "db.b")
    before = pointer("db.b")
    renamed = Table.load(cat, "db.b").update_properties({"k": "after"})
    log = _log_files(Table.load(cat, "db.b").metadata)
    assert log[-1] == before and _exists(before)
    assert all(_exists(p) for p in log)

    # the metadata records the file it came from; its name carries the version
    for tbl in (t, loaded, renamed, Table.load(cat, "db.b")):
        assert ptr_version(tbl.metadata.metadata_file_location) == tbl.version
    assert loaded.metadata.metadata_file_location == ptrs[-1]
    assert Table.load(cat, "db.b").metadata.metadata_file_location \
        == pointer("db.b")


@pytest.mark.parametrize("kind,props", [("fs", {}), ("fs", GZIP),
                                        ("sql", {})],
                         ids=["fs", "fs-gzip", "sql"])
def test_metadata_log_entries_current_row(spark, make_catalog, kind, props):
    cat, pointer = make_catalog(kind)
    cat.create_namespace("db")
    t = Table.create(cat, "db.a", SCHEMA, properties=props)
    t = t.update_properties({"k": "1"}).update_properties({"k": "2"})
    for tbl in (t, Table.load(cat, "db.a")):
        files = [r["file"] for r in
                 tbl.metadata_log_entries_df(spark).collect()]
        assert len(files) == 3
        assert all(_exists(f) for f in files)
        assert files[-1] == pointer("db.a")


def test_fs_rename_gzip_table_keeps_one_file_per_version(tmp_path):
    cat = FileSystemCatalog(str(tmp_path / "wh"))
    t = Table.create(cat, "db.a", SCHEMA, properties=GZIP)
    t.update_properties({"k": "1"})
    cat.rename_table("db.a", "db.b")
    dst_md = cat._metadata_dir("db.b")
    names = sorted(f for f in os.listdir(dst_md) if ".metadata.json" in f)
    assert names == ["v1.metadata.json.gz", "v2.metadata.json.gz"]
    current = os.path.join(dst_md, names[-1])
    raw = open(current, "rb").read()
    assert raw[:2] == b"\x1f\x8b"
    assert b'"format-version"' in gzip.decompress(raw)
    md = Table.load(cat, "db.b").metadata
    assert md.metadata_file_location == current
    assert _log_files(md) == [os.path.join(dst_md, names[0])]
