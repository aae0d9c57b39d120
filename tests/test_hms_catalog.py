"""HmsCatalog over real Thrift binary RPC against an in-process metastore.

The same catalog behavior matrix as FileSystemCatalog/SqlCatalog
(test_sql_catalog.py), plus the HMS-specific pieces: buffered AND framed
transports, Hive type-string schema conversion (reference
crates/catalog/hms/src/schema.rs:100-127), EXTERNAL_TABLE parameters
(utils.rs:158-208), and the EXCLUSIVE-lock commit protocol."""

import threading

import pytest
from pyspark.sql import functions as F

from iceberg_rust_spark import Table
from iceberg_rust_spark.sources.catalog import (CommitConflict, NoSuchTable,
                                                TableAlreadyExists)
from iceberg_rust_spark.sources.hms import HmsCatalog, hive_type
from iceberg_rust_spark.sources.types import (INT, LONG, STRING, TIMESTAMP,
                                              ListType, MapType, NestedField,
                                              Schema, StructType, decimal,
                                              schema_from_spark)
from tests.fake_hms import FakeHms


@pytest.fixture(params=["buffered", "framed"])
def hms_catalog(request, tmp_path):
    server = FakeHms(framed=(request.param == "framed"))
    uri = server.start()
    cat = HmsCatalog(uri, str(tmp_path / "wh"),
                     framed=(request.param == "framed"))
    cat.create_namespace("db")
    yield cat
    cat.close()
    server.stop()


def test_hive_type_strings():
    """Primitive + nested mapping mirrors the reference schema builder."""
    assert hive_type(LONG) == "bigint"
    assert hive_type(decimal(10, 2)) == "decimal(10,2)"
    s = StructType((NestedField(2, "a", INT, True),
                    NestedField(3, "b", STRING, False)))
    assert hive_type(s) == "struct<a:int, b:string>"
    assert hive_type(ListType(4, s)) == "array<struct<a:int, b:string>>"
    assert hive_type(ListType(4, LONG)) == "array<bigint>"
    assert hive_type(MapType(5, STRING, 6, TIMESTAMP)) == \
        "map<string,timestamp>"


def test_hms_catalog_matrix_crud_and_cas(spark, hms_catalog):
    cat = hms_catalog
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    t = Table.create(cat, "db.m1", schema_from_spark(df.schema))
    with pytest.raises(TableAlreadyExists):
        Table.create(cat, "db.m1", schema_from_spark(df.schema))
    t = t.append(spark, df)
    assert cat.table_exists("db.m1")
    assert cat.list_tables("db") == ["m1"]
    assert "db" in cat.list_namespaces()
    got = Table.load(cat, "db.m1").to_df(spark)
    assert {r["id"] for r in got.collect()} == {1, 2}

    # stale-base commit conflicts, Table's retry loop recovers
    stale = Table.load(cat, "db.m1")
    fresh = Table.load(cat, "db.m1")
    fresh.append(spark, df.select(F.col("id") + 10, F.col("s"))
                 .toDF("id", "s"))
    with pytest.raises(CommitConflict):
        cat.commit_table("db.m1", stale.version, stale.metadata)
    retried = stale.append(spark, df.select(F.col("id") + 20, F.col("s"))
                           .toDF("id", "s"))
    assert retried.to_df(spark).count() == 6

    cat.rename_table("db.m1", "db.m2")
    assert not cat.table_exists("db.m1")
    t2 = Table.load(cat, "db.m2")
    assert t2.to_df(spark).count() == 6
    t2.append(spark, df)
    assert Table.load(cat, "db.m2").to_df(spark).count() == 8

    cat.drop_table("db.m2")
    assert not cat.table_exists("db.m2")
    with pytest.raises(NoSuchTable):
        cat.load_table("db.m2")


def test_hms_external_table_parameters(spark, hms_catalog):
    """The registered Hive table carries the reference's parameter set:
    EXTERNAL=TRUE, table_type=ICEBERG, metadata_location (+ previous on
    commit), tableType EXTERNAL_TABLE, and Hive-typed columns."""
    cat = hms_catalog
    df = spark.createDataFrame([(1, "x", 1.5)], "id long, s string, v double")
    t = Table.create(cat, "db.params", schema_from_spark(df.schema))
    raw = cat._get_table("db.params")
    from iceberg_rust_spark.sources.hms import _map_get, _struct_get
    params = _map_get(raw, 9)
    assert params["EXTERNAL"] == "TRUE"
    assert params["table_type"] == "ICEBERG"
    assert params["metadata_location"].endswith(".metadata.json")
    assert _struct_get(raw, 12) == "EXTERNAL_TABLE"
    sd = _struct_get(raw, 7)
    cols = _struct_get(sd, 1)[1]
    assert [(_struct_get(c, 1), _struct_get(c, 2)) for c in cols] == \
        [("id", "bigint"), ("s", "string"), ("v", "double")]

    t.append(spark, df)
    params2 = _map_get(cat._get_table("db.params"), 9)
    assert params2["previous_metadata_location"] == \
        params["metadata_location"]
    assert params2["metadata_location"] != params["metadata_location"]


def test_hms_lock_serializes_committers(spark, hms_catalog):
    """8 threads appending from the same base: the metastore EXCLUSIVE
    lock + in-lock base check linearize them; every append lands."""
    cat = hms_catalog
    df = spark.createDataFrame([(0, "seed")], "id long, s string")
    Table.create(cat, "db.race", schema_from_spark(df.schema)) \
        .append(spark, df)
    errors = []

    def worker(i: int) -> None:
        try:
            t = Table.load(cat, "db.race")
            t.append(spark, spark.createDataFrame([(i + 1, f"w{i}")],
                                                  "id long, s string"))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    final = Table.load(cat, "db.race")
    assert final.to_df(spark).count() == 9
    assert len(final.metadata.snapshots) == 9


def test_hms_through_loader_and_sql_front_door(spark, tmp_path):
    """load_catalog('hms', uri=thrift://..) resolves a live catalog and
    the SQL front door (CTAS / INSERT / metadata table) runs over it."""
    from iceberg_rust_spark import load_catalog
    from iceberg_rust_spark.sources.sql import run_sql

    server = FakeHms()
    uri = server.start()
    try:
        cat = load_catalog("hms", uri=f"thrift://{uri}",
                           warehouse=str(tmp_path / "wh"))
        cat.create_namespace("db")
        df = spark.createDataFrame([(i, i % 3, float(i)) for i in range(30)],
                                   "id long, g long, v double")
        Table.create(cat, "db.fd", schema_from_spark(df.schema)) \
            .append(spark, df)
        run_sql(spark, cat, """
            CREATE TABLE db.fd_agg AS
            SELECT g, count(*) AS n, sum(v) AS sum_v FROM db.fd GROUP BY g""")
        run_sql(spark, cat, "INSERT INTO db.fd_agg SELECT g + 10 AS g, "
                            "count(*) AS n, sum(v) AS sum_v "
                            "FROM db.fd GROUP BY g")
        got = run_sql(spark, cat, "SELECT count(*) AS n FROM db.fd_agg") \
            .collect()[0]["n"]
        assert got == 6
        snaps = run_sql(spark, cat,
                        "SELECT * FROM db.fd_agg.snapshots").collect()
        assert len(snaps) == 2
        cat.close()
    finally:
        server.stop()


def test_hms_namespace_surface(hms_catalog):
    cat = hms_catalog
    cat.create_namespace("other", {"comment": "scratch", "k": "v"})
    assert "other" in cat.list_namespaces()
    props = cat.namespace_properties("other")
    assert props["comment"] == "scratch"
    assert props["k"] == "v"
    with pytest.raises(ValueError):
        cat.create_namespace("a.b")  # single-level only (catalog.rs:447)
    cat.drop_namespace("other")
    assert "other" not in cat.list_namespaces()
    assert not cat.namespace_exists("other")


def test_hms_register_table(spark, hms_catalog, tmp_path):
    """register_table (beyond the Rust reference, Java-HiveCatalog
    behavior): an externally-created table registers by metadata path and
    reads/commits through the metastore."""
    import glob

    from iceberg_rust_spark import FileSystemCatalog

    src = FileSystemCatalog(str(tmp_path / "src_wh"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    Table.create(src, "db.orig", schema_from_spark(df.schema)) \
        .append(spark, df)
    md_file = sorted(glob.glob(
        str(tmp_path / "src_wh/db/orig/metadata/v*.metadata.json")))[-1]
    cat = hms_catalog
    cat.register_table("db.ext", md_file)
    t = Table.load(cat, "db.ext")
    assert t.to_df(spark).count() == 2
    t.append(spark, df)
    assert Table.load(cat, "db.ext").to_df(spark).count() == 4


def test_thrift_client_reconnects_after_stale_socket(tmp_path):
    """A pooled connection that goes stale (idle reset / metastore
    restart) is re-established transparently: send-phase failures are
    safe to retry because the request can't have been applied."""
    server = FakeHms()
    uri = server.start()
    try:
        cat = HmsCatalog(uri, str(tmp_path / "wh"))
        cat.create_namespace("db")
        assert "db" in cat.list_namespaces()
        # simulate the metastore dropping the pooled connection
        cat._client._sock.close()
        assert "db" in cat.list_namespaces()  # reconnect + resend
        cat.close()
    finally:
        server.stop()
