"""SqlCatalog (sqlite3-backed, reference catalog/sql semantics): the
FileSystemCatalog behavior matrix must hold identically, plus the SQL-
specific pointer-CAS and namespace-properties surface."""

import threading
import uuid

import pytest
from pyspark.sql import functions as F

from iceberg_rust_spark import FileSystemCatalog, SqlCatalog, Table, expr as E
from iceberg_rust_spark.sources.catalog import (CommitConflict,
                                                NamespaceNotEmpty,
                                                NoSuchTable,
                                                TableAlreadyExists)
from iceberg_rust_spark.sources.metadata import TableMetadata
from iceberg_rust_spark.sources.types import schema_from_spark


@pytest.fixture(params=["fs", "sql"])
def any_catalog(request, tmp_path):
    wh = tmp_path / f"wh_{uuid.uuid4().hex[:6]}"
    if request.param == "fs":
        yield FileSystemCatalog(str(wh))
    else:
        yield SqlCatalog(str(tmp_path / "catalog.db"), str(wh))


def test_catalog_matrix_crud_and_cas(spark, any_catalog):
    """Same behavior matrix on both catalogs: create/load/list/exists,
    stale-version commit conflict, rename, drop."""
    cat = any_catalog
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    t = Table.create(cat, "db.m1", schema_from_spark(df.schema))
    with pytest.raises(TableAlreadyExists):
        Table.create(cat, "db.m1", schema_from_spark(df.schema))
    t = t.append(spark, df)
    assert cat.table_exists("db.m1")
    assert cat.list_tables("db") == ["m1"]
    got = Table.load(cat, "db.m1").to_df(spark)
    assert {r["id"] for r in got.collect()} == {1, 2}

    # CAS: a commit from a stale version conflicts...
    stale = Table.load(cat, "db.m1")
    fresh = Table.load(cat, "db.m1")
    fresh.append(spark, df.select(F.col("id") + 10, F.col("s"))
                 .toDF("id", "s"))
    with pytest.raises(CommitConflict):
        cat.commit_table("db.m1", stale.version, stale.metadata)
    # ...but Table's retry loop refreshes and lands it
    retried = stale.append(spark, df.select(F.col("id") + 20, F.col("s"))
                           .toDF("id", "s"))
    assert retried.to_df(spark).count() == 6

    # rename keeps data readable; old name gone
    cat.rename_table("db.m1", "db.m2")
    assert not cat.table_exists("db.m1")
    t2 = Table.load(cat, "db.m2")
    assert t2.to_df(spark).count() == 6
    # commits keep working after rename
    t2 = t2.append(spark, df)
    assert t2.to_df(spark).count() == 8

    cat.drop_table("db.m2")
    assert not cat.table_exists("db.m2")
    with pytest.raises(NoSuchTable):
        cat.drop_table("db.m2")


def test_catalog_matrix_dml(spark, any_catalog):
    """MOR delete + merge run identically against both catalogs."""
    cat = any_catalog
    df = spark.range(0, 20).select(F.col("id"), (F.col("id") % 4).alias("g"))
    t = Table.create(cat, "db.dml", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("g") == 1, mode="mor")
    assert t.to_df(spark).count() == 15
    src = spark.createDataFrame([(2, 99), (100, 0)], "id long, g long")
    t = t.merge(spark, src, ["id"])
    rows = {r["id"]: r["g"] for r in t.to_df(spark).collect()}
    assert rows[2] == 99 and rows[100] == 0 and len(rows) == 16


def test_sql_catalog_schema_matches_reference(tmp_path):
    """The sqlite layout is the reference's DDL column-for-column
    (catalog.rs:321-341)."""
    import sqlite3

    cat = SqlCatalog(str(tmp_path / "c.db"), str(tmp_path / "wh"))
    con = sqlite3.connect(cat.db_path)
    cols = [r[1] for r in con.execute("PRAGMA table_info(iceberg_tables)")]
    assert cols == ["catalog_name", "table_namespace", "table_name",
                    "metadata_location", "previous_metadata_location",
                    "iceberg_type"]
    cols = [r[1] for r in con.execute(
        "PRAGMA table_info(iceberg_namespace_properties)")]
    assert cols == ["catalog_name", "namespace", "property_key",
                    "property_value"]


def test_sql_catalog_namespaces_and_pointer_cas(spark, tmp_path):
    cat = SqlCatalog(str(tmp_path / "c.db"), str(tmp_path / "wh"))
    cat.create_namespace("db", {"owner": "me"})
    assert cat.namespace_properties("db")["owner"] == "me"
    assert "db" in cat.list_namespaces()
    with pytest.raises(NamespaceNotEmpty):
        # not empty once a table exists
        df = spark.createDataFrame([(1,)], "id long")
        Table.create(cat, "db.t", schema_from_spark(df.schema))
        cat.drop_namespace("db")
    # pointer moves with previous_metadata_location recorded
    t = Table.load(cat, "db.t")
    t.append(spark, spark.createDataFrame([(2,)], "id long"))
    import sqlite3
    con = sqlite3.connect(cat.db_path)
    ptr, prev = con.execute(
        "SELECT metadata_location, previous_metadata_location "
        "FROM iceberg_tables WHERE table_name = 't'").fetchone()
    # reference naming (metadata_location.rs): {version:05}-{uuid}.metadata.json
    import re
    uuid_re = r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
    assert re.search(rf"/00002-{uuid_re}\.metadata\.json$", ptr)
    assert re.search(rf"/00001-{uuid_re}\.metadata\.json$", prev)
    assert ptr != prev


def test_sql_catalog_duplicate_create_leaves_live_table_intact(spark,
                                                               tmp_path):
    """ADVICE r4 (high): a duplicate create_table must not touch the live
    table's metadata files — pointer check happens before any write, and
    every attempt writes a uniquely-named file anyway."""
    cat = SqlCatalog(str(tmp_path / "c.db"), str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "keep")], "id long, s string")
    Table.create(cat, "db.dup", schema_from_spark(df.schema)) \
        .append(spark, df)
    ptr_before = cat._pointer("db.dup")
    body_before = cat.io.read_text(ptr_before)
    with pytest.raises(TableAlreadyExists):
        Table.create(cat, "db.dup",
                     schema_from_spark(spark.range(1).schema))
    assert cat._pointer("db.dup") == ptr_before
    assert cat.io.read_text(ptr_before) == body_before
    assert Table.load(cat, "db.dup").to_df(spark).count() == 1


def test_sql_catalog_losing_committer_cannot_clobber_winner(spark, tmp_path):
    """Two commits from the same base version write DIFFERENT files; the
    CAS loser's file never becomes (or overwrites) the winner's pointer."""
    cat = SqlCatalog(str(tmp_path / "c.db"), str(tmp_path / "wh"))
    df = spark.createDataFrame([(0,)], "id long")
    t = Table.create(cat, "db.clob", schema_from_spark(df.schema))
    base_md, base_v = cat.load_table("db.clob")
    # winner commits v2
    v2 = cat.commit_table("db.clob", base_v, base_md)
    winner_ptr = cat._pointer("db.clob")
    winner_body = cat.io.read_text(winner_ptr)
    # loser, still at base_v, writes its own file then loses the CAS
    stale_md, _ = TableMetadata.from_json(base_md.to_json()), base_v
    with pytest.raises(CommitConflict):
        cat.commit_table("db.clob", base_v, stale_md)
    assert v2 == 2
    assert cat._pointer("db.clob") == winner_ptr
    assert cat.io.read_text(winner_ptr) == winner_body


def test_sql_catalog_through_sql_front_door(spark, tmp_path):
    """VERDICT r4 #6: the SQL front door (CTAS / INSERT / pruned SELECT /
    CALL add_files / metadata table) runs unchanged over SqlCatalog — the
    catalog is a drop-in behind run_sql, not just the Table API."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_rust_spark.sources.sql import run_sql

    cat = SqlCatalog(str(tmp_path / "c.db"), str(tmp_path / "wh"))
    df = spark.createDataFrame([(i, i % 3, float(i)) for i in range(60)],
                               "id long, g long, v double")
    Table.create(cat, "db.fd", schema_from_spark(df.schema)).append(spark, df)

    run_sql(spark, cat, """
        CREATE TABLE db.fd_agg AS
        SELECT g, count(*) AS n, sum(v) AS sum_v FROM db.fd GROUP BY g""")
    run_sql(spark, cat, """
        INSERT INTO db.fd_agg
        SELECT g + 100 AS g, count(*) AS n, sum(v) AS sum_v
        FROM db.fd GROUP BY g""")
    got = run_sql(spark, cat,
                  "SELECT count(*) AS n FROM db.fd_agg WHERE g >= 100") \
        .collect()[0]["n"]
    assert got == 3
    assert len(Table.load(cat, "db.fd_agg").metadata.snapshots) == 2

    # add_files import via CALL, then scan through the front door
    ext = tmp_path / "ext"
    ext.mkdir()
    pq.write_table(pa.table({"id": [1000, 1001], "g": [9, 9],
                             "v": [1.0, 2.0]}), str(ext / "part-0.parquet"))
    out = run_sql(spark, cat,
                  f"CALL system.add_files('db.fd', '{ext}/*.parquet')")
    assert out.collect()[0]["added_files_count"] == 1
    n = run_sql(spark, cat,
                "SELECT count(*) AS n FROM db.fd WHERE g = 9") \
        .collect()[0]["n"]
    assert n == 2
    snaps = run_sql(spark, cat,
                    "SELECT * FROM db.fd.snapshots").collect()
    assert len(snaps) == 2  # append + add_files


def test_sql_catalog_concurrent_commits_serialize(spark, tmp_path):
    """Two racing committers: sqlite's pointer-CAS lets exactly one UPDATE
    land per version; Table's retry loop makes both appends stick."""
    cat = SqlCatalog(str(tmp_path / "c.db"), str(tmp_path / "wh"))
    df = spark.createDataFrame([(0,)], "id long")
    Table.create(cat, "db.race", schema_from_spark(df.schema)) \
        .append(spark, df)
    errs = []

    def worker(k):
        try:
            t = Table.load(cat, "db.race")
            t.append(spark, spark.createDataFrame([(k,)], "id long"))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(k,)) for k in (1, 2, 3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    final = Table.load(cat, "db.race")
    assert final.to_df(spark).count() == 4
    assert final.version == 5  # create + 4 appends, each one CAS step


def test_register_table_and_create_external(spark, tmp_path):
    """Catalog::register_table + CREATE EXTERNAL TABLE ... STORED AS
    ICEBERG LOCATION (DataFusion table_provider_factory.rs parity): a
    table whose metadata lives in ANOTHER catalog's warehouse registers by
    metadata path — no data movement — and is immediately queryable +
    committable through the front door."""
    import glob

    from iceberg_rust_spark.sources.sql import run_sql

    # source-of-truth table in an FS warehouse
    src_cat = FileSystemCatalog(str(tmp_path / "src_wh"))
    df = spark.createDataFrame([(i, float(i)) for i in range(20)],
                               "id long, v double")
    Table.create(src_cat, "db.orig", schema_from_spark(df.schema)) \
        .append(spark, df)
    md_file = sorted(glob.glob(
        str(tmp_path / "src_wh/db/orig/metadata/v*.metadata.json")))[-1]

    # register into a SQL catalog via the SQL surface
    cat = SqlCatalog(str(tmp_path / "c.db"), str(tmp_path / "wh"))
    out = run_sql(spark, cat,
                  f"CREATE TABLE db.linked AS SELECT 1 AS x") and None
    res = run_sql(
        spark, cat,
        f"CREATE EXTERNAL TABLE db.ext STORED AS ICEBERG "
        f"LOCATION '{md_file}'").collect()[0]
    assert res["metadata_file"] == md_file
    n = run_sql(spark, cat,
                "SELECT count(*) AS n FROM db.ext WHERE v >= 10") \
        .collect()[0]["n"]
    assert n == 10

    # commits against the registered table write into the ORIGINAL
    # metadata dir and stay visible to the source catalog
    t = Table.load(cat, "db.ext")
    t.append(spark, df)
    assert Table.load(cat, "db.ext").to_df(spark).count() == 40
    assert Table.load(src_cat, "db.orig").refresh() is not None

    # duplicate registration refuses
    with pytest.raises(TableAlreadyExists):
        cat.register_table("db.ext", md_file)

    # CALL spelling works on the FS catalog too
    fs2 = FileSystemCatalog(str(tmp_path / "wh2"))
    out = run_sql(spark, fs2,
                  f"CALL system.register_table('db.reg', '{md_file}')")
    assert out.collect()[0]["table"] == "db.reg"
    assert Table.load(fs2, "db.reg").to_df(spark).count() >= 20


def test_gzip_metadata_codec(spark, tmp_path):
    """write.metadata.compression-codec=gzip (reference compression.rs /
    table_properties): data commits on BOTH catalogs read back through
    compressed metadata, and a plain-codec catalog can still register the
    compressed pointer. The on-disk codec, pointer and metadata-log of
    every catalog are checked by test_metadata_file_rule.py."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    props = {"write.metadata.compression-codec": "gzip"}

    fs = FileSystemCatalog(str(tmp_path / "wh_fs"))
    t = Table.create(fs, "db.gz", schema_from_spark(df.schema),
                     properties=props)
    t = t.append(spark, df)
    assert Table.load(fs, "db.gz").to_df(spark).count() == 2
    Table.load(fs, "db.gz").append(spark, df)
    assert Table.load(fs, "db.gz").to_df(spark).count() == 4

    sq = SqlCatalog(str(tmp_path / "c.db"), str(tmp_path / "wh_sql"))
    t2 = Table.create(sq, "db.gz", schema_from_spark(df.schema),
                      properties=props)
    t2.append(spark, df)
    ptr = sq._pointer("db.gz")
    assert Table.load(sq, "db.gz").to_df(spark).count() == 2

    # cross-catalog: register the compressed pointer elsewhere
    other = FileSystemCatalog(str(tmp_path / "wh_other"))
    other.register_table("db.linked", ptr)
    assert Table.load(other, "db.linked").to_df(spark).count() == 2
