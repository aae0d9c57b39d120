"""FileIO abstraction (sources/io.py, counterpart of io/file_io.rs:63):
memory backend proves the metadata path never touches bare os.*; the
file:// warehouse proves URI paths flow end-to-end through write/scan/
delete; unit tests cover the CAS + listing semantics of both backends."""

import uuid

import pyspark.sql.functions as F
import pytest

from iceberg_rust_spark import FileSystemCatalog, Table, expr as E
from iceberg_rust_spark.sources.io import (LocalFileIO, MemoryFileIO,
                                           file_io_for, posix_join,
                                           strip_scheme)
from iceberg_rust_spark.sources.types import schema_from_spark


# ------------------------------------------------------------- unit: backends
def test_scheme_dispatch(tmp_path):
    assert isinstance(file_io_for(str(tmp_path)), LocalFileIO)
    assert isinstance(file_io_for(f"file://{tmp_path}"), LocalFileIO)
    assert isinstance(file_io_for("memory://bkt/x"), MemoryFileIO)
    with pytest.raises(ValueError):
        file_io_for("nosuchscheme://x/y")


def test_posix_join_and_strip():
    assert posix_join("file:///a", "b", "c") == "file:///a/b/c"
    assert posix_join("memory://w", "db/t") == "memory://w/db/t"
    assert strip_scheme("file:///x/y") == "/x/y"
    assert strip_scheme("/x/y") == "/x/y"


@pytest.mark.parametrize("base", ["local", "file", "memory"])
def test_backend_semantics(base, tmp_path):
    if base == "memory":
        root = f"memory://t{uuid.uuid4().hex[:8]}"
    elif base == "file":
        root = f"file://{tmp_path}"
    else:
        root = str(tmp_path)
    fio = file_io_for(root)
    p = posix_join(root, "a", "f.bin")
    fio.write_bytes(p, b"hello world")
    assert fio.is_file(p) and fio.size(p) == 11
    assert fio.read_bytes(p) == b"hello world"
    assert fio.read_bytes(p, 6, 5) == b"world"  # range read
    assert fio.mtime_ns(p) > 0
    # CAS: second exclusive create must fail
    with pytest.raises(FileExistsError):
        fio.create_exclusive(p, b"x")
    fio.create_exclusive(posix_join(root, "a", "g.bin"), b"x")
    # listing
    assert fio.list_dir(posix_join(root, "a")) == ["f.bin", "g.bin"]
    assert [x.rsplit("/", 1)[-1]
            for x in fio.list_files(posix_join(root, "a"))] == ["f.bin", "g.bin"]
    assert fio.is_dir(posix_join(root, "a"))
    # rename + delete
    fio.rename(posix_join(root, "a", "g.bin"), posix_join(root, "a", "h.bin"))
    assert fio.is_file(posix_join(root, "a", "h.bin"))
    fio.delete(posix_join(root, "a", "h.bin"))
    assert not fio.is_file(posix_join(root, "a", "h.bin"))
    fio.delete_prefix(posix_join(root, "a"))
    assert not fio.is_dir(posix_join(root, "a"))


# ----------------------------------------------- memory-backend metadata path
def test_memory_catalog_metadata_lifecycle(spark):
    """Catalog CRUD + commits run entirely on MemoryFileIO — no posix FS.
    (Data appends need Spark-writable storage, so this exercises exactly the
    metadata path the FileIO abstraction exists for.)"""
    wh = f"memory://wh{uuid.uuid4().hex[:8]}"
    cat = FileSystemCatalog(wh)
    df = spark.range(3).select(F.col("id").alias("k"))
    schema = schema_from_spark(df.schema)
    t = Table.create(cat, "db.t", schema)
    assert cat.table_exists("db.t")
    assert cat.list_tables("db") == ["t"]
    # property commit bumps the version via the CAS path
    t = t.update_properties({"owner": "tests"})
    t2 = Table.load(cat, "db.t")
    assert t2.metadata.properties["owner"] == "tests"
    assert t2.version == 2
    # stale-version commit loses the CAS race
    from iceberg_rust_spark.sources.catalog import CommitConflict
    with pytest.raises(CommitConflict):
        cat.commit_table("db.t", 1, t2.metadata)
    cat.rename_table("db.t", "db.t2")
    assert cat.table_exists("db.t2") and not cat.table_exists("db.t")
    cat.drop_table("db.t2")
    assert not cat.table_exists("db.t2")


# ------------------------------------------------- file:// URI end-to-end
def test_file_uri_warehouse_end_to_end(spark, tmp_path):
    wh = f"file://{tmp_path}/wh_uri"
    cat = FileSystemCatalog(wh)
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    t = Table.create(cat, "db.t", schema_from_spark(df.schema))
    assert t.location.startswith("file://")
    t = t.append(spark, df)
    assert t.to_df(spark).count() == 1000
    # filtered scan with metrics pruning through the URI path
    got = t.scan(row_filter=E.col("k") < 100).to_df(spark)
    assert got.count() == 100
    # MOR delete (pos-delete write + anti-join read) through the URI path
    t = t.delete_where(spark, E.col("v") == 0, mode="mor")
    assert t.to_df(spark).count() == 800
    # snapshot expiry + orphan GC path math with URIs
    t = t.expire_snapshots(older_than_ms=None, retain_last=1)
    removed = t.remove_orphan_files(older_than_ms=2**62, dry_run=True)
    assert isinstance(removed, list)


def test_load_catalog_registry(tmp_path, spark):
    """r5: catalog loader parity (crates/catalog/loader): type string +
    reference property keys resolve to live catalogs; cloud-only types
    raise a named gap, unknown types list the registry."""
    import pytest

    from iceberg_rust_spark import Table, load_catalog, supported_types
    from iceberg_rust_spark.sources.types import schema_from_spark

    assert {"rest", "sql", "fs", "memory", "glue", "hms",
            "s3tables"} <= set(supported_types())

    sql_cat = load_catalog("sql", uri=f"sqlite://{tmp_path}/c.db",
                           warehouse=str(tmp_path / "wh"))
    df = spark.createDataFrame([(1,)], "id long")
    t = Table.create(sql_cat, "db.l", schema_from_spark(df.schema))
    t.append(spark, df)
    assert Table.load(sql_cat, "db.l").to_df(spark).count() == 1

    fs_cat = load_catalog("fs", warehouse=str(tmp_path / "wh2"))
    Table.create(fs_cat, "db.f", schema_from_spark(df.schema))
    assert fs_cat.table_exists("db.f")

    mem = load_catalog("memory", warehouse=str(tmp_path / "whm"))
    assert not mem.table_exists("db.x")

    with pytest.raises(ValueError, match="glue catalog requires"):
        load_catalog("glue", warehouse="x")
    with pytest.raises(ValueError, match="unknown catalog type"):
        load_catalog("nope")
    with pytest.raises(ValueError, match="uri"):
        load_catalog("rest")


def test_gzip_metadata_sniffed_by_magic_any_naming(spark, tmp_path):
    """Gzip metadata detection is content-based (1f8b magic), so a
    Java-convention `v1-uuid.gz.metadata.json` (no `.gz` FILENAME suffix,
    reference metadata_location.rs:93) registers and loads fine."""
    import gzip

    from iceberg_rust_spark import FileSystemCatalog, Table
    from iceberg_rust_spark.sources.types import schema_from_spark

    src = FileSystemCatalog(str(tmp_path / "src"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    t = Table.create(src, "db.t", schema_from_spark(df.schema))
    t = t.append(spark, df)

    # re-encode the current metadata under the Java gzip naming convention
    java_style = str(tmp_path / "v1-0000-fake-uuid.gz.metadata.json")
    with open(java_style, "wb") as fh:
        fh.write(gzip.compress(t.metadata.to_json().encode(), mtime=0))

    dst = FileSystemCatalog(str(tmp_path / "dst"))
    dst.register_table("db.imported", java_style)
    got = Table.load(dst, "db.imported").to_df(spark)
    assert sorted(r["id"] for r in got.collect()) == [1, 2]


def test_mirror_cache_lru_eviction(tmp_path, monkeypatch):
    """The localize mirror is capped: past SPARK_GRAFT_IO_CACHE_CAP the
    least-recently-used objects LEFT FROM PRIOR SESSIONS are evicted.
    Anything localized THIS session is pinned — Spark scans are lazy, so a
    plan built over an earlier localize batch may execute after a later
    one, and evicting its inputs would fail the action. In-flight .tmp<pid>
    staging files of a concurrent localize are never victims either."""
    from iceberg_rust_spark.sources import io as iomod
    store = {}

    class TinyIO(iomod.FileIO):
        spark_native = False

        def read_bytes(self, path, offset=None, length=None):
            return store[path]

        def size(self, path):
            return len(store[path])

    monkeypatch.setattr(iomod, "IO_CACHE_ROOT", str(tmp_path / "mirror"))
    monkeypatch.setattr(iomod, "IO_CACHE_CAP_BYTES", 3000)
    monkeypatch.setattr(iomod, "_SESSION_MIRROR_PATHS", set())
    iomod.register_file_io("tiny", lambda p: TinyIO())
    try:
        import os as _os
        import time as _time
        paths = []
        for i in range(6):
            p = f"tiny://bkt/obj{i}"
            store[p] = bytes(1000)
            paths.append(p)
        # "previous session" leftovers: mirror files NOT handed out via
        # localize_paths in this session (written directly)
        stale = []
        for p in paths[:2]:
            lp = iomod.mirror_local_path(p)
            _os.makedirs(_os.path.dirname(lp), exist_ok=True)
            with open(lp, "wb") as fh:
                fh.write(store[p])
            stale.append(lp)
        # a concurrent localize's in-flight staging file
        inflight = stale[0] + ".tmp99999"
        with open(inflight, "wb") as fh:
            fh.write(bytes(10))
        _time.sleep(0.02)
        # obj0 gets re-localized (cache hit -> pinned + recency refresh);
        # obj1 stays a stale leftover — the only eligible victim
        pinned_old = iomod.localize_paths([paths[0]])
        _time.sleep(0.02)
        pinned_new = iomod.localize_paths(paths[2:])    # +4000 -> over cap
        assert all(_os.path.isfile(p) for p in pinned_new), \
            "the just-localized batch must survive eviction"
        assert all(_os.path.isfile(p) for p in pinned_old), \
            "session-pinned files must survive even when older"
        assert not _os.path.isfile(stale[1]), \
            "prior-session LRU leftover must evict"
        assert _os.path.isfile(inflight), \
            "in-flight .tmp staging files are never victims"
        # lazily-planned scans over EVERYTHING handed out this session
        # still have their inputs: localize again, all cache hits
        again = iomod.localize_paths(paths[0:1] + paths[2:])
        assert all(_os.path.isfile(p) for p in again)
    finally:
        iomod.unregister_file_io("tiny")


def test_max_split_bytes_parser(spark):
    """spark.sql.files.maxPartitionBytes spellings → bytes."""
    from iceberg_rust_spark.sources.executor_io import _max_split_bytes
    orig = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        for raw, want in (("128m", 128 << 20), ("128mb", 128 << 20),
                          ("134217728b", 134217728), ("1g", 1 << 30),
                          ("64k", 64 << 10), ("4194304", 4194304)):
            spark.conf.set("spark.sql.files.maxPartitionBytes", raw)
            assert _max_split_bytes(spark) == want, raw
    finally:
        if orig is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", orig)


def test_pos_delete_relation_cache_survives_mirror_eviction(
        spark, tmp_path, monkeypatch):
    """ADVICE r9 regression: _pos_parquet_pairs_df memoizes a DataFrame
    over localize_paths() outputs. If the LRU mirror evicts the localized
    delete file between scans, a cache HIT must re-localize (re-download)
    before returning the memoized relation — otherwise the next action
    fails with FileNotFound on the vanished local copy."""
    import io as _bio
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_rust_spark.sources import io as iomod
    from iceberg_rust_spark.sources import scan as scanmod

    buf = _bio.BytesIO()
    pq.write_table(pa.table({"file_path": ["f1", "f1", "f2"],
                             "pos": pa.array([0, 3, 1], type=pa.int64())}),
                   buf)
    store = {"tiny://bkt/deletes/d0.parquet": buf.getvalue()}

    class TinyIO(iomod.FileIO):
        spark_native = False

        def read_bytes(self, path, offset=None, length=None):
            return store[path]

        def size(self, path):
            return len(store[path])

        def mtime_ns(self, path):
            return 7

    monkeypatch.setattr(iomod, "IO_CACHE_ROOT", str(tmp_path / "mirror"))
    monkeypatch.setattr(iomod, "_SESSION_MIRROR_PATHS", set())
    from iceberg_rust_spark.session import session_memo
    session_memo(spark, "pos_delete_pairs").clear()
    iomod.register_file_io("tiny", lambda p: TinyIO())
    try:
        paths = list(store)
        df1 = scanmod._pos_parquet_pairs_df(spark, paths)
        assert df1.count() == 3
        # simulate LRU eviction of the localized copy
        lp = iomod.mirror_local_path(paths[0])
        _os.remove(lp)
        df2 = scanmod._pos_parquet_pairs_df(spark, paths)   # cache hit
        assert _os.path.isfile(lp), "hit must re-localize evicted inputs"
        assert df2.count() == 3
    finally:
        iomod.unregister_file_io("tiny")


def test_pending_lazy_scan_survives_mirror_eviction(
        spark, tmp_path, monkeypatch):
    """ADVICE r8 #2 end-to-end: a DataFrame planned over an EARLIER
    localize batch must still execute after a LATER batch crosses the
    mirror cap — session-handed-out paths are never eviction victims, so
    the pending (lazy) scan's inputs survive and the action succeeds."""
    import io as _bio
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_rust_spark.sources import io as iomod

    def pq_bytes(lo, n):
        buf = _bio.BytesIO()
        pq.write_table(pa.table({"k": pa.array(range(lo, lo + n),
                                               type=pa.int64())}), buf)
        return buf.getvalue()

    store = {f"tiny://bkt/batch1/f{i}.parquet": pq_bytes(i * 10, 10)
             for i in range(2)}
    store.update({f"tiny://bkt/batch2/g{i}.parquet": pq_bytes(0, 500)
                  for i in range(4)})

    class TinyIO(iomod.FileIO):
        spark_native = False

        def read_bytes(self, path, offset=None, length=None):
            return store[path]

        def size(self, path):
            return len(store[path])

        def mtime_ns(self, path):
            return 7

    monkeypatch.setattr(iomod, "IO_CACHE_ROOT", str(tmp_path / "mirror"))
    # cap below batch2's bytes so its localize MUST try to evict
    monkeypatch.setattr(iomod, "IO_CACHE_CAP_BYTES", 2000)
    monkeypatch.setattr(iomod, "_SESSION_MIRROR_PATHS", set())
    iomod.register_file_io("tiny", lambda p: TinyIO())
    try:
        b1 = iomod.localize_paths(
            sorted(p for p in store if "/batch1/" in p))
        pending = spark.read.parquet(*b1)       # planned, NOT executed
        b2 = iomod.localize_paths(
            sorted(p for p in store if "/batch2/" in p))
        assert all(_os.path.isfile(p) for p in b1 + b2)
        # the pending scan now executes — inputs must still exist
        assert pending.count() == 20
        assert sorted(r["k"] for r in pending.collect()) == \
            list(range(20))
    finally:
        iomod.unregister_file_io("tiny")
