"""Integration: create/append/scan, pruning exactness, overwrite, compaction,
expire, metadata tables (FIXTURES.md §3 oracle: pruned scan must select
exactly what full-scan + filter selects)."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from iceberg_rust_spark import (PartitionField, PartitionSpec, Table,
                                expr as E)
from iceberg_rust_spark.functions.transforms import parse_transform
from iceberg_rust_spark.sources.types import schema_from_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def make_table(warehouse, spark, df, name="db.t", part=None, props=None):
    schema = schema_from_spark(df.schema)
    spec = None
    if part:
        src, pname, tr = part
        fid = schema.field_by_name(src).field_id
        spec = PartitionSpec(0, [PartitionField(fid, 1000, pname,
                                                parse_transform(tr))])
    t = Table.create(warehouse, name, schema, spec, properties=props or {})
    t.append(spark, df)
    return t


def test_unpartitioned_roundtrip(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem)
    assert t.to_df(spark).count() == lineitem.count()
    got = t.to_df(spark).agg(F.sum("l_quantity")).collect()[0][0]
    exp = lineitem.agg(F.sum("l_quantity")).collect()[0][0]
    assert abs(got - exp) < 1e-6


@pytest.mark.parametrize("pred,col_pred", [
    (E.col("l_shipdate") <= dt.datetime(1998, 1, 1),
     "l_shipdate <= '1998-01-01'"),
    ((E.col("l_shipdate") >= dt.datetime(1997, 3, 1))
     & (E.col("l_shipdate") < dt.datetime(1997, 4, 1)),
     "l_shipdate >= '1997-03-01' AND l_shipdate < '1997-04-01'"),
    (E.col("l_quantity") > 45.0, "l_quantity > 45.0"),
])
def test_partition_pruning_exactness(spark, warehouse, lineitem, pred, col_pred):
    t = make_table(warehouse, spark, lineitem,
                   part=("l_shipdate", "ship_month", "month"))
    scan = t.scan(row_filter=pred)
    plan = scan.plan_files()
    got = {tuple(r) for r in scan.to_df(spark)
           .select("l_orderkey", "l_linenumber").collect()}
    exp = {tuple(r) for r in lineitem.filter(col_pred)
           .select("l_orderkey", "l_linenumber").collect()}
    assert got == exp
    assert plan.total_data_files > 0


def test_month_pruning_skips_files(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem,
                   part=("l_shipdate", "ship_month", "month"))
    pred = ((E.col("l_shipdate") >= dt.datetime(1997, 6, 1))
            & (E.col("l_shipdate") < dt.datetime(1997, 7, 1)))
    plan = t.scan(row_filter=pred).plan_files()
    # one month +/- boundary relaxation => at most 3 of ~80 monthly files
    assert len(plan.tasks) <= 3
    assert plan.skipped_by_partition > 50


def test_bucket_pruning_exactness(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem,
                   part=("l_orderkey", "ok_bucket", "bucket[8]"))
    scan = t.scan(row_filter=E.col("l_orderkey") == 33)
    plan = scan.plan_files()
    assert len(plan.tasks) <= plan.total_data_files // 2  # pruned most buckets
    got = scan.to_df(spark).count()
    exp = lineitem.filter(F.col("l_orderkey") == 33).count()
    assert got == exp


def test_metrics_pruning_without_partitioning(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem)
    # out-of-range predicate prunes all files via min/max metrics
    plan = t.scan(row_filter=E.col("l_quantity") > 1e9).plan_files()
    assert len(plan.tasks) == 0
    assert plan.skipped_by_metrics == plan.total_data_files


def test_select_columns(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem)
    df = t.scan(selected_columns=["l_orderkey", "l_quantity"]).to_df(spark)
    assert df.columns == ["l_orderkey", "l_quantity"]


def test_overwrite_all(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem)
    sub = lineitem.limit(10)
    t.overwrite_all(spark, sub)
    assert t.to_df(spark).count() == 10
    assert len(t.metadata.snapshots) == 2


def test_compaction_preserves_data(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem.limit(500))
    for i in range(3):
        t.append(spark, lineitem.limit(100))
    before = t.to_df(spark).count()
    files_before = len(t.scan().plan_files().tasks)
    t.compact(spark)
    assert t.to_df(spark).count() == before
    assert len(t.scan().plan_files().tasks) < files_before


def test_expire_snapshots(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem.limit(50))
    t.append(spark, lineitem.limit(50))
    t.append(spark, lineitem.limit(50))
    assert len(t.metadata.snapshots) == 3
    t.expire_snapshots(older_than_ms=t.metadata.last_updated_ms + 10_000,
                       retain_last=1)
    assert len(t.metadata.snapshots) == 1
    assert t.to_df(spark).count() == 150  # current state intact


def test_metadata_tables(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem.limit(100))
    t.append(spark, lineitem.limit(100))
    assert t.snapshots_df(spark).count() == 2
    assert t.history_df(spark).count() == 2
    assert t.manifests_df(spark).count() >= 2
    assert t.files_df(spark).count() >= 2


def test_time_travel_and_refs(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem.limit(100))
    snap1 = t.metadata.current_snapshot_id
    t.append(spark, lineitem.limit(50))
    assert t.scan(snapshot_id=snap1).to_df(spark).count() == 100
    assert t.to_df(spark).count() == 150
    t.set_ref("v1", snap1, "tag")
    t2 = Table.load(warehouse, "db.t")
    assert t2.metadata.refs["v1"].snapshot_id == snap1
    ts1 = t.metadata.snapshot_by_id(snap1).timestamp_ms
    assert t.scan(as_of_timestamp_ms=ts1).to_df(spark).count() == 100
    # ref-addressable read: tag resolves to its pinned snapshot
    t3 = t.refresh()
    assert t3.scan(ref="v1").to_df(spark).count() == 100
    assert t3.scan(ref="main").to_df(spark).count() == 150
    with pytest.raises(ValueError, match="no such ref"):
        t3.scan(ref="nope")


def test_required_column_enforced(spark, warehouse):
    from iceberg_rust_spark.sources.types import (LONG, STRING, NestedField,
                                                  Schema)
    s = Schema([NestedField(1, "id", LONG, required=True),
                NestedField(2, "name", STRING)])
    t = Table.create(warehouse, "db.req", s)
    df = spark.createDataFrame([("a",)], "name string")
    with pytest.raises(ValueError, match="required"):
        t.append(spark, df)


def test_branch_writes_isolate_then_fast_forward(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem.limit(100))
    t = t.append(spark, lineitem.limit(50), branch="audit")
    # main untouched; branch sees base + its own append (WAP isolation)
    assert t.to_df(spark).count() == 100
    assert t.scan(ref="audit").to_df(spark).count() == 150
    t = t.append(spark, lineitem.limit(25), branch="audit")
    assert t.scan(ref="audit").to_df(spark).count() == 175
    assert t.to_df(spark).count() == 100
    # branch head chains parents back to the shared base
    head = t.metadata.snapshot_by_id(t.metadata.refs["audit"].snapshot_id)
    mid = t.metadata.snapshot_by_id(head.parent_snapshot_id)
    assert mid.parent_snapshot_id == t.metadata.current_snapshot_id
    # publish: fast-forward main to the branch head
    t = t.set_ref("main", t.metadata.refs["audit"].snapshot_id)
    assert t.to_df(spark).count() == 175


def test_scan_to_arrow(spark, warehouse, lineitem):
    t = make_table(warehouse, spark, lineitem.limit(100))
    tbl = t.scan(row_filter=E.col("l_quantity") > 25.0,
                 selected_columns=["l_orderkey", "l_quantity"]).to_arrow(spark)
    import pyarrow as pa
    assert isinstance(tbl, pa.Table)
    assert tbl.column_names == ["l_orderkey", "l_quantity"]
    exp = lineitem.limit(100).where("l_quantity > 25.0").count()
    assert tbl.num_rows == exp
    assert all(v > 25.0 for v in tbl["l_quantity"].to_pylist())
    # empty scan still yields a typed (zero-row) table
    empty = t.scan(row_filter=E.col("l_quantity") > 1e9).to_arrow(spark)
    assert empty.num_rows == 0


def test_variant_column_roundtrip(spark, warehouse):
    """v3 variant type (reference: spec/datatypes.rs:94): declare a variant
    table column, write through the table, read back and extract typed paths
    with try_variant_get — the full declare/write/scan lifecycle, not just
    expression-level parse_json."""
    df = spark.range(20).select(
        F.col("id"),
        F.parse_json(F.concat(
            F.lit('{"k": '), F.col("id").cast("string"),
            F.lit(', "tag": "t'), (F.col("id") % 3).cast("string"),
            F.lit('"}'))).alias("payload"))
    assert dict(df.dtypes)["payload"] == "variant"
    t = make_table(warehouse, spark, df, name="db.variant_t")
    # schema declares variant (survives metadata JSON round-trip)
    f = t.metadata.schema().field_by_name("payload")
    assert str(f.field_type) == "variant"
    got = t.to_df(spark)
    assert dict(got.dtypes)["payload"] == "variant"
    out = (got.select("id",
                      F.try_variant_get("payload", "$.k", "long").alias("k"),
                      F.try_variant_get("payload", "$.tag", "string").alias("tag"))
           .where(F.col("k") != F.col("id")))
    assert out.count() == 0
    tags = (got.select(F.try_variant_get("payload", "$.tag", "string").alias("tag"))
            .groupBy("tag").count().collect())
    assert {r["tag"] for r in tags} == {"t0", "t1", "t2"}


def test_parquet_writer_properties_take_effect(spark, warehouse, lineitem):
    """write.parquet.* table properties reach the files on disk
    (table_properties.rs:420-438 counterparts): a small row-group size
    produces multiple row groups per file; bloom filter property produces
    bloom-filter offsets in the column metadata."""
    import pyarrow.parquet as pq
    t = make_table(warehouse, spark, lineitem.limit(20000), name="db.props_t",
                   props={"write.parquet.row-group-size-bytes": "65536",
                          "write.parquet.bloom-filter-enabled.column.l_orderkey": "true",
                          "write.max-records-per-file": "100000"})
    task = t.scan().plan_files().tasks[0]
    md = pq.ParquetFile(task.data_file.file_path).metadata
    assert md.num_row_groups > 1            # 64 KiB groups on ~20k rows
    # bloom filter: this pyarrow can't surface the offset, so compare against
    # an identical write without the property — the filter adds real bytes
    t2 = make_table(warehouse, spark, lineitem.limit(20000), name="db.props_n",
                    props={"write.parquet.row-group-size-bytes": "65536",
                           "write.max-records-per-file": "100000"})
    with_bloom = sum(tk.data_file.file_size_in_bytes
                     for tk in t.scan().plan_files().tasks)
    without = sum(tk.data_file.file_size_in_bytes
                  for tk in t2.scan().plan_files().tasks)
    assert with_bloom > without


def test_partition_summaries_in_snapshot(spark, warehouse, lineitem):
    """snapshot_summary.rs partition summaries: changed-partition-count is
    always present for partitioned adds; partitions.<path> details appear
    only within write.summary.partition-limit."""
    t = make_table(warehouse, spark, lineitem.limit(2000),
                   part=("l_shipdate", "ship_month", "month"),
                   props={"write.summary.partition-limit": "200"})
    summ = t.refresh().metadata.current_snapshot().summary
    n = int(summ["changed-partition-count"])
    assert n > 1
    details = {k: v for k, v in summ.items() if k.startswith("partitions.")}
    assert len(details) == n
    sample = next(iter(details.values()))
    assert "added-data-files=" in sample and "added-records=" in sample
    # limit 0 (default): count only, no detail spam
    t2 = make_table(warehouse, spark, lineitem.limit(2000), name="db.ps2",
                    part=("l_shipdate", "ship_month", "month"))
    summ2 = t2.refresh().metadata.current_snapshot().summary
    assert "changed-partition-count" in summ2
    assert not any(k.startswith("partitions.") for k in summ2)


def test_nan_counts_collected_and_pruned(spark, warehouse):
    """nan_value_counts parity (reference MinMaxColAggregator,
    parquet_writer.rs:432-487): the footer task counts per-file NaNs, and
    the metrics evaluator prunes is_nan scans down to files that actually
    contain NaNs."""
    nan = float("nan")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", nan), (3, "b", 2.0), (4, "b", 3.0)],
        "id long, g string, v double")
    schema = schema_from_spark(df.schema)
    spec = PartitionSpec(0, [PartitionField(
        schema.field_id_for_name("g"), 1000, "g",
        parse_transform("identity"))])
    t = Table.create(warehouse, "db.nan", schema, partition_spec=spec) \
        .append(spark, df)

    counts = {task.data_file.file_path.split("/")[-2]:
              task.data_file.nan_value_counts
              for task in t.scan().plan_files().tasks}
    assert counts == {"_p_g=a": {"v": 1}, "_p_g=b": {"v": 0}}

    plan = t.scan(row_filter=E.col("v").is_nan()).plan_files()
    assert len(plan.tasks) == 1 and plan.skipped_by_metrics == 1
    assert t.scan(row_filter=E.col("v").is_nan()).to_df(spark).count() == 1
    assert t.scan(row_filter=E.col("v").not_nan()).to_df(spark).count() == 3


def test_history_marks_rolled_back_snapshots(spark, warehouse):
    """history gains parent_id + is_current_ancestor (Spark shape):
    a rollback leaves the abandoned head in history flagged false."""
    df = spark.createDataFrame([(1,)], "id long")
    t = Table.create(warehouse, "db.hist", schema_from_spark(df.schema))
    t = t.append(spark, df)
    first = t.metadata.current_snapshot_id
    t = t.refresh().append(spark, df)
    second = t.metadata.current_snapshot_id
    t = t.rollback_to(first)
    hist = {(r["snapshot_id"]): (r["parent_id"], r["is_current_ancestor"])
            for r in t.history_df(spark).collect()}
    assert hist[first] == (None, True)
    assert hist[second] == (first, False)   # abandoned by the rollback


def test_metrics_modes(spark, warehouse):
    """write.metadata.metrics.* (public spec, default truncate(16)):
    string bounds truncate with a sound incremented upper; counts mode
    drops bounds; none drops everything; per-column override wins; and a
    filter past the truncated bound still returns exact rows."""
    long_a = "a" * 40 + "zzz"
    long_b = "b" * 40 + "qqq"
    df = spark.createDataFrame(
        [(1, long_a, "x"), (2, long_b, "y")],
        "id long, s string, t string")

    t = Table.create(warehouse, "db.mm", schema_from_spark(df.schema))
    t = t.append(spark, df.coalesce(1))
    f = t.scan().plan_files().tasks[0].data_file
    assert len(f.lower_bounds["s"]) == 16
    assert f.lower_bounds["s"] == "a" * 16
    assert f.upper_bounds["s"] == "b" * 15 + "c"   # incremented truncation
    assert f.upper_bounds["s"] >= long_b           # still an upper bound
    # exactness: predicate beyond the truncated prefix still exact
    assert t.scan(row_filter=E.col("s") == long_a).to_df(spark).count() == 1
    assert t.scan(row_filter=E.col("s") > "c").to_df(spark).count() == 0

    t2 = Table.create(
        warehouse, "db.mm2", schema_from_spark(df.schema),
        properties={"write.metadata.metrics.default": "counts",
                    "write.metadata.metrics.column.t": "none"})
    t2 = t2.append(spark, df.coalesce(1))
    f2 = t2.scan().plan_files().tasks[0].data_file
    assert "s" not in f2.lower_bounds and "s" not in f2.upper_bounds
    assert f2.value_counts.get("s") == 2        # counts kept
    assert "t" not in f2.value_counts           # none: no stats at all
    assert t2.scan(row_filter=E.col("s") == long_a) \
        .to_df(spark).count() == 1              # conservative, still exact


def test_truncate_upper_skips_surrogate_range():
    """Regression (r5 advice): incrementing a truncated upper bound whose
    last code point is U+D7FF must not produce a lone surrogate (U+D800 is
    not UTF-8-encodable); skip to U+E000 like Java's UnicodeUtil."""
    from iceberg_rust_spark.sources.write import _truncate_upper

    s = "ab" + "\ud7ff" + "tail"
    up = _truncate_upper(s, 3)
    assert up == "ab\ue000"
    assert up > s[:3] and up > s          # still a sound upper bound
    up.encode("utf-8")                    # encodable (would raise before)

    # normal path unchanged
    assert _truncate_upper("abcdef", 3) == "abd"
    assert _truncate_upper("ab", 3) == "ab"
    # a string of max code points cannot be incremented -> None
    assert _truncate_upper("\U0010ffff" * 4, 2) is None


def test_overwrite_dynamic_replaces_touched_partitions(spark, warehouse):
    """Dynamic partition overwrite (Spark-Iceberg INSERT OVERWRITE with
    partitionOverwriteMode=dynamic): one atomic snapshot replaces exactly
    the partitions the incoming rows touch; untouched partitions keep
    their files (metadata-only removal, no data read)."""
    from iceberg_rust_spark import PartitionField, PartitionSpec
    from iceberg_rust_spark.functions.transforms import parse_transform
    from iceberg_rust_spark.sources.sql import run_sql

    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(40)], "id long, g long, s string")
    schema = schema_from_spark(df.schema)
    spec = PartitionSpec(0, [PartitionField(
        schema.field_id_for_name("g"), 1000, "g",
        parse_transform("identity"))])
    t = Table.create(warehouse, "db.dynow", schema, partition_spec=spec)
    t = t.append(spark, df)
    before = {task.data_file.file_path: task.data_file.partition
              for task in t.scan().plan_files().tasks}

    new = spark.createDataFrame(
        [(100, 1, "new1"), (101, 2, "new2")], "id long, g long, s string")
    t = t.overwrite_dynamic(spark, new)

    got = t.to_df(spark)
    # untouched partitions g=0,3 intact; g=1,2 fully replaced
    assert got.where("g = 0").count() == 10
    assert got.where("g = 3").count() == 10
    assert {r["id"] for r in got.where("g = 1").collect()} == {100}
    assert {r["id"] for r in got.where("g = 2").collect()} == {101}
    assert t.metadata.current_snapshot().operation == "overwrite"
    assert t.metadata.current_snapshot().summary["replace-partitions"] == "2"
    # untouched partitions kept their ORIGINAL files (metadata-only)
    after = {task.data_file.file_path: task.data_file.partition
             for task in t.scan().plan_files().tasks}
    kept = {p for p, part in before.items() if part.get("g") in (0, 3)}
    assert kept <= set(after)

    # SQL front door honors the Spark conf
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        run_sql(spark, warehouse,
                "INSERT OVERWRITE db.dynow SELECT 200 AS id, "
                "CAST(3 AS LONG) AS g, 'sq' AS s")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    t = Table.load(warehouse, "db.dynow")
    assert {r["id"] for r in t.to_df(spark).where("g = 3").collect()} == {200}
    assert t.to_df(spark).where("g = 0").count() == 10

    # unpartitioned degrade: overwrite_all
    u = Table.create(warehouse, "db.dynow_u", schema)
    u = u.append(spark, df)
    u = u.overwrite_dynamic(spark, new)
    assert u.to_df(spark).count() == 2


def test_metadata_only_count(spark, warehouse):
    """COUNT(*) pushdown: partition-aligned and whole-table counts resolve
    from manifest record_count stats with ZERO data files read; filters the
    stats can't prove fall back to reading only the residual files; MOR
    deletes force the residual path (manifest counts pre-delete)."""
    from iceberg_rust_spark import PartitionField, PartitionSpec, expr as E
    from iceberg_rust_spark.functions.transforms import parse_transform
    df = spark.createDataFrame(
        [(i, i % 4, i * 1.5) for i in range(400)], "id long, g long, v double")
    schema = schema_from_spark(df.schema)
    spec = PartitionSpec(0, [PartitionField(
        schema.field_id_for_name("g"), 1000, "g", parse_transform("identity"))])
    t = Table.create(warehouse, "db.fastcount", schema, partition_spec=spec)
    t = t.append(spark, df)

    # whole-table: pure metadata (no SparkSession even needed)
    assert t.count() == 400
    # partition-aligned filter: per-file g bounds are equal -> strict match
    s = t.scan(row_filter=E.col("g") == 2)
    assert s.count_rows() == 100
    assert s.last_count_residual_files == 0
    # a filter stats can't decide needs the residual read, and only then
    # (id >= 200 splits every file's [min,max] id range)
    s2 = t.scan(row_filter=E.col("id") >= 200)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        s2.count_rows()
    assert s2.count_rows(spark) == 200
    # range filter fully covering some partitions but splitting none at the
    # file level: id bounds prove whole files in/out
    s3 = t.scan(row_filter=E.col("id") < 1000)
    assert s3.count_rows() == 400
    assert s3.last_count_residual_files == 0

    # MOR deletes: affected files leave the metadata path but count stays exact
    t = t.delete_where(spark, E.col("g") == 1, mode="mor")
    s4 = t.scan()
    assert s4.count_rows(spark) == 300
    assert s4.last_count_residual_files > 0


def test_scan_execution_metrics(spark, warehouse):
    """scan_execution_metrics (arrow/scan_metrics.rs ScanMetrics parity):
    bytes/files/rows aggregated from the executed plan's scan nodes."""
    import pyspark.sql.functions as F
    from iceberg_rust_spark import Table
    from iceberg_rust_spark.sources.scan import scan_execution_metrics
    from iceberg_rust_spark.sources.types import schema_from_spark

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"))
    t = Table.create(warehouse, "db.metrics_t", schema_from_spark(df.schema))
    t = t.append(spark, df.repartition(3))
    out = t.scan().to_df(spark)
    assert scan_execution_metrics(out)["files_scanned"] == 0  # pre-action
    n = len(out.collect())   # an action on THIS plan populates SQLMetrics
    assert n == 1000
    m = scan_execution_metrics(out)
    assert m["files_scanned"] == 3
    assert m["rows_scanned"] == 1000
    assert m["bytes_scanned"] > 0


def test_metadata_only_count_with_deletion_vectors(spark, warehouse):
    """r12: COUNT over a DV-deleted table is metadata-only — a file whose
    sole attached delete is its deletion vector counts as
    record_count - cardinality (the v3 spec requires a DV to supersede
    every earlier positional delete of its file), no data read. Eq
    deletes force a data read again."""
    import pyspark.sql.functions as F

    from iceberg_rust_spark import Table, expr as E
    from iceberg_rust_spark.sources.types import schema_from_spark

    df = spark.range(0, 1000).select(F.col("id").alias("k"),
                                     (F.col("id") % 10).alias("v"))
    t = Table.create(warehouse, "db.dvcount", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("v") == 4, mode="dv")
    scan = t.scan()
    # no SparkSession passed: must not need one
    assert scan.count_rows() == 900
    assert scan.last_count_residual_files == 0
    assert t.to_df(spark).count() == 900     # data read agrees

    # an equality delete makes the affected files residual again
    keys = spark.createDataFrame([(7,)], "v long")
    t = t.delete_by_equality(spark, keys, ["v"])
    scan2 = t.scan()
    n = scan2.count_rows(spark)
    assert n == 800
    assert scan2.last_count_residual_files > 0


def test_filtered_metadata_count_with_dv(spark, warehouse):
    """Filtered COUNT where stats prove full match: a sole-DV file still
    counts metadata-only (record_count - cardinality)."""
    import pyspark.sql.functions as F

    from iceberg_rust_spark import Table, expr as E
    from iceberg_rust_spark.sources.types import schema_from_spark

    df = spark.range(0, 500).select(F.col("id").alias("k"),
                                    (F.col("id") % 5).alias("v"))
    t = Table.create(warehouse, "db.dvcount2", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("v") == 1, mode="dv")
    # k >= 0 provably matches every row -> strict metrics, no data read
    scan = t.scan(row_filter=E.col("k") >= 0)
    assert scan.count_rows() == 400
    assert scan.last_count_residual_files == 0
