"""Spark 4 Python DataSource integration: batch + streaming reads."""

import pyspark.sql.functions as F

from iceberg_rust_spark import Table, expr as E
from iceberg_rust_spark.sources.types import schema_from_spark
from iceberg_rust_spark.streaming.datasource import register


def _mk(spark, warehouse, name, n=60):
    df = spark.range(0, n).select(F.col("id"), (F.col("id") % 5).alias("g"))
    t = Table.create(warehouse, name, schema_from_spark(df.schema))
    return t.append(spark, df), df


def test_batch_datasource_read(spark, warehouse):
    t, df = _mk(spark, warehouse, "db.ds_batch")
    register(spark)
    out = (spark.read.format("iceberg_rust")
           .option("warehouse", warehouse.warehouse)
           .option("table", "db.ds_batch").load())
    assert out.count() == 60
    assert sorted(out.columns) == ["g", "id"]
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(60))
    # pushed-down where option prunes at planning time; result still exact
    pruned = (spark.read.format("iceberg_rust")
              .option("warehouse", warehouse.warehouse)
              .option("table", "db.ds_batch")
              .option("where", "id < 10").load())
    assert pruned.where("id < 10").count() == 10


def test_stream_datasource_incremental(spark, warehouse, tmp_path):
    t, df = _mk(spark, warehouse, "db.ds_stream", 40)
    register(spark)
    ckpt = str(tmp_path / "ds_ckpt")
    out_dir = str(tmp_path / "ds_out")

    def run_pass():
        q = (spark.readStream.format("iceberg_rust")
             .option("warehouse", warehouse.warehouse)
             .option("table", "db.ds_stream").load()
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    def sink():
        return spark.read.parquet(out_dir)

    run_pass()
    assert sink().count() == 40

    # new snapshot -> ONLY its rows arrive on the next pass (offset recovery)
    t = t.append(spark, spark.range(100, 110).select(
        F.col("id"), (F.col("id") % 5).alias("g")))
    run_pass()
    assert sink().count() == 50
    assert sink().agg(F.max("id")).collect()[0][0] == 109

    # no new snapshots -> nothing appended
    run_pass()
    assert sink().count() == 50


def test_batch_datasource_write(spark, warehouse):
    t, df = _mk(spark, warehouse, "db.ds_write", 20)
    register(spark)
    more = spark.range(100, 130).select(F.col("id"), (F.col("id") % 5).alias("g"))
    (more.write.format("iceberg_rust")
     .option("warehouse", warehouse.warehouse)
     .option("table", "db.ds_write").mode("append").save())
    t = t.refresh()
    assert t.to_df(spark).count() == 50
    # per-file metrics made it into the manifests (pruning stays usable)
    scan = t.scan(row_filter=E.col("id") >= 100)
    plan = scan.plan_files()
    assert plan.skipped_by_metrics >= 1
    assert scan.to_df(spark).count() == 30
    # overwrite mode replaces contents in one snapshot
    (more.write.format("iceberg_rust")
     .option("warehouse", warehouse.warehouse)
     .option("table", "db.ds_write").mode("overwrite").save())
    assert t.refresh().to_df(spark).count() == 30


def test_stream_datasource_write_exactly_once(spark, warehouse, tmp_path):
    t, df = _mk(spark, warehouse, "db.ds_sink", 0)
    register(spark)
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 25).select(F.col("id"), (F.col("id") % 5).alias("g")) \
        .write.parquet(src_dir)

    def run_pass():
        q = (spark.readStream.schema("id long, g long").parquet(src_dir)
             .writeStream.format("iceberg_rust")
             .option("warehouse", warehouse.warehouse)
             .option("table", "db.ds_sink")
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_pass()
    t = t.refresh()
    assert t.to_df(spark).count() == 25
    n_snaps = len(t.metadata.snapshots)
    # re-running with the same checkpoint commits nothing new
    run_pass()
    t = t.refresh()
    assert t.to_df(spark).count() == 25
    assert len(t.metadata.snapshots) == n_snaps


def test_datasource_write_identity_partitioned(spark, warehouse):
    """identity-partitioned DataSource write (r3: fanout replaced the old
    unpartitioned-only rejection)."""
    from iceberg_rust_spark import PartitionField, PartitionSpec
    from iceberg_rust_spark.functions.transforms import parse_transform
    df = spark.range(5).select(F.col("id"), (F.col("id") % 2).alias("g"))
    s = schema_from_spark(df.schema)
    spec = PartitionSpec(0, [PartitionField(
        s.field_by_name("g").field_id, 1000, "g", parse_transform("identity"))])
    t = Table.create(warehouse, "db.ds_idpart", s, spec)
    register(spark)
    (df.write.format("iceberg_rust")
     .option("warehouse", warehouse.warehouse)
     .option("table", "db.ds_idpart").mode("append").save())
    t = Table.load(warehouse, "db.ds_idpart")
    assert t.to_df(spark).count() == 5
    assert {x.data_file.partition["g"]
            for x in t.scan().plan_files().tasks} == {0, 1}


def test_datasource_partitioned_write_fanout(spark, warehouse):
    """df.write.format('iceberg_rust') on a PARTITIONED table: task-local
    fanout groups each task's batch by transformed partition tuple; the
    resulting files carry real partition values and partition pruning
    works on the readback."""
    import datetime as dt

    from iceberg_rust_spark import (PartitionField, PartitionSpec, Table,
                                    expr as E)
    from iceberg_rust_spark.functions.transforms import parse_transform
    from iceberg_rust_spark.sources.types import schema_from_spark

    df = spark.createDataFrame(
        [(i, f"c{i % 3}", dt.datetime(2024, 1 + i % 4, 3 + i % 20))
         for i in range(200)],
        "id long, cat string, ts timestamp")
    s = schema_from_spark(df.schema)
    spec = PartitionSpec(0, [
        PartitionField(s.field_by_name("ts").field_id, 1000, "ts_month",
                       parse_transform("month")),
        PartitionField(s.field_by_name("id").field_id, 1001, "id_bucket",
                       parse_transform("bucket[4]")),
    ])
    t = Table.create(warehouse, "db.ds_part", s, spec)
    register(spark)
    (df.repartition(3)
       .write.format("iceberg_rust")
       .option("warehouse", warehouse.warehouse)
       .option("table", "db.ds_part").mode("append").save())

    t = Table.load(warehouse, "db.ds_part")
    assert t.to_df(spark).count() == 200
    # partition tuples recorded: every file carries month + bucket values
    tasks = list(t.scan().plan_files().tasks)
    assert all(set(x.data_file.partition) == {"ts_month", "id_bucket"}
               for x in tasks)
    months = {x.data_file.partition["ts_month"] for x in tasks}
    assert months == {648, 649, 650, 651}  # Jan..Apr 2024
    # partition pruning on the readback matches direct filtering
    plan = t.scan(row_filter=E.col("ts") >= dt.datetime(2024, 4, 1)) \
        .plan_files()
    assert plan.skipped_by_partition > 0
    got = t.scan(row_filter=E.col("ts") >= dt.datetime(2024, 4, 1)) \
        .to_df(spark).count()
    assert got == df.where(F.col("ts") >= "2024-04-01").count()
    # bucket values agree with the column-expression write path
    t.delete_where(spark, E.col("id") == 7, mode="cow")
    assert Table.load(warehouse, "db.ds_part").to_df(spark).count() == 199


def test_datasource_write_rolls_files_at_target_size(spark, warehouse):
    """write.target-file-size-bytes splits oversized task outputs."""
    df = spark.range(0, 10000).select(
        F.col("id"), F.concat(F.lit("x" * 200), F.col("id")).alias("pad"))
    t = Table.create(warehouse, "db.ds_roll", schema_from_spark(df.schema),
                     properties={"write.target-file-size-bytes": "65536"})
    register(spark)
    (df.coalesce(1).write.format("iceberg_rust")
     .option("warehouse", warehouse.warehouse)
     .option("table", "db.ds_roll").mode("append").save())
    t = Table.load(warehouse, "db.ds_roll")
    tasks = list(t.scan().plan_files().tasks)
    assert len(tasks) > 1  # one coalesced task still rolled multiple files
    assert t.to_df(spark).count() == 10000


def test_stream_datasource_rate_limited_micro_batches(spark, warehouse,
                                                      tmp_path):
    """r5: streaming_max_files_per_micro_batch admits ONE snapshot per
    trigger — each availableNow pass (one trigger each here, since the
    Python DataSource API captures the end offset at stream start) moves
    exactly one snapshot; rows arrive exactly once, checkpoint-resumed."""
    from iceberg_rust_spark import Table
    from iceberg_rust_spark.sources.types import schema_from_spark

    df0 = spark.range(0, 10).select(F.col("id"), (F.col("id") % 3).alias("g"))
    t = Table.create(warehouse, "db.ds_rate", schema_from_spark(df0.schema))
    for k in range(3):
        t = t.append(spark, spark.range(k * 10, k * 10 + 10).select(
            F.col("id"), (F.col("id") % 3).alias("g")).coalesce(1))
    register(spark)
    ckpt = str(tmp_path / "rate_ckpt")
    out_dir = str(tmp_path / "rate_out")

    def run_pass():
        q = (spark.readStream.format("iceberg_rust")
             .option("warehouse", warehouse.warehouse)
             .option("table", "db.ds_rate")
             .option("streaming_max_files_per_micro_batch", "1").load()
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(out_dir).count()

    assert run_pass() == 10     # first trigger: one snapshot only
    assert run_pass() == 20     # checkpoint resumes at the next snapshot
    assert run_pass() == 30
    got = spark.read.parquet(out_dir)
    assert {r["id"] for r in got.collect()} == set(range(30))


def test_batch_datasource_branch_read(spark, warehouse):
    """option('branch'|'tag') reads the named ref's head (Spark-Iceberg
    read-option parity; refs map / snapshot_for_ref counterpart)."""
    t, df = _mk(spark, warehouse, "db.ds_branch")
    t.refresh()
    t.set_ref("audit", t.metadata.current_snapshot_id, ref_type="branch")
    t.set_ref("v1", t.metadata.current_snapshot_id, ref_type="tag")
    # main advances past the branch point
    t.refresh().append(spark, spark.createDataFrame(
        [(1000, 99)], "id long, g long"))
    register(spark)

    def rd(**opts):
        r = (spark.read.format("iceberg_rust")
             .option("warehouse", warehouse.warehouse)
             .option("table", "db.ds_branch"))
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    assert rd().count() == 61                 # main head
    assert rd(branch="audit").count() == 60   # branch frozen pre-append
    assert rd(tag="v1").count() == 60
    import pytest as _pytest
    with _pytest.raises(Exception, match="no such ref"):
        rd(branch="nope").count()


def test_stream_datasource_follows_branch(spark, warehouse, tmp_path):
    """option('branch') on the stream reader follows the named ref's
    ancestry: staged appends to the audit branch arrive, while commits on
    main outside that ancestry are invisible to the stream. (Rate-limited
    mode engages the ancestry walk.)"""
    t, df = _mk(spark, warehouse, "db.ds_br_stream", 20)
    t.refresh()
    t.set_ref("audit", t.metadata.current_snapshot_id, ref_type="branch")
    register(spark)
    ckpt = str(tmp_path / "br_ckpt")
    out_dir = str(tmp_path / "br_out")

    def run_pass():
        q = (spark.readStream.format("iceberg_rust")
             .option("warehouse", warehouse.warehouse)
             .option("table", "db.ds_br_stream")
             .option("branch", "audit")
             .option("streaming_max_files_per_micro_batch", "10").load()
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_pass()
    assert spark.read.parquet(out_dir).count() == 20

    # branch append arrives; main append does not
    t = t.refresh().append(spark, spark.range(100, 105).select(
        F.col("id"), (F.col("id") % 5).alias("g")), branch="audit")
    t = t.refresh().append(spark, spark.range(900, 950).select(
        F.col("id"), (F.col("id") % 5).alias("g")))  # main only
    run_pass()
    got = spark.read.parquet(out_dir)
    assert got.count() == 25
    assert got.agg(F.max("id")).collect()[0][0] == 104


def test_batch_datasource_write_to_branch(spark, warehouse):
    """option('branch') on the batch writer commits to the named ref
    (WAP audit shape): main stays put, the branch advances, and the
    branch read sees the write."""
    t, df = _mk(spark, warehouse, "db.ds_wbr")
    t.refresh()
    t.set_ref("audit", t.metadata.current_snapshot_id, ref_type="branch")
    main_head = t.metadata.current_snapshot_id
    register(spark)
    (spark.createDataFrame([(1000, 9)], "id long, g long")
     .write.format("iceberg_rust")
     .option("warehouse", warehouse.warehouse)
     .option("table", "db.ds_wbr")
     .option("branch", "audit")
     .mode("append").save())
    t = Table.load(warehouse, "db.ds_wbr")
    assert t.metadata.refs["main"].snapshot_id == main_head
    assert t.metadata.refs["audit"].snapshot_id != main_head
    assert t.to_df(spark).count() == 60                       # main view
    assert t.to_df(spark, ref="audit").count() == 61          # branch view


def test_batch_datasource_applies_mor_deletes(spark, warehouse):
    """r6 fix: the batch reader previously streamed data files raw,
    returning rows that positional/DV/equality delete files had removed.
    Deletes now apply executor-side over the Arrow batches."""
    register(spark)

    def ds(name):
        return (spark.read.format("iceberg_rust")
                .option("warehouse", warehouse.warehouse)
                .option("table", name).load())

    # positional (MOR)
    t, _ = _mk(spark, warehouse, "db.ds_mor", n=100)
    t = t.delete_where(spark, E.col("id") < 20, mode="mor")
    assert ds("db.ds_mor").count() == 80
    assert ds("db.ds_mor").agg(F.min("id")).collect()[0][0] == 20
    # puffin deletion vectors
    t2, _ = _mk(spark, warehouse, "db.ds_dv", n=100)
    t2 = t2.delete_where(spark, E.col("id") >= 90, mode="dv")
    assert ds("db.ds_dv").count() == 90
    assert ds("db.ds_dv").agg(F.max("id")).collect()[0][0] == 89
    # equality deletes, incl. null-keep semantics
    df = spark.createDataFrame(
        [(i, i % 5 if i % 7 else None) for i in range(70)],
        "id long, g long")
    t3 = Table.create(warehouse, "db.ds_eq", schema_from_spark(df.schema))
    t3 = t3.append(spark, df)
    t3 = t3.delete_by_equality(
        spark, spark.createDataFrame([(1,), (3,)], "g long"), ["g"])
    expect = t3.to_df(spark).count()
    got = ds("db.ds_eq")
    assert got.count() == expect
    assert got.where("g IS NULL").count() == 10  # null rows kept


def test_batch_datasource_native_filter_pushdown(spark, warehouse):
    """Spark 4.1 pushFilters: DataFrame filters prune partitions at
    planning time (1 task instead of N) while Spark re-applies the full
    predicate above the scan (Inexact contract)."""
    import pyspark.sql.datasource as dsf

    from iceberg_rust_spark import PartitionField, PartitionSpec
    from iceberg_rust_spark.functions.transforms import parse_transform
    from iceberg_rust_spark.streaming.datasource import _IcebergBatchReader

    df = spark.range(0, 500).selectExpr("id", "CAST(id % 10 AS LONG) AS g")
    sch = schema_from_spark(df.schema)
    spec = PartitionSpec(0, [PartitionField(
        sch.field_id_for_name("g"), 1000, "g", parse_transform("identity"))])
    t = Table.create(warehouse, "db.ds_push", sch, partition_spec=spec)
    t = t.append(spark, df)
    register(spark)

    out = (spark.read.format("iceberg_rust")
           .option("warehouse", warehouse.warehouse)
           .option("table", "db.ds_push").load().filter("g = 3"))
    assert out.count() == 50           # exact through the full pipeline

    # planning-level proof, driving the reader directly
    r = _IcebergBatchReader({"warehouse": warehouse.warehouse,
                             "table": "db.ds_push"}, out.schema)
    leftover = r.pushFilters([dsf.EqualTo(("g",), 3),
                              dsf.IsNotNull(("g",))])
    assert len(list(leftover)) == 2    # everything handed back to Spark
    assert len(r.partitions()) == 1    # ... but pruning still happened
    r_all = _IcebergBatchReader({"warehouse": warehouse.warehouse,
                                 "table": "db.ds_push"}, out.schema)
    assert len(r_all.partitions()) == 10


def test_batch_datasource_schema_evolution(spark, warehouse):
    """r6 fix: files written under an older schema previously broke the
    batch reader (name-based column selection returned too few columns).
    The planner now attaches a field-id projection per old-schema file and
    the executor reorders/renames/promotes/defaults the Arrow batches
    (record_batch_transformer.rs:347-351 counterpart)."""
    register(spark)
    df = spark.createDataFrame([(i, i * 2) for i in range(10)],
                               "id long, v int")
    t = Table.create(warehouse, "db.ds_evo", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = (t.update_schema().rename_column("v", "val")
         .promote_column("val", "long")
         .add_column("w", "string")
         .add_column("q", "int", initial_default=7).commit())
    t = t.append(spark, spark.createDataFrame(
        [(10, 20, "x", 1)], "id long, val long, w string, q int"))

    out = (spark.read.format("iceberg_rust")
           .option("warehouse", warehouse.warehouse)
           .option("table", "db.ds_evo").load())
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 11
    assert rows[0]["val"] == 0 and rows[0]["w"] is None
    assert rows[0]["q"] == 7            # initial_default fills old files
    assert rows[10]["val"] == 20 and rows[10]["w"] == "x" and rows[10]["q"] == 1
    # matches the Table-API read exactly
    api = {r["id"]: r for r in t.to_df(spark).collect()}
    assert all(rows[k] == api[k] for k in rows)


def test_stream_datasource_projects_evolved_files(spark, warehouse,
                                                  tmp_path):
    """A LONG-RUNNING stream's schema is fixed at query start; files
    committed under a schema evolved mid-stream must project back to it by
    field id (renames resolve, new columns are ignored). Driven at the
    reader level: the reader is constructed BEFORE the evolution, then
    admits and reads the post-evolution snapshot."""
    import pyarrow as pa

    from iceberg_rust_spark.streaming.datasource import _IcebergStreamReader

    register(spark)
    df = spark.range(0, 20).select(F.col("id"), (F.col("id") % 5).alias("g"))
    t = Table.create(warehouse, "db.ds_sevo", schema_from_spark(df.schema))
    t = t.append(spark, df)

    reader = _IcebergStreamReader(
        {"warehouse": warehouse.warehouse, "table": "db.ds_sevo"},
        t.metadata.schema().to_spark())
    start = reader.latestOffset()        # stream caught up to snapshot 1

    # evolve mid-stream: rename g -> grp, add a column; append NEW-schema
    t = t.update_schema().rename_column("g", "grp") \
        .add_column("extra", "string").commit()
    t = t.append(spark, spark.createDataFrame(
        [(100, 1, "x"), (101, 2, "y")], "id long, grp long, extra string"))

    end = reader.latestOffset()
    parts = reader.partitions(start, end)
    assert parts and all(p.projection is not None for p in parts)
    rows = pa.Table.from_batches(
        [b for p in parts for b in reader.read(p)]).to_pylist()
    assert sorted(r["id"] for r in rows) == [100, 101]
    # grp values arrive under the stream's old column name g
    assert sorted(r["g"] for r in rows) == [1, 2]
    assert all(set(r) == {"id", "g"} for r in rows)


def test_pos_delete_index_restamped_on_rewrite(tmp_path):
    """The worker's position-delete index is held in the object cache under
    the delete file's stamp: a delete file rewritten at the same path with
    a newer mtime is parsed again, not served from the old index."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_rust_spark.streaming.datasource import _pos_delete_index

    path = str(tmp_path / "pos-deletes.parquet")
    data = str(tmp_path / "data.parquet")

    def write(positions, mtime_s):
        pq.write_table(pa.table({"file_path": [data] * len(positions),
                                 "pos": pa.array(positions, pa.int64())}),
                       path)
        os.utime(path, (mtime_s, mtime_s))

    write([1, 2], 1_700_000_000)
    assert np.array_equal(_pos_delete_index(path)[data], [1, 2])
    write([3, 4], 1_700_000_100)
    assert np.array_equal(_pos_delete_index(path)[data], [3, 4])
