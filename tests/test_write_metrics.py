"""One metrics pass per written file: NaN counts from the footer task, the
same stats -> DataFile rule for ``Table.append`` and the DataSource writer,
path-keyed footer stats, zero-row delete files never committed, and
backtick-safe column references on the write and projection paths."""

import pyspark.sql.functions as F
from pyspark.sql import types as T

from iceberg_rust_spark import (PartitionField, PartitionSpec, Table,
                                expr as E)
from iceberg_rust_spark.functions.transforms import parse_transform
from iceberg_rust_spark.sources.types import schema_from_spark
from iceberg_rust_spark.sources.write import _spark_fallback_stats
from iceberg_rust_spark.streaming.datasource import register

NAN = float("nan")
INF = float("inf")
# NaN, -NaN, +-inf, nulls and plain values, cycled over three partitions
VALUES = [1.0, NAN, -NAN, INF, -INF, None, 2.5, NAN, 0.0, -1.5, None]


def _nan_rows():
    return [(i, "abc"[i % 3], VALUES[i % len(VALUES)],
             VALUES[(i * 7) % len(VALUES)]) for i in range(60)]


def _partitioned(warehouse, name, df, properties=None):
    schema = schema_from_spark(df.schema)
    spec = PartitionSpec(0, [PartitionField(
        schema.field_id_for_name("g"), 1000, "g",
        parse_transform("identity"))])
    return Table.create(warehouse, name, schema, partition_spec=spec,
                        properties=properties)


def _ds_append(spark, warehouse, name, df):
    register(spark)
    (df.write.format("iceberg_rust")
     .option("warehouse", warehouse.warehouse)
     .option("table", name).mode("append").save())


def _old_rule_nan_counts(spark, path, cols):
    """The per-file count the former second Spark pass computed."""
    row = spark.read.parquet(path).agg(
        *[F.sum(F.when(F.isnan(F.col(c)), 1).otherwise(0)).alias(c)
          for c in cols]).collect()[0]
    return {c: int(row[c] or 0) for c in cols}


def test_nan_counts_match_old_rule_for_append_and_datasource(spark,
                                                             warehouse):
    df = spark.createDataFrame(_nan_rows(),
                               "id long, g string, v double, w float")
    expect_total = {
        "v": sum(1 for r in _nan_rows() if r[2] is not None and r[2] != r[2]),
        "w": sum(1 for r in _nan_rows() if r[3] is not None and r[3] != r[3])}
    t_app = _partitioned(warehouse, "db.nan_app", df).append(spark, df)
    _partitioned(warehouse, "db.nan_ds", df)
    _ds_append(spark, warehouse, "db.nan_ds", df.repartition(2))
    t_ds = Table.load(warehouse, "db.nan_ds")
    for t in (t_app, t_ds):
        files = [task.data_file for task in t.scan().plan_files().tasks]
        assert len(files) >= 3
        total = {"v": 0, "w": 0}
        for f in files:
            assert f.nan_value_counts == _old_rule_nan_counts(
                spark, f.file_path, ["v", "w"]), f.file_path
            for c in total:
                total[c] += f.nan_value_counts[c]
        assert total == expect_total
        got = t.scan(row_filter=E.col("v").is_nan()).to_df(spark).count()
        assert got == expect_total["v"]
    # files pyarrow cannot parse (VARIANT footers) take the Spark fallback,
    # which counts NaNs in its one grouped aggregate
    paths = [task.data_file.file_path
             for task in t_app.scan().plan_files().tasks]
    fallback = _spark_fallback_stats(spark, paths, ("v", "w"))
    assert {p: st["nan_counts"] for p, st in fallback.items()} == {
        p: _old_rule_nan_counts(spark, p, ["v", "w"]) for p in paths}


def test_append_with_double_column_launches_no_extra_jobs(spark, warehouse):
    """NaN counting rides the footer task: an append to a table with a
    double column launches as many Spark jobs as one without."""
    sc = spark.sparkContext

    def jobs(t, df, group):
        sc.setJobGroup(group, group)
        try:
            t.append(spark, df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    dbl = spark.range(100).select("id", F.col("id").cast("double").alias("v"))
    lng = spark.range(100).select("id", F.col("id").alias("v"))
    t_dbl = Table.create(warehouse, "db.jobs_dbl", schema_from_spark(dbl.schema))
    t_lng = Table.create(warehouse, "db.jobs_lng", schema_from_spark(lng.schema))
    n_lng = jobs(t_lng, lng, "append-long")
    n_dbl = jobs(t_dbl, dbl, "append-double")
    assert n_lng > 0
    assert n_dbl == n_lng


def test_datasource_write_applies_metrics_modes(spark, warehouse):
    """The DataSource writer builds DataFiles by the same rule as
    ``Table.append``: default truncate(16) string bounds, and a column
    under ``none`` keeps no metrics."""
    long_a, long_b = "a" * 40, "b" * 40
    df = spark.createDataFrame([(1, long_a), (2, long_b)],
                               "id long, s string").coalesce(1)
    Table.create(warehouse, "db.ds_modes", schema_from_spark(df.schema),
                 properties={"write.metadata.metrics.column.id": "none"})
    _ds_append(spark, warehouse, "db.ds_modes", df)
    t = Table.load(warehouse, "db.ds_modes")
    (task,) = t.scan().plan_files().tasks
    f = task.data_file
    assert f.lower_bounds["s"] == "a" * 16
    assert f.upper_bounds["s"] == "b" * 15 + "c"
    for stats in (f.lower_bounds, f.upper_bounds, f.value_counts,
                  f.null_value_counts, f.column_sizes):
        assert "id" not in stats
    assert t.scan(row_filter=E.col("s") == long_b).to_df(spark).count() == 1


def test_footer_stats_keyed_by_column_path(spark, warehouse):
    """A nested leaf ``s.id`` keeps its own metrics; the top-level long
    ``id`` gets only its own bounds and counts."""
    df = spark.createDataFrame([(("aa",), 1), (("zz",), 2)],
                               "s struct<id: string>, id long").coalesce(1)
    t = Table.create(warehouse, "db.nested_leaf",
                     schema_from_spark(df.schema)).append(spark, df)
    (task,) = t.scan().plan_files().tasks
    f = task.data_file
    assert f.value_counts["id"] == 2
    assert (f.lower_bounds["id"], f.upper_bounds["id"]) == (1, 2)
    assert (f.lower_bounds["s.id"], f.upper_bounds["s.id"]) == ("aa", "zz")
    assert t.scan(row_filter=E.col("id") > 5).plan_files().tasks == []


def test_zero_row_delete_files_are_never_committed(spark, warehouse):
    df = spark.createDataFrame([(i, i % 3) for i in range(30)],
                               "id long, g long").repartition(3)
    t = Table.create(warehouse, "db.zero_del",
                     schema_from_spark(df.schema)).append(spark, df)
    snap = t.metadata.current_snapshot_id
    keys = spark.createDataFrame([], "id long")
    assert t.delete_by_equality(spark, keys, ["id"]) \
        .metadata.current_snapshot_id == snap
    assert t.delete_where(spark, E.col("id") > 100, mode="mor") \
        .metadata.current_snapshot_id == snap
    t = Table.load(warehouse, "db.zero_del")
    assert t.metadata.current_snapshot_id == snap
    tasks = t.scan().plan_files().tasks
    assert all(not task.eq_deletes and not task.pos_deletes for task in tasks)
    assert t.to_df(spark).count() == 30


def test_backtick_column_append_mor_delete_read(spark, warehouse):
    st = T.StructType([T.StructField("id", T.LongType()),
                       T.StructField("a`b", T.StringType())])
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "x")], st)
    schema = schema_from_spark(df.schema)
    spec = PartitionSpec(0, [PartitionField(
        schema.field_id_for_name("a`b"), 1000, "a`b",
        parse_transform("identity"))])
    t = Table.create(warehouse, "db.backtick", schema, partition_spec=spec) \
        .replace_sort_order(("a`b", "desc")).append(spark, df)
    t = t.delete_where(spark, E.col("id") == 2, mode="mor")
    out = t.scan().to_df(spark)
    assert out.columns == ["id", "a`b"]
    assert sorted(tuple(r) for r in out.collect()) == [(1, "x"), (3, "x")]
