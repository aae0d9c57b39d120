"""Row filters reach Spark with every column-name part quoted: a name
holding a backtick filters like any other, and a dotted reference still
resolves as a struct path."""

from pyspark.sql import types as T

from iceberg_rust_spark import Table, expr as E
from iceberg_rust_spark.sources.types import schema_from_spark


def test_row_filter_on_backtick_column_after_mor_delete(spark, warehouse):
    st = T.StructType([T.StructField("id", T.LongType()),
                       T.StructField("a`b", T.StringType())])
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "x"), (4, "z")], st)
    t = Table.create(warehouse, "db.tick_filter", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("id") == 3, mode="mor")
    out = t.scan(row_filter=E.col("a`b") == "x").to_df(spark)
    assert sorted(tuple(r) for r in out.collect()) == [(1, "x")]
    out = t.scan(row_filter=E.col("a`b").isin(["y", "z"])).to_df(spark)
    assert sorted(r["id"] for r in out.collect()) == [2, 4]


def test_row_filter_on_nested_field(spark, warehouse):
    st = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StructType([T.StructField("x", T.LongType()),
                                         T.StructField("y", T.StringType())]))])
    df = spark.createDataFrame([(i, (i % 3, f"v{i}")) for i in range(9)], st)
    t = Table.create(warehouse, "db.nested_filter",
                     schema_from_spark(df.schema)).append(spark, df)
    t = t.delete_where(spark, E.col("id") == 3, mode="mor")
    out = t.scan(row_filter=E.col("s.x") == 0).to_df(spark)
    assert sorted(r["id"] for r in out.collect()) == [0, 6]
