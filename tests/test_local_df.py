"""local_df (Arrow-backed small local frames) must be value-identical to the
classic createDataFrame path for every type/edge the hot paths feed it."""

import sys

sys.path.insert(0, "/root/repo")

from iceberg_rust_spark.session import local_df


def _sorted(rows):
    return sorted(tuple(r) for r in rows)


def test_local_df_matches_classic(spark):
    cases = [
        ([(1, "a"), (2, None)], "x long, s string"),
        ([(0, 1.5), (7, float("inf"))], "x long, d double"),
        ([], "x long, s string"),
        ([(1, b"ab"), (2, bytearray(b"\x00\xff"))], "x long, p binary"),
        ([(None, "only"),], "x long, s string"),
    ]
    for rows, schema in cases:
        a = local_df(spark, rows, schema)
        b = spark.createDataFrame(
            [tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
             for r in rows], schema)
        got = [tuple(r) for r in a.collect()]
        want = [tuple(r) for r in b.collect()]
        assert _sorted(got) == _sorted(want), (rows, schema, got, want)
        assert a.schema == b.schema


def test_local_df_parts(spark):
    df = local_df(spark, [(i,) for i in range(10)], "x long", parts=2)
    assert df.rdd.getNumPartitions() <= 2
    assert sorted(r.x for r in df.collect()) == list(range(10))


def test_local_df_generator_rows(spark):
    """A generator of rows is read once: every column keeps its values."""
    rows = ((i, f"s{i}") for i in range(5))
    df = local_df(spark, rows, "x long, s string")
    assert _sorted(df.collect()) == [(i, f"s{i}") for i in range(5)]
