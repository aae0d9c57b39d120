"""The cold manifest decode runs in Arrow kernels; these tests hold it to
the per-value decode it replaces.

- ``decode_bounds`` (read by ``ManifestColumns.metric_vectors``) against
  ``to_comparable(de_scalar(v))``, cell by cell, equal in type and value,
  for every tag, through written manifests and ``from_entries`` views.
- A cold metrics-selective plan calls ``de_scalar`` zero times.
- Path-scoped deletes attach whichever column spells its paths with the
  ``file:`` scheme.
- A warm plan starts no decode pool and counts one cache hit per
  manifest, also when a new predicate reads columns not yet extracted."""

import concurrent.futures
import datetime as dt
import math
import struct
from decimal import Decimal

import hypothesis.strategies as st
import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings

from iceberg_rust_spark import Table, expr as E
from iceberg_rust_spark.sources import datum
from iceberg_rust_spark.sources import scan as scan_mod
from iceberg_rust_spark.sources.datum import (de_scalar, ser_scalar,
                                              to_comparable)
from iceberg_rust_spark.sources.manifest import (CONTENT_POSITION_DELETES,
                                                 DataFile, ManifestColumns,
                                                 ManifestEntry,
                                                 decode_bounds,
                                                 read_manifest_columns,
                                                 write_manifest)
from iceberg_rust_spark.sources.types import (DATE, LONG, STRING, TIMESTAMP,
                                             NestedField, Schema)

I64 = 2 ** 63

# one strategy per tag: i (int64 edges and beyond), d, t, f (nan, +-inf,
# -0.0, subnormals), s (empty, non-ASCII), c, x, b
scalars = st.one_of(
    st.integers(-I64, I64 - 1),
    st.sampled_from([I64 - 1, -I64, I64, -I64 - 1, 2 ** 80, -(2 ** 80), 0]),
    st.dates(),
    st.datetimes(),
    st.floats(),
    st.sampled_from([math.nan, math.inf, -math.inf, -0.0, 0.0, 5e-324,
                     -5e-324, 2.2250738585072014e-308, 2.0 ** 53 + 2]),
    st.text(max_size=12),
    st.sampled_from(["", "é", "日本語", "\x00", "s:", "a" * 40]),
    st.decimals(allow_nan=False),
    st.binary(max_size=12),
    st.booleans(),
)

# cells the writer never produces but the per-value decode accepts: the
# Arrow casts reject them, so their group decodes per value
odd_cells = st.sampled_from(["i:+5", "i: 7", "i:1_000", "i:007", "i:-0",
                             "f: 2.5", "f:1_5", "f:+inf", "d:+3",
                             "t: 12", "s", "b:1", "b:0"])


def same(a, b) -> bool:
    """Equal in type and value: floats bit for bit (so -0.0 is not 0.0,
    and a NaN equals a NaN), decimals by their text as well."""
    if type(a) is not type(b):
        return False
    if isinstance(a, float):
        return struct.pack("<d", a) == struct.pack("<d", b) or (
            math.isnan(a) and math.isnan(b))
    if isinstance(a, Decimal):
        return str(a) == str(b)
    return a == b


def per_value(cell):
    return to_comparable(de_scalar(cell))


@given(cells=st.lists(
    st.one_of(scalars.map(ser_scalar), odd_cells, st.none()), max_size=30))
@settings(max_examples=400, deadline=None)
@example(cells=["i:9223372036854775807", "i:-9223372036854775808",
                "i:9223372036854775808", None])
@example(cells=["f:nan", "f:inf", "f:-inf", "f:-0.0", "f:5e-324"])
def test_decode_bounds_equals_per_value(cells):
    vals, nan = decode_bounds(pa.array(cells, type=pa.string()))
    assert vals.dtype == object and len(vals) == len(cells)
    for got, is_nan, cell in zip(vals.tolist(), nan.tolist(), cells):
        want = per_value(cell)
        assert same(got, want), (cell, got, want)
        assert is_nan == (isinstance(want, float) and math.isnan(want))


@pytest.mark.parametrize("cells", [
    ["d:99999999"],                     # past date.max
    ["d:1", "d:-99999999"],             # past date.min, in a mixed group
    ["t:%d" % 2 ** 62],                 # past datetime.max
    ["i:5", "q:1"],                     # unknown tag
    [""],                               # no tag at all
    ["i:x"],                            # body the per-value int() rejects
])
def test_decode_bounds_raises_where_per_value_raises(cells):
    with pytest.raises(Exception) as per:
        [per_value(c) for c in cells]
    with pytest.raises(type(per.value)):
        decode_bounds(pa.array(cells, type=pa.string()))


files_stats = st.lists(st.tuples(
    st.one_of(st.none(), st.integers(0, 20)),      # value count of "a"
    st.one_of(st.just("absent"), st.none(), scalars),   # lower of "a"
    st.one_of(st.just("absent"), st.none(), scalars),   # upper of "a"
    st.one_of(st.just("absent"), scalars),              # lower of "b"
), min_size=1, max_size=12)


@given(stats=files_stats, written=st.booleans())
@settings(max_examples=300, deadline=None)
def test_metric_vectors_equal_per_value(stats, written, tmp_path_factory):
    """``metric_vectors`` over a written manifest and over the
    ``from_entries`` view: counts exact with presence, bounds the per-value
    comparable (NaN and null read absent), absent keys absent."""
    def only(v):
        return {} if v == "absent" else {"a": v}

    entries = [ManifestEntry(1, 1, 1, 1, DataFile(
        file_path=f"/f{i}.parquet", record_count=5,
        value_counts={} if vc is None else {"a": vc},
        lower_bounds={**only(lo), **({} if lb == "absent" else {"b": lb})},
        upper_bounds=only(hi)))
        for i, (vc, lo, hi, lb) in enumerate(stats)]
    if written:
        p = str(tmp_path_factory.mktemp("m") / "m.parquet")
        write_manifest(p, entries)
        cols = read_manifest_columns(p)
        assert cols._tab is not None
    else:
        cols = ManifestColumns.from_entries(entries)
    vc, vc_p, nc, nc_p, _n, nan_p, lo, lo_p, hi, hi_p = \
        cols.metric_vectors("a")
    assert vc.dtype == np.int64 and lo.dtype == object
    assert not nc_p.any() and not nan_p.any()
    for i, (want_vc, want_lo, want_hi, _lb) in enumerate(stats):
        assert (bool(vc_p[i]), int(vc[i])) == (
            want_vc is not None, want_vc or 0)
        for got, got_p, raw in ((lo[i], lo_p[i], want_lo),
                                (hi[i], hi_p[i], want_hi)):
            want = None if raw == "absent" else to_comparable(raw)
            if isinstance(want, float) and math.isnan(want):
                want = None
            assert same(got, want), (raw, got)
            assert bool(got_p) == (want is not None)
    lb_vals = cols.metric_vectors("b")[6]
    for i, (_vc, _lo, _hi, raw) in enumerate(stats):
        want = None if raw == "absent" else to_comparable(raw)
        if isinstance(want, float) and math.isnan(want):
            want = None
        assert same(lb_vals[i], want), (raw, lb_vals[i])


# ---------------------------------------------------------------- plans
SCHEMA = Schema([NestedField(1, "k", LONG), NestedField(2, "s", STRING),
                 NestedField(3, "d", DATE), NestedField(4, "t", TIMESTAMP)],
                0)
EPOCH = dt.datetime(2020, 1, 1)


def _files(m: int, n: int):
    """``n`` fabricated files of manifest ``m``: every column a point per
    file, so ``k >= K`` keeps exactly the files numbered K and above."""
    out = []
    for i in range(n):
        k = m * n + i
        s = "key%06d" % k
        d = dt.date(2020, 1, 1) + dt.timedelta(days=k)
        t = EPOCH + dt.timedelta(seconds=k)
        out.append(DataFile(
            file_path=f"/never-written/f{k:06d}.parquet", record_count=10,
            file_size_in_bytes=100, schema_id=0, spec_id=0,
            value_counts={"k": 10, "s": 10, "d": 10, "t": 10},
            null_value_counts={"k": 0, "s": 0, "d": 0, "t": 0},
            lower_bounds={"k": k, "s": s, "d": d, "t": t},
            upper_bounds={"k": k, "s": s, "d": d, "t": t}))
    return out


def _table(warehouse, name: str, manifests: int, per: int) -> Table:
    t = Table.create(warehouse, f"db.{name}", SCHEMA)
    for m in range(manifests):
        t = t._commit_retry(lambda md, m=m: t._snapshot_update(
            md, "append", added=_files(m, per)))
    return t


def test_cold_metrics_plan_calls_no_per_value_decode(warehouse,
                                                     monkeypatch):
    """Mechanism guard (a count, not a timing): a cold metrics-selective
    plan over a written 1000-entry manifest with i/s/d/t bounds decodes
    every bound in Arrow kernels, so ``datum.de_scalar`` is never
    called."""
    t = _table(warehouse, "guard", 1, 1000)
    calls = []
    real = datum.de_scalar

    def counting(s):
        calls.append(s)
        return real(s)

    monkeypatch.setattr(datum, "de_scalar", counting)
    pred = ((E.col("k") >= 990) & (E.col("s") >= "key000985")
            & (E.col("d") >= dt.date(2020, 1, 1) + dt.timedelta(days=980))
            & (E.col("t") >= EPOCH + dt.timedelta(seconds=975)))
    scan_mod._manifest_cache.cache_clear()
    plan = t.scan(row_filter=pred).plan_files()
    assert calls == []
    assert plan.total_data_files == 1000
    assert plan.skipped_by_metrics == 990
    assert sorted(x.data_file.file_path for x in plan.tasks) == \
        [f"/never-written/f{k:06d}.parquet" for k in range(990, 1000)]


def test_warm_plan_starts_no_pool_and_counts_each_manifest(warehouse,
                                                           monkeypatch):
    """A cold plan over more than four manifests decodes them on a pool;
    the warm plan that follows finds all of them cached, starts no pool,
    and each plan counts one miss (cold) or one hit (warm) per
    manifest. A predicate on a column no plan extracted yet runs its
    extracts serially too (measured faster than pooling them)."""
    t = _table(warehouse, "warm", 6, 20)
    pools = []

    class CountingPool(concurrent.futures.ThreadPoolExecutor):
        def __init__(self, *a, **kw):
            pools.append(self)
            super().__init__(*a, **kw)

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor",
                        CountingPool)
    cache = scan_mod._manifest_cache
    cache.cache_clear()

    def plan_counting(pred=E.col("k") >= 115):
        before = cache.stats("manifest")
        plan = t.scan(row_filter=pred).plan_files()
        after = cache.stats("manifest")
        assert len(plan.tasks) == 5
        return after["hits"] - before["hits"], \
            after["misses"] - before["misses"]

    assert plan_counting() == (0, 6)
    assert len(pools) == 1
    assert plan_counting() == (6, 0)
    assert len(pools) == 1
    other = E.col("s") >= "key000115"
    assert plan_counting(other) == (6, 0)
    assert len(pools) == 1


@pytest.mark.parametrize("data_schemes,ref_schemes", [
    (["", "", "", ""], ["", ""]),
    (["file:"] * 4, ["", ""]),
    (["", "", "", ""], ["file:", "file://"]),
    (["file:", "", "file://", ""], ["", "file:"]),
])
def test_path_scoped_deletes_match_across_file_scheme(
        tmp_path, data_schemes, ref_schemes):
    """Written data and delete manifests whose paths differ only in the
    ``file:`` spelling: each deletion vector attaches to its data file."""
    def written(name, files):
        p = str(tmp_path / name)
        write_manifest(p, [ManifestEntry(1, 1, 2, 2, f) for f in files])
        return read_manifest_columns(p)

    data = written("data.parquet", [
        DataFile(file_path=f"{sc}/wh/d{i}.parquet", record_count=5)
        for i, sc in enumerate(data_schemes)])
    dels = written("dels.parquet", [
        DataFile(file_path=f"/wh/dv{i}.puffin", file_format="puffin",
                 content=CONTENT_POSITION_DELETES, record_count=1,
                 referenced_data_file=f"{sc}/wh/d{i}.parquet",
                 content_offset=4, content_size_in_bytes=8)
        for i, sc in zip((1, 3), ref_schemes)])
    index = scan_mod._DeleteFileIndex([dels])
    sets = index.match_many([(data, np.arange(data.n))])[0]
    got = [None if x is None else
           [scan_mod._DeleteFileIndex._file(src).file_path for src in x[0]]
           for x in sets]
    assert got == [None, ["/wh/dv1.puffin"], None, ["/wh/dv3.puffin"]]
