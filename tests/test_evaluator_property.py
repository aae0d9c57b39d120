"""Hypothesis soundness property for metrics pruning: file_might_match must
NEVER say False for a file that contains a matching row (a false skip
silently loses data), and file_must_match must never say True for a file
containing a non-matching row. Over-approximation (might=True with no match)
is allowed — that's only an IO cost."""

import datetime as dt
import math

import hypothesis.strategies as st
from hypothesis import example, given, settings

from iceberg_rust_spark.plans import expr as E
from iceberg_rust_spark.plans.evaluators import (ColumnMetrics,
                                                 file_might_match,
                                                 file_must_match)
from iceberg_rust_spark.sources.types import (DATE, DOUBLE, LONG, STRING,
                                             NestedField, Schema)

S = Schema([NestedField(1, "x", LONG)])

values = st.lists(st.one_of(st.integers(-50, 50), st.none()),
                  min_size=1, max_size=12)
operand = st.integers(-55, 55)


def leaf_predicates(v):
    c = E.col("x")
    return [c < v, c <= v, c > v, c >= v, c == v, c != v,
            c.is_null(), c.not_null(),
            c.isin([v, v + 3]), c.not_in([v, v + 3])]


@st.composite
def predicates(draw, depth=2):
    v = draw(operand)
    p = draw(st.sampled_from(leaf_predicates(v)))
    if depth > 0 and draw(st.booleans()):
        q = draw(predicates(depth=depth - 1))
        op = draw(st.sampled_from(["and", "or", "not"]))
        if op == "and":
            return p & q
        if op == "or":
            return p | q
        return ~p
    return p


def row_matches(pred, value):
    """Ground truth: evaluate the bound predicate on one row (SQL
    three-valued logic on nulls collapsed to False at the top)."""
    r = _eval(pred, value)
    return r is True


def _eval(p, v):
    if isinstance(p, E.AlwaysTrue):
        return True
    if isinstance(p, E.AlwaysFalse):
        return False
    if isinstance(p, E.And):
        l, r = _eval(p.left, v), _eval(p.right, v)
        if l is False or r is False:
            return False
        if l is None or r is None:
            return None
        return True
    if isinstance(p, E.Or):
        l, r = _eval(p.left, v), _eval(p.right, v)
        if l is True or r is True:
            return True
        if l is None or r is None:
            return None
        return False
    if isinstance(p, E.Not):
        r = _eval(p.child, v)
        return None if r is None else (not r)
    op = p.op
    if op == "is_null":
        return v is None
    if op == "not_null":
        return v is not None
    if v is None:
        return None  # comparisons with null are unknown
    if op == "lt":
        return v < p.literal
    if op == "lt_eq":
        return v <= p.literal
    if op == "gt":
        return v > p.literal
    if op == "gt_eq":
        return v >= p.literal
    if op == "eq":
        return v == p.literal
    if op == "not_eq":
        return v != p.literal
    if op == "in":
        return v in p.literals
    if op == "not_in":
        return v not in p.literals
    raise AssertionError(f"unhandled op {op}")


def metrics_for(vals):
    non_null = [v for v in vals if v is not None]
    return {"x": ColumnMetrics(
        lower=min(non_null) if non_null else None,
        upper=max(non_null) if non_null else None,
        null_count=sum(1 for v in vals if v is None),
        value_count=len(vals))}


@settings(max_examples=400, deadline=None)
@given(vals=values, pred=predicates())
def test_inclusive_never_false_skips(vals, pred):
    bound = E.bind(pred, S)
    mets = metrics_for(vals)
    any_match = any(row_matches(bound, v) for v in vals)
    if any_match:
        assert file_might_match(bound, mets), \
            f"FALSE SKIP: {pred} on {vals} with {mets['x']}"


@settings(max_examples=400, deadline=None)
@given(vals=values, pred=predicates())
def test_strict_never_false_keeps(vals, pred):
    bound = E.bind(pred, S)
    mets = metrics_for(vals)
    all_match = all(row_matches(bound, v) for v in vals)
    if not all_match:
        assert not file_must_match(bound, mets), \
            f"FALSE MUST-MATCH: {pred} on {vals} with {mets['x']}"


# --------------------------------------------------------------------------
# Planner equivalence: the planner's vectorized metrics matcher
# (TableScan._vector_matcher) and partition mask (TableScan._partition_mask)
# must agree with the reference evaluators in plans/evaluators.py on every
# (predicate, stats) and (predicate, partition layout) combination.
# --------------------------------------------------------------------------

S2 = Schema([NestedField(1, "x", LONG), NestedField(2, "s", STRING)])

stat_counts = st.one_of(st.none(), st.integers(0, 20))
# string bounds are at most 16 chars, like a writer's truncated bounds;
# one mixed-type value per column makes comparisons raise TypeError
x_bounds = st.one_of(st.none(), st.integers(-60, 60), st.just("m"))
s_bounds = st.one_of(st.none(), st.text("ab", max_size=16), st.just(7))
prefixes = st.one_of(st.just(""), st.text("ab", min_size=1, max_size=3),
                     st.text("ab", min_size=17, max_size=20))


@st.composite
def s_leaves(draw):
    c = E.col("s")
    v = draw(st.text("ab", max_size=4))
    pre = draw(prefixes)
    return draw(st.sampled_from([
        c < v, c >= v, c == v, c != v, c.is_null(), c.not_null(),
        c.isin([v, v + "b"]), c.starts_with(pre),
        E.BinaryPred(E.NOT_STARTS_WITH, "s", pre)]))


@st.composite
def mixed_predicates(draw, depth=2):
    p = draw(st.one_of(predicates(depth=0), s_leaves()))
    if depth > 0 and draw(st.booleans()):
        q = draw(mixed_predicates(depth=depth - 1))
        op = draw(st.sampled_from(["and", "or"]))
        return (p & q) if op == "and" else (p | q)
    return p


# a date and a double column: their bounds decode through the int64 and
# float64 casts of the written manifest (nan, +-inf, -0.0 and 2^53
# against an int literal of 2^53 + 1 included)
S3 = Schema([NestedField(1, "x", LONG), NestedField(2, "s", STRING),
             NestedField(3, "d", DATE), NestedField(4, "f", DOUBLE)])
DAY0 = dt.date(2020, 1, 1)
d_values = st.integers(0, 12).map(lambda k: DAY0 + dt.timedelta(days=k))
f_values = st.one_of(st.floats(-4, 4), st.sampled_from(
    [math.nan, math.inf, -math.inf, -0.0, 2.0 ** 53]))
f_literals = st.one_of(st.floats(-4, 4), st.sampled_from(
    [math.inf, -math.inf, 0, 2 ** 53 + 1]))


@st.composite
def typed_leaves(draw):
    d, f = E.col("d"), E.col("f")
    dv, fv = draw(d_values), draw(f_literals)
    return draw(st.sampled_from([
        d < dv, d >= dv, d == dv, d.isin([dv, dv + dt.timedelta(days=2)]),
        d.is_null(), d.not_null(), f < fv, f > fv, f == fv, f.is_nan(),
        f.not_nan(), f.isin([fv, 1.5])]))


@st.composite
def typed_predicates(draw, depth=2):
    p = draw(st.one_of(predicates(depth=0), s_leaves(), typed_leaves()))
    if depth > 0 and draw(st.booleans()):
        q = draw(typed_predicates(depth=depth - 1))
        return (p & q) if draw(st.booleans()) else (p | q)
    return p


# per-file (d lower, d upper, f nan count, f lower, f upper); files past
# the end of the list carry no d/f metrics
typed_stats = st.lists(st.tuples(
    st.one_of(st.none(), d_values), st.one_of(st.none(), d_values),
    stat_counts, st.one_of(st.none(), f_values),
    st.one_of(st.none(), f_values)), max_size=8)


def _scan_md(schema, specs):
    from iceberg_rust_spark.sources.metadata import TableMetadata
    return TableMetadata(location="/tmp/x", schemas=[schema],
                         current_schema_id=0, partition_specs=specs,
                         default_spec_id=specs[0].spec_id)


def _written_columns(entries):
    """Columnar view of ``entries`` after a real v2 manifest write/read,
    so the tag-scalar encode/decode is in the loop."""
    import os
    import tempfile

    from iceberg_rust_spark.sources.manifest import (read_manifest_columns,
                                                     write_manifest)
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "m.parquet")
        write_manifest(p, entries)
        return read_manifest_columns(p)


@given(pred=typed_predicates(),
       stats=st.lists(st.tuples(stat_counts, stat_counts, stat_counts,
                                x_bounds, x_bounds,
                                stat_counts, stat_counts,
                                s_bounds, s_bounds,
                                st.integers(0, 25)),
                      min_size=1, max_size=8),
       typed=typed_stats)
@settings(max_examples=400, deadline=None)
# empty prefix; a prefix longer than a 16-char truncated bound;
# not_starts_with with and without nulls; bounds of another type
@example(pred=E.col("s").starts_with(""),
         stats=[(None, None, None, None, None, 3, 0, "ab", "b", 5)],
         typed=[])
@example(pred=E.col("s").starts_with("a" * 17),
         stats=[(None, None, None, None, None, 3, 0, "a" * 16, "a" * 16, 5),
                (None, None, None, None, None, 3, 0, "a" * 16, "b", 5)],
         typed=[])
@example(pred=E.BinaryPred(E.NOT_STARTS_WITH, "s", "ab"),
         stats=[(None, None, None, None, None, 3, 0, "ab", "abb", 5),
                (None, None, None, None, None, 3, 2, "ab", "abb", 5)],
         typed=[])
@example(pred=(E.col("x") == 3) | E.col("s").isin(["a", "b"]),
         stats=[(4, 0, None, "m", 1, 4, 0, 7, "b", 5),
                (4, 0, None, 9, "m", 4, 0, "b", 7, 5)],
         typed=[])
@example(pred=E.col("f") > 2 ** 53 + 1,
         stats=[(None,) * 9 + (5,)] * 2,
         typed=[(None, None, 0, 0.0, 2.0 ** 53),
                (None, None, 1, math.nan, math.inf)])
@example(pred=E.col("d") == DAY0 + dt.timedelta(days=3),
         stats=[(None,) * 9 + (5,)] * 2,
         typed=[(DAY0, DAY0 + dt.timedelta(days=2), None, None, None),
                (DAY0, DAY0 + dt.timedelta(days=3), None, -0.0, None)])
def test_vector_matcher_equals_per_row(pred, stats, typed):
    """The numpy-vectorized metrics matcher must agree, row by row, with
    file_might_match over _metrics_for_file — including starts_with /
    not_starts_with on truncated string bounds and bounds that do not
    compare with the literal — and date and double bounds decoded from
    the written manifest."""
    from iceberg_rust_spark.sources.manifest import DataFile, ManifestEntry
    from iceberg_rust_spark.sources.metadata import PartitionSpec
    from iceberg_rust_spark.sources.scan import TableScan, _pred_columns

    bound = E.bind(pred, S3)
    scan = TableScan(_scan_md(S3, [PartitionSpec(0, [])]), row_filter=pred)

    def only(col, v):
        return {} if v is None else {col: v}

    files = []
    for k, (vc, nc, nanc, xlo, xhi, svc, snc, slo, shi, rec) in \
            enumerate(stats):
        dlo, dhi, fnanc, flo, fhi = (typed[k] if k < len(typed)
                                     else (None,) * 5)
        files.append(DataFile(
            file_path=f"/f{k}.parquet", record_count=rec,
            value_counts={**only("x", vc), **only("s", svc)},
            null_value_counts={**only("x", nc), **only("s", snc)},
            nan_value_counts={**only("x", nanc), **only("f", fnanc)},
            lower_bounds={**only("x", xlo), **only("s", slo),
                          **only("d", dlo), **only("f", flo)},
            upper_bounds={**only("x", xhi), **only("s", shi),
                          **only("d", dhi), **only("f", fhi)},
            schema_id=0, spec_id=0))
    cols = _written_columns([ManifestEntry(
        status=1, snapshot_id=1, sequence_number=1, file_sequence_number=1,
        data_file=f) for f in files])
    vec = scan._vector_matcher(bound, S3, 0, cols, _pred_columns(bound))
    want = [file_might_match(bound, scan._metrics_for_file(f, S3),
                             f.record_count) for f in files]
    assert list(map(bool, vec)) == want, (pred, stats)


@st.composite
def partition_layouts(draw):
    """(spec id, partition dict) per file over two specs — identity(x) as
    ``x`` and truncate[2](s) as ``s_trunc`` — with empty partitions
    (files written unpartitioned) and null partition values mixed in."""
    out = []
    for _ in range(draw(st.integers(1, 20))):
        spec = draw(st.integers(0, 1))
        if draw(st.integers(0, 4)) == 0:
            part = {}
        elif spec == 0:
            part = {"x": draw(st.one_of(st.none(), st.integers(-8, 8)))}
        else:
            part = {"s_trunc": draw(st.one_of(
                st.none(), st.text("abc", max_size=2)))}
        out.append((spec, part))
    return out


@given(pred=mixed_predicates(), layout=partition_layouts(),
       written=st.booleans())
@settings(max_examples=300, deadline=None)
# fixed-width runs where a null value follows a null and a value
@example(pred=E.col("x") == 3, written=True,
         layout=[(0, {"x": None}), (0, {"x": None}), (0, {"x": 3}),
                 (0, {"x": None}), (1, {"s_trunc": None}),
                 (1, {"s_trunc": "ab"})])
def test_partition_mask_equals_per_entry(pred, layout, written):
    """The planner's partition mask (one partition_might_match per
    distinct (partition, spec) pair, scattered by partition_groups codes)
    must equal the per-entry partition_might_match over random multi-spec
    layouts, through ``from_entries`` and through a written manifest."""
    import numpy as np

    from iceberg_rust_spark.functions.transforms import parse_transform
    from iceberg_rust_spark.plans.evaluators import (PartitionFieldInfo,
                                                     inclusive_projection,
                                                     partition_might_match)
    from iceberg_rust_spark.sources.manifest import (DataFile,
                                                     ManifestColumns,
                                                     ManifestEntry)
    from iceberg_rust_spark.sources.scan import TableScan

    specs = {0: [PartitionFieldInfo("x", "x", parse_transform("identity"),
                                    LONG)],
             1: [PartitionFieldInfo("s", "s_trunc",
                                    parse_transform("truncate[2]"),
                                    STRING)]}
    bound = E.bind(pred, S2)
    ppred = {k: inclusive_projection(bound, v) for k, v in specs.items()}
    entries = [ManifestEntry(
        status=1, snapshot_id=1, sequence_number=1, file_sequence_number=1,
        data_file=DataFile(file_path=f"/f{i}.parquet", record_count=1,
                           partition=part, schema_id=0, spec_id=spec))
        for i, (spec, part) in enumerate(layout)]
    cols = (_written_columns(entries) if written
            else ManifestColumns.from_entries(entries))
    rows = np.arange(cols.n)
    got = TableScan._partition_mask(cols, rows, ppred.__getitem__)
    want = [not part or partition_might_match(ppred[spec], part)
            for spec, part in layout]
    assert list(map(bool, got)) == want, (pred, layout)
