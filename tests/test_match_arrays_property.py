"""Property test pinning the planner's bulk delete matcher
(_DeleteFileIndex.match_many) to the spec's delete-attachment rules,
written out brute force in the test: random mixes of DV path-scoped /
file_path-bounded / partition-scoped / global / equality deletes over
random data-file layouts must produce exactly the per-file attachment sets
the rules give — pos deletes when dseq >= seq, eq deletes when dseq > seq,
same (spec_id, partition) or global scope, exact referenced_data_file,
file_path bounds. Each layout runs through columns built from entries
(``ManifestColumns.from_entries``) and through written and re-read
Parquet manifests, which must give equal views. Also pins
ManifestColumns.partition_groups (run-deduplicated decode) to
_partitions_all on random fixed-width and ragged partition maps, and the
Arrow path normalization to its Python twin."""

import os
import uuid

import hypothesis.strategies as st
import numpy as np
import pyarrow as pa
from hypothesis import given, settings

from iceberg_rust_spark.sources.manifest import (CONTENT_EQUALITY_DELETES,
                                                 CONTENT_POSITION_DELETES,
                                                 DataFile, ManifestColumns,
                                                 ManifestEntry,
                                                 read_manifest_columns,
                                                 write_manifest)
from iceberg_rust_spark.sources.scan import (_DeleteFileIndex, _norm_path_py,
                                             _norm_paths)

# spellings of one local path: plain, file:/ and file:///
SCHEMES = ["", "file:", "file://"]


def _canon(i):
    return f"/d/f{i:04d}.parquet"


def _data_entry(i, seq, part, spec=0, scheme=""):
    return ManifestEntry(
        status=1, snapshot_id=1, sequence_number=seq,
        file_sequence_number=seq,
        data_file=DataFile(file_path=scheme + _canon(i),
                           record_count=10, file_size_in_bytes=100,
                           value_counts={"k": 10},
                           null_value_counts={"k": i % 3},
                           lower_bounds={"k": i}, upper_bounds={"k": i + seq},
                           partition=dict(part), schema_id=0, spec_id=spec))


@st.composite
def mor_layout(draw):
    n_files = draw(st.integers(2, 40))
    n_parts = draw(st.integers(1, 4))
    files = []
    for i in range(n_files):
        seq = draw(st.integers(1, 6))
        p = draw(st.integers(0, n_parts - 1))
        part = {} if draw(st.booleans()) and p == 0 else {"p": p}
        files.append((i, seq, part, draw(st.integers(0, 1)),
                      draw(st.sampled_from(SCHEMES))))
    survivors = sorted(draw(st.sets(st.integers(0, n_files - 1),
                                    min_size=1)))
    dels = []
    n_dels = draw(st.integers(0, 200))
    # ranges nest around a few centres, so the running max of the upper
    # bounds (not the neighbour's upper bound) decides how far a stab walks
    centres = draw(st.lists(st.integers(0, n_files - 1), min_size=1,
                            max_size=4))
    for j in range(n_dels):
        kind = draw(st.sampled_from(
            ["dv", "bounded", "gbounded", "pos", "gpos", "eq", "geq"]))
        dseq = draw(st.integers(1, 7))
        dspec = draw(st.integers(0, 1))
        p = draw(st.integers(0, n_parts - 1))
        part = {} if kind.startswith("g") else {"p": p}
        sc = draw(st.sampled_from(SCHEMES))
        if kind == "dv":
            ref_i = draw(st.integers(0, n_files - 1))
            df_ = DataFile(
                file_path=f"/del/dv{j}.puffin", file_format="puffin",
                content=CONTENT_POSITION_DELETES, partition=part,
                record_count=1, file_size_in_bytes=16,
                referenced_data_file=sc + _canon(ref_i),
                content_offset=4, content_size_in_bytes=8,
                schema_id=0, spec_id=dspec)
            spans = (ref_i, ref_i)
        elif kind in ("bounded", "gbounded"):
            c = draw(st.sampled_from(centres))
            w_lo = draw(st.integers(0, n_files))
            w_hi = draw(st.integers(0, n_files))
            lo, hi = max(0, c - w_lo), min(n_files - 1, c + w_hi)
            df_ = DataFile(
                file_path=f"/del/pd{j}.parquet",
                content=CONTENT_POSITION_DELETES, partition=part,
                record_count=5, file_size_in_bytes=64,
                lower_bounds={"file_path": sc + _canon(lo)},
                upper_bounds={"file_path":
                              draw(st.sampled_from(SCHEMES)) + _canon(hi)},
                schema_id=0, spec_id=dspec)
            spans = (lo, hi)
        elif kind in ("pos", "gpos"):
            df_ = DataFile(
                file_path=f"/del/pp{j}.parquet",
                content=CONTENT_POSITION_DELETES, partition=part,
                record_count=5, file_size_in_bytes=64,
                schema_id=0, spec_id=dspec)
            spans = None
        else:
            df_ = DataFile(
                file_path=f"/del/eq{j}.parquet",
                content=CONTENT_EQUALITY_DELETES, partition=part,
                record_count=5, file_size_in_bytes=64, equality_ids=[3],
                schema_id=0, spec_id=dspec)
            spans = None
        dels.append((df_, dseq, spans, draw(st.integers(0, 3))))
    return files, survivors, dels


def _attach_by_rules(files, dels):
    """Brute-force oracle: every (data file, delete) pair checked against
    the spec's rules on canonical path indices, independent of the
    index's data structures and of the paths' spellings."""
    out = {}
    for i, seq, part, spec, _sc in files:
        pos, eq = [], []
        for d, dseq, spans, _m in dels:
            if d.referenced_data_file is not None:
                applies = spans[0] == i
            elif d.partition:
                applies = bool(part) and d.spec_id == spec \
                    and d.partition == part
            else:
                applies = True
            if applies and spans is not None:
                applies = spans[0] <= i <= spans[1]
            if not applies:
                continue
            if d.content == CONTENT_POSITION_DELETES and dseq >= seq:
                pos.append(d.file_path)
            elif d.content == CONTENT_EQUALITY_DELETES and dseq > seq:
                eq.append(d.file_path)
        out[i] = (sorted(pos), sorted(eq))
    return out


def _written(entries, d):
    path = os.path.join(d, f"m-{uuid.uuid4().hex[:8]}.parquet")
    write_manifest(path, entries)
    cols = read_manifest_columns(path)
    assert cols._tab is not None
    return cols


def _assert_same_view(a, b):
    """Two views of one manifest give equal derived arrays."""
    assert a.strings("file_path").equals(b.strings("file_path"))
    assert a.strings("referenced_data_file").equals(
        b.strings("referenced_data_file"))
    ca, pa_ = a.partition_groups()
    cb, pb = b.partition_groups()
    assert np.array_equal(ca, cb) and pa_ == pb
    for name in ("file_path", "k"):
        for x, y in zip(a.string_bounds(name), b.string_bounds(name)):
            assert x.equals(y)
        for x, y in zip(a.metric_vectors(name), b.metric_vectors(name)):
            assert x.dtype == y.dtype and x.tolist() == y.tolist()


@settings(max_examples=200, deadline=None)
@given(layout=mor_layout())
def test_match_arrays_equals_spec_rules(layout, tmp_path_factory):
    files, survivors, dels = layout
    entries = [_data_entry(i, seq, part, spec, sc)
               for i, seq, part, spec, sc in files]
    by_manifest = [[ManifestEntry(status=1, snapshot_id=2,
                                  sequence_number=dseq,
                                  file_sequence_number=dseq, data_file=d)
                    for d, dseq, _s, m in dels if m == k] for k in range(4)]
    want = _attach_by_rules(files, dels)
    want = [want[i] for i in survivors]
    d = str(tmp_path_factory.mktemp("match"))
    for es in [entries] + [es for es in by_manifest if es]:
        _assert_same_view(ManifestColumns.from_entries(es), _written(es, d))
        assert all(a is b for a, b in zip(
            ManifestColumns.from_entries(es).entries(), es, strict=True))
    for build in (ManifestColumns.from_entries,
                  lambda es: _written(es, d)):
        index = _DeleteFileIndex([build(es) for es in by_manifest if es])
        cols = build(entries)
        sets = index.match_many([(cols, np.array(survivors))])[0]
        got = []
        for j in range(len(survivors)):
            s = sets[j] if sets is not None else None
            got.append(([], []) if s is None else (
                sorted(index._file(x).file_path for x in s[0]),
                sorted(index._file(x).file_path for x in s[1])))
        assert got == want
        if sets is not None:
            # equal sets share one interned tuple
            by_val = {}
            for s in sets:
                if s is not None:
                    assert by_val.setdefault(
                        tuple(map(id, s[0] + s[1])), s) is s


@settings(max_examples=300, deadline=None)
@given(paths=st.lists(st.tuples(
    st.sampled_from(["", "file:", "file:/", "file://", "file:///",
                     "file:\n/", "FILE:/", " file:/", "xfile:/"]),
    st.text(alphabet=st.one_of(st.characters(exclude_categories=["Cs"]),
                               st.sampled_from("/:\n")))),
    max_size=12))
def test_norm_paths_equals_norm_path_py(paths):
    """The Arrow normalization of data and delete paths equals the
    per-value one, for any text a manifest can hold (UTF-8, so no lone
    surrogates)."""
    vals = [a + b for a, b in paths]
    got = _norm_paths(pa.array(vals, pa.string())).to_pylist()
    assert got == [_norm_path_py(v) for v in vals]


part_values = st.one_of(st.integers(-5, 5), st.text(max_size=3),
                        st.none(), st.booleans())


@settings(max_examples=150, deadline=None)
@given(rows=st.lists(
    st.dictionaries(st.sampled_from(["a", "b", "c"]), part_values,
                    max_size=3),
    min_size=0, max_size=30))
def test_partition_groups_matches_partitions_all(rows):
    entries = [_data_entry(i, 1, {}) for i in range(len(rows))]
    for e, part in zip(entries, rows):
        e.data_file.partition = part
    oc = ManifestColumns.from_entries(entries)
    codes, parts = oc.partition_groups()
    assert [parts[c] for c in codes] == [e.data_file.partition
                                         for e in entries]


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(
    st.dictionaries(st.sampled_from(["a", "b", "c"]),
                    st.one_of(st.integers(-5, 5), st.text(max_size=3)),
                    max_size=3),
    min_size=1, max_size=25))
def test_partition_groups_arrow_backed(rows, tmp_path_factory):
    """Arrow-backed partition_groups (vectorized fixed-width run detection
    + ragged fallback) must agree with the per-row decode after a real
    manifest write/read round trip — mixed key sets across rows exercise
    the ragged branch, constant key sets the reshape branch."""
    entries = [_data_entry(i, 1, part) for i, part in enumerate(rows)]
    cols = _written(entries, str(tmp_path_factory.mktemp("pg_arrow")))
    codes, parts = cols.partition_groups()
    assert [parts[c] for c in codes] == cols._partitions_all()
