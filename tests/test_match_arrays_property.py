"""Property test pinning the planner's bulk delete matcher
(_DeleteFileIndex.match_arrays) to the spec's delete-attachment rules,
written out brute force in the test: random mixes of DV path-scoped /
file_path-bounded / partition-scoped / global / equality deletes over
random data-file layouts must produce exactly the per-file attachment sets
the rules give — pos deletes when dseq >= seq, eq deletes when dseq > seq,
same (spec_id, partition) or global scope, exact referenced_data_file,
file_path bounds. Also pins ManifestColumns.partition_groups
(run-deduplicated decode) to _partitions_all on random fixed-width and
ragged partition maps."""

import hypothesis.strategies as st
from hypothesis import given, settings

from iceberg_rust_spark.sources.manifest import (CONTENT_EQUALITY_DELETES,
                                                 CONTENT_POSITION_DELETES,
                                                 DataFile, ManifestColumns,
                                                 ManifestEntry)
from iceberg_rust_spark.sources.scan import _DeleteFileIndex


def _data_entry(i, seq, part, spec=0):
    return ManifestEntry(
        status=1, snapshot_id=1, sequence_number=seq,
        file_sequence_number=seq,
        data_file=DataFile(file_path=f"/d/f{i:04d}.parquet",
                           record_count=10, file_size_in_bytes=100,
                           partition=dict(part), schema_id=0, spec_id=spec))


@st.composite
def mor_layout(draw):
    n_files = draw(st.integers(2, 24))
    n_parts = draw(st.integers(1, 4))
    files = []
    for i in range(n_files):
        seq = draw(st.integers(1, 6))
        p = draw(st.integers(0, n_parts - 1))
        part = {} if draw(st.booleans()) and p == 0 else {"p": p}
        files.append((i, seq, part, draw(st.integers(0, 1))))
    dels = []
    n_dels = draw(st.integers(0, 16))
    for j in range(n_dels):
        kind = draw(st.sampled_from(["dv", "bounded", "pos", "eq", "geq"]))
        dseq = draw(st.integers(1, 7))
        dspec = draw(st.integers(0, 1))
        p = draw(st.integers(0, n_parts - 1))
        if kind == "dv":
            ref_i = draw(st.integers(0, n_files - 1))
            dels.append(DataFile(
                file_path=f"/del/dv{j}.puffin", file_format="puffin",
                content=CONTENT_POSITION_DELETES, partition={"p": p},
                record_count=1, file_size_in_bytes=16,
                referenced_data_file=f"/d/f{ref_i:04d}.parquet",
                content_offset=4, content_size_in_bytes=8,
                schema_id=0, spec_id=dspec))
        elif kind == "bounded":
            lo = draw(st.integers(0, n_files - 1))
            hi = draw(st.integers(lo, n_files - 1))
            dels.append(DataFile(
                file_path=f"/del/pd{j}.parquet",
                content=CONTENT_POSITION_DELETES, partition={"p": p},
                record_count=5, file_size_in_bytes=64,
                lower_bounds={"file_path": f"/d/f{lo:04d}.parquet"},
                upper_bounds={"file_path": f"/d/f{hi:04d}.parquet"},
                schema_id=0, spec_id=dspec))
        elif kind == "pos":
            dels.append(DataFile(
                file_path=f"/del/pp{j}.parquet",
                content=CONTENT_POSITION_DELETES, partition={"p": p},
                record_count=5, file_size_in_bytes=64,
                schema_id=0, spec_id=dspec))
        elif kind == "eq":
            dels.append(DataFile(
                file_path=f"/del/eq{j}.parquet",
                content=CONTENT_EQUALITY_DELETES, partition={"p": p},
                record_count=5, file_size_in_bytes=64, equality_ids=[3],
                schema_id=0, spec_id=dspec))
        else:                               # global equality delete
            dels.append(DataFile(
                file_path=f"/del/geq{j}.parquet",
                content=CONTENT_EQUALITY_DELETES, partition={},
                record_count=5, file_size_in_bytes=64, equality_ids=[3],
                schema_id=0, spec_id=dspec))
        dels[-1] = (dels[-1], dseq)
    return files, dels


def _attach_by_rules(entries, dels):
    """Brute-force oracle: every (data file, delete) pair checked against
    the spec's rules, independent of the index's data structures."""
    out = {}
    for e in entries:
        f, seq = e.data_file, e.sequence_number
        pos, eq = [], []
        for d, dseq in dels:
            if d.referenced_data_file is not None:
                applies = d.referenced_data_file == f.file_path
            elif d.partition:
                applies = (bool(f.partition) and d.spec_id == f.spec_id
                           and d.partition == f.partition)
            else:
                applies = True
            lo = d.lower_bounds.get("file_path")
            hi = d.upper_bounds.get("file_path")
            if (applies and d.content == CONTENT_POSITION_DELETES
                    and d.referenced_data_file is None
                    and lo is not None and hi is not None):
                applies = lo <= f.file_path <= hi
            if not applies:
                continue
            if d.content == CONTENT_POSITION_DELETES and dseq >= seq:
                pos.append(d.file_path)
            elif d.content == CONTENT_EQUALITY_DELETES and dseq > seq:
                eq.append(d.file_path)
        out[f.file_path] = (sorted(pos), sorted(eq))
    return out


@settings(max_examples=200, deadline=None)
@given(layout=mor_layout())
def test_match_arrays_equals_spec_rules(layout):
    import numpy as np
    files, dels = layout
    entries = [_data_entry(i, seq, part, spec)
               for i, seq, part, spec in files]
    index = _DeleteFileIndex()
    for df_, dseq in dels:
        index.add_entry(ManifestEntry(
            status=1, snapshot_id=2, sequence_number=dseq,
            file_sequence_number=dseq, data_file=df_))
    want = _attach_by_rules(entries, dels)

    cols = ManifestColumns.from_entries(entries)
    idx = np.arange(cols.n)
    sets = index.match_arrays(cols, idx)
    got = {}
    for j, e in enumerate(entries):
        s = sets[j] if sets is not None else None
        if s is None:
            got[e.data_file.file_path] = ([], [])
        else:
            got[e.data_file.file_path] = (
                sorted(index._file(x).file_path for x in s[0]),
                sorted(index._file(x).file_path for x in s[1]))
    assert got == want


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
    # object-backed
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
    import os
    import uuid

    from iceberg_rust_spark.sources.manifest import (read_manifest_columns,
                                                     write_manifest)

    entries = [_data_entry(i, 1, part) for i, part in enumerate(rows)]
    d = tmp_path_factory.mktemp("pg_arrow")
    path = os.path.join(str(d), f"m-{uuid.uuid4().hex[:8]}.parquet")
    write_manifest(path, entries)
    cols = read_manifest_columns(path)
    assert cols._tab is not None
    codes, parts = cols.partition_groups()
    assert [parts[c] for c in codes] == cols._partitions_all()
