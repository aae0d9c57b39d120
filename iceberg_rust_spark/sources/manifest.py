"""Manifests & manifest lists: DataFile / ManifestEntry / ManifestFile + IO.

Model parity with the reference's Avro manifests
(/root/reference/crates/iceberg/src/spec/manifest/entry.rs:39,
spec/manifest/data_file.rs:36, spec/manifest_list/manifest_file.rs:31), stored
as **Parquet** via pyarrow (no Avro lib in this env; columnar metadata also
lets the planner read just the pruning columns). Per-file column metrics
(record_count, value/null/nan counts, lower/upper bounds) are the fuel for all
file-level pruning. Layout v2: counts as native map<string,int64>, bounds and
partition values as map<string,string> with a one-character tag-scalar
encoding (datum.ser_scalar) — the flat child arrays decode C-side, and
ManifestColumns lets the planner evaluate without building per-entry objects.
v1 files (per-cell type-tagged JSON) stay readable.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq

from .datum import (days_from_date, de_value, micros_from_ts, ser_scalar,
                    ser_value)

# DataContentType (spec/manifest/data_file.rs)
CONTENT_DATA = 0
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2

# ManifestEntry status
STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2


@dataclass(slots=True)
class DataFile:
    # slots: 100k+ cached entries per large table — the per-instance dict
    # was ~40% of entry RSS and ~half of construction time
    file_path: str
    file_format: str = "parquet"
    content: int = CONTENT_DATA
    partition: Dict[str, Any] = dc_field(default_factory=dict)  # partition col name -> value
    record_count: int = 0
    file_size_in_bytes: int = 0
    column_sizes: Dict[str, int] = dc_field(default_factory=dict)
    value_counts: Dict[str, int] = dc_field(default_factory=dict)
    null_value_counts: Dict[str, int] = dc_field(default_factory=dict)
    nan_value_counts: Dict[str, int] = dc_field(default_factory=dict)
    lower_bounds: Dict[str, Any] = dc_field(default_factory=dict)
    upper_bounds: Dict[str, Any] = dc_field(default_factory=dict)
    split_offsets: List[int] = dc_field(default_factory=list)
    equality_ids: List[int] = dc_field(default_factory=list)  # column names resolved via schema ids
    sort_order_id: Optional[int] = None
    schema_id: Optional[int] = None  # schema under which this file was written
    spec_id: int = 0
    # deletion-vector support (v3; data_file.rs:171-179): a DV "file" is a
    # blob inside a Puffin file scoped to ONE data file
    referenced_data_file: Optional[str] = None
    content_offset: Optional[int] = None
    content_size_in_bytes: Optional[int] = None
    # v3 row lineage (scan/task.rs:70-76): _row_id = first_row_id + position
    first_row_id: Optional[int] = None


@dataclass(slots=True)
class ManifestEntry:
    status: int
    snapshot_id: int
    sequence_number: int
    file_sequence_number: int
    data_file: DataFile


@dataclass(slots=True)
class FieldSummaryRec:
    contains_null: bool = False
    contains_nan: Optional[bool] = None
    lower: Any = None
    upper: Any = None


@dataclass(slots=True)
class ManifestFile:
    manifest_path: str
    manifest_length: int
    partition_spec_id: int
    content: int  # 0 data, 1 deletes
    sequence_number: int
    min_sequence_number: int
    added_snapshot_id: int
    added_files_count: int = 0
    existing_files_count: int = 0
    deleted_files_count: int = 0
    added_rows_count: int = 0
    existing_rows_count: int = 0
    deleted_rows_count: int = 0
    partitions: Dict[str, FieldSummaryRec] = dc_field(default_factory=dict)


# ---------------------------------------------------------------------------
# Manifest file IO (one parquet per manifest; rows = entries)
# ---------------------------------------------------------------------------

# v2 columnar layout: counts/sizes as native map<string,int64>, bounds and
# partition values as map<string,string> with the tag-scalar encoding
# (datum.ser_scalar), lists as native lists. The v1 layout packed these as
# per-cell JSON strings; decoding them was ~65% of cold 100k-file planning
# wall (json.loads is GIL-bound Python), while the flat child arrays of
# map/list columns decode C-side. v1 files remain readable (read_manifest
# dispatches on column names).
_MANIFEST_SCHEMA = pa.schema([
    ("status", pa.int32()),
    ("snapshot_id", pa.int64()),
    ("sequence_number", pa.int64()),
    ("file_sequence_number", pa.int64()),
    ("content", pa.int32()),
    ("file_path", pa.string()),
    ("file_format", pa.string()),
    ("spec_id", pa.int32()),
    ("schema_id", pa.int32()),
    ("partition", pa.map_(pa.string(), pa.string())),
    ("record_count", pa.int64()),
    ("file_size_in_bytes", pa.int64()),
    ("column_sizes", pa.map_(pa.string(), pa.int64())),
    ("value_counts", pa.map_(pa.string(), pa.int64())),
    ("null_value_counts", pa.map_(pa.string(), pa.int64())),
    ("nan_value_counts", pa.map_(pa.string(), pa.int64())),
    ("lower_bounds", pa.map_(pa.string(), pa.string())),
    ("upper_bounds", pa.map_(pa.string(), pa.string())),
    ("split_offsets", pa.list_(pa.int64())),
    ("equality_ids", pa.list_(pa.int64())),
    ("sort_order_id", pa.int32()),
    ("referenced_data_file", pa.string()),
    ("content_offset", pa.int64()),
    ("content_size_in_bytes", pa.int64()),
    ("first_row_id", pa.int64()),
])


def _de_map(s: Optional[str]) -> Dict[str, Any]:
    if not s or s == "{}":
        return {}
    return {k: de_value(v) for k, v in json.loads(s).items()}


def _write_pq_via_io(table: "pa.Table", path: str) -> int:
    """Serialize a metadata parquet through FileIO (any backend)."""
    import io as _io

    from .io import file_io_for
    buf = _io.BytesIO()
    pq.write_table(table, buf, compression="zstd")
    data = buf.getvalue()
    file_io_for(path).write_bytes(path, data)
    return len(data)


def _read_pq_via_io(path: str) -> "pa.Table":
    """Read a metadata parquet (manifest or manifest list) through FileIO.
    One ``ParquetFile`` read on the calling thread: ``pq.read_table`` goes
    through the dataset API and Arrow's own thread pool, which inside the
    planner's decode pool cost 5.0 ms against 3.2 ms per 1000-entry
    manifest."""
    from .io import file_io_for
    data = file_io_for(path).read_bytes(path)
    return pq.ParquetFile(pa.BufferReader(data)).read(use_threads=False)


def entries_table(entries: List[ManifestEntry]) -> "pa.Table":
    """Entries in the v2 columnar layout: the one encoder behind both
    ``write_manifest`` and ``ManifestColumns.from_entries``."""
    rows: Dict[str, list] = {name: [] for name in _MANIFEST_SCHEMA.names}
    for e in entries:
        f = e.data_file
        rows["status"].append(e.status)
        rows["snapshot_id"].append(e.snapshot_id)
        rows["sequence_number"].append(e.sequence_number)
        rows["file_sequence_number"].append(e.file_sequence_number)
        rows["content"].append(f.content)
        rows["file_path"].append(f.file_path)
        rows["file_format"].append(f.file_format)
        rows["spec_id"].append(f.spec_id)
        rows["schema_id"].append(f.schema_id if f.schema_id is not None else -1)
        rows["partition"].append(
            [(k, ser_scalar(v)) for k, v in f.partition.items()])
        rows["record_count"].append(f.record_count)
        rows["file_size_in_bytes"].append(f.file_size_in_bytes)
        rows["column_sizes"].append(list(f.column_sizes.items()))
        rows["value_counts"].append(list(f.value_counts.items()))
        rows["null_value_counts"].append(list(f.null_value_counts.items()))
        rows["nan_value_counts"].append(list(f.nan_value_counts.items()))
        rows["lower_bounds"].append(
            [(k, ser_scalar(v)) for k, v in f.lower_bounds.items()])
        rows["upper_bounds"].append(
            [(k, ser_scalar(v)) for k, v in f.upper_bounds.items()])
        rows["split_offsets"].append(f.split_offsets)
        rows["equality_ids"].append(f.equality_ids)
        rows["sort_order_id"].append(f.sort_order_id if f.sort_order_id is not None else -1)
        rows["referenced_data_file"].append(f.referenced_data_file)
        rows["content_offset"].append(f.content_offset)
        rows["content_size_in_bytes"].append(f.content_size_in_bytes)
        rows["first_row_id"].append(f.first_row_id)
    return pa.table(rows, schema=_MANIFEST_SCHEMA)


def write_manifest(path: str, entries: List[ManifestEntry]) -> int:
    return _write_pq_via_io(entries_table(entries), path)


def _jd(s: Optional[str]) -> dict:
    """json.loads with an empty fast path: at 100k-file scale the decode
    runs once per entry per json column, and NaN counts/column sizes are
    '{}' for most writers — skipping the parser there is ~25% of cold
    manifest-decode wall (measured: loads('{}') 1.4us, 8-key dict 3.8us)."""
    if not s or s == "{}":
        return {}
    return json.loads(s)


def _jl(s: Optional[str]) -> list:
    if not s or s == "[]":
        return []
    return json.loads(s)


def _read_manifest_v1(t: "pa.Table") -> List[ManifestEntry]:
    """Legacy JSON-cell layout (kept readable for tables written before the
    columnar v2 layout)."""
    out: List[ManifestEntry] = []
    cols = {name: t.column(name).to_pylist() for name in t.schema.names}
    n = t.num_rows
    # columns added after a manifest was written read as all-None
    for name in ("referenced_data_file", "content_offset",
                 "content_size_in_bytes", "first_row_id"):
        cols.setdefault(name, [None] * n)
    for i in range(n):
        df = DataFile(
            file_path=cols["file_path"][i],
            file_format=cols["file_format"][i],
            content=cols["content"][i],
            partition=_de_map(cols["partition_json"][i]),
            record_count=cols["record_count"][i],
            file_size_in_bytes=cols["file_size_in_bytes"][i],
            column_sizes=_jd(cols["column_sizes_json"][i]),
            value_counts=_jd(cols["value_counts_json"][i]),
            null_value_counts=_jd(cols["null_value_counts_json"][i]),
            nan_value_counts=_jd(cols["nan_value_counts_json"][i]),
            lower_bounds=_de_map(cols["lower_bounds_json"][i]),
            upper_bounds=_de_map(cols["upper_bounds_json"][i]),
            split_offsets=_jl(cols["split_offsets_json"][i]),
            equality_ids=_jl(cols["equality_ids_json"][i]),
            sort_order_id=None if cols["sort_order_id"][i] == -1 else cols["sort_order_id"][i],
            schema_id=None if cols["schema_id"][i] == -1 else cols["schema_id"][i],
            spec_id=cols["spec_id"][i],
            referenced_data_file=cols["referenced_data_file"][i],
            content_offset=cols["content_offset"][i],
            content_size_in_bytes=cols["content_size_in_bytes"][i],
            first_row_id=cols["first_row_id"][i],
        )
        out.append(ManifestEntry(
            status=cols["status"][i], snapshot_id=cols["snapshot_id"][i],
            sequence_number=cols["sequence_number"][i],
            file_sequence_number=cols["file_sequence_number"][i], data_file=df))
    return out


# the tags whose body is an integer, with the range the per-value decode
# accepts (date_from_days / ts_from_micros raise outside it)
_INT_TAGS = {
    "i": None,
    "d": (days_from_date(dt.date.min), days_from_date(dt.date.max)),
    "t": (micros_from_ts(dt.datetime.min), micros_from_ts(dt.datetime.max)),
}


def decode_bounds(items: "pa.Array") -> tuple:
    """``(values, nan)`` for a string array of tag-scalar cells (see
    ``datum.ser_scalar``): ``values`` is an object array whose element i
    equals ``to_comparable(de_scalar(items[i]))`` in type and value (None
    for a null cell), ``nan`` a bool array marking float NaN values.

    Decodes per tag group in Arrow kernels: ``i``/``d``/``t`` cast the
    body to int64 (the comparable form of a date or timestamp is its
    int), ``s`` slices, ``f`` casts to float64 (bit-exact on ``repr``
    output, nan and the infinities included). ``c``, ``x``, ``b``,
    unknown tags and any group whose cast raises or whose ints fall
    outside the per-value decode's range decode per value, raising where
    it raises. Values stay Python objects, so the planner's comparisons
    against literals stay exact (an int64 bound against a float64 literal
    would round above 2^53)."""
    import numpy as np
    import pyarrow.compute as pc
    n = len(items)
    values = np.full(n, None, dtype=object)
    nan = np.zeros(n, dtype=bool)
    if n == items.null_count:
        return values, nan
    tags = pc.utf8_slice_codeunits(items, 0, 1)
    body = pc.utf8_slice_codeunits(items, 2)
    for tag in pc.unique(tags.drop_null()).to_pylist():
        mask = pc.fill_null(pc.equal(tags, tag), False)
        rows = np.nonzero(mask.to_numpy(zero_copy_only=False))[0]
        got = None
        try:
            if tag in _INT_TAGS:
                ints = pc.cast(body.filter(mask), pa.int64()).to_numpy()
                lim = _INT_TAGS[tag]
                if lim is None or (lim[0] <= ints.min()
                                   and ints.max() <= lim[1]):
                    got = ints.tolist()
            elif tag == "s":
                got = body.filter(mask).to_pylist()
            elif tag == "f":
                floats = pc.cast(body.filter(mask), pa.float64()).to_numpy()
                nan[rows] = np.isnan(floats)
                got = floats.tolist()
        except pa.ArrowInvalid:
            pass                        # decoded per value below
        if got is None:
            from .datum import de_scalar, to_comparable
            got = [to_comparable(de_scalar(v))
                   for v in items.filter(mask).to_pylist()]
            nan[rows] = [isinstance(v, float) and v != v for v in got]
        values[rows] = got
    return values, nan


class ManifestColumns:
    """Columnar view of one manifest for O(metadata) planning (counterpart
    of the reference streaming Avro entries through the evaluator without
    materializing them, scan/mod.rs:420-499): the planner filters on flat
    numpy/Arrow arrays and builds per-entry Python objects ONLY for
    survivors — at 100k files a metrics-selective scan constructs a
    handful of DataFiles instead of 100k (measured ~8us per entry+file
    pair, ~0.8s avoided per cold plan).

    Backed by the manifest's Arrow table alone; entries built elsewhere
    (``from_entries``) are encoded into that layout first. Eager: the
    five per-row primitives planning always touches, as numpy. Lazy
    (built on first touch, memoized): per-column metric vectors
    (``metric_vectors``), partition groups and dicts, full entry
    objects."""

    __slots__ = ("n", "status", "content", "spec_id", "schema_id_raw",
                 "record_count", "sequence_number", "_tab", "_cols",
                 "_metrics", "_partitions", "_entries", "_entry_memo")

    def __init__(self, table: "pa.Table"):
        self._metrics: Dict[str, tuple] = {}
        self._partitions: Optional[list] = None
        self._entries: Optional[List[ManifestEntry]] = None
        self._entry_memo: Dict[int, ManifestEntry] = {}
        self._cols: Dict[str, Any] = {}
        self._tab = table.combine_chunks()
        self.n = table.num_rows

        def npcol(name):
            return self._tab.column(name).to_numpy(zero_copy_only=False)

        self.status = npcol("status")
        self.content = npcol("content")
        self.spec_id = npcol("spec_id")
        self.schema_id_raw = npcol("schema_id")
        self.record_count = npcol("record_count")
        self.sequence_number = npcol("sequence_number")

    @classmethod
    def from_entries(cls, entries: List[ManifestEntry]) -> "ManifestColumns":
        """The view of already-built entries (v1 and Avro manifests, stray
        data rows of delete manifests): encoded as a written manifest
        would be, with the caller's objects kept as the entry memo, so
        ``entries()``, ``entry()`` and ``data_file_lite()`` return them."""
        cols = cls(entries_table(entries))
        cols._entries = list(entries)
        return cols

    # -- lazy column access ------------------------------------------------
    def _chunk(self, name: str) -> "pa.Array":
        arr = self._tab.column(name)
        if arr.num_chunks:
            return arr.chunk(0)     # combine_chunks() left exactly one
        return pa.array([], type=arr.type)   # 0-row parquet: no chunks

    def _col(self, name: str) -> list:
        got = self._cols.get(name)
        if got is None:
            got = self._cols[name] = self._chunk(name).to_pylist()
        return got

    def file_paths(self) -> list:
        return self._col("file_path")

    def strings(self, name: str) -> "pa.Array":
        """A string column of the data file (``file_path``,
        ``referenced_data_file``) as one Arrow array."""
        return self._chunk(name)

    def file_sizes(self) -> list:
        return self._col("file_size_in_bytes")

    def first_row_ids(self) -> list:
        return self._col("first_row_id")

    def _map_parts(self, name: str):
        """(offsets numpy, keys flat Arrow, items flat Arrow) of a map
        column — the C-decoded raw parts every per-key extraction slices.
        MapArray.to_pylist() is ~13us/row; the flat parts are ~0.3us."""
        key = "__parts__" + name
        got = self._cols.get(key)
        if got is None:
            arr = self._chunk(name)
            got = self._cols[key] = (
                arr.offsets.to_numpy(zero_copy_only=False),
                arr.keys, arr.items)
        return got

    def metric_vectors(self, file_name: str) -> tuple:
        """The per-row metrics of ONE file-local column name, extracted
        once per (manifest, column) and memoized: counts as exact int64
        PLUS a presence bool mask (a NaN-sentinel float64 encoding would
        silently lose precision above 2^53 and could read ``vc == nc``
        spuriously true — a prune, not a conservative keep), bounds as
        object arrays of ``to_comparable(de_scalar(v))`` values (see
        ``decode_bounds``) with NaN bounds nulled, plus presence masks.
        Returns ``(vc, vc_p, nc, nc_p, nanc, nanc_p, lo, lo_p, hi, hi_p)``
        — what the planner's metrics matcher (scan._vector_matcher)
        reads. Each map column costs one key-equality kernel and one
        ``take``; the planner touches only the predicate's referenced
        columns."""
        got = self._metrics.get(file_name)
        if got is not None:
            return got
        import numpy as np
        import pyarrow.compute as pc
        n = self.n

        def take(col):
            return self._map_take(col, file_name)

        def counts(col):
            rows, got = take(col)
            vals = np.zeros(n, dtype="int64")
            present = np.zeros(n, dtype=bool)
            vals[rows] = pc.fill_null(got, 0).to_numpy(
                zero_copy_only=False)
            present[rows] = got.is_valid().to_numpy(
                zero_copy_only=False)
            return vals, present

        def bounds(col):
            rows, got = take(col)
            dec, nan = decode_bounds(got)
            dec[nan] = None
            vals = np.full(n, None, dtype=object)
            present = np.zeros(n, dtype=bool)
            vals[rows] = dec
            present[rows] = (got.is_valid().to_numpy(zero_copy_only=False)
                             & ~nan)
            return vals, present

        got = self._metrics[file_name] = (
            *counts("value_counts"), *counts("null_value_counts"),
            *counts("nan_value_counts"), *bounds("lower_bounds"),
            *bounds("upper_bounds"))
        return got

    def _map_take(self, col: str, key: str) -> tuple:
        """(rows, items) of the cells of map column ``col`` keyed ``key``:
        one key-equality kernel and one ``take`` over the flat parts."""
        import numpy as np
        import pyarrow.compute as pc
        offs, keys, items = self._map_parts(col)
        idx = np.nonzero(pc.equal(keys, key).to_numpy(zero_copy_only=False))[0]
        rows = np.searchsorted(offs, idx, side="right") - 1
        return rows, items.take(pa.array(idx, type=pa.int64()))

    def string_bounds(self, file_name: str) -> tuple:
        """``(lower, upper)`` Arrow string arrays aligned to rows of the
        ``file_name`` bounds that are strings (null elsewhere): the delete
        index's ``file_path`` ranges, from the two bound maps only."""
        import numpy as np
        import pyarrow.compute as pc
        out = []
        for col in ("lower_bounds", "upper_bounds"):
            rows, items = self._map_take(col, file_name)
            body = pc.if_else(pc.starts_with(items, "s:"),
                              pc.utf8_slice_codeunits(items, 2),
                              pa.scalar(None, pa.string()))
            at = np.full(self.n, -1, dtype=np.int64)
            at[rows] = np.arange(len(rows))
            out.append(body.take(pa.array(at, mask=at < 0)))
        return tuple(out)

    def _map_row(self, name: str, i: int, decode=None) -> Dict[str, Any]:
        offs, keys, items = self._map_parts(name)
        lo, hi = int(offs[i]), int(offs[i + 1])
        if lo == hi:
            return {}
        ks = keys.slice(lo, hi - lo).to_pylist()
        vs = items.slice(lo, hi - lo).to_pylist()
        if decode is not None:
            vs = [decode(v) for v in vs]
        return dict(zip(ks, vs))

    def partition(self, i: int) -> Dict[str, Any]:
        return self._partitions_all()[i]

    def _list_row(self, name: str, i: int) -> list:
        arr = self._chunk(name)
        offs = self._cols.get("__loffs__" + name)
        if offs is None:
            offs = self._cols["__loffs__" + name] = \
                arr.offsets.to_numpy(zero_copy_only=False)
        lo, hi = int(offs[i]), int(offs[i + 1])
        return arr.values.slice(lo, hi - lo).to_pylist() if hi > lo else []

    def data_file_lite(self, i: int) -> DataFile:
        """DataFile WITHOUT the six per-column stat/bound map decodes —
        the shape survivor-MATCHED delete files take. The read path
        consumes only path/format/content/offsets/equality_ids from a
        task's attached deletes, and the delete file's stats were already
        consumed from the flat arrays during index routing; decoding the
        maps anyway was 7.7s of a 16s cold full-scan MOR plan at 100k
        files (100k DV materializations x six _map_row decodes each)."""
        if self._entries is not None:
            return self._entries[i].data_file
        key = ("lite", i)
        got = self._entry_memo.get(key)
        if got is not None:
            return got
        c = self._col
        sort_order = c("sort_order_id")[i]
        schema_id = int(self.schema_id_raw[i])
        content = int(self.content[i])
        df = DataFile(
            file_path=c("file_path")[i],
            file_format=c("file_format")[i],
            content=content,
            partition=self.partition(i),
            record_count=int(self.record_count[i]),
            file_size_in_bytes=c("file_size_in_bytes")[i],
            # only equality deletes carry ids; pos deletes skip the
            # list-offset decode (100k DV rows per cold full-scan plan)
            equality_ids=(self._list_row("equality_ids", i)
                          if content == CONTENT_EQUALITY_DELETES else []),
            sort_order_id=None if sort_order == -1 else sort_order,
            schema_id=None if schema_id == -1 else schema_id,
            spec_id=int(self.spec_id[i]),
            referenced_data_file=c("referenced_data_file")[i],
            content_offset=c("content_offset")[i],
            content_size_in_bytes=c("content_size_in_bytes")[i],
            first_row_id=c("first_row_id")[i],
        )
        self._entry_memo[key] = df
        return df

    def entry(self, i: int) -> ManifestEntry:
        if self._entries is not None:
            return self._entries[i]
        got = self._entry_memo.get(i)
        if got is not None:
            return got
        from .datum import de_scalar
        c = self._col
        sort_order = c("sort_order_id")[i]
        schema_id = int(self.schema_id_raw[i])
        df = DataFile(
            file_path=c("file_path")[i],
            file_format=c("file_format")[i],
            content=int(self.content[i]),
            partition=self.partition(i),
            record_count=int(self.record_count[i]),
            file_size_in_bytes=c("file_size_in_bytes")[i],
            column_sizes=self._map_row("column_sizes", i),
            value_counts=self._map_row("value_counts", i),
            null_value_counts=self._map_row("null_value_counts", i),
            nan_value_counts=self._map_row("nan_value_counts", i),
            lower_bounds=self._map_row("lower_bounds", i, de_scalar),
            upper_bounds=self._map_row("upper_bounds", i, de_scalar),
            split_offsets=self._list_row("split_offsets", i),
            equality_ids=self._list_row("equality_ids", i),
            sort_order_id=None if sort_order == -1 else sort_order,
            schema_id=None if schema_id == -1 else schema_id,
            spec_id=int(self.spec_id[i]),
            referenced_data_file=c("referenced_data_file")[i],
            content_offset=c("content_offset")[i],
            content_size_in_bytes=c("content_size_in_bytes")[i],
            first_row_id=c("first_row_id")[i],
        )
        got = self._entry_memo[i] = ManifestEntry(
            status=int(self.status[i]),
            snapshot_id=c("snapshot_id")[i],
            sequence_number=int(self.sequence_number[i]),
            file_sequence_number=c("file_sequence_number")[i],
            data_file=df)
        return got

    def _map_dicts(self, name: str, decode=None) -> list:
        """All rows of a map column as dicts: one flat C decode + a
        zip/dict loop (~2.5us/row vs ~30us/row of per-row slices)."""
        offs, keys, items = self._map_parts(name)
        ks = keys.to_pylist()
        vs = items.to_pylist()
        if decode is not None:
            vs = [decode(v) for v in vs]
        out, lo = [], int(offs[0]) if len(offs) else 0
        for hi in offs[1:]:
            hi = int(hi)
            out.append(dict(zip(ks[lo:hi], vs[lo:hi])))
            lo = hi
        return out

    def _list_rows(self, name: str) -> list:
        arr = self._chunk(name)
        offs = arr.offsets.to_numpy(zero_copy_only=False)
        flat = arr.values.to_pylist()
        out, lo = [], int(offs[0]) if len(offs) else 0
        for hi in offs[1:]:
            hi = int(hi)
            out.append(flat[lo:hi])
            lo = hi
        return out

    def entries(self) -> List[ManifestEntry]:
        """All entry objects, built in ONE columnar pass (full-scan plans
        and maintenance walks); per-row ``entry(i)`` stays for the sparse
        survivor case."""
        if self._entries is not None:
            return self._entries
        if self.n == 0:
            self._entries = []
            return self._entries
        from .datum import de_scalar
        c = self._col
        it = zip(range(self.n), c("file_path"), c("file_format"),
                 self._partitions_all(), c("file_size_in_bytes"),
                 self._map_dicts("column_sizes"),
                 self._map_dicts("value_counts"),
                 self._map_dicts("null_value_counts"),
                 self._map_dicts("nan_value_counts"),
                 self._map_dicts("lower_bounds", de_scalar),
                 self._map_dicts("upper_bounds", de_scalar),
                 self._list_rows("split_offsets"),
                 self._list_rows("equality_ids"),
                 c("sort_order_id"), c("referenced_data_file"),
                 c("content_offset"), c("content_size_in_bytes"),
                 c("first_row_id"), c("snapshot_id"),
                 c("file_sequence_number"))
        status, content = self.status, self.content
        spec_id, schema_raw = self.spec_id, self.schema_id_raw
        rec, seq = self.record_count, self.sequence_number
        out: List[ManifestEntry] = []
        for (i, fp, fmt, part, fsz, csz, vcnt, ncnt, nancnt, lob, upb,
             splits, eqids, soid, refd, coff, clen, frid, snap,
             fseq) in it:
            out.append(ManifestEntry(
                status=int(status[i]), snapshot_id=snap,
                sequence_number=int(seq[i]), file_sequence_number=fseq,
                data_file=DataFile(
                    file_path=fp, file_format=fmt,
                    content=int(content[i]), partition=part,
                    record_count=int(rec[i]), file_size_in_bytes=fsz,
                    column_sizes=csz, value_counts=vcnt,
                    null_value_counts=ncnt, nan_value_counts=nancnt,
                    lower_bounds=lob, upper_bounds=upb,
                    split_offsets=splits, equality_ids=eqids,
                    sort_order_id=None if soid == -1 else soid,
                    schema_id=(None if schema_raw[i] == -1
                               else int(schema_raw[i])),
                    spec_id=int(spec_id[i]), referenced_data_file=refd,
                    content_offset=coff, content_size_in_bytes=clen,
                    first_row_id=frid)))
        self._entries = out
        self._entry_memo = {}
        return self._entries

    def _partitions_all(self) -> list:
        if self._partitions is None:
            from .datum import de_scalar
            self._partitions = self._map_dicts("partition", de_scalar)
        return self._partitions

    def partition_groups(self) -> tuple:
        """(codes int64 array aligned to rows, parts list): one DECODED
        partition dict per distinct raw partition tuple; ``parts[codes[i]]``
        is row i's partition. Decode cost is per DISTINCT value, not per
        row — clustered writers repeat one partition across a whole
        manifest, so the delete-index routing pass and the fast-plan bulk
        matcher pay O(distinct partitions) instead of O(rows) dict builds
        (the per-row decode was ~2.5us x 110k delete rows per cold 100k-file
        MOR plan). Fixed-width maps (one partition spec — the common case)
        find run boundaries in Arrow kernels over the flat key/value arrays
        and decode only each run's first row; ragged maps fall back to a
        per-row memoized loop."""
        import numpy as np
        got = self._cols.get("__pgroups__")
        if got is not None:
            return got
        from .datum import de_scalar
        n = self.n
        if n == 0:
            got = (np.zeros(0, dtype=np.int64), [])
            self._cols["__pgroups__"] = got
            return got
        offs, keys, items = self._map_parts("partition")
        lengths = np.diff(offs)
        if not lengths.any():                 # unpartitioned manifest
            got = (np.zeros(n, dtype=np.int64), [{}])
            self._cols["__pgroups__"] = got
            return got
        codes = np.empty(n, dtype=np.int64)
        parts: list = []
        memo: dict = {}

        def decode(raw_ks, raw_vs):
            key = (tuple(raw_ks), tuple(raw_vs))
            c = memo.get(key)
            if c is None:
                c = memo[key] = len(parts)
                parts.append({k: de_scalar(v)
                              for k, v in zip(raw_ks, raw_vs)})
            return c

        L = int(lengths[0])
        off0 = int(offs[0])                   # chunk offsets may not be 0-based
        if L > 0 and (lengths == L).all():
            # fixed width: row i is flat cells [i*L, (i+1)*L); a row starts
            # a run iff one of its cells differs from the cell L places
            # before it (Arrow not_equal, with an xor of is_null so a null
            # equals a null); then one decode per run start (deduped
            # across runs by raw value)
            import pyarrow.compute as pc
            K = keys.slice(off0, n * L)
            V = items.slice(off0, n * L)
            change = np.zeros((n - 1) * L, dtype=bool)
            for a in (K, V):
                cur, prev = a.slice(L), a.slice(0, (n - 1) * L)
                change |= pc.or_(
                    pc.fill_null(pc.not_equal(cur, prev), False),
                    pc.xor(cur.is_null(), prev.is_null())).to_numpy(
                        zero_copy_only=False)
            starts = np.concatenate(
                ([0], np.nonzero(change.reshape(n - 1, L).any(axis=1))[0]
                 + 1))
            cells = pa.array((starts[:, None] * L + np.arange(L)).ravel())
            ks = K.take(cells).to_pylist()
            vs = V.take(cells).to_pylist()
            ends = np.append(starts[1:], n).tolist()
            for j, (s, e_) in enumerate(zip(starts.tolist(), ends)):
                codes[s:e_] = decode(ks[j * L:(j + 1) * L],
                                     vs[j * L:(j + 1) * L])
        else:
            ks = np.asarray(keys.to_pylist(), dtype=object)
            vs = np.asarray(items.to_pylist(), dtype=object)
            for i in range(n):
                lo, hi = int(offs[i]), int(offs[i + 1])
                codes[i] = decode(ks[lo:hi].tolist(), vs[lo:hi].tolist())
        got = (codes, parts)
        self._cols["__pgroups__"] = got
        return got


def read_manifest_columns(path: str) -> ManifestColumns:
    t = _read_pq_via_io(path)
    if "partition" in t.schema.names:
        return ManifestColumns(t)
    return ManifestColumns.from_entries(_read_manifest_v1(t))


def read_manifest(path: str) -> List[ManifestEntry]:
    return read_manifest_columns(path).entries()


# ---------------------------------------------------------------------------
# Manifest list IO
# ---------------------------------------------------------------------------

_MANIFEST_LIST_SCHEMA = pa.schema([
    ("manifest_path", pa.string()),
    ("manifest_length", pa.int64()),
    ("partition_spec_id", pa.int32()),
    ("content", pa.int32()),
    ("sequence_number", pa.int64()),
    ("min_sequence_number", pa.int64()),
    ("added_snapshot_id", pa.int64()),
    ("added_files_count", pa.int32()),
    ("existing_files_count", pa.int32()),
    ("deleted_files_count", pa.int32()),
    ("added_rows_count", pa.int64()),
    ("existing_rows_count", pa.int64()),
    ("deleted_rows_count", pa.int64()),
    ("partitions_json", pa.string()),
])


def write_manifest_list(path: str, manifests: List[ManifestFile]) -> int:
    rows: Dict[str, list] = {name: [] for name in _MANIFEST_LIST_SCHEMA.names}
    for m in manifests:
        rows["manifest_path"].append(m.manifest_path)
        rows["manifest_length"].append(m.manifest_length)
        rows["partition_spec_id"].append(m.partition_spec_id)
        rows["content"].append(m.content)
        rows["sequence_number"].append(m.sequence_number)
        rows["min_sequence_number"].append(m.min_sequence_number)
        rows["added_snapshot_id"].append(m.added_snapshot_id)
        rows["added_files_count"].append(m.added_files_count)
        rows["existing_files_count"].append(m.existing_files_count)
        rows["deleted_files_count"].append(m.deleted_files_count)
        rows["added_rows_count"].append(m.added_rows_count)
        rows["existing_rows_count"].append(m.existing_rows_count)
        rows["deleted_rows_count"].append(m.deleted_rows_count)
        rows["partitions_json"].append(json.dumps({
            name: {"contains_null": fs.contains_null, "contains_nan": fs.contains_nan,
                   "lower": ser_value(fs.lower), "upper": ser_value(fs.upper)}
            for name, fs in m.partitions.items()}))
    table = pa.table(rows, schema=_MANIFEST_LIST_SCHEMA)
    return _write_pq_via_io(table, path)


def read_manifest_list(path: str) -> List[ManifestFile]:
    t = _read_pq_via_io(path)
    cols = {name: t.column(name).to_pylist() for name in t.schema.names}
    out: List[ManifestFile] = []
    for i in range(t.num_rows):
        parts = {}
        for name, d in json.loads(cols["partitions_json"][i] or "{}").items():
            parts[name] = FieldSummaryRec(
                contains_null=d.get("contains_null", False),
                contains_nan=d.get("contains_nan"),
                lower=de_value(d.get("lower")), upper=de_value(d.get("upper")))
        out.append(ManifestFile(
            manifest_path=cols["manifest_path"][i],
            manifest_length=cols["manifest_length"][i],
            partition_spec_id=cols["partition_spec_id"][i],
            content=cols["content"][i],
            sequence_number=cols["sequence_number"][i],
            min_sequence_number=cols["min_sequence_number"][i],
            added_snapshot_id=cols["added_snapshot_id"][i],
            added_files_count=cols["added_files_count"][i],
            existing_files_count=cols["existing_files_count"][i],
            deleted_files_count=cols["deleted_files_count"][i],
            added_rows_count=cols["added_rows_count"][i],
            existing_rows_count=cols["existing_rows_count"][i],
            deleted_rows_count=cols["deleted_rows_count"][i],
            partitions=parts))
    return out
