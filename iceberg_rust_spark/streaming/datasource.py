"""Spark 4 Python DataSource: `spark.read/readStream.format("iceberg_rust")`.

The Spark-native integration surface the reference exposes through DataFusion
table providers (crates/integrations/datafusion/src/table/mod.rs) — here via
PySpark's DataSource API, so the engine's tables plug into ANY Spark reader
pipeline, including Structured Streaming with offset tracking/recovery.

- Batch read: plans files with the 4-level pruning pipeline. Filters reach
  the planner TWO ways: Spark 4.1 native filter pushdown (`pushFilters` —
  DataFrame/SQL predicates prune manifests/partitions/files automatically;
  all filters are reported back as unhandled so Spark re-applies them, the
  Inexact contract) and `option("where", "<sql predicate>")` for
  engines/configs without the pushdown conf. MOR deletes are applied
  executor-side per file: positional parquet deletes, puffin deletion
  vectors, and equality deletes (null-keep semantics) filter the Arrow
  batches before they reach Spark.
- Stream read: offsets are table sequence numbers; each micro-batch is the
  set of data files appended by snapshots in (start, end] — exactly
  incremental.py's snapshot-diff semantics, but driven by Spark's own
  checkpointing instead of a side file. Append-only feeds (appends +
  merge/overwrite inserts surface their added files; historical deletes are
  not replayed — use streaming/changes.py for full CDC).

- Batch/stream WRITE (`df.write/writeStream.format("iceberg_rust")`): each
  executor task writes its Arrow batches as a parquet file + DataFile stats
  (the reference's IcebergWriteExec emitting serialized DataFiles,
  physical_plan/write.rs:61), the driver commits one snapshot per save /
  micro-batch (IcebergCommitExec, physical_plan/commit.rs:43). Streaming
  commits stamp the batch id in the snapshot summary and skip replays —
  exactly-once. Unpartitioned tables (partitioned fan-out goes through
  Table.append's DataFrame shuffle).

Executor-side reads and writes go through pyarrow in Arrow-batch form (never
row-at-a-time Python tuples).

Register once per session::

    from iceberg_rust_spark.streaming.datasource import register
    register(spark)
    df = (spark.readStream.format("iceberg_rust")
          .option("warehouse", "/wh").option("table", "db.events").load())
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator, List, Optional, Sequence

from pyspark.sql.datasource import (DataSource, DataSourceArrowWriter,
                                    DataSourceReader,
                                    DataSourceStreamArrowWriter,
                                    DataSourceStreamReader, InputPartition,
                                    WriterCommitMessage)
from pyspark.sql.types import StructType


class _FilePartition(InputPartition):
    def __init__(self, path: str, columns: List[str],
                 pos_parquet: Optional[List[str]] = None,
                 dv_blobs: Optional[List[tuple]] = None,
                 eq_groups: Optional[List[tuple]] = None,
                 projection: Optional[List[tuple]] = None):
        self.path = path
        self.columns = columns
        # MOR delete descriptors for THIS data file, applied executor-side:
        # parquet (file_path, pos) delete files, puffin DV (path, off, len)
        # blobs, and equality-delete groups ((col, ...), (path, ...))
        self.pos_parquet = pos_parquet or []
        self.dv_blobs = dv_blobs or []
        self.eq_groups = eq_groups or []
        # schema-evolution projection for files written under an older
        # schema: (out_name, src_name_or_None, iceberg_type_str, default);
        # src None -> initial_default/null column (4-rule projection,
        # record_batch_transformer.rs:347-351)
        self.projection = projection


_ARROW_PRIMS = {
    "boolean": "bool_", "int": "int32", "long": "int64",
    "float": "float32", "double": "float64", "date": "date32",
    "string": "string", "binary": "binary", "uuid": "string",
    "time": "int64", "timestamp": "us", "timestamptz": "us_tz",
    "timestamp_ns": "us", "timestamptz_ns": "us_tz",
}


def _arrow_type(type_str: str):
    """Iceberg primitive type name -> pyarrow type (None for nested /
    unmapped types: those columns pass through uncast)."""
    import pyarrow as pa
    if type_str.startswith("decimal("):
        p, s = type_str[8:-1].split(",")
        return pa.decimal128(int(p), int(s))
    if type_str.startswith("fixed"):
        return pa.binary()
    kind = _ARROW_PRIMS.get(type_str)
    if kind == "us":
        return pa.timestamp("us")
    if kind == "us_tz":
        return pa.timestamp("us", tz="UTC")
    return getattr(pa, kind)() if kind else None


def _projection_for(metadata, scan_schema, columns, file_schema_id):
    """4-rule field-id projection spec for files written under a DIFFERENT
    schema than the scan's (record_batch_transformer.rs:347-351): same id
    -> read under the file's name (rename/promote), absent+default ->
    constant, absent -> null. Same-schema files return None (fast path)."""
    if file_schema_id is None or file_schema_id == scan_schema.schema_id:
        return None
    file_schema = metadata.schema(file_schema_id)
    proj = []
    for name in columns:
        f = scan_schema.field_by_name(name)
        if f is None:               # engine-side metadata column
            proj.append((name, name, "string", None))
            continue
        old = file_schema.field_by_id(f.field_id)
        proj.append((name, old.name if old is not None else None,
                     str(f.field_type),
                     f.initial_default if old is None else None))
    return proj


def _project_batch(batch, projection):
    """Executor-side RecordBatchTransformer: reorder/rename by field id,
    promote types, fill added columns with initial_default/null."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    arrays, names = [], []
    for out_name, src_name, type_str, default in projection:
        target = _arrow_type(type_str)
        if src_name is not None and src_name in batch.schema.names:
            col = batch.column(src_name)
            if target is not None and col.type != target:
                col = pc.cast(col, target)
            arrays.append(col)
        elif default is not None:
            arrays.append(pa.array([default] * n, type=target))
        else:
            arrays.append(pa.nulls(n, type=target or pa.null()))
        names.append(out_name)
    return pa.RecordBatch.from_arrays(arrays, names=names)


# weights of the worker's delete caches in the object cache, measured with
# tracemalloc (ARCHITECTURE.md "One object cache")
_POS_INDEX_KEY_BYTES = 300     # path key + ndarray header + dict slot
_EQ_SET_TUPLE_BYTES = 200      # a 1-2 column tuple and its set slot


def _stamp(path: str) -> int:
    from ..sources.io import file_io_for
    return file_io_for(path).mtime_ns(path)


def _pos_delete_index(delete_path: str):
    """Worker-local: one positional-delete parquet parsed ONCE into a
    {data_file_path: sorted positions} index serving every data file the
    worker reads (one delete file commonly references thousands of data
    files — re-reading it per data-file partition would make delete I/O
    O(data_files x delete_files)). Held in the object cache under the
    file's stamp, so a rewritten delete file is parsed again."""
    from ..sources.scan import _manifest_cache

    def parse():
        import pyarrow.parquet as pq
        tb = pq.read_table(delete_path, columns=["file_path", "pos"])
        pdf = tb.to_pandas()
        # normalize file:/file:// spellings once, index by bare path
        pdf["file_path"] = pdf["file_path"].str.replace(
            r"^file:/*", "/", regex=True)
        return {k: g["pos"].to_numpy() for k, g in pdf.groupby("file_path")}
    return _manifest_cache.load(
        "pos_index", delete_path, _stamp(delete_path), None, parse,
        lambda idx: sum(a.nbytes + _POS_INDEX_KEY_BYTES
                        for a in idx.values()))


def _deleted_positions(partition: _FilePartition):
    """Merge this file's positional deletes (parquet + puffin DV) into one
    sorted numpy position array — the executor-side counterpart of
    sources/scan.py _apply_pos_deletes (positional_deletes.rs:35).
    Delete parquet files and DV blobs are cached worker-locally
    (caching_delete_file_loader.rs:265 at worker granularity)."""
    import numpy as np
    import re

    bare = re.sub(r"^file:/*", "/", partition.path)
    pos_parts = []
    for p in partition.pos_parquet:
        hit = _pos_delete_index(p).get(bare)
        if hit is not None:
            pos_parts.append(hit)
    if partition.dv_blobs:
        from ..sources.scan import _dv_positions
        for p, off, length in partition.dv_blobs:
            pos_parts.append(_dv_positions(p, off, length, _stamp(p))
                             .astype("int64", copy=False))
    if not pos_parts:
        return None
    return np.unique(np.concatenate(pos_parts))


def _eq_delete_sets(partition: _FilePartition):
    """(cols, set-of-value-tuples) per equality-delete group; rows whose
    eq columns are all non-null and match a tuple are dropped (null-keep
    semantics, caching_delete_file_loader.rs:422-426). Python DataSource
    workers are reused across tasks, so each set is held in the object
    cache under every delete file's stamp and serves every data file the
    worker reads (the caching delete loader's job,
    caching_delete_file_loader.rs:265, at worker granularity)."""
    import pyarrow.parquet as pq

    from ..sources.scan import _manifest_cache

    out = []
    for cols, paths in partition.eq_groups:
        def parse():
            rows = set()
            for p in paths:
                tb = pq.read_table(p, columns=list(cols))
                rows.update(zip(*(tb.column(c).to_pylist() for c in cols)))
            return rows
        stamped = tuple((p, _stamp(p)) for p in paths)
        rows = _manifest_cache.load(
            "eq_set", None, None, (cols, stamped), parse,
            lambda v: max(1, len(v)) * _EQ_SET_TUPLE_BYTES)
        out.append((list(cols), rows))
    return out


def _read_arrow(partition: _FilePartition):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(partition.path)
    if partition.projection is not None:
        want = {src for _, src, _, _ in partition.projection
                if src is not None}
        cols = [c for c in pf.schema_arrow.names if c in want]
    else:
        cols = [c for c in partition.columns if c in pf.schema_arrow.names]
    deleted = _deleted_positions(partition)
    eq_sets = _eq_delete_sets(partition)
    # positional deletes index the FILE's row order, so the position
    # column must be computed before projection/filtering
    offset = 0
    for batch in pf.iter_batches(columns=cols or None):
        n = batch.num_rows
        if deleted is not None and deleted.size:
            pos = np.arange(offset, offset + n, dtype=np.int64)
            idx = np.searchsorted(deleted, pos)
            idx_c = np.minimum(idx, deleted.size - 1)
            keep = ~((idx < deleted.size) & (deleted[idx_c] == pos))
            batch = batch.filter(pa.array(keep))
        offset += n
        if partition.projection is not None:
            # project to the CURRENT schema before equality filtering —
            # eq-delete columns are current-schema names
            batch = _project_batch(batch, partition.projection)
        for cols_k, rows in eq_sets:
            if not rows or batch.num_rows == 0:
                continue
            arrs = [batch.column(c).to_pylist() if c in batch.schema.names
                    else [None] * batch.num_rows for c in cols_k]
            keep = pa.array([
                any(v is None for v in tup) or tup not in rows
                for tup in zip(*arrs)])
            batch = batch.filter(keep)
        yield batch


def _load_table(options):
    from ..sources.catalog import FileSystemCatalog
    from ..sources.table import Table

    if options.get("metadata_path"):
        return Table.from_metadata_path(options["metadata_path"])
    return Table.load(FileSystemCatalog(options["warehouse"]),
                      options["table"])


def _filter_to_predicate(f):
    """Spark DataSource Filter -> our Predicate AST, for metadata pruning.
    Returns None for shapes we can't prune on (nested columns, unknown
    filter classes) — dropping is fail-safe because pushFilters declares
    every filter unhandled (the reference's Inexact contract,
    expr_to_predicate.rs:45 in the opposite direction)."""
    from pyspark.sql import datasource as dsf

    from ..plans import expr as E

    if isinstance(f, dsf.Not):
        inner = _filter_to_predicate(f.child)
        return None if inner is None else ~inner
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:       # nested paths: skip, Spark filters
        return None
    c = E.col(attr[0])
    if isinstance(f, dsf.EqualTo):
        return c == f.value
    if isinstance(f, dsf.GreaterThan):
        return c > f.value
    if isinstance(f, dsf.GreaterThanOrEqual):
        return c >= f.value
    if isinstance(f, dsf.LessThan):
        return c < f.value
    if isinstance(f, dsf.LessThanOrEqual):
        return c <= f.value
    if isinstance(f, dsf.In):
        return c.isin(list(f.value))
    if isinstance(f, dsf.IsNull):
        return c.is_null()
    if isinstance(f, dsf.IsNotNull):
        return c.not_null()
    if isinstance(f, dsf.StringStartsWith):
        return c.starts_with(f.value)
    return None


class _IcebergBatchReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.options = options
        self.columns = list(schema.fieldNames())
        self._pushed = []

    def pushFilters(self, filters):
        """Spark 4.1 filter pushdown: capture every convertible filter for
        manifest/partition/metrics pruning, but report ALL filters as
        still-needed so Spark re-applies them above the scan — pruning can
        only drop whole files, never individual rows."""
        self._pushed = [p for p in map(_filter_to_predicate, filters)
                        if p is not None]
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        from ..plans.sql_pred import sql_to_predicate

        t = _load_table(self.options)
        pred = None
        if self.options.get("where"):
            pred = sql_to_predicate(self.options["where"])
        for p in self._pushed:
            pred = p if pred is None else (pred & p)
        snap_id = self.options.get("snapshot_id")
        # Spark-Iceberg read options: branch/tag select a named ref's head
        # (refs map, TableMetadata::snapshot_for_ref counterpart)
        ref = self.options.get("branch") or self.options.get("tag")
        if ref and snap_id:
            raise ValueError("pass either branch/tag or snapshot_id")
        if ref:
            r = t.metadata.refs.get(ref)
            if r is None:
                raise ValueError(f"no such ref: {ref}")
            snap_id = r.snapshot_id
        plan = t.scan(row_filter=pred,
                      snapshot_id=int(snap_id) if snap_id else None
                      ).plan_files()
        from ..sources.scan import _eq_cols
        schema = t.metadata.schema(
            plan.snapshot.schema_id if plan.snapshot and
            plan.snapshot.schema_id is not None
            else t.metadata.current_schema_id)
        parts = []
        for task in plan.tasks:
            pos_parquet = sorted({d.file_path for d in task.pos_deletes
                                  if d.file_format == "parquet"})
            dv_blobs = [(d.file_path, int(d.content_offset),
                         int(d.content_size_in_bytes))
                        for d in task.pos_deletes
                        if d.file_format == "puffin"]
            eq_by_cols: dict = {}
            for d in task.eq_deletes:
                cols = tuple(sorted(_eq_cols(d, schema)))
                eq_by_cols.setdefault(cols, set()).add(d.file_path)
            eq_groups = [(cols, tuple(sorted(paths)))
                         for cols, paths in sorted(eq_by_cols.items())]
            parts.append(_FilePartition(
                task.data_file.file_path, self.columns,
                pos_parquet=pos_parquet, dv_blobs=dv_blobs,
                eq_groups=eq_groups,
                projection=_projection_for(t.metadata, schema, self.columns,
                                           task.data_file.schema_id)))
        return parts

    def read(self, partition: _FilePartition):
        return _read_arrow(partition)


class _IcebergStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema: StructType):
        self.options = options
        self.columns = list(schema.fieldNames())
        self._table = _load_table(options)
        # the stream's output schema is FIXED at start; later-committed
        # files of an evolved schema project back to it by field id
        self._schema_id = self._table.metadata.current_schema_id
        start = self.options.get("starting_sequence")
        self._last_end = int(start) if start is not None else 0
        # Spark-Iceberg rate limits (streaming-max-files/rows-per-micro-
        # batch): admission is SNAPSHOT-granular — at least one snapshot is
        # always admitted so the stream progresses even when a single
        # commit exceeds the cap
        self._max_files = int(options.get(
            "streaming_max_files_per_micro_batch", 0) or 0)
        self._max_rows = int(options.get(
            "streaming_max_rows_per_micro_batch", 0) or 0)

    def initialOffset(self) -> dict:
        start = self.options.get("starting_sequence")
        off = {"seq": int(start) if start is not None else 0}
        self._last_end = off["seq"]
        return off

    def latestOffset(self) -> dict:
        self._table = self._table.refresh()
        md = self._table.metadata
        if not (self._max_files or self._max_rows):
            self._last_end = max(self._last_end, md.last_sequence_number)
            return {"seq": md.last_sequence_number}
        from .changes import _ancestor_chain
        ref = md.refs.get(self.options.get("branch", "main"))
        head = ref.snapshot_id if ref is not None else md.current_snapshot_id
        pending = sorted(
            (s for s in _ancestor_chain(md, head)
             if s.sequence_number > self._last_end),
            key=lambda s: s.sequence_number)
        end = self._last_end
        files = rows = 0
        for snap in pending:
            f = int(snap.summary.get("added-data-files", "0") or 0)
            r = int(snap.summary.get("added-records", "0") or 0)
            if end > self._last_end and (
                    (self._max_files and files + f > self._max_files)
                    or (self._max_rows and rows + r > self._max_rows)):
                break
            files += f
            rows += r
            end = snap.sequence_number
        self._last_end = end
        return {"seq": end}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from ..sources.manifest import CONTENT_DATA, STATUS_ADDED
        from ..sources.scan import load_manifest, load_manifest_list

        md = self._table.metadata
        # restart resync: the engine's checkpointed start wins over our
        # in-memory rate-limit cursor
        self._last_end = max(self._last_end, start["seq"])
        out: List[_FilePartition] = []
        # followed-ref ancestry only (option("branch", ...) selects a ref,
        # default main): a staged WAP snapshot can hold a sequence number
        # inside the offset window without ever being part of the followed
        # history (same rule as ChangesReader/IncrementalReader)
        from .changes import _ancestor_chain
        ref = md.refs.get(self.options.get("branch", "main"))
        head = ref.snapshot_id if ref is not None else md.current_snapshot_id
        for snap in _ancestor_chain(md, head):
            if not start["seq"] < snap.sequence_number <= end["seq"]:
                continue
            for mf in load_manifest_list(snap.manifest_list):
                if mf.content != 0 or mf.added_snapshot_id != snap.snapshot_id:
                    continue
                for e in load_manifest(mf.manifest_path):
                    if (e.status == STATUS_ADDED
                            and e.data_file.content == CONTENT_DATA
                            and e.snapshot_id == snap.snapshot_id):
                        # files committed under a schema that evolved
                        # after the stream started still project to the
                        # stream's fixed schema by field id
                        out.append(_FilePartition(
                            e.data_file.file_path, self.columns,
                            projection=_projection_for(
                                md, md.schema(self._schema_id),
                                self.columns, e.data_file.schema_id)))
        return out

    def read(self, partition: _FilePartition):
        return _read_arrow(partition)

    def commit(self, end: dict) -> None:
        # restart resync: after a checkpoint recovery the engine replays
        # from ITS offset, which can be ahead of our in-memory cursor
        self._last_end = max(self._last_end, end["seq"])


class _FilesMessage(WriterCommitMessage):
    """Per-task commit message: the DataFile descriptors this task wrote —
    the same executor->driver handoff as the reference's IcebergWriteExec
    emitting serialized DataFile rows (physical_plan/write.rs:61)."""

    def __init__(self, files):
        self.files = files


class _IcebergWriter(DataSourceArrowWriter):
    """Executor side of `df.write.format("iceberg_rust")`: each task writes
    its Arrow batches as parquet under the table's data dir and returns
    DataFile stats; the driver commits ONE snapshot from all tasks
    (IcebergWriteExec + IcebergCommitExec shape, physical_plan/{write,
    commit}.rs). Partitioned tables use TASK-LOCAL FANOUT (the reference's
    fanout writer / distribution-mode `none`): each task groups its batch by
    the spec's transformed partition tuple and writes one file per tuple —
    no extra shuffle; pre-repartitioning by partition columns on the Spark
    side minimizes file counts exactly like distribution-mode `hash`."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        from ..sources.write import float_columns
        t = _load_table(options)
        md_schema = t.metadata.schema()
        self._spec_fields = []
        for pf in t.metadata.spec().fields:
            src = md_schema.field_by_id(pf.source_id)
            if src is None:
                raise ValueError(
                    f"partition field {pf.name} has no source in the "
                    f"current schema")
            self._spec_fields.append(
                (src.name, pf.name, pf.transform, src.field_type))
        table_names = [f.name for f in t.metadata.schema().fields]
        if sorted(schema.fieldNames()) != sorted(table_names):
            raise ValueError(
                f"input columns {sorted(schema.fieldNames())} != table "
                f"columns {sorted(table_names)}")
        self.options = dict(options)
        self.overwrite = overwrite
        self._names = table_names
        self._write_dir = os.path.join(t.location, "data",
                                       f"ds-{uuid.uuid4().hex[:12]}")
        self._schema = md_schema
        self._nan_columns = float_columns(md_schema)
        self._properties = dict(t.metadata.properties)
        self._spec_id = t.metadata.spec().spec_id
        self._compression = self._properties.get(
            "write.parquet.compression-codec", "zstd")
        self._target_bytes = int(self._properties.get(
            "write.target-file-size-bytes", 512 * 1024 * 1024))

    def _partition_frame(self, tbl):
        """Per-row partition tuple values for the current spec. Bucket over
        int-like sources uses the numpy-vectorized murmur3 kernel; identity
        and void are O(1); the remaining transforms run the TESTED scalar
        kernels over the (already Python-side) Arrow batch — correctness
        parity with the Table.append column expressions is what matters
        here, and fanout grouping is per-task."""
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..functions.murmur3 import murmur3_32_long_vec
        from ..functions.transforms import (BucketTransform, IdentityTransform,
                                            VoidTransform)

        cols = {}
        for src, pname, t, styp in self._spec_fields:
            arr = tbl.column(src)
            if isinstance(t, VoidTransform):
                cols[pname] = pd.Series([None] * tbl.num_rows, dtype="object")
            elif isinstance(t, IdentityTransform):
                cols[pname] = pd.Series(arr.to_pylist(), dtype="object")
            elif isinstance(t, BucketTransform) and (
                    pa.types.is_integer(arr.type)
                    or pa.types.is_date(arr.type)
                    or pa.types.is_timestamp(arr.type)):
                if pa.types.is_timestamp(arr.type):
                    ints = arr.cast(pa.timestamp("us")).cast(pa.int64())
                else:
                    ints = arr.cast(pa.int64())
                mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
                filled = pc.fill_null(ints, 0).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                b = (murmur3_32_long_vec(filled).astype(np.int64)
                     & 0x7FFFFFFF) % t.n
                s = pd.Series(b, dtype="object")
                s[mask] = None
                cols[pname] = s
            else:
                cols[pname] = pd.Series(
                    [None if v is None else t.apply(v, styp)
                     for v in arr.to_pylist()], dtype="object")
        return pd.DataFrame(cols)

    def write(self, iterator: Iterator["RecordBatch"]) -> _FilesMessage:  # noqa: F821
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext
        from ..sources.write import _footer_stats, data_file_from_stats

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _FilesMessage([])
        tbl = pa.Table.from_batches(batches).select(self._names)
        tc = TaskContext.get()
        part = tc.partitionId() if tc else 0
        os.makedirs(self._write_dir, exist_ok=True)

        def emit(sub_tbl, partition, seq: int):
            path = os.path.join(
                self._write_dir,
                f"part-{part:05d}-{uuid.uuid4().hex[:8]}-{seq}.parquet")
            pq.write_table(sub_tbl, path, compression=self._compression)
            st = _footer_stats(pq, path, nan_columns=self._nan_columns)
            return data_file_from_stats(path, st, partition, self._schema,
                                        self._spec_id, self._properties)

        # rolling (rolling_writer.rs counterpart): split any write unit
        # whose IN-MEMORY arrow size exceeds the target file size — one
        # task/tuple never produces an unboundedly large file
        def emit_rolling(sub_tbl, partition, files: list) -> None:
            nbytes = sub_tbl.nbytes or 1
            if nbytes <= self._target_bytes or sub_tbl.num_rows <= 1:
                files.append(emit(sub_tbl, partition, len(files)))
                return
            rows_per = max(1, int(sub_tbl.num_rows
                                  * self._target_bytes / nbytes))
            for lo in range(0, sub_tbl.num_rows, rows_per):
                files.append(emit(sub_tbl.slice(lo, rows_per), partition,
                                  len(files)))

        if not self._spec_fields:
            files: list = []
            emit_rolling(tbl, {}, files)
            return _FilesMessage(files)

        import pandas as pd
        keys = self._partition_frame(tbl)
        pnames = list(keys.columns)
        groups = keys.groupby(pnames, dropna=False, sort=False).indices
        files = []
        import numpy as np

        def native(v):
            if v is None or (isinstance(v, float) and pd.isna(v)):
                return None
            if isinstance(v, np.integer):
                return int(v)
            if isinstance(v, np.floating):
                return float(v)
            return v

        for kv, idx in groups.items():
            if not isinstance(kv, tuple):
                kv = (kv,)
            partition = {n: native(v) for n, v in zip(pnames, kv)}
            sub = tbl.take(pa.array(sorted(int(i) for i in idx)))
            emit_rolling(sub, partition, files)
        return _FilesMessage(files)

    def _collect(self, messages) -> list:
        return [f for m in messages if m is not None for f in m.files]

    def commit(self, messages: List[Optional[WriterCommitMessage]]) -> None:
        files = self._collect(messages)
        t = _load_table(self.options)
        op = "overwrite" if self.overwrite else "append"
        # option("branch", ...): commit to the named ref, not main — the
        # Spark-Iceberg branch-write option (WAP audit shape)
        branch = self.options.get("branch")
        t._commit_retry(lambda md: t._snapshot_update(
            md, op, added=files, remove_all=self.overwrite, branch=branch))

    def abort(self, messages: List[Optional[WriterCommitMessage]]) -> None:
        for f in self._collect(messages):
            try:
                os.remove(f.file_path)
            except OSError:
                pass


class _IcebergStreamWriter(_IcebergWriter, DataSourceStreamArrowWriter):
    """`writeStream.format("iceberg_rust")`: one snapshot per micro-batch,
    stamped with a (query-key, batch-id) pair in the snapshot summary; a
    replayed batch id FOR THE SAME QUERY is detected and skipped before any
    commit — the same exactly-once contract as streaming/sink.py, driven by
    Spark's own checkpoint.

    The query key scopes the dedup: batch ids restart at 0 per streaming
    query, so a bare batch-id check would silently drop micro-batches of a
    second query writing to the same table. Stable keys come from the
    ``checkpointLocation`` (unique per query, survives restarts) or an
    explicit ``queryId`` option; absent both, a per-writer-instance key
    still isolates concurrent queries (restart replay-dedup then needs one
    of the stable options)."""

    QUERY_KEY = "spark.datasource.query-id"
    BATCH_KEY = "spark.datasource.batch-id"

    def __init__(self, options, schema: StructType, overwrite: bool):
        super().__init__(options, schema, overwrite)
        opts = {k.lower(): v for k, v in dict(options).items()}
        self._query_key = (opts.get("queryid")
                           or opts.get("checkpointlocation")
                           or f"writer-{uuid.uuid4().hex}")

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        files = self._collect(messages)
        t = _load_table(self.options)
        stamp = str(batchId)
        for snap in t.metadata.snapshots:
            if (snap.summary.get(self.BATCH_KEY) == stamp
                    and snap.summary.get(self.QUERY_KEY) == self._query_key):
                return  # replayed micro-batch of THIS query: already committed
        t._commit_retry(lambda md: t._snapshot_update(
            md, "append", added=files,
            branch=self.options.get("branch"),
            extra_summary={self.BATCH_KEY: stamp,
                           self.QUERY_KEY: self._query_key}))

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        _IcebergWriter.abort(self, messages)


class IcebergDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iceberg_rust"

    def schema(self):
        return _load_table(self.options).schema.to_spark()

    def reader(self, schema: StructType) -> DataSourceReader:
        return _IcebergBatchReader(self.options, schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _IcebergStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return _IcebergWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _IcebergStreamWriter(self.options, schema, overwrite)


def register(spark) -> None:
    # the batch reader implements pushFilters; Spark refuses to plan a
    # pushdown-capable Python source unless this (runtime-settable) conf
    # is on, so flip it at registration
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(IcebergDataSource)
