"""Table facade: scans, transactional writes, row-level deletes, maintenance.

Re-expresses the reference's Table + Transaction stack
(/root/reference/crates/iceberg/src/table.rs:199, transaction/mod.rs:88)
Spark-first. All data movement is DataFrame jobs; all metadata movement is
driver-side Python over KB-MB of Parquet manifests; commits are catalog CAS
with refresh-and-reapply retry (transaction/mod.rs:175-219 semantics,
exponential backoff per commit.retry.* properties).

Row-level deletes come in both Iceberg flavors:
- copy-on-write DELETE: strict-metrics whole-file drops + rewrite of
  partially-matching files (composition the reference leaves to engines);
- merge-on-read DELETE: positional delete files (file_path,pos) and equality
  delete files, applied at scan time as anti-joins.
"""

from __future__ import annotations

import os
import random
import time
import uuid
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import expr as E
from ..plans.evaluators import file_must_match
from .io import file_io_for, posix_join
from .catalog import (CommitConflict, FileSystemCatalog, ValidationConflict,
                      read_metadata)
from .manifest import (CONTENT_DATA, CONTENT_EQUALITY_DELETES,
                       CONTENT_POSITION_DELETES, STATUS_ADDED, STATUS_EXISTING,
                       DataFile, FieldSummaryRec, ManifestEntry, ManifestFile,
                       read_manifest_list, write_manifest, write_manifest_list)
from .metadata import (MAIN_BRANCH, PartitionField, PartitionSpec, Snapshot,
                       SnapshotRef, TableMetadata, new_snapshot_id, now_ms)
from .scan import (TableScan, _decode_file_uri, _paths_need_decode,
                   load_manifest,
                   load_manifest_list)
from .types import (FIELD_ID_KEY, NestedField, Schema, is_promotable,
                    type_to_spark)
from .write import (align_df_to_schema, collect_parquet_stats,
                    write_data_files, write_parquet_listing)
from ..functions.transforms import parse_transform


def _canon(path: str) -> str:
    """Scheme-free absolute path for identity comparison (file:// == local);
    non-local URIs pass through unchanged."""
    from .io import strip_scheme
    p = strip_scheme(path)
    return os.path.abspath(p) if "://" not in p else p


class Table:
    def __init__(self, catalog: FileSystemCatalog, identifier: str,
                 metadata: TableMetadata, version: int):
        self.catalog = catalog
        self.identifier = identifier
        self.metadata = metadata
        self.version = version

    # ------------------------------------------------------------------ api
    @staticmethod
    def create(catalog: FileSystemCatalog, identifier: str, schema: Schema,
               partition_spec: Optional[PartitionSpec] = None,
               properties: Optional[Dict[str, str]] = None) -> "Table":
        md = TableMetadata(
            location="",  # set by catalog
            schemas=[schema], current_schema_id=schema.schema_id,
            partition_specs=[partition_spec or PartitionSpec(0, [])],
            default_spec_id=(partition_spec.spec_id if partition_spec else 0),
            last_column_id=schema.highest_field_id,
            last_partition_id=max([f.field_id for f in (partition_spec.fields if partition_spec else [])],
                                  default=999),
            properties=properties or {}, last_updated_ms=now_ms())
        md = catalog.create_table(identifier, md)
        return Table(catalog, identifier, md, 1)

    @staticmethod
    def load(catalog: FileSystemCatalog, identifier: str) -> "Table":
        md, v = catalog.load_table(identifier)
        return Table(catalog, identifier, md, v)

    @staticmethod
    def from_metadata_path(metadata_path: str) -> "Table":
        """StaticTable (table.rs:344 counterpart): read-only table loaded
        straight from a metadata JSON file, no catalog. Commits raise."""
        md, _ = read_metadata(file_io_for(metadata_path), metadata_path,
                              versioned=False)
        return Table(None, f"static:{metadata_path}", md, -1)  # type: ignore[arg-type]

    def refresh(self) -> "Table":
        self.metadata, self.version = self.catalog.load_table(self.identifier)
        return self

    @property
    def schema(self) -> Schema:
        return self.metadata.schema()

    @property
    def spec(self) -> PartitionSpec:
        return self.metadata.spec()

    @property
    def location(self) -> str:
        return self.metadata.location

    # ----------------------------------------------------------------- scan
    def scan(self, row_filter: Optional[E.Predicate] = None,
             selected_columns: Optional[List[str]] = None,
             snapshot_id: Optional[int] = None,
             as_of_timestamp_ms: Optional[int] = None,
             ref: Optional[str] = None,
             include_metadata_columns: bool = False,
             include_deleted: bool = False) -> TableScan:
        """``ref`` selects a named branch/tag (spec refs map) — the
        ref-addressable read the reference resolves through
        TableMetadata::snapshot_for_ref. ``include_deleted`` keeps
        MOR-deleted rows, flagged by the reserved boolean ``_deleted``
        column (metadata_columns.rs:39,75)."""
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass either ref or snapshot_id, not both")
            r = self.metadata.refs.get(ref)
            if r is None:
                raise ValueError(f"no such ref: {ref}")
            snapshot_id = r.snapshot_id
        return TableScan(self.metadata, row_filter, selected_columns,
                         snapshot_id, as_of_timestamp_ms,
                         include_metadata_columns=include_metadata_columns,
                         include_deleted=include_deleted)

    def to_df(self, spark: SparkSession, **kwargs) -> DataFrame:
        return self.scan(**kwargs).to_df(spark)

    def count(self, spark: Optional[SparkSession] = None,
              row_filter: Optional[E.Predicate] = None, **scan_kw) -> int:
        """COUNT(*) with metadata pushdown — see TableScan.count_rows."""
        return self.scan(row_filter=row_filter, **scan_kw).count_rows(spark)

    # ---------------------------------------------------------------- writes
    def append(self, spark: SparkSession, df: DataFrame,
               extra_summary: Optional[Dict[str, str]] = None,
               branch: Optional[str] = None,
               wap_id: Optional[str] = None) -> "Table":
        """Fast-append (transaction/append.rs:33-90): write files, new manifest,
        re-point manifest list. ``extra_summary`` lands in the snapshot summary
        (used e.g. by the streaming sink for exactly-once batch bookkeeping).
        ``branch`` commits to a named branch ref instead of main (WAP-style
        isolated writes; main is untouched until a set_ref fast-forward). A
        missing branch is created from the current main head.

        ``wap_id`` stages the snapshot WITHOUT moving any ref (Spark's
        spark.wap.id flavor of write-audit-publish): the snapshot lands in
        metadata with ``wap.id`` in its summary and is published later via
        CALL system.publish_changes(table, wap_id).

        An append of ZERO rows is a no-op (no snapshot), matching the
        reference engine's behavior for `INSERT ... WHERE false` — unless
        the caller passes extra_summary (e.g. the streaming sink's
        exactly-once batch bookkeeping), which forces a commit."""
        data_files = write_data_files(spark, df, self.metadata)
        if not data_files and extra_summary is None and wap_id is None:
            return self
        if wap_id is not None:
            extra_summary = dict(extra_summary or {}, **{"wap.id": wap_id})
        return self._commit_retry(lambda md: self._snapshot_update(
            md, "append", added=data_files, extra_summary=extra_summary,
            branch=branch, stage_only=wap_id is not None))

    def overwrite_all(self, spark: SparkSession, df: DataFrame) -> "Table":
        """Replace the whole table contents in one atomic snapshot."""
        data_files = write_data_files(spark, df, self.metadata)
        return self._commit_retry(lambda md: self._snapshot_update(
            md, "overwrite", added=data_files, remove_all=True))

    def overwrite_dynamic(self, spark: SparkSession,
                          df: DataFrame) -> "Table":
        """Dynamic partition overwrite (Spark-Iceberg INSERT OVERWRITE
        under partitionOverwriteMode=dynamic / the ReplacePartitions
        action): ONE atomic snapshot replaces exactly the partitions the
        incoming rows touch and leaves every other partition untouched.
        Removal is metadata-only (file drops by partition tuple — no data
        read of the replaced partitions), so at 100 TB the cost is the new
        data's write plus a manifest rewrite. Unpartitioned tables degrade
        to a whole-table overwrite."""
        if not self.metadata.spec().fields:
            return self.overwrite_all(spark, df)
        data_files = write_data_files(spark, df, self.metadata)
        touched = {tuple(sorted(f.partition.items()))
                   for f in data_files if f.partition}

        def update(md: TableMetadata) -> TableMetadata:
            removed = set()
            for task in TableScan(md).plan_files().tasks:
                part = tuple(sorted(task.data_file.partition.items())) \
                    if task.data_file.partition else ()
                if part in touched:
                    removed.add(task.data_file.file_path)
            return self._snapshot_update(
                md, "overwrite", added=data_files, removed_paths=removed,
                extra_summary={"replace-partitions":
                               str(len(touched))})

        return self._commit_retry(update)

    def delete_where(self, spark: SparkSession, pred: E.Predicate,
                     mode: str = "cow") -> "Table":
        """Row-level DELETE.

        cow: 3-tier file disposition —
             (1) StrictProjection in PARTITION space: whole-partition deletes
                 drop files from the partition tuple alone, metadata-only
                 (strict_projection.rs:30 counterpart, no per-file metrics
                 consulted);
             (2) strict METRICS whole-file drops (file_must_match) for files
                 the partition guarantee can't cover;
             (3) rewrite of partially-matching files with NOT(pred).
        mor: write a positional-delete file for matching (file,pos) rows.
        """
        if mode == "mor":
            return self._delete_mor_positional(spark, pred)
        if mode == "dv":
            return self._delete_mor_dv(spark, pred)
        from ..plans.evaluators import (PartitionFieldInfo, partition_must_match,
                                        strict_projection)
        md = self.metadata
        schema = md.schema()
        bound = E.bind(pred, schema)
        plan = self.scan(row_filter=pred).plan_files()
        if not plan.tasks:
            return self
        strict_cache: Dict[int, E.Predicate] = {}

        def strict_for(spec_id: int) -> E.Predicate:
            if spec_id not in strict_cache:
                infos = []
                for pf in md.spec(spec_id).fields:
                    src = schema.field_by_id(pf.source_id)
                    if src is not None:
                        infos.append(PartitionFieldInfo(
                            src.name, pf.name, pf.transform, src.field_type))
                strict_cache[spec_id] = strict_projection(bound, infos)
            return strict_cache[spec_id]

        drop_paths: List[str] = []
        strict_partition_drops = 0
        rewrite: List = []
        scan_obj = self.scan(row_filter=pred)
        for t in plan.tasks:
            clean = not t.pos_deletes and not t.eq_deletes
            if clean and t.data_file.partition and partition_must_match(
                    strict_for(t.data_file.spec_id), t.data_file.partition):
                drop_paths.append(t.data_file.file_path)
                strict_partition_drops += 1
                continue
            metrics = scan_obj._metrics_for_file(t.data_file, schema)
            if clean and file_must_match(bound, metrics,
                                         t.data_file.record_count):
                drop_paths.append(t.data_file.file_path)
            else:
                rewrite.append(t)
        added: List[DataFile] = []
        if rewrite:
            files = [t.data_file.file_path for t in rewrite]
            keep_df = self._live_rows_for_files(spark, files) \
                .filter(~E.to_spark_column(bound, schema))
            added = write_data_files(spark, keep_df, md)
            drop_paths += files
        base_seq = md.last_sequence_number
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "delete" if not added else "overwrite",
            added=added, removed_paths=set(drop_paths),
            validate_removed_exist=True,
            validate_no_new_deletes_since=base_seq,
            extra_summary={"strict-partition-deleted-files":
                           str(strict_partition_drops)}))

    def _live_rows_for_files(self, spark: SparkSession,
                             paths: List[str],
                             with_row_id: bool = True) -> DataFrame:
        """LIVE rows of the given data files — pending pos/eq/DV deletes
        APPLIED. Every copy-on-write rewrite (delete/update/compact/zorder)
        must read through this, not raw parquet: a raw read resurrects rows
        whose merge-on-read deletes are still outstanding, and the rewrite
        then orphans those delete files.

        ``with_row_id`` (default, for rewrites) appends the ``_row_id``
        lineage column so write_data_files materializes it — v3 row ids
        survive the rewrite instead of being reassigned."""
        path_set = set(paths)
        scan = self.scan()
        scan.include_row_lineage = with_row_id
        orig_plan = scan.plan_files

        def plan_files():
            p = orig_plan()
            p.tasks = [t for t in p.tasks
                       if t.data_file.file_path in path_set]
            return p

        scan.plan_files = plan_files  # type: ignore[method-assign]
        df = scan.to_df(spark)
        if with_row_id:
            names = [f.name for f in self.metadata.schema().fields]
            df = df.select(*names, "_row_id",
                           "_last_updated_sequence_number")
        return df

    def _write_position_deletes(self, spark: SparkSession,
                                hits: DataFrame) -> List[Tuple[str, dict]]:
        """Write (file_path, pos) rows as position-delete parquet files.
        Range-partition by data-file path: delete writes distribute across
        the cluster AND each output file covers a contiguous path range
        (per-data-file locality for the read-side anti-join). AQE coalesces
        the range partitions down to one for small delete sets, so local
        tests still produce a single file; a billion-row delete fans out."""
        out = os.path.join(self.location, "data",
                           f"pos-del-{uuid.uuid4().hex[:12]}")
        return write_parquet_listing(
            spark, hits.repartitionByRange("file_path", "pos")
                       .sortWithinPartitions("file_path", "pos"), out)

    def _delete_files(self, entries: List[Tuple[str, dict]], content: int,
                      equality_ids: Sequence[int] = ()) -> List[DataFile]:
        schema_id = self.metadata.schema().schema_id
        return [DataFile(file_path=p, content=content,
                         record_count=st["num_rows"],
                         file_size_in_bytes=st["size"],
                         equality_ids=list(equality_ids),
                         schema_id=schema_id, spec_id=self.spec.spec_id)
                for p, st in entries]

    def _equality_delete_files(self, spark: SparkSession, keys_df: DataFrame,
                               names: List[str]) -> List[DataFile]:
        """Write the distinct ``names`` tuples of ``keys_df`` as
        equality-delete files. dropDuplicates already hash-shuffles on the
        key columns; the write goes straight from that distributed
        partitioning (AQE coalesces small sets to one file), never through
        a single task."""
        schema = self.metadata.schema()
        eq_ids = []
        for name in names:
            f = schema.field_by_name(name)
            if f is None:
                raise ValueError(f"no column {name}")
            eq_ids.append(f.field_id)
        out = os.path.join(self.location, "data",
                           f"eq-del-{uuid.uuid4().hex[:12]}")
        entries = write_parquet_listing(
            spark, keys_df.select(*names).dropDuplicates(), out)
        return self._delete_files(entries, CONTENT_EQUALITY_DELETES, eq_ids)

    def _delete_mor_positional(self, spark: SparkSession, pred: E.Predicate) -> "Table":
        schema = self.metadata.schema()
        bound = E.bind(pred, schema)
        hits = self.scan(include_metadata_columns=True).to_df(spark) \
            .filter(E.to_spark_column(bound, schema)) \
            .select(F.regexp_replace(F.col("_file"), "^file:/*", "/").alias("file_path"),
                    F.col("_pos").alias("pos"))
        entries = self._write_position_deletes(spark, hits)
        # Per-delete-file file_path BOUNDS (Iceberg DeleteFileIndex's
        # pruning signal for path-position deletes): the range write above
        # makes each output file cover a contiguous file_path range, so the
        # footer min/max let the scan index skip this delete for every data
        # file outside [lower, upper] — without them a parquet pos-delete
        # is a GLOBAL delete every task must consider, which at 100 TB
        # means broadcasting the delete set to petabytes of untouched
        # partitions. A single-target file (lower == upper) additionally
        # gets referenced_data_file for exact-map scoping, like DVs.
        dels = []
        for p, st in entries:
            lo = st["lower"].get("file_path")
            hi = st["upper"].get("file_path")
            bounds = {"file_path": lo} if lo is not None else {}
            dels.append(DataFile(
                file_path=p, content=CONTENT_POSITION_DELETES,
                record_count=st["num_rows"],
                file_size_in_bytes=st["size"],
                lower_bounds=dict(bounds),
                upper_bounds={"file_path": hi} if hi is not None else {},
                referenced_data_file=(lo if lo is not None and lo == hi
                                      else None),
                schema_id=schema.schema_id, spec_id=self.spec.spec_id))
        if not dels:
            return self
        # conflict matrix: positions dangle if a concurrent rewrite removed
        # a referenced file — validate existence at commit (metadata-sized
        # distinct: data-FILE paths, never positions)
        targets = {r["file_path"] for r in
                   hits.select("file_path").distinct().collect()}
        for d in dels:
            # exact-map scoping is only safe when the footer bound is the
            # UNTRUNCATED path (a truncated stat is a bound, not a value)
            if (d.referenced_data_file is not None
                    and d.referenced_data_file not in targets):
                d.referenced_data_file = None
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "delete", added_deletes=dels,
            validate_files_exist=targets))

    def _delete_mor_dv(self, spark: SparkSession, pred: E.Predicate) -> "Table":
        """Merge-on-read delete as Puffin deletion vectors (v3): one
        deletion-vector-v1 roaring blob per affected data file; each gets
        its own manifest entry carrying referenced_data_file +
        content_offset/size (data_file.rs:171-179).

        Fully distributed write: positions are range-partitioned by data
        file, each task serializes its files' roaring blobs AND writes them
        as rolled Puffin files through FileIO (write.target-file-size-bytes
        per file, mirroring the rolling data writers), and only the
        metadata-sized DataFile descriptors return to the driver for the
        commit. A wide DELETE touching millions of files never serializes
        bitmap bytes through the driver. Task retries can leave orphaned
        puffin files (like any uncommitted data write); remove_orphan_files
        collects them. In-process stores (memory://) keep the driver-side
        assembly since executor writes there aren't visible to the driver."""
        from .puffin import (DELETION_VECTOR_V1, BlobMetadata, serialize_dv,
                             write_puffin)
        schema = self.metadata.schema()
        bound = E.bind(pred, schema)
        import pandas as pd

        hits = self.scan(include_metadata_columns=True).to_df(spark) \
            .filter(E.to_spark_column(bound, schema)) \
            .select(F.regexp_replace(F.col("_file"), "^file:/*", "/").alias("fp"),
                    F.col("_pos").alias("pos"))
        loc = self.location
        seq = self.metadata.last_sequence_number + 1
        target = int(self.metadata.properties.get(
            "write.target-file-size-bytes", 32 * 1024 * 1024))

        # driver-side DV assembly for any non-spark_native store: executor
        # Python workers can't resolve dynamically registered FileIO
        # backends (io.py register_file_io), and memory:// stores aren't
        # visible across processes at all
        from .io import spark_native_path
        if not spark_native_path(loc):
            rows = hits.groupBy("fp").applyInPandas(
                lambda pdf: pd.DataFrame({
                    "fp": [pdf["fp"].iloc[0]],
                    "cardinality": [len(pdf["pos"])],
                    "blob": [serialize_dv(pdf["pos"].to_numpy())]}),
                "fp string, cardinality long, blob binary").collect()
            if not rows:
                return self
            out_path = os.path.join(loc, "data",
                                    f"dv-{uuid.uuid4().hex[:12]}.puffin")
            blobs = [(BlobMetadata(
                type=DELETION_VECTOR_V1, fields=[], snapshot_id=0,
                sequence_number=seq, offset=0, length=0,
                properties={"referenced-data-file": r["fp"],
                            "cardinality": str(r["cardinality"])}),
                bytes(r["blob"])) for r in rows]
            metas = write_puffin(out_path, blobs)
            fsize = file_io_for(out_path).size(out_path)
            desc = [(m.properties["referenced-data-file"], out_path,
                     int(m.properties["cardinality"]), m.offset, m.length,
                     fsize) for m in metas]
        else:
            def _write_dv_files(iter_pdf):
                import uuid as _uuid

                import numpy as np
                done = []           # (fp, blob bytes, cardinality)
                cur_fp, cur_pos = None, []

                def _close():
                    if cur_fp is not None and cur_pos:
                        arr = np.concatenate(cur_pos)
                        done.append((cur_fp, serialize_dv(arr), len(arr)))

                for pdf in iter_pdf:
                    # partition is sorted by (fp, pos): fp runs are
                    # contiguous within and across Arrow batches
                    for fp, grp in pdf.groupby("fp", sort=False):
                        if fp != cur_fp:
                            _close()
                            cur_fp, cur_pos = fp, []
                        cur_pos.append(grp["pos"].to_numpy())
                _close()
                out = {"fp": [], "path": [], "cardinality": [],
                       "offset": [], "length": [], "file_size": []}
                i = 0
                while i < len(done):          # roll by accumulated bytes
                    batch, size = [], 0
                    while i < len(done) and (not batch or size < target):
                        fp, blob, card = done[i]
                        batch.append((BlobMetadata(
                            type=DELETION_VECTOR_V1, fields=[],
                            snapshot_id=0, sequence_number=seq,
                            offset=0, length=0,
                            properties={"referenced-data-file": fp,
                                        "cardinality": str(card)}), blob))
                        size += len(blob)
                        i += 1
                    path = os.path.join(
                        loc, "data", f"dv-{_uuid.uuid4().hex[:12]}.puffin")
                    metas = write_puffin(path, batch)
                    fsize = file_io_for(path).size(path)
                    for m in metas:
                        out["fp"].append(m.properties["referenced-data-file"])
                        out["path"].append(path)
                        out["cardinality"].append(
                            int(m.properties["cardinality"]))
                        out["offset"].append(m.offset)
                        out["length"].append(m.length)
                        out["file_size"].append(fsize)
                yield pd.DataFrame({
                    "fp": pd.Series(out["fp"], dtype="object"),
                    "path": pd.Series(out["path"], dtype="object"),
                    "cardinality": pd.Series(out["cardinality"], dtype="int64"),
                    "offset": pd.Series(out["offset"], dtype="int64"),
                    "length": pd.Series(out["length"], dtype="int64"),
                    "file_size": pd.Series(out["file_size"], dtype="int64")})

            desc = [(r["fp"], r["path"], r["cardinality"], r["offset"],
                     r["length"], r["file_size"]) for r in
                    hits.repartitionByRange("fp")
                    .sortWithinPartitions("fp", "pos")
                    .mapInPandas(_write_dv_files,
                                 "fp string, path string, cardinality long, "
                                 "offset long, length long, file_size long")
                    .collect()]
            if not desc:
                return self
        dels = [DataFile(
            file_path=path, file_format="puffin",
            content=CONTENT_POSITION_DELETES,
            record_count=card, file_size_in_bytes=fsize,
            referenced_data_file=fp,
            content_offset=offset, content_size_in_bytes=length,
            schema_id=schema.schema_id, spec_id=self.spec.spec_id)
            for fp, path, card, offset, length, fsize in desc]
        return self._commit_retry(lambda md: self._snapshot_update(
            md, "delete", added_deletes=dels,
            validate_files_exist={d.referenced_data_file for d in dels}))

    def delete_by_equality(self, spark: SparkSession, keys_df: DataFrame,
                           eq_column_names: List[str]) -> "Table":
        """Merge-on-read equality delete: write the key tuples as an
        equality-delete file (writer/base_writer/equality_delete_writer.rs
        counterpart). An empty key set commits nothing."""
        dels = self._equality_delete_files(spark, keys_df, eq_column_names)
        if not dels:
            return self
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "delete", added_deletes=dels))

    def update_where(self, spark: SparkSession, pred: E.Predicate,
                     assignments: Dict[str, Any]) -> "Table":
        """Row-level UPDATE, copy-on-write: rewrite ONLY the files that
        might contain matches (file-pruned by the predicate); matching rows
        get the SET expressions applied, the rest copy through unchanged;
        one atomic replace snapshot. ``assignments`` values may be Spark
        Columns, SQL expression strings, or plain literals; each is cast
        back to the column's type."""
        from pyspark.sql import Column as SparkColumn

        md = self.metadata
        schema = md.schema()
        for name in assignments:
            if schema.field_by_name(name) is None:
                raise ValueError(f"no column {name}")
        bound = E.bind(pred, schema)
        plan = self.scan(row_filter=pred).plan_files()
        if not plan.tasks:
            return self
        files = [t.data_file.file_path for t in plan.tasks]
        df = self._live_rows_for_files(spark, files)
        cond = E.to_spark_column(bound, schema)
        types = dict(df.dtypes)
        out = df
        if "_last_updated_sequence_number" in out.columns:
            # BEFORE assignments rewrite the predicate columns: modified
            # rows take the NEW file's sequence number (cleared to null ->
            # read-side inheritance); untouched rows keep theirs
            out = out.withColumn(
                "_last_updated_sequence_number",
                F.when(cond, F.lit(None).cast("long"))
                .otherwise(F.col("_last_updated_sequence_number")))
        for name, expr in assignments.items():
            if isinstance(expr, SparkColumn):
                col = expr
            elif isinstance(expr, str):
                col = F.expr(expr)
            else:
                col = F.lit(expr)
            out = out.withColumn(name, F.when(cond, col.cast(types[name]))
                                 .otherwise(F.col(name)))
        added = write_data_files(spark, out, md)
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "overwrite", added=added, removed_paths=set(files),
            validate_removed_exist=True,
            validate_no_new_deletes_since=md.last_sequence_number))

    def merge(self, spark: SparkSession, source_df: DataFrame,
              key_columns: List[str],
              extra_summary: Optional[Dict[str, str]] = None,
              delete_keys_df: Optional[DataFrame] = None) -> "Table":
        """Upsert (MERGE ... WHEN MATCHED UPDATE / NOT MATCHED INSERT) in ONE
        snapshot: write the source rows as data files AND the source keys as
        an equality-delete file, commit both atomically. Both carry the same
        sequence number, and equality deletes only apply to files with a
        STRICTLY LOWER sequence (scan rule above; reference
        delete_file_index.rs:84-168) — so old rows with matching keys
        disappear and their replacements survive, with no window where a
        reader can observe the delete without the insert.

        Scale shape: the source writes distribute like any append; the key
        tuples are a narrow projection (typically <<1% of the data width),
        and applying them at read is a broadcast/left-anti join per task —
        no read-side shuffle of the fact table."""
        # ``delete_keys_df`` widens the delete set beyond the source rows
        # (CDC apply: keys deleted at the source have no replacement row
        # but must still be deleted). Keys go first: a bad key column
        # fails before any data file is written.
        dels = self._equality_delete_files(
            spark, source_df if delete_keys_df is None else delete_keys_df,
            key_columns)
        data_files = write_data_files(spark, source_df, self.metadata)
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "overwrite", added=data_files, added_deletes=dels,
            extra_summary=extra_summary))

    # ------------------------------------------------------------ maintenance
    def compact(self, spark: SparkSession,
                small_file_bytes: Optional[int] = None) -> "Table":
        """Bin-pack compaction: rewrite partitions holding >1 small file into
        target-size files; atomic replace snapshot. (Composed from the
        reference's primitives; it has no single compaction op — SURVEY §7.)"""
        md = self.metadata
        target = int(md.properties.get("write.target-file-size-bytes",
                                       str(512 * 1024 * 1024)))
        threshold = small_file_bytes or target // 2
        plan = self.scan().plan_files()
        by_part: Dict[Tuple, List] = {}
        for t in plan.tasks:
            key = tuple(sorted((k, str(v)) for k, v in t.data_file.partition.items()))
            by_part.setdefault(key, []).append(t)
        rewrite_paths: List[str] = []
        for _key, tasks in by_part.items():
            small = [t for t in tasks if t.data_file.file_size_in_bytes < threshold]
            if len(small) > 1:
                rewrite_paths += [t.data_file.file_path for t in small]
        if not rewrite_paths:
            return self
        total_bytes = sum(t.data_file.file_size_in_bytes for t in plan.tasks
                          if t.data_file.file_path in set(rewrite_paths))
        n_out = max(1, (total_bytes + target - 1) // target)
        df = self._live_rows_for_files(spark, rewrite_paths).coalesce(int(n_out))
        added = write_data_files(spark, df, md)
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "replace", added=added, removed_paths=set(rewrite_paths),
            validate_removed_exist=True,
            validate_no_new_deletes_since=md.last_sequence_number))

    def rewrite_zorder(self, spark: SparkSession, cols: List[str],
                       n_files: Optional[int] = None) -> "Table":
        """Rewrite ALL data files clustered by the Morton code of ``cols``
        (operators/zorder.py), atomically replacing the snapshot. After the
        rewrite, min/max footer stats are tight on EVERY listed column, so
        metadata pruning (plans/evaluators.py) skips files for predicates on
        any of them — the multi-dimensional complement of bin-pack compact().
        """
        from ..operators.zorder import zorder_repartition

        from ..operators.zorder import zorder_column
        from .write import partition_columns

        md = self.metadata
        plan = self.scan().plan_files()
        if not plan.tasks:
            return self
        paths = [t.data_file.file_path for t in plan.tasks]
        if n_files is None:
            target = int(md.properties.get("write.target-file-size-bytes",
                                           str(512 * 1024 * 1024)))
            total = sum(t.data_file.file_size_in_bytes for t in plan.tasks)
            n_files = max(1, int((total + target - 1) // target))
        schema = md.schema()
        df = self._live_rows_for_files(spark, paths)
        pcols = partition_columns(schema, md.spec())
        if not pcols:
            clustered = zorder_repartition(df, cols, int(n_files))
        else:
            # partitioned table: one range shuffle on (partition, z) lays
            # rows out partition-major, z-minor; the write then only splits
            # by directory (distribution_mode="none" -> no second shuffle)
            z = zorder_column(df, cols)
            tmp = df
            for pname, src, transform, styp in pcols:
                tmp = tmp.withColumn(pname,
                                     transform.spark_column(F.col(src), styp))
            names = [p[0] for p in pcols]
            clustered = (tmp.withColumn("_zorder", z)
                         .repartitionByRange(int(n_files), *names, "_zorder")
                         .sortWithinPartitions(*names, "_zorder")
                         .drop("_zorder", *names))
        added = write_data_files(spark, clustered, md,
                                 distribution_mode="none")
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "replace", added=added, removed_paths=set(paths),
            validate_removed_exist=True,
            validate_no_new_deletes_since=md.last_sequence_number))

    def rewrite_manifests(self, target_entries: int = 100_000) -> "Table":
        """Metadata-only manifest compaction (Spark's rewrite_manifests
        procedure, composed from reference primitives): merge the current
        snapshot's manifests into per-(content, spec) groups of at most
        ``target_entries`` entries. Entries are carried as EXISTING with
        their ORIGINAL snapshot/sequence numbers, so scan planning and
        delete-applicability (seq-number rules) are byte-identical; only
        the manifest grouping changes. Driver-side by design — manifests
        are metadata-sized (thousands, not millions)."""
        def update(md: TableMetadata) -> TableMetadata:
            cur = md.current_snapshot()
            if cur is None:
                return md
            fmt = md.properties.get("write.metadata.manifest-format",
                                    "parquet")
            md_dir = os.path.join(md.location, "metadata")
            old = load_manifest_list(cur.manifest_list)
            if len(old) <= 1:
                return md
            groups: Dict[Tuple[int, int], List[ManifestEntry]] = {}
            for mf in old:
                for e in load_manifest(mf.manifest_path):
                    groups.setdefault((mf.content, mf.partition_spec_id),
                                      []).append(e)
            seq = md.last_sequence_number + 1
            snap_id = new_snapshot_id()
            manifests: List[ManifestFile] = []
            for (content, spec_id), entries in sorted(groups.items()):
                for i in range(0, len(entries), target_entries):
                    chunk = entries[i:i + target_entries]
                    carried = [ManifestEntry(
                        STATUS_EXISTING, e.snapshot_id, e.sequence_number,
                        e.file_sequence_number, e.data_file) for e in chunk]
                    path = os.path.join(
                        md_dir, f"manifest-{uuid.uuid4().hex[:16]}.{fmt}")
                    if fmt == "avro":
                        from .avro_manifest import write_avro_manifest
                        length = write_avro_manifest(
                            path, carried, md.schema(), md.spec(spec_id),
                            md.format_version)
                    else:
                        length = write_manifest(path, carried)
                    seqs = [e.sequence_number or 0 for e in chunk]
                    manifests.append(ManifestFile(
                        manifest_path=path, manifest_length=length,
                        partition_spec_id=spec_id, content=content,
                        sequence_number=max(seqs), min_sequence_number=min(seqs),
                        added_snapshot_id=snap_id,
                        existing_files_count=len(chunk),
                        existing_rows_count=sum(e.data_file.record_count
                                                for e in chunk),
                        partitions=_field_summaries(
                            [e.data_file for e in chunk])))
            if len(manifests) >= len(old):
                return md                 # nothing to gain; skip the commit
            ml_path = os.path.join(
                md_dir, f"snap-{snap_id}-{uuid.uuid4().hex[:8]}.{fmt}")
            if fmt == "avro":
                from .avro_manifest import write_avro_manifest_list
                write_avro_manifest_list(ml_path, manifests,
                                         spec_fields=md.spec().fields,
                                         schema=md.schema())
            else:
                write_manifest_list(ml_path, manifests)
            snap = Snapshot(
                snapshot_id=snap_id, sequence_number=seq,
                timestamp_ms=now_ms(), manifest_list=ml_path,
                summary={"operation": "replace",
                         "manifests-replaced": str(len(old)),
                         "manifests-created": str(len(manifests)),
                         "total-records": str(sum(
                             m.existing_rows_count for m in manifests
                             if m.content == 0)),
                         "total-data-files": str(sum(
                             m.existing_files_count for m in manifests
                             if m.content == 0))},
                parent_snapshot_id=cur.snapshot_id,
                schema_id=md.current_schema_id)
            md.snapshots.append(snap)
            md.last_sequence_number = seq
            md.current_snapshot_id = snap_id
            md.refs[MAIN_BRANCH] = SnapshotRef(snap_id, "branch")
            md.snapshot_log.append({"timestamp-ms": snap.timestamp_ms,
                                    "snapshot-id": snap_id})
            return md

        return self._commit_retry(update)

    def remove_dangling_deletes(self) -> "Table":
        """Spark's remove_dangling_deletes: drop whole delete FILES that no
        live data file can reference anymore (sequence-number rules after
        compaction/rewrites make old deletes unreachable) — metadata-only,
        one replace snapshot, no data IO. Complements
        rewrite_position_deletes (which drops dangling POSITIONS inside
        still-referenced files)."""
        def update(md: TableMetadata) -> TableMetadata:
            cur = md.current_snapshot()
            if cur is None:
                return md
            plan = TableScan(md).plan_files()
            used = {d.file_path for t in plan.tasks
                    for d in list(t.pos_deletes) + list(t.eq_deletes)}
            fmt = md.properties.get("write.metadata.manifest-format",
                                    "parquet")
            md_dir = os.path.join(md.location, "metadata")
            old = load_manifest_list(cur.manifest_list)
            manifests: List[ManifestFile] = []
            dropped = 0
            snap_id = new_snapshot_id()
            for mf in old:
                if mf.content == 0:
                    manifests.append(mf)
                    continue
                entries = list(load_manifest(mf.manifest_path))
                keep = [e for e in entries
                        if e.data_file.file_path in used]
                dropped += len(entries) - len(keep)
                if len(keep) == len(entries):
                    manifests.append(mf)
                    continue
                if not keep:
                    continue
                carried = [ManifestEntry(
                    STATUS_EXISTING, e.snapshot_id, e.sequence_number,
                    e.file_sequence_number, e.data_file) for e in keep]
                path = os.path.join(
                    md_dir, f"manifest-{uuid.uuid4().hex[:16]}.{fmt}")
                if fmt == "avro":
                    from .avro_manifest import write_avro_manifest
                    length = write_avro_manifest(
                        path, carried, md.schema(),
                        md.spec(mf.partition_spec_id), md.format_version)
                else:
                    length = write_manifest(path, carried)
                seqs = [e.sequence_number or 0 for e in keep]
                manifests.append(ManifestFile(
                    manifest_path=path, manifest_length=length,
                    partition_spec_id=mf.partition_spec_id,
                    content=mf.content,
                    sequence_number=max(seqs), min_sequence_number=min(seqs),
                    added_snapshot_id=snap_id,
                    existing_files_count=len(keep),
                    existing_rows_count=sum(e.data_file.record_count
                                            for e in keep),
                    partitions=_field_summaries(
                        [e.data_file for e in keep])))
            if dropped == 0:
                return md
            seq = md.last_sequence_number + 1
            ml_path = os.path.join(
                md_dir, f"snap-{snap_id}-{uuid.uuid4().hex[:8]}.{fmt}")
            if fmt == "avro":
                from .avro_manifest import write_avro_manifest_list
                write_avro_manifest_list(ml_path, manifests,
                                         spec_fields=md.spec().fields,
                                         schema=md.schema())
            else:
                write_manifest_list(ml_path, manifests)
            snap = Snapshot(
                snapshot_id=snap_id, sequence_number=seq,
                timestamp_ms=now_ms(), manifest_list=ml_path,
                summary={"operation": "replace",
                         "removed-delete-files": str(dropped)},
                parent_snapshot_id=cur.snapshot_id,
                schema_id=md.current_schema_id)
            md.snapshots.append(snap)
            md.last_sequence_number = seq
            md.current_snapshot_id = snap_id
            md.refs[MAIN_BRANCH] = SnapshotRef(snap_id, "branch")
            md.snapshot_log.append({"timestamp-ms": snap.timestamp_ms,
                                    "snapshot-id": snap_id})
            return md

        return self._commit_retry(update)

    def rewrite_position_deletes(self, spark: SparkSession) -> "Table":
        """Compact positional-delete parquet files (Spark's
        rewrite_position_delete_files): read every live pos-delete parquet
        row distributed, DROP dangling positions (whose data file is no
        longer live), and write back size-targeted delete files replacing
        the old set in one atomic snapshot. Puffin DVs are already
        one-blob-per-data-file and are left untouched."""
        plan = self.scan().plan_files()
        live_paths = [t.data_file.file_path for t in plan.tasks]
        snap = self.metadata.current_snapshot()
        if snap is None:
            return self
        old_dels = []
        for mf in load_manifest_list(snap.manifest_list):
            for e in load_manifest(mf.manifest_path):
                f = e.data_file
                if (f.content == CONTENT_POSITION_DELETES
                        and (f.file_format or "").lower() != "puffin"):
                    old_dels.append(f)
        if not old_dels:
            return self
        live_df = spark.createDataFrame([(p,) for p in live_paths],
                                        "file_path string")
        from .io import localize_paths, spark_native_path
        del_paths = [f.file_path for f in old_dels]
        if not spark_native_path(del_paths[0]):
            del_paths = localize_paths(del_paths)
        hits = (spark.read.parquet(*del_paths)
                .select("file_path", "pos")
                .join(F.broadcast(live_df), "file_path", "left_semi"))
        dels = self._delete_files(self._write_position_deletes(spark, hits),
                                  CONTENT_POSITION_DELETES)
        removed = {f.file_path for f in old_dels}
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "replace", added_deletes=dels, removed_paths=removed,
            extra_summary={"removed-delete-files": str(len(removed))}))

    def convert_equality_deletes(self, spark: SparkSession) -> "Table":
        """Rewrite equality deletes as positional deletes (the maintenance
        step that keeps MOR read amplification bounded: eq-deletes force a
        hash join per scan, pos-deletes are a sorted anti-join on
        (_file, _pos)). Deleted positions are computed distributed as
        (rows surviving pos/DV deletes) MINUS (rows surviving all
        deletes) — per-task applicability (sequence-number rules) is
        exactly the scan planner's, so the converted set is byte-equal to
        what the eq-deletes were masking."""
        snap = self.metadata.current_snapshot()
        if snap is None:
            return self
        eq_paths = set()
        for mf in load_manifest_list(snap.manifest_list):
            for e in load_manifest(mf.manifest_path):
                if e.data_file.content == CONTENT_EQUALITY_DELETES:
                    eq_paths.add(e.data_file.file_path)
        if not eq_paths:
            return self
        norm = lambda c: F.regexp_replace(c, "^file:/*", "/")  # noqa: E731
        live = self.scan(include_metadata_columns=True).to_df(spark) \
            .select(norm(F.col("_file")).alias("file_path"),
                    F.col("_pos").alias("pos"))
        scan_no_eq = self.scan(include_metadata_columns=True)
        orig_plan = scan_no_eq.plan_files

        def plan_without_eq():
            p = orig_plan()
            for t in p.tasks:
                t.eq_deletes = []
            return p

        scan_no_eq.plan_files = plan_without_eq  # type: ignore[method-assign]
        base = scan_no_eq.to_df(spark) \
            .select(norm(F.col("_file")).alias("file_path"),
                    F.col("_pos").alias("pos"))
        hits = base.join(live, ["file_path", "pos"], "left_anti")
        dels = self._delete_files(self._write_position_deletes(spark, hits),
                                  CONTENT_POSITION_DELETES)
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "replace", added_deletes=dels, removed_paths=eq_paths,
            extra_summary={"removed-delete-files": str(len(eq_paths))}))

    def rewrite_table_path(self, source_prefix: str, target_prefix: str,
                           staging_dir: Optional[str] = None
                           ) -> Dict[str, str]:
        """Spark-Iceberg's ``rewrite_table_path`` procedure: stage a copy
        of the metadata tree (manifest lists, manifests, metadata JSON)
        with every absolute path under ``source_prefix`` rewritten to
        ``target_prefix``, and emit a ``file-list.csv`` of
        ``source,target`` pairs covering data/delete files, statistics
        files, historical metadata, and the staged metadata files
        themselves. Nothing is copied here — the file list drives the
        user's bulk copy (DistCp-style); after the copy, the tree at
        ``target_prefix`` is self-consistent, including time travel
        (every snapshot in the CURRENT metadata is rewritten; files listed
        in metadata-log copy verbatim, so loading a historical metadata
        file directly still shows source paths). Metadata-sized driver
        work only."""
        md = TableMetadata.from_json(self.metadata.to_json())
        fmt = md.properties.get("write.metadata.manifest-format", "parquet")
        staging = staging_dir or os.path.join(
            md.location, "metadata", f"rewrite-staging-{uuid.uuid4().hex[:8]}")
        io = file_io_for(staging)
        io.makedirs(staging)

        def sub(p: str) -> str:
            return (target_prefix + p[len(source_prefix):]
                    if p and p.startswith(source_prefix) else p)

        copies: List[Tuple[str, str]] = []   # (copy-from, copy-to)
        staged_manifests: Dict[str, Tuple[str, int]] = {}  # src -> (tgt, len)
        staged_deletes: Dict[str, int] = {}  # src -> staged size

        def stage_delete_file(src: str) -> int:
            """Positional-delete files EMBED data-file paths (pos-delete
            parquet `file_path` column; DV puffin `referenced-data-file`
            blob properties) — rewrite the contents, not just the pointer.
            Returns the staged file's size. Blob offsets are unchanged for
            puffin (only the footer moves), so DataFile content_offset/
            content_size stay valid."""
            if src in staged_deletes:
                return staged_deletes[src]
            base = src.rsplit("/", 1)[-1]
            staged = posix_join(staging, base)
            if src.endswith(".puffin"):
                from .puffin import (read_blob, read_puffin_footer,
                                     write_puffin)
                metas, props = read_puffin_footer(src)
                blobs = []
                for m in metas:
                    data = read_blob(src, m)
                    ref = m.properties.get("referenced-data-file")
                    if ref:
                        m.properties["referenced-data-file"] = sub(ref)
                    blobs.append((m, data))
                write_puffin(staged, blobs, props)
            else:
                import io as _io

                import pyarrow as _pa
                import pyarrow.parquet as _pq
                tbl = _pq.read_table(
                    _io.BytesIO(file_io_for(src).read_bytes(src)))
                idx = tbl.schema.get_field_index("file_path")
                rewritten = _pa.array(
                    [sub(v) for v in tbl.column(idx).to_pylist()],
                    type=tbl.schema.field(idx).type)
                tbl = tbl.set_column(idx, tbl.schema.field(idx), rewritten)
                buf = _io.BytesIO()
                _pq.write_table(tbl, buf)
                file_io_for(staged).write_bytes(staged, buf.getvalue())
            copies.append((staged, sub(src)))
            size = file_io_for(staged).size(staged)
            staged_deletes[src] = size
            return size

        def stage_manifest(mf) -> Tuple[str, int]:
            if mf.manifest_path in staged_manifests:
                return staged_manifests[mf.manifest_path]
            import dataclasses as _dc

            # DEEP-copy before rewriting: load_manifest hands out the
            # planner cache's own entry objects (memoized per (path,
            # mtime)) — mutating them in place would corrupt the SOURCE
            # table's cached metadata for every later scan this session
            entries = [
                _dc.replace(e, data_file=_dc.replace(
                    e.data_file,
                    partition=dict(e.data_file.partition),
                    lower_bounds=dict(e.data_file.lower_bounds),
                    upper_bounds=dict(e.data_file.upper_bounds)))
                for e in load_manifest(mf.manifest_path)]
            for e in entries:
                f = e.data_file
                if f.content == CONTENT_POSITION_DELETES and \
                        f.file_path.startswith(source_prefix):
                    f.file_size_in_bytes = stage_delete_file(f.file_path)
                    f.file_path = sub(f.file_path)
                    for bounds in (f.lower_bounds, f.upper_bounds):
                        if bounds and "file_path" in bounds:
                            bounds["file_path"] = sub(bounds["file_path"])
                elif f.file_path.startswith(source_prefix):
                    copies.append((f.file_path, sub(f.file_path)))
                    f.file_path = sub(f.file_path)
                if f.referenced_data_file:
                    f.referenced_data_file = sub(f.referenced_data_file)
            base = mf.manifest_path.rsplit("/", 1)[-1]
            staged = posix_join(staging, base)
            if fmt == "avro":
                from .avro_manifest import write_avro_manifest
                length = write_avro_manifest(
                    staged, entries, md.schema(),
                    md.spec(mf.partition_spec_id), md.format_version)
            else:
                length = write_manifest(staged, entries)
            target = sub(mf.manifest_path)
            copies.append((staged, target))
            staged_manifests[mf.manifest_path] = (target, length)
            return target, length

        for snap in md.snapshots:
            # copies, not the cached records: load_manifest_list memoizes
            # ManifestFile objects per (path, mtime) — mutating them would
            # corrupt the SOURCE table's cached manifest list (same rule
            # as the entry deep-copy in stage_manifest)
            import dataclasses as _dc
            manifests = [_dc.replace(mf)
                         for mf in load_manifest_list(snap.manifest_list)]
            for mf in manifests:
                mf.manifest_path, mf.manifest_length = stage_manifest(mf)
            ml_base = snap.manifest_list.rsplit("/", 1)[-1]
            staged_ml = posix_join(staging, ml_base)
            if fmt == "avro":
                from .avro_manifest import write_avro_manifest_list
                write_avro_manifest_list(
                    staged_ml, manifests, spec_fields=md.spec().fields,
                    schema=md.schema())
            else:
                write_manifest_list(staged_ml, manifests)
            copies.append((staged_ml, sub(snap.manifest_list)))
            snap.manifest_list = sub(snap.manifest_list)

        for sf in md.statistics + md.partition_statistics:
            for key in ("statistics-path", "path"):
                if sf.get(key):
                    copies.append((sf[key], sub(sf[key])))
                    sf[key] = sub(sf[key])
        for entry in md.metadata_log:
            copies.append((entry["metadata-file"],
                           sub(entry["metadata-file"])))
            entry["metadata-file"] = sub(entry["metadata-file"])

        md.location = sub(md.location)
        latest = f"v{self.version}.metadata.json"
        staged_md = posix_join(staging, latest)
        io.write_text(staged_md, md.to_json())
        copies.append((staged_md,
                       posix_join(md.location, "metadata", latest)))

        file_list = posix_join(staging, "file-list.csv")
        io.write_text(file_list,
                      "\n".join(f"{s},{t}" for s, t in copies) + "\n")
        return {"latest_version": latest,
                "file_list_location": file_list,
                "staged_metadata": staged_md}

    def expire_snapshots(self, older_than_ms: Optional[int] = None,
                         retain_last: Optional[int] = None,
                         clean_expired_metadata: bool = False) -> "Table":
        """Metadata-only snapshot expiry (transaction/expire_snapshots.rs:34-86
        semantics): age + retain-last, never expiring ref heads. When the
        arguments are omitted, the standard retention table properties apply:
        ``history.expire.max-snapshot-age-ms`` (cutoff = now - age) and
        ``history.expire.min-snapshots-to-keep``.

        Per-ref retention (spec SnapshotRetention, snapshot.rs:450-479) is
        honored on top: non-main refs older than their ``max-ref-age-ms``
        (default ``history.expire.max-ref-age-ms``) are dropped first, and
        each surviving branch keeps its own ancestor chain per its
        ``min-snapshots-to-keep`` / ``max-snapshot-age-ms`` overrides. A
        snapshot survives if ANY retention rule keeps it."""
        def action(md: TableMetadata) -> TableMetadata:
            nonlocal older_than_ms, retain_last
            now = now_ms()
            if older_than_ms is None:
                age = md.properties.get("history.expire.max-snapshot-age-ms")
                older_than_ms = (now - int(age)) if age else now
            if retain_last is None:
                keep = md.properties.get(
                    "history.expire.min-snapshots-to-keep")
                retain_last = int(keep) if keep else 1
            cutoff = older_than_ms
            # 1. per-ref ref expiry (spec SnapshotRetention.max-ref-age-ms,
            #    ref default history.expire.max-ref-age-ms; main NEVER
            #    expires): the ref's age is its snapshot's age
            default_ref_age = md.properties.get("history.expire.max-ref-age-ms")
            default_ref_age = int(default_ref_age) if default_ref_age else None
            kept_refs: Dict[str, SnapshotRef] = {}
            for name, ref in md.refs.items():
                if name == MAIN_BRANCH:
                    kept_refs[name] = ref
                    continue
                limit = (ref.max_ref_age_ms if ref.max_ref_age_ms is not None
                         else default_ref_age)
                snap = md.snapshot_by_id(ref.snapshot_id)
                if limit is not None and snap is not None \
                        and now - snap.timestamp_ms > limit:
                    continue
                kept_refs[name] = ref
            md.refs = kept_refs
            # 2. keep set: ref heads, current, global retain-last, and each
            #    branch's OWN ancestor retention (min-snapshots-to-keep /
            #    max-snapshot-age-ms override the table defaults per branch)
            keep_ids = {r.snapshot_id for r in md.refs.values()}
            if md.current_snapshot_id is not None:
                keep_ids.add(md.current_snapshot_id)
            chron = sorted(md.snapshots, key=lambda s: s.timestamp_ms)
            for s in chron[-max(retain_last, 1):]:
                keep_ids.add(s.snapshot_id)
            for ref in md.refs.values():
                if ref.type != "branch":
                    continue
                min_keep = (ref.min_snapshots_to_keep
                            if ref.min_snapshots_to_keep is not None
                            else max(retain_last, 1))
                br_cutoff = (now - ref.max_snapshot_age_ms
                             if ref.max_snapshot_age_ms is not None
                             else cutoff)
                kept, cur = 0, ref.snapshot_id
                while cur is not None:
                    snap = md.snapshot_by_id(cur)
                    if snap is None:
                        break
                    if kept < min_keep or snap.timestamp_ms > br_cutoff:
                        keep_ids.add(snap.snapshot_id)
                        kept += 1
                        cur = snap.parent_snapshot_id
                    else:
                        break
            md.snapshots = [s for s in md.snapshots
                            if s.snapshot_id in keep_ids or s.timestamp_ms > cutoff]
            valid = {s.snapshot_id for s in md.snapshots}
            md.snapshot_log = [e for e in md.snapshot_log if e["snapshot-id"] in valid]
            if clean_expired_metadata:
                # Spark's cleanExpiredMetadata: prune schemas no surviving
                # snapshot wrote with, and partition specs no surviving
                # manifest references (current schema / default spec always
                # stay) — the metadata-side GC that pairs with file GC
                used_schemas = {md.current_schema_id} | {
                    s.schema_id for s in md.snapshots
                    if s.schema_id is not None}
                md.schemas = [s for s in md.schemas
                              if s.schema_id in used_schemas]
                used_specs = {md.default_spec_id}
                for s in md.snapshots:
                    try:
                        for mf in load_manifest_list(s.manifest_list):
                            used_specs.add(mf.partition_spec_id)
                    except Exception:  # noqa: BLE001 - missing list = keep
                        used_specs |= {p.spec_id
                                       for p in md.partition_specs}
                md.partition_specs = [p for p in md.partition_specs
                                      if p.spec_id in used_specs]
            return md
        return self._commit_retry(action)

    def remove_orphan_files(self, older_than_ms: Optional[int] = None,
                            dry_run: bool = False) -> List[str]:
        """Delete files under the table location referenced by NO snapshot
        (the GC the reference leaves to the caller after expire_snapshots).

        Referenced = every data/delete/DV file and manifest (-list) reachable
        from any retained snapshot, plus everything under metadata/. Only
        files older than ``older_than_ms`` (default: now) are removed —
        protects in-flight writes that have produced files but not yet
        committed. Returns removed (or would-remove, when dry_run) paths.

        At 100 TB this is a driver walk of the object listing vs a referenced
        set built from metadata only — both O(file-count), no data IO."""
        md = self.metadata
        cutoff = older_than_ms if older_than_ms is not None else now_ms()
        referenced: set = set()
        for snap in md.snapshots:
            referenced.add(os.path.abspath(snap.manifest_list))
            try:
                manifests = load_manifest_list(snap.manifest_list)
            except FileNotFoundError:
                continue
            for mf in manifests:
                referenced.add(_canon(mf.manifest_path))
                for e in load_manifest(mf.manifest_path):
                    referenced.add(_canon(e.data_file.file_path))
        removed: List[str] = []
        fio = file_io_for(self.location)
        meta_dir = _canon(os.path.join(self.location, "metadata"))
        for p in fio.list_files(self.location):
            n = os.path.basename(p)
            if n.startswith(".") or n.startswith("_"):
                continue  # Spark sidecars (_SUCCESS, .crc) are not data
            in_meta = _canon(p).startswith(meta_dir)
            if in_meta and not (n.startswith("manifest-") or
                                n.startswith("snap-")):
                continue  # table-metadata jsons + version hints stay
            p = _canon(p)
            if p in referenced:
                continue
            if fio.mtime_ns(p) // 1_000_000 > cutoff:
                continue
            removed.append(p)
            if not dry_run:
                fio.delete(p)
        return removed

    def commit_updates(self, updates: List[Dict[str, Any]],
                       requirements: Sequence[Dict[str, Any]] = ()) -> "Table":
        """REST-catalog-protocol commit (catalog/mod.rs:443-649): check every
        TableRequirement against the CURRENT metadata, fold the TableUpdate
        list into a copy, CAS it in. Conflicts refresh-and-retry; requirement
        failures abort (they are the optimistic-concurrency guards)."""
        from .updates import apply_updates, check_requirement

        def action(md: TableMetadata) -> TableMetadata:
            for req in requirements:
                check_requirement(md, req)
            return apply_updates(md, list(updates))
        return self._commit_retry(action)

    def update_properties(self, updates: Dict[str, str],
                          removals: Optional[Sequence[str]] = None) -> "Table":
        def action(md: TableMetadata) -> TableMetadata:
            md.properties.update(updates)
            for k in removals or []:
                md.properties.pop(k, None)
            return md
        return self._commit_retry(action)

    def update_schema(self) -> "SchemaUpdate":
        return SchemaUpdate(self)

    def rollback_to(self, snapshot_id: int) -> "Table":
        """Point main back at an earlier snapshot (metadata-only undo; the
        rolled-past snapshots stay addressable until expiry)."""
        return self.set_ref(MAIN_BRANCH, snapshot_id)

    def set_ref(self, name: str, snapshot_id: int, ref_type: str = "branch",
                min_snapshots_to_keep: Optional[int] = None,
                max_snapshot_age_ms: Optional[int] = None,
                max_ref_age_ms: Optional[int] = None) -> "Table":
        def action(md: TableMetadata) -> TableMetadata:
            if md.snapshot_by_id(snapshot_id) is None:
                raise ValueError(f"no snapshot {snapshot_id}")
            md.refs[name] = SnapshotRef(snapshot_id, ref_type,
                                        min_snapshots_to_keep,
                                        max_snapshot_age_ms, max_ref_age_ms)
            if name == MAIN_BRANCH:
                # same main special-case as the set-snapshot-ref applier:
                # re-pointing main IS the fast-forward/rollback primitive
                md.current_snapshot_id = snapshot_id
                md.snapshot_log.append({
                    "timestamp-ms": now_ms(), "snapshot-id": snapshot_id})
            return md
        return self._commit_retry(action)

    # -------------------------------------------------------- metadata tables
    def export_avro_metadata(self, out_dir: Optional[str] = None,
                             snapshot_id: Optional[int] = None,
                             format_version: int = 2) -> Dict[str, str]:
        """Export the (current or given) snapshot's manifests + manifest list
        in the SPEC Avro layout (avro_manifest.py) so external Iceberg
        readers can verify our tables, plus a table-metadata JSON pointing
        at the Avro manifest list. Returns {"metadata": path,
        "manifest_list": path, "manifests": [paths...]}. Our native Parquet
        manifests are untouched — this is an additive interop view.
        ``format_version=1`` writes the v1 entry/list layouts (data files
        only — v1 tables have no delete files, write_avro_manifest
        raises on delete entries)."""
        import json as _json

        from .avro_manifest import (write_avro_manifest,
                                    write_avro_manifest_list)
        snap = (self.metadata.snapshot_by_id(snapshot_id)
                if snapshot_id is not None else self.metadata.current_snapshot())
        if snap is None:
            raise ValueError("table has no snapshot to export")
        base = out_dir or os.path.join(self.location, "metadata", "avro-export")
        fio = file_io_for(base)
        schema = self.metadata.schema(snap.schema_id)
        out_manifests: List[str] = []
        mf_records: List[ManifestFile] = []
        snap_manifests = list(load_manifest_list(snap.manifest_list))
        # the spec advertised table-wide (manifest-list FieldSummary
        # encoding + v1's singular 'partition-spec') must be the spec the
        # EXPORTED snapshot's manifests were written under, not the
        # table's current default: exporting an old snapshot of a
        # spec-evolved table would otherwise hand strict v1 readers a
        # spec that disagrees with every manifest (ADVICE r12). When the
        # snapshot mixes specs there is no single honest answer — fall
        # back to the current default (per-manifest wspec stays exact).
        _spec_ids = {m.partition_spec_id for m in snap_manifests}
        try:
            export_spec = (self.metadata.spec(next(iter(_spec_ids)))
                           if len(_spec_ids) == 1 else self.metadata.spec())
        except Exception:   # unknown spec id (external writer): default
            export_spec = self.metadata.spec()
        for i, mf in enumerate(snap_manifests):
            entries = list(load_manifest(mf.manifest_path))
            spec = self.metadata.spec(mf.partition_spec_id)
            # embed the schema the manifest's files were WRITTEN under
            # (real Iceberg manifests carry the writer-time schema): the
            # reader keys stats + projection off the embedded schema-id,
            # so a renamed/added column in newer schemas must not be
            # stamped onto older files
            sids = {e.data_file.schema_id for e in entries
                    if e.data_file.schema_id is not None}
            mschema = (self.metadata.schema(next(iter(sids)))
                       if len(sids) == 1 else schema)
            # global-scoped delete files (empty partition tuples spanning
            # partitions) export with an EMPTY partition record — forcing
            # them into the data spec's record would fabricate all-None
            # partition values and mis-scope them on readback
            wspec = spec
            if entries and all(not e.data_file.partition for e in entries):
                from .metadata import PartitionSpec as _PSpec
                wspec = _PSpec(spec.spec_id, [])
            mpath = os.path.join(base, f"manifest-{snap.snapshot_id}-{i}.avro")
            length = write_avro_manifest(mpath, entries, mschema, wspec,
                                         format_version=format_version)
            out_manifests.append(mpath)
            import dataclasses as _dc
            rec = _dc.replace(mf, manifest_path=mpath,
                              manifest_length=length)
            mf_records.append(rec)
        ml_path = os.path.join(base, f"snap-{snap.snapshot_id}.avro")
        write_avro_manifest_list(ml_path, mf_records,
                                 spec_fields=export_spec.fields,
                                 schema=schema,
                                 format_version=format_version)
        # metadata JSON re-pointed at the avro manifest list
        md_dict = _json.loads(self.metadata.to_json())
        if format_version == 1:
            # strict v1 readers (pyiceberg TableMetadataV1) REQUIRE the
            # singular 'schema' / 'partition-spec' keys that v2 dropped;
            # emit both alongside the modern plural forms. The singular
            # schema is the EXPORTED SNAPSHOT's schema — current-schema-id
            # must agree with it (exporting an old snapshot of an evolved
            # table would otherwise hand strict readers two answers)
            md_dict["format-version"] = 1
            md_dict["schema"] = schema.to_json_dict()
            md_dict["current-schema-id"] = schema.schema_id
            # singular spec follows the exported snapshot's manifests
            # (see export_spec above); default-spec-id must agree so a
            # strict reader never sees two answers
            md_dict["partition-spec"] = [
                pf.to_json() for pf in export_spec.fields]
            md_dict["default-spec-id"] = export_spec.spec_id
        for s in md_dict.get("snapshots", []):
            if s.get("snapshot-id") == snap.snapshot_id:
                s["manifest-list"] = ml_path
        md_path = os.path.join(base, "v-export.metadata.json")
        fio.write_text(md_path, _json.dumps(md_dict))
        return {"metadata": md_path, "manifest_list": ml_path,
                "manifests": out_manifests}

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """snapshots metadata table (inspect/snapshots.rs:82 counterpart);
        carries the summary map so counts are queryable."""
        rows = [(s.snapshot_id, s.parent_snapshot_id, s.sequence_number,
                 s.timestamp_ms, s.operation, s.manifest_list,
                 {k: str(v) for k, v in s.summary.items()})
                for s in self.metadata.snapshots]
        return spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, sequence_number long, "
                  "committed_at_ms long, operation string, manifest_list string, "
                  "summary map<string,string>")

    def history_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `history` (Spark shape): every time a snapshot
        was made current, its parent, and whether it is still an ancestor
        of the CURRENT head — rollbacks leave is_current_ancestor=false
        rows, which is how orphaned history is audited."""
        snaps = {s.snapshot_id: s for s in self.metadata.snapshots}
        ancestors = set()
        cur = self.metadata.current_snapshot_id
        while cur is not None and cur in snaps and cur not in ancestors:
            ancestors.add(cur)
            cur = snaps[cur].parent_snapshot_id
        rows = [(e["timestamp-ms"], e["snapshot-id"],
                 snaps[e["snapshot-id"]].parent_snapshot_id
                 if e["snapshot-id"] in snaps else None,
                 e["snapshot-id"] in ancestors)
                for e in self.metadata.snapshot_log]
        return spark.createDataFrame(
            rows, "made_current_at_ms long, snapshot_id long, "
                  "parent_id long, is_current_ancestor boolean")

    def manifests_df(self, spark: SparkSession) -> DataFrame:
        snap = self.metadata.current_snapshot()
        rows = []
        if snap:
            for m in load_manifest_list(snap.manifest_list):
                rows.append((m.manifest_path, m.manifest_length, m.partition_spec_id,
                             m.content, m.sequence_number, m.added_files_count,
                             m.existing_files_count, m.deleted_files_count,
                             m.added_rows_count))
        return spark.createDataFrame(
            rows, "path string, length long, partition_spec_id int, content int, "
                  "sequence_number long, added_data_files_count int, "
                  "existing_data_files_count int, deleted_data_files_count int, "
                  "added_rows_count long")

    def files_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `files`: one row per live data file with the
        per-column stat maps the spec records (column_sizes, value_counts,
        null_value_counts, bounds rendered as strings — the same columns
        Iceberg's files inspect table exposes)."""
        rows = []
        for t in self.scan().plan_files().tasks:
            f = t.data_file
            rows.append((f.file_path, f.file_format, f.record_count,
                         f.file_size_in_bytes, str(f.partition), f.spec_id,
                         f.schema_id,
                         {k: int(v) for k, v in (f.column_sizes or {}).items()},
                         {k: int(v) for k, v in (f.value_counts or {}).items()},
                         {k: int(v) for k, v in
                          (f.null_value_counts or {}).items()},
                         {k: str(v) for k, v in (f.lower_bounds or {}).items()},
                         {k: str(v) for k, v in (f.upper_bounds or {}).items()},
                         list(f.split_offsets or []),
                         # readable_metrics (Spark's files-table column):
                         # one struct PER DATA COLUMN with its stats in
                         # human-readable form
                         {col: (
                             int((f.column_sizes or {}).get(col, 0)) or None,
                             int((f.value_counts or {}).get(col, 0)) or None,
                             (None if (f.null_value_counts or {}).get(col)
                              is None else int(f.null_value_counts[col])),
                             (None if (f.nan_value_counts or {}).get(col)
                              is None else int(f.nan_value_counts[col])),
                             (None if (f.lower_bounds or {}).get(col) is None
                              else str(f.lower_bounds[col])),
                             (None if (f.upper_bounds or {}).get(col) is None
                              else str(f.upper_bounds[col])))
                          for col in sorted(set(f.value_counts or {})
                                            | set(f.column_sizes or {}))}))
        metric_t = ("struct<column_size:long,value_count:long,"
                    "null_value_count:long,nan_value_count:long,"
                    "lower_bound:string,upper_bound:string>")
        return spark.createDataFrame(
            rows, "file_path string, file_format string, record_count long, "
                  "file_size_in_bytes long, partition string, spec_id int, "
                  "schema_id int, column_sizes map<string,long>, "
                  "value_counts map<string,long>, "
                  "null_value_counts map<string,long>, "
                  "lower_bounds map<string,string>, "
                  "upper_bounds map<string,string>, split_offsets array<long>,"
                  f" readable_metrics map<string,{metric_t}>")

    # ------------------------------------------------------ incremental read
    def entries_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table: one row per live manifest entry of the current
        snapshot (the `entries` inspect table), with content/status/seq and
        per-file stats — metadata-only, no data IO."""
        snap = self.metadata.current_snapshot()
        rows = []
        if snap is not None:
            for mf in load_manifest_list(snap.manifest_list):
                for e in load_manifest(mf.manifest_path):
                    f = e.data_file
                    rows.append((e.status, e.snapshot_id, e.sequence_number,
                                 f.content, f.file_path, f.file_format,
                                 f.record_count, f.file_size_in_bytes,
                                 f.spec_id,
                                 f.referenced_data_file))
        return spark.createDataFrame(
            rows, "status int, snapshot_id long, sequence_number long, "
                  "content int, file_path string, file_format string, "
                  "record_count long, file_size_in_bytes long, spec_id int, "
                  "referenced_data_file string")

    def delete_files_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `delete_files`: one row per live DELETE file
        (positional, equality, or DV) of the current snapshot, with the
        DV's referenced data file and blob offsets where present."""
        snap = self.metadata.current_snapshot()
        rows = []
        if snap is not None:
            for mf in load_manifest_list(snap.manifest_list):
                for e in load_manifest(mf.manifest_path):
                    f = e.data_file
                    if f.content == CONTENT_DATA:
                        continue
                    rows.append((f.content, f.file_path, f.file_format,
                                 f.record_count, f.file_size_in_bytes,
                                 f.spec_id, f.referenced_data_file,
                                 f.content_offset, f.content_size_in_bytes,
                                 list(f.equality_ids or [])))
        return spark.createDataFrame(
            rows, "content int, file_path string, file_format string, "
                  "record_count long, file_size_in_bytes long, spec_id int, "
                  "referenced_data_file string, content_offset long, "
                  "content_size_in_bytes long, equality_ids array<int>")

    def position_deletes_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `position_deletes`: one row per (data file,
        position) delete of the current snapshot. Parquet pos-delete files
        are read by Spark's distributed reader; DV blobs go through
        scan.dv_pairs_df (descriptor shipping + executor-side roaring
        decode for large blob totals), so positions never collect on the
        driver at scale."""
        from pyspark.sql import functions as F

        from .scan import dv_pairs_df
        snap = self.metadata.current_snapshot()
        pq_paths: list = []
        dv_files: list = []
        if snap is not None:
            for mf in load_manifest_list(snap.manifest_list):
                for e in load_manifest(mf.manifest_path):
                    f = e.data_file
                    if f.content != CONTENT_POSITION_DELETES:
                        continue
                    if (f.file_format or "").lower() == "puffin":
                        dv_files.append(f)
                    else:
                        pq_paths.append(f.file_path)
        schema = ("file_path string, pos long, delete_file_path string, "
                  "file_format string")
        parts = []
        if pq_paths:
            parts.append(
                spark.read.parquet(*pq_paths)
                .select("file_path", "pos",
                        (_decode_file_uri(F.input_file_name())
                         if _paths_need_decode(pq_paths)
                         else F.input_file_name())
                        .alias("delete_file_path"),
                        F.lit("parquet").alias("file_format")))
        if dv_files:
            pairs = dv_pairs_df(spark, dv_files)
            desc = spark.createDataFrame(
                [(d.referenced_data_file, d.file_path) for d in dv_files],
                "ref string, dv_path string")
            parts.append(
                pairs.join(F.broadcast(desc),
                           pairs["_del_file"] == desc["ref"])
                .select(F.col("_del_file").alias("file_path"),
                        F.col("_del_pos").alias("pos"),
                        F.col("dv_path").alias("delete_file_path"),
                        F.lit("puffin").alias("file_format")))
        if not parts:
            return spark.createDataFrame([], schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def metadata_log_entries_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `metadata_log_entries`: the table's metadata-file
        history (metadata-log) plus the current file, newest last."""
        rows = [(e["timestamp-ms"], e["metadata-file"])
                for e in self.metadata.metadata_log]
        rows.append((self.metadata.last_updated_ms,
                     self.metadata.metadata_file_location))
        return spark.createDataFrame(
            rows, "timestamp_ms long, file string")

    def all_manifests_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `all_manifests`: manifests of EVERY snapshot (the
        cross-snapshot inspect family), one row per (snapshot, manifest)."""
        rows = []
        for snap in self.metadata.snapshots:
            for mf in load_manifest_list(snap.manifest_list):
                rows.append((snap.snapshot_id, mf.manifest_path,
                             mf.manifest_length, mf.partition_spec_id,
                             mf.content, mf.sequence_number,
                             mf.added_files_count, mf.existing_files_count,
                             mf.deleted_files_count))
        return spark.createDataFrame(
            rows, "snapshot_id long, path string, length long, "
                  "partition_spec_id int, content int, sequence_number long, "
                  "added_data_files_count int, existing_data_files_count int, "
                  "deleted_data_files_count int")

    def all_files_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `all_files`: every data/delete file referenced by
        ANY snapshot, deduped by path (an expired-but-unGCed file shows up
        here until remove_orphan_files)."""
        seen = {}
        for snap in self.metadata.snapshots:
            for mf in load_manifest_list(snap.manifest_list):
                for e in load_manifest(mf.manifest_path):
                    f = e.data_file
                    key = (f.file_path, f.referenced_data_file or "")
                    if key not in seen:
                        seen[key] = (f.file_path, f.content, f.file_format,
                                     f.record_count, f.file_size_in_bytes,
                                     f.spec_id, snap.snapshot_id)
        return spark.createDataFrame(
            sorted(seen.values()),
            "file_path string, content int, file_format string, "
            "record_count long, file_size_in_bytes long, spec_id int, "
            "first_seen_snapshot_id long")

    def data_files_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `data_files`: Spark's name for the live data-file
        view — `files` here is already data-only (delete files live in
        `delete_files`), so this is an alias for naming parity."""
        return self.files_df(spark)

    def all_data_files_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `all_data_files`: cross-snapshot data files."""
        return self.all_files_df(spark).where("content = 0")

    def all_delete_files_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `all_delete_files`: cross-snapshot delete files
        (positional, DV, equality)."""
        return self.all_files_df(spark).where("content != 0")

    def all_entries_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `all_entries`: manifest entries of every snapshot
        (one row per (snapshot, entry) — NOT deduped, mirroring the shape of
        the per-snapshot `entries` table across history)."""
        rows = []
        for snap in self.metadata.snapshots:
            for mf in load_manifest_list(snap.manifest_list):
                for e in load_manifest(mf.manifest_path):
                    f = e.data_file
                    rows.append((snap.snapshot_id, e.status, e.snapshot_id,
                                 e.sequence_number, f.content, f.file_path,
                                 f.record_count))
        return spark.createDataFrame(
            rows, "as_of_snapshot_id long, status int, snapshot_id long, "
                  "sequence_number long, content int, file_path string, "
                  "record_count long")

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `refs`: one row per branch/tag (spec
        table_metadata.rs refs map)."""
        rows = [(name, r.type, r.snapshot_id)
                for name, r in sorted(self.metadata.refs.items())]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long")

    def partitions_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table `partitions`: per-partition record/file/byte totals
        aggregated from manifest entries — metadata-only, no data IO.

        The `partition` column is the UNIFIED partition tuple across ALL
        specs (reference partitioning.rs compute_unified_partition_type):
        field identity is the partition FIELD ID, name comes from the
        NEWEST spec that defines the field, and files written under specs
        lacking a field surface null for it — so spec evolution never
        splits the table's partition view. Values render in their
        human-readable partition-path form (string struct fields)."""
        # newest-spec-wins unified field list, keyed by partition field id
        chosen: Dict[int, Tuple[str, int]] = {}  # fid -> (name, spec_id)
        for spec in sorted(self.metadata.partition_specs,
                           key=lambda s: -s.spec_id):
            for pf in spec.fields:
                if repr(pf.transform) == "void":
                    continue
                chosen.setdefault(pf.field_id, (pf.name, spec.spec_id))
        fids = sorted(chosen)
        names = [chosen[fid][0] for fid in fids]

        agg: Dict[Tuple[Tuple, int], List[int]] = {}
        for t in self.scan().plan_files().tasks:
            f = t.data_file
            file_spec = self.metadata.spec(f.spec_id)
            by_fid = {pf.field_id: f.partition.get(pf.name)
                      for pf in file_spec.fields} if f.partition else {}
            key = tuple(None if by_fid.get(fid) is None else str(by_fid[fid])
                        for fid in fids)
            rec = agg.setdefault((key, f.spec_id), [0, 0, 0])
            rec[0] += f.record_count
            rec[1] += 1
            rec[2] += f.file_size_in_bytes
        struct_t = T.StructType(
            [T.StructField(n, T.StringType()) for n in names])
        schema = T.StructType([
            T.StructField("partition", struct_t),
            T.StructField("spec_id", T.IntegerType()),
            T.StructField("record_count", T.LongType()),
            T.StructField("file_count", T.LongType()),
            T.StructField("total_size_bytes", T.LongType())])
        rows = [(tuple(key), spec_id, v[0], v[1], v[2])
                for (key, spec_id), v in sorted(
                    agg.items(),
                    key=lambda kv: (kv[0][1], tuple((v is None, v or "")
                                                    for v in kv[0][0])))]
        return spark.createDataFrame(rows, schema)

    # ------------------------------------------------------------ statistics
    def analyze(self, spark: SparkSession,
                columns: Optional[List[str]] = None) -> "Table":
        """Compute per-column NDV + null counts over the current snapshot in
        ONE distributed aggregation (HLL-backed approx_count_distinct — the
        Spark-native analogue of the spec's theta sketches), write a Puffin
        statistics file, and commit it through the `set-statistics` update
        (reference: transaction/update_statistics.rs, puffin/blob.rs:25).

        Blob layout: one blob per column, type ``ndv-long-v1`` (8-byte LE
        NDV), ``fields=[field_id]``, and the spec's ``ndv`` property on the
        blob metadata so readers that only look at properties still work.
        The datasketches lib isn't in this container, so the blob payload is
        our own fixed-width encoding rather than a serialized theta sketch.
        """
        import struct as _struct

        from .puffin import BlobMetadata, write_puffin

        snap = self.metadata.current_snapshot()
        if snap is None:
            raise ValueError("analyze: table has no snapshot")
        schema = self.schema
        cols = columns or [f.name for f in schema.fields]
        df = self.to_df(spark)
        aggs = []
        for c in cols:
            aggs.append(F.approx_count_distinct(c, 0.01).alias(f"ndv_{c}"))
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
        row = df.agg(*aggs).collect()[0]

        blobs = []
        for c in cols:
            fid = schema.field_by_name(c).field_id
            ndv, nulls = int(row[f"ndv_{c}"]), int(row[f"nulls_{c}"])
            blobs.append((BlobMetadata(
                type="ndv-long-v1", fields=[fid],
                snapshot_id=snap.snapshot_id,
                sequence_number=snap.sequence_number, offset=0, length=0,
                properties={"ndv": str(ndv), "null-count": str(nulls)}),
                _struct.pack("<q", ndv)))
        path = os.path.join(self.location, "metadata",
                            f"stats-{snap.snapshot_id}-{uuid.uuid4().hex}.puffin")
        written = write_puffin(path, blobs)
        stats_file = {
            "snapshot-id": snap.snapshot_id,
            "statistics-path": path,
            "file-size-in-bytes": file_io_for(path).size(path),
            "file-footer-size-in-bytes": 0,
            "blob-metadata": [m.to_json() for m in written],
        }
        return self.commit_updates(
            [{"action": "set-statistics", "statistics": stats_file}])

    def analyze_partitions(self, spark: SparkSession) -> "Table":
        """Write a partition-statistics file for the current snapshot (spec
        `partition-statistics`; reference spec/partition_statistics_file) and
        commit it via `set-partition-statistics`.

        Rows come from manifest metadata only (record/file/byte counts per
        partition), so this is a driver-side pass over the already-cached
        manifests — no data IO; stored as parquet like the Java impl.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.metadata.current_snapshot()
        if snap is None:
            raise ValueError("analyze_partitions: table has no snapshot")
        rows = self.partitions_df(spark).collect()
        tbl = pa.table({
            "partition": [r["partition"] for r in rows],
            "spec_id": pa.array([r["spec_id"] for r in rows], pa.int32()),
            "data_record_count": pa.array(
                [r["record_count"] for r in rows], pa.int64()),
            "data_file_count": pa.array(
                [r["file_count"] for r in rows], pa.int64()),
            "total_data_file_size_in_bytes": pa.array(
                [r["total_size_bytes"] for r in rows], pa.int64()),
        })
        path = os.path.join(
            self.location, "metadata",
            f"partition-stats-{snap.snapshot_id}-{uuid.uuid4().hex}.parquet")
        from .manifest import _write_pq_via_io
        size = _write_pq_via_io(tbl, path)
        stats_file = {
            "snapshot-id": snap.snapshot_id,
            "statistics-path": path,
            "file-size-in-bytes": size,
        }
        return self.commit_updates(
            [{"action": "set-partition-statistics",
              "partition-statistics": stats_file}])

    def partition_stats_df(self, spark: SparkSession) -> DataFrame:
        """Read back the committed partition-statistics parquet files."""
        paths = [sf["statistics-path"]
                 for sf in self.metadata.partition_statistics]
        if not paths:
            raise ValueError("no partition statistics; run analyze_partitions")
        return spark.read.parquet(*paths)

    def column_stats(self) -> Dict[str, Dict[str, int]]:
        """Read back the committed statistics file for the snapshot it was
        computed at: {column_name: {"ndv": n, "null_count": n}}."""
        from .puffin import read_puffin_footer

        out: Dict[str, Dict[str, int]] = {}
        by_id = {f.field_id: f.name for f in self.schema.fields}
        for sf in self.metadata.statistics:
            metas, _props = read_puffin_footer(sf["statistics-path"])
            for m in metas:
                if m.type != "ndv-long-v1" or not m.fields:
                    continue
                name = by_id.get(m.fields[0])
                if name:
                    out[name] = {"ndv": int(m.properties.get("ndv", 0)),
                                 "null_count": int(m.properties.get("null-count", 0))}
        return out

    def incremental_scan(self, from_snapshot_id: int,
                         to_snapshot_id: Optional[int] = None) -> TableScan:
        """Appended-files-between-snapshots scan (change-feed for appends);
        see streaming/incremental.py for the Structured Streaming wrapper."""
        md = self.metadata
        from_snap = md.snapshot_by_id(from_snapshot_id)
        if from_snap is None:
            raise ValueError(f"no snapshot {from_snapshot_id}")
        scan = self.scan(snapshot_id=to_snapshot_id or md.current_snapshot_id)
        min_seq = from_snap.sequence_number

        orig_plan = scan.plan_files

        def plan_files():
            plan = orig_plan()
            plan.tasks = [t for t in plan.tasks if t.sequence_number > min_seq]
            return plan

        scan.plan_files = plan_files  # type: ignore[method-assign]
        return scan

    # ------------------------------------------------------- more DDL actions
    def update_location(self, new_location: str) -> "Table":
        def action(md: TableMetadata) -> TableMetadata:
            md.location = new_location
            return md
        return self._commit_retry(action)

    def upgrade_format_version(self, version: int) -> "Table":
        def action(md: TableMetadata) -> TableMetadata:
            if version < md.format_version:
                raise ValueError(f"cannot downgrade v{md.format_version} -> v{version}")
            md.format_version = version
            return md
        return self._commit_retry(action)

    def replace_sort_order(self, *fields: Tuple[str, str]) -> "Table":
        """Metadata-only sort order replacement (transaction/sort_order.rs
        counterpart): fields = (column_name, 'asc'|'desc'). The write path
        additionally honors it by sorting within partitions."""
        from .metadata import SortField, SortOrder
        from ..functions.transforms import IdentityTransform

        def action(md: TableMetadata) -> TableMetadata:
            schema = md.schema()
            sfs = []
            for name, direction in fields:
                f = schema.field_by_name(name)
                if f is None:
                    raise ValueError(f"no column {name}")
                if direction not in ("asc", "desc"):
                    raise ValueError(f"bad direction {direction}")
                sfs.append(SortField(f.field_id, IdentityTransform(), direction))
            order_id = max((o.order_id for o in md.sort_orders), default=0) + 1
            md.sort_orders.append(SortOrder(order_id, sfs))
            md.default_sort_order_id = order_id
            return md
        return self._commit_retry(action)

    def set_name_mapping(self, mapping: "NameMapping") -> "Table":
        """Persist a NameMapping in the schema.name-mapping.default property
        (spec/name_mapping/mod.rs:31) for id-less-file column resolution."""
        from .name_mapping import NAME_MAPPING_PROPERTY
        return self.update_properties({NAME_MAPPING_PROPERTY: mapping.to_json()})

    def name_mapping(self) -> Optional["NameMapping"]:
        from .name_mapping import NAME_MAPPING_PROPERTY, NameMapping
        text = self.metadata.properties.get(NAME_MAPPING_PROPERTY)
        return NameMapping.from_json(text) if text else None

    def add_files(self, spark: SparkSession, paths: List[str],
                  name_mapping: Optional[Dict[str, str]] = None) -> "Table":
        """Import external Parquet files without rewriting them (the
        name-mapping fallback of spec/name_mapping/ for id-less files):
        columns resolve by name against the current schema. ``name_mapping``
        maps external column name -> canonical column name; when omitted, the
        table's persisted schema.name-mapping.default (set_name_mapping) is
        consulted. Only unpartitioned tables (external files carry no
        partition info)."""
        md = self.metadata
        if not md.spec().is_unpartitioned:
            raise ValueError("add_files requires an unpartitioned table")
        schema = md.schema()
        if name_mapping is not None:
            mapping = dict(name_mapping)
        else:
            nm = self.name_mapping()
            mapping = nm.alias_to_canonical(schema) if nm else {}
        # foreign files may live behind a FileIO-only store: executor_reads
        # backends footer-scan through range reads; driver-localized
        # backends (memory://) stat the mirror copies
        from .io import file_io_for, localize_paths, spark_native_path
        if paths and not spark_native_path(paths[0]):
            io_impl = file_io_for(paths[0])
            if getattr(io_impl, "executor_reads", False):
                stats = collect_parquet_stats(spark, paths, fileio=io_impl)
            else:
                local = localize_paths(paths)
                lstats = collect_parquet_stats(spark, local)
                stats = {p: lstats[lp] for p, lp in zip(paths, local)}
        else:
            stats = collect_parquet_stats(spark, paths)
        known = {f.name for f in schema.fields}

        def canon(stat_map: Dict[str, Any]) -> Dict[str, Any]:
            out = {}
            for k, v in stat_map.items():
                ck = mapping.get(k, k)
                if ck in known:
                    out[ck] = v
            return out

        files = []
        for p in paths:
            st = stats[p]
            cols = set(canon({c: 1 for c in st["value_counts"]}))
            missing_required = [f.name for f in schema.fields
                                if f.required and f.name not in cols]
            if missing_required:
                raise ValueError(f"{p}: required columns missing: {missing_required}")
            files.append(DataFile(
                # URIs pass through verbatim (abspath would mangle the
                # scheme); only bare local paths are absolutized
                file_path=p if "://" in p else os.path.abspath(p),
                record_count=st["num_rows"],
                file_size_in_bytes=st["size"],
                column_sizes=canon(st["column_sizes"]),
                value_counts=canon(st["value_counts"]),
                null_value_counts=canon(st["null_counts"]),
                lower_bounds=canon(st["lower"]), upper_bounds=canon(st["upper"]),
                split_offsets=st["split_offsets"],
                # schema_id None marks an id-less EXTERNAL file: the read
                # path infers its physical schema and resolves columns via
                # the name mapping instead of an explicit read schema
                schema_id=None, spec_id=md.default_spec_id))
        return self._commit_retry(lambda m: self._snapshot_update(
            m, "append", added=files))

    # ----------------------------------------------------------- commit core
    def _commit_retry(self, action: Callable[[TableMetadata], TableMetadata]) -> "Table":
        props = self.metadata.properties
        max_retries = int(props.get("commit.retry.num-retries", "4"))
        min_wait = float(props.get("commit.retry.min-wait-ms", "100")) / 1000.0
        max_wait = float(props.get("commit.retry.max-wait-ms", "60000")) / 1000.0
        if self.catalog is None:
            raise RuntimeError("static table is read-only")
        attempt = 0
        while True:
            md, version = self.catalog.load_table(self.identifier)
            md = action(md)
            md.last_updated_ms = now_ms()
            try:
                new_version = self.catalog.commit_table(self.identifier, version, md)
                self.metadata, self.version = md, new_version
                return self
            except CommitConflict:
                attempt += 1
                if attempt > max_retries:
                    raise
                wait = min(max_wait, min_wait * (2.0 ** (attempt - 1)))
                time.sleep(wait * (0.5 + random.random() / 2))

    def _snapshot_update(self, md: TableMetadata, operation: str,
                         added: Optional[List[DataFile]] = None,
                         added_deletes: Optional[List[DataFile]] = None,
                         removed_paths: Optional[set] = None,
                         remove_all: bool = False,
                         extra_summary: Optional[Dict[str, str]] = None,
                         branch: Optional[str] = None,
                         stage_only: bool = False,
                         validate_removed_exist: bool = False,
                         validate_files_exist: Optional[set] = None,
                         validate_no_new_deletes_since: Optional[int] = None
                         ) -> TableMetadata:
        """Build the next snapshot: new manifest(s) for added files, carried
        (possibly rewritten) manifests for survivors, new manifest list.
        With ``branch`` set (non-main), the new snapshot extends and re-points
        that ref only; current_snapshot_id and the snapshot log stay on main.

        The ``validate_*`` knobs are the conflict matrix run INSIDE the
        commit-retry loop against the refreshed base (Iceberg's
        OverwriteFiles/RewriteFiles validations): a copy-on-write rewrite
        whose source files a concurrent commit removed would resurrect
        deleted rows; a positional delete whose referenced files a
        concurrent compaction rewrote would silently drop; a rewrite racing
        a NEW delete file on its inputs would un-delete. Each raises
        ValidationConflict — NOT retried, because reapplying the same
        captured files can never become valid; callers refresh + re-plan.
        """
        added = added or []
        added_deletes = added_deletes or []
        removed_paths = removed_paths or set()
        # parity with the reference's commit guard (transaction/mod.rs:183):
        # encrypted WRITES are not supported — reading/exporting encrypted
        # metadata lives in sources/encryption.py
        if md.properties.get("encryption.key-id"):
            raise NotImplementedError(
                "cannot commit to an encrypted table: encrypted writes are "
                "not supported (encryption.key-id is set)")

        # metadata-race validation (the reference's TableRequirement set,
        # catalog/mod.rs:443-495, recast for the retry loop): files were
        # WRITTEN bound to a schema-id/spec-id captured from the writer's
        # handle; if a concurrent expire_snapshots(clean_expired_metadata)
        # or remove-partition-specs/remove-schemas dropped that id from the
        # refreshed base, committing would produce unreadable lineage (the
        # scan resolves every file's spec/schema by id). Unretryable — the
        # same captured files can never become valid; the writer must
        # refresh and REWRITE under a live spec/schema. Schema/spec
        # EVOLUTION alone never trips this (ids are append-only), so
        # append-vs-update_schema stays conflict-free and commutes.
        known_specs = {s.spec_id for s in md.partition_specs}
        known_schemas = {s.schema_id for s in md.schemas}
        for f in added + added_deletes:
            if f.spec_id is not None and f.spec_id not in known_specs:
                raise ValidationConflict(
                    f"added file {f.file_path} was written under partition "
                    f"spec {f.spec_id}, which a concurrent commit removed; "
                    "refresh and rewrite under a live spec")
            if f.schema_id is not None and f.schema_id not in known_schemas:
                raise ValidationConflict(
                    f"added file {f.file_path} was written under schema "
                    f"{f.schema_id}, which a concurrent commit removed; "
                    "refresh and rewrite under a live schema")

        # base snapshot this commit extends (branch head when writing to a
        # branch; else main) — needed by validation AND carry-forward below
        on_branch = branch is not None and branch != MAIN_BRANCH
        if on_branch and branch in md.refs:
            cur = md.snapshot_by_id(md.refs[branch].snapshot_id)
        else:
            cur = md.current_snapshot()

        if (validate_removed_exist or validate_files_exist
                or validate_no_new_deletes_since is not None):
            from .scan import _norm_path_py, _part_key
            live: set = set()
            removed_parts: Dict[str, Dict[str, Any]] = {}
            new_dels: List[DataFile] = []
            removed_norm = {_norm_path_py(p) for p in removed_paths}
            if cur is not None:
                # O(metadata) like plan_files: manifest loads are threaded
                # (parquet decode releases the GIL, overlapping the Python
                # entry walk of other manifests), and DELETE manifests whose
                # manifest-list sequence number is at or below the
                # validation threshold are skipped WITHOUT loading — a
                # manifest added at sequence S can only carry entries with
                # sequence <= S, so it cannot contain a "new" delete.
                mlist = load_manifest_list(cur.manifest_list)
                need_live = bool(validate_removed_exist
                                 or validate_files_exist or removed_norm)
                to_load = []
                for mf in mlist:
                    if mf.content:          # delete manifest
                        if (validate_no_new_deletes_since is not None
                                and mf.sequence_number
                                > validate_no_new_deletes_since):
                            to_load.append(mf)
                    elif need_live:
                        to_load.append(mf)

                def _walk(entries):
                    found: Dict[str, Dict[str, Any]] = {}
                    paths: List[str] = []
                    dels: List[Tuple[int, DataFile]] = []
                    for e in entries:
                        f = e.data_file
                        if f.content == CONTENT_DATA:
                            np_ = _norm_path_py(f.file_path)
                            paths.append(np_)
                            if np_ in removed_norm:
                                # partition of a file this rewrite
                                # replaces: scoping evidence for the
                                # delete-race check below (keyed by path —
                                # a file in >1 manifest counts once)
                                found[np_] = f.partition or {}
                        else:
                            dels.append((e.sequence_number, f))
                    return paths, found, dels

                if len(to_load) > 4:
                    from concurrent.futures import ThreadPoolExecutor
                    with ThreadPoolExecutor(
                            max_workers=min(16, len(to_load))) as ex:
                        parts = list(ex.map(
                            lambda m: _walk(load_manifest(m.manifest_path)),
                            to_load))
                else:
                    parts = [_walk(load_manifest(m.manifest_path))
                             for m in to_load]
                for paths, found, dels in parts:
                    live.update(paths)
                    removed_parts.update(found)
                    if validate_no_new_deletes_since is not None:
                        new_dels.extend(
                            f for s, f in dels
                            if s > validate_no_new_deletes_since)
            if validate_removed_exist:
                gone = sorted(removed_norm - live)
                if gone:
                    raise ValidationConflict(
                        f"{len(gone)} file(s) this rewrite replaces were "
                        f"removed by a concurrent commit (e.g. {gone[0]}); "
                        "refresh and re-plan")
            if validate_files_exist:
                gone = sorted({_norm_path_py(p)
                               for p in validate_files_exist} - live)
                if gone:
                    raise ValidationConflict(
                        f"{len(gone)} data file(s) referenced by this "
                        f"delete were rewritten concurrently (e.g. "
                        f"{gone[0]}); refresh and re-plan")
            # partition-scoping evidence is only sound when EVERY removed
            # file was found live (else an unseen file's partition is
            # unknown); validate_removed_exist guarantees that, but this
            # knob can be used alone
            parts_complete = len(removed_parts) == len(removed_norm)
            for d in new_dels:
                ref = d.referenced_data_file
                if ref is not None:
                    # path-scoped (DV / single-file pos-delete): conflicts
                    # iff it targets a file this rewrite replaces
                    if _norm_path_py(ref) in removed_norm:
                        raise ValidationConflict(
                            "concurrent commit added delete files applying "
                            "to files this rewrite replaces; refresh and "
                            "re-plan")
                    continue
                # ref-less delete (partition-scoped parquet pos-delete or
                # equality delete): scope before raising — an eq-delete in a
                # provably disjoint partition cannot target rows this
                # rewrite re-adds, and aborting every in-flight compaction
                # for it is availability-hostile (Iceberg's own validation
                # is partition/bounds-scoped). Two disjointness proofs:
                #
                # 1. file_path bounds (pos-deletes carry format-contract
                #    [lower, upper] on the file_path column): no removed
                #    path inside the range -> cannot apply to them.
                if d.content == CONTENT_POSITION_DELETES:
                    lo = d.lower_bounds.get("file_path")
                    hi = d.upper_bounds.get("file_path")
                    # normalize the bounds into removed_norm's spelling: a
                    # foreign table's URI-spelled bounds ("file:/...") would
                    # otherwise compare lexically BELOW every normalized
                    # "/..." path and unsoundly skip the conflict. The strip
                    # is order-preserving (one table shares one scheme
                    # prefix, and truncate(16) keeps the prefix intact), so
                    # truncated bounds stay valid bounds after it.
                    if (lo is not None and hi is not None
                            and not any(_norm_path_py(lo) <= p
                                        <= _norm_path_py(hi)
                                        for p in removed_norm)):
                        continue
                # 2. partition values: a partitioned delete applies only to
                #    data in its own partition; if every removed file has a
                #    comparable partition tuple (same keys — same spec
                #    shape) and none matches, they are disjoint. Mixed or
                #    evolved specs fall through to the conservative raise.
                if d.partition and removed_parts and parts_complete:
                    dk = _part_key(d.partition)
                    dkeys = set(d.partition)
                    if all(rp and set(rp) == dkeys and _part_key(rp) != dk
                           for rp in removed_parts.values()):
                        continue
                raise ValidationConflict(
                    "concurrent commit added delete files applying to "
                    "files this rewrite replaces; refresh and re-plan")

        seq = md.last_sequence_number + 1
        snap_id = new_snapshot_id()
        md_dir = os.path.join(md.location, "metadata")
        manifests: List[ManifestFile] = []
        # `write.metadata.manifest-format=avro` writes spec-layout Avro
        # manifests NATIVELY (manifest_list/mod.rs:54 parity) so an external
        # Iceberg reader can open the live table with no export step; the
        # default stays Parquet (read path dispatches on extension).
        manifest_fmt = md.properties.get("write.metadata.manifest-format",
                                         "parquet")
        if manifest_fmt not in ("parquet", "avro"):
            raise ValueError(
                f"unsupported write.metadata.manifest-format: {manifest_fmt}")

        def _write_entries(path: str, entries: List[ManifestEntry],
                           spec_id: int) -> int:
            if manifest_fmt == "avro":
                from .avro_manifest import write_avro_manifest
                return write_avro_manifest(path, entries, md.schema(),
                                           md.spec(spec_id),
                                           md.format_version)
            return write_manifest(path, entries)

        def new_manifest(files: List[DataFile], content: int) -> ManifestFile:
            path = os.path.join(
                md_dir, f"manifest-{uuid.uuid4().hex[:16]}.{manifest_fmt}")
            entries = [ManifestEntry(STATUS_ADDED, snap_id, seq, seq, f)
                       for f in files]
            length = _write_entries(path, entries, md.default_spec_id)
            return ManifestFile(
                manifest_path=path, manifest_length=length,
                partition_spec_id=md.default_spec_id, content=min(content, 1),
                sequence_number=seq, min_sequence_number=seq,
                added_snapshot_id=snap_id, added_files_count=len(files),
                added_rows_count=sum(f.record_count for f in files),
                partitions=_field_summaries(files))

        base_row_id = md.next_row_id
        if added:
            # v3 row lineage: stamp each new data file's first_row_id from
            # the table's next-row-id counter (table_metadata.rs:140)
            for f in added:
                if f.content == CONTENT_DATA and f.first_row_id is None:
                    f.first_row_id = md.next_row_id
                    md.next_row_id += f.record_count
            manifests.append(new_manifest(added, CONTENT_DATA))
        if added_deletes:
            manifests.append(new_manifest(added_deletes, 1))

        # carry forward previous manifests from the base (computed above)
        if cur is not None and not remove_all:
            for mf in load_manifest_list(cur.manifest_list):
                if not removed_paths:
                    manifests.append(mf)
                    continue
                entries = list(load_manifest(mf.manifest_path))
                kept = [e for e in entries if e.data_file.file_path not in removed_paths]
                if len(kept) == len(entries):
                    manifests.append(mf)
                elif kept:
                    path = os.path.join(
                        md_dir,
                        f"manifest-{uuid.uuid4().hex[:16]}.{manifest_fmt}")
                    rewritten = [ManifestEntry(STATUS_EXISTING, e.snapshot_id,
                                               e.sequence_number, e.file_sequence_number,
                                               e.data_file) for e in kept]
                    length = _write_entries(path, rewritten,
                                            mf.partition_spec_id)
                    manifests.append(ManifestFile(
                        manifest_path=path, manifest_length=length,
                        partition_spec_id=mf.partition_spec_id, content=mf.content,
                        sequence_number=mf.sequence_number,
                        min_sequence_number=mf.min_sequence_number,
                        added_snapshot_id=snap_id,
                        existing_files_count=len(kept),
                        existing_rows_count=sum(e.data_file.record_count for e in kept),
                        partitions=_field_summaries([e.data_file for e in kept])))
                # fully-removed manifest: dropped

        ml_path = os.path.join(
            md_dir, f"snap-{snap_id}-{uuid.uuid4().hex[:8]}.{manifest_fmt}")
        if manifest_fmt == "avro":
            from .avro_manifest import write_avro_manifest_list
            write_avro_manifest_list(ml_path, manifests,
                                     spec_fields=md.spec().fields,
                                     schema=md.schema())
        else:
            write_manifest_list(ml_path, manifests)

        total_records = sum(m.added_rows_count + m.existing_rows_count
                           for m in manifests if m.content == 0)
        total_files = sum(m.added_files_count + m.existing_files_count
                          for m in manifests if m.content == 0)
        snap = Snapshot(
            snapshot_id=snap_id, sequence_number=seq, timestamp_ms=now_ms(),
            manifest_list=ml_path,
            summary={"operation": operation,
                     "added-data-files": str(len(added)),
                     "added-delete-files": str(len(added_deletes)),
                     "added-records": str(sum(f.record_count for f in added)),
                     "added-files-size": str(sum(f.file_size_in_bytes
                                                 for f in added)),
                     "removed-data-files": str(len(removed_paths)),
                     "total-records": str(total_records),
                     "total-data-files": str(total_files),
                     **_partition_summaries(md, added),
                     **(extra_summary or {})},
            parent_snapshot_id=(cur.snapshot_id if cur else None),
            schema_id=md.current_schema_id,
            # v3 snapshots record their assigned row range
            # (snapshot.rs:76-121; required by the metadata builder,
            # table_metadata_builder.rs:401-425)
            first_row_id=(base_row_id if md.format_version >= 3 else None),
            added_rows=(md.next_row_id - base_row_id
                        if md.format_version >= 3 else None))
        md.snapshots.append(snap)
        md.last_sequence_number = seq
        if stage_only:
            pass          # WAP staging: snapshot exists, no ref moves
        elif on_branch:
            md.refs[branch] = SnapshotRef(snap_id, "branch")
        else:
            md.current_snapshot_id = snap_id
            md.refs[MAIN_BRANCH] = SnapshotRef(snap_id, "branch")
            md.snapshot_log.append({"timestamp-ms": snap.timestamp_ms,
                                    "snapshot-id": snap_id})
        return md


def _partition_summaries(md: TableMetadata,
                         added: List[DataFile]) -> Dict[str, str]:
    """Per-partition change summaries (snapshot_summary.rs:100-168):
    changed-partition-count always; `partitions.<path>` detail entries only
    when the count is within `write.summary.partition-limit` (default 0 =
    details off, like the reference)."""
    parts: Dict[str, Dict[str, int]] = {}
    for f in added:
        if not f.partition:
            continue
        path = "/".join(f"{k}={v}" for k, v in sorted(f.partition.items()))
        m = parts.setdefault(path, {"added-data-files": 0, "added-records": 0,
                                    "added-files-size": 0})
        m["added-data-files"] += 1
        m["added-records"] += f.record_count
        m["added-files-size"] += f.file_size_in_bytes or 0
    if not parts:
        return {}
    out = {"changed-partition-count": str(len(parts))}
    limit = int(md.properties.get("write.summary.partition-limit", "0"))
    if len(parts) <= limit:
        for path, m in sorted(parts.items()):
            out[f"partitions.{path}"] = ",".join(
                f"{k}={v}" for k, v in sorted(m.items()))
    return out


def _field_summaries(files: List[DataFile]) -> Dict[str, FieldSummaryRec]:
    """Aggregate per-partition-field min/max/contains-null across files
    (manifest_list/manifest_file.rs FieldSummary counterpart)."""
    from .datum import to_comparable
    out: Dict[str, FieldSummaryRec] = {}
    for f in files:
        for name, v in f.partition.items():
            s = out.setdefault(name, FieldSummaryRec())
            if v is None:
                s.contains_null = True
                continue
            cv = to_comparable(v)
            if s.lower is None or cv < to_comparable(s.lower):
                s.lower = v
            if s.upper is None or cv > to_comparable(s.upper):
                s.upper = v
    return out


class SchemaUpdate:
    """Schema-evolution builder (transaction/update_schema.rs:42-147
    counterpart): add/drop/rename/promote; new ids never reuse old ones."""

    def __init__(self, table: Table):
        self.table = table
        self._adds: List[Tuple[str, str, bool, Any]] = []   # name, type, required, default
        self._drops: List[str] = []
        self._renames: Dict[str, str] = {}
        self._promotes: Dict[str, str] = {}

    def add_column(self, name: str, ice_type_name: str, required: bool = False,
                   initial_default: Any = None) -> "SchemaUpdate":
        if required and initial_default is None:
            raise ValueError("new required column needs initial_default")
        self._adds.append((name, ice_type_name, required, initial_default))
        return self

    def drop_column(self, name: str) -> "SchemaUpdate":
        self._drops.append(name)
        return self

    def rename_column(self, old: str, new: str) -> "SchemaUpdate":
        self._renames[old] = new
        return self

    def promote_column(self, name: str, new_type: str) -> "SchemaUpdate":
        self._promotes[name] = new_type
        return self

    def commit(self) -> Table:
        """All mutators accept DOTTED PATHS into structs
        (``rename_column("info.a", "alpha")``, ``add_column("info.c",
        "double")``) — the reference's UpdateSchema likewise addresses
        nested fields by full path (update_schema.rs parent-id lookup)."""
        from .types import StructType as IceStruct, type_from_json

        def action(md: TableMetadata) -> TableMetadata:
            cur = md.schema()
            counter = [md.last_column_id]
            adds_by_parent: Dict[str, list] = {}
            for name, tname, required, default in self._adds:
                parent, _, leaf = name.rpartition(".")
                adds_by_parent.setdefault(parent, []).append(
                    (leaf, tname, required, default))

            def new_children(parent_path: str) -> List[NestedField]:
                out = []
                for leaf, tname, required, default in \
                        adds_by_parent.pop(parent_path, []):
                    counter[0] += 1
                    out.append(NestedField(counter[0], leaf,
                                           type_from_json(tname), required,
                                           None, default, default))
                return out

            def rebuild(fields_in, prefix: str) -> List[NestedField]:
                out: List[NestedField] = []
                for f in fields_in:
                    path = prefix + f.name
                    if path in self._drops:
                        continue
                    name = self._renames.get(path, f.name)
                    ftype = f.field_type
                    if path in self._promotes:
                        new_t = type_from_json(self._promotes[path])
                        if not is_promotable(ftype, new_t):
                            raise ValueError(
                                f"cannot promote {ftype} -> {new_t}")
                        ftype = new_t
                    if isinstance(ftype, IceStruct):
                        kids = rebuild(ftype.fields, path + ".")
                        kids += new_children(path)
                        ftype = IceStruct(tuple(kids))
                    out.append(NestedField(f.field_id, name, ftype,
                                           f.required, f.doc,
                                           f.initial_default, f.write_default))
                return out

            fields = rebuild(cur.fields, "")
            for nf in new_children(""):
                if any(x.name == nf.name for x in fields):
                    raise ValueError(f"column {nf.name} already exists")
                fields.append(nf)
            if adds_by_parent:
                raise ValueError(
                    f"add_column parents not found: "
                    f"{sorted(adds_by_parent)}")
            new_schema = Schema(fields, schema_id=cur.schema_id + 1)
            md.schemas.append(new_schema)
            md.current_schema_id = new_schema.schema_id
            md.last_column_id = max(counter[0], md.last_column_id)
            return md

        return self.table._commit_retry(action)
