"""Write path: partition fan-out + per-file column metrics -> DataFile entries.

Spark-first reshape of the reference's write stack (§2.1 of SURVEY.md):
- partition projection  (arrow/partition_value_calculator.rs:39-150)  ->
  ``withColumn('_p_<name>', transform_expr)``
- fanout/clustered writers (writer/partitioning/{fanout,clustered}_writer.rs) ->
  ``df.repartition(...)`` + ``write.partitionBy(*_p cols)`` — Spark's own
  fan-out executes the per-partition-key file split distributed;
- rolling writer (writer/file_writer/rolling_writer.rs:125) ->
  ``spark.sql.files.maxRecordsPerFile`` via ``write.target-file-size-bytes`` /
  estimated row width;
- per-file column metrics (writer/file_writer/parquet_writer.rs:432-487) ->
  one metrics pass per written file, distributed (``sparkContext
  .parallelize(files).mapPartitions``): ``_footer_stats`` reads the footer
  and counts NaNs in the top-level float/double columns, which footers lack
  (=> is_nan/not_nan prune). ``data_file_from_stats`` is the one stats ->
  DataFile rule, shared with the DataSource writer. Zero-row files are
  dropped, never committed.

Distribution modes (write.distribution-mode table property, like Iceberg's):
  none   — no shuffle before write (fanout writers per task)
  hash   — repartition by partition key: one task per key set, fewest files
  range  — sortWithinPartitions by partition key (clustered writer behavior)
"""

from __future__ import annotations

import os
import re
import urllib.parse
import uuid
from decimal import Decimal
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.transforms import Transform
from .datum import date_from_days, ts_from_micros
from .manifest import CONTENT_DATA, DataFile
from .metadata import PartitionSpec, TableMetadata
from .types import (IcebergType, PrimitiveType, Schema, sql_ident,
                    type_to_spark)

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
PART_COL_PREFIX = "_p_"


def align_df_to_schema(df: DataFrame, schema: Schema,
                       keep_extra: tuple = ()) -> DataFrame:
    """Select/cast the input DataFrame to the table schema (by name), applying
    write defaults and required-ness checks. ``keep_extra`` names pass
    through untouched when present (e.g. the materialized ``_row_id``
    lineage column a rewrite carries)."""
    cols = []
    df_cols = set(df.columns)
    for f in schema.fields:
        tgt = type_to_spark(f.field_type)
        if f.name in df_cols:
            cols.append(F.col(sql_ident(f.name)).cast(tgt).alias(f.name))
        elif f.write_default is not None:
            cols.append(F.lit(f.write_default).cast(tgt).alias(f.name))
        elif f.required:
            raise ValueError(f"required column {f.name!r} missing from input")
        else:
            cols.append(F.lit(None).cast(tgt).alias(f.name))
    for name in keep_extra:
        if name in df_cols:
            cols.append(F.col(sql_ident(name)))
    return df.select(*cols)


def partition_columns(schema: Schema, spec: PartitionSpec) -> List[Tuple[str, Any, Transform, IcebergType]]:
    """[(partition column name, source name, transform, source type)]"""
    out = []
    for pf in spec.fields:
        src = schema.field_by_id(pf.source_id)
        if src is None:
            raise ValueError(f"partition source id {pf.source_id} not in schema")
        out.append((PART_COL_PREFIX + pf.name, src.name, pf.transform, src.field_type))
    return out


def write_data_files(spark: SparkSession, df: DataFrame, metadata: TableMetadata,
                     data_dir: Optional[str] = None,
                     distribution_mode: Optional[str] = None) -> List[DataFile]:
    """Write ``df`` as parquet data files for the table, returning DataFile
    descriptors with per-file column metrics. Does NOT commit.

    ``distribution_mode`` overrides ``write.distribution-mode``: pass
    ``"none"`` when the caller has already laid out partitions (e.g. a
    z-order rewrite) and the write must not re-shuffle."""
    schema = metadata.schema()
    spec = metadata.spec()
    # a rewrite that scanned with row lineage carries `_row_id` (and
    # `_last_updated_sequence_number`): keep them as MATERIALIZED columns
    # in the rewritten parquet (v3 row lineage — both must survive
    # compaction/COW rewrites; the read side prefers materialized values
    # over first_row_id/sequence-number inheritance)
    df = align_df_to_schema(df, schema,
                            keep_extra=("_row_id",
                                        "_last_updated_sequence_number"))

    write_id = uuid.uuid4().hex[:16]
    base = data_dir or os.path.join(metadata.location, "data")
    out_dir = os.path.join(base, write_id)
    # FileIO data plane for non-spark_native locations: Spark writes a
    # local staging dir, publish() uploads per file (see stage_for)
    write_root, publish, stage_cleanup = stage_for(out_dir)

    pcols = partition_columns(schema, spec)
    mode = distribution_mode or metadata.properties.get(
        "write.distribution-mode", "hash")
    target_file_bytes = int(metadata.properties.get(
        "write.target-file-size-bytes", str(512 * 1024 * 1024)))

    writer_df = df
    sort_cols = _sort_columns(metadata)
    if pcols:
        for pname, srcname, transform, styp in pcols:
            writer_df = writer_df.withColumn(
                pname, transform.spark_column(F.col(sql_ident(srcname)), styp))
        names = [p[0] for p in pcols]
        pkeys = [F.col(sql_ident(n)) for n in names]
        if mode == "hash":
            writer_df = writer_df.repartition(*pkeys)
        if sort_cols or mode == "range":
            writer_df = writer_df.sortWithinPartitions(*(pkeys + sort_cols))
        writer = writer_df.write.partitionBy(*names)
    else:
        if sort_cols:
            writer_df = writer_df.sortWithinPartitions(*sort_cols)
        writer = writer_df.write
    writer.option("compression", metadata.properties.get(
        "write.parquet.compression-codec", "zstd"))
    for k, v in _parquet_writer_options(metadata.properties).items():
        writer.option(k, v)
    max_records = metadata.properties.get("write.max-records-per-file")
    if max_records:
        writer.option("maxRecordsPerFile", int(max_records))
    else:
        # size-based rolling (rolling_writer.rs:125 counterpart): Spark's
        # only roll knob is record count, so derive it from the target byte
        # size / estimated on-disk row width (prior snapshot stats when
        # available, schema heuristic for a first write)
        writer.option("maxRecordsPerFile", _derive_max_records(
            metadata, schema, target_file_bytes))
    writer.mode("errorifexists").parquet(write_root)

    files = _list_parquet_files(write_root)
    stats = collect_parquet_stats(spark, files,
                                  nan_columns=float_columns(schema))
    data_files = [data_file_from_stats(
        publish(path), stats[path],
        _parse_partition_from_path(path, write_root, pcols),
        schema, spec.spec_id, metadata.properties)
        for path in _drop_empty(files, stats)]
    stage_cleanup()
    return data_files


def float_columns(schema: Schema) -> Tuple[str, ...]:
    """Top-level float/double column names: the columns whose NaN counts
    the footer task collects."""
    return tuple(f.name for f in schema.fields
                 if isinstance(f.field_type, PrimitiveType)
                 and f.field_type.name in ("float", "double"))


def data_file_from_stats(path: str, st: dict, partition: Dict[str, Any],
                         schema: Schema, spec_id: int,
                         properties: Dict[str, str]) -> DataFile:
    """The one rule from a written data file's footer stats to its
    DataFile: the table's metrics modes applied, NaN counts carried."""
    _apply_metrics_modes(st, properties)
    return DataFile(
        file_path=path, file_format="parquet", content=CONTENT_DATA,
        partition=partition,
        record_count=st["num_rows"], file_size_in_bytes=st["size"],
        column_sizes=st["column_sizes"], value_counts=st["value_counts"],
        null_value_counts=st["null_counts"],
        nan_value_counts=st["nan_counts"],
        lower_bounds=st["lower"], upper_bounds=st["upper"],
        split_offsets=st["split_offsets"],
        schema_id=schema.schema_id, spec_id=spec_id)


def _drop_empty(files: List[str], stats: Dict[str, dict]) -> List[str]:
    """``files`` sorted, minus zero-row ones, which are removed: an empty
    input partition still emits a parquet file, and Iceberg writers never
    commit one (a 0-row delete file would attach to every scan task)."""
    kept = []
    for path in sorted(files):
        if stats[path]["num_rows"] > 0:
            kept.append(path)
            continue
        try:
            os.remove(path)
        except OSError:
            pass
    return kept


def _parquet_writer_options(properties: Dict[str, str]) -> Dict[str, str]:
    """Iceberg parquet table properties -> Spark/parquet-hadoop writer
    options (spec/table_properties.rs:420-438 counterparts). Unknown values
    pass through verbatim; parquet-hadoop validates."""
    mapping = {
        "write.parquet.row-group-size-bytes": "parquet.block.size",
        "write.parquet.page-size-bytes": "parquet.page.size",
        "write.parquet.page-row-limit": "parquet.page.row.count.limit",
        "write.parquet.dict-size-bytes": "parquet.dictionary.page.size",
    }
    out = {}
    for prop, opt in mapping.items():
        if prop in properties:
            out[opt] = properties[prop]
    for prop, v in properties.items():
        # write.parquet.bloom-filter-enabled.column.<name> = true|false
        prefix = "write.parquet.bloom-filter-enabled.column."
        if prop.startswith(prefix):
            out[f"parquet.bloom.filter.enabled#{prop[len(prefix):]}"] = v
    return out


def _derive_max_records(metadata: TableMetadata, schema: Schema,
                        target_file_bytes: int) -> int:
    """target-file-size-bytes -> maxRecordsPerFile. Prefer observed on-disk
    row width from the most recent snapshot that added files (its summary
    carries added-files-size / added-records); first-ever writes fall back to
    a schema-width heuristic with a 2x compression factor. Clamped so a bad
    estimate can neither explode the file count nor disable rolling."""
    avg = None
    for snap in reversed(metadata.snapshots):
        try:
            recs = int(snap.summary.get("added-records", "0"))
            size = int(snap.summary.get("added-files-size", "0"))
        except (TypeError, ValueError):
            continue
        if recs > 0 and size > 0:
            avg = size / recs
            break
    if avg is None:
        avg = max(_schema_row_bytes(schema) / 2.0, 1.0)  # zstd ~2x on mixed rows
    return int(min(max(target_file_bytes / avg, 10_000), 200_000_000))


def _schema_row_bytes(schema: Schema) -> float:
    """Rough uncompressed row width from the type signature."""
    width = 0.0
    for f in schema.fields:
        n = getattr(f.field_type, "name", "")
        if n in ("boolean",):
            width += 1
        elif n in ("int", "float", "date"):
            width += 4
        elif n in ("long", "double", "time", "timestamp", "timestamptz"):
            width += 8
        elif n.startswith("decimal") or n == "uuid":
            width += 16
        else:  # string / binary / nested — assume modest payloads
            width += 32
    return max(width, 8.0)


def _sort_columns(metadata: TableMetadata) -> List[Any]:
    """Sorted-write support: default sort order -> sortWithinPartitions cols
    (reference stores the order as metadata only; we additionally apply it)."""
    schema = metadata.schema()
    order = next((o for o in metadata.sort_orders
                  if o.order_id == metadata.default_sort_order_id), None)
    cols = []
    if order:
        for sf in order.fields:
            f = schema.field_by_id(sf.source_id)
            if f is None:
                continue
            c = sf.transform.spark_column(F.col(sql_ident(f.name)),
                                          f.field_type)
            cols.append(c.desc() if sf.direction == "desc" else c.asc())
    return cols


def _list_parquet_files(root: str) -> List[str]:
    from .io import file_io_for
    return [p for p in file_io_for(root).list_files(root)
            if p.endswith(".parquet")]


def write_parquet_listing(spark: SparkSession, df: DataFrame,
                          out: str) -> List[Tuple[str, dict]]:
    """Write ``df`` as parquet under ``out`` (FileIO-staged when the scheme
    isn't spark_native) and return [(final_path, stats)] sorted by path,
    zero-row files dropped — the shared shape of every delete/key-file
    writer in table.py."""
    root, publish, stage_cleanup = stage_for(out)
    df.write.option("maxRecordsPerFile", 8_000_000).parquet(root)
    files = _list_parquet_files(root)
    stats = collect_parquet_stats(spark, files)
    out_pairs = [(publish(p), stats[p]) for p in _drop_empty(files, stats)]
    stage_cleanup()
    return out_pairs


def stage_for(out_dir: str):
    """Spark-writable staging for an output directory.

    Native schemes: identity (Spark writes the final location directly,
    fully distributed). Non-spark_native schemes (memory://, registered
    FileIO shims): returns a local temp dir for Spark to write, plus a
    ``publish(local_path) -> final_path`` that uploads one file through
    FileIO and returns its remote URI, plus a ``cleanup()`` that removes
    the staging tree once every file is published (repeated writes must
    not leak driver temp disk). The upload loop is driver-side and
    bounded by the written file count — the documented FileIO data-plane
    trade (FileIO.spark_native); production object stores use the cluster's
    Hadoop connector and never take this branch."""
    from .io import file_io_for, posix_join
    io = file_io_for(out_dir)
    if io.spark_native:
        return out_dir, (lambda local_path: local_path), (lambda: None)
    import shutil
    import tempfile
    # unique path only — Spark's errorifexists mode refuses a pre-created dir
    staging = os.path.join(tempfile.gettempdir(),
                           f"iceberg_stage_{uuid.uuid4().hex[:16]}")

    def publish(local_path: str) -> str:
        rel = os.path.relpath(local_path, staging)
        remote = posix_join(out_dir, *rel.split(os.sep))
        with open(local_path, "rb") as fh:
            io.write_bytes(remote, fh.read())
        return remote

    def cleanup() -> None:
        shutil.rmtree(staging, ignore_errors=True)

    return staging, publish, cleanup


def collect_parquet_stats(spark: SparkSession, files: List[str],
                          fileio=None,
                          nan_columns: Tuple[str, ...] = ()) -> Dict[str, dict]:
    """Distributed footer scan: executors read Parquet footers with pyarrow;
    only tiny per-file stat dicts return to the driver. At 100 TB this is one
    short job that reads metadata plus the ``nan_columns`` chunks, never a
    driver loop over data. With ``fileio`` (a picklable executor_reads
    FileIO) footers come through range reads of the remote objects instead
    of local opens."""
    if not files:
        return {}
    n_slices = max(1, min(len(files), 256))
    rdd = spark.sparkContext.parallelize(files, n_slices)

    def scan(paths):
        import pyarrow.parquet as _pq
        for p in paths:
            try:
                if fileio is not None:
                    from .executor_io import FileIORandomFile
                    f = FileIORandomFile(fileio, p)
                    yield p, _footer_stats(_pq, f, size=f.size(),
                                           nan_columns=nan_columns)
                else:
                    yield p, _footer_stats(
                        _pq, p[7:] if p.startswith("file://") else p,
                        nan_columns=nan_columns)
            except Exception as exc:  # surface, don't swallow
                yield p, {"error": str(exc)}

    result = dict(rdd.mapPartitions(lambda it: scan(it)).collect())
    errs = {p: s["error"] for p, s in result.items() if "error" in s}
    if errs:
        # pyarrow's thrift schema can lag the writer's: e.g. Spark 4 VARIANT
        # footers raise "Thrift LogicalType that is not recognized". Spark
        # just wrote these files, so fall back to Spark-side row and NaN
        # counts, no bounds — the metrics evaluator then treats the files as
        # always-might-match (prune loss, never wrong results).
        result.update(_spark_fallback_stats(spark, sorted(errs),
                                            nan_columns))
    return result


def _truncate_upper(s: str, width: int) -> Optional[str]:
    """Spec upper-bound truncation: cut to ``width`` chars, then increment
    the last incrementable code point so the result still upper-bounds
    every value with the cut prefix; None if nothing can be incremented."""
    if len(s) <= width:
        return s
    prefix = s[:width]
    chars = list(prefix)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            # D800-DFFF are surrogates: not UTF-8-encodable, so skip the
            # whole range (Java UnicodeUtil does the same)
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            chars[i] = chr(nxt)
            return "".join(chars[:i + 1])
    return None


def _apply_metrics_modes(st: dict, properties: Dict[str, str]) -> None:
    """Public Iceberg metrics modes (write.metadata.metrics.default /
    .column.<name>; spec default ``truncate(16)``): ``none`` drops the
    column's stats, ``counts`` keeps counts but no bounds, ``truncate(N)``
    cuts STRING bounds to N chars (upper incremented so pruning stays
    sound), ``full`` keeps exact bounds. Numeric/date bounds are
    fixed-width and pass through under truncate, like the Java writer."""
    default = properties.get("write.metadata.metrics.default",
                             "truncate(16)").strip().lower()

    def mode_for(col: str) -> str:
        return properties.get(f"write.metadata.metrics.column.{col}",
                              default).strip().lower()

    for col in list(st["value_counts"].keys()):
        mode = mode_for(col)
        if mode == "full":
            continue
        if mode == "none":
            for key in ("value_counts", "null_counts", "nan_counts",
                        "lower", "upper", "column_sizes"):
                st[key].pop(col, None)
            continue
        if mode == "counts":
            st["lower"].pop(col, None)
            st["upper"].pop(col, None)
            continue
        m = re.match(r"truncate\((\d+)\)", mode)
        if not m:
            continue  # unknown mode string: keep full metrics
        width = int(m.group(1))
        lo = st["lower"].get(col)
        if isinstance(lo, (str, bytes)) and len(lo) > width:
            st["lower"][col] = lo[:width]
        hi = st["upper"].get(col)
        if isinstance(hi, str) and len(hi) > width:
            bumped = _truncate_upper(hi, width)
            if bumped is None:
                st["upper"].pop(col, None)
            else:
                st["upper"][col] = bumped
        elif isinstance(hi, bytes) and len(hi) > width:
            # binary upper: truncate + increment last non-0xFF byte
            b = bytearray(hi[:width])
            for i in range(len(b) - 1, -1, -1):
                if b[i] < 0xFF:
                    b[i] += 1
                    st["upper"][col] = bytes(b[:i + 1])
                    break
            else:
                st["upper"].pop(col, None)


def _spark_fallback_stats(spark: SparkSession, files: List[str],
                          nan_columns: Tuple[str, ...] = ()
                          ) -> Dict[str, dict]:
    """Row and NaN counts for files whose footer pyarrow cannot parse: one
    grouped aggregate by ``_metadata.file_path`` over all of them."""
    import re as _re
    from .io import file_io_for

    def bare_path(p: str) -> str:
        # Spark's _metadata.file_path spells local files "file:/x" in URI
        # encoding (%20 etc.); inputs may be raw "/x" or "file:///x" —
        # normalize all to the raw "/x" spelling
        from urllib.parse import unquote
        return _re.sub(r"^file:/+", "/", unquote(p))

    df = spark.read.parquet(*files)
    nan_cols = [c for c in nan_columns if c in df.columns]
    per_file = (df.groupBy(F.col("_metadata.file_path").alias("p"))
                .agg(F.count(F.lit(1)).alias("n"),
                     *[F.sum(F.isnan(F.col(sql_ident(c))).cast("long"))
                       .alias(f"nan{i}") for i, c in enumerate(nan_cols)])
                .collect())
    rows = {bare_path(r["p"]): r for r in per_file}
    out = {}
    for p in files:
        # a file with zero rows yields no groupBy row at all — that's a
        # legitimate empty file, not a failed attribution
        r = rows.get(bare_path(p))
        out[p] = {"num_rows": r["n"] if r else 0,
                  "size": file_io_for(p).size(p),
                  "column_sizes": {}, "value_counts": {}, "null_counts": {},
                  "nan_counts": {c: int(r[f"nan{i}"] or 0) if r else 0
                                 for i, c in enumerate(nan_cols)},
                  "lower": {}, "upper": {}, "split_offsets": []}
    return out


def _footer_stats(_pq, path, size: Optional[int] = None,
                  nan_columns: Tuple[str, ...] = ()) -> dict:
    """One file's metrics keyed by dotted column path (nested ``s.id``
    never merges into top-level ``id``); NaN counts read just the
    ``nan_columns`` chunks. ``path`` is a local path OR a seekable file-like
    (FileIO-backed remote object); pass ``size`` explicitly for the latter."""
    pf = _pq.ParquetFile(path)
    md = pf.metadata
    ncols = md.num_columns
    names = [md.schema.column(i).path for i in range(ncols)]
    value_counts: Dict[str, int] = {}
    null_counts: Dict[str, int] = {}
    column_sizes: Dict[str, int] = {}
    lower: Dict[str, Any] = {}
    upper: Dict[str, Any] = {}
    split_offsets: List[int] = []
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        split_offsets.append(g.column(0).file_offset)
        for i in range(ncols):
            c = g.column(i)
            name = names[i]
            column_sizes[name] = column_sizes.get(name, 0) + c.total_compressed_size
            value_counts[name] = value_counts.get(name, 0) + c.num_values
            s = c.statistics
            if s is None:
                continue
            if s.null_count is not None:
                null_counts[name] = null_counts.get(name, 0) + s.null_count
            if s.has_min_max:
                mn, mx = s.min, s.max
                if name not in lower or _cmp_lt(mn, lower[name]):
                    lower[name] = mn
                if name not in upper or _cmp_lt(upper[name], mx):
                    upper[name] = mx
    import pyarrow.compute as pc
    present = [c for c in nan_columns if c in pf.schema_arrow.names]
    tbl = pf.read(columns=present, use_threads=False) if present else None
    nan_counts = {c: pc.sum(pc.is_nan(tbl.column(c))).as_py() or 0
                  for c in present}
    return {"num_rows": md.num_rows,
            "size": os.path.getsize(path) if size is None else size,
            "column_sizes": column_sizes, "value_counts": value_counts,
            "null_counts": null_counts, "nan_counts": nan_counts,
            "lower": lower, "upper": upper,
            "split_offsets": split_offsets}


def _cmp_lt(a: Any, b: Any) -> bool:
    try:
        return a < b
    except TypeError:
        return False


# ---------------------------------------------------------------------------
# Partition path rendering / parsing (hive-style dirs written by Spark)
# ---------------------------------------------------------------------------

def _parse_partition_from_path(path: str, root: str,
                               pcols: List[Tuple[str, str, Transform, IcebergType]]) -> Dict[str, Any]:
    """Recover typed partition values from Spark-written hive-style dirs."""
    from .io import strip_scheme
    rel = os.path.relpath(os.path.dirname(strip_scheme(path)),
                          strip_scheme(root))
    partition: Dict[str, Any] = {}
    if rel == ".":
        return partition
    segs = [s for s in rel.split(os.sep) if s]
    by_name = {p[0]: p for p in pcols}
    for seg in segs:
        if "=" not in seg:
            continue
        raw_name, raw_val = seg.split("=", 1)
        info = by_name.get(raw_name)
        if info is None:
            continue
        pname, _src, transform, styp = info
        key = pname[len(PART_COL_PREFIX):]
        if raw_val == HIVE_NULL:
            partition[key] = None
        else:
            partition[key] = _parse_part_value(
                urllib.parse.unquote(raw_val), transform, styp)
    return partition


def _parse_part_value(s: str, transform: Transform, src_type: IcebergType) -> Any:
    """Inverse of Spark's partition-dir value rendering, typed by the
    transform's result type."""
    from ..functions.transforms import (BucketTransform, DayTransform,
                                        HourTransform, MonthTransform,
                                        YearTransform)
    if isinstance(transform, (BucketTransform, YearTransform, MonthTransform,
                              DayTransform, HourTransform)):
        return int(s)
    # identity / truncate: result type == source type
    if isinstance(src_type, PrimitiveType):
        n = src_type.name
        if n in ("int", "long"):
            return int(s)
        if n in ("float", "double"):
            return float(s)
        if n == "boolean":
            return s.lower() == "true"
        if n == "date":
            import datetime as dt
            return dt.date.fromisoformat(s)
        if n in ("timestamp", "timestamptz"):
            import datetime as dt
            return dt.datetime.fromisoformat(s.replace(" ", "T"))
        if n.startswith("decimal"):
            return Decimal(s)
    return s
