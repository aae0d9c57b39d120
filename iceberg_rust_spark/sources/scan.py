"""Scan planning + distributed read: the reference's killer feature, Spark-first.

Planning (driver-side, O(metadata) — never lists the object store; counterpart
of /root/reference/crates/iceberg/src/scan/mod.rs:381-499):
  manifest list -> [ManifestEvaluator over partition FieldSummaries]
  -> manifests  -> [ExpressionEvaluator on exact partition values]
                   [InclusiveMetricsEvaluator on file column metrics]
  -> FileScanTasks (+ matched delete files via sequence-number rules,
     delete_file_index.rs:84-168: pos-delete applies when delete.seq >=
     data.seq, eq-delete when delete.seq > data.seq).

Execution (cluster-side): ``spark.read.schema(...).parquet(*files)`` per
schema-/delete-group; schema evolution resolves columns BY FIELD ID with
type promotion + initial_default (the 4-rule projection of
arrow/record_batch_transformer.rs:347-351); deletes become anti-joins; the
full row predicate is re-applied on top (Inexact-pushdown fail-safe), which
Catalyst pushes into the Parquet reader for row-group/page pruning — the two
pruning levels we deliberately delegate to Spark.
"""

from __future__ import annotations

import functools
import os
import threading
from collections import Counter, OrderedDict
from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import expr as E
from ..plans.evaluators import (ColumnMetrics, FieldSummary, PartitionFieldInfo,
                                inclusive_projection, manifest_might_match,
                                partition_might_match)
from ..session import session_memo
from .io import (file_io_for, localize_paths, mirror_remap_pattern,
                 spark_native_path)
from .manifest import (CONTENT_DATA, CONTENT_EQUALITY_DELETES,
                       CONTENT_POSITION_DELETES, STATUS_DELETED, DataFile,
                       ManifestColumns, ManifestEntry, ManifestFile,
                       read_manifest_list)
from .metadata import Snapshot, TableMetadata
from .types import Schema, sql_ident, type_to_spark


# Per-entry weights of the cached kinds, measured with tracemalloc on
# fabricated tables (see ARCHITECTURE.md "One object cache"). A manifest
# entry is weighed at the most it grows to: ~356 B of Arrow rows, ~285 B of
# eager and derived numpy extracts, ~1.8 KB once ``entries()`` builds its
# objects. A manifest-list entry measured ~870 B with one partition field
# summary, a delete-index entry ~153 B of index arrays and extracts.
_MANIFEST_ENTRY_BYTES = 2400
_MANIFEST_LIST_ENTRY_BYTES = 1000
_DELETE_INDEX_ENTRY_BYTES = 200


def _memory_budget() -> int:
    """1/8 of physical memory; 1 GiB where the platform cannot say."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 8
    except (AttributeError, OSError, ValueError):
        return 1 << 30


class _ManifestCache:
    """The one cache for immutable metadata objects: one byte-weighted LRU
    (the reference's object cache, io/object_cache.rs:22-60) keyed by
    ``(kind, path, mtime_ns, extra)``. Kinds: ``manifest`` (``get``),
    ``manifest_list``, ``delete_index`` (path None;
    ``extra`` is the surviving delete-manifest set with each stamp),
    ``delete_match`` and ``dv``. Every value is weighed once, at insert,
    and the least recently used values go once the bytes held pass the
    budget. Thread-safe for the planner's pool: lookups and inserts lock,
    loads run unlocked, and on concurrent misses the first insert wins.
    ``stats(kind)`` reads cumulative hits, misses and evictions, and the
    bytes the kind holds."""

    def __init__(self, budget_bytes: Optional[int] = None):
        self.budget_bytes = (_memory_budget() if budget_bytes is None
                             else budget_bytes)
        self._lock = threading.Lock()
        self._data: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._counts: Counter = Counter()       # (kind, what) -> n
        self.bytes = 0

    def lookup(self, key: tuple) -> Any:
        """The cached value for ``key`` or None (counts a hit or a miss)."""
        with self._lock:
            got = self._data.get(key)
            if got is None:
                self._counts[key[0], "misses"] += 1
                return None
            self._data.move_to_end(key)
            self._counts[key[0], "hits"] += 1
            return got[0]

    def held(self, key: tuple) -> bool:
        """Whether ``key`` is held, counting neither a hit nor a miss and
        leaving the LRU order as it is."""
        with self._lock:
            return key in self._data

    def insert(self, key: tuple, value: Any, weight: int) -> Any:
        """Hold ``value`` unless ``key`` is already held; returns the held
        value, so concurrent loaders all get the first insert."""
        with self._lock:
            got = self._data.get(key)
            if got is not None:
                return got[0]
            self._data[key] = (value, weight)
            self.bytes += weight
            self._counts[key[0], "bytes"] += weight
            while self.bytes > self.budget_bytes and len(self._data) > 1:
                (kind, *_), (_, w) = self._data.popitem(last=False)
                self.bytes -= w
                self._counts[kind, "bytes"] -= w
                self._counts[kind, "evictions"] += 1
        return value

    def load(self, kind: str, path: Optional[str], mtime_ns: Optional[int],
             extra: Any, loader, weigh) -> Any:
        """The value under ``(kind, path, mtime_ns, extra)``, built by
        ``loader()`` and weighed by ``weigh(value)`` on a miss."""
        key = (kind, path, mtime_ns, extra)
        got = self.lookup(key)
        if got is None:
            got = loader()
            got = self.insert(key, got, weigh(got))
        return got

    def get(self, path: str, mtime_ns: int) -> "ManifestColumns":
        """A manifest's columnar view (the ``manifest`` kind), decoded on
        a miss."""
        return self.load("manifest", path, mtime_ns, None,
                         lambda: _decode_manifest(path),
                         lambda v: max(1, v.n) * _MANIFEST_ENTRY_BYTES)

    def stats(self, kind: str) -> Dict[str, int]:
        with self._lock:
            return {what: self._counts[kind, what]
                    for what in ("hits", "misses", "evictions", "bytes")}

    def cache_clear(self) -> None:
        """Drop every held value of every kind (counters keep counting)."""
        with self._lock:
            self._data.clear()
            self.bytes = 0
            for k in self._counts:
                if k[1] == "bytes":
                    self._counts[k] = 0


_manifest_cache = _ManifestCache()


def load_manifest(path: str) -> Sequence[ManifestEntry]:
    """Manifests are immutable once written; cache keyed by (path, mtime).
    Entry objects materialize lazily from the cached columnar view (and
    memoize inside it), so maintenance/metadata callers see the old list
    API while the planner never pays for objects it prunes."""
    return load_manifest_columns(path).entries()


def load_manifest_columns(path: str) -> "ManifestColumns":
    """Columnar view for the planner (same cache as load_manifest)."""
    return _manifest_cache.get(path, file_io_for(path).mtime_ns(path))


def _decode_manifest(path: str) -> "ManifestColumns":
    if path.endswith(".avro"):
        # spec-layout manifest written by a real Iceberg implementation
        # (interop path); self-decoding via embedded schema
        from .avro_manifest import read_avro_manifest
        return ManifestColumns.from_entries(read_avro_manifest(path))
    from .manifest import read_manifest_columns     # resolved per call
    return read_manifest_columns(path)


def _read_manifest_list(path: str) -> tuple:
    if path.endswith(".avro"):
        from .avro_manifest import read_avro_manifest_list
        return tuple(read_avro_manifest_list(path))
    return tuple(read_manifest_list(path))


def load_manifest_list(path: str) -> Sequence[ManifestFile]:
    """Manifest lists are immutable too (io/object_cache.rs:49 counterpart)."""
    return _manifest_cache.load(
        "manifest_list", path, file_io_for(path).mtime_ns(path), None,
        lambda: _read_manifest_list(path),
        lambda v: max(1, len(v)) * _MANIFEST_LIST_ENTRY_BYTES)


def _lite_file(memo: Dict[int, "DataFile"], src) -> "DataFile":
    """id-memoized LITE materialization of a matched delete-file source
    (shared by ScanPlan.tasks, count_rows and to_df — interned fast-plan
    delete sets reference each src many times)."""
    k = id(src)
    f = memo.get(k)
    if f is None:
        f = memo[k] = _DeleteFileIndex._file(src)
    return f


@dataclass
class FileScanTask:
    """Unit of read work (counterpart of scan/task.rs:55-118).

    Note (r11+): DataFiles in ``pos_deletes``/``eq_deletes`` are LITE —
    their per-column stat/bound maps are empty (matching the reference's
    minimal FileScanTaskDeleteFile shape, scan/task.rs:120-140). The read
    path consumes only path/format/content/offsets/equality_ids from
    attached deletes; consumers needing delete-file stats should read the
    manifest entries instead."""
    data_file: DataFile
    sequence_number: int
    pos_deletes: List[DataFile] = dc_field(default_factory=list)
    eq_deletes: List[DataFile] = dc_field(default_factory=list)


class ScanPlan:
    """Planned scan: tasks + planning observability counters
    (scan_metrics.rs counterpart).

    ``tasks`` is a lazy property: every plan with a snapshot plans into
    ``_fast`` — per-manifest ``(ManifestColumns, survivor-index-array,
    delete-sets)`` triples, ``delete-sets`` being None or a list aligned
    with the survivors of None or an interned ``(pos_srcs, eq_srcs)``
    tuple of ``(cols, row)`` delete sources (see
    ``_DeleteFileIndex.match_many``) — and entry/FileScanTask objects
    materialize only if a consumer actually touches ``.tasks`` (to_df and
    count_rows read the arrays directly, so a 100k-file scan never builds
    100k task objects)."""

    __slots__ = ("_tasks", "_fast", "snapshot", "total_manifests",
                 "skipped_manifests", "total_data_files",
                 "skipped_by_partition", "skipped_by_metrics")

    def __init__(self, tasks: Optional[List[FileScanTask]] = None,
                 snapshot: Optional[Snapshot] = None,
                 total_manifests: int = 0, skipped_manifests: int = 0,
                 total_data_files: int = 0, skipped_by_partition: int = 0,
                 skipped_by_metrics: int = 0):
        self._tasks = tasks
        self._fast: Optional[list] = None
        self.snapshot = snapshot
        self.total_manifests = total_manifests
        self.skipped_manifests = skipped_manifests
        self.total_data_files = total_data_files
        self.skipped_by_partition = skipped_by_partition
        self.skipped_by_metrics = skipped_by_metrics

    @property
    def tasks(self) -> List[FileScanTask]:
        if self._tasks is None:
            ts: List[FileScanTask] = []
            file_memo: Dict[int, DataFile] = {}
            for cols, idx, sets in (self._fast or ()):
                for j, i in enumerate(idx):
                    e = cols.entry(int(i))
                    t = FileScanTask(data_file=e.data_file,
                                     sequence_number=e.sequence_number)
                    s = sets[j] if sets is not None else None
                    if s is not None:
                        t.pos_deletes.extend(_lite_file(file_memo, x)
                                             for x in s[0])
                        t.eq_deletes.extend(_lite_file(file_memo, x)
                                            for x in s[1])
                    ts.append(t)
            self._tasks = ts
        return self._tasks

    @tasks.setter
    def tasks(self, v: List[FileScanTask]) -> None:
        self._tasks = v


class TableScan:
    def __init__(self, metadata: TableMetadata,
                 row_filter: Optional[E.Predicate] = None,
                 selected_columns: Optional[List[str]] = None,
                 snapshot_id: Optional[int] = None,
                 as_of_timestamp_ms: Optional[int] = None,
                 case_sensitive: bool = True,
                 include_metadata_columns: bool = False,
                 include_row_lineage: bool = False,
                 include_deleted: bool = False):
        self.metadata = metadata
        self.row_filter = row_filter or E.ALWAYS_TRUE
        self.selected_columns = selected_columns
        self.snapshot_id = snapshot_id
        self.as_of_timestamp_ms = as_of_timestamp_ms
        self.case_sensitive = case_sensitive
        self.include_metadata_columns = include_metadata_columns
        # reserved `_deleted` column (metadata_columns.rs:39,75): keep the
        # rows MOR deletes would remove, flagged true, instead of dropping
        # them — the primitive changelog/audit reads build on
        self.include_deleted = include_deleted
        # lineage-only mode: adds _file/_pos/_row_id WITHOUT the per-(spec,
        # partition) group split the full metadata columns need — rewrites
        # on partitioned tables read one group per delete-set, not one per
        # partition value
        self.include_row_lineage = include_row_lineage or include_metadata_columns

    # -- snapshot resolution ----------------------------------------------
    def _resolve_snapshot(self) -> Optional[Snapshot]:
        md = self.metadata
        if self.snapshot_id is not None:
            snap = md.snapshot_by_id(self.snapshot_id)
            if snap is None:
                raise ValueError(f"no snapshot {self.snapshot_id}")
            return snap
        if self.as_of_timestamp_ms is not None:
            snap = md.snapshot_as_of(self.as_of_timestamp_ms)
            if snap is None:
                raise ValueError(f"no snapshot at or before {self.as_of_timestamp_ms}")
            return snap
        return md.current_snapshot()

    def _scan_schema(self, md: TableMetadata, snap) -> "Schema":
        """Current-state scans read with the table's CURRENT schema, so a
        metadata-only evolution (e.g. ALTER TABLE with no new snapshot) is
        visible immediately; only explicit time travel pins the snapshot's
        schema-id (snapshot.rs schema resolution: spec 'Scan Planning')."""
        traveling = (self.snapshot_id is not None
                     or self.as_of_timestamp_ms is not None)
        if traveling and snap is not None and snap.schema_id is not None:
            return md.schema(snap.schema_id)
        return md.schema()

    # -- planning ----------------------------------------------------------
    def plan_files(self) -> ScanPlan:
        """O(metadata) planning, concurrent per manifest (counterpart of the
        reference's 4-stage concurrent pipeline, scan/mod.rs:381-499):

          manifest list -> FieldSummary pruning (driver, O(manifests))
          -> per-manifest [fetch + decode + extracts] on a thread pool:
             metric/partition extracts of data manifests, the index
             extract (``_delete_rows``) of delete manifests
          -> the delete index, built from those extracts once per
             delete-manifest set (cached)
          -> per-manifest survivor-index array: one partition mask
             (evaluated once per distinct partition) AND one vectorized
             metrics mask (``_vector_matcher``)
          -> delete attachment over SURVIVORS only: a memoized match
             where one is held, one batch of array joins
             (``_DeleteFileIndex.match_many``) for the rest.

        The result is always an array plan (``ScanPlan._fast``): no entry
        or task object is built until a consumer touches ``.tasks``.
        Metrics derive only for the predicate's referenced columns
        (missing metrics are conservative might-match, so the restriction
        cannot over-prune)."""
        import numpy as np
        md = self.metadata
        snap = self._resolve_snapshot()
        if snap is None:
            return ScanPlan(tasks=[], snapshot=None)
        schema = self._scan_schema(md, snap)
        bound = E.bind(self.row_filter, schema, self.case_sensitive)
        always_true = isinstance(bound, E.AlwaysTrue)

        manifest_list_path = snap.manifest_list
        manifests = load_manifest_list(manifest_list_path)
        plan = ScanPlan(snapshot=snap, total_manifests=len(manifests))

        # partition predicate per spec id (cached like scan/cache.rs:31);
        # benign-race safe under the GIL: concurrent misses recompute the
        # same immutable value
        part_pred_cache: Dict[int, E.Predicate] = {}

        def partition_pred(spec_id: int) -> E.Predicate:
            got = part_pred_cache.get(spec_id)
            if got is None:
                spec = md.spec(spec_id)
                infos = []
                for pf in spec.fields:
                    src = schema.field_by_id(pf.source_id)
                    if src is None:
                        continue
                    infos.append(PartitionFieldInfo(src.name, pf.name,
                                                    pf.transform, src.field_type))
                got = part_pred_cache[spec_id] = inclusive_projection(bound, infos)
            return got

        # manifest-level pruning (both content kinds: a delete manifest
        # whose partitions cannot match the query prunes safely — its
        # deletes could only apply to data files that are pruned too)
        surviving_data: List[ManifestFile] = []
        surviving_dels: List[ManifestFile] = []
        for mf in manifests:
            if not always_true and mf.partitions:
                ppred = partition_pred(mf.partition_spec_id)
                if not manifest_might_match(
                        ppred, {k: FieldSummary(v.contains_null, v.contains_nan,
                                                _cmp(v.lower), _cmp(v.upper))
                                for k, v in mf.partitions.items()}):
                    plan.skipped_manifests += 1
                    continue
            (surviving_dels if mf.content else surviving_data).append(mf)

        ref_names = _pred_columns(bound)

        def eval_cols(cols: ManifestColumns):
            """(survivor index array, n_data, skipped_part, skipped_metrics)
            for one manifest, on numpy masks only: partition pruning runs
            once per distinct (partition, spec) pair and metrics pruning
            once per schema group, so no entry object is built for any
            row (the numpy + Arrow steps release the GIL)."""
            data_mask = ((cols.status != STATUS_DELETED)
                         & (cols.content == CONTENT_DATA))
            rows = np.nonzero(data_mask)[0]
            n = len(rows)
            if always_true or n == 0:
                return rows, n, 0, 0
            keep = data_mask
            # decode partition dicts only when some spec's projection can
            # actually prune (a metrics-only predicate projects to
            # AlwaysTrue on every spec)
            if any(not isinstance(partition_pred(int(s)), E.AlwaysTrue)
                   for s in np.unique(cols.spec_id[rows])):
                keep = self._partition_mask(cols, rows, partition_pred)
            n_part = int(keep.sum())
            schema_raw = cols.schema_id_raw
            vec = np.zeros(cols.n, dtype=bool)
            for raw in np.unique(schema_raw[rows]):
                raw = int(raw)
                grp = keep & (schema_raw == raw)
                if not grp.any():
                    continue
                vec[grp] = self._vector_matcher(
                    bound, schema, None if raw == -1 else raw,
                    cols, ref_names)[grp]
            idx = np.nonzero(vec)[0]
            return idx, n, n - n_part, n_part - len(idx)

        # phases A+B share ONE decode pool: delete manifests and data
        # manifests decode CONCURRENTLY (the reference routes both kinds
        # through one concurrent pipeline, scan/mod.rs:420-465), each
        # delete manifest with its index extract. The delete index must
        # be complete only before survivor MATCHING — which runs after
        # data evaluation anyway — so only its array build (main thread)
        # orders after delete decode. The built index is memoized on the
        # surviving delete-manifest set: manifests are immutable, so
        # repeated plans over the same MOR table skip the build.
        # mtimes captured ONCE per manifest, at LOAD time, and reused for
        # BOTH the manifest cache key and the delete_match memo key:
        # re-fetching the mtime for the memo could store a match computed
        # from the old decoded content under a NEW mtime if the manifest
        # were replaced in place mid-plan. Data-manifest mtimes are fetched
        # INSIDE the decode pool (one serial stat per remote manifest here
        # would add O(manifests) blocking round-trips before any decode
        # starts); delete-manifest mtimes are needed NOW for the index
        # cache key — pooled when the set is large or remote.
        mtime_of: Dict[str, int] = {}
        # pool workers insert concurrently (submit_all lambdas): guard the
        # dict like the module's other shared state so free-threaded
        # builds can't tear it (benign under the GIL, ADVICE r12). The
        # stat itself runs OUTSIDE the lock — only the memo is serialized.
        _mt_lock = threading.Lock()

        def _mt(path: str) -> int:
            with _mt_lock:
                got = mtime_of.get(path)
            if got is None:
                got = file_io_for(path).mtime_ns(path)
                with _mt_lock:
                    got = mtime_of.setdefault(path, got)
            return got

        if len(surviving_dels) > 4 and any(
                not spark_native_path(m.manifest_path)
                for m in surviving_dels):
            from concurrent.futures import ThreadPoolExecutor as _TPE
            with _TPE(max_workers=min(16, len(surviving_dels))) as mpool:
                list(mpool.map(_mt, [m.manifest_path
                                     for m in surviving_dels]))
        dkey = tuple((m.manifest_path, _mt(m.manifest_path))
                     for m in surviving_dels)
        dindex_key = ("delete_index", None, None, dkey)
        cached = _manifest_cache.lookup(dindex_key)

        def prepare(cols: ManifestColumns) -> ManifestColumns:
            """Pool stage: manifest decode + the C-side metric/partition
            extracts (Arrow compute releases the GIL, so manifests overlap
            for real). The mask evaluation then runs SERIALLY on the
            driver over prepared columns — measured faster than running it
            on the pool, where 16 interpreter loops just fight the GIL."""
            if always_true:
                cols._col("file_path")      # the one column to_df reads
                return cols
            if cols.n:
                dm = ((cols.status != STATUS_DELETED)
                      & (cols.content == CONTENT_DATA))
                if dm.any():
                    sids = {int(s) for s in np.unique(cols.spec_id[dm])}
                    if any(not isinstance(partition_pred(s), E.AlwaysTrue)
                           for s in sids):
                        cols.partition_groups()
                    for raw in np.unique(cols.schema_id_raw[dm]):
                        name_map = self._name_mapping(
                            None if raw == -1 else int(raw), schema)
                        for nm in ref_names:
                            fn = name_map.get(nm)
                            if fn is not None:
                                cols.metric_vectors(fn)
            return cols

        def prepare_deletes(cols: ManifestColumns) -> ManifestColumns:
            """Pool stage of a delete manifest: its index extract."""
            _delete_rows(cols)
            return cols

        to_decode = (surviving_data if cached is not None
                     else surviving_dels + surviving_data)
        any_remote = any(not spark_native_path(m.manifest_path)
                         for m in to_decode)
        # only cache misses go to the pool: a warm plan runs serially
        # (measured warm plain10k.metrics 5.8 ms pooled vs 3.1 ms serial).
        # So does a cached manifest whose columns for this predicate were
        # never extracted: after a full-scan plan, a first ``v`` plan over
        # 20 cached 1000-entry manifests measured 43 ms serial vs 59 ms
        # with those extracts pooled, on 4 cores (the Arrow kernels are
        # short; the object-array conversion around them holds the GIL).
        # ``held`` counts nothing, so each manifest still counts one hit
        # or one miss, in ``get``. Remote mtimes are fetched on the pool,
        # so a remote set is pooled whole.
        misses = (to_decode if any_remote else
                  [m for m in to_decode if not _manifest_cache.held(
                      ("manifest", m.manifest_path, _mt(m.manifest_path),
                       None))])
        pool = None
        if len(misses) > 4:
            # pool width follows the bottleneck: remote FileIO decode is
            # fetch-latency-bound (wide pool overlaps round-trips), local
            # decode is CPU-bound with GIL-holding stretches — measured
            # fastest at 2-4 workers, SLOWER at 16 (the interpreter
            # segments convoy on the GIL). ANY remote manifest in the set
            # widens the pool: a mixed local/remote manifest list must
            # not let element 0 alone pick the width.
            from concurrent.futures import ThreadPoolExecutor
            pool = ThreadPoolExecutor(
                max_workers=min(16 if any_remote else 2, len(misses)))
        pooled = {m.manifest_path for m in misses} if pool else ()

        class _Now:
            """Serial stand-in for a Future (cached manifests and small
            miss sets)."""
            __slots__ = ("_fn", "_m")

            def __init__(self, fn, m):
                self._fn, self._m = fn, m

            def result(self):
                return self._fn(_manifest_cache.get(
                    self._m.manifest_path, _mt(self._m.manifest_path)))

        def submit_all(mfs, fn):
            # _mt runs on the pool worker: the stat overlaps across
            # manifests and is pinned for the delete_match memo key
            return [pool.submit(
                lambda m=m: fn(_manifest_cache.get(
                    m.manifest_path, _mt(m.manifest_path))))
                if m.manifest_path in pooled else _Now(fn, m)
                for m in mfs]

        try:
            # BOTH manifest kinds decode on the one pool (the overlap the
            # reference gets from its single concurrent pipeline); the
            # serial stages (index build, mask evaluation) run
            # only after the pool drains — running them concurrently with
            # pool decode measured ~2x SLOWER at 100k files (three
            # interpreter threads convoy on the GIL)
            del_futs = ([] if cached is not None
                        else submit_all(surviving_dels, prepare_deletes))
            data_futs = submit_all(surviving_data, prepare)
        finally:
            if pool is not None:
                pool.shutdown(wait=True)
        if cached is None:
            # build unlocked (concurrent misses may build twice — benign,
            # manifests are immutable)
            del_cols = [f.result() for f in del_futs]
            delete_index = _DeleteFileIndex(del_cols)
            # live DATA rows in a delete manifest (external writers could
            # mix content) plan as one more group below
            stray_data = [cols.entry(int(i)) for cols in del_cols
                          for i in np.nonzero(
                              (cols.status != STATUS_DELETED)
                              & (cols.content == CONTENT_DATA))[0]]
            delete_index, stray_data = _manifest_cache.insert(
                dindex_key, (delete_index, stray_data),
                max(1, sum(c.n for c in del_cols))
                * _DELETE_INDEX_ENTRY_BYTES)
        else:
            delete_index, stray_data = cached
        loaded = [f.result() for f in data_futs]

        # live DELETE rows inside data manifests (rare, external writers)
        # join the cached index's in a per-plan one, matched unmemoized
        extra = [cols for cols in loaded
                 if ((cols.status != STATUS_DELETED)
                     & (cols.content != CONTENT_DATA)).any()]
        if extra:
            delete_index = _DeleteFileIndex(delete_index.manifests + extra)

        groups: List[Tuple[Optional[ManifestFile], ManifestColumns]] = \
            list(zip(surviving_data, loaded))
        if stray_data:
            groups.append((None, ManifestColumns.from_entries(stray_data)))
        # delete attachment: one batch of array joins over every manifest
        # whose match is not memoized. The memo ("delete_match", per
        # manifest, mtime and delete-manifest set) holds the match of ALL
        # of a manifest's live data rows, so any plan may cut it to its
        # survivors, and a plan whose survivors are all of them stores it
        fast = []
        todo = []                           # (index into fast, memo key)
        for mfm, cols in groups:
            ix, n, sp, sm = eval_cols(cols)
            plan.total_data_files += n
            plan.skipped_by_partition += sp
            plan.skipped_by_metrics += sm
            sets = None
            if len(ix) and not delete_index.empty:
                key = None if mfm is None or extra else (
                    "delete_match", mfm.manifest_path,
                    mtime_of[mfm.manifest_path], dkey)
                got = None if key is None else _manifest_cache.lookup(key)
                if got is not None:         # cut to this plan's survivors
                    rows, sets = got
                    if sets is not None and len(ix) < len(rows):
                        sets = list(map(sets.__getitem__,
                                        np.searchsorted(rows, ix).tolist()))
                        sets = None if sets.count(None) == len(sets) else sets
                else:
                    todo.append((len(fast), key if len(ix) == n else None))
            fast.append([cols, ix, sets])
        matched = delete_index.match_many([fast[k][:2] for k, _ in todo])
        for (k, key), sets in zip(todo, matched):
            fast[k][2] = sets
            if key is not None:
                ix = fast[k][1]
                _manifest_cache.insert(key, (ix, sets), ix.nbytes + 8 * len(ix))
        plan._fast = [tuple(f) for f in fast]
        return plan

    @staticmethod
    def _partition_mask(cols: ManifestColumns, rows, partition_pred):
        """Keep-mask over ``rows`` (indices into ``cols``) from exact
        partition values: ``partition_might_match`` runs once per distinct
        (partition, spec id) pair, with the pair's projected predicate
        ``partition_pred(spec_id)``, and the result scatters back through
        the ``partition_groups`` codes. An empty partition (unpartitioned
        spec) is kept; rows outside ``rows`` read False."""
        import numpy as np
        codes, parts = cols.partition_groups()
        pairs, inv = np.unique(
            np.stack([codes[rows], cols.spec_id[rows]], axis=1),
            axis=0, return_inverse=True)
        ok = np.fromiter(
            (not parts[c] or partition_might_match(partition_pred(s),
                                                   parts[c])
             for c, s in pairs.tolist()),
            dtype=bool, count=len(pairs))
        keep = np.zeros(cols.n, dtype=bool)
        keep[rows] = ok[inv.reshape(-1)]
        return keep

    def _vector_matcher(self, bound: E.Predicate, current_schema: Schema,
                        schema_id: Optional[int], cols: ManifestColumns,
                        ref_names: frozenset):
        """The planner's metrics matcher: ONE boolean might-match array
        for a whole manifest, mirroring ``_eval_bounds``' truth tables
        node by node (property-tested equal to ``file_might_match`` over
        ``_metrics_for_file`` on random predicate x stats combinations).
        A row whose bound does not compare with a literal reads
        might-match for that node, as ``_eval_bounds``' ``except
        TypeError`` does. The payoff is touching ONLY survivors
        afterwards: a selective predicate over a 100k-file manifest set
        builds a handful of objects, not 100k."""
        import operator

        import numpy as np
        from .datum import to_comparable
        name_map = self._name_mapping(schema_id, current_schema)
        n = cols.n
        ones = np.ones(n, dtype=bool)
        zeros = np.zeros(n, dtype=bool)

        vecs: Dict[str, Optional[tuple]] = {}
        for nm in ref_names:
            fn = name_map.get(nm)
            vecs[nm] = None if fn is None else cols.metric_vectors(fn)

        def cmp(vals, present, op, lit):
            """(result, raised) masks of ``op(bound, lit)`` over present
            rows; a row whose comparison raised TypeError reads False in
            ``result`` and True in ``raised``."""
            res = np.zeros(n, dtype=bool)
            err = np.zeros(n, dtype=bool)
            if present.any():
                sub = vals[present]
                try:
                    res[present] = np.asarray(op(sub, lit), dtype=bool)
                except TypeError:
                    r, e = [], []
                    for x in sub:
                        try:
                            r.append(bool(op(x, lit)))
                            e.append(False)
                        except TypeError:
                            r.append(False)
                            e.append(True)
                    res[present] = r
                    err[present] = e
            return res, err

        def str_rows(vals, test):
            return np.fromiter((isinstance(x, str) and test(x) for x in vals),
                               dtype=bool, count=n)

        def ev(p: E.Predicate) -> np.ndarray:
            if isinstance(p, E.AlwaysTrue):
                return ones
            if isinstance(p, E.AlwaysFalse):
                return zeros
            if isinstance(p, E.And):
                return ev(p.left) & ev(p.right)
            if isinstance(p, E.Or):
                return ev(p.left) | ev(p.right)
            if isinstance(p, E.Not):
                return ones          # NOT is conservative, like _eval_bounds
            name = p.field.name if hasattr(p, "field") else p.term
            v = vecs.get(name)
            if v is None:
                return ones          # unmapped column: might match
            vc, vc_p, nc, nc_p, nanc, nanc_p, lo, lo_p, hi, hi_p = v
            # absent counts (presence mask False) read conservatively in
            # every mask below: an absent count can never prove a prune
            contains_null = ~(nc_p & (nc == 0))
            all_null = vc_p & nc_p & (vc == nc)
            all_nan = vc_p & nanc_p & (nanc == vc)

            if isinstance(p, (E.UnaryPred, E.BoundUnaryPred)):
                if p.op == E.IS_NULL:
                    return contains_null
                if p.op == E.NOT_NULL:
                    return ~all_null
                if p.op == E.IS_NAN:
                    return ~((nanc_p & (nanc == 0)) | all_null)
                if p.op == E.NOT_NAN:
                    return ~all_nan
                return ones

            binary = isinstance(p, (E.BinaryPred, E.BoundBinaryPred))
            if binary and p.op == E.NOT_STARTS_WITH:
                # before the all-null cutoff: NOT(startsWith) includes
                # nulls, so null presence forces might-match. Prunes only
                # when both bounds are strings carrying the prefix
                prefix = to_comparable(p.literal)
                if not isinstance(prefix, str):
                    return ones
                cannot = ~contains_null
                for b in (lo, hi):
                    cannot = cannot & str_rows(
                        b, lambda x: x.startswith(prefix))
                return ~cannot

            if binary:
                op = p.op
                lit = to_comparable(p.literal)
                if op == E.LT:
                    res = ~cmp(lo, lo_p, operator.ge, lit)[0]
                elif op == E.LT_EQ:
                    res = ~cmp(lo, lo_p, operator.gt, lit)[0]
                elif op == E.GT:
                    res = ~cmp(hi, hi_p, operator.le, lit)[0]
                elif op == E.GT_EQ:
                    res = ~cmp(hi, hi_p, operator.lt, lit)[0]
                elif op == E.EQ:
                    above, raised = cmp(lo, lo_p, operator.gt, lit)
                    below = cmp(hi, hi_p, operator.lt, lit)[0]
                    # the upper bound is consulted only when the lower
                    # compared and did not prune
                    res = ~(above | (below & ~raised))
                elif op == E.STARTS_WITH and isinstance(lit, str):
                    k = len(lit)
                    res = ~(str_rows(lo, lambda x: x[:k] > lit)
                            | str_rows(hi, lambda x: x[:k] < lit))
                else:
                    # NOT_EQ; STARTS_WITH with a non-string prefix raises
                    # TypeError in _eval_bounds, i.e. might-match
                    res = ones
                return res & ~all_null   # ordered ops: all-null cannot

            if isinstance(p, (E.SetPred, E.BoundSetPred)) and p.op == E.IN:
                hit = zeros.copy()
                raised = zeros.copy()
                for raw_lit in p.literals:
                    lit = to_comparable(raw_lit)
                    # lit >= lower, then (only if that held) lit <= upper
                    ge_lo, err_lo = cmp(lo, lo_p, operator.le, lit)
                    le_hi, err_hi = cmp(hi, hi_p, operator.ge, lit)
                    lo_ok = ~lo_p | ge_lo
                    hit |= lo_ok & (~hi_p | le_hi)
                    raised |= err_lo | (lo_ok & err_hi)
                return (hit | raised) & ~all_null

            # NOT_IN and other leaves: might match unless all-null
            return ~all_null

        return ev(bound) & (cols.record_count != 0)

    def _metrics_for_file(self, df_: DataFile, current_schema: Schema,
                          ref_cols: Optional[frozenset] = None
                          ) -> Dict[str, ColumnMetrics]:
        """Map file-local column stats to CURRENT schema names via field
        ids. ``ref_cols`` restricts the work to the predicate's referenced
        columns (sound: missing metrics evaluate as might-match)."""
        name_map = self._name_mapping(df_.schema_id, current_schema)
        out: Dict[str, ColumnMetrics] = {}
        names = name_map if ref_cols is None else ref_cols
        for cur_name in names:
            file_name = name_map.get(cur_name)
            if file_name is None:
                continue
            out[cur_name] = ColumnMetrics(
                value_count=df_.value_counts.get(file_name),
                null_count=df_.null_value_counts.get(file_name),
                nan_count=df_.nan_value_counts.get(file_name),
                lower=df_.lower_bounds.get(file_name),
                upper=df_.upper_bounds.get(file_name))
        return out

    def _name_mapping(self, file_schema_id: Optional[int],
                      current_schema: Schema) -> Dict[str, str]:
        """current column name -> file column name (by field id)."""
        if file_schema_id is None or file_schema_id == current_schema.schema_id:
            return {f.name: f.name for f in current_schema.fields}
        try:
            file_schema = self.metadata.schema(file_schema_id)
        except KeyError:
            return {f.name: f.name for f in current_schema.fields}
        out = {}
        for f in current_schema.fields:
            old = file_schema.field_by_id(f.field_id)
            if old is not None:
                out[f.name] = old.name
        return out

    # -- execution ---------------------------------------------------------
    def to_arrow(self, spark: SparkSession) -> "pyarrow.Table":
        """Materialize the scan as a pyarrow Table — the reference's primary
        read output (scan/mod.rs:192 to_arrow / ArrowRecordBatchStream).
        Streams Arrow batches executor->driver (no Row round-trip); use for
        driver-side handoff to pandas/duckdb/ML tooling, not as a
        distributed path."""
        import pyarrow as pa

        df = self.to_df(spark)
        batches = df._collect_as_arrow()
        if batches:
            return pa.Table.from_batches(batches)
        return pa.Schema.from_pandas(df.limit(0).toPandas()).empty_table()

    def count_rows(self, spark: Optional[SparkSession] = None) -> int:
        """Metadata-only COUNT(*) pushdown: files whose manifest stats PROVE
        every row matches the filter (StrictMetricsEvaluator) and that carry
        no deletes, or only their deletion vector, contribute their manifest
        `record_count` (less the DV's cardinality) without any data read;
        only the residual files are scanned. One walk over the array plan;
        delete-free manifests of an unfiltered count sum their
        record_count vector. At 100 TB a
        partition-aligned count touches zero data bytes — the planner reads
        manifests, not parquet (the same trick Spark's Iceberg source uses
        for SELECT COUNT(*)). Raises if residual files need reading and no
        SparkSession was passed."""
        from ..plans.evaluators import file_must_match
        md = self.metadata
        plan = self.plan_files()
        if plan.snapshot is None:
            return 0
        schema = self._scan_schema(md, plan.snapshot)
        bound = E.bind(self.row_filter, schema, self.case_sensitive)
        always = isinstance(bound, E.AlwaysTrue)
        refs = _pred_columns(bound)
        total = 0

        def counted(rc: int, data_file, pos, eq) -> bool:
            """Add a file's live rows from metadata alone where they are
            proven: no equality deletes, no positional delete but its
            deletion vector (v3: a DV's record_count is its cardinality,
            and it supersedes every earlier positional delete of its
            file), and stats proving every row matches the filter."""
            nonlocal total
            if eq or len(pos) > 1:
                return False
            dv = 0
            if pos:
                d = pos[0]
                if d.file_format != "puffin" or d.referenced_data_file is None:
                    return False
                dv = d.record_count
            if not always and not file_must_match(
                    bound, self._metrics_for_file(data_file(), schema, refs),
                    rc):
                return False
            total += rc - dv
            return True

        if plan._tasks is not None:
            # a caller narrowed ``tasks`` (incremental scans)
            residual = [t for t in plan._tasks if not counted(
                t.data_file.record_count, lambda t=t: t.data_file,
                t.pos_deletes, t.eq_deletes)]
        else:
            residual = []
            fmemo: Dict[int, DataFile] = {}
            for c, ix, sets in plan._fast:
                if sets is None and always:
                    # delete-free manifest: the record_count vector sums
                    total += int(c.record_count[ix].sum())
                    continue
                rc = c.record_count
                for j, i in enumerate(ix.tolist()):
                    s = None if sets is None else sets[j]
                    pos = [] if s is None else [_lite_file(fmemo, x)
                                                for x in s[0]]
                    eq = [] if s is None else [_lite_file(fmemo, x)
                                               for x in s[1]]
                    if counted(int(rc[i]), lambda: c.entry(i).data_file,
                               pos, eq):
                        continue
                    e = c.entry(i)
                    task = FileScanTask(data_file=e.data_file,
                                        sequence_number=e.sequence_number)
                    task.pos_deletes.extend(pos)
                    task.eq_deletes.extend(eq)
                    residual.append(task)
        self.last_count_residual_files = len(residual)
        if residual:
            if spark is None:
                raise ValueError(
                    f"{len(residual)} files need a data read to count "
                    "exactly; pass a SparkSession")
            total += self.to_df(spark, _tasks=residual).count()
        return int(total)

    def to_df(self, spark: SparkSession,
              _tasks: Optional[List[FileScanTask]] = None) -> DataFrame:
        md = self.metadata
        plan = (self.plan_files() if _tasks is None
                else ScanPlan(tasks=_tasks, snapshot=self._resolve_snapshot()))
        snap = plan.snapshot
        schema = self._scan_schema(md, snap) if snap else md.schema()
        spark_schema = schema.to_spark()

        # array plan: group file-path ARRAYS by (write-schema id,
        # applicable-delete-set signature) — the same group key the
        # object path computes — without materializing per-file entry/task
        # objects. Delete files materialize LITE, once per distinct set.
        # include_metadata_columns needs a per-(spec, partition) split, so
        # it takes the object path.
        fast = (plan._fast if _tasks is None and plan._tasks is None
                and not self.include_metadata_columns else None)
        group_list: List[dict] = []
        if fast is not None:
            import numpy as np
            by_key: Dict[tuple, dict] = {}
            src_memo: Dict[int, DataFile] = {}
            _mat = functools.partial(_lite_file, src_memo)
            sig_memo: Dict[int, tuple] = {}   # id(set) -> (pos_sig, eq_sig)

            def _sig(s):
                got = sig_memo.get(id(s))
                if got is None:
                    got = sig_memo[id(s)] = (
                        tuple(sorted(_mat(x).file_path for x in s[0])),
                        tuple(sorted(_mat(x).file_path for x in s[1])))
                return got

            def _group(key):
                g = by_key.get(key)
                if g is None:
                    g = by_key[key] = {"files": [], "srcs": [],
                                       "pos_dels": {}, "eq_files": [],
                                       "eq_seen": set(), "set_seen": set()}
                return g

            for cols, idx, sets in fast:
                if not len(idx):
                    continue
                fps = cols.file_paths()
                raws = cols.schema_id_raw
                if sets is None:
                    for raw in np.unique(raws[idx]):
                        raw = int(raw)
                        sel = idx[raws[idx] == raw]
                        g = _group((None if raw == -1 else raw, (), ()))
                        g["files"].extend(fps[int(i)] for i in sel)
                        g["srcs"].append((cols, sel))
                    continue
                per_group_sel: Dict[tuple, list] = {}
                for j, i in enumerate(idx):
                    i = int(i)
                    raw = int(raws[i])
                    s = sets[j]
                    psig, esig = _sig(s) if s is not None else ((), ())
                    key = (None if raw == -1 else raw, psig, esig)
                    per_group_sel.setdefault(key, []).append(i)
                    if s is not None:
                        g = _group(key)
                        if id(s) not in g["set_seen"]:
                            g["set_seen"].add(id(s))
                            for x in s[0]:
                                d = _mat(x)
                                g["pos_dels"].setdefault(
                                    (d.file_path, d.referenced_data_file), d)
                            for x in s[1]:
                                d = _mat(x)
                                if id(d) not in g["eq_seen"]:
                                    g["eq_seen"].add(id(d))
                                    g["eq_files"].append(d)
                for key, rows in per_group_sel.items():
                    g = _group(key)
                    g["files"].extend(fps[i] for i in rows)
                    g["srcs"].append((cols, np.asarray(rows)))
            if not by_key:
                return spark.createDataFrame([], spark_schema)

            def _fast_sizes(srcs):
                out = {}
                for cols, sel in srcs:
                    fps, szs = cols.file_paths(), cols.file_sizes()
                    for i in sel:
                        out[fps[int(i)]] = szs[int(i)]
                return out

            def _fast_frids(srcs):
                out = []
                for cols, sel in srcs:
                    fps, frs = cols.file_paths(), cols.first_row_ids()
                    seqs = cols.sequence_number
                    for i in sel:
                        i = int(i)
                        out.append((_norm_path_py(fps[i]), frs[i],
                                    int(seqs[i])))
                return out

            for (schema_id, _psig, _esig), g in by_key.items():
                group_list.append(dict(
                    schema_id=schema_id, files=g["files"],
                    sizes=functools.partial(_fast_sizes, g["srcs"]),
                    frids=functools.partial(_fast_frids, g["srcs"]),
                    pos_dels=g["pos_dels"], eq_files=g["eq_files"],
                    first=None))
        else:
            if not plan.tasks:
                return spark.createDataFrame([], spark_schema)

            # group: same write-schema + same applicable delete sets +
            # same (spec, partition) read together — the last so the
            # reserved _spec_id/_partition columns
            # (metadata_columns.rs:33-66) are constant per group
            groups: Dict[Tuple, List[FileScanTask]] = {}
            for t in plan.tasks:
                sig = (t.data_file.schema_id,
                       tuple(sorted(d.file_path for d in t.pos_deletes)),
                       tuple(sorted(d.file_path for d in t.eq_deletes)))
                if self.include_metadata_columns:
                    sig = sig + (t.data_file.spec_id,
                                 tuple(sorted((k, str(v)) for k, v in
                                              t.data_file.partition.items())))
                groups.setdefault(sig, []).append(t)

            def _task_sizes(tasks):
                return {t.data_file.file_path:
                        t.data_file.file_size_in_bytes for t in tasks}

            def _task_frids(tasks):
                return [(_norm_path_py(t.data_file.file_path),
                         t.data_file.first_row_id,
                         t.sequence_number) for t in tasks]

            for sig, tasks in groups.items():
                group_list.append(dict(
                    schema_id=sig[0],
                    files=[t.data_file.file_path for t in tasks],
                    sizes=functools.partial(_task_sizes, tasks),
                    frids=functools.partial(_task_frids, tasks),
                    pos_dels={(d.file_path, d.referenced_data_file): d
                              for t in tasks for d in t.pos_deletes},
                    eq_files=[d for t in tasks for d in t.eq_deletes],
                    first=tasks[0].data_file))

        parts: List[DataFrame] = []
        del_cache = _DeleteDFCache()
        for g in group_list:
            schema_id = g["schema_id"]
            pos_dels, eq_files = g["pos_dels"], g["eq_files"]
            files = g["files"]
            # FileIO data plane (io.py spark_native): executor_reads
            # backends ship the (picklable) FileIO into the tasks and GET
            # object bytes cluster-side; others localize to the driver
            # mirror cache with the _file metadata column remapped back to
            # manifest-recorded URIs so delete joins and lineage lookups
            # still match
            remap = None
            exec_io = None
            if not spark_native_path(files[0]):
                io_impl = file_io_for(files[0])
                if getattr(io_impl, "executor_reads", False):
                    exec_io = io_impl
                else:
                    files = localize_paths(files)
                    remap = mirror_remap_pattern()
            elif (len(files) >= _executor_read_threshold(spark)
                  and self.selected_columns is None
                  and schema_id is not None
                  and all(p.startswith("/") or p.startswith("file:")
                          for p in files)):
                # many-small-files escape hatch for the ONE cost Python
                # cannot remove from Spark's native reader: handing it an
                # explicit N-file list still pays an InMemoryFileIndex
                # listing pass (plus a distributed listing job) that the
                # manifests already answered. Route the group through the
                # executor-side FileIO plane instead — split planning uses
                # manifest-recorded sizes (zero listing IO), executors GET
                # bytes and decode via Arrow. Measured at 20k small local
                # files: 35.0s native (10k-task listing job + scan) vs
                # 5.6s through this path, same rows. Auto-enabled only on
                # local[*] masters (executors provably share the
                # filesystem) above 10k files; elsewhere opt-in via
                # ICEBERG_SPARK_EXECUTOR_READ_FILES (0 disables). Groups
                # with many over-split-size files stay native — their
                # per-file footer reads would pay back the listing — and
                # explicit column selections stay native too (mapInPandas
                # blocks Catalyst column pruning; the native scan's
                # ReadSchema pruning wins for narrow projections over
                # wide tables). Guards (review r12): every file in the
                # group must be a LOCAL path (files[0] alone must not turn
                # a mixed-backend group into an all-local assumption), and
                # id-less external groups (add_files; schema_id None) stay
                # native — FOREIGN parquet may carry INT96/legacy-rebase
                # timestamps whose pyarrow decode differs from Spark's
                # datetimeRebaseModeInRead handling; files our own writer
                # produced are arrow-standard by construction.
                from .io import LocalFileIO
                io_impl = file_io_for(files[0])
                if isinstance(io_impl, LocalFileIO):
                    from .executor_io import _max_split_bytes
                    szs = g["sizes"]()
                    g["sizes"] = lambda _s=szs: _s   # computed once; reuse
                    cap = _max_split_bytes(spark)
                    oversized = sum(1 for s in szs.values()
                                    if s and s > cap)
                    if oversized <= 256:
                        exec_io = io_impl
            file_schema = self._file_schema(schema_id, schema)
            need_meta = (bool(pos_dels) or self.include_row_lineage
                         or self.include_deleted)
            if schema_id is None:
                # external id-less files (add_files): infer the physical
                # schema, then rename aliases -> canonical via name mapping
                # (spec/name_mapping fallback, arrow/reader/pipeline.rs:160-196)
                if exec_io is not None:
                    from .executor_io import fileio_parquet_df
                    gdf = fileio_parquet_df(
                        spark, files, None, exec_io, with_meta=need_meta,
                        file_sizes=g["sizes"]())
                else:
                    gdf = cached_parquet_relation(spark, files)
                alias_map = self._alias_map(schema)
                for alias, canonical in alias_map.items():
                    if alias in gdf.columns and alias != canonical:
                        gdf = gdf.withColumnRenamed(alias, canonical)
            else:
                read_schema = file_schema.to_spark()
                if self.include_row_lineage:
                    # v3 row lineage: REWRITTEN files materialize `_row_id`
                    # as a physical column (write.py keep_extra); reading it
                    # schema-on-read yields NULL for files that rely on
                    # first_row_id + position inheritance instead
                    from pyspark.sql.types import LongType, StructField
                    read_schema = read_schema.add(
                        StructField("_row_id", LongType(), True))
                    read_schema = read_schema.add(StructField(
                        "_last_updated_sequence_number", LongType(), True))
                if exec_io is not None:
                    from .executor_io import fileio_parquet_df
                    gdf = fileio_parquet_df(
                        spark, files, read_schema, exec_io,
                        with_meta=need_meta,
                        file_sizes=g["sizes"]())
                else:
                    gdf = cached_parquet_relation(spark, files, read_schema)
            if need_meta and exec_io is None:
                fcol = F.col("_metadata.file_path")
                if _paths_need_decode(files):
                    fcol = _decode_file_uri(fcol)
                if remap is not None:
                    fcol = F.regexp_replace(fcol, remap[0], remap[1])
                gdf = gdf.withColumn("_file", fcol) \
                         .withColumn("_pos", F.col("_metadata.row_index"))
            if self.include_metadata_columns:
                # reserved _spec_id/_partition (metadata_columns.rs:33-66);
                # _partition is rendered as a canonical JSON string so groups
                # from different partition specs still union cleanly
                first = g["first"]
                gdf = gdf.withColumn("_spec_id", F.lit(first.spec_id)) \
                         .withColumn("_partition", F.lit(_part_json(first.partition)))
            if self.include_row_lineage:
                # v3 row lineage: materialized `_row_id` wins; NULL entries
                # inherit first_row_id + position (scan/task.rs:70-76);
                # per-file base joined in via a tiny broadcast map
                for lineage_col in ("_row_id",
                                    "_last_updated_sequence_number"):
                    if lineage_col not in gdf.columns:  # external id-less
                        gdf = gdf.withColumn(lineage_col,
                                             F.lit(None).cast("long"))
                # per-file lineage bases: first_row_id for _row_id, the
                # file's data sequence number for
                # _last_updated_sequence_number (metadata_columns.rs:62-66 —
                # rows not rewritten since the file was added inherit it)
                frids = g["frids"]()
                if len(frids) <= 256:
                    # pure-projection map lookup: stays inside the scan
                    # stage, no broadcast-join stage on the hot path
                    nf = _norm_path(F.col("_file"))
                    seq_map = F.create_map(
                        *[x for f, _, s in frids
                          for x in (F.lit(f), F.lit(s))])
                    gdf = gdf.withColumn(
                        "_last_updated_sequence_number",
                        F.coalesce(F.col("_last_updated_sequence_number"),
                                   seq_map[nf]))
                    frid_items = [x for f, fr, _ in frids if fr is not None
                                  for x in (F.lit(f), F.lit(fr))]
                    if frid_items:
                        gdf = gdf.withColumn("_row_id", F.coalesce(
                            F.col("_row_id"),
                            F.create_map(*frid_items)[nf] + F.col("_pos")))
                else:
                    # wide plans: tiny broadcast join instead of a huge
                    # map literal in the projection
                    from ..session import local_df
                    frid_df = local_df(
                        spark, frids,
                        "_frid_file string, _frid long, _fseq long", parts=1)
                    gdf = gdf.join(
                        F.broadcast(frid_df),
                        _norm_path(gdf["_file"]) == F.col("_frid_file"),
                        "left") \
                        .withColumn("_row_id", F.coalesce(
                            F.col("_row_id"),
                            F.col("_frid") + F.col("_pos"))) \
                        .withColumn("_last_updated_sequence_number",
                                    F.coalesce(
                                        F.col("_last_updated_sequence_number"),
                                        F.col("_fseq"))) \
                        .drop("_frid_file", "_frid", "_fseq")
            if pos_dels:
                if self.include_deleted:
                    gdf = _flag_pos_deletes(spark, gdf,
                                            list(pos_dels.values()), del_cache)
                else:
                    gdf = _apply_pos_deletes(spark, gdf,
                                             list(pos_dels.values()), del_cache)
            if self.include_deleted and "_deleted" not in gdf.columns:
                gdf = gdf.withColumn("_deleted", F.lit(False))
            # project file schema -> current schema by field id
            gdf = _project_to_schema(gdf, file_schema, schema,
                                     keep_meta=self.include_row_lineage,
                                     keep_deleted=self.include_deleted)
            if eq_files:
                if self.include_deleted:
                    gdf = _flag_eq_deletes(spark, gdf, eq_files, schema,
                                           del_cache)
                else:
                    gdf = _apply_eq_deletes(spark, gdf, eq_files, schema,
                                            del_cache)
            parts.append(gdf)

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)

        bound = E.bind(self.row_filter, schema, self.case_sensitive)
        if not isinstance(bound, E.AlwaysTrue):
            out = out.filter(E.to_spark_column(bound, schema))
        if self.selected_columns is not None:
            out = out.select(*self.selected_columns)
        return out

    def _alias_map(self, schema: Schema) -> Dict[str, str]:
        """alias -> canonical name from the persisted name mapping."""
        from .name_mapping import NAME_MAPPING_PROPERTY, NameMapping
        text = self.metadata.properties.get(NAME_MAPPING_PROPERTY)
        if not text:
            return {}
        return NameMapping.from_json(text).alias_to_canonical(schema)

    def _file_schema(self, schema_id: Optional[int], current: Schema) -> Schema:
        if schema_id is None:
            return current
        try:
            return self.metadata.schema(schema_id)
        except KeyError:
            return current


def _cmp(v: Any) -> Any:
    from .datum import to_comparable
    return to_comparable(v)


def _part_json(part: Dict[str, Any]) -> Optional[str]:
    """Canonical JSON rendering of a partition tuple (sorted keys, values
    stringified) for the reserved _partition column."""
    import json
    if not part:
        return None
    return json.dumps({k: str(v) for k, v in sorted(part.items())})


def _pred_columns(pred: E.Predicate) -> frozenset:
    """Column names a bound predicate references — the only columns whose
    metric extracts the columnar matcher needs (same name rule as
    _eval_bounds: bound nodes carry .field, unbound .term)."""
    out: set = set()

    def walk(p):
        if isinstance(p, (E.And, E.Or)):
            walk(p.left)
            walk(p.right)
        elif isinstance(p, E.Not):
            walk(p.child)
        elif hasattr(p, "field"):
            out.add(p.field.name)
        elif hasattr(p, "term"):
            out.add(p.term)

    walk(pred)
    return frozenset(out)


def _part_key(part: Dict[str, Any]) -> Tuple:
    """Hashable canonical key for a partition tuple."""
    return tuple(sorted((k, _cmp(v)) for k, v in part.items()))


def _norm_paths(paths):
    """Arrow twin of ``_norm_path_py`` over a string array; the regex runs
    only when some value starts with ``file:``."""
    import pyarrow.compute as pc
    if pc.any(pc.starts_with(paths, "file:")).as_py():
        return pc.replace_substring_regex(paths, "^file:/*", "/")
    return paths


def _take(arr, rows):
    """``arr.take(rows)`` for ascending unique ``rows``, without the copy
    when they are every row."""
    import pyarrow as pa
    return arr if len(rows) == len(arr) else arr.take(pa.array(rows))


def _expand(owner, starts, ends) -> tuple:
    """CSR expansion: ``(owner[k], position)`` for every position of every
    range ``[starts[k], ends[k])``."""
    import numpy as np
    lens = ends - starts
    own = np.repeat(owner, lens)
    return own, (np.arange(len(own))
                 + np.repeat(starts - (np.cumsum(lens) - lens), lens))


def _csr(keys, order_by, values, n_keys: int) -> tuple:
    """``(offsets, order_by, values)`` sorted by ``(keys, order_by)``;
    ``offsets[k]:offsets[k + 1]`` is key ``k``'s slice."""
    import numpy as np
    o = np.lexsort((order_by, keys))
    offs = np.zeros(n_keys + 1, dtype=np.int64)
    np.cumsum(np.bincount(keys, minlength=n_keys), out=offs[1:])
    return offs, order_by[o], values[o]


def _unique_rows(m) -> tuple:
    """``np.unique(m, axis=0, return_inverse=True)`` of a 2-D int array
    through one 1-D sort (the axis form sorts a void view with a generic
    compare, ~10x slower): the columns fold into one int64 key, densified
    where the next column could overflow it."""
    import numpy as np
    key = np.zeros(len(m), dtype=np.int64)
    for col in (m.T if len(m) else ()):
        lo, hi = int(col.min()), int(col.max())
        if hi - lo >= 1 << 31:              # sparse: densify it first
            col = np.unique(col, return_inverse=True)[1].reshape(-1)
            lo, hi = 0, int(col.max())
        if int(key.max()) >= (1 << 62) // (hi - lo + 1):
            key = np.unique(key, return_inverse=True)[1].reshape(-1)
        key = key * (hi - lo + 1) + (col - lo)
    _, first, inv = np.unique(key, return_index=True, return_inverse=True)
    return m[first], inv.reshape(-1)


def _delete_rows(cols: ManifestColumns) -> tuple:
    """Index extract of a manifest's live position/equality delete rows,
    memoized on ``cols``: ``(rows, refs, keys, kcode, lo, hi)`` — the
    normalized ``referenced_data_file`` (null: scoped row), one scope key
    per distinct ``(spec_id, partition)`` (None: global), each row's index
    into them (-1: path-scoped) and the normalized ``file_path`` bounds."""
    got = cols._cols.get("__delete_rows__")
    if got is not None:
        return got
    import numpy as np
    import pyarrow as pa
    content = cols.content
    rows = np.nonzero((cols.status != STATUS_DELETED)
                      & ((content == CONTENT_POSITION_DELETES)
                         | (content == CONTENT_EQUALITY_DELETES)))[0]
    refs = _norm_paths(_take(cols.strings("referenced_data_file"), rows))
    scoped = ~refs.is_valid().to_numpy(zero_copy_only=False)
    kcode = np.full(len(rows), -1, dtype=np.int64)
    keys: list = []
    lo = hi = pa.nulls(len(rows), pa.string())
    if scoped.any():
        codes, parts = cols.partition_groups()
        uniq, kcode[scoped] = _unique_rows(np.column_stack(
            (cols.spec_id[rows[scoped]], codes[rows[scoped]])))
        keys = [(spec, _part_key(parts[c])) if parts[c] else None
                for spec, c in uniq.tolist()]
        if (content[rows[scoped]] == CONTENT_POSITION_DELETES).any():
            lo, hi = (_norm_paths(_take(b, rows))
                      for b in cols.string_bounds("file_path"))
    got = cols._cols["__delete_rows__"] = (rows, refs, keys, kcode, lo, hi)
    return got


class _DeleteFileIndex:
    """Delete index (delete_file_index.rs:84-168 counterpart), built once
    per delete-manifest set from the manifests' ``_delete_rows`` extracts
    into immutable arrays, so concurrent plans share it as built. A live
    delete row is a rec id with parallel ``seq``, ``is_eq``, ``rec_man``
    (into ``manifests``) and ``rec_row`` arrays, in three groups:

    - path-scoped (deletion vectors): the distinct normalized referenced
      paths ``path_keys`` with CSR offsets ``path_offs`` into ``path_recs``;
    - scoped position and equality recs (``pos``, ``eq``): per scope (0 =
      global, then one per canonical ``(spec_id, partition)`` in
      ``scope_ids``) a seq-sorted CSR slice, so the recs a (scope, data
      seq) pair sees are a suffix;
    - ``file_path``-bounded position recs: per scope (``b_scope``,
      ``b_offs``) sorted by lower bound ``b_lo``, with ``b_hi``.

    A position delete applies when delete.seq >= data.seq, an equality
    delete when > (spec rule)."""

    __slots__ = ("manifests", "rec_man", "rec_row", "seq", "is_eq",
                 "scope_ids", "path_keys", "path_offs", "path_recs", "pos",
                 "eq", "has_global", "b_scope", "b_offs", "b_lo", "b_hi",
                 "b_recs")

    def __init__(self, manifests: Sequence[ManifestColumns]):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        self.manifests = list(manifests)
        self.scope_ids: Dict[Optional[tuple], int] = {None: 0}
        ex = [_delete_rows(cols) for cols in self.manifests]
        scope = np.concatenate([np.zeros(0, np.int64)] + [
            np.array([self.scope_ids.setdefault(k, len(self.scope_ids))
                      for k in e[2]] + [-1], dtype=np.int64)[e[3]]
            for e in ex])
        self.rec_row = np.concatenate([np.zeros(0, np.int64)]
                                      + [e[0] for e in ex])
        self.path_keys = None
        if self.empty:
            return
        self.rec_man = np.repeat(np.arange(len(ex)), [len(e[0]) for e in ex])
        self.seq = seq = np.concatenate(
            [c.sequence_number[e[0]] for c, e in zip(self.manifests, ex)])
        self.is_eq = is_eq = np.concatenate(
            [c.content[e[0]] == CONTENT_EQUALITY_DELETES
             for c, e in zip(self.manifests, ex)])
        recs = np.arange(len(seq))
        ref, lo, hi = (pa.concat_arrays([e[i] for e in ex]) for i in (1, 4, 5))
        by_path = ref.is_valid().to_numpy(zero_copy_only=False)
        if by_path.any():
            enc = ref.dictionary_encode()
            self.path_keys = enc.dictionary
            self.path_offs, _, self.path_recs = _csr(
                pc.fill_null(enc.indices, 0).to_numpy()[by_path],
                recs[by_path], recs[by_path], len(enc.dictionary))
        bounded = (~by_path & ~is_eq
                   & pc.and_(lo.is_valid(), hi.is_valid()).to_numpy(
                       zero_copy_only=False))
        n_scopes = len(self.scope_ids)
        self.pos, self.eq = (
            _csr(scope[m], seq[m], recs[m], n_scopes)
            for m in (~by_path & ~bounded & ~is_eq, ~by_path & is_eq))
        mask = pa.array(bounded)
        lo, hi = lo.filter(mask), hi.filter(mask)
        o = pc.sort_indices(pa.table({"s": scope[bounded], "lo": lo}),
                            sort_keys=[("s", "ascending"), ("lo", "ascending")])
        self.b_lo, self.b_hi = lo.take(o), hi.take(o)
        o = o.to_numpy()
        self.b_scope, self.b_recs = scope[bounded][o], recs[bounded][o]
        self.b_offs = np.zeros(n_scopes + 1, dtype=np.int64)
        np.cumsum(np.bincount(self.b_scope, minlength=n_scopes),
                  out=self.b_offs[1:])
        self.has_global = bool(self.pos[0][1] or self.eq[0][1]
                               or self.b_offs[1])

    @staticmethod
    def _file(src) -> DataFile:
        # lite: the read path never consults a delete file's stat maps
        return src[0].data_file_lite(src[1])

    @property
    def empty(self) -> bool:
        return not len(self.rec_row)

    def match_many(self, parts: Sequence[tuple]) -> List[Optional[list]]:
        """Delete attachment: per ``(cols, idx)`` pair (a data manifest and
        its ascending survivors) a list aligned with ``idx`` of None or an
        INTERNED ``(pos_srcs, eq_srcs)`` tuple of ``(cols, row)`` sources
        (``_file`` materializes one), or None when nothing applies. All
        survivors go through one set of array joins: ``index_in`` plus a
        CSR expansion for paths, one seq cut per distinct (scope, data
        seq), ``_stab`` for bounds."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        idxs = [np.asarray(idx, dtype=np.int64) for _cols, idx in parts]
        n = sum(map(len, idxs))
        if n == 0 or self.empty:
            return [None] * len(parts)
        q = np.concatenate([cols.sequence_number[idx]
                            for (cols, _i), idx in zip(parts, idxs)])
        hits = []                           # (survivor, rec) arrays
        paths = None
        if self.path_keys is not None or len(self.b_recs):
            paths = _norm_paths(pa.chunked_array(
                [_take(cols.strings("file_path"), idx)
                 for (cols, _i), idx in zip(parts, idxs)], pa.string()))
        if self.path_keys is not None:
            k = pc.fill_null(pc.index_in(paths, value_set=self.path_keys),
                             -1).to_numpy(zero_copy_only=False)
            j = np.nonzero(k >= 0)[0]
            j, at = _expand(j, self.path_offs[k[j]], self.path_offs[k[j] + 1])
            hits.append((j, self.path_recs[at]))
        # (survivor, scope) pairs: every survivor in the global scope,
        # the ones whose (spec_id, partition) keys one in its own
        sj = np.arange(n if self.has_global else 0)
        ss = np.zeros(len(sj), dtype=np.int64)
        if len(self.scope_ids) > 1:
            psid = np.concatenate([self._scopes(cols, idx)
                                   for (cols, _i), idx in zip(parts, idxs)])
            pj = np.nonzero(psid >= 0)[0]
            sj, ss = np.concatenate((sj, pj)), np.concatenate((ss, psid[pj]))
        uniq, inv = _unique_rows(np.column_stack((ss, q[sj])))
        for (offs, seqs, recs), side in ((self.pos, "left"),
                                        (self.eq, "right")):
            starts = np.array(
                [offs[s] + np.searchsorted(seqs[offs[s]:offs[s + 1]], v,
                                           side=side)
                 for s, v in uniq.tolist()], dtype=np.int64)
            j, at = _expand(sj, starts[inv], offs[ss + 1])
            hits.append((j, recs[at]))
        bj = np.nonzero(self.b_offs[ss + 1] > self.b_offs[ss])[0]
        if len(bj):
            hits.append(self._stab(paths, sj[bj], ss[bj]))
        j, r = (np.concatenate(x) for x in zip(*hits))
        keep = np.where(self.is_eq[r], self.seq[r] > q[j], self.seq[r] >= q[j])
        sets, pick = self._intern(n, j[keep], r[keep])
        return [list(map(sets.__getitem__, got.tolist())) if got.any()
                else None for got in np.split(
                    pick, np.cumsum([len(i) for i in idxs])[:-1])]

    def _scopes(self, cols: "ManifestColumns", idx):
        """Each survivor's partition scope id, -1 where none; the
        canonical key computes once per distinct (spec_id, partition)."""
        import numpy as np
        codes, parts = cols.partition_groups()
        uniq, inv = _unique_rows(np.column_stack((cols.spec_id[idx],
                                                  codes[idx])))
        return np.array([self.scope_ids.get((spec, _part_key(parts[c])), -1)
                         if parts[c] else -1
                         for spec, c in uniq.tolist()], dtype=np.int64)[inv]

    def _stab(self, paths, sj, ss) -> tuple:
        """``(survivor, rec)`` pairs of bounded recs whose range holds the
        survivor's path: one Arrow ``rank`` makes every comparison an
        integer one (scope s shifted by s * big), then a ``searchsorted``
        in the lower bounds and a vectorized walk back while the running
        max of the upper bounds still reaches the path."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        nb = len(self.b_recs)
        rank = pc.rank(pa.chunked_array(
            [self.b_lo, self.b_hi, *_take(paths, sj).chunks], pa.string()),
            tiebreaker="dense").to_numpy().astype(np.int64)
        big = int(rank.max()) + 1
        hi = rank[nb:2 * nb] + self.b_scope * big
        p = rank[2 * nb:] + ss * big
        run_max = np.maximum.accumulate(hi)
        k = np.searchsorted(rank[:nb] + self.b_scope * big, p,
                            side="right") - 1
        first = self.b_offs[ss]
        out_j, out_r = [], []
        live = np.arange(len(sj))
        while len(live):
            live = live[k[live] >= first[live]]
            live = live[run_max[k[live]] >= p[live]]
            hit = live[hi[k[live]] >= p[live]]
            out_j.append(sj[hit])
            out_r.append(self.b_recs[k[hit]])
            k[live] -= 1
        return np.concatenate(out_j), np.concatenate(out_r)

    def _intern(self, n: int, j, r) -> tuple:
        """``(sets, pick)``: survivor k's ``(pos_srcs, eq_srcs)`` is
        ``sets[pick[k]]`` (None at 0). Sources build only for matched
        recs; position and equality parts intern apart, then their pairs."""
        import numpy as np
        seen = np.zeros(len(self.rec_row), dtype=bool)
        seen[r] = True
        recs = np.nonzero(seen)[0]
        r = (np.cumsum(seen) - 1)[r]        # index into srcs
        srcs = np.fromiter(
            zip(map(self.manifests.__getitem__, self.rec_man[recs].tolist()),
                self.rec_row[recs].tolist()), dtype=object, count=len(recs))
        o = np.argsort(j * len(recs) + r)
        j, r = j[o], r[o]
        eq = self.is_eq[recs[r]]
        ptup, ptid = _tuples(srcs, n, j[~eq], r[~eq])
        etup, etid = _tuples(srcs, n, j[eq], r[eq])
        sel = np.nonzero(ptid | etid)[0]
        ids, inv = _unique_rows(np.column_stack((ptid[sel], etid[sel])))
        sets: list = [None]
        sets.extend(zip(map(ptup.__getitem__, ids[:, 0].tolist()),
                        map(etup.__getitem__, ids[:, 1].tolist())))
        pick = np.zeros(n, dtype=np.int64)
        pick[sel] = 1 + inv
        return sets, pick


def _tuples(srcs, n: int, j, r) -> tuple:
    """``(tuples, tid)``: one tuple of ``srcs`` per distinct rec set of the
    ``(survivor, rec)`` pairs (sorted by both), each survivor's index into
    it (0: empty). Sets of one size dedupe as rows, built by ``zip``."""
    import numpy as np
    count = np.bincount(j, minlength=n)
    start = np.cumsum(count) - count
    tuples: list = [()]
    tid = np.zeros(n, dtype=np.int64)
    for a in np.unique(count[count > 0]).tolist():
        sel = np.nonzero(count == a)[0]
        ids, inv = _unique_rows(r[start[sel][:, None] + np.arange(a)])
        tid[sel] = len(tuples) + inv
        tuples.extend(zip(*(srcs[ids[:, c]] for c in range(a))))
    return tuples, tid


def _delete_set_bytes(deletes: List["DataFile"]) -> int:
    """On-disk size of a delete set — known from the manifests, no IO."""
    total = 0
    for d in deletes:
        if d.file_format == "puffin" and d.content_size_in_bytes:
            total += d.content_size_in_bytes
        else:
            total += d.file_size_in_bytes or 0
    return total


def _executor_read_threshold(spark: SparkSession) -> int:
    """File count above which a spark-native group routes through the
    executor-side FileIO read plane (see to_df). Env
    ICEBERG_SPARK_EXECUTOR_READ_FILES overrides (0 disables); the default
    auto-enables at 10k files ONLY on local[*] masters, where executor
    and driver provably share the filesystem — on a real cluster the
    operator must opt in (shared FS / NFS mounts)."""
    env = os.environ.get("ICEBERG_SPARK_EXECUTOR_READ_FILES")
    if env is not None:
        try:
            n = int(env)
            return n if n > 0 else (1 << 62)
        except ValueError:
            pass
    try:
        if spark.sparkContext.master.startswith("local"):
            return 10000
    except Exception:
        pass
    return 1 << 62


def _broadcast_threshold(spark: SparkSession) -> int:
    try:
        # conf may carry a unit suffix (e.g. "10m"); fall back on parse issues
        s = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")).lower()
        if s.endswith("k"):
            n = int(s[:-1]) * 1024
        elif s.endswith("m"):
            n = int(s[:-1]) * 1024 * 1024
        elif s.endswith("g"):
            n = int(s[:-1]) * 1024 * 1024 * 1024
        else:
            n = int(s.rstrip("b"))
        return n if n > 0 else 32 * 1024 * 1024
    except Exception:
        return 32 * 1024 * 1024


def _maybe_broadcast(spark: SparkSession, df: DataFrame, on_disk_bytes: int):
    """Broadcast iff the delete set is provably small. Parquet delete files
    expand in memory (dictionary/RLE undone), so gate at threshold/4 of the
    on-disk bytes we already know from the manifests. A merge-heavy table can
    accumulate delete files past the 8 GB broadcast hard limit — those take
    the shuffle anti-join path (AQE may still pick a broadcast after its own
    runtime size estimate, which is the right call to delegate)."""
    if on_disk_bytes * 4 <= _broadcast_threshold(spark):
        return F.broadcast(df)
    return df


class _DeleteDFCache:
    """Per-scan delete-DataFrame memo (counterpart of the reference's
    CachingDeleteFileLoader, arrow/caching_delete_file_loader.rs:265): each
    distinct delete file set becomes a DataFrame once per scan; when a second
    task group references the same set, the DF is persisted so executors read
    the (small) delete files once instead of once per union branch."""

    def __init__(self):
        self._memo: Dict[Tuple, DataFrame] = {}
        self._cached: set = set()

    def get(self, key: Tuple, build) -> DataFrame:
        df = self._memo.get(key)
        if df is None:
            df = build()
            self._memo[key] = df
        elif key not in self._cached:
            df.cache()   # marks the shared plan; first action materializes
            self._cached.add(key)
        return df


def _dv_positions(path: str, offset: int, length: int, mtime_ns: int):
    """Decoded deletion-vector positions, cached ACROSS scans (the per-scan
    _DeleteDFCache can't help a second query on the same table) under the
    blob file's FileIO stamp, so a rewritten puffin file invalidates."""
    from .puffin import BlobMetadata, deserialize_dv, read_blob

    def decode():
        return deserialize_dv(read_blob(path, BlobMetadata(
            type="deletion-vector-v1", fields=[], snapshot_id=0,
            sequence_number=0, offset=offset, length=length)))
    return _manifest_cache.load("dv", path, mtime_ns, (offset, length),
                                decode, lambda v: v.nbytes)


_DV_DRIVER_DECODE_BYTES = 1 << 20  # 1 MiB of blobs ≈ a few hundred k positions


def dv_pairs_df(spark: SparkSession, dv_files: List["DataFile"]) -> DataFrame:
    """Puffin deletion-vector entries -> (_del_file, _del_pos) DataFrame.

    Small blob total: decode on the driver through the cross-scan LRU and
    ship via Arrow (fast path for interactive reads). Large: ship only the
    blob DESCRIPTORS and decode inside mapInPandas — positions never touch
    the driver, and decode parallelism scales with executors (the shape a
    1000-executor cluster needs when thousands of files carry DVs)."""
    total = sum(d.content_size_in_bytes or 0 for d in dv_files)
    # non-spark_native stores always decode on the driver: executor Python
    # workers can't resolve dynamically registered FileIO backends
    if (total <= _DV_DRIVER_DECODE_BYTES
            or not spark_native_path(dv_files[0].file_path)):
        import numpy as np
        import pandas as pd
        refs, parts = [], []
        # one stamp per puffin file: many DVs share one, and a remote
        # FileIO pays a round-trip per stamp
        stamps = {p: file_io_for(p).mtime_ns(p)
                  for p in {d.file_path for d in dv_files}}
        for d in dv_files:
            pos = _dv_positions(d.file_path, d.content_offset,
                                d.content_size_in_bytes, stamps[d.file_path])
            refs.extend([d.referenced_data_file] * len(pos))
            parts.append(pos)
        allpos = np.concatenate(parts) if parts else np.array([], dtype="int64")
        return spark.createDataFrame(
            pd.DataFrame({"_del_file": pd.Series(refs, dtype="object"),
                          "_del_pos": allpos.astype("int64")}),
            schema="_del_file string, _del_pos long")

    desc = spark.createDataFrame(
        [(d.file_path, int(d.content_offset), int(d.content_size_in_bytes),
          d.referenced_data_file) for d in dv_files],
        "p string, o long, l long, ref string").repartition(
            min(len(dv_files), 64))

    def decode(batches):
        import pandas as pd
        from iceberg_rust_spark.sources.puffin import (BlobMetadata,
                                                       deserialize_dv,
                                                       read_blob)
        for pdf in batches:
            for p, o, l, ref in pdf.itertuples(index=False):
                blob = read_blob(p, BlobMetadata(
                    type="deletion-vector-v1", fields=[], snapshot_id=0,
                    sequence_number=0, offset=o, length=l))
                pos = deserialize_dv(blob)
                yield pd.DataFrame({"_del_file": [ref] * len(pos),
                                    "_del_pos": pos.astype("int64")})

    return desc.mapInPandas(decode, "_del_file string, _del_pos long")


def cached_parquet_relation(spark: SparkSession, files: Sequence[str],
                            read_schema=None) -> DataFrame:
    """Memoized ``spark.read[.schema].parquet(*files)`` per session.

    DataFrameReader.parquet resolves the relation EAGERLY (file-status
    listing + source resolution in the JVM) — measured ~0.25 s of driver
    wall for an 83-file group on this box, repeated identically on every
    scan of the same file set. Iceberg data/delete files are immutable and
    never reused at the same path (UUID names), so the analyzed relation is
    content-addressed by its path list: memoize it, LRU-capped, exactly
    like _pos_parquet_pairs_df's delete-relation cache. The memo lives on
    the session (session_memo) and holds lazy PLANS, never results — every
    action still reads the parquet inputs."""
    memo = session_memo(spark, "parquet_relation")
    if read_schema is None:
        skey = None
    elif isinstance(read_schema, str):
        skey = read_schema
    else:
        skey = read_schema.json()
    key = (tuple(files), skey)
    got = memo.get(key)
    if got is None:
        reader = spark.read if read_schema is None \
            else spark.read.schema(read_schema)
        got = memo.put(key, reader.parquet(*files))
    return got


# spec-fixed layout of positional-delete parquet files (field ids
# 2147483546/2147483545); passing it explicitly skips Spark's per-read
# footer schema inference, and delete files never carry other columns we
# read (the optional `row` struct is projected away regardless)
_POS_DELETE_READ_SCHEMA = "file_path string, pos bigint"


def _pos_parquet_pairs_df(spark: SparkSession,
                          paths: Sequence[str]) -> DataFrame:
    """(_del_file, _del_pos) DataFrame over parquet pos-delete files,
    memoized per session keyed by (paths, mtimes): delete files are
    immutable once written (a rewrite changes mtime, like the manifest
    caches), so re-resolving the relation on every scan of the same table
    only repeated driver-side source resolution (~60ms of py4j per scan).
    The LRU cap keeps a long session over many delete rewrites from pinning
    every historical relation (each holds a JVM logical plan)."""
    memo = session_memo(spark, "pos_delete_pairs")
    key = (tuple(paths),
           tuple(file_io_for(p).mtime_ns(p) for p in paths))
    localized = bool(paths) and not spark_native_path(paths[0])
    got = memo.get(key)
    if got is not None:
        if localized:
            # the memoized relation reads local mirror copies, and the
            # mirror is LRU-capped: re-run localize_paths on every hit so
            # an evicted copy is re-fetched (and recency refreshed) before
            # the relation's next action — a no-op when the files are
            # still present (stat per file), a re-download when not
            localize_paths(list(paths))
        return got
    read_paths = list(paths)
    if localized:
        read_paths = localize_paths(read_paths)
    return memo.put(key, (
        spark.read.schema(_POS_DELETE_READ_SCHEMA).parquet(*read_paths)
        .select(F.col("file_path").alias("_del_file"),
                F.col("pos").alias("_del_pos"))))


def _pos_delete_df(spark: SparkSession, pos_deletes: List["DataFile"],
                   del_cache: _DeleteDFCache) -> Tuple[DataFrame, int]:
    """Shared (file, pos) delete-set builder for the drop and flag paths:
    parquet delete files carry (file_path string, pos long) rows per the
    spec; Puffin deletion-vector blobs decode through dv_pairs_df
    (size-gated driver LRU vs executor-side). Returns (df, on-disk bytes)
    so callers can size the broadcast decision identically."""
    parquet_paths = sorted({d.file_path for d in pos_deletes
                            if d.file_format == "parquet"})
    dv_files = sorted((d for d in pos_deletes if d.file_format == "puffin"),
                      key=lambda d: (d.file_path, d.content_offset or 0))

    def build() -> DataFrame:
        parts = []
        if parquet_paths:
            parts.append(_pos_parquet_pairs_df(spark, parquet_paths))
        if dv_files:
            parts.append(dv_pairs_df(spark, dv_files))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    key = ("pos", tuple(parquet_paths),
           tuple((d.file_path, d.content_offset) for d in dv_files))
    return del_cache.get(key, build), _delete_set_bytes(pos_deletes)


def _apply_pos_deletes(spark: SparkSession, gdf: DataFrame,
                       pos_deletes: List["DataFile"],
                       del_cache: _DeleteDFCache) -> DataFrame:
    """Positional deletes: anti-join on (file, pos). Broadcast only when
    the manifests prove the set is small."""
    del_df, nbytes = _pos_delete_df(spark, pos_deletes, del_cache)
    del_df = _maybe_broadcast(spark, del_df, nbytes)
    return gdf.join(
        del_df,
        on=[_norm_path(gdf["_file"]) == _norm_path(del_df["_del_file"]),
            gdf["_pos"] == del_df["_del_pos"]],
        how="left_anti")


def _flag_pos_deletes(spark: SparkSession, gdf: DataFrame,
                      pos_deletes: List["DataFile"],
                      del_cache: _DeleteDFCache) -> DataFrame:
    """`_deleted`-mode twin of _apply_pos_deletes: a left OUTER join marks
    hit rows true instead of dropping them (metadata_columns.rs:39 — the
    reserved _deleted column). The delete set is deduped on (file, pos)
    first so the outer join cannot fan rows out when the same position is
    deleted by several delete files."""
    del_df, nbytes = _pos_delete_df(spark, pos_deletes, del_cache)
    del_df = del_df.dropDuplicates(["_del_file", "_del_pos"]) \
        .withColumn("_del_hit", F.lit(True))
    del_df = _maybe_broadcast(spark, del_df, nbytes)
    joined = gdf.join(
        del_df,
        on=[_norm_path(gdf["_file"]) == _norm_path(del_df["_del_file"]),
            gdf["_pos"] == del_df["_del_pos"]],
        how="left")
    return joined.withColumn(
        "_deleted", F.coalesce(F.col("_del_hit"), F.lit(False))) \
        .drop("_del_file", "_del_pos", "_del_hit")


def _flag_eq_deletes(spark: SparkSession, gdf: DataFrame,
                     eq_deletes: List["DataFile"], schema: Schema,
                     del_cache: _DeleteDFCache) -> DataFrame:
    """`_deleted`-mode twin of _apply_eq_deletes: OR each equality-column
    group's hits into the existing _deleted flag via left outer joins.
    Null-unsafe join keys preserve Iceberg's null-keep semantics — a data
    row with NULL in an equality column never matches, so it stays
    _deleted=false (caching_delete_file_loader.rs:422-426)."""
    out = gdf
    for cols, del_df in _eq_delete_groups(spark, eq_deletes, schema,
                                          del_cache):
        del_df = del_df.withColumn("_eq_hit", F.lit(True))
        out = out.join(del_df, on=list(cols), how="left") \
            .withColumn("_deleted",
                        F.col("_deleted")
                        | F.coalesce(F.col("_eq_hit"), F.lit(False))) \
            .drop("_eq_hit")
    return out


def _eq_delete_groups(spark: SparkSession, eq_deletes: List["DataFile"],
                      schema: Schema, del_cache: _DeleteDFCache):
    """Shared per-equality-column-group delete sets for the drop and flag
    paths: distinct key tuples per group, broadcast when the manifests
    prove them small. Yields (cols, del_df)."""
    by_cols: Dict[Tuple[str, ...], List["DataFile"]] = {}
    for d in eq_deletes:
        cols = tuple(sorted(_eq_cols(d, schema)))
        by_cols.setdefault(cols, []).append(d)
    for cols, dfiles in by_cols.items():
        paths = tuple(sorted({d.file_path for d in dfiles}))
        read_paths = (paths if spark_native_path(paths[0])
                      else tuple(localize_paths(list(paths))))
        del_df = del_cache.get(
            ("eq", cols, paths),
            lambda rp=read_paths: spark.read.parquet(*rp)
            .select(*cols).dropDuplicates())
        yield cols, _maybe_broadcast(spark, del_df, _delete_set_bytes(dfiles))


def scan_execution_metrics(df: DataFrame) -> Dict[str, int]:
    """Execution-side scan metrics, the counterpart of the reference's
    ScanMetrics/CountingFileRead (arrow/scan_metrics.rs:30-73 wraps every
    FileRead to count bytes fetched): Spark's FileSourceScanExec publishes
    the same observability as SQLMetrics, so after an action this walks
    the executed plan (descending into AQE re-plans) and aggregates every
    scan node into {bytes_scanned, files_scanned, rows_scanned,
    scan_time_ms}. Call AFTER an action that ran THIS DataFrame's own plan
    (collect/write/toPandas) — derived plans like df.count() execute a new
    queryExecution and leave this one's metrics at zero. Driver-side plan
    traversal only; nothing touches executors."""
    totals = {"bytes_scanned": 0, "files_scanned": 0,
              "rows_scanned": 0, "scan_time_ms": 0}
    seen = set()

    def metric_map(node):
        out = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().value()
        return out

    def walk(node):
        oid = node.id() if hasattr(node, "id") else id(node)
        if oid in seen:
            return
        seen.add(oid)
        cls = node.getClass().getSimpleName()
        if cls in ("FileSourceScanExec", "BatchScanExec"):
            m = metric_map(node)
            totals["bytes_scanned"] += int(m.get("filesSize", 0))
            totals["files_scanned"] += int(m.get("numFiles", 0))
            totals["rows_scanned"] += int(m.get("numOutputRows", 0))
            totals["scan_time_ms"] += int(m.get("scanTime", 0))
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return totals


def _norm_path(c):
    return F.regexp_replace(c, "^file:/*", "/")


# characters that provably round-trip Spark's URI spelling unchanged
# (RFC 3986 unreserved + the path/scheme chars Hadoop leaves literal —
# '=' and '~' verified empirically against _metadata.file_path)
_URI_PLAIN = None


def _paths_need_decode(paths) -> bool:
    """True if ANY path could be spelled differently by Spark's URI
    encoding. When all of a scan's file paths are plain (our own writer's
    layout unless a partition VALUE carries special characters), the
    per-row url_decode is an identity and is skipped — it measured ~0.2-0.4s
    per MOR query at sf0.1 because _file feeds the delete anti-join key."""
    global _URI_PLAIN
    if _URI_PLAIN is None:
        import re
        _URI_PLAIN = re.compile(r"^[A-Za-z0-9/:=.\-_~]*$")
    return not all(_URI_PLAIN.match(p) for p in paths)


def _decode_file_uri(c):
    """Spark's ``_metadata.file_path`` / ``input_file_name()`` return the
    URI spelling of a path (space -> %20, %% -> %25, ...); manifests store
    RAW paths. Every `_file` value is decoded back to the raw spelling at
    its production site so path equality against manifest-derived strings
    (delete-index bounds, referenced_data_file maps, row-lineage bases,
    commit validation targets) holds for paths with special characters.
    ``+`` is URI-path-legal and arrives literal, so it is pre-escaped to
    survive url_decode's form-decoding (+ -> space)."""
    return F.url_decode(F.regexp_replace(c, r"\+", "%2B"))


_FILE_SCHEME_RE = __import__("re").compile(r"^file:/*")


def _norm_path_py(p: str) -> str:
    """Python twin of _norm_path for driver-side map keys (the delete
    index normalizes whole arrays with ``_norm_paths``). The startswith
    guard keeps plain paths — the overwhelming case — off the regex."""
    if p.startswith("file:"):
        return _FILE_SCHEME_RE.sub("/", p)
    return p


def _apply_eq_deletes(spark: SparkSession, gdf: DataFrame,
                      eq_deletes: List[DataFile], schema: Schema,
                      del_cache: _DeleteDFCache) -> DataFrame:
    """Equality deletes as left_anti joins. Spark's null-unsafe join keys keep
    data rows whose equality column is NULL — exactly Iceberg's null-keep
    semantics (caching_delete_file_loader.rs:422-426)."""
    out = gdf
    for cols, del_df in _eq_delete_groups(spark, eq_deletes, schema,
                                          del_cache):
        out = out.join(del_df, on=list(cols), how="left_anti")
    return out


def _eq_cols(d: DataFile, schema: Schema) -> List[str]:
    names = []
    for fid in d.equality_ids:
        f = schema.field_by_id(fid)
        if f is not None:
            names.append(f.name)
    return names


def _project_nested(expr, old_type, new_type, path: str):
    """Recursive field-id projection INSIDE nested types
    (record_batch_transformer.rs handles nesting the same way): struct
    children are matched by field id — renamed/promoted/added/dropped nested
    fields resolve correctly where a bare Spark struct cast would match by
    POSITION. Lists/maps recurse through transform()/map lambdas (codegen'd,
    no Python)."""
    from .types import ListType, MapType, StructType as IceStruct
    if isinstance(new_type, IceStruct):
        old_by_id = ({f.field_id: f for f in old_type.fields}
                     if isinstance(old_type, IceStruct) else {})
        children = []
        for nf in new_type.fields:
            of = old_by_id.get(nf.field_id)
            tgt = type_to_spark(nf.field_type)
            if of is not None:
                children.append(_project_nested(
                    expr.getField(of.name), of.field_type, nf.field_type,
                    f"{path}.{nf.name}").alias(nf.name))
            elif nf.initial_default is not None:
                children.append(F.lit(nf.initial_default).cast(tgt)
                                .alias(nf.name))
            elif nf.required:
                raise ValueError(
                    f"required nested field {path}.{nf.name} absent from "
                    f"file schema and has no default")
            else:
                children.append(F.lit(None).cast(tgt).alias(nf.name))
        # a NULL struct must stay NULL, not become a struct of NULLs
        return F.when(expr.isNull(), F.lit(None).cast(type_to_spark(new_type))) \
            .otherwise(F.struct(*children))
    if isinstance(new_type, ListType) and isinstance(old_type, ListType):
        return F.transform(expr, lambda x: _project_nested(
            x, old_type.element_type, new_type.element_type, f"{path}[]"))
    if isinstance(new_type, MapType) and isinstance(old_type, MapType):
        return F.map_from_arrays(
            F.transform(F.map_keys(expr), lambda k: _project_nested(
                k, old_type.key_type, new_type.key_type, f"{path}{{k}}")),
            F.transform(F.map_values(expr), lambda v: _project_nested(
                v, old_type.value_type, new_type.value_type, f"{path}{{v}}")))
    return expr.cast(type_to_spark(new_type))


def _project_to_schema(gdf: DataFrame, file_schema: Schema, current: Schema,
                       keep_meta: bool = False,
                       keep_deleted: bool = False) -> DataFrame:
    """4-rule field-id projection: same id present -> use (rename+promote);
    promotable -> cast; initial_default -> constant; else NULL (error if
    required). Recurses into structs/lists/maps by field id. Mirrors
    record_batch_transformer.rs:697-749 behavior.

    Fast path: when every current field resolves to a same-name, same-type
    file column (no evolution — the overwhelmingly common scan), the
    projection is a plain name select. That's ONE py4j call instead of a
    per-column expression-tree build, which otherwise dominates driver-side
    planning wall (hundreds of gateway round-trips per scan)."""
    gcols = set(gdf.columns)
    identity = True
    for f in current.fields:
        old = file_schema.field_by_id(f.field_id)
        if (old is None or old.name != f.name or old.name not in gcols
                or old.field_type != f.field_type):
            identity = False
            break
    if identity:
        names = [sql_ident(f.name) for f in current.fields]
        if keep_meta:
            names += ["_file", "_pos"]
            names += [x for x in ("_spec_id", "_partition", "_row_id",
                                  "_last_updated_sequence_number")
                      if x in gcols]
        if keep_deleted and "_deleted" in gcols:
            names.append("_deleted")
        return gdf.select(*names)
    cols = []
    for f in current.fields:
        old = file_schema.field_by_id(f.field_id)
        tgt = type_to_spark(f.field_type)
        if old is not None and old.name in gdf.columns:
            cols.append(_project_nested(F.col(sql_ident(old.name)),
                                        old.field_type,
                                        f.field_type, f.name).alias(f.name))
        elif f.initial_default is not None:
            cols.append(F.lit(f.initial_default).cast(tgt).alias(f.name))
        elif f.required:
            raise ValueError(f"required field {f.name} absent from file schema "
                             f"{file_schema.schema_id} and has no default")
        else:
            cols.append(F.lit(None).cast(tgt).alias(f.name))
    if keep_meta:
        cols += [F.col("_file"), F.col("_pos")]
        for extra in ("_spec_id", "_partition", "_row_id",
                      "_last_updated_sequence_number"):
            if extra in gdf.columns:
                cols.append(F.col(extra))
    if keep_deleted and "_deleted" in gdf.columns:
        cols.append(F.col("_deleted"))
    return gdf.select(*cols)
