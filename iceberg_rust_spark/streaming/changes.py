"""CDC changelog scan: row-level changes between snapshots.

The reference RESERVES the change-tracking columns `_change_type`,
`_change_ordinal`, `_commit_snapshot_id` (metadata_columns.rs:54-60) but
implements no CDC scan; this module does, from the same snapshot/manifest
machinery:

- append snapshot      -> added files' rows as ``insert``
- MOR delete snapshot  -> deleted rows reconstructed from the new positional
  / deletion-vector / equality delete files as ``delete``
- COW delete/overwrite -> removed files' rows as ``delete`` plus added
  files' rows as ``insert`` (file-granularity changelog; the net effect is
  exact, matching what Iceberg's Spark changelog procedure emits for
  overwrites)

Each emitted row carries (_change_type, _change_ordinal,
_commit_snapshot_id). Work is per-snapshot file-set diffs — metadata on the
driver, reads on the cluster.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Set

from pyspark.sql import DataFrame, SparkSession

from ..session import local_df, session_memo
from pyspark.sql import functions as F

from ..sources.manifest import (CONTENT_DATA, CONTENT_EQUALITY_DELETES,
                                CONTENT_POSITION_DELETES, DataFile)
from ..sources.scan import (_decode_file_uri, _delete_set_bytes,
                            _paths_need_decode,
                            _maybe_broadcast, _norm_path,
                            _norm_path_py, load_manifest, load_manifest_list)
from ..sources.table import Table
from ..sources.types import sql_ident

INSERT = "insert"
DELETE = "delete"

# changes_df emits one scan per (change-type, ordinal) group up to this
# many groups (literal stamps, the cheapest shape for shallow histories);
# past it, reads batch into O(1) merged scans with broadcast stamp maps —
# the shape that keeps deep-history plans from growing O(snapshots)
_MERGE_SCAN_GROUPS = 8


def _read_parquet_raw(spark: SparkSession, paths: List[str]) -> DataFrame:
    """Content-only parquet read of manifest-listed URIs through the FileIO
    data plane: non-spark_native schemes (memory://, registered shims) are
    localized into the mirror first, so delete-file reads work on any store
    — no ``_file`` remap is needed because callers never look at file paths
    of the delete files themselves."""
    from ..sources.io import localize_paths, spark_native_path
    read_paths = sorted(paths)
    if read_paths and not spark_native_path(read_paths[0]):
        read_paths = localize_paths(read_paths)
    from ..sources.scan import cached_parquet_relation
    return cached_parquet_relation(spark, read_paths)


def _file_sets(table: Table, snapshot_id: Optional[int],
               exclude_added_in: Optional[int] = None):
    """(data files by path, delete files by path) at a snapshot.

    ``exclude_added_in`` reconstructs a snapshot's PRE-image from its own
    manifests by dropping entries originally added in that snapshot (entry
    snapshot ids survive carry-forward manifest rewrites) — used when the
    parent snapshot was removed by expire_snapshots. Files the snapshot
    REMOVED are unrecoverable then (their entries are gone and the physical
    files may be GC'd), so an expired-parent COW rewrite emits only its
    inserts; appends and MOR/DV/eq deletes reconstruct exactly."""
    data: Dict[str, DataFile] = {}
    dels: Dict[str, DataFile] = {}
    if snapshot_id is None:
        return data, dels
    snap = table.metadata.snapshot_by_id(snapshot_id)
    if snap is None:
        return data, dels
    manifests = load_manifest_list(snap.manifest_list)
    if len(manifests) > 4:
        # concurrent manifest fetch, mirroring plan_files: manifest parses
        # are IO-bound and served by the mtime-keyed object cache on repeat
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(16, len(manifests))) as ex:
            loaded = list(ex.map(lambda m: load_manifest(m.manifest_path),
                                 manifests))
    else:
        loaded = [load_manifest(m.manifest_path) for m in manifests]
    for entries in loaded:
        for e in entries:
            if exclude_added_in is not None and \
                    e.snapshot_id == exclude_added_in:
                continue
            f = e.data_file
            if f.content == CONTENT_DATA:
                data[f.file_path] = f
            else:
                # DVs share one puffin path across blobs: key by (path, ref)
                dels[f"{f.file_path}#{f.referenced_data_file or ''}"] = f
    return data, dels


def _ancestor_chain(md, head: Optional[int]) -> List:
    """Snapshots on ``head``'s parent-chain ancestry, oldest first. The walk
    stops at the oldest RETAINED ancestor — a parent removed by
    expire_snapshots simply ends the chain instead of crashing."""
    chain = []
    while head is not None:
        snap = md.snapshot_by_id(head)
        if snap is None:
            break
        chain.append(snap)
        head = snap.parent_snapshot_id
    chain.reverse()
    return chain


def changes_df(spark: SparkSession, table: Table,
               from_snapshot_id: Optional[int] = None,
               to_snapshot_id: Optional[int] = None) -> DataFrame:
    """Changelog rows for every snapshot in (from, to]; from=None starts at
    the table's first snapshot (its rows emit as inserts)."""
    md = table.metadata
    schema = md.schema()
    spark_schema = schema.to_spark()
    names = [f.name for f in schema.fields]

    # restrict to the ancestor chain of the effective head: a side-branch
    # (WAP) snapshot can hold a sequence number inside (from, to] without
    # ever being part of main's history — staged-but-unpublished commits
    # must not surface in the changelog
    head = to_snapshot_id
    if head is None:
        ref = md.refs.get("main")
        head = ref.snapshot_id if ref is not None else md.current_snapshot_id
    snaps = _ancestor_chain(md, head)
    if from_snapshot_id is not None:
        from_snap = md.snapshot_by_id(from_snapshot_id)
        # an expired 'from' (e.g. a parent removed by expire_snapshots) means
        # everything retained is newer than it: same as from=None, which only
        # emits the snapshots still in metadata
        if from_snap is not None:
            from_seq = from_snap.sequence_number
            snaps = [s for s in snaps if s.sequence_number > from_seq]
    if to_snapshot_id is not None:
        to_snap = md.snapshot_by_id(to_snapshot_id)
        if to_snap is None:
            raise ValueError(
                f"to_snapshot_id {to_snapshot_id} does not resolve (expired "
                "or never existed); the requested history is gone")
        snaps = [s for s in snaps if s.sequence_number <= to_snap.sequence_number]

    # write-schema id of every data file the loop below may read: files
    # read with the schema they were written with, then projected to the
    # current schema by field id (a renamed column keeps its values)
    schema_of: Dict[str, Optional[int]] = {}

    def read_files(paths: List[str], with_meta: bool = False) -> DataFrame:
        from ..sources.io import (localize_paths, mirror_remap_pattern,
                                  spark_native_path)
        from ..sources.scan import _project_to_schema, cached_parquet_relation
        by_schema: Dict[Optional[int], List[str]] = {}
        for p in paths:
            by_schema.setdefault(schema_of.get(p), []).append(p)
        out = None
        for sid, group in by_schema.items():
            file_schema = next((s for s in md.schemas if s.schema_id == sid),
                               schema)
            read_paths, remap = group, None
            if not spark_native_path(read_paths[0]):
                # FileIO data plane (io.py spark_native): read the
                # localized mirror, report manifest URIs in _cf so delete
                # joins match
                read_paths = localize_paths(read_paths)
                remap = mirror_remap_pattern()
            df = cached_parquet_relation(spark, read_paths,
                                         file_schema.to_spark())
            if with_meta:
                fcol = F.col("_metadata.file_path")
                if _paths_need_decode(read_paths):
                    fcol = _decode_file_uri(fcol)
                if remap is not None:
                    fcol = F.regexp_replace(fcol, remap[0], remap[1])
                df = df.withColumn("_file", F.regexp_replace(
                    fcol, "^file:/*", "/")) \
                    .withColumn("_pos", F.col("_metadata.row_index"))
            df = _project_to_schema(df, file_schema, schema,
                                    keep_meta=with_meta)
            if with_meta:
                df = df.withColumnsRenamed({"_file": "_cf", "_pos": "_cp"})
            out = df if out is None else out.unionByName(df)
        return out

    def stamp(df: DataFrame, change: str, ordinal: int, snap_id: int) -> DataFrame:
        # one selectExpr, not select + 3 withColumn: each Column op is a
        # py4j round-trip (~1.5 ms on this box) and stamp runs per part
        esc = change.replace("'", "''")
        return df.selectExpr(
            *[sql_ident(c) for c in names],
            f"'{esc}' AS _change_type",
            f"CAST({int(ordinal)} AS int) AS _change_ordinal",
            f"CAST({int(snap_id)} AS long) AS _commit_snapshot_id")

    # Deep histories are CDC's real workload, and one Spark scan per
    # (snapshot, change-kind) made the plan O(snapshots) in scan count (24
    # scans on the 3-snapshot bench fixture, ~60 on the x10 deep-history
    # probe). The loop below only DIFFS manifests per ordinal (driver-side
    # metadata, manifest parses served by the mtime-keyed object cache);
    # the actual reads are batched across ordinals afterwards:
    #   - every added/removed file lands in ONE stamped scan, the
    #     (file -> ordinal/type/snapshot) assignment joined in from a
    #     broadcast map keyed on _metadata.file_path
    #   - every pos-delete reconstruction lands in ONE scan of all targeted
    #     files joined against ordinal-tagged (file, pos) pairs
    # Assignment maps are metadata-sized (file-churn count, not rows).
    parts: List[DataFrame] = []
    assigns: List[tuple] = []           # (path, change_type, ordinal, snap)
    pos_pending: List[dict] = []        # pos-delete ordinals awaiting targets
    prev_sets = (None, None, None)      # (snapshot_id, data, dels) memo
    for ordinal, snap in enumerate(snaps):
        parent = snap.parent_snapshot_id
        data_now, dels_now = _file_sets(table, snap.snapshot_id)
        if parent is not None and parent == prev_sets[0]:
            # consecutive chain walk: the parent's sets are the previous
            # iteration's data_now/dels_now — reuse instead of re-walking
            # the parent's manifests (halves driver plan time on deep
            # histories)
            data_prev, dels_prev = prev_sets[1], prev_sets[2]
        elif parent is not None and md.snapshot_by_id(parent) is None:
            # parent expired: rebuild its file sets from THIS snapshot's
            # entries (everything not originally added here) so the batch
            # stays a delta instead of replaying the snapshot's full state
            data_prev, dels_prev = _file_sets(
                table, snap.snapshot_id, exclude_added_in=snap.snapshot_id)
        else:
            data_prev, dels_prev = _file_sets(table, parent)
        prev_sets = (snap.snapshot_id, data_now, dels_now)
        for files in (data_now, data_prev):
            schema_of.update((p, f.schema_id) for p, f in files.items())

        added = [p for p in data_now if p not in data_prev]
        removed = [p for p in data_prev if p not in data_now]
        new_dels = [d for k, d in dels_now.items() if k not in dels_prev]

        for p in added:
            assigns.append((p, INSERT, ordinal, snap.snapshot_id))
        for p in removed:
            assigns.append((p, DELETE, ordinal, snap.snapshot_id))
        if new_dels:
            pos_like = [d for d in new_dels
                        if d.content == CONTENT_POSITION_DELETES]
            eq = [d for d in new_dels if d.content == CONTENT_EQUALITY_DELETES]
            if pos_like:
                # defer: referenced-target resolution batches into ONE job
                # across every delete ordinal after the loop. data_prev is
                # kept per delete ordinal for the intersection — memory is
                # O(delete-ordinals x files), the same order as the
                # manifests the loop already parses.
                pos_pending.append({
                    "ordinal": ordinal, "snap_id": snap.snapshot_id,
                    "pos_like": pos_like, "data_prev": set(data_prev)})
            if eq:
                prev_paths = sorted(data_prev)
                if prev_paths:
                    state = read_files(prev_paths)
                    # one semi-join per distinct equality-id signature, with
                    # the key sets UNIONed (deduped) first: a row matched by
                    # two delete files was still deleted ONCE, and the
                    # previous per-file loop both double-emitted it and
                    # re-read the full prev state per file
                    by_cols: Dict[tuple, List[DataFile]] = {}
                    for d in eq:
                        cols = tuple(schema.field_by_id(i).name
                                     for i in d.equality_ids
                                     if schema.field_by_id(i) is not None)
                        by_cols.setdefault(cols, []).append(d)
                    for cols, dfiles in by_cols.items():
                        paths = sorted({d.file_path for d in dfiles})
                        keys = _read_parquet_raw(spark, paths) \
                            .select(*cols).dropDuplicates()
                        keys = _maybe_broadcast(spark, keys,
                                                _delete_set_bytes(dfiles))
                        hit = state.join(keys, list(cols), "left_semi")
                        parts.append(stamp(hit, DELETE, ordinal,
                                           snap.snapshot_id))

    if assigns:
        by_stamp: Dict[tuple, List[str]] = {}
        for p, ct, o, sid in assigns:
            by_stamp.setdefault((ct, o, sid), []).append(p)
        if len(by_stamp) <= _MERGE_SCAN_GROUPS:
            # few (type, ordinal) groups — shallow history, the common
            # interactive case: one scan per group with LITERAL stamps is
            # cheaper than a per-row broadcast-stamp join
            for (ct, o, sid), paths in by_stamp.items():
                parts.append(stamp(read_files(paths), ct, o, sid))
        else:
            # deep history: ONE scan for every plain insert/delete file
            # across all ordinals; the per-file stamp joins in from a
            # broadcast metadata map — scan count stays O(1) in snapshots
            paths = sorted({a[0] for a in assigns})
            base = read_files(paths, with_meta=True)
            amap = local_df(
                spark,
                [(_norm_path_py(p), ct, o, sid)
                 for p, ct, o, sid in assigns],
                "_cf string, _change_type string, "
                "_change_ordinal int, _commit_snapshot_id long", parts=1)
            parts.append(base.join(F.broadcast(amap), "_cf")
                         .select(*names, "_change_type", "_change_ordinal",
                                 "_commit_snapshot_id"))

    pos_jobs: List[dict] = []           # merged pos-delete reconstructions
    if pos_pending:
        refd_by_ord = _pos_delete_targets_batch(spark, pos_pending)
        for job in pos_pending:
            refd = refd_by_ord[job["ordinal"]]
            if refd is not None:
                # spelling-insensitive intersection: referenced targets may
                # carry a URI spelling (foreign DV manifests) while
                # data_prev holds this table's raw manifest paths — a raw
                # set intersection would come up empty and silently DROP
                # the ordinal's delete rows from the changelog. Targets
                # keep the data_prev (readable) spelling.
                refd_n = {_norm_path_py(x) for x in refd}
                refd = {p for p in job["data_prev"]
                        if _norm_path_py(p) in refd_n}
            if refd is not None and len(pos_pending) == 1:
                # single delete ordinal (the common shallow-history case):
                # the per-ordinal semi-join is strictly cheaper than the
                # merged shape (no ordinal tags, no pair dedup shuffle, no
                # validity join) and identical in semantics
                targets = sorted(refd & job["data_prev"])
                if targets:
                    pair_df = _pos_delete_df(spark, job["pos_like"])
                    pair_df = _maybe_broadcast(
                        spark, pair_df, _delete_set_bytes(job["pos_like"]))
                    hit = read_files(targets, with_meta=True).join(
                        pair_df,
                        on=[F.col("_cf") == _norm_path(pair_df["_del_file"]),
                            F.col("_cp") == pair_df["_del_pos"]],
                        how="left_semi")
                    parts.append(stamp(hit, DELETE, job["ordinal"],
                                       job["snap_id"]))
            elif refd is None:
                # unbounded referenced-file set (_TARGET_LIST_CAP): keep
                # this ordinal on the per-ordinal path — the merged path
                # needs the driver-side (ordinal, target) validity map
                targets = sorted(job["data_prev"])
                if targets:
                    pair_df = _pos_delete_df(spark, job["pos_like"])
                    pair_df = _maybe_broadcast(
                        spark, pair_df, _delete_set_bytes(job["pos_like"]))
                    hit = read_files(targets, with_meta=True).join(
                        pair_df,
                        on=[F.col("_cf") == _norm_path(pair_df["_del_file"]),
                            F.col("_cp") == pair_df["_del_pos"]],
                        how="left_semi")
                    parts.append(stamp(hit, DELETE, job["ordinal"],
                                       job["snap_id"]))
            else:
                targets = sorted(refd & job["data_prev"])
                if targets:
                    pos_jobs.append({
                        "ordinal": job["ordinal"], "snap_id": job["snap_id"],
                        "pos_like": job["pos_like"], "targets": targets})
    if pos_jobs:
        parts.append(_merged_pos_deletes(spark, pos_jobs, read_files, names))

    if not parts:
        empty = spark.createDataFrame([], spark_schema)
        return stamp(empty, INSERT, 0, 0).where(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _merged_pos_deletes(spark: SparkSession, jobs: List[dict], read_files,
                        names: List[str]) -> DataFrame:
    """ONE scan of every pos-delete-targeted data file across all ordinals,
    inner-joined against ordinal-tagged (file, pos) delete pairs. Exactly
    the union of the per-ordinal semi-joins because:

    - each pair row carries its ordinal, so a pair never deletes rows at
      another ordinal
    - pairs are deduped per (file, pos, ordinal): two delete files listing
      the same position in one snapshot still delete the row once
    - a broadcast (ordinal, target-file) validity join reproduces the
      per-ordinal ``referenced & data_prev`` restriction (every job here
      passed the _TARGET_LIST_CAP gate, so the map is metadata-sized)
    """
    from ..sources.scan import dv_pairs_df
    pair_parts: List[DataFrame] = []
    pq_assign: List[tuple] = []         # (delete_file_path, ordinal, snap)
    for job in jobs:
        parquet = sorted({d.file_path for d in job["pos_like"]
                          if d.file_format == "parquet"})
        for p in parquet:
            pq_assign.append((p, job["ordinal"], job["snap_id"]))
        dvs = [d for d in job["pos_like"] if d.file_format == "puffin"]
        if dvs:
            pair_parts.append(
                dv_pairs_df(spark, dvs)
                .withColumn("_ord", F.lit(job["ordinal"]).cast("int"))
                .withColumn("_sid", F.lit(job["snap_id"]).cast("long")))
    if pq_assign:
        # all parquet pos-delete files in ONE scan; file -> ordinal joins
        # in from a broadcast map on _metadata.file_path
        paths = sorted({p for p, _o, _s in pq_assign})
        raw = _read_parquet_meta(spark, paths)
        pmap = local_df(
            spark, [(_norm_path_py(p), o, s) for p, o, s in pq_assign],
            "_src string, _ord int, _sid long", parts=1)
        pair_parts.append(
            raw.join(F.broadcast(pmap), "_src")
               .select(F.col("file_path").alias("_del_file"),
                       F.col("pos").alias("_del_pos"), "_ord", "_sid"))
    pairs = pair_parts[0]
    for p in pair_parts[1:]:
        pairs = pairs.unionByName(p)
    # normalize BEFORE dedup: DV pairs carry the manifest's referenced URI
    # spelling while parquet pos-delete pairs carry the writer-normalized
    # path — the same (file, pos, ordinal) under two spellings (file:/ vs /)
    # must collapse to one row here, or the inner target join below emits a
    # duplicate DELETE. Normalizing first makes the dedup key identical to
    # the join key (the downstream _norm_path calls are idempotent).
    pairs = pairs.withColumn("_del_file", _norm_path(F.col("_del_file")))
    pairs = pairs.dropDuplicates(["_del_file", "_del_pos", "_ord"])
    valid = local_df(
        spark,
        [(job["ordinal"], _norm_path_py(t))
         for job in jobs for t in job["targets"]],
        "_vord int, _vcf string", parts=1)
    pairs = (pairs.join(F.broadcast(valid),
                        on=[_norm_path(F.col("_del_file")) == F.col("_vcf"),
                            F.col("_ord") == F.col("_vord")])
             .drop("_vcf", "_vord"))
    total_bytes = sum(_delete_set_bytes(job["pos_like"]) for job in jobs)
    pairs = _maybe_broadcast(spark, pairs, total_bytes)
    all_targets = sorted({t for job in jobs for t in job["targets"]})
    tgt = read_files(all_targets, with_meta=True)
    hit = tgt.join(pairs,
                   on=[F.col("_cf") == _norm_path(F.col("_del_file")),
                       F.col("_cp") == F.col("_del_pos")])
    return hit.select(*names,
                      F.lit(DELETE).alias("_change_type"),
                      F.col("_ord").cast("int").alias("_change_ordinal"),
                      F.col("_sid").cast("long")
                      .alias("_commit_snapshot_id"))


def _read_parquet_meta(spark: SparkSession, paths: List[str]) -> DataFrame:
    """_read_parquet_raw plus a ``_src`` column: each row's source file as
    its manifest URI (localized reads remapped back), for joining per-file
    assignment maps."""
    from ..sources.io import (localize_paths, mirror_remap_pattern,
                              spark_native_path)
    read_paths, remap = sorted(paths), None
    if read_paths and not spark_native_path(read_paths[0]):
        read_paths = localize_paths(read_paths)
        remap = mirror_remap_pattern()
    from ..sources.scan import cached_parquet_relation
    df = cached_parquet_relation(spark, read_paths)
    fcol = F.col("_metadata.file_path")
    if _paths_need_decode(read_paths):
        fcol = _decode_file_uri(fcol)
    if remap is not None:
        fcol = F.regexp_replace(fcol, remap[0], remap[1])
    return df.withColumn("_src", F.regexp_replace(fcol, "^file:/*", "/"))


def _pos_delete_df(spark: SparkSession,
                   pos_like: List[DataFile]) -> DataFrame:
    """(_del_file, _del_pos) DataFrame from parquet pos-deletes + Puffin DVs.

    Fully distributed — the former driver-side Set[(file, pos)] turned a
    billion-row MOR delete into a billion-tuple Python set; positions now
    stay in DataFrames end to end (parquet read + scan.dv_pairs_df, which
    decodes DV blobs executor-side past a size gate)."""
    from ..sources.scan import _pos_parquet_pairs_df, dv_pairs_df
    parts: List[DataFrame] = []
    parquet = sorted({d.file_path for d in pos_like
                      if d.file_format == "parquet"})
    if parquet:
        # session-memoized, explicit-schema relation (scan.py) — the same
        # delete files were typically already resolved by a table scan
        parts.append(_pos_parquet_pairs_df(spark, parquet))
    dvs = [d for d in pos_like if d.file_format == "puffin"]
    if dvs:
        parts.append(dv_pairs_df(spark, dvs))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_TARGET_LIST_CAP = 200_000


def _pos_delete_targets_batch(
        spark: SparkSession,
        jobs: List[dict]) -> Dict[int, Optional[Set[str]]]:
    """ordinal -> distinct data files referenced by that ordinal's
    positional deletes, resolved in ONE Spark job across every delete
    ordinal (the former per-ordinal distinct+collect made deep-history
    planning O(delete-snapshots) in job launches — 12 launches were 3.5 s
    of the x10 probe's 9.7 s wall).

    The sets are metadata-sized (bounded by FILE count, never positions):
    DV entries carry the reference in their manifest entry (driver-side,
    free); parquet pos-delete files are read once, their file -> ordinal
    assignment joined in from a broadcast map, and one distinct over the
    (tiny) (_ord, file_path) columns collects. The sets exist to PRUNE
    which previous-state files the delete join reads, so driver cost must
    stay below the pruning win: past _TARGET_LIST_CAP combined distinct
    files every parquet-bearing ordinal maps to None and the caller reads
    its full previous state instead (the join still filters correctly —
    only the metadata-level file pruning is given up)."""
    out: Dict[int, Optional[Set[str]]] = {}
    pq_assign: List[tuple] = []
    for job in jobs:
        o = job["ordinal"]
        # referenced_data_file resolves the target driver-side for DV blobs
        # AND single-target parquet pos-deletes (our writer stamps it when
        # the file's untruncated file_path bounds collapse to one path) —
        # only multi-target parquet deletes need the Spark read below
        out[o] = {d.referenced_data_file for d in job["pos_like"]
                  if d.referenced_data_file}
        for p in sorted({d.file_path for d in job["pos_like"]
                         if d.file_format == "parquet"
                         and not d.referenced_data_file}):
            pq_assign.append((p, o))
    if not pq_assign:
        return out
    # (path, ordinal) -> contained-file-paths resolution is a pure function
    # of immutable parquet pos-delete files: memoize the collected rows per
    # session, exactly like the scan layer's delete caches (plan-time
    # metadata, bounded by _TARGET_LIST_CAP, keyed on the full assignment)
    memo = session_memo(spark, "pos_targets")
    mkey = tuple(sorted(pq_assign))
    cached_rows = memo.get(mkey)
    if cached_rows is not None:
        dv_total = sum(len(s) for s in out.values() if s)
        if len(cached_rows) + dv_total > _TARGET_LIST_CAP:
            for _p, o in pq_assign:
                out[o] = None
            return out
        for o, fp in cached_rows:
            out[o].add(fp)
        return out
    paths = sorted({p for p, _o in pq_assign})
    ords = {o for _p, o in pq_assign}
    if len(ords) == 1:
        # one delete ordinal: no file->ordinal mapping needed, plain
        # distinct over the delete files (the shallow-history fast shape)
        only = next(iter(ords))
        rows = (_read_parquet_raw(spark, paths)
                .select(F.lit(only).alias("_ord"), "file_path").distinct()
                .limit(_TARGET_LIST_CAP + 1).collect())
    else:
        raw = _read_parquet_meta(spark, paths)
        pmap = local_df(
            spark, [(_norm_path_py(p), o) for p, o in pq_assign],
            "_src string, _ord int", parts=1)
        rows = (raw.join(F.broadcast(pmap), "_src")
                .select("_ord", "file_path").distinct()
                .limit(_TARGET_LIST_CAP + 1).collect())
    memo.put(mkey, [(r["_ord"], r["file_path"]) for r in rows])
    dv_total = sum(len(s) for s in out.values() if s)
    if len(rows) + dv_total > _TARGET_LIST_CAP:
        for _p, o in pq_assign:
            out[o] = None
        return out
    for r in rows:
        out[r["_ord"]].add(r["file_path"])
    return out


def net_changes(changes: DataFrame, keys: List[str]) -> DataFrame:
    """Collapse a changelog to the NET effect per key across the window
    (Spark-Iceberg's create_changelog_view(net_changes=true) semantics):

    - key ends as an insert it did not start with      -> one ``insert``
    - key starts as a delete and never comes back      -> one ``delete``
    - delete then re-insert with DIFFERENT values      -> delete + insert
      (changelog-form update)
    - delete then re-insert of identical values        -> no rows (no-op)

    ONE map-side-combinable hash aggregate: min_by/max_by over the
    (ordinal, type) ordering key pick each key's first and last change in
    the same groupBy (struct comparison is field-order lexicographic, and
    'delete' < 'insert' puts a commit's delete before its insert — a
    commit's delete acts on the PREVIOUS state). The former shape — two
    window sorts over a shared exchange plus a co-partitioned full-outer
    self-join — moved every changelog row through a sort twice and joined
    the results back; the aggregate form combines partially before the
    shuffle and never sorts, the shape that wins when the changelog is
    a 100 TB history. Value comparison is a struct equality, so schema
    additions participate automatically.

    SQL-string expressions throughout (selectExpr / where(str)): the
    Column-object form issued one py4j round-trip per col/alias —
    ~4 x |columns| RPCs, measured 0.35s of plan wall on a 9-column table.
    """
    val_cols = [c for c in changes.columns
                if c not in ("_change_type", "_change_ordinal",
                             "_commit_snapshot_id")]

    row = ("struct(" + ", ".join([sql_ident(c) for c in val_cols])
           + ", _change_type)")
    ord_key = "struct(_change_ordinal, _change_type)"
    agg = changes.groupBy(*[sql_ident(k) for k in keys]).agg(
        F.expr(f"min_by({row}, {ord_key})").alias("_first"),
        F.expr(f"max_by({row}, {ord_key})").alias("_last"))
    # pre-image: present iff the key's FIRST change is a delete (rows
    # inserted within the window have no pre-image); post-image likewise
    has_d = f"_first._change_type = '{DELETE}'"
    has_i = f"_last._change_type = '{INSERT}'"
    d_struct = ("struct("
                + ", ".join(f"_first.{sql_ident(c)}" for c in val_cols) + ")")
    i_struct = ("struct("
                + ", ".join(f"_last.{sql_ident(c)}" for c in val_cols) + ")")
    changed = (f"(NOT ({has_d}) OR NOT ({has_i}) "
               f"OR NOT ({d_struct} <=> {i_struct}))")
    # ONE pass over the aggregate (r14, guide §2.4): the former
    # del_rows.unionByName(ins_rows) referenced `agg` twice, and Catalyst
    # duplicates a twice-referenced subtree — the ENTIRE changelog scan +
    # sort + min_by/max_by aggregate ran twice (plan-verified: two
    # identical SortAggregate+Exchange branches under the Union). explode
    # of two conditional structs emits exactly the same rows from a single
    # aggregate: the delete row iff the first change is a delete, the
    # insert row iff the last change is an insert, neither when the key's
    # net effect is a no-op (the `changed` pre-filter, identical to the
    # conjunct both old branches shared).

    def nq(c: str) -> str:
        return "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"

    d_named = ("named_struct(" + ", ".join(
        f"{nq(c)}, _first.{sql_ident(c)}" for c in val_cols)
        + f", '_change_type', '{DELETE}')")
    i_named = ("named_struct(" + ", ".join(
        f"{nq(c)}, _last.{sql_ident(c)}" for c in val_cols)
        + f", '_change_type', '{INSERT}')")
    return (agg.where(changed)
            .selectExpr(f"explode(array(if({has_d}, {d_named}, null), "
                        f"if({has_i}, {i_named}, null))) AS _r")
            .where("_r IS NOT NULL")
            .selectExpr(*[f"_r.{sql_ident(c)} AS {sql_ident(c)}"
                          for c in val_cols],
                        "_r._change_type AS _change_type"))


class ChangesReader:
    """Checkpointed CDC micro-batch reader: the changelog twin of
    incremental.IncrementalReader. Each yielded batch is changes_df over one
    unseen snapshot — inserts AND reconstructed deletes, stamped with
    _change_type/_change_ordinal/_commit_snapshot_id — with a file
    checkpoint committed after each yield (at-least-once; pair with the
    exactly-once sink's batch-id dedup for end-to-end exactly-once)."""

    def __init__(self, table: Table, checkpoint_path: str):
        self.table = table
        self.checkpoint_path = checkpoint_path

    def _load_state(self):
        import json as _json

        from ..sources.io import file_io_for
        fio = file_io_for(self.checkpoint_path)
        if fio.is_file(self.checkpoint_path):
            d = _json.loads(fio.read_text(self.checkpoint_path))
            return d.get("last_snapshot_id"), d.get("last_sequence_number")
        return None, None

    def _save_state(self, snapshot_id: int, sequence_number: int) -> None:
        import json as _json

        from ..sources.io import file_io_for
        fio = file_io_for(self.checkpoint_path)
        tmp = self.checkpoint_path + ".tmp"
        # the sequence number rides along so an expire_snapshots that removes
        # the checkpointed snapshot cannot force a full-history replay: the
        # seq comparison below still works after the id stops resolving
        fio.write_text(tmp, _json.dumps({
            "last_snapshot_id": snapshot_id,
            "last_sequence_number": sequence_number}))
        fio.rename(tmp, self.checkpoint_path)

    @staticmethod
    def _main_chain(md) -> List:
        """Snapshots on the main branch's ancestry (oldest first): walking
        the parent chain from refs['main'] keeps side-branch (WAP) snapshots
        out of the CDC feed — staged-but-unpublished commits must not be
        replicated."""
        ref = md.refs.get("main")
        head = ref.snapshot_id if ref is not None else md.current_snapshot_id
        return _ancestor_chain(md, head)

    def micro_batches(self, spark: SparkSession):
        """Yield (snapshot_id, changelog DataFrame) per unseen snapshot."""
        self.table.refresh()
        md = self.table.metadata
        last_id, last_seq = self._load_state()
        if last_id is not None and last_seq is None:
            # legacy checkpoint (id only): recover the seq while it resolves
            last_snap = md.snapshot_by_id(last_id)
            last_seq = last_snap.sequence_number if last_snap else None
        for snap in self._main_chain(md):
            if last_seq is not None and snap.sequence_number <= last_seq:
                continue
            df = changes_df(spark, self.table,
                            from_snapshot_id=snap.parent_snapshot_id,
                            to_snapshot_id=snap.snapshot_id)
            yield snap.snapshot_id, df
            self._save_state(snap.snapshot_id, snap.sequence_number)


def apply_changes(spark: SparkSession, table: Table, changes: DataFrame,
                  keys: List[str]) -> Table:
    """Apply a changelog batch to ``table`` in ONE snapshot: equality
    deletes for every touched key + data files for the batch's net insert
    rows — the CDC-apply primitive behind table mirroring. The batch is
    first collapsed with net_changes so intra-batch churn (delete+reinsert
    of identical rows) costs nothing."""
    data_cols = [c for c in changes.columns
                 if c not in ("_change_type", "_change_ordinal",
                              "_commit_snapshot_id")]
    net = net_changes(changes, keys)
    ins = net.where(F.col("_change_type") == INSERT).select(*data_cols)
    touched = net.select(*keys).dropDuplicates()
    return table.merge(spark, ins, keys, delete_keys_df=touched)


def mirror_table(spark: SparkSession, src: Table, dst: Table,
                 keys: List[str], checkpoint_path: str) -> int:
    """Incrementally replicate ``src`` into ``dst`` through the CDC feed:
    one apply_changes commit per unseen source snapshot, checkpointed (the
    replication idiom — run repeatedly, each run ships only new history).
    Returns the number of snapshots applied."""
    n = 0
    for _sid, batch in ChangesReader(src, checkpoint_path) \
            .micro_batches(spark):
        dst = dst.refresh()
        dst = apply_changes(spark, dst, batch, keys)
        n += 1
    return n
