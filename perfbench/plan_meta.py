"""plan_meta: ``Table.load`` plus ``TableScan.plan_files()`` on
metadata-only tables (fabricated data and delete files, no parquet bytes),
warm and cold. No Spark session is started: nothing in these ops touches
the engine.

Each table lays out 1000 files per manifest; manifest ``m`` holds exactly
partition ``p == m`` and column ``v`` is a point per file, so the
expected plan of every predicate is known exactly:

- partition-selective ``p == k``: one manifest survives, 1000 tasks;
- metrics-selective ``v > N-1-j``: every entry is examined, j tasks;
- full scan: N tasks.

``k`` and ``j`` are drawn from the seed.

The MOR tables add ~1.1x delete files in the three shapes real writers
produce (a path-scoped deletion vector per data file, a file_path-bounded
positional delete per run of 10 files, one equality delete per
partition), so every task carries exactly 2 positional and 1 equality
delete.

*warm* plans a table whose manifests are in the in-memory manifest cache;
*cold* clears that cache first, so every manifest is decoded again. This
is what a working set larger than the cache budget (512k entries by
default) produces under LRU order — every lookup misses — without
fabricating half a million entries in each run's set-up."""

from __future__ import annotations

import os
import random
import time

FILES_PER_MANIFEST = 1000
# (table name, data files, with deletes)
TABLES = (("plain10k", 10_000, False), ("plain20k", 20_000, False),
          ("mor10k", 10_000, True))
BUILDS = 3


def _build(cat, name: str, n_files: int, with_deletes: bool, fake: str):
    from iceberg_rust_spark import PartitionField, PartitionSpec, Table
    from iceberg_rust_spark.functions.transforms import parse_transform
    from iceberg_rust_spark.sources.manifest import (
        CONTENT_EQUALITY_DELETES, CONTENT_POSITION_DELETES, DataFile)
    from iceberg_rust_spark.sources.types import LONG, NestedField, Schema

    schema = Schema([NestedField(1, "k", LONG, True),
                     NestedField(2, "p", LONG, True),
                     NestedField(3, "v", LONG, True)], 0)
    spec = PartitionSpec(0, [PartitionField(2, 1000, "p",
                                            parse_transform("identity"))])
    t = Table.create(cat, f"db.{name}", schema, partition_spec=spec)
    n_man = n_files // FILES_PER_MANIFEST

    def dpath(m, i):
        return f"{fake}/{name}/m{m}/f{i:05d}.parquet"

    # there is no public metadata-only append; commit fabricated files the
    # way the table's own operations do
    def commit(op, **kw):
        nonlocal t
        t = t._commit_retry(lambda md: t._snapshot_update(md, op, **kw))

    for m in range(n_man):
        commit("append", added=[DataFile(
            file_path=dpath(m, i), record_count=1000,
            file_size_in_bytes=1 << 20, partition={"p": m},
            value_counts={"k": 1000, "p": 1000, "v": 1000},
            null_value_counts={"k": 0, "p": 0, "v": 0},
            lower_bounds={"k": 0, "p": m, "v": m * 1000 + i},
            upper_bounds={"k": 10 ** 9, "p": m, "v": m * 1000 + i},
            schema_id=0, spec_id=0) for i in range(FILES_PER_MANIFEST)])
    if not with_deletes:
        return t
    per = FILES_PER_MANIFEST
    for m in range(n_man):
        dels = [DataFile(
            file_path=f"{fake}/{name}/del/m{m}/dv{i:05d}.puffin",
            file_format="puffin", content=CONTENT_POSITION_DELETES,
            partition={"p": m}, record_count=10, file_size_in_bytes=64,
            referenced_data_file=dpath(m, i), content_offset=4,
            content_size_in_bytes=32, schema_id=0, spec_id=0)
            for i in range(per)]
        dels += [DataFile(
            file_path=f"{fake}/{name}/del/m{m}/pd{r:04d}.parquet",
            content=CONTENT_POSITION_DELETES, partition={"p": m},
            record_count=100, file_size_in_bytes=1 << 12,
            lower_bounds={"file_path": dpath(m, r * 10)},
            upper_bounds={"file_path": dpath(m, r * 10 + 9)},
            schema_id=0, spec_id=0) for r in range(per // 10)]
        dels.append(DataFile(
            file_path=f"{fake}/{name}/del/m{m}/eq.parquet",
            content=CONTENT_EQUALITY_DELETES, partition={"p": m},
            record_count=5, file_size_in_bytes=512, equality_ids=[3],
            schema_id=0, spec_id=0))
        commit("delete", added_deletes=dels)
    return t


def shapes(n_files: int, rng):
    """(shape name, predicate, expected task count)."""
    from iceberg_rust_spark import expr as E
    k = rng.randrange(n_files // FILES_PER_MANIFEST)
    j = rng.randint(5, 15)
    return (("partition", E.col("p") == k, FILES_PER_MANIFEST),
            ("metrics", E.col("v") > n_files - 1 - j, j),
            ("full", None, n_files))


def clear_manifest_cache():
    from iceberg_rust_spark.sources import scan as scan_mod
    scan_mod._manifest_cache.cache_clear()


def check_plan(b, label: str, plan, expect: int, mor: bool, full: bool):
    """Task count from the plan's counters on every op; with ``full`` also
    the materialized tasks and their attached deletes."""
    n = (plan.total_data_files - plan.skipped_by_partition
         - plan.skipped_by_metrics)
    if n != expect:
        b.check(label, False, f"{n} tasks by the plan counters, "
                f"expected {expect}")
        return
    if not full:
        return
    tasks = plan.tasks
    n_pos = sum(len(t.pos_deletes) for t in tasks)
    n_eq = sum(len(t.eq_deletes) for t in tasks)
    want = (2 * expect, expect) if mor else (0, 0)
    b.check(label, len(tasks) == expect and (n_pos, n_eq) == want,
            f"{len(tasks)} tasks, {n_pos} pos / {n_eq} eq deletes "
            f"(expected {expect}, {want[0]} / {want[1]})")


def run(b) -> dict:
    from iceberg_rust_spark import FileSystemCatalog, Table

    fake = os.path.join(b.work, "never-written")
    builds = []
    for i in range(BUILDS):
        cat = FileSystemCatalog(os.path.join(b.work, f"warehouse{i}"))
        t0 = time.perf_counter()
        for name, n, mor in TABLES:
            _build(cat, name, n, mor, fake)
        builds.append(time.perf_counter() - t0)
    b.report.append("set-up builds (s): "
                    + " ".join(f"{s:.3f}" for s in builds))

    # the ops plan the tables of the last build
    rng = random.Random(b.seed)
    ops = [(f"{name}.{shape}", name, pred, expect, mor)
           for name, n, mor in TABLES
           for shape, pred, expect in shapes(n, rng)]

    def plan(ident, pred):
        return Table.load(cat, f"db.{ident}").scan(row_filter=pred) \
            .plan_files()

    # untimed: every plan once cold, with the full task and delete check
    t0 = time.perf_counter()
    for label, name, pred, expect, mor in ops:
        clear_manifest_cache()
        check_plan(b, label, plan(name, pred), expect, mor, full=True)
    b.report.append(f"warm-up and full output checks "
                    f"{time.perf_counter() - t0:.2f} s for {len(ops)} plans")
    b.reset_rss_peak()

    def one_pass(_i):
        for label, name, pred, expect, mor in ops:
            for kind in ("cold", "warm"):
                if kind == "cold":
                    clear_manifest_cache()
                with b.op(kind, label) as op_id:
                    got = plan(name, pred)
                if not b.failed(op_id):
                    check_plan(b, f"{kind} {label}", got, expect, mor,
                               full=False)

    walls = b.passes(one_pass, b.seconds)
    warm = [s.wall for s in b.measured("warm")]
    cold = [s.wall for s in b.measured("cold")]
    from perfbench.stats import percentile
    return {"setup": builds, "passes": walls, "extra": {
        "plan_warm_p50_s": (percentile(warm, 0.5), "s", len(warm)),
        "plan_cold_p50_s": (percentile(cold, 0.5), "s", len(cold))}}
