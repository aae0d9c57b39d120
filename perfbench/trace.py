"""Spans and counts for the traced run.

Spans are recorded from the benchmark's own files only: ``instrument()``
replaces each layer's public functions, at the name their callers resolve
when they call, with a wrapper that opens a span and records counts.
Nothing inside the package changes. ``table.py`` imports ``write_data_files``
and the manifest writers by name, so those are replaced on the ``table``
module; ``write_data_files`` calls ``collect_parquet_stats`` from its own
module, so that one is replaced on the ``write`` module as well; the
manifest decoders are imported inside the cache's ``get`` at call time, so
they are replaced on their own modules; methods are replaced on their
class. A wrapper left at a name nobody resolves would record nothing.

Spark's share is read from the event log after the run: every op sets its
own job group, so jobs, stages, tasks and the SQL executions behind them
(and the Python exec nodes in their physical plans) are attributed by
identity, not by wall-clock window."""

from __future__ import annotations

import glob
import itertools
import json
import os
import re
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

PYTHON_EXEC_RE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsIn(?:Pandas|Arrow)|"
    r"FlatMapCoGroupsIn(?:Pandas|Arrow)|AggregateInPandas|"
    r"ArrowAggregatePython|WindowInPandas|ArrowWindowPython)")


class Tracer:
    """In-memory span store. A span is (id, parent, op, name, layer, t0,
    t1); the parent is the innermost open span on the calling thread unless
    given explicitly (writer threads name the phase span that started
    them). A span opened on a thread with nothing open and no op of its own
    (a decode on the planner's thread pool) is adopted by the most recently
    opened span still open that was not itself adopted; that is exact while
    one thread drives the ops and approximate while several writer threads
    do."""

    def __init__(self):
        self.spans = []
        self.counts = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._open = {}            # span id -> (op, adopted), by opening

    def _stack(self):
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name, layer, parent=None, op=None):
        sid = next(self._ids)
        st = self._stack()
        adopted = False
        with self._lock:
            if parent is None and st:
                parent, cur_op = st[-1]
                op = cur_op if op is None else op
            elif parent is None and op is None:
                for cand in reversed(self._open):
                    cand_op, cand_adopted = self._open[cand]
                    if not cand_adopted:
                        parent, op, adopted = cand, cand_op, True
                        break
            self._open[sid] = (op, adopted)
        st.append((sid, op))
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                del self._open[sid]
                self.spans.append({"id": sid, "parent": parent, "op": op,
                                   "name": name, "layer": layer,
                                   "t0": t0, "t1": t1})

    def count(self, key, n=1):
        """Add ``n`` to ``key`` of the op the calling thread works for."""
        st = self._stack()
        with self._lock:
            if st:
                op = st[-1][1]
            else:
                op = next((o for o, adopted in reversed(self._open.values())
                           if not adopted), None)
            self.counts[(op, key)] += n


def _replace(undo, owner, attr, make):
    orig = owner.__dict__[attr] if isinstance(owner, type) \
        else getattr(owner, attr)
    setattr(owner, attr, make(orig))
    undo.append((owner, attr, orig))


def _spanning(tr, name, layer, post=None, on_error=None):
    def make(fn):
        def wrapper(*a, **kw):
            with tr.span(name, layer):
                try:
                    out = fn(*a, **kw)
                except Exception as exc:
                    if on_error:
                        on_error(exc)
                    raise
                if post:
                    post(out)
            return out
        wrapper.__wrapped__ = fn
        return wrapper
    return make


class _TracedTime:
    """Stands in for the ``time`` module inside ``table.py`` so the commit
    loop's back-off sleep is recorded as retry wait."""

    def __init__(self, tr, real):
        self._tr, self._real = tr, real

    def sleep(self, s):
        with self._tr.span("table.retry_wait", "table"):
            self._real.sleep(s)
        self._tr.count("table.retry_wait_n")

    def __getattr__(self, name):
        return getattr(self._real, name)


def instrument(tr: Tracer):
    """Wrap every layer boundary; returns an ``undo`` callable."""
    from iceberg_rust_spark.sources import avro_manifest as avro_mod
    from iceberg_rust_spark.sources import catalog as cat_mod
    from iceberg_rust_spark.sources import manifest as man_mod
    from iceberg_rust_spark.sources import scan as scan_mod
    from iceberg_rust_spark.sources import table as table_mod
    from iceberg_rust_spark.sources import write as write_mod

    undo = []
    FSC, Scan = cat_mod.FileSystemCatalog, scan_mod.TableScan

    def conflict(exc):
        if isinstance(exc, cat_mod.CommitConflict):
            tr.count("catalog.conflict_n")

    _replace(undo, FSC, "load_table", _spanning(
        tr, "catalog.load_table", "catalog",
        post=lambda _: tr.count("catalog.load_n")))
    _replace(undo, FSC, "commit_table", _spanning(
        tr, "catalog.commit_table", "catalog", on_error=conflict,
        post=lambda _: tr.count("catalog.commit_n")))
    # every commit attempt, successful or not, passes through commit_table
    _replace(undo, FSC, "commit_table", lambda fn: _counting(
        tr, "table.commit_attempts", fn))
    _replace(undo, table_mod.Table, "_commit_retry", _spanning(
        tr, "table.commit", "table",
        post=lambda _: tr.count("table.commit_ops")))
    _replace(undo, table_mod, "time", lambda real: _TracedTime(tr, real))

    def plan_post(plan):
        c = tr.count
        c("scan.plan_n")
        c("scan.manifests_total", plan.total_manifests)
        c("scan.manifests_skipped", plan.skipped_manifests)
        c("scan.files_total", plan.total_data_files)
        c("scan.files_skipped_partition", plan.skipped_by_partition)
        c("scan.files_skipped_metrics", plan.skipped_by_metrics)
        c("scan.tasks", plan.total_data_files - plan.skipped_by_partition
          - plan.skipped_by_metrics)
    _replace(undo, Scan, "plan_files", _spanning(
        tr, "scan.plan_files", "scan", post=plan_post))
    _replace(undo, Scan, "to_df", _spanning(tr, "scan.to_df", "scan"))

    _replace(undo, man_mod, "read_manifest_columns", _spanning(
        tr, "manifest.decode", "manifest",
        post=lambda _: tr.count("manifest.decode_n")))
    _replace(undo, avro_mod, "read_avro_manifest", _spanning(
        tr, "manifest.decode", "manifest",
        post=lambda _: tr.count("manifest.decode_n")))
    _replace(undo, scan_mod._ManifestCache, "get", lambda fn: _counting(
        tr, "manifest.touched_n", fn))

    def data_post(files):
        tr.count("write.data_files", len(files))
        tr.count("write.data_bytes",
                 sum(f.file_size_in_bytes for f in files))

    def meta_post(length):
        tr.count("write.meta_bytes", int(length or 0))
    _replace(undo, table_mod, "write_data_files", _spanning(
        tr, "write.write_data_files", "write", post=data_post))

    def delete_post(entries):
        tr.count("write.delete_bytes", sum(st["size"] for _, st in entries))
    # positional and equality delete files
    _replace(undo, table_mod, "write_parquet_listing", _spanning(
        tr, "write.write_delete_files", "write", post=delete_post))
    for mod in (table_mod, write_mod):
        _replace(undo, mod, "collect_parquet_stats", _spanning(
            tr, "write.collect_parquet_stats", "write"))
    _replace(undo, table_mod, "write_manifest", _spanning(
        tr, "write.write_manifest", "write", post=meta_post))
    _replace(undo, table_mod, "write_manifest_list", _spanning(
        tr, "write.write_manifest_list", "write", post=meta_post))

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)
    return restore


def _counting(tr, key, fn):
    def wrapper(*a, **kw):
        tr.count(key)
        return fn(*a, **kw)
    wrapper.__wrapped__ = fn
    return wrapper


# ---------------------------------------------------------------- Catalyst
def plan_query(df) -> dict:
    """Plan ``df`` once through its own QueryExecution and return the
    QueryPlanningTracker phase times (ms). The timed action plans its own
    command again, so the traced run pays this planning twice (part of
    the reported overhead)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        ph = kv._2()
        phases[str(kv._1())] = ph.endTimeMs() - ph.startTimeMs()
    return {"analysis_ms": phases.get("analysis", 0),
            "optimization_ms": phases.get("optimization", 0),
            "planning_ms": phases.get("planning", 0)}


# ---------------------------------------------------------------- Spark
def _python_nodes(plan_info) -> int:
    """Python exec nodes in a ``sparkPlanInfo`` tree."""
    if not plan_info:
        return 0
    own = 1 if PYTHON_EXEC_RE.fullmatch(plan_info.get("nodeName", "")) else 0
    return own + sum(_python_nodes(c) for c in plan_info.get("children", ()))


def parse_eventlog(evdir: str) -> dict:
    """{job group: aggregates} from the uncompressed event log in
    ``evdir``: jobs, stages, tasks, job wall, task run/CPU/GC seconds,
    shuffle bytes written, and the Python exec nodes of the SQL executions
    whose jobs ran in the group."""
    group_of_job, group_of_stage, group_of_exec = {}, {}, {}
    job_t, exec_nodes, tasks = {}, {}, []
    paths = [p for p in glob.glob(os.path.join(evdir, "**", "*"),
                                  recursive=True) if os.path.isfile(p)]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                e = ev.get("Event", "")
                if e == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id")
                    jid = ev["Job ID"]
                    group_of_job[jid] = grp
                    job_t[jid] = [ev.get("Submission Time"), None]
                    for sid in ev.get("Stage IDs", ()):
                        group_of_stage[sid] = grp
                    xid = props.get("spark.sql.execution.id")
                    if xid is not None:
                        group_of_exec.setdefault(int(xid), grp)
                elif e == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_t:
                        job_t[ev["Job ID"]][1] = ev.get("Completion Time")
                elif e == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append((
                        ev.get("Stage ID"),
                        tm.get("Executor Run Time", 0) / 1e3,
                        tm.get("Executor CPU Time", 0) / 1e9,
                        tm.get("JVM GC Time", 0) / 1e3,
                        sw.get("Shuffle Bytes Written", 0)))
                elif e.endswith("SparkListenerSQLExecutionStart"):
                    exec_nodes[ev["executionId"]] = _python_nodes(
                        ev.get("sparkPlanInfo"))
    agg = defaultdict(lambda: defaultdict(float))
    for jid, grp in group_of_job.items():
        a = agg[grp]
        a["jobs"] += 1
        t0, t1 = job_t[jid]
        if t0 and t1:
            a["job_s"] += (t1 - t0) / 1e3
    for sid, grp in group_of_stage.items():
        agg[grp]["stages"] += 1
    for sid, run_s, cpu_s, gc_s, shuffle in tasks:
        a = agg[group_of_stage.get(sid)]
        a["tasks"] += 1
        a["task_run_s"] += run_s
        a["task_cpu_s"] += cpu_s
        a["gc_s"] += gc_s
        a["shuffle_bytes"] += shuffle
    for xid, n in exec_nodes.items():
        agg[group_of_exec.get(xid)]["python_exec_nodes"] += n
    return {k: dict(v) for k, v in agg.items()}
