"""Turns a finished run into its metrics: the end-to-end set (untraced
run), the per-layer set (traced run), the report lines and the per-op
self-time table."""

from __future__ import annotations

import os
from collections import defaultdict

from perfbench import stats as S
from perfbench.harness import cores
from perfbench import trace as T

TABLE_LAYERS = ("driver", "catalyst", "spark", "catalog", "table", "scan",
                "manifest", "write")

# per-layer metrics every workload reports in the traced run; a layer the
# workload never calls reports 0
PER_LAYER = (
    ("catalog.load_s", "s"), ("catalog.load_n", "count"),
    ("catalog.commit_s", "s"), ("catalog.commit_n", "count"),
    ("catalog.conflict_n", "count"),
    ("table.retry_wait_s", "s"), ("table.commit_attempts_per_op", "ratio"),
    ("scan.plan_s", "s"), ("scan.plan_n", "count"),
    ("scan.manifests_total", "count"), ("scan.manifests_skipped", "count"),
    ("scan.files_total", "count"), ("scan.files_skipped_partition", "count"),
    ("scan.files_skipped_metrics", "count"), ("scan.tasks", "count"),
    ("scan.files_examined_per_task", "ratio"), ("scan.to_df_s", "s"),
    ("manifest.decode_n", "count"), ("manifest.decode_s", "s"),
    ("manifest.cache_hit_ratio", "ratio"),
    ("write.data_files", "count"), ("write.data_bytes", "B"),
    ("write.delete_bytes", "B"),
    ("write.meta_bytes", "B"), ("write.avg_file_bytes", "B"),
    ("write.write_data_files_s", "s"), ("write.collect_stats_s", "s"),
    ("write.write_manifest_s", "s"),
    ("driver.construct_s", "s"), ("driver.gap_s", "s"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.job_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_bytes", "B"), ("spark.parallel_eff", "ratio"),
    ("python.exec_nodes", "count"),
) + tuple((f"{layer}.self_s", "s") for layer in TABLE_LAYERS) + (
    ("trace.ops", "count"), ("trace.overhead_pct", "%"))

# the end-to-end metrics every workload reports in its JSON line. The
# percentiles and the workload-specific metrics are printed in the report
# only: a percentile is missing whenever a run holds too few samples.
END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("driver_rss_mb", "MB"))


def assemble(b, result: dict, rss_mb: float) -> dict:
    samples = b.measured()
    ops = b.window()
    # every op and check of the run counts, warm-up and untraced loop too
    failed = sum(1 for s in b.samples if not s.ok) + sum(
        1 for _, ok, _ in b.checks if not ok)
    attempted = len(b.samples) + len(b.checks)
    walls = [s.wall for s in samples]
    p50, p90 = S.percentile(walls, 0.5), S.percentile(walls, 0.9)
    report = {
        "setup_s": (S.median(result["setup"]), "s", len(result["setup"])),
        "wall_s": (S.median(result["passes"]), "s", len(result["passes"])),
        "op_p50_s": (p50, "s", len(walls)),
        "op_p90_s": (p90, "s", len(walls)),
        "fail_ratio": (failed / attempted if attempted else None, "ratio",
                       attempted),
        "driver_rss_mb": (rss_mb, "MB", 1),
        "machine_ref_ms": (S.median(b.ref_ms), "ms", len(b.ref_ms)),
    }
    report.update(result.get("extra", {}))
    out = {"attempted": max(attempted, 1), "failed": failed,
           "report": report, "tables": []}
    if not b.trace:
        out["metrics"] = {name: {"value": report[name][0], "unit": unit}
                          for name, unit in END_TO_END
                          if report[name][0] is not None}
        return out
    layer, tables, dump = per_layer(b, ops)
    out["metrics"] = {name: {"value": layer[name], "unit": unit}
                      for name, unit in PER_LAYER}
    for name, unit in PER_LAYER:
        report[name] = (layer[name], unit, len(ops))
    out["tables"] = tables
    out["trace_dump"] = dump
    return out


def per_layer(b, ops):
    """Per-layer metrics of the reported ops. Spans and counts outside them
    (output checks, phase spans) are left out."""
    op_ids = {s.op for s in ops}
    spans = [s for s in b.store.spans if s["op"] in op_ids]
    c = defaultdict(int)
    for (op, key), n in b.store.counts.items():
        if op in op_ids:
            c[key] += n
    ev = T.parse_eventlog(b.evdir) if os.path.isdir(b.evdir) else {}

    def total(name):
        return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name)

    sp = defaultdict(float)
    for gid, a in ev.items():
        if gid in op_ids:
            for k, v in a.items():
                sp[k] += v
    by_layer = S.layer_self_times(spans)
    per_op = S.layer_self_times(spans, key=lambda s: (s["op"], s["layer"]))
    op_spans = [(s["t0"], s["t1"]) for s in spans
                if s["layer"] == "driver" and s["name"] != "construct"]
    busy = S.union_length(op_spans, min((a for a, _ in op_spans), default=0),
                          max((z for _, z in op_spans), default=0))
    cat = defaultdict(float)
    for oid, info in b.info.items():
        if oid in op_ids:
            for k, v in info.items():
                cat[k] += v
    gap = 0.0
    for s in ops:
        if s.op in b.info:
            gap += s.wall - per_op_total(spans, s.op, "construct") \
                - per_op_total(spans, s.op, "catalyst") \
                - ev.get(s.op, {}).get("job_s", 0.0)
    tasks = c["scan.tasks"]
    plain, traced = b.overhead or (None, None)
    m = {
        "catalog.load_s": total("catalog.load_table"),
        "catalog.load_n": c["catalog.load_n"],
        "catalog.commit_s": total("catalog.commit_table"),
        "catalog.commit_n": c["catalog.commit_n"],
        "catalog.conflict_n": c["catalog.conflict_n"],
        "table.retry_wait_s": total("table.retry_wait"),
        "table.commit_attempts_per_op": (
            c["table.commit_attempts"] / c["table.commit_ops"]
            if c["table.commit_ops"] else 0.0),
        "scan.plan_s": total("scan.plan_files"),
        "scan.plan_n": c["scan.plan_n"],
        "scan.manifests_total": c["scan.manifests_total"],
        "scan.manifests_skipped": c["scan.manifests_skipped"],
        "scan.files_total": c["scan.files_total"],
        "scan.files_skipped_partition": c["scan.files_skipped_partition"],
        "scan.files_skipped_metrics": c["scan.files_skipped_metrics"],
        "scan.tasks": tasks,
        "scan.files_examined_per_task": (c["scan.files_total"] / tasks
                                         if tasks else 0.0),
        "scan.to_df_s": total("scan.to_df"),
        "manifest.decode_n": c["manifest.decode_n"],
        "manifest.decode_s": total("manifest.decode"),
        "manifest.cache_hit_ratio": S.cache_hit_ratio(
            c["manifest.decode_n"], c["manifest.touched_n"]),
        "write.data_files": c["write.data_files"],
        "write.data_bytes": c["write.data_bytes"],
        "write.delete_bytes": c["write.delete_bytes"],
        "write.meta_bytes": c["write.meta_bytes"],
        "write.avg_file_bytes": (c["write.data_bytes"] / c["write.data_files"]
                                 if c["write.data_files"] else 0.0),
        "write.write_data_files_s": total("write.write_data_files"),
        "write.collect_stats_s": total("write.collect_parquet_stats"),
        "write.write_manifest_s": total("write.write_manifest")
        + total("write.write_manifest_list"),
        "driver.construct_s": total("construct"),
        "driver.gap_s": gap,
        "catalyst.analysis_ms": cat["analysis_ms"],
        "catalyst.optimization_ms": cat["optimization_ms"],
        "catalyst.planning_ms": cat["planning_ms"],
        "spark.jobs": sp["jobs"], "spark.stages": sp["stages"],
        "spark.tasks": sp["tasks"], "spark.job_s": sp["job_s"],
        "spark.task_cpu_s": sp["task_cpu_s"], "spark.gc_s": sp["gc_s"],
        "spark.shuffle_bytes": sp["shuffle_bytes"],
        "spark.parallel_eff": (sp["task_run_s"] / (busy * cores())
                               if busy else 0.0),
        "python.exec_nodes": sp["python_exec_nodes"],
        "trace.ops": len(ops),
        "trace.overhead_pct": (100.0 * (traced - plain) / plain
                               if plain else 0.0),
    }
    for layer in TABLE_LAYERS:
        m[f"{layer}.self_s"] = by_layer.get(layer, 0.0)
    tables = self_time_table(b, ops, per_op, ev)
    dump = {"workload": b.workload, "seed": b.seed, "spans": spans,
            "counts": dict(c), "jobs_by_op": ev, "catalyst_by_op": b.info,
            "metrics": m, "tables": tables}
    return m, tables, dump


def per_op_total(spans, op, name):
    return sum(s["t1"] - s["t0"] for s in spans
               if s["op"] == op and s["name"] == name)


def self_time_table(b, ops, per_op, ev):
    """Mean self seconds per layer for each op type, most expensive
    first."""
    groups = defaultdict(list)
    for s in ops:
        if s.ok:
            groups[s.kind].append(s)
    rows = sorted(groups.items(),
                  key=lambda kv: -sum(s.wall for s in kv[1]) / len(kv[1]))
    head = ("op", "n", "wall") + TABLE_LAYERS + ("job_s", "jobs")
    lines = ["# self time per op (mean seconds per op, traced run)",
             "| " + " | ".join(head) + " |",
             "|" + "---|" * len(head)]
    for key, ss in rows:
        n = len(ss)
        vals = [sum(per_op.get((s.op, layer), 0.0) for s in ss) / n
                for layer in TABLE_LAYERS]
        job_s = sum(ev.get(s.op, {}).get("job_s", 0.0) for s in ss) / n
        jobs = sum(ev.get(s.op, {}).get("jobs", 0) for s in ss) / n
        cells = [key, str(n), f"{sum(s.wall for s in ss) / n:.4f}"] + [
            f"{v:.4f}" for v in vals] + [f"{job_s:.4f}", f"{jobs:.1f}"]
        lines.append("| " + " | ".join(cells) + " |")
    return lines
