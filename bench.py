"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Warehouse build (write path: partitioned appends, metric collection, deletes,
compaction) is timed separately as setup_sec; the headline metric is the sum
of query wall times on a warm session.

Noise-controlled protocol (r8): the r7 round read 1.16x of r6 from the
driver while the same HEAD read 0.92x on the builder's run — pure machine
load, but the old median-of-3-back-to-back protocol could not prove it.
Three changes make the number auditable:

- REP-MAJOR interleave: the whole suite runs once per repetition (rep 1 of
  every query, then rep 2 of every query, ...) so a transient load spike
  inflates one rep of many queries instead of every rep of one query —
  back-to-back reps gave correlated noise the aggregate could not reject.
- MIN-of-reps headline: the minimum is the noise floor (engine cost on a
  warm cache); external load only ever ADDS time, so min converges to the
  true cost as reps grow where the median tracks ambient load. Medians are
  still recorded in BENCH_DETAIL for drift analysis.
- Calibration: a fixed-work single-thread CPU probe + os.getloadavg()
  sampled before the loop and after every rep, emitted in BENCH_DETAIL.
  Two runs of the same HEAD are comparable iff their probe times agree
  (±10%); a slow probe says "slow machine", not "slow engine".
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from iceberg_rust_spark.session import get_spark

BENCH_QUERIES = [
    "iceberg_q1_pricing", "iceberg_q6_revenue", "iceberg_partition_prune",
    "iceberg_bucket_prune", "iceberg_delete_mor", "iceberg_delete_dv",
    "iceberg_merge", "iceberg_compaction", "iceberg_datasource_read",
    "iceberg_overwrite_dynamic", "iceberg_deleted_flag",
    "iceberg_fast_count", "iceberg_branch_read",
    "iceberg_nested_evolution", "iceberg_cdc_net", "iceberg_join_pruned",
    "iceberg_join_between",
    "q2_min_cost_supplier", "q3_shipping_priority", "q4_order_priority",
    "q5_region_revenue",
    "q7_nation_volume", "q8_market_share", "q9_nation_profit",
    "q10_returned_items", "q12_priority_shipping", "q14_promo_revenue",
    "q18_large_orders", "q19_discounted_revenue",
    "window_topn", "rollup_orders", "events_hourly",
    "events_sessions", "dedup_exact", "dedup_minhash", "dedup_embedding_lsh",
    "dedup_clusters", "doc_decontaminate",
    "text_quality", "text_tokens", "text_fingerprint", "text_tfidf",
    "doc_scrub", "doc_derep", "doc_boilerplate", "doc_para_dedup",
    "doc_substring_dedup",
    "doc_sample", "doc_quota", "doc_split", "doc_pack", "doc_mix",
    "doc_pipeline", "multimodal_audio",
    "multimodal_frames",
    "ann_cosine_topk", "ann_lsh_topk",
]


# Probe wall on an IDLE core of the builder machine (min of 10 back-to-back
# runs, quiet loadavg). Normalized walls = min_wall * (REFERENCE_PROBE_SEC /
# min(run probes)): a loaded machine shows a larger probe, deflating its
# walls back to idle-equivalent, so cross-run ratios compare ENGINE cost,
# not ambient load.
REFERENCE_PROBE_SEC = 0.0846

# Parallelism-sensitive probe (r14): ~5 core-seconds of pure codegen'd CPU
# (xxhash64 chain over range()) spread over 64 partitions — no input I/O, no
# Python boundary, nothing the optimizer can collapse. Its wall scales with
# the worker count where the sf0.1 queries are driver/fixed-cost-bound, so
# the low-core/high-core ratio of THIS entry is the provable signal that
# local[$SPARK_GRAFT_CPUS] is honored (r13's scaling block was all ~1.0
# ratios purely because every query is sub-second at sf0.1). Timed with the
# identical min-of-reps protocol and reported in the JSON line's `queries`
# dict as an ADDED entry, but EXCLUDED from the headline `value` so round-
# over-round totals stay comparable (it measures the harness contract, not
# an engine operator).
PARALLEL_PROBE = "parallel_scaling_probe"


def _parallel_probe_df(spark):
    from pyspark.sql import functions as F
    h = "id"
    for _ in range(6):
        h = f"xxhash64({h})"
    # sum a bounded residue, not the raw hash: the session runs ANSI mode
    # and a long-sum of 96M full-range hashes overflows
    return (spark.range(0, 96_000_000, 1, 64)
            .selectExpr(f"pmod({h}, 1048576) AS h")
            .agg(F.sum("h").alias("s")))


def _calibration_probe() -> float:
    """Fixed single-thread CPU work (~0.1-0.2 s on an idle core): numpy
    matmuls + a pure-python loop, so both BLAS contention and interpreter
    contention register. Returns wall seconds — the machine-speed meter."""
    import numpy as np
    t0 = time.perf_counter()
    a = np.random.default_rng(0).random((256, 256))
    for _ in range(30):
        a = (a @ a) % 1.0
    acc = 0
    for i in range(200_000):
        acc += (i * i) % 7
    assert acc >= 0 and a.shape == (256, 256)
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    qs = entry.queries()

    t0 = time.time()
    entry._warehouse(spark, sf_dir)  # build iceberg fixtures once
    setup_sec = round(time.time() - t0, 3)

    # untimed warmup: first-touch costs (JVM codegen JIT, Python UDF worker
    # fork, page-cache fill per table) otherwise land on whichever timed
    # query runs first — especially when a cached warehouse makes setup a
    # no-op — and would swamp the steady-state numbers the bench is for.
    t0 = time.time()
    from iceberg_rust_spark.session import read_table as _rt
    for tbl in ("lineitem", "orders", "customer", "part", "supplier",
                "events", "documents", "embeddings"):
        _rt(spark, sf_dir, tbl).count()
    qs["iceberg_q1_pricing"](spark, sf_dir).count()   # iceberg scan + agg JIT
    qs["ann_lsh_topk"](spark, sf_dir).count()         # pandas-UDF worker fork
    warmup_sec = round(time.time() - t0, 3)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    # iteration aid: SPARK_GRAFT_BENCH_ONLY="a,b,c" times a subset with the
    # identical protocol (the headline artifact always runs the full list)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    global BENCH_QUERIES
    if only:
        keep = {q.strip() for q in only.split(",") if q.strip()}
        BENCH_QUERIES = [q for q in BENCH_QUERIES if q in keep]
    runs = {name: [] for name in BENCH_QUERIES}
    plans = {name: [] for name in BENCH_QUERIES}
    rows = {}
    probes = [_calibration_probe()]
    loadavg = [round(os.getloadavg()[0], 2)]
    for rep in range(reps):
        for name in BENCH_QUERIES:
            fn = qs[name]
            if rep == 0:
                # row count once, untimed; the TIMED action is a noop-sink
                # write so Catalyst cannot column-prune away the query's
                # actual work (a bare count() on a projection query times
                # only the scan)
                rows[name] = fn(spark, sf_dir).count()
            # split DRIVER-side planning (manifest walk, delete index,
            # metadata pruning — everything before the DataFrame exists)
            # from executor wall, so plateau-vs-trend questions on the
            # scan/delete path have a named cause
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            plans[name].append(t1 - t0)
            runs[name].append(t2 - t0)
        t0 = time.time()
        _parallel_probe_df(spark).write.format("noop") \
            .mode("overwrite").save()
        runs.setdefault(PARALLEL_PROBE, []).append(time.time() - t0)
        probes.append(_calibration_probe())
        loadavg.append(round(os.getloadavg()[0], 2))

    timings = {}
    medians = {}
    plannings = {}
    total = 0.0
    for name in BENCH_QUERIES:
        order = sorted(range(reps), key=lambda i: runs[name][i])
        best = order[0]
        med = order[len(order) // 2]
        timings[name] = round(runs[name][best], 3)
        medians[name] = round(runs[name][med], 3)
        plannings[name] = round(plans[name][best], 3)
        total += timings[name]
        print(f"# {name}: min {timings[name]}s (plan {plannings[name]}s) "
              f"median {medians[name]}s ({rows[name]} rows)", file=sys.stderr)

    # Read-path pair: the Spark 4 Python DataSource vs the native
    # scan.to_df on the SAME table + filter + aggregate, quantifying the
    # Arrow-batch overhead of the DataSource so the README can tell users
    # which read path to use when. Recorded in BENCH_DETAIL only.
    from pyspark.sql import functions as F

    def native_twin(spark_, sf_dir_):
        from iceberg_rust_spark import Table, expr as IE
        cat = entry._warehouse(spark_, sf_dir_)
        t = Table.load(cat, "db.orders_delmor")
        df = (t.scan(row_filter=IE.col("o_orderpriority") == "1-URGENT")
              .to_df(spark_))
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"),
            entry._sum_dec("o_totalprice", "sum_price"))

    read_pair = {}
    for label, fn in (("datasource", qs["iceberg_datasource_read"]),
                      ("native_scan", native_twin)):
        fn(spark, sf_dir).count()               # warm
        pair_runs = []
        for _ in range(reps):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            pair_runs.append(time.time() - t0)
        read_pair[label + "_sec"] = round(min(pair_runs), 3)
    print(f"# read_path_pair: {read_pair}", file=sys.stderr)

    # stdout line stays COMPACT (per-query headline only): r3's line carried
    # two dicts and the driver's bounded tail window truncated it mid-JSON
    # (BENCH_r03.json parsed: null). Full detail goes to BENCH_DETAIL.json.
    # the probe rides in `queries` (an ADDED entry per the driver contract)
    # but not in `value` — see PARALLEL_PROBE above
    timings[PARALLEL_PROBE] = round(min(runs[PARALLEL_PROBE]), 3)
    medians[PARALLEL_PROBE] = round(
        sorted(runs[PARALLEL_PROBE])[len(runs[PARALLEL_PROBE]) // 2], 3)
    sc = spark.sparkContext
    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(total, 3), "unit": "sec",
        "queries": timings, "sf": sf,
        # effective parallelism, emitted so the driver's low-core rerun can
        # PROVE $SPARK_GRAFT_CPUS is honored instead of inferring it from
        # per-query ratios (r13 scaling.suspect_cpus_ignored false-positive)
        "cpus": sc.defaultParallelism, "master": sc.master,
    }
    # probe-normalized walls: idle-equivalent numbers comparable across
    # runs taken under different machine load (see REFERENCE_PROBE_SEC)
    norm_factor = REFERENCE_PROBE_SEC / max(min(probes), 1e-6)
    normalized = {name: round(t * norm_factor, 3)
                  for name, t in timings.items()}
    detail = dict(summary, protocol=f"min-of-{reps}-rep-major",
                  queries_median=medians, queries_plan=plannings,
                  queries_normalized=normalized,
                  normalization={"reference_probe_sec": REFERENCE_PROBE_SEC,
                                 "run_probe_sec": min(probes),
                                 "factor": round(norm_factor, 4)},
                  reps=reps, setup_sec=setup_sec, warmup_sec=warmup_sec,
                  calibration={"probe_sec": probes, "loadavg_1m": loadavg},
                  read_path_pair=read_pair)
    # subset runs never overwrite the committed full-suite artifact
    detail_name = "BENCH_DETAIL_SUBSET.json" if only else "BENCH_DETAIL.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           detail_name), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
