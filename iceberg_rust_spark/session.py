"""SparkSession factory with scale-appropriate defaults.

Every knob here is chosen for the 100 TB target, then clamped for local[N]
testing: AQE on (runtime re-plan + skew-join), 128 MB scan partitions,
auto-broadcast for small dims, UTC session timezone (oracle parity), and
nanos-as-long so the ns-timestamp `events` table is readable (Spark has no ns
timestamp; we convert to micros explicitly — same lossy coercion the reference
applies to INT96, arrow/reader/pipeline.rs:201-216).
"""

from __future__ import annotations

import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def get_spark(app_name: str = "iceberg_rust_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cpus, 32)
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # opt-in event log for measurement sessions (perfbench/harness.py):
        # job/stage wall attribution without the UI. Off unless the env var
        # names a directory, so bench/driver sessions are unaffected.
        .config("spark.eventLog.enabled",
                "true" if os.environ.get("SPARK_GRAFT_EVENTLOG_DIR") else "false")
        .config("spark.eventLog.dir",
                os.environ.get("SPARK_GRAFT_EVENTLOG_DIR", "/tmp"))
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )


SESSION_MEMO_CAP = 256


class _SessionMemo(OrderedDict):
    """LRU of at most ``SESSION_MEMO_CAP`` values: ``get`` refreshes a
    key's recency, ``put`` evicts the oldest keys past the cap."""

    def get(self, key, default=None):
        if key not in self:
            return default
        self.move_to_end(key)
        return self[key]

    def put(self, key, value):
        self[key] = value
        self.move_to_end(key)
        while len(self) > SESSION_MEMO_CAP:
            self.popitem(last=False)
        return value


def session_memo(spark: SparkSession, name: str) -> _SessionMemo:
    """The session's LRU memo called ``name``. Memos hold lazy JVM
    DataFrames (and the rows collected from them), so they live on the
    session object and die with it instead of crossing JVMs."""
    memos = getattr(spark, "_irs_memos", None)
    if memos is None:
        memos = spark._irs_memos = {}
    return memos.setdefault(name, _SessionMemo())


def local_df(spark: SparkSession, rows, schema: str,
             parts: int | None = None) -> DataFrame:
    """Small driver-local DataFrame via the ARROW createDataFrame path.

    The plain ``spark.createDataFrame(list, schema)`` route materializes a
    serialized Python RDD sliced ``defaultParallelism`` ways, and every action
    re-evaluates every slice through a Python-worker handshake (~0.14 s per
    slice-evaluation, measured): a 2-row literal frame cost ~0.7 s per action
    on local[32] and serializes into core-count waves on smaller masters. The
    Arrow path ships one record batch per slice and evaluates JVM-side —
    ~8x cheaper per action here (guide §6 "Arrow for driver transfers").

    ``schema`` must be a flat DDL string ("a long, b string, ..."). Rows may
    be tuples/lists. Falls back to the classic path if pandas/Arrow cannot
    represent the values. ``parts``: optional coalesce for consumers that
    launch a Python task per partition (mapInPandas over a tiny fixture).
    """
    rows = list(rows)   # read once per column, and again by the fallback
    try:
        import pandas as pd
        from pyspark.sql.types import _parse_datatype_string
        st = _parse_datatype_string(schema)
        names = [f.name for f in st.fields]
        data = {n: [r[i] for r in rows] for i, n in enumerate(names)}
        # bytearray -> bytes: pyarrow represents both, but bytes is the
        # canonical binary scalar and round-trips everywhere
        for n in names:
            data[n] = [bytes(v) if isinstance(v, bytearray) else v
                       for v in data[n]]
        pdf = pd.DataFrame(data, columns=names, dtype=object)
        if spark.conf.get("spark.sql.execution.arrow.pyspark.enabled",
                          "false") != "true":
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        df = spark.createDataFrame(pdf, schema=st)
    except Exception:
        df = spark.createDataFrame(rows, schema)
    if parts is not None:
        df = df.coalesce(parts)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, normalizing the ns-timestamp events table:
    with nanosAsLong=true the `ts` column arrives as long nanos -> convert to
    micro-precision TIMESTAMP_NTZ (documented lossy, like the reference's
    INT96 coercion).

    The analyzed DataFrame is memoized per (session, dir, table): testdata
    parquet is immutable, so re-resolving the source on every call only
    repeats driver-side schema inference (footer reads + a py4j round-trip
    burst) — ~30-60ms per table that multi-table queries paid up to six
    times over. The cache lives on the session wrapper, so it dies with
    the session and never crosses JVMs."""
    memo = session_memo(spark, "read_table")
    key = (sf_dir, name)
    got = memo.get(key)
    if got is None:
        got = memo.put(key, _read_table_uncached(spark, sf_dir, name))
    return got


def _read_table_uncached(spark: SparkSession, sf_dir: str,
                         name: str) -> DataFrame:
    # The driver harness may pass a SparkSession it built itself (without
    # get_spark()'s configs), so the ns-readability conf must be applied in
    # the read path, not only the session factory — same place the reference
    # does its ns->us coercion (arrow/reader/pipeline.rs:201-216). This conf
    # is runtime-settable (verified): it only affects subsequent reads.
    # Guard with a get: an unconditional set() on every read invalidates
    # cached relations and measured ~10-30% per-query overhead on a warm
    # session; the get is a cheap no-invalidation RPC.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div: `/ 1000` would be double division, which rounds at
        # int64-nanosecond magnitudes and lands 1µs off for some values
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
            .cast("timestamp_ntz"))
    return df
