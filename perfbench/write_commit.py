"""write_commit: writes, reads and commits through the public ``Table`` API
on generated sf0.1 orders, in a table partitioned by bucket[4](o_custkey)
(the bucket transform runs in a pandas UDF on every write).

Single-writer phase (80% of ``--seconds``, whole cycles): a micro-batch
``append``, a merge-on-read ``delete_where``, a ``merge`` upsert, a
``compact``, an ``expire_snapshots`` and a ``read`` (load, scan, aggregate,
collect). Every write is followed by an untimed row-count check; the read
checks its own result (row count and price sum). Contention phase (10% of
``--seconds`` each): 1 and then 4 writer threads append their own batches
to one shared table, so commits race through the optimistic commit loop.

User bytes, the base of ``bytes_per_user_byte``, are the Arrow in-memory
size of the rows handed to ``append`` and ``merge`` in the single-writer
phase; written bytes are everything the table directory grew by in that
phase (data, delete, manifest, manifest-list and metadata files)."""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.compute as pc

from perfbench import datagen
from perfbench import trace as T

SF = 0.1
BASE_ROWS = 20_000       # orders rows in the table before the first op
APPEND_ROWS = 2_000      # rows per micro-batch append
DELETE_ROWS = 200        # base keys per MOR delete
UPDATE_ROWS = 400        # live base keys a merge updates
INSERT_ROWS = 100        # new keys a merge inserts
CONTEND_ROWS = 500       # rows per contention append
CONTEND_BASE = 5_000     # rows in the contended table before the phase
BUILDS = 5
# retries are part of what the contention phase measures; with the
# default of 4 a burst of conflicts could fail an op
TABLE_PROPS = {"commit.retry.num-retries": "20"}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def price_sum(rows: pa.Table) -> float:
    return pc.sum(rows["o_totalprice"]).as_py() or 0.0


class Keys:
    """Hands out orders rows with fresh keys: the generated rows past the
    base, again and again, under keys no row has had."""

    def __init__(self, orders: pa.Table):
        self.src = orders.slice(BASE_ROWS)
        self.pos = 0
        self.next_key = orders.num_rows
        self.lock = threading.Lock()

    def take(self, n: int) -> pa.Table:
        with self.lock:
            if self.pos + n > self.src.num_rows:
                self.pos = 0
            rows = self.src.slice(self.pos, n)
            self.pos += n
            keys = pa.array(range(self.next_key, self.next_key + n),
                            pa.int64())
            self.next_key += n
        return rows.set_column(0, "o_orderkey", keys)


def _df(spark, rows: pa.Table):
    return spark.createDataFrame(rows.to_pandas())


def _create(spark, cat, ident: str, rows: pa.Table):
    from iceberg_rust_spark import PartitionField, PartitionSpec, Table
    from iceberg_rust_spark.functions.transforms import parse_transform
    from iceberg_rust_spark.sources.types import schema_from_spark
    df = _df(spark, rows)
    s = schema_from_spark(df.schema)
    spec = PartitionSpec(0, [PartitionField(
        s.field_by_name("o_custkey").field_id, 1000, "o_custkey_bucket",
        parse_transform("bucket[4]"))])
    t = Table.create(cat, ident, s, spec).update_properties(TABLE_PROPS)
    return t.append(spark, df)


def count_rows(spark, cat, ident: str) -> int:
    from iceberg_rust_spark import Table
    return Table.load(cat, ident).to_df(spark).count()


def run(b) -> dict:
    from pyspark.sql import functions as F

    from iceberg_rust_spark import FileSystemCatalog, Table, expr as E

    orders = datagen.orders(b.seed, SF)
    base = orders.slice(0, BASE_ROWS)
    spark = b.start_spark()

    # the first build also warms the JIT for create and append; the median
    # of the builds leaves it out
    b.job_group("setup")
    builds = []
    for i in range(BUILDS):
        wh = os.path.join(b.work, f"warehouse{i}")
        t0 = time.perf_counter()
        _create(spark, FileSystemCatalog(wh), "db.orders", base)
        builds.append(time.perf_counter() - t0)
    b.report.append("set-up builds (s): "
                    + " ".join(f"{s:.3f}" for s in builds))

    cat = FileSystemCatalog(wh)
    keys = Keys(orders)
    state = {"t": Table.load(cat, "db.orders"), "rows": BASE_ROWS,
             "price": price_sum(base), "cycle": 0, "user_bytes": 0}
    loc = state["t"].location

    def write(kind, fn, rows, price):
        with b.op(kind) as op_id:
            state["t"] = fn(state["t"])
        if b.failed(op_id):
            return
        state["rows"] += rows
        state["price"] += price
        b.job_group(f"check-{op_id}")
        got = count_rows(spark, cat, "db.orders")
        b.check(f"rows after {kind} {op_id}", got == state["rows"],
                f"{got} rows, expected {state['rows']}")

    def read():
        """A user's read of the table, timed in the layers it crosses."""
        tr = b.tracer

        def span(name, layer):
            return tr.span(name, layer) if tr else nullcontext()
        with b.op("read") as op_id:
            with span("construct", "driver"):
                df = (Table.load(cat, "db.orders").to_df(spark)
                      .groupBy("o_orderstatus")
                      .agg(F.count("*").alias("n"),
                           F.sum("o_totalprice").alias("price")))
            if tr:
                with span("catalyst", "catalyst"):
                    b.info[op_id] = T.plan_query(df)
            with span("action", "spark"):
                got = df.collect()
        if b.failed(op_id):
            return
        n = sum(r["n"] for r in got)
        price = sum(r["price"] for r in got)
        b.check(f"read {op_id}", n == state["rows"] and math.isclose(
            price, state["price"], rel_tol=1e-9),
            f"{n} rows, price sum {price:.2f}; expected {state['rows']}, "
            f"{state['price']:.2f}")

    def cycle(_i):
        c = state["cycle"]
        state["cycle"] += 1
        # cycle c deletes base keys [c*200, c*200+200) and updates base keys
        # [10000+c*400, 10000+c*400+400): each key is touched once
        half = BASE_ROWS // 2
        lo, up = c * DELETE_ROWS, half + c * UPDATE_ROWS
        if up + UPDATE_ROWS > BASE_ROWS:
            raise RuntimeError("the run outlasted the workload's key space")
        batch = keys.take(APPEND_ROWS)
        state["user_bytes"] += batch.nbytes
        df = _df(spark, batch)
        write("append", lambda t: t.append(spark, df), APPEND_ROWS,
              price_sum(batch))
        pred = (E.col("o_orderkey") >= lo) & (E.col("o_orderkey")
                                              < lo + DELETE_ROWS)
        write("delete", lambda t: t.delete_where(spark, pred, mode="mor"),
              -DELETE_ROWS, -price_sum(base.slice(lo, DELETE_ROWS)))
        upd = base.slice(up, UPDATE_ROWS)
        upd = upd.set_column(3, "o_totalprice",
                             pc.add(upd["o_totalprice"], 1.0))
        new = keys.take(INSERT_ROWS)
        src = pa.concat_tables([upd, new])
        state["user_bytes"] += src.nbytes
        sdf = _df(spark, src)
        write("merge", lambda t: t.merge(spark, sdf, ["o_orderkey"]),
              INSERT_ROWS, UPDATE_ROWS * 1.0 + price_sum(new))
        write("compact", lambda t: t.compact(spark), 0, 0.0)
        write("expire", lambda t: t.expire_snapshots(retain_last=5), 0, 0.0)
        read()

    # untimed warm-up: one checked cycle, so the first timed ops do not pay
    # for JIT compilation
    t0 = time.perf_counter()
    b.phase = "warmup"
    cycle(-1)
    b.report.append(f"warm-up cycle {time.perf_counter() - t0:.2f} s")
    b.reset_rss_peak()

    bytes0 = dir_bytes(loc)
    walls = b.passes(cycle, 0.8 * b.seconds, label="single")
    written = dir_bytes(loc) - bytes0

    def contend(writers: int, seconds: float):
        """Each writer appends its own batches until ``seconds`` have
        passed; returns (committed appends per second of phase wall, rows
        appended)."""
        kind = f"contend{writers}w"
        appended = []
        span = (b.tracer.span(kind, "driver") if b.tracer
                else nullcontext())

        def writer(w, parent):
            t = Table.load(cat, "db.contend")
            while time.perf_counter() - start < seconds:
                df = _df(spark, keys.take(CONTEND_ROWS))
                with b.op(kind, f"w{w}", parent=parent) as op_id:
                    t = t.append(spark, df)
                if not b.failed(op_id):
                    appended.append(CONTEND_ROWS)
        with span as sid:
            start = time.perf_counter()
            threads = [threading.Thread(target=writer, args=(w, sid),
                                        name=f"writer{w}")
                       for w in range(writers)]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            wall = time.perf_counter() - start
        return len(appended) / wall, sum(appended)

    b.job_group("setup-contend")
    _create(spark, cat, "db.contend", base.slice(0, CONTEND_BASE))
    b.phase = "contend"
    rate1, rows1 = contend(1, 0.1 * b.seconds)
    rate4, rows4 = contend(4, 0.1 * b.seconds)
    b.job_group("check-final")
    got = count_rows(spark, cat, "db.contend")
    want = CONTEND_BASE + rows1 + rows4
    b.check("rows of the contended table", got == want,
            f"{got} rows, expected {want}")

    # a clean load (new catalog object) and full read of the table
    t = Table.load(FileSystemCatalog(wh), "db.orders")
    n, price = t.to_df(spark).agg(F.count("*"),
                                  F.sum("o_totalprice")).collect()[0]
    b.check("clean load and full read", n == state["rows"] and math.isclose(
        price, state["price"], rel_tol=1e-9),
        f"{n} rows, price sum {price:.2f}; expected {state['rows']}, "
        f"{state['price']:.2f}")

    from perfbench.stats import bytes_per_user_byte, percentile
    extra = {}
    for kind in ("append", "delete", "merge", "compact", "read"):
        w = [s.wall for s in b.measured(kind)]
        extra[f"{kind}_p50_s"] = (percentile(w, 0.5), "s", len(w))
    extra["commits_per_s_1w"] = (rate1, "1/s",
                                 len(b.measured("contend1w")))
    extra["commits_per_s_4w"] = (rate4, "1/s",
                                 len(b.measured("contend4w")))
    extra["bytes_per_user_byte"] = (
        bytes_per_user_byte(written, state["user_bytes"]), "ratio",
        len(walls))
    return {"setup": builds, "passes": walls, "extra": extra}
