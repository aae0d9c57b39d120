"""Run context shared by the workloads: the Spark session, op timing with
job groups, output checks, pass loops, and the traced window."""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from perfbench import trace as T


@dataclass
class Sample:
    kind: str          # op type, e.g. "append", "cold"
    name: str          # op label, e.g. the table and predicate shape
    op: str            # op id, also the Spark job group
    wall: float
    ok: bool
    traced: bool
    phase: str


def rss_peak_mb() -> float:
    """Peak resident set size of this (driver) process since start-up or
    the last ``reset_rss_peak``."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc/self/status")


def reset_rss_peak() -> bool:
    """Reset the kernel's peak-RSS mark to the current RSS; False where the
    kernel does not allow it."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        return True
    except OSError:
        return False


def ref_loop_ms() -> float:
    """Milliseconds a fixed pure-Python loop takes now. It does not touch
    the program, so across runs it tracks the machine's speed (other
    tenants), which moves every timing of a run together."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1e3


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.work = work
        self.samples: list = []
        self.checks: list = []          # (name, ok, detail)
        self.report: list = []          # human-readable lines
        self.info: dict = {}            # op id -> Catalyst phase times
        self.overhead = None            # (untraced, traced) median pass
        self.ref_ms: list = []          # reference loop, once per pass
        self.tracer = None              # the span store while tracing is on
        self.store = None               # the span store of the run
        self.spark = None
        self._undo = None
        self._seq = itertools.count(1)
        self._lock = threading.Lock()
        self.phase = "measure"
        self.evdir = os.path.join(work, "eventlog")

    # ------------------------------------------------------------ Spark
    def start_spark(self):
        """local[nproc] session with its scratch space inside the run dir;
        the event log is on only in the traced run."""
        if self.trace:
            os.makedirs(self.evdir, exist_ok=True)
            os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = self.evdir
        from iceberg_rust_spark.session import get_spark
        self.spark = get_spark("perfbench", cpus=cores())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self):
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gw = sc._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def job_group(self, gid: str, desc: str = ""):
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(gid, desc)

    # ------------------------------------------------------------ ops
    @contextmanager
    def op(self, kind: str, name: str = "", parent=None):
        """Time one op. An op that raises counts as failed and the run goes
        on; its wall is not a latency sample."""
        op_id = f"op{next(self._seq)}"
        self.job_group(op_id, f"{kind}:{name}")
        tr = self.tracer
        span = (tr.span(name or kind, "driver", parent=parent, op=op_id)
                if tr else nullcontext())
        ok = True
        t0 = time.perf_counter()
        try:
            with span:
                yield op_id
        except Exception as exc:
            ok = False
            msg = f"{op_id} {kind} {name} raised {type(exc).__name__}: {exc}"
            self.report.append(msg[:400])
            print(f"OP FAILED {msg}", file=sys.stderr)
        finally:
            wall = time.perf_counter() - t0
            with self._lock:
                self.samples.append(Sample(kind, name, op_id, wall, ok,
                                           tr is not None, self.phase))

    def failed(self, op_id: str) -> bool:
        with self._lock:
            return any(s.op == op_id and not s.ok for s in self.samples)

    def reset_rss_peak(self):
        """Called when set-up ends: ``driver_rss_mb`` is the peak of the
        measured ops, not of data generation and table builds."""
        if not reset_rss_peak():
            self.report.append("peak RSS could not be reset; driver_rss_mb "
                               "includes set-up")

    def check(self, name: str, ok: bool, detail: str = ""):
        with self._lock:
            self.checks.append((name, bool(ok), detail))
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def passes(self, one_pass, seconds: float, label: str = "measure"):
        """Run ``one_pass()`` until ``seconds`` have elapsed (whole passes,
        at least one) and return, per pass, the sum of its op walls (the
        checks between ops are not part of it).

        In the traced run, untraced and traced passes alternate for twice
        ``seconds`` (at least one of each); the medians of the two give
        the tracing overhead, the traced sums are returned, and tracing
        stays on afterwards."""
        sums = {False: [], True: []}
        start = time.perf_counter()
        window = 2 * seconds if self.trace else seconds
        while (not sums[self.trace] or not sums[False]
               or time.perf_counter() - start < window):
            on = self.trace and len(sums[True]) < len(sums[False])
            if on:
                self.begin_trace()
            else:
                self.end_trace()
            self.phase = label if on or not self.trace \
                else f"{label}:untraced"
            self.ref_ms.append(ref_loop_ms())
            n0 = len(self.samples)
            one_pass(len(sums[on]))
            with self._lock:
                sums[on].append(sum(s.wall for s in self.samples[n0:]))
        for on, label_on in ((False, "untraced"), (True, "traced")):
            if sums[on]:
                self.report.append(
                    f"{label} pass op walls, {label_on} (s): "
                    + " ".join(f"{v:.3f}" for v in sums[on]))
        if not self.trace:
            return sums[False]
        self.begin_trace()
        from perfbench.stats import median
        self.overhead = (median(sums[False]), median(sums[True]))
        return sums[True]

    def begin_trace(self):
        """Turn the layer wrappers on; spans go to one store for the run."""
        if self._undo is None:
            if self.store is None:
                self.store = T.Tracer()
            self._undo = T.instrument(self.store)
            self.tracer = self.store

    def end_trace(self):
        if self._undo is not None:
            self._undo()
            self._undo = None
        self.tracer = None

    def window(self):
        """Ops of the reported window: not warm-up, and in the traced run
        only the traced loop."""
        return [s for s in self.samples
                if s.traced == self.trace and s.phase != "warmup"
                and not s.phase.endswith(":untraced")]

    def measured(self, kind=None):
        """Latency samples of successful ops in the reported window."""
        return [s for s in self.window()
                if s.ok and (kind is None or s.kind == kind)]
