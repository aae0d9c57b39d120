"""One command for every workload of the benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Each run generates its inputs from the seed,
builds its tables with the code under test in a fresh directory under
``.perfbench_work/`` (removed at the end), checks every output, and prints
a report followed by one JSON line. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes, and reports
the per-layer metrics and the tracing overhead. The exit code is non-zero
when any op or output check fails. See perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("plan_meta", "write_commit")


def _env(work: str):
    """Keep every scratch file of Python, Spark and its JVM inside the run
    directory, and let Spark's Python workers import the repository."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files under /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile
    tempfile.tempdir = tmp


def _fmt(v):
    return "n/a" if v is None else (f"{v:.4f}" if isinstance(v, float)
                                    else str(v))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the program under test must be present; without it there is nothing
    # to measure and no result is printed
    import iceberg_rust_spark  # noqa: F401

    from perfbench import harness, metrics
    from perfbench import plan_meta, write_commit
    mod = {"plan_meta": plan_meta,
           "write_commit": write_commit}[args.workload]

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    _env(work)
    os.chdir(work)
    b = harness.Bench(args.workload, args.seed, args.seconds,
                      bool(args.trace), work)
    t_start = time.perf_counter()
    try:
        result = mod.run(b)
        b.end_trace()
        rss = harness.rss_peak_mb()
        b.stop_spark()
        out = metrics.assemble(b, result, rss)
    finally:
        b.end_trace()
        b.stop_spark()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    for line in b.report:
        print(f"# {line}")
    for name, ok, detail in b.checks:
        print(f"# check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for name, (value, unit, n) in out["report"].items():
        print(f"metric {name} = {_fmt(value)} {unit} (n={n})")
    for line in out.get("tables", []):
        print(line)
    if args.trace:
        path = os.path.join(ROOT, ".perfbench_out",
                            f"trace_{args.workload}_seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(out["trace_dump"], fh)
        print(f"# spans and tables written to {os.path.relpath(path, ROOT)}")
    print(f"# run took {time.perf_counter() - t_start:.1f} s")

    correct = all(ok for _, ok, _ in b.checks) and out["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
