"""Local replica of the driver's correctness gate: run every queries() entry
and its oracle_sql() twin via DuckDB on the same parquet tables; compare row
count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [only_query ...]

With no query filter, also writes CORRECTNESS_LOCAL.json at the repo root —
the full-N artifact (the external driver grades only the first 50 queries()
entries, so this records the tail's per-round evidence; commit it as
CORRECTNESS_LOCAL_r<N>.json each round).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

# this checkout first, whichever directory it lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from iceberg_rust_spark.session import get_spark

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    tag = os.path.basename(sf_dir.rstrip("/"))
    if tag != "sf0.01":
        os.environ["SPARK_GRAFT_ORACLE_TAG"] = tag
    only = set(sys.argv[2:])
    spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        results[name] = {"status": "fail", "rows": None, "mode": "oracle",
                         "problems": []}
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {type(exc).__name__}: {str(exc)[:300]}")
            results[name]["problems"] = [f"spark error: {type(exc).__name__}"]
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(spark_rows)} rows "
                  f"({time.time()-t0:.1f}s)")
            results[name].update(status="pass", mode="rows-only",
                                 rows=len(spark_rows))
            n_pass += 1
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {str(exc)[:300]}")
            results[name]["problems"] = [f"duckdb error: {str(exc)[:120]}"]
            n_fail += 1
            continue
        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols {spark_cols} vs {duck_cols}")
        # ARROW-TYPE parity: the driver hashes typed values, so DuckDB
        # promoting an aggregate (integer SUM -> HUGEINT -> decimal128)
        # hash-fails even when the values match as strings — exactly the r2
        # events_sessions/events_variant incident. Compare type KINDS per
        # column and fail on numeric-kind mismatches.
        try:
            duck_schema = con.execute(
                f"DESCRIBE {oracles[name]}").fetchall()
            duck_types = {r[0]: r[1].upper() for r in duck_schema}
            spark_types = dict(df.dtypes)

            def kind(t: str) -> str:
                t = t.lower()
                if "decimal" in t or "hugeint" in t:
                    return "decimal"
                if t in ("bigint", "int", "integer", "smallint", "tinyint",
                         "long", "short", "byte", "ubigint", "uinteger"):
                    return "int"
                if t in ("double", "float", "real"):
                    return "float"
                return "other"
            for c in spark_cols:
                if c in duck_types:
                    ks, kd = kind(spark_types[c]), kind(duck_types[c])
                    if ks != kd and "other" not in (ks, kd):
                        problems.append(
                            f"type-kind mismatch on {c}: spark "
                            f"{spark_types[c]} vs duckdb {duck_types[c]} "
                            f"(driver hashes typed values — add casts)")
        except Exception:
            pass  # DESCRIBE unsupported for some statements; values decide
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount {len(spark_rows)} vs {len(duck_rows)}")
        if not problems:
            sk = rows_key(spark_rows, spark_cols)
            dk = rows_key(duck_rows, duck_cols)
            if sk != dk:
                diff = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            results[name]["problems"] = problems
            n_fail += 1
        else:
            print(f"ok {name}: {len(spark_rows)} rows ({time.time()-t0:.1f}s)")
            results[name].update(status="pass", rows=len(spark_rows))
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    if not only:
        import json
        out = {"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
               "n_total": len(results), "queries": results}
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "CORRECTNESS_LOCAL.json")
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
        print(f"wrote {path}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
