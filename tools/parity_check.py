"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir; compare row count, column names, and order-insensitive values.

Usage: python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from phonlp_spark.pipeline.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    n_ok = n_bad = 0
    for status, name, detail in check_parity(spark, sf_dir, only):
        print(f"{status:<5} {name}: {detail}")
        n_ok += status == "OK"
        n_bad += status == "FAIL"
    print(f"\n{n_ok} ok, {n_bad} failed")
    spark.stop()
    sys.exit(1 if n_bad else 0)


def check_parity(spark, sf_dir, names=None):
    """Yield (status, name, detail) per queries() entry, restricted to
    ``names`` when given: status "OK" when the Spark rows equal the
    oracle_sql() rows run on DuckDB over the same sf dir, "FAIL" on an
    error or any mismatch, "rows" for an entry without an oracle."""
    with duckdb.connect() as con:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        qs, os_ = entry.queries(), entry.oracle_sql()
        for name, fn in qs.items():
            if names and name not in names:
                continue
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                cols = df.columns
                rows = df.collect()
            except Exception as ex:
                yield "FAIL", name, f"spark error: {ex}"
                continue
            if name not in os_:
                yield "rows", name, (f"{len(rows)} rows (no oracle) "
                                     f"[{time.time()-t0:.1f}s]")
                continue
            try:
                res = con.sql(os_[name])
                ocols = [c for c in res.columns]
                orows = res.fetchall()
            except Exception as ex:
                yield "FAIL", name, f"duckdb error: {ex}"
                continue
            if sorted(cols) != sorted(ocols):
                yield "FAIL", name, f"columns {sorted(cols)} != {sorted(ocols)}"
                continue
            a, b = rows_key(rows, cols), rows_key(orows, ocols)
            if len(a) != len(b):
                yield "FAIL", name, f"row count {len(a)} != {len(b)}"
            elif a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                yield "FAIL", name, f"value mismatch, e.g. {diff}"
            else:
                yield "OK", name, f"{len(a)} rows [{time.time()-t0:.1f}s]"


if __name__ == "__main__":
    main()
