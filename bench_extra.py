"""Isolated per-query measurement harness (optimization rounds).

NOT the driver's bench: bench.py is frozen for measurement.  This file
exists for guide §1 work — time ONE query with the noop sink, capture
its .explain("formatted"), run it N times warm, print per-run walls.

Usage:
  python bench_extra.py <query_name> [--sf-dir DIR] [--runs N]
      [--explain-out FILE] [--no-run]
  python bench_extra.py --list
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from bench import SF_DIR
    ap = argparse.ArgumentParser()
    ap.add_argument("query", nargs="?", default=None)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-out", default=None)
    ap.add_argument("--no-run", action="store_true",
                    help="only capture the plan, skip timing")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry
    qs = entry.queries()
    if args.list:
        print("\n".join(sorted(qs)))
        return
    if args.query not in qs:
        raise SystemExit(f"unknown query {args.query!r}; --list to see all")

    from phonlp_spark.pipeline.session import get_spark
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]",
                      app_name=f"bench_extra_{args.query}")
    spark.sparkContext.setLogLevel("ERROR")

    df = qs[args.query](spark, args.sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    if args.explain_out:
        with open(args.explain_out, "w") as f:
            f.write(plan)
        print(f"# plan -> {args.explain_out}", file=sys.stderr)
    else:
        print(plan, file=sys.stderr)

    if args.no_run:
        return
    walls = []
    for i in range(args.runs):
        spark.sparkContext.setJobDescription(
            f"bench_extra {args.query} run{i}")
        df = qs[args.query](spark, args.sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.time() - t0, 3))
    print(json.dumps({"query": args.query, "sf_dir": args.sf_dir,
                      "runs": walls, "min": min(walls)}))
    spark.stop()


if __name__ == "__main__":
    main()
