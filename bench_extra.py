#!/usr/bin/env python
"""Round-6 optimization harness — NOT the graded bench (bench.py is frozen).

Per-query isolation per guide §1: same session shape as bench.py, each
query timed with N trials after a warm run, and job labels for UI
attribution. Plan shapes are pinned by tests/test_plan_invariants.py.

Usage:
  python bench_extra.py [--sf-dir DIR] [--trials N] q1 q2 ...
  python bench_extra.py --list
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if os.path.isdir("/dev/shm"):
        os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

    from otlp_wire_spark.session import get_spark

    spark = get_spark(
        app_name="otlp-wire-spark-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from otlp_wire_spark.queries import QUERIES
    from otlp_wire_spark.queries_ext import QUERIES_EXT
    from otlp_wire_spark.queries_wire import QUERIES_WIRE

    all_queries = {**QUERIES, **QUERIES_EXT, **QUERIES_WIRE}
    if args.list:
        print("\n".join(sorted(all_queries)))
        return

    # same worker warmup as bench.py
    from pyspark.sql import functions as _F

    from otlp_wire_spark.operators.dedup import simhash16_arrow_col

    spark.range(50_000, numPartitions=cpus).select(
        simhash16_arrow_col(_F.col("id").cast("string")).alias("s")
    ).agg(_F.sum("s")).collect()

    out: dict[str, object] = {}
    for name in args.queries:
        fn = all_queries[name]
        spark.sparkContext.setJobDescription(f"{name}: warm")
        fn(spark, args.sf_dir).collect()
        durs = []
        for t in range(args.trials):
            spark.sparkContext.setJobDescription(f"{name}: trial {t}")
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).collect()
            durs.append(round(time.perf_counter() - t0, 3))
        out[name] = {"median": statistics.median(durs), "trials": durs}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf_dir": args.sf_dir, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
