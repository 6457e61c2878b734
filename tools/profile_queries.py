#!/usr/bin/env python
"""Per-query optimization profiler (guide §1: measure first).

For each named query (default: the bench HEADLINE list) this times, in a
warm session, the two components the bench's single number conflates:

  t_build  — queries[name](spark, sf_dir): plan construction, INCLUDING any
             eager driver-side work (collects, fixture encoding, index
             memo builds on first touch)
  t_noop   — df.write.format("noop") of the returned frame (guide §1.4:
             computes every column, no sink cost)
  t_count  — df.count() (what bench.py actually times)

plus `jobs`, the Spark jobs one build + noop write schedules (each rep
runs under its own job group; threads the query starts itself are not
counted), and (with --plans DIR) the
.explain("formatted") text for the judge's plan evidence.

Usage:
    python tools/profile_queries.py [--sf DIR] [--plans DIR] [--suffix S]
                                    [--reps N] [q150 q155 ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plans", default=None,
                    help="dump explain('formatted') per query into DIR")
    ap.add_argument("--suffix", default="before",
                    help="plan filename suffix (before|after)")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    import bench as bench_mod
    import __spark_entry__ as entry
    from ocr_vector_db_spark.session import get_spark

    spark = get_spark("profile_queries")
    queries = entry.queries()
    names = args.names or [n for n in bench_mod.HEADLINE]
    short = {n.split("_", 1)[0]: n for n in queries}
    names = [short.get(n, n) for n in names]

    # warm: full pass over the profiled set (codegen + memoized builds)
    if not args.no_warm:
        for n in names:
            queries[n](spark, args.sf).count()

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    print(f"{'query':44s} {'build':>7s} {'noop':>7s} {'count':>7s} "
          f"{'jobs':>5s}")
    for n in names:
        spark.catalog.clearCache()
        queries[n](spark, args.sf).count()  # re-warm (bench methodology)
        bb = nn = cc = None
        for rep in range(args.reps):
            group = f"profile_queries:{n}:{rep}"
            sc.setJobGroup(group, n)
            t0 = time.time()
            df = queries[n](spark, args.sf)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            sc.setJobGroup(f"{group}:count", n)
            df2 = queries[n](spark, args.sf)
            t2b = time.time()
            df2.count()
            t3 = time.time()
            # job starts reach the tracker through the async listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            jobs = len(tracker.getJobIdsForGroup(group))
            b, no, c = t1 - t0, t2 - t1, t3 - t2b
            bb = b if bb is None or b < bb else bb
            nn = no if nn is None or no < nn else nn
            cc = c if cc is None or c < cc else cc
        print(f"{n:44s} {bb:7.3f} {nn:7.3f} {cc:7.3f} {jobs:5d}",
              flush=True)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            qshort = n.split("_", 1)[0]
            with open(os.path.join(args.plans,
                                   f"{qshort}_{args.suffix}.txt"), "w") as fh:
                fh.write(f"# {n} — explain('formatted'), sf={args.sf}\n")
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted")))


if __name__ == "__main__":
    main()
