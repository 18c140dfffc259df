#!/usr/bin/env python
"""Per-query measurement harness for the optimization rounds (guide §1):
times individual registry queries with the noop sink (best-of-N), counts
the Spark jobs of each call through a job group (printed as ``jobs=N``
beside ``TIMING``; the last rep's count) and the classes codegen compiled
during it (``compiles=N``, also the last rep's), and optionally dumps
.explain("formatted") to a file per query.

bench.py is FROZEN for driver measurement; this file exists so targeted
before/after numbers and plan captures never touch it.

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 --reps 2 \
      --queries pii_scrub,dedup_clusters [--explain plans/r07 --suffix _before]
  python bench_extra.py --sf /root/testdata/sf1.0 --all
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--queries", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--explain", default="", help="directory for explain dumps")
    ap.add_argument("--suffix", default="", help="explain filename suffix, e.g. _before")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    from distributed_crawler_spark.plans import registry
    from distributed_crawler_spark.session import codegen_compile_count, get_spark

    spark = get_spark(cores=args.cpus, app_name="bench-extra")
    names = (
        list(registry.QUERIES)
        if args.all
        else [n for n in args.queries.split(",") if n]
    )
    if not args.no_warm:
        spark.range(1000).selectExpr("sum(id)").collect()
        registry._cached_index(spark, args.sf)
        registry._cached_multifield_raw_index(spark, args.sf)

    sc = spark.sparkContext
    out: dict[str, float] = {}
    jobs: dict[str, int] = {}
    compiles: dict[str, int] = {}
    for name in names:
        fn = registry.QUERIES[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf)
            with open(
                os.path.join(args.explain, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                ))
        best = None
        for rep in range(args.reps):
            # one job group per call: its job count covers the DataFrame
            # build (eager checkpoints, schema inference) and the write
            group = f"bench-extra-{name}-{rep}"
            sc.setJobGroup(group, f"bench-extra: {name}")
            c0 = codegen_compile_count(spark)
            t0 = time.monotonic()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
            compiles[name] = codegen_compile_count(spark) - c0
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        out[name] = round(best, 3)
        print(
            f"TIMING {name} {out[name]} jobs={jobs[name]} compiles={compiles[name]}",
            flush=True,
        )
    print(json.dumps({
        "sf": args.sf, "cpus": args.cpus, "queries": out, "jobs": jobs,
        "compiles": compiles,
        "total": round(sum(out.values()), 3),
    }))


if __name__ == "__main__":
    main()
