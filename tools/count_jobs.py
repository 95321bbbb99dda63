"""Jobs and wall time per registry query — the noise-immune A/B metric
for action-count changes (job counts) next to the wall-time spread.

Usage: python tools/count_jobs.py [--sf DIR] [--reps N] q_name [...]

Prints per query: jobs for the FULL run (build + count action) of each
rep, and the min/median/max wall of the reps. Suite totals swing ±15%
from host noise, so compare medians, never single runs. Job ids are
counted via a fresh job group per rep, so concurrent sessions don't
pollute the count; caches are dropped between reps.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from databricks_flight_etl_spark.session import get_spark

    spark = get_spark("count-jobs")
    sc = spark.sparkContext
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = spark.range(256).repartition(int(sc.defaultParallelism))
    warm.mapInPandas(lambda it: it, warm.schema).count()

    qs = entrymod.queries()
    for name in args.queries:
        fn = qs[name]
        n_jobs, walls = [], []
        for _ in range(args.reps):
            group = str(uuid.uuid4())
            sc.setJobGroup(group, name)
            t0 = time.time()
            fn(spark, args.sf).count()
            walls.append(time.time() - t0)
            sc.setJobGroup(None, None)
            jids = sc.statusTracker().getJobIdsForGroup(group)
            n_jobs.append(len(jids))
            spark.catalog.clearCache()
        print(
            f"{name}: jobs={n_jobs} wall_median="
            f"{statistics.median(walls):.2f}s min={min(walls):.2f} "
            f"max={max(walls):.2f} reps={args.reps}"
        )


if __name__ == "__main__":
    main()
