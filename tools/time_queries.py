"""Time a subset of declared queries with bench.py's exact methodology
(the same ``prepare_session`` preamble, then fn + count once per query),
and count the Spark jobs each query runs: every query runs under a job
group of its own, so its count includes the jobs of building the plan,
any stage or build-once store it writes, and the final ``count()``.

Usage: python tools/time_queries.py q1 q2 ...   [env: SPARK_GRAFT_SF_DIR]
Prints one ``<name>: <seconds>s jobs=<n>`` line per query.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry_mod
    from bench import prepare_session
    from rat_strain_loader_pipeline_spark.session import get_spark

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    prepare_session(spark, sf_dir)

    sc = spark.sparkContext
    for i, name in enumerate(names):
        group = f"time-queries-{i}-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            queries[name](spark, sf_dir).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        secs = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"{name}: {secs:.3f}s jobs={jobs}", flush=True)


if __name__ == "__main__":
    main()
