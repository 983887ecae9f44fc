"""Time a subset of declared queries with bench.py's exact methodology
(the same ``prepare_session`` preamble, then fn + count once per query).

Usage: python tools/time_queries.py q1 q2 ...   [env: SPARK_GRAFT_SF_DIR]
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

    for name in names:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).count()
        print(f"{name}: {time.perf_counter() - t0:.3f}s", flush=True)


if __name__ == "__main__":
    main()
