"""Dedup-gate scale audit (round-12 verdict item 7): run the streaming
admission gate solo on a deterministically ENLARGED corpus and print
wall time + the admitted/rejected tally, so a 32-core and an 8-core run
can be compared when data (not engine fixed cost) dominates.

The enlarged corpus is documents x4: the original text plus three
deterministic transforms (reverse, upper, reverse(upper)) under shifted
doc ids. Each transform preserves the corpus's internal near-duplicate
structure (near-dups stay near-dups within a copy) while the copies are
mutually non-similar at the shingle level (different character
sequences), so volume scales ~4x without a quadratic cross-copy pair
explosion. Everything is a pure function of the input, so the
admitted set is identical at any core count — the tally printed here
is the invariance check.

Usage: SPARK_GRAFT_CPUS=32 python tools/gate_scale_probe.py
       SPARK_GRAFT_CPUS=8  python tools/gate_scale_probe.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.session import get_spark
    from rat_strain_loader_pipeline_spark.ship import ensure_shipped
    from rat_strain_loader_pipeline_spark.sources.tables import read_table
    from rat_strain_loader_pipeline_spark.staging import _stage_root
    from rat_strain_loader_pipeline_spark.streaming import stream_partition_scope
    from rat_strain_loader_pipeline_spark.streaming.dedup_gate import (
        dedup_gate_available_now,
    )

    spark = get_spark("gate-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    ensure_shipped(spark)

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    if max_id is None:
        sys.exit(f"gate_scale_probe: no rows in {sf_dir}/documents; nothing to enlarge")
    n = max_id + 1
    corpus = docs
    for i, expr in enumerate(
        ("reverse(text)", "upper(text)", "reverse(upper(text))"), start=1
    ):
        corpus = corpus.unionByName(
            docs.select(
                (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
                F.expr(expr).alias("text"),
            )
        )

    work = os.path.join(_stage_root(), f"gate-scale-{uuid.uuid4().hex[:8]}")
    src_dir = os.path.join(work, "src")
    try:
        # id-ordered arrival in 4 batches (same ordering idiom as the entry
        # query: sequential single-file writes, lower ids first)
        bounds = [n, 2 * n, 3 * n, 4 * n + 1]
        lo = 0
        for i, hi in enumerate(bounds):
            corpus.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.parquet(os.path.join(src_dir, f"p{i}"))
            lo = hi

        cpus = spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        with stream_partition_scope(spark):
            out = dedup_gate_available_now(
                spark,
                src_dir + "/p*",
                work,
                jaccard_threshold=0.5,
                max_files_per_trigger=1,
            )
            tally = sorted(
                (r["admitted"], r["count"])
                for r in out.groupBy("admitted").count().collect()
            )
        dt = time.perf_counter() - t0
    finally:
        # the 4x corpus and the gate's state are only needed for the tally
        shutil.rmtree(work, ignore_errors=True)
    n_docs = corpus.count()
    print(
        f"cores={cpus} docs={n_docs} batches=4 gate_wall={dt:.2f}s tally={tally}"
    )


if __name__ == "__main__":
    main()
