"""Parquet staging barriers.

A pipeline stage barrier must (a) stop Catalyst alias-substitution and
predicate pushdown from composing giant expressions across stages, and
(b) let multiple consumers read the stage output without recomputing it.

Measured on 592k rows x 35 cols (local[32], sf0.1):
- ``persist()``          → ~30 s  (row-at-a-time columnar cache build)
- ``localCheckpoint()``  → ~28 s  (boxing rows into deserialized blocks)
- parquet write + read   → ~2 s   (vectorized writer/reader)

So the engine stages through parquet — which is also the honest design
at cluster scale: the reference pipeline lands every stage in staging
tables, and a 100 TB Spark deployment would land them in parquet/Delta.

Stages are written under a per-process temp dir (``_stage_root``).
Nothing deletes them, neither while the process runs nor after it
exits: a long-lived process accumulates every stage it wrote.

The read-back passes the schema the stage was written with. Spark
would otherwise infer it by reading the parquet footers back, which
costs one Spark job per barrier; the written schema is already known
and the inferred one equals it (tests/test_store.py pins both the
schema and the rows).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame

_STAGE_ROOT: str | None = None


def _stage_root() -> str:
    global _STAGE_ROOT
    if _STAGE_ROOT is None:
        _STAGE_ROOT = tempfile.mkdtemp(prefix=f"rat_strain_loader_pipeline_spark-stage-{os.getpid()}-")
    return _STAGE_ROOT


def stage_to_parquet(df: DataFrame, label: str = "stage") -> DataFrame:
    """Materialize ``df`` to a temp parquet dir and read it back.

    Full lineage truncation: downstream plans see a plain parquet scan.
    """
    return stage_to_parquet_path(df, label)[0]


def stage_to_parquet_path(
    df: DataFrame, label: str = "stage"
) -> tuple[DataFrame, str]:
    """``stage_to_parquet`` variant that also returns the staged
    directory path — for build-once memo stores that re-open the
    artifact later. Returning the path directly avoids deriving it
    from ``inputFiles()``, which is empty for an empty result (no data
    files written) and scheme-prefixed (``file:``) otherwise."""
    path = os.path.join(_stage_root(), f"{label}-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path), path
