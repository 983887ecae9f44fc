"""SparkSession factory.

Local testing runs on ``local[32]``; the configuration is written for a
multi-executor cluster (AQE on, skew-join handling, Arrow for the few
pandas-UDF operators). Nothing here is local-mode-specific except the
master default, which the driver/environment may override. The driver
JVM starts from a class-data-sharing archive (``cds``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from rat_strain_loader_pipeline_spark import cds
from rat_strain_loader_pipeline_spark.cds import archive_state  # noqa: F401


def get_spark(app_name: str = "rat_strain_loader_pipeline_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Key choices (all scale-motivated, see SURVEY.md §4):
    - AQE enabled: runtime coalescing of shuffle partitions and skew-join
      splitting replace the reference's hand-shuffled chromosome lists
      (VariantPostProcessing.java:137).
    - shuffle.partitions sized for the test box; AQE coalesces down, and
      on a real cluster this would be ~2-3x total cores.
    - Arrow enabled for the pandas-UDF consequence engine.
    - Broadcast threshold raised: gene/transcript/feature dimension
      tables (~1e4-1e5 rows) should always broadcast, replacing the
      reference's in-memory caches (GeneCache.java:25-46).
    - A process that launches the driver JVM launches it from the
      class-data-sharing archive, or dumps one at exit (``cds``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "8g")

    def start(java_options: str | None) -> SparkSession:
        builder = (
            SparkSession.builder.appName(app_name)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", driver_memory)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        if java_options is not None:
            builder = builder.config("spark.driver.extraJavaOptions", java_options)
        if master is not None:
            builder = builder.master(master)
        elif not os.environ.get("SPARK_MASTER"):
            builder = builder.master(f"local[{cpus}]")
        return builder.getOrCreate()

    return cds.get_or_create(start, driver_memory)
