"""Ship the package to executors.

Pandas-UDF closures (consequence engine, minhash/simhash) are pickled
BY REFERENCE to this package, so Python workers must be able to
``import rat_strain_loader_pipeline_spark`` — true when the driver runs from the repo
root, false otherwise. ``ensure_shipped`` zips the package once per
SparkContext and registers it with ``addPyFile`` so every executor can
import it regardless of working directory. Idempotent and cheap
(~100 KB zip, built once). Spark serves the zip from its path while the
context lives, so it is deleted only at interpreter exit.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

from rat_strain_loader_pipeline_spark.staging import remove_at_exit

_SHIPPED_ATTR = "_rat_strain_loader_pipeline_spark_shipped"


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        remove_at_exit(zip_path)
    sc.addPyFile(zip_path)
    setattr(sc, _SHIPPED_ATTR, True)
