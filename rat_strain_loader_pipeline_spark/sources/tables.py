"""Parquet table loading with schema quirks handled.

``read_table`` is the engine's canonical parquet scan. One quirk in the
driver testdata: ``events.ts`` is TIMESTAMP(NANOS), which Spark's
vectorized parquet reader rejects by default. We flip the session conf
``spark.sql.legacy.parquet.nanosAsLong`` and convert nanos → micros
timestamp ourselves, so callers always see a proper TimestampType.

``read_parquet_footer`` reads an outside parquet table (the CLI's
``--dims`` root) with the schema of its own footer, read on the driver,
instead of the inference job ``spark.read.parquet`` runs. It picks the
footer from ``leaf_files``, the driver-side listing of a file source's
leaf files that the VCF header read shares.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from rat_strain_loader_pipeline_spark.staging import build_once

# Tables whose single-file scan is worth spreading (see read_table).
_SPREAD_MIN_BYTES = 512 * 1024


def _spread(spark: SparkSession, path: str, name: str) -> DataFrame | None:
    """A multi-file copy of a dense single-split parquet file, or None
    when the file is small or already splits into enough tasks.

    A single parquet file under spark.sql.files.maxPartitionBytes scans
    as ONE task, so every narrow pipeline downstream (expressions,
    Python stages, stage writes) runs on one core. A per-query
    ``repartition()`` fixes parallelism but pays a sorted round-robin
    exchange on EVERY query; restaging pays one shuffle+write per
    process (a ``build_once`` store) and every later scan is natively
    parallel with no exchange. Genuinely large multi-split datasets
    keep their native splits.
    """
    try:
        size = os.path.getsize(path)
    except OSError:
        return None
    max_split = int(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")).rstrip("b")
    )
    target = spark.sparkContext.defaultParallelism
    if size < _SPREAD_MIN_BYTES or max(1, -(-size // max_split)) >= target:
        return None
    return build_once(
        spark,
        f"spread-{name}",
        (spark.sparkContext.applicationId, os.path.dirname(path)),
        lambda: spark.read.parquet(path).repartition(target),
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.ts is TIMESTAMP(NANOS); set proactively so the first read
        # attempt doesn't fail a task (works on any session, incl. the
        # driver's default-configured one)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _spread(spark, path, name)
    if df is None:
        df = spark.read.parquet(path)

    if name == "events":
        ts_field = df.schema["ts"] if "ts" in df.columns else None
        if ts_field is not None and isinstance(ts_field.dataType, LongType):
            # nanos-as-long → microsecond timestamp. MUST be integer
            # division: floor(ts / 1000) routes through a double whose
            # 53-bit mantissa loses sub-µs precision at ~1.7e18 nanos
            # (off-by-one µs vs DuckDB's exact truncation).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def leaf_files(spark: SparkSession, path: str):
    """``(hadoop_conf, leaves)``: the session's Hadoop configuration and
    a ``(uri, hadoop Path)`` pair for every file under ``path``, listed
    on the driver through its ``FileSystem`` and sorted by uri, as
    Spark's file sources list a table. A directory is listed
    recursively, skipping every file or directory name
    ``HadoopFSUtils.shouldFilterOutPathName`` hides (``_``/``.`` names
    except parquet summary files); a file path lists itself. A glob
    lists what it matches, less the hidden names. A missing path lists
    nothing."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    hidden = jvm.org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName
    fs = jpath.getFileSystem(conf)
    leaves = []
    globbed = any(c in path for c in "{}[]*?\\")  # SparkHadoopUtil.isGlobPath
    for matched in fs.globStatus(jpath) or []:
        if globbed and hidden(matched.getPath().getName()):
            continue
        root = matched.getPath().toString().rstrip("/")
        listed = fs.listFiles(matched.getPath(), True)
        while listed.hasNext():
            leaf = listed.next().getPath()
            name = leaf.toString()
            if not any(hidden(part) for part in name[len(root):].split("/") if part):
                leaves.append((name, leaf))
    return conf, sorted(leaves, key=lambda leaf: leaf[0])


def read_parquet_footer(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Non-merging inference lists the table's leaf files (skipping every
    file or directory name ``HadoopFSUtils.shouldFilterOutPathName``
    hides, which keeps summary files), sorts them by path, and converts
    one footer with ``ParquetFileFormat.readSchemaFromFooter`` inside a
    Spark job: the ``_common_metadata`` summary if there is one, else
    ``_metadata``, else the first data file. This picks the same file from the same
    listing and runs the same conversion on the driver, then reads with
    the result: a missing or retyped column surfaces exactly as it does
    under inference, and partition columns are still discovered from
    the directory names. A path with no file falls back to the
    inferring read, which raises its own error."""
    conf, leaves = leaf_files(spark, path)
    if not leaves:
        return spark.read.parquet(path)
    named = [(uri.rsplit("/", 1)[-1], leaf) for uri, leaf in leaves]
    summaries = ("_common_metadata", "_metadata")
    chosen = next(
        (leaf for name in summaries for base, leaf in named if base == name),
        next(leaf for base, leaf in named if base not in summaries),
    )
    jvm = spark._jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = jvm.org.apache.parquet.hadoop.Footer(
        chosen,
        jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            conf, chosen,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        ),
    )
    converter = parquet.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf())
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return spark.read.schema(StructType.fromJson(json.loads(schema.json()))).parquet(path)
