"""Parquet-canonical variant store.

The reference's Oracle tables (SURVEY.md §1.2) become parquet table
directories under one root, partitioned to match the access patterns
the reference encodes procedurally:

- ``variant_map_data`` / ``variant_transcript`` / ``conservation``
  partition by ``(map_key, chromosome)`` — the reference runs one
  process per (mapKey, chr) and every post-processing/export query
  filters on both (VariantPostProcessing.java:157-286,
  Polyphen.java:135-355); under parquet those filters become partition
  PRUNING, scanning only the matching directories.
- ``variant_sample_detail`` partitions by ``sample_id`` — loads and
  the J5 anti-join are per-sample.
- ``variant`` (identity) has no placement columns by design (placement
  lives in variant_map_data, same as the reference schema) — unpartitioned.

Writes append (the reference's INSERT batches). ``commit_table``
replaces a table by one new version, swapped in atomically under the
same path (the reference's transactional fixup UPDATEs, K3);
``overwrite_partitions`` replaces only the partitions a frame holds
(dynamic partition overwrite).

The four variant-cycle tables have their schema declared once, in
``SCHEMAS`` (the ``schemas.py`` StructTypes). Reads pass it instead of
inferring it: inference reads parquet footers back in a Spark job of its
own, and types partition directories by their values (``chromosome=01``
would come back as ``'1'``). Writes are checked against it, so a frame
whose column is undeclared or differently typed fails at write time
rather than being read back wrongly later.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from rat_strain_loader_pipeline_spark.schemas import (
    VARIANT_MAP_DATA_SCHEMA,
    VARIANT_SAMPLE_DETAIL_SCHEMA,
    VARIANT_SCHEMA,
    VARIANT_TRANSCRIPT_SCHEMA,
)
from rat_strain_loader_pipeline_spark.staging import remove_failed_write

PARTITIONING: dict[str, tuple[str, ...]] = {
    "variant": (),
    "variant_map_data": ("map_key", "chromosome"),
    "variant_sample_detail": ("sample_id",),
    "variant_transcript": ("map_key",),
    "conservation": ("chr",),
    "snp_eff": ("sample_id",),
    "polyphen": (),
    "sequences": (),
}

# declared schemas: read without inference, writes checked against them
SCHEMAS: dict[str, StructType] = {
    "variant": VARIANT_SCHEMA,
    "variant_map_data": VARIANT_MAP_DATA_SCHEMA,
    "variant_sample_detail": VARIANT_SAMPLE_DETAIL_SCHEMA,
    "variant_transcript": VARIANT_TRANSCRIPT_SCHEMA,
}


# canonical types for partition columns of tables with no declared
# schema — parquet partition discovery type-infers directory values
# (chromosome=2 would come back as int while chromosome=X stays string);
# normalize on read
_PARTITION_TYPES = {
    "chromosome": StringType(),
    "chr": StringType(),
    "map_key": IntegerType(),
    "sample_id": IntegerType(),
}


def _path(root: str, table: str) -> str:
    return f"{root.rstrip('/')}/{table}"


def _check_declared(df: DataFrame, table: str) -> None:
    """Raise ``ValueError`` when ``df`` has a column that ``table``'s
    declared schema lacks or types differently (a subset of the declared
    columns may land; the read fills the rest with nulls)."""
    declared = SCHEMAS.get(table)
    if declared is None:
        return
    types = {f.name: f.dataType for f in declared.fields}
    bad = [
        f"{f.name} {f.dataType.simpleString()}"
        + (f" (declared {types[f.name].simpleString()})" if f.name in types else " (undeclared)")
        for f in df.schema.fields
        if types.get(f.name) != f.dataType
    ]
    if bad:
        raise ValueError(f"{table}: columns do not match the declared schema: {', '.join(bad)}")


def _writer(df: DataFrame, table: str, mode: str):
    """``df``'s writer with the table's canonical partitioning (columns
    not present are skipped, so projections of a table can still land)."""
    cols = [c for c in PARTITIONING.get(table, ()) if c in df.columns]
    w = df.write.mode(mode)
    return w.partitionBy(*cols) if cols else w


def write_table(df: DataFrame, root: str, table: str) -> None:
    """Append ``df`` into the store table. A failed append lands no file:
    its attempt tree ``<table>/_temporary`` is removed once the failed
    job's tasks have ended."""
    _check_declared(df, table)
    try:
        _writer(df, table, "append").parquet(_path(root, table))
    except BaseException:
        remove_failed_write(df.sparkSession, os.path.join(_path(root, table), "_temporary"))
        raise


def commit_table(df: DataFrame, root: str, table: str) -> None:
    """Replace ``table``'s rows with ``df``'s as a new version of it.

    ``df`` (which may read the table) is written with the table's
    partitioning into a fresh sibling ``<table>.v<id>``, outside the
    table path (so partition discovery and ``<table>/*`` globs, which
    follow the link, see one version). One ``os.replace`` of a new
    symlink then points the table path at it, atomically on POSIX, and
    the version it replaced is deleted (that one only). A failed write
    leaves the table as it was and no version behind. A plain table
    directory (``write_table`` makes one; ``shutil.copytree`` copies a
    link as one) is first renamed to a version, and the path is missing
    until the swap: a plain table's first commit is the one non-atomic
    step."""
    _check_declared(df, table)
    _commit(df, root, table)


def _commit(df: DataFrame, root: str, table: str, **options) -> None:
    path = _path(root, table)
    version = f"{table}.v{uuid.uuid4().hex[:12]}"
    try:
        _writer(df, table, "errorifexists").options(**options).parquet(_path(root, version))
    except BaseException:
        remove_failed_write(df.sparkSession, _path(root, version))
        raise
    link = _path(root, f".{version}.link")
    os.symlink(version, link)
    old = os.path.join(root, os.readlink(path)) if os.path.islink(path) else None
    if old is None and os.path.isdir(path):
        old = _path(root, f"{table}.v{uuid.uuid4().hex[:12]}")
        os.rename(path, old)
    os.replace(link, path)
    if old is not None:
        shutil.rmtree(old)


def overwrite_partitions(df: DataFrame, root: str, table: str) -> None:
    """Replace ONLY the partitions present in ``df`` (dynamic partition
    overwrite) — the K3 recompute-and-overwrite sink for fixups: a
    chromosome's recomputed rows replace that chromosome's directory,
    every other partition's files are untouched."""
    _check_declared(df, table)
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    cols = [c for c in PARTITIONING.get(table, ()) if c in df.columns]
    if not cols:
        raise ValueError(f"table {table!r} has no partition columns to overwrite by")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*cols).parquet(_path(root, table))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_table(
    spark: SparkSession,
    root: str,
    table: str,
    map_key: int | None = None,
    chromosome: str | None = None,
    sample_id: int | Sequence[int] | None = None,
) -> DataFrame:
    """Read a store table; the keyword filters land on partition columns
    where the table has them, so they prune directories instead of
    scanning (F2 chromosome filter → partition pruning). ``sample_id``
    may be one id or several. A table in ``SCHEMAS`` is read with its
    declared schema: no inference job, and partition values keep the
    declared type.

    When a filter on the table's leading partition column names no
    ``<col>=<value>`` directory that exists, the read is
    ``empty_relation`` of the schema the scan would have had, planned
    with no scan (and no broadcast of one) over no files."""
    declared = SCHEMAS.get(table)
    reader = spark.read if declared is None else spark.read.schema(declared)
    df = reader.parquet(_path(root, table))
    leading = next(iter(PARTITIONING.get(table, ())), None)
    absent = False
    for col, val in (("map_key", map_key), ("chromosome", chromosome), ("sample_id", sample_id)):
        if val is None or col not in df.columns:
            continue
        vals = [val] if isinstance(val, (int, str)) else list(val)
        df = df.filter(F.col(col) == vals[0] if len(vals) == 1 else F.col(col).isin(vals))
        if col == leading and not any(
            os.path.isdir(os.path.join(_path(root, table), f"{col}={v}")) for v in vals
        ):
            absent = True
    if declared is None:
        casts = {
            c: F.col(c).cast(t)
            for c, t in _PARTITION_TYPES.items()
            if c in df.columns and c in PARTITIONING.get(table, ())
        }
        df = df.withColumns(casts) if casts else df
    return empty_relation(spark, df.schema) if absent else df


def empty_relation(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame Catalyst can see is empty: the ``limit(0)`` makes
    it a ``LocalRelation``, so joins against it fold away instead of
    planning shuffles or broadcasts over empty partitions."""
    return spark.createDataFrame([], schema).limit(0)


def _read_as_stored(spark: SparkSession, root: str, table: str) -> DataFrame:
    """Every column the table's files hold, as their footer types them,
    with the partition columns typed as declared (``SCHEMAS``, else
    ``_PARTITION_TYPES``) instead of inferred from directory names — so
    ``chromosome=01`` stays ``'01'``. The footer is read on the driver
    (``read_parquet_footer``), so no inference job runs."""
    from rat_strain_loader_pipeline_spark.sources.tables import read_parquet_footer

    types = {**_PARTITION_TYPES, **{f.name: f.dataType for f in SCHEMAS.get(table, [])}}
    parts = PARTITIONING.get(table, ())
    stored = read_parquet_footer(spark, _path(root, table)).schema
    schema = StructType([
        StructField(f.name, types[f.name], f.nullable) if f.name in parts and f.name in types else f
        for f in stored.fields
    ])
    return spark.read.schema(schema).parquet(_path(root, table))


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table for co-located joins (SURVEY §4: 'bucketing
    for co-located joins').

    A store bucketed on its join key lets every future upsert/probe join
    read bucket-aligned files and skip the store-side shuffle entirely —
    the right trade when one big table is joined on the same key every
    load cycle (the variant store's natural key). Bucketing needs the
    session catalog (saveAsTable), not a bare parquet path.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_load_result(result, root: str, map_key: int) -> None:
    """Land a ``pipelines.load.LoadResult`` into the store (the three
    K1 insert targets of saveVariants)."""
    write_table(result.variant, root, "variant")
    write_table(
        result.variant_map_data.withColumn("map_key", F.lit(map_key)),
        root,
        "variant_map_data",
    )
    write_table(result.variant_sample_detail, root, "variant_sample_detail")


def compact_table(
    spark: SparkSession,
    root: str,
    table: str,
    target_rows_per_file: int = 1_000_000,
) -> dict:
    """Small-file compaction — the maintenance job every append-heavy
    parquet store needs at scale (each micro-batch/load appends files;
    thousands of tiny files degrade scan planning, listing, and shuffle
    locality long before data volume does).

    Rewrites each partition directory (or the whole table when
    unpartitioned) to ``ceil(rows / target_rows_per_file)`` files, as
    one commit (see ``commit_table``). Content-invariant: the row
    multiset is untouched (pinned by test), only the layout changes.

    Returns {"files_before", "files_after", "rows"}, the rows counted on
    the commit's write.
    """
    import pyarrow.parquet as pq

    from rat_strain_loader_pipeline_spark.observe import with_counters

    path = _path(root, table)

    def _data_files(p: str) -> list[str]:
        return [os.path.join(d, f) for d, _dirs, files in os.walk(p) for f in files
                if not f.startswith(("_", ".")) and not f.endswith(".crc")]

    before = _data_files(path)
    df = _read_as_stored(spark, root, table)
    parts = PARTITIONING.get(table, ())
    if parts:
        # per-partition file budget: repartition on the partition columns
        # so each directory is written by few tasks, then let the writer
        # split at maxRecordsPerFile — no global single-partition funnel
        df = df.repartition(*[F.col(c) for c in parts])
    else:
        # the budget needs the row count before the write: the footers
        # hold it, read here in this process instead of in a Spark job
        rows = sum(pq.read_metadata(f).num_rows for f in before)
        df = df.coalesce(max(1, math.ceil(rows / target_rows_per_file)))
    out, written = with_counters(df, f"compact-{table}", rows=F.count(F.lit(1)))
    # the rows go back as stored, so the declared-schema check is skipped
    _commit(out, root, table, maxRecordsPerFile=target_rows_per_file)
    return {"files_before": len(before), "files_after": len(_data_files(path)),
            "rows": written.get["rows"]}
