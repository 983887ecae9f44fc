"""VCF sources (S2/S3/S4/S10) — melt to long form, parse FORMAT/INFO.

The reference hand-splits VCF lines (VcfToCommonFormat2Converter.java:
122-147,161-223): skip ``##``, read strain names from the ``#CHROM``
header row (columns 9+), then per data line fan out one record per
(strain, allele). Spark-first:

- read as text, filter ``##``, split by tab;
- strain names come from the single header line, read on the driver
  with no Spark job (the reference reads it with a plain file read);
- melt strain columns to long form via an array+posexplode (no RDD);
- FORMAT introspection (S4: locate GT/AD/DP indexes inside
  'GT:AD:DP:...', AD sometimes named CLCAD2) via ``array_position``;
- INFO k=v parsing (S3) via ``str_to_map``;
- multi-ALT explode (VcfToCommonFormat2Converter.java:277-308).

Chromosome normalization (F3, VcfToCommonFormat2Base.java:14-50):
strip 'chr'/'c' prefix, 'M'→'MT', NC_* accessions resolved via a
provided mapping, reject names longer than 2 chars or 'Un'.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.schemas import VCF_FIXED_COLS
from rat_strain_loader_pipeline_spark.sources.tables import leaf_files


# bytes per driver-side read of a header: one py4j call each
_HEADER_BLOCK = 1 << 16
_EOL = re.compile(rb"\r\n|\r|\n")  # the line ends spark.read.text splits on


def _strain_names_from_header(spark: SparkSession, path: str) -> list[str]:
    """Columns 9+ of the '#CHROM' header line: the strain names.

    Read on the driver, with no Spark job, through the session's Hadoop
    ``FileSystem``: a compressed file (``.gz``, ``.bz2``, ...) is
    decoded by the codec its extension names and a directory is read
    file by file over its sorted leaf listing (``tables.leaf_files``),
    as ``spark.read.text`` reads them. Each file is read in
    ``_HEADER_BLOCK``-byte blocks up to its '#CHROM' line, or up to its
    first data line (one neither empty nor '#'-prefixed), which ends a
    header that has no '#CHROM' line; a path whose files hold none has
    no strains."""
    conf, leaves = leaf_files(spark, path)
    codecs = spark._jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    for _, leaf in leaves:
        stream = leaf.getFileSystem(conf).open(leaf)
        try:
            codec = codecs.getCodec(leaf)
            if codec is not None:
                stream = codec.createInputStream(stream)
            line = _header_line(stream)
        finally:
            stream.close()
        if line is not None:
            return line.decode("utf-8", errors="replace").split("\t")[9:]
    return []


def _header_line(stream) -> bytes | None:
    """The stream's '#CHROM' line, or None when a data line or the end
    comes first."""
    tail = b""
    while True:
        block = bytes(stream.readNBytes(_HEADER_BLOCK))
        data = tail + block
        # the last line may be cut by the block end, and so may a '\r\n'
        held = data.endswith(b"\r") and bool(block)
        *lines, tail = _EOL.split(data[:-1] if held else data)
        tail += b"\r" if held else b""
        if not block:
            lines.append(tail)
        for line in lines:
            if line.startswith(b"#CHROM"):
                return line
            if line and not line.startswith(b"#"):
                return None
        if not block:
            return None


def read_vcf_long(
    spark: SparkSession,
    path: str,
    accession_map: dict[str, str] | None = None,
) -> DataFrame:
    """Multi-sample VCF → long form: one row per (site, strain).

    Output: chrom (normalized), pos, id, ref, alt, qual, filter, info,
    format, strain, gt_data. Invalid chromosomes are dropped (F3).
    """
    strains = _strain_names_from_header(spark, path)
    lines = spark.read.text(path).filter(~F.col("value").startswith("#"))
    parts = F.split(F.col("value"), "\t")

    fixed = [F.get(parts, i).alias(c) for i, c in enumerate(VCF_FIXED_COLS)]
    fmt = F.get(parts, 8).alias("format")
    strain_structs = F.array(
        *[
            F.struct(F.lit(s).alias("strain"), F.get(parts, 9 + i).alias("gt_data"))
            for i, s in enumerate(strains)
        ]
    )
    df = lines.select(*fixed, fmt, F.explode(strain_structs).alias("sg")).select(
        *VCF_FIXED_COLS, "format", F.col("sg.strain").alias("strain"), F.col("sg.gt_data").alias("gt_data")
    )
    df = df.withColumn("chrom", normalize_chromosome(F.col("chrom"), accession_map))
    return df.filter(F.col("chrom").isNotNull()).withColumn("pos", F.col("pos").cast("long"))


def read_vcf_8col(
    spark: SparkSession, path: str, accession_map: dict[str, str] | None = None
) -> DataFrame:
    """8-column VCF (S3): one strain, DP/AC carried in INFO.

    Output: chrom, pos, id, ref, alt, qual, filter, info, info_map.
    """
    lines = spark.read.text(path).filter(~F.col("value").startswith("#"))
    parts = F.split(F.col("value"), "\t")
    df = lines.select(*[F.get(parts, i).alias(c) for i, c in enumerate(VCF_FIXED_COLS)])
    df = (
        df.withColumn("chrom", normalize_chromosome(F.col("chrom"), accession_map))
        .filter(F.col("chrom").isNotNull())
        .withColumn("pos", F.col("pos").cast("long"))
        .withColumn("info_map", F.str_to_map(F.col("info"), F.lit(";"), F.lit("=")))
    )
    return df


def normalize_chromosome(chrom: Column, accession_map: dict[str, str] | None = None) -> Column:
    """F3 (VcfToCommonFormat2Base.java:14-50): strip 'chr' prefix,
    'M'→'MT', NC_* accession→chr via map, NULL for invalid (len>2, 'Un')."""
    c = F.regexp_replace(chrom, "(?i)^(chr|c)", "")
    if accession_map:
        mapping = F.create_map(*[F.lit(x) for kv in accession_map.items() for x in kv])
        c = F.when(chrom.startswith("NC_"), F.element_at(mapping, chrom)).otherwise(c)
    c = F.when(c == "M", F.lit("MT")).otherwise(c)
    return F.when(
        c.isNull() | (F.length(c) > 2) | (c == "Un") | (c == ""), F.lit(None).cast("string")
    ).otherwise(c)


def format_index(fmt: Column, field: str) -> Column:
    """S4 FORMAT introspection: 1-based index of ``field`` inside
    'GT:AD:DP:...', 0 when absent (array_position semantics). AD may be
    spelled CLCAD2 (VcfToCommonFormat2Converter.java:329-357)."""
    arr = F.split(fmt, ":")
    idx = F.array_position(arr, field)
    if field == "AD":
        idx = F.when(idx > 0, idx).otherwise(F.array_position(arr, "CLCAD2"))
    return idx


def gt_field(gt_data: Column, idx: Column) -> Column:
    """Extract the idx-th (1-based) ':'-separated field of a genotype blob;
    NULL when idx==0 or out of range."""
    arr = F.split(gt_data, ":")
    return F.when((idx > 0) & (F.size(arr) >= idx), F.element_at(arr, idx.cast("int"))).otherwise(
        F.lit(None).cast("string")
    )


def parse_snpeff_ann(info: Column) -> Column:
    """S10/X21: extract ``ANN=`` payload from INFO and split into an array
    of 16-field structs (SnpEffLoader.java:130-163). Returns an array of
    arrays-of-16-strings; empty fields → NULL."""
    ann = F.regexp_extract(info, "ANN=([^;]+)", 1)
    anns = F.split(ann, ",")
    fields = F.transform(
        anns,
        lambda a: F.transform(
            F.split(a, "\\|"), lambda x: F.when(x == "", F.lit(None).cast("string")).otherwise(x)
        ),
    )
    return F.when(ann == "", F.array().cast("array<array<string>>")).otherwise(fields)
