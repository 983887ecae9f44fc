"""Wiggle fixedStep source (S5) — the stateful parse.

Format (ConservationScoreLoader.java:100-140): a declaration line
``fixedStep chrom=chr1 start=3462 step=1`` resets the cursor; each
following data line is the score at ``pos``, then ``pos += step``.
Line meaning depends on arbitrarily-distant earlier lines, which breaks
naive partition independence.

Two implementations of the same semantics:

- ``read_fixedstep_wig`` — the scale path: Hadoop TextInputFormat reads
  (splittable, so a 3 GB chromosome wig becomes N block-sized tasks,
  never one giant JVM string), then the classic two-phase cursor-carry:
  pass 1 summarizes each split (leading data-line count + declarations
  with their per-split data counts — bytes per split, not rows), the
  driver folds summaries in offset order into each split's incoming
  (chrom, start, step, consumed) state, and pass 2 re-scans emitting
  rows fully parallel. Memory per task = O(#blocks in split); no
  whole-file window funnel.
- ``parse_fixedstep_lines`` — the declarative window formulation over
  an already-split line table (any source: a staged table, a stream
  batch); one window pass per file, fine when files are shuffle-sized.

Both are equivalence-tested against each other, including multi-split
files. Chromosome names longer than 2 chars after stripping 'chr'
(scaffolds) are rejected, matching the loader's guard.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rat_strain_loader_pipeline_spark.schemas import CONSERVATION_SCHEMA

_DECL_RE = re.compile(r"chrom=(\S+)")
_START_RE = re.compile(r"start=(\d+)")
_STEP_RE = re.compile(r"step=(\d+)")


def _glob_files(spark: SparkSession, path: str) -> list[str]:
    """Expand a path/glob to file paths via the Hadoop FileSystem
    (driver-side metadata only)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    statuses = fs.globStatus(p)

    def visible(hpath) -> bool:
        # Hadoop's hidden-file convention (_SUCCESS, .crc, ...) — the
        # same filter Spark's file readers apply
        name = hpath.getName()
        return not (name.startswith("_") or name.startswith("."))

    files: list[str] = []
    for st in statuses or []:
        if st.isDirectory():
            for child in fs.listStatus(st.getPath()):
                if child.isFile() and visible(child.getPath()):
                    files.append(child.getPath().toString())
        elif visible(st.getPath()):
            files.append(st.getPath().toString())
    if not files:
        raise FileNotFoundError(f"no wig files match {path}")
    return sorted(files)


def _parse_decl(line: str) -> tuple[str, int | None, int]:
    chrom_m = _DECL_RE.search(line)
    start_m = _START_RE.search(line)
    step_m = _STEP_RE.search(line)
    return (
        chrom_m.group(1) if chrom_m else "",
        int(start_m.group(1)) if start_m else None,
        int(step_m.group(1)) if step_m else 1,
    )


def _normalize_chrom_py(chrom: str) -> str | None:
    c = chrom[3:] if chrom.startswith("chr") else chrom
    if c == "M":
        c = "MT"
    if not c or len(c) > 2:
        return None
    return c


def _read_one_wig_chunked(
    spark: SparkSession, file_path: str, split_max_bytes: int | None
) -> DataFrame:
    """Two-phase cursor-carry parse of ONE wig file (see module doc)."""
    conf = (
        {"mapreduce.input.fileinputformat.split.maxsize": str(split_max_bytes)}
        if split_max_bytes
        else None
    )

    def rdd():
        return spark.sparkContext.newAPIHadoopFile(
            file_path,
            "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
            "org.apache.hadoop.io.LongWritable",
            "org.apache.hadoop.io.Text",
            conf=conf,
        )

    # ---- pass 1: per-split summaries (tiny: one tuple per declaration)
    def summarize(idx, it):
        first_off = None
        n_lead = 0  # data lines before the split's first declaration
        blocks: list[tuple[str, int | None, int, int]] = []
        for off, line in it:
            if first_off is None:
                first_off = off
            if line.startswith("fixedStep"):
                blocks.append((*_parse_decl(line), 0))
            elif line != "":
                if blocks:
                    c, s, st, n = blocks[-1]
                    blocks[-1] = (c, s, st, n + 1)
                else:
                    n_lead += 1
        yield (idx, first_off, n_lead, blocks)

    summaries = rdd().mapPartitionsWithIndex(summarize).collect()
    # splits are not guaranteed to arrive in offset order — sort by the
    # first record's byte offset (empty splits carry no state either way)
    summaries.sort(key=lambda s: (s[1] is None, s[1] or 0))

    # fold into each split's INCOMING state: (chrom, start, step, consumed)
    incoming: dict[int, tuple[str, int | None, int, int] | None] = {}
    state: tuple[str, int | None, int, int] | None = None
    for idx, _first_off, n_lead, blocks in summaries:
        incoming[idx] = state
        if state is not None:
            state = (state[0], state[1], state[2], state[3] + n_lead)
        for chrom, start, step, ndata in blocks:
            state = (chrom, start, step, ndata)
    bc = spark.sparkContext.broadcast(incoming)

    # ---- pass 2: fully parallel emit
    def emit(idx, it):
        st = bc.value.get(idx)
        cur = list(st) if st is not None else None
        for _off, line in it:
            if line.startswith("fixedStep"):
                chrom, start, step = _parse_decl(line)
                cur = [chrom, start, step, 0]
            elif line != "":
                if cur is None:
                    continue  # data before any declaration in the file
                consumed = cur[3]
                cur[3] = consumed + 1  # junk lines consume a position too
                chrom = _normalize_chrom_py(cur[0])
                if chrom is None:
                    continue
                try:
                    score = float(line)
                except ValueError:
                    continue
                # a declaration without start= yields null positions, same
                # as the window path's null-propagating arithmetic
                pos = cur[1] + cur[2] * consumed if cur[1] is not None else None
                yield (pos, chrom, score)

    return spark.createDataFrame(
        rdd().mapPartitionsWithIndex(emit), schema=CONSERVATION_SCHEMA
    )


def read_fixedstep_wig(
    spark: SparkSession, path: str, split_max_bytes: int | None = None
) -> DataFrame:
    """Parse fixedStep wiggle file(s) → (position long, chr string, score double).

    Splittable two-phase parse per file (module doc): a single monster
    file parallelizes across HDFS-block-sized splits instead of loading
    as one string. ``split_max_bytes`` caps split size (tests use it to
    force multi-split parses of small files). The per-file state fold is
    driver-side but summary-sized: O(#declarations), never row data.
    """
    out: DataFrame | None = None
    for f in _glob_files(spark, path):
        df = _read_one_wig_chunked(spark, f, split_max_bytes)
        out = df if out is None else out.unionByName(df)
    return out


def parse_fixedstep_lines(lines: DataFrame) -> DataFrame:
    """The stateful parse on pre-split lines, as one window pass per file.

    ``lines``: (__file string, __line_id long-sortable, value string) —
    __line_id orders lines within a file. Any line source (a staged
    table, a stream batch) feeds the same window machinery; for raw wig
    FILES prefer ``read_fixedstep_wig``, which parallelizes within a
    file instead of funneling it through one window task.
    """
    # blank lines carry no data and must not consume a block position —
    # drop them here so BOTH parsers agree whatever the line source fed
    lines = lines.filter(F.col("value") != "")
    is_decl = F.col("value").startswith("fixedStep")

    def extract_long(pattern):
        # regexp_extract yields '' (not NULL) on no-match, and ANSI mode
        # refuses to cast '' — guard before casting
        raw = F.regexp_extract("value", pattern, 1)
        return F.when(raw != "", raw.cast("long"))

    parsed = lines.withColumn(
        "__decl_chrom",
        F.when(is_decl, F.regexp_extract("value", r"chrom=(\S+)", 1)),
    ).withColumn(
        "__decl_start",
        F.when(is_decl, extract_long(r"start=(\d+)")),
    ).withColumn(
        "__decl_step",
        F.when(is_decl, F.coalesce(extract_long(r"step=(\d+)"), F.lit(1))),
    ).withColumn(
        "__decl_id", F.when(is_decl, F.col("__line_id"))
    )

    w = Window.partitionBy("__file").orderBy("__line_id").rowsBetween(Window.unboundedPreceding, 0)
    filled = (
        parsed.withColumn("chrom", F.last("__decl_chrom", ignorenulls=True).over(w))
        .withColumn("start", F.last("__decl_start", ignorenulls=True).over(w))
        .withColumn("step", F.last("__decl_step", ignorenulls=True).over(w))
        .withColumn("block", F.last("__decl_id", ignorenulls=True).over(w))
    )

    wb = Window.partitionBy("__file", "block").orderBy("__line_id")
    data = (
        filled.filter(~is_decl & F.col("block").isNotNull())
        .withColumn("__row_in_block", F.row_number().over(wb))
        .withColumn("position", F.col("start") + F.col("step") * (F.col("__row_in_block") - 1))
        .withColumn("chr", _normalize_wig_chrom(F.col("chrom")))
        .withColumn("score", F.col("value").try_cast("double"))
        .filter(F.col("chr").isNotNull() & F.col("score").isNotNull())
        .select("position", "chr", "score")
    )
    return data


def _normalize_wig_chrom(chrom):
    c = F.regexp_replace(chrom, "^chr", "")
    c = F.when(c == "M", F.lit("MT")).otherwise(c)
    return F.when((F.length(c) > 2) | (c == ""), F.lit(None).cast("string")).otherwise(c)
