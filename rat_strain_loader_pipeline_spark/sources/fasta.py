"""FASTA source (S6): per-chromosome sequence with random access.

The reference gunzips each chromosome FASTA into a single-line ``.nuc``
file and memory-maps substrings (ChrFastaFile.java:48-102), memoized per
gene (VariantPostProcessing.java:1201-1216).

Spark-first: parse FASTA → ``(chr, seq)`` rows; for the consequence
engine the dict is **broadcast** to executors (rat chr1 ≈ 280 MB — fits
executor memory; memoization is unnecessary because each task slices the
broadcast string directly). For a 100 TB design the same API can be
backed by ``(chr, block_start, seq_block)`` rows and a range join; the
broadcast path is the reference-scale default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.schemas import FASTA_SEQ_SCHEMA


def read_fasta(spark: SparkSession, path: str) -> DataFrame:
    """Parse FASTA file(s) → (chr string, seq string), one row per record.

    Handles multi-record files; header line '>'-prefixed, first token
    taken as the name, 'chr' prefix stripped.
    """
    whole = spark.read.text(path, wholetext=True).select(F.col("value"))
    # split on '>' record starts; first element is empty preamble
    recs = whole.select(F.explode(F.split(F.col("value"), r"(?m)^>")).alias("rec")).filter(
        F.col("rec") != ""
    )
    name = F.regexp_extract(F.col("rec"), r"^(\S+)", 1)
    seq = F.upper(F.regexp_replace(F.regexp_replace(F.col("rec"), r"^[^\n]*\n", ""), r"\s+", ""))
    return recs.select(
        F.regexp_replace(name, "^chr", "").alias("chr"), seq.alias("seq")
    ).filter(F.col("seq") != "")


def fasta_dict(df: DataFrame) -> dict[str, str]:
    """Collect (chr, seq) rows to a plain dict for broadcasting."""
    return {r["chr"]: r["seq"] for r in df.collect()}


def fasta_from_dict(spark: SparkSession, seqs: dict[str, str]) -> DataFrame:
    return spark.createDataFrame(list(seqs.items()), schema=FASTA_SEQ_SCHEMA)


def get_dna_chunk(seqs: dict[str, str], chrom: str, start: int, stop: int) -> str:
    """1-based inclusive substring like FastaParser.getSequence(int,int);
    out-of-range clamped, unknown chromosome → ''. Python-side helper for
    the consequence pandas UDF."""
    seq = seqs.get(chrom) or seqs.get(f"chr{chrom}") or ""
    if not seq:
        return ""
    start = max(1, start)
    stop = min(len(seq), stop)
    if stop < start:
        return ""
    return seq[start - 1 : stop]


def fasta_blocks(df: DataFrame, block_size: int = 100_000) -> DataFrame:
    """The 100 TB-scale representation: (chr, seq) → fixed-size blocks
    ``(chr, block_id, block_start, seq_block)``, 1-based block_start.

    At reference scale the broadcast dict wins; at corpus scale the
    genome no longer fits executor memory, so random access becomes a
    distributed equi-join against this table (see ``dna_chunks``).
    """
    n_blocks = F.ceil(F.length("seq") / F.lit(block_size)).cast("int")
    b = F.explode(F.sequence(F.lit(0), n_blocks - 1)).alias("block_id")
    out = df.select(F.col("chr"), F.col("seq"), b)
    start = (F.col("block_id").cast("long") * block_size + 1).alias("block_start")
    return out.select(
        "chr",
        "block_id",
        start,
        F.substring(
            F.col("seq"), (F.col("block_id") * block_size + 1).cast("int"), block_size
        ).alias("seq_block"),
    )


def dna_chunks(intervals: DataFrame, blocks: DataFrame, block_size: int = 100_000) -> DataFrame:
    """Distributed FastaParser.getSequence: extract the 1-based inclusive
    substring [start, stop] per interval row from a ``fasta_blocks``
    table, without broadcasting whole chromosomes.

    ``intervals``: (chunk_id long, chr string, start long, stop long),
    plus any further columns, which ride through unchanged; ``chunk_id``
    must be unique and not null (the rows reassemble per id).
    Returns every column of ``intervals`` (``chunk_id`` first) plus
    ``chunk string``, with the same clamping semantics as
    ``get_dna_chunk`` (unknown chr / empty overlap / stop < start → '' —
    rows are preserved, not dropped).

    Scale shape: the interval side explodes to one row per OVERLAPPED
    block (variant windows ≪ block_size ⇒ explode factor ~1), then an
    **equi-join** on (chr, block_id) — shuffle-partitionable on both
    sides, no range predicate — planned by size: a probe under the
    broadcast threshold (transcript spans, a few narrow columns a row)
    is broadcast and the genome blocks stream through the join; a
    genome over the threshold is never the broadcast side. The pieces
    (``block_start``, text) and the interval rows themselves then meet
    in ONE ``unionByName`` and ONE groupBy(chunk_id): each interval
    column comes back through ``first(c, ignorenulls=True)`` (exact, as
    a chunk has one interval row and the piece rows carry nulls there),
    and the pieces are sorted by ``block_start`` and joined. A chunk
    with no piece joins an empty list, ``''``; no join back onto the
    intervals is needed.
    """
    iv = intervals.select(
        "chunk_id",
        "chr",
        F.col("start").cast("long").alias("start"),
        F.col("stop").cast("long").alias("stop"),
    )
    clamped_start = F.greatest(F.col("start"), F.lit(1))
    lo = F.floor((clamped_start - 1) / block_size).cast("int")
    hi = F.floor((F.col("stop") - 1) / block_size).cast("int")
    probe = iv.filter(F.col("stop") >= clamped_start).select(
        "chunk_id", "chr",
        clamped_start.alias("cstart"), F.col("stop"),
        F.explode(F.sequence(lo, F.greatest(hi, lo))).alias("block_id"),
    )
    j = probe.join(blocks, ["chr", "block_id"], "inner")
    # overlap of [cstart, stop] with this block, in block-local 1-based coords
    ov_lo = F.greatest(F.col("cstart"), F.col("block_start"))
    ov_hi = F.least(F.col("stop"), F.col("block_start") + F.length("seq_block") - 1)
    piece = F.substring(
        F.col("seq_block"),
        (ov_lo - F.col("block_start") + 1).cast("int"),
        (ov_hi - ov_lo + 1).cast("int"),
    )
    pieces = j.filter(ov_hi >= ov_lo).select(
        "chunk_id", F.struct(F.col("block_start"), piece.alias("p")).alias("__piece")
    )
    rest = [c for c in intervals.columns if c != "chunk_id"]
    return (
        intervals.unionByName(pieces, allowMissingColumns=True)
        .groupBy("chunk_id")
        .agg(
            *[F.first(c, ignorenulls=True).alias(c) for c in rest],
            F.array_join(
                F.transform(F.sort_array(F.collect_list("__piece")), lambda s: s["p"]), ""
            ).alias("chunk"),
        )
    )
