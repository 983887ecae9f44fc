"""Variant post-processing pipeline (--tool VariantPostProcessing,
SURVEY.md §3.3): variant store → VARIANT_TRANSCRIPT (+ sequences).

Wraps operators.consequence with the X18 sequence-key dedup: the
reference stores each full_ref_aa / full_ref_nuc once in a SEQUENCES
table keyed per (transcript, seq_type) with an Oracle-sequence key
(VariantPostProcessing.java:786-846). Spark-first replacement: a
DETERMINISTIC content hash (xxhash64 of the sequence text) is the key —
retry-safe, no sequence service, identical across partitionings.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.operators.consequence import (
    variant_transcript_consequences,
)


@dataclass
class PostProcessResult:
    variant_transcript: DataFrame
    sequences: DataFrame


def postprocess_variants(
    variants: DataFrame,
    genes: DataFrame,
    transcripts: DataFrame,
    features: DataFrame,
    fasta_broadcast=None,
    map_key: int = 0,
    verify_against: DataFrame | None = None,
    fasta_blocks: DataFrame | None = None,
    block_size: int = 100_000,
) -> PostProcessResult:
    """Pass ``fasta_broadcast`` (a {chr: seq} broadcast) for the
    reference-scale path, or ``fasta_blocks`` (a sources.fasta block
    table) for the broadcast-free 100 TB genome path — identical output
    either way.

    Nothing is staged: ``variant_transcript`` and ``sequences`` are two
    plans over the one consequence dataflow, and each runs the
    consequence UDF when it is executed. The CLI writes only
    ``variant_transcript``, so it runs the UDF once; a caller that reads
    both runs it twice."""
    if (fasta_broadcast is None) == (fasta_blocks is None):
        raise ValueError("pass exactly one of fasta_broadcast / fasta_blocks")
    if fasta_blocks is not None:
        from rat_strain_loader_pipeline_spark.operators.consequence import (
            variant_transcript_consequences_blocks,
        )

        vt_full = variant_transcript_consequences_blocks(
            variants, genes, transcripts, features, fasta_blocks, map_key,
            verify_against, block_size=block_size,
        )
    else:
        vt_full = variant_transcript_consequences(
            variants, genes, transcripts, features, fasta_broadcast, map_key, verify_against
        )
    aa_key = F.when(
        F.col("full_ref_aa").isNotNull(), F.xxhash64(F.lit("aa"), F.col("full_ref_aa"))
    )
    nuc_key = F.when(
        F.col("full_ref_nuc").isNotNull(), F.xxhash64(F.lit("nuc"), F.col("full_ref_nuc"))
    )

    variant_transcript = vt_full.select(
        "variant_rgd_id", "transcript_rgd_id", "ref_aa", "var_aa", "syn_status",
        "location_name", "near_splice_site", "full_ref_aa_pos", "full_ref_nuc_pos",
        "triplet_error",
        aa_key.alias("full_ref_aa_seq_key"),
        nuc_key.alias("full_ref_nuc_seq_key"),
        "frameshift", "map_key",
    )

    sequences = (
        vt_full.select(
            aa_key.alias("seq_key"), F.lit("full_ref_aa").alias("seq_type"),
            F.col("transcript_rgd_id"), F.col("full_ref_aa").alias("seq_data"),
        )
        .unionByName(
            vt_full.select(
                nuc_key.alias("seq_key"), F.lit("full_ref_nuc").alias("seq_type"),
                F.col("transcript_rgd_id"), F.col("full_ref_nuc").alias("seq_data"),
            )
        )
        .filter(F.col("seq_key").isNotNull())
        .dropDuplicates(["seq_key", "seq_type", "transcript_rgd_id"])
    )
    return PostProcessResult(variant_transcript, sequences)
