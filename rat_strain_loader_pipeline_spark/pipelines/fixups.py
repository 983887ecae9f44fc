"""Fixup tools as idempotent recompute jobs (SURVEY.md §2 K3/W4, §5).

Each reference fixup streams a table, recomputes a derivation, and
patches rows that disagree, reporting up-to-date vs fixed counts
(fixup/VariantTypeFixUp.java:40-88, FrameShiftFixUp.java:40-88,
GenicStatusFixUp.java:52-87, NumAllelesFixUp.java:46-109,
ZygosityPercReadFixUp.java:60-117).

Spark-first: recompute the column, compare, and replace — a fixup is
``recompute(derivation).withColumn(changed)``. Running any fixup twice
changes nothing (idempotence — the engine's own consistency check).
Each returns (patched_df, counters). Given a ``store`` root, a fixup
commits the patched rows as the next version of its table there
(``store.commit_table``, one write) and returns that table with its
counters complete: they are observed on the commit's write, so
reporting them runs no Spark job of its own. Without one, the patched
rows stay lazy and the counters are empty.

The standalone UpdateVariantStatus tool (UpdateVariantStatus.java:15-66,
batched ``UPDATE variant SET genic_status`` by id list, batch 1000) is
subsumed by ``genic_status_fixup``: under Spark the id-list UPDATE is the
same recompute-and-commit join, and JDBC batching is a sink option.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rat_strain_loader_pipeline_spark.functions.variant import variant_type
from rat_strain_loader_pipeline_spark.observe import with_counters
from rat_strain_loader_pipeline_spark.operators.interval_join import (
    point_in_interval_flag,
)
from rat_strain_loader_pipeline_spark.store import commit_table, read_table

Fixed = tuple[DataFrame, dict[str, int]]  # (patched rows, counters)


def _apply(
    df: DataFrame, col: str, recomputed, table: str, store: str | None,
    drop: tuple[str, ...] = (),
) -> Fixed:
    out = df.withColumn("__new", recomputed)
    if store is None:
        # callers that only consume the patched rows get them lazily, so
        # the whole fixup stays a single pass inside their own action
        return out.withColumn(col, F.col("__new")).drop("__new", *drop), {}
    # both counters ride on the write that commits the patched table
    # (the K7 counters the reference increments while it writes); a
    # separate aggregate would execute the upstream plan — possibly a
    # join or a whole pandas-UDF pipeline — a second time
    observed, obs = with_counters(
        out,
        f"fixup-{col}",
        total=F.count(F.lit(1)),
        changed=F.sum((~F.col(col).eqNullSafe(F.col("__new"))).cast("long")),
    )
    commit_table(observed.withColumn(col, F.col("__new")).drop("__new", *drop), store, table)
    row = obs.get
    total, changed = int(row["total"]), int(row["changed"] or 0)
    return read_table(df.sparkSession, store, table), {
        "rows_total": total, "rows_fixed": changed, "rows_up_to_date": total - changed,
    }


def variant_type_fixup(variant: DataFrame, store: str | None = None) -> Fixed:
    """X1 recompute from ref_nuc/var_nuc (VariantTypeFixUp.java:47-63)."""
    recomputed = variant_type(F.col("ref_nuc"), F.col("var_nuc"))
    return _apply(variant, "variant_type", recomputed, "variant", store)


def frameshift_fixup(
    variant_transcript: DataFrame, variant: DataFrame, store: str | None = None
) -> Fixed:
    """X15 recompute from the RAW alleles (FrameShiftFixUp.java:55-69) —
    corrects the post-processing truncation quirk. Only rows that carry
    AA annotation (ref_aa set) get a frameshift value."""
    # FrameShiftFixUp.java:56-64: '-'-marked (or NULL) alleles mean the
    # OTHER side's full length shifts the frame; else abs length diff.
    rl = F.coalesce(F.length("ref_nuc"), F.lit(0))
    vl = F.coalesce(F.length("var_nuc"), F.lit(0))
    len_diff = (
        F.when(F.col("var_nuc").isNull() | F.col("var_nuc").contains("-"), rl)
        .when(F.col("ref_nuc").isNull() | F.col("ref_nuc").contains("-"), vl)
        .otherwise(F.abs(rl - vl))
    )
    v = variant.select(
        F.col("rgd_id").alias("variant_rgd_id"), len_diff.alias("__ld")
    )
    joined = variant_transcript.join(F.broadcast(v), "variant_rgd_id", "left")
    recomputed = F.when(
        F.col("ref_aa").isNotNull(),
        F.when((F.col("__ld") % 3) != 0, "T").otherwise("F"),
    ).otherwise(F.col("frameshift"))
    return _apply(joined, "frameshift", recomputed, "variant_transcript", store,
                  drop=("__ld",))


def genic_status_fixup(
    variant_map_data: DataFrame, genes: DataFrame, store: str | None = None
) -> Fixed:
    """X6 recompute via gene interval overlap (GenicStatusFixUp.java:103-109)."""
    active = genes.filter(F.col("object_status") == "ACTIVE").select(
        F.col("chromosome").alias("g_chr"),
        F.col("start_pos").alias("g_start"),
        F.col("stop_pos").alias("g_stop"),
    )
    flagged = point_in_interval_flag(
        variant_map_data,
        active,
        "__genic",
        probe_keys=("chromosome", "start_pos", "end_pos"),
        interval_keys=("g_chr", "g_start", "g_stop"),
    )
    recomputed = F.when(F.col("__genic"), "GENIC").otherwise("INTERGENIC")
    return _apply(flagged, "genic_status", recomputed, "variant_map_data", store,
                  drop=("__genic",))


def num_alleles_fixup(
    variant_sample_detail: DataFrame, variant_map_data: DataFrame, store: str | None = None
) -> Fixed:
    """A7 recompute: zygosity_num_allele = number of distinct variants
    observed at the same (sample, chr, position), +1 if the reference
    allele was seen (NumAllelesFixUp.java:52-99) — the position-group
    window W4."""
    keyed = variant_sample_detail.join(
        variant_map_data.select("rgd_id", "chromosome", "start_pos"), "rgd_id"
    )
    w = Window.partitionBy("sample_id", "chromosome", "start_pos")
    recomputed = (
        F.count(F.lit(1)).over(w)
        + F.max(F.when(F.col("zygosity_ref_allele") == "Y", 1).otherwise(0)).over(w)
    ).cast("int")
    return _apply(
        keyed, "zygosity_num_allele", recomputed, "variant_sample_detail", store,
        drop=("chromosome", "start_pos"),
    )


def zygosity_poss_error_fixup(variant_sample_detail: DataFrame, store: str | None = None) -> Fixed:
    """Possible-error recompute from percent-read (threshold 15,
    ZygosityPercReadFixUp.java:130-138)."""
    recomputed = F.when(
        F.col("zygosity_percent_read").isNotNull()
        & (F.col("zygosity_percent_read") <= 15),
        "Y",
    ).otherwise("N")
    return _apply(
        variant_sample_detail, "zygosity_poss_error", recomputed, "variant_sample_detail", store
    )
