"""CF2 → variant store load pipeline (the reference's VariantLoad3 flow,
SURVEY.md §3.2; Manager dispatch --tool VariantLoad3).

Dataflow (VariantLoad3.java:178-365, saveVariants:479-589):

  read CF2 → allele QC (F6) → derivations:
      variant type (X1), end pos (X3), total depth (A5), quality (A6),
      zygosity (X4 snv / X5 indel, with PAR interval lookup),
      genic status (X6 via gene interval join J1)
  → zero-score drop (F9)
  → dedup-upsert against existing store (J4, case-insensitive natural key)
  → anti-join sample details (J5)
  → three store tables: variant / variant_map_data / variant_sample_detail

Two shuffles: the upsert join (folded away on an empty store) and the
new-id ranking window. That window's one pass also marks the rows each
of the three inserts keeps, so the inserts are filter+project scans of
the staged upsert with no dedup shuffle of their own. Everything else is
map-side: the id floor, the dimension tables and the stored sample
details broadcast, and each sample's gender and map_key are literals of
its read. Partition-by (map_key, chromosome) on write matches the
reference's process-per-(sample, chr) parallelism unit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.functions.variant import (
    end_pos,
    quality_score,
    total_depth_derived,
    variant_type,
)
from rat_strain_loader_pipeline_spark.operators.interval_join import (
    point_in_interval_flag,
)
from rat_strain_loader_pipeline_spark.operators.upsert import (
    anti_insert,
    upsert_variants,
)

NATURAL_KEY = ["chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc", "variant_type"]


@dataclass
class LoadResult:
    variant: DataFrame
    variant_map_data: DataFrame
    variant_sample_detail: DataFrame
    counters: dict[str, int]


def tag_sample(cf2: DataFrame, sample_id: int, gender: str, map_key: int) -> DataFrame:
    """``cf2`` with its sample's ``sample_id``, ``gender`` and ``map_key``
    as literal columns: the tagged frame :func:`derive_variants_multi`
    derives (the reference's per-process scalars, as columns)."""
    return cf2.select(
        "*",
        F.lit(sample_id).cast("int").alias("sample_id"),
        F.lit(gender).cast("string").alias("gender"),
        F.lit(map_key).cast("int").alias("map_key"),
    )


def derive_variants(
    cf2: DataFrame,
    sample_id: int,
    gender: str,
    map_key: int,
    genes: DataFrame | None = None,
    par_regions: DataFrame | None = None,
    chromosome: str | None = None,
    species_type_key: int = 3,
    source: str = "CF2",
    stage_cache: bool = True,
    genic_bin_size: int = 1_000_000,
) -> DataFrame:
    """All row-level derivations of processLine (VariantLoad3.java:222-365)
    for ONE sample: :func:`derive_variants_multi` over ``cf2`` tagged
    with the sample's scalars (:func:`tag_sample`)."""
    return derive_variants_multi(
        tag_sample(cf2, sample_id, gender, map_key), genes, par_regions,
        chromosome, species_type_key, source, stage_cache, genic_bin_size,
    )


def derive_variants_multi(
    tagged: DataFrame,
    genes: DataFrame | None = None,
    par_regions: DataFrame | None = None,
    chromosome: str | None = None,
    species_type_key: int = 3,
    source: str = "CF2",
    stage_cache: bool = True,
    genic_bin_size: int = 1_000_000,
) -> DataFrame:
    """All row-level derivations of processLine (VariantLoad3.java:222-365)
    for ANY number of samples in one pass — the Spark-first replacement
    for the reference's one-OS-process-per-(sample, chr) shell loop
    (convert/LoadRn6Rn7Samples.java:88-105). Every row carries its own
    sample's ``gender`` and ``map_key``, so a thousand samples derive in
    one partitioned pass with no per-sample plan and no dimension join.

    This is the ``VariantLoad3`` path (``cli.variant_load3``): every
    ``-s/-i`` read is tagged (:func:`tag_sample`) and unioned, and the
    union derives here behind ONE stage barrier whatever the strain
    count. A repeated ``-s`` id is just more rows of that sample.

    Input: CF2_SCHEMA columns + ``sample_id``, ``gender``, ``map_key``.
    Output drops ``gender`` and adds: chromosome (renamed), start_pos,
    end_pos, variant_type, total_depth (derived), quality_score,
    zygosity_*, genic_status, source, species_type_key, var_freq.
    """
    df = tagged
    if chromosome is not None:  # F2 chromosome filter → partition pruning
        df = df.filter(F.col("chr") == chromosome)

    # F6 allele alphabet QC (VariantLoad3.java:368-376): NULL allowed (indel)
    valid = "^[ACGTNacgtn-]+$"
    df = df.filter(
        (F.col("ref_nuc").isNull() | F.col("ref_nuc").rlike(valid))
        & (F.col("var_nuc").isNull() | F.col("var_nuc").rlike(valid))
        & ~(F.col("ref_nuc").isNull() & F.col("var_nuc").isNull())
    )

    vt = variant_type(F.col("ref_nuc"), F.col("var_nuc"))
    df = (
        df.withColumnRenamed("chr", "chromosome")
        .withColumn("start_pos", F.col("position").cast("long"))
        .withColumn("variant_type", vt)
        .withColumn("end_pos", end_pos(F.col("start_pos"), F.col("ref_nuc"), F.col("variant_type")))
        .withColumn(
            "total_depth",
            total_depth_derived(
                F.col("total_depth"),
                F.col("count_a"),
                F.col("count_c"),
                F.col("count_g"),
                F.col("count_t"),
                F.col("read_depth"),
                F.col("variant_type"),
            ),
        )
        .withColumn("quality_score", quality_score(F.col("read_depth"), F.col("total_depth")))
    )

    # Stage barrier. Without it Catalyst substitutes the stacked aliases
    # (variant_type → end_pos/total_depth/quality → zygosity percent →
    # status/filter) into each consumer and into pushed-down predicates,
    # producing >16KB expressions that fall out of whole-stage codegen
    # into per-row interpreted eval (measured 50s vs 5s on 600k rows at
    # sf0.1). Parquet staging truncates the plan cheaply (staging.py);
    # the reference pipeline materializes between stages too.
    if stage_cache:
        from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

        df = stage_to_parquet(df, "derive-stage-a")

    # PAR membership for sex-chromosome zygosity (decompiled
    # PseudoAutosomalRegion lookup): interval join against the PAR table.
    if par_regions is not None:
        df = point_in_interval_flag(
            df,
            par_regions.withColumnRenamed("chr", "par_chr"),
            "in_par",
            probe_keys=("chromosome", "start_pos", "end_pos"),
            interval_keys=("par_chr", "par_start", "par_stop"),
            extra_key="map_key",
        )
    else:
        df = df.withColumn("in_par", F.lit(False))

    # Zygosity, expression-size-aware: the snv and indel branches differ
    # ONLY in the percent numerator/denominator (X4 vs X5); status ladder,
    # ref-allele, num-allele, poss-error and PAR handling are identical.
    # Materializing the shared intermediates once keeps the expression
    # tree ~10x smaller than branching every output column (big enough
    # trees fall out of codegen into interpreted eval — measured 10s vs
    # <1s on 600k rows).
    a = F.coalesce(F.col("count_a"), F.lit(0)).cast("long")
    c = F.coalesce(F.col("count_c"), F.lit(0)).cast("long")
    gg = F.coalesce(F.col("count_g"), F.lit(0)).cast("long")
    t = F.coalesce(F.col("count_t"), F.lit(0)).cast("long")
    count_of = lambda nuc: (  # noqa: E731
        F.when(nuc == "A", a).when(nuc == "C", c).when(nuc == "G", gg)
        .when(nuc == "T", t).otherwise(F.lit(0))
    )
    is_snv = F.col("variant_type") == "snv"
    df = df.withColumns(
        {
            "__total": a + c + gg + t,
            "__var_count": count_of(F.upper(F.col("var_nuc"))),
            "__ref_count": count_of(F.upper(F.col("ref_nuc"))),
            "__num_allele": (
                (a > 0).cast("int") + (c > 0).cast("int")
                + (gg > 0).cast("int") + (t > 0).cast("int")
            ),
        }
    )
    num = F.when(is_snv, F.col("__var_count")).otherwise(
        F.coalesce(F.col("allele_depth"), F.lit(0)).cast("long")
    )
    den = F.when(is_snv, F.col("__total")).otherwise(F.col("read_depth").cast("long"))
    df = df.withColumn(
        "zygosity_percent_read",
        F.when(den.isNull() | (den == 0), F.lit(None))
        .otherwise(F.floor(F.lit(100.0) * num / den + F.lit(0.5)))
        .cast("int"),
    )
    pct = F.col("zygosity_percent_read")
    is_sex = F.upper(F.col("chromosome")).isin("X", "Y")
    is_male = F.upper(F.coalesce(F.col("gender"), F.lit(""))).isin("M", "P")
    hemi = is_sex & is_male & ~F.col("in_par")
    df = df.withColumns(
        {
            "zygosity_status": F.when(
                hemi,
                F.when(pct >= 100, "hemizygous")
                .when(pct >= 85, "probably hemizygous")
                .otherwise("possibly hemizygous"),
            ).otherwise(
                F.when(pct >= 100, "homozygous")
                .when(pct >= 85, "possibly homozygous")
                .otherwise("heterozygous")
            ),
            "zygosity_num_allele": F.col("__num_allele").cast("int"),
            "zygosity_ref_allele": F.when(F.col("__ref_count") > 0, "Y").otherwise("N"),
            "zygosity_poss_error": F.when(pct.isNotNull() & (pct <= 15), "Y").otherwise("N"),
            "zygosity_in_pseudo": F.when(is_sex & is_male & F.col("in_par"), "Y").otherwise("N"),
        }
    ).drop("__total", "__var_count", "__ref_count", "__num_allele")

    # F9: zero-score variants dropped ("called 0 times",
    # VariantLoad3.java:338-346) — percent-read 0 for either path.
    # Pushdown stops at the stage barrier above, so the substituted
    # predicate stays small.
    df = df.filter(F.coalesce(F.col("zygosity_percent_read"), F.lit(0)) > 0)

    # X6 genic status via gene interval overlap (J1)
    if genes is not None:
        active = genes.filter(F.col("object_status") == "ACTIVE").select(
            F.col("chromosome").alias("g_chr"),
            F.col("start_pos").alias("g_start"),
            F.col("stop_pos").alias("g_stop"),
        )
        df = point_in_interval_flag(
            df,
            active,
            "is_genic",
            probe_keys=("chromosome", "start_pos", "end_pos"),
            interval_keys=("g_chr", "g_start", "g_stop"),
            bin_size=genic_bin_size,
        )
    else:
        df = df.withColumn("is_genic", F.lit(False))
    df = df.withColumn(
        "genic_status", F.when(F.col("is_genic"), "GENIC").otherwise("INTERGENIC")
    ).drop("is_genic")

    return (
        df.drop("gender")
        .withColumn("source", F.lit(source))
        .withColumn("species_type_key", F.lit(species_type_key))
        .withColumn("var_freq", F.col("allele_depth"))
    )


def load_variants(
    derived: DataFrame,
    existing_variant: DataFrame,
    existing_map_data: DataFrame,
    existing_sample_detail: DataFrame,
    distributed_ranking: bool = False,
    id_space: DataFrame | None = None,
) -> LoadResult:
    """The saveVariants upsert (VariantLoad3.java:479-589) as joins.

    ``existing_variant`` needs (rgd_id + natural key via map join) — pass
    the store's variant⋈variant_map_data projection; empty DataFrames with
    the right schema are fine for a fresh store. ``id_space`` (rgd_id) is
    every id in use — the whole ``variant`` table when
    ``existing_variant`` holds one assembly only; new ids start above its
    maximum (default: ``existing_variant``'s).

    ``distributed_ranking=True`` switches id allocation to the
    per-chromosome two-level ranking (identical ids, parallel sort) —
    the right setting when a load batch's new-key count outgrows a
    single task's sort (see upsert_variants).

    The upsert output feeds three consumers (the three store tables), so
    it lands in a parquet stage barrier: measured ~15x faster than a
    columnar ``.cache()`` at sf0.1 (staging.py) and the honest cluster
    design — the reference lands every stage in staging tables too. The
    upsert marks, in its ranking window pass, the first row of each id
    and of each (id, sample_id); the staged marks make each insert a
    filter+project scan of the stage, with no dedup shuffle of its own.
    The run-log counters are observed on that stage write, so they are
    complete when this returns and cost no job of their own.
    """
    from rat_strain_loader_pipeline_spark.observe import with_counters
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    # counter reconciliation (VariantLoad3.java:154-168) on the stage
    # write itself: one first_of_id row per distinct new key
    upserted, obs = with_counters(
        upsert_variants(
            derived,
            existing_variant,
            key=NATURAL_KEY,
            distributed_ranking=distributed_ranking,
            stage_join=distributed_ranking,
            id_space=id_space,
            mark_first="sample_id",
        ),
        "load-counters",
        rows_in=F.count(F.lit(1)),
        matched=F.sum((~F.col("is_new")).cast("long")),
        new=F.sum((F.col("is_new") & F.col("first_of_id")).cast("long")),
    )
    with_ids = stage_to_parquet(upserted, "load-with-ids")

    # the three inserts are filter+project scans of the one stage: the
    # upsert's window pass marked one row per new id and one per (id,
    # sample), so no insert dedups again
    new_rows = with_ids.filter(F.col("is_new") & F.col("first_of_id"))
    new_variant = new_rows.select(
        "rgd_id",
        F.upper("ref_nuc").alias("ref_nuc"),
        "variant_type",
        F.upper("var_nuc").alias("var_nuc"),
        "rs_id",
        F.lit(None).cast("string").alias("clinvar_id"),
        "species_type_key",
    )
    new_map_data = new_rows.select(
        "rgd_id", "chromosome", "start_pos", "end_pos",
        "padding_base", "genic_status", "map_key",
    )
    # J5: only for (rgd_id, sample_id) pairs not already detailed
    sample_detail = anti_insert(
        with_ids.filter(F.col("first_of_pair")).select(
            "rgd_id", "source", "sample_id", "total_depth", "var_freq",
            "zygosity_status", "zygosity_percent_read", "zygosity_poss_error",
            "zygosity_ref_allele", "zygosity_num_allele", "zygosity_in_pseudo",
            "quality_score",
        ),
        existing_sample_detail,
        ["rgd_id", "sample_id"],
    )

    crow = obs.get
    counters = {
        "rows_in": int(crow["rows_in"]),
        "rows_new_variants": int(crow["new"] or 0),
        "rows_already_in_rgd": int(crow["matched"] or 0),
    }
    return LoadResult(new_variant, new_map_data, sample_detail, counters)
