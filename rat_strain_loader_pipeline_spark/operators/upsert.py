"""Dedup-upsert into the variant store (J4/J5) + deterministic id allocation.

Reference flow (VariantLoad3.java:479-589):
- incoming rows matched against existing variants on the natural key
  (chromosome, start_pos, end_pos, ref_nuc, var_nuc, variant_type) with
  **case-insensitive** string comparison (VariantLoad3.java:517-575);
- matched → reuse rgd_id; unmatched → allocate a new id from the Oracle
  sequence (managementDAO.createRgdId, VariantLoad3.java:550);
- sample details inserted only when no row exists for (rgd_id,
  sample_id) — an anti-join (VariantLoad3.java:497,569-574).

Spark-first replacements:
- the per-row cache probe becomes one left join on normalized keys;
- the Oracle sequence becomes ``max(id in use) + dense_rank`` over the
  new keys — deterministic and retry-safe (SURVEY.md §4.3), unlike
  ``monotonically_increasing_id`` which shifts with partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

NATURAL_KEY = ["chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc", "variant_type"]
# String members of the key that compare case-insensitively (J4).
_CI_COLS = {"ref_nuc", "var_nuc", "variant_type", "chromosome"}


def _norm_key_cols(df: DataFrame, key: list[str], prefix: str) -> DataFrame:
    """Add normalized (upper-cased, null-sentineled) key columns."""
    out = df
    for k in key:
        c = F.col(k)
        if k in _CI_COLS:
            c = F.upper(c)
        # NULL-safe: indel rows carry NULL ref or var (CommonFormat2Line.java:54-90)
        out = out.withColumn(f"{prefix}{k}", F.coalesce(c.cast("string"), F.lit("\x00")))
    return out


def upsert_variants(
    incoming: DataFrame,
    existing: DataFrame,
    key: list[str] | None = None,
    id_col: str = "rgd_id",
    distributed_ranking: bool = False,
    stage_join: bool = False,
    id_space: DataFrame | None = None,
    mark_first: str | None = None,
) -> DataFrame:
    """Assign ids to incoming rows: reuse on key match, allocate otherwise.

    Returns ``incoming`` + ``rgd_id`` + boolean ``is_new``. Id allocation
    is deterministic: new distinct keys are ranked (dense_rank over the
    normalized key) and offset by max(id) of ``id_space`` — every id in
    use, the reference's one global sequence (VariantLoad3.java:550).
    It defaults to ``existing``; pass the whole id table when
    ``existing`` is a slice of it (one assembly's variants), or new ids
    restart inside ids the other slices hold. Existing side only needs
    (key, id) — project before calling for a lean broadcast/shuffle.

    The floor max(id) is a broadcast top-1 (non-null ids, descending,
    ``limit(1)``), left-joined and coalesced to 0. An aggregate would
    plan an ``Exchange`` that AQE runs as a job of its own before the
    broadcast job; the top-1 keeps a local top row per partition and
    merges them inside the one broadcast job, and on an empty
    ``id_space`` Catalyst folds it away with no job at all.

    ``mark_first`` (the load passes ``"sample_id"``) adds two booleans:
    ``first_of_id``, true on exactly one row of each id, and
    ``first_of_pair``, true on exactly one row of each (id,
    ``mark_first``). They come out of the ranking's own window pass —
    every window shares its partitioning and one sort, so the markers
    cost no extra exchange or sort — and let one staged upsert feed the
    per-id and per-pair inserts as plain filters (no ``dropDuplicates``
    shuffle per insert). The marked row is the one with the smallest
    ``mark_first`` (ties within a pair: any one of them).

    ``distributed_ranking=False`` (default, right at batch scale): ONE
    window pass; all new keys rank in a single window partition — one
    task sorts every new key, no second pass over the join.

    ``distributed_ranking=True`` (the 100 TB path): two-level ranking —
    dense_rank within each leading-key group (chromosome) in parallel,
    plus broadcast cumulative distinct-key offsets per group. Produces
    IDENTICAL ids to the single-sort path (global dense rank over
    (head, rest) ≡ per-head dense rank + Σ distinct keys of earlier
    heads) while the sort parallelizes across chromosomes. Costs a
    second (column-pruned, map-side-combined) pass over the join to
    count distinct keys per group; ``stage_join=True`` lands the join in
    a parquet stage barrier first so neither pass recomputes upstream.
    """
    key = key or NATURAL_KEY
    nk = [f"__k_{k}" for k in key]

    inc = _norm_key_cols(incoming, key, "__k_")
    ex = _norm_key_cols(existing.select(*key, id_col), key, "__k_").select(
        *nk, F.col(id_col).alias("__existing_id")
    )
    # An existing store may contain several ids for one key in pathological
    # cases; keep the smallest (stable).
    ex = ex.groupBy(*nk).agg(F.min("__existing_id").alias("__existing_id"))

    joined = inc.join(ex, on=nk, how="left")

    ids = existing if id_space is None else id_space
    top_id = (
        ids.select(F.col(id_col).alias("__m"))
        .filter(F.col("__m").isNotNull())
        .orderBy(F.col("__m").desc())
        .limit(1)
    )
    floor = F.coalesce(F.col("__m"), F.lit(0))
    is_new = F.col("__existing_id").isNull()

    if distributed_ranking and len(nk) > 1:
        if stage_join:
            from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

            joined = stage_to_parquet(joined, "upsert-join")
        head, rest = nk[0], nk[1:]
        # distinct new keys per leading-key group: column-pruned second
        # pass, partial-agg'd map-side, shuffles only (head, count) rows
        counts = (
            joined.filter(F.col("__existing_id").isNull())
            .groupBy(head)
            .agg(F.count_distinct(F.struct(*[F.col(c) for c in rest])).alias("__n"))
        )
        # cumulative offsets over the tiny per-group table (rows = number
        # of chromosomes — the single-partition window is on ~40 rows)
        w_off = Window.orderBy(head).rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.select(
            F.col(head), F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
        )
        # per-group dense rank: new rows of each chromosome sort in their
        # own window partition — parallel across groups
        partition, order = ["__new", "__existing_id", head], rest
        joined = joined.join(F.broadcast(offsets), on=head, how="left")
        floor = floor + F.coalesce(F.col("__off"), F.lit(0))
    else:
        # dense_rank over the normalized key of unmatched rows — ties (same
        # key in the same batch) share a rank, so duplicates get the same
        # new id without a distinct+join-back round trip (the reference
        # dedups within a batch the same way, VariantLoad3.java:517-575).
        # ONE pass: partitioning the window on (match flag, existing id)
        # ranks the new keys without splitting the plan into two branches
        # (a split means either recomputing the upstream join twice or a
        # stage barrier). All NEW rows land in the single (true, null)
        # window partition and get the global dense rank; matched rows
        # scatter across tiny per-existing-id partitions, so only the new
        # keys pay a real sort.
        partition, order = ["__new", "__existing_id"], nk

    # matched rows take the id they matched: blanking their key makes each
    # existing id one window partition whose rows are all peers. Every
    # window partitions on the same columns (the match flag is one too: an
    # expression would be aliased anew under each window, each alias
    # needing an exchange of its own), so the windows share one exchange.
    joined = joined.withColumns({"__new": is_new, **{c: F.when(is_new, F.col(c)) for c in nk}})
    w_key = Window.partitionBy(*partition).orderBy(*order)
    cols = {
        id_col: F.when(~is_new, F.col("__existing_id"))
        .otherwise(floor + F.dense_rank().over(w_key))
        .cast("long"),
        "is_new": F.col("__new"),
    }
    if mark_first is not None:
        # rank() is the row_number of a peer group's first row, so a row
        # is its group's first exactly where the two agree; ordering the
        # row numbers by (key, mark_first) makes that first row the
        # smallest mark_first of its id, and of its pair. This window is
        # added first so that its sort also serves w_key: one sort in all.
        w_row = Window.partitionBy(*partition).orderBy(*order, mark_first)
        row = F.row_number().over(w_row)
        joined = joined.withColumns({"__row": row, "__first_pair": row == F.rank().over(w_row)})
        cols["first_of_id"] = F.col("__row") == F.rank().over(w_key)
        cols["first_of_pair"] = F.col("__first_pair")
    return (
        joined.join(F.broadcast(top_id), how="left")
        .withColumns(cols)
        .drop("__m", "__off", "__existing_id", "__new", "__row", "__first_pair", *nk)
    )


def anti_insert(
    new_rows: DataFrame, existing: DataFrame, key: list[str]
) -> DataFrame:
    """Rows of ``new_rows`` whose key is absent from ``existing`` (J5/J6/K2).

    Replaces the reference's ``INSERT ... WHERE NOT EXISTS`` and the
    per-chromosome preload of VariantTranscriptBatch.java:69-97.
    Duplicate keys in ``existing`` do not change an anti join's result,
    so the right side is not deduplicated (that would be a shuffle).
    """
    return new_rows.join(existing.select(*key), on=key, how="left_anti")
