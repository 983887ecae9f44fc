"""Interval (range-overlap) join — J1/J14/X16 in SURVEY.md §2.4.

The reference probes a sorted in-memory gene cache per variant
(GeneCache.java:53-98). Spark-first, two strategies:

1. ``interval_join_broadcast`` — broadcast the interval side and let
   Spark run a BroadcastNestedLoop with the range predicate. Correct and
   fast when the interval side is dimension-sized (genes/features per
   assembly: 1e4-1e5 rows), which is the reference's regime.

2. ``interval_join_binned`` — the 100 TB-scale path. Bucketize both
   sides into fixed-width genomic bins, equi-join on (chr, bin) so the
   shuffle/join is hash-based and parallel, then apply the residual
   overlap predicate. Intervals spanning k bins are exploded into k
   rows (genes are ~1e4-1e6 bp, bin 1e6 → small fanout); point probes
   get exactly one bin. A pair overlapping in several bins is emitted
   once, by keeping only the first shared bin. Works for arbitrary
   fact-×-fact interval joins where broadcast is impossible.

Overlap predicate (inclusive; GeneCache.java:62-78's three cases
collapse to this): probe.start <= build.stop AND probe.end >= build.start.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

DEFAULT_BIN_SIZE = 1_000_000


def one_task_build(df: DataFrame) -> DataFrame:
    """``df`` on one partition, for a dims-sized broadcast build side.

    An aggregate or a merge join over one partition needs no exchange
    (one partition satisfies every distribution), so the build of a
    broadcast side runs inside the one task of the broadcast job that
    ships it and costs no shuffle job of its own. One task is enough
    because a broadcast side must fit on the driver anyway. Use it only
    for annotation-sized inputs (genes, transcripts, features), never
    for store-sized ones.
    """
    return df.coalesce(1)


def interval_join_broadcast(
    probe: DataFrame,
    intervals: DataFrame,
    probe_keys: tuple[str, str, str] = ("chromosome", "start_pos", "end_pos"),
    interval_keys: tuple[str, str, str] = ("chromosome", "start_pos", "stop_pos"),
    how: str = "inner",
    extra_on: Column | None = None,
) -> DataFrame:
    """Broadcast range join: probe × broadcast(intervals) with overlap pred.

    Column-name collisions must be resolved by the caller (alias/rename
    the interval side).
    """
    p_chr, p_start, p_end = probe_keys
    i_chr, i_start, i_stop = interval_keys
    cond = (
        (probe[p_chr] == intervals[i_chr])
        & (probe[p_start] <= intervals[i_stop])
        & (probe[p_end] >= intervals[i_start])
    )
    if extra_on is not None:
        cond = cond & extra_on
    return probe.join(broadcast(intervals), on=cond, how=how)


def _explode_bins(df: DataFrame, start_c: str, end_c: str, bin_size: int) -> DataFrame:
    return df.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_c) / bin_size).cast("long"),
                F.floor(F.col(end_c) / bin_size).cast("long"),
            )
        ),
    )


def interval_join_binned(
    probe: DataFrame,
    intervals: DataFrame,
    probe_keys: tuple[str, str, str] = ("chromosome", "start_pos", "end_pos"),
    interval_keys: tuple[str, str, str] = ("chromosome", "start_pos", "stop_pos"),
    bin_size: int = DEFAULT_BIN_SIZE,
    how: str = "inner",
) -> DataFrame:
    """Binned interval join: scale path for fact-×-fact range joins.

    Both sides are exploded to one row per covered bin and equi-joined on
    (chr, bin) — a shuffle hash join, no nested loop, parallel at any
    scale, AQE splits skewed bins. The residual overlap predicate plus a
    first-shared-bin guard (dedup without a groupBy) complete the join.
    """
    p_chr, p_start, p_end = probe_keys
    i_chr, i_start, i_stop = interval_keys

    p = _explode_bins(probe, p_start, p_end, bin_size)
    i = _explode_bins(intervals, i_start, i_stop, bin_size)

    first_shared_bin = F.greatest(
        F.floor(p[p_start] / bin_size).cast("long"),
        F.floor(i[i_start] / bin_size).cast("long"),
    )
    joined = p.join(
        i,
        on=(
            (p[p_chr] == i[i_chr])
            & (p["__bin"] == i["__bin"])
            & (p[p_start] <= i[i_stop])
            & (p[p_end] >= i[i_start])
            & (p["__bin"] == first_shared_bin)
        ),
        how=how,
    )
    return joined.drop(p["__bin"]).drop(i["__bin"])


def point_in_interval_flag(
    probe: DataFrame,
    intervals: DataFrame,
    flag_name: str,
    probe_keys: tuple[str, str, str] = ("chromosome", "start_pos", "end_pos"),
    interval_keys: tuple[str, str, str] = ("chromosome", "start_pos", "stop_pos"),
    extra_key: str | None = None,
    bin_size: int = 1_000_000,
) -> DataFrame:
    """Existence flag: does the probe row overlap ANY interval?

    Used for X6 genic status (VariantLoad3.java:682-692) and PAR
    membership. Plan shape: intervals are exploded to genomic bins
    (padded one bin left, so a probe whose span is smaller than
    ``bin_size`` meets every overlapping interval in its own START bin),
    then grouped to ONE build row per (chr, bin[, key]) holding the set
    of that bin's intervals; ``collect_set`` drops duplicate intervals,
    and ``exists`` depends on neither order nor multiplicity. The
    grouping runs over ``one_task_build`` intervals, inside the one task
    of the broadcast job that ships its result, so the flag costs no
    shuffle job. The probe runs ONE left hash join on (chr,
    bin[, key]); the flag is ``exists`` over the matched bin's intervals
    with the overlap predicate (false when no bin matched). Intervals
    with a null bound explode to no bin and never flag.

    Requires probe spans < bin_size (true for variants vs the 1 Mb
    default by 4 orders of magnitude).

    Returns probe with an added boolean column ``flag_name``; row
    multiplicity preserved exactly (one build row per join key).
    """
    p_chr, p_start, p_end = probe_keys
    i_chr, i_start, i_stop = interval_keys

    sel = [
        F.col(i_chr).alias("__i_chr"),
        F.col(i_start).cast("long").alias("__i_start"),
        F.col(i_stop).cast("long").alias("__i_stop"),
    ]
    if extra_key is not None:
        sel.append(F.col(extra_key).alias("__i_key"))
    group_cols = ["__i_chr", "__bin"] + (["__i_key"] if extra_key else [])
    binned = (
        one_task_build(intervals.select(*sel))
        .withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(F.col("__i_start") / bin_size) - 1,
                    F.floor(F.col("__i_stop") / bin_size),
                )
            ),
        )
        # one build row per (chr, bin[, key]) → a plain LEFT join cannot
        # duplicate probe rows; the per-bin interval sets stay tiny
        .groupBy(*group_cols)
        .agg(
            F.collect_set(
                F.struct(F.col("__i_start").alias("s"), F.col("__i_stop").alias("e"))
            ).alias("__ivs")
        )
    )

    probe_bin = F.floor(probe[p_start] / bin_size)
    cond = (probe[p_chr] == binned["__i_chr"]) & (probe_bin == binned["__bin"])
    if extra_key is not None:
        cond = cond & (probe[extra_key] == binned["__i_key"])

    joined = probe.join(broadcast(binned), on=cond, how="left")
    start, end = probe[p_start], probe[p_end]
    flag = F.coalesce(
        F.exists("__ivs", lambda iv: (start <= iv["e"]) & (end >= iv["s"])),
        F.lit(False),
    )
    return joined.withColumn(flag_name, flag).drop(*group_cols, "__ivs")
