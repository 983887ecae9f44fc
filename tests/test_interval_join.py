"""Interval join tests (J1): broadcast and binned strategies must agree."""

from __future__ import annotations

from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.operators.interval_join import (
    interval_join_binned,
    interval_join_broadcast,
    point_in_interval_flag,
)


def _fixtures(spark):
    variants = spark.createDataFrame(
        [
            ("1", 100, 101),   # inside g1
            ("1", 999, 1000),  # overlaps g1 end
            ("1", 5000, 5001), # intergenic
            ("2", 100, 101),   # wrong chr for g1, inside g3
            ("1", 50, 2_000_001),  # huge span crossing bins, hits g1+g2
        ],
        "chromosome string, start_pos long, end_pos long",
    )
    genes = spark.createDataFrame(
        [
            (1, "1", 50, 1000),
            (2, "1", 1_999_000, 2_100_000),  # crosses the 2e6 bin boundary
            (3, "2", 90, 200),
        ],
        "gene_rgd_id int, g_chr string, g_start long, g_stop long",
    )
    return variants, genes


def test_broadcast_and_binned_agree(spark):
    variants, genes = _fixtures(spark)
    kw = dict(
        probe_keys=("chromosome", "start_pos", "end_pos"),
        interval_keys=("g_chr", "g_start", "g_stop"),
    )
    b = interval_join_broadcast(variants, genes, **kw)
    n = interval_join_binned(variants, genes, bin_size=1_000_000, **kw)
    key = ["chromosome", "start_pos", "end_pos", "gene_rgd_id"]
    b_rows = sorted(tuple(r[k] for k in key) for r in b.select(*key).collect())
    n_rows = sorted(tuple(r[k] for k in key) for r in n.select(*key).collect())
    assert b_rows == n_rows
    assert len(b_rows) == 5  # (100,g1) (999,g1) (2:100,g3) (50..2e6+1, g1 and g2)


def test_binned_no_duplicate_pairs_across_bins(spark):
    variants, genes = _fixtures(spark)
    n = interval_join_binned(
        variants,
        genes,
        probe_keys=("chromosome", "start_pos", "end_pos"),
        interval_keys=("g_chr", "g_start", "g_stop"),
        bin_size=1_000_000,
    )
    pairs = n.groupBy("chromosome", "start_pos", "end_pos", "gene_rgd_id").count()
    assert pairs.filter(F.col("count") > 1).count() == 0


def test_point_in_interval_flag_genic_status(spark):
    variants, genes = _fixtures(spark)
    out = point_in_interval_flag(
        variants,
        genes,
        "is_genic",
        probe_keys=("chromosome", "start_pos", "end_pos"),
        interval_keys=("g_chr", "g_start", "g_stop"),
    )
    got = {
        (r["chromosome"], r["start_pos"]): r["is_genic"] for r in out.collect()
    }
    assert got[("1", 100)] is True
    assert got[("1", 5000)] is False
    assert got[("2", 100)] is True
    assert len(got) == 5  # probe multiplicity preserved


def test_point_in_interval_flag_matches_brute_force_with_no_shuffle(spark):
    """The flag equals a brute-force overlap check on duplicate
    intervals, intervals spanning several bins, an ``extra_key`` and null
    bounds on either side; the interval side is never shuffled (it is
    coalesced to one partition, exploded and grouped with
    ``collect_set`` inside the broadcast job)."""
    from tests.test_plans import _plan

    bin_size = 100
    intervals = [
        # (chr, start, stop, key)
        ("1", 150, 180, 7),
        ("1", 150, 180, 7),      # exact duplicate
        ("1", 150, 180, 8),      # same span, other key
        ("1", 90, 420, 7),       # spans five bins
        ("2", 10, 20, 7),
        ("2", None, 50, 7),      # null bound never flags
        ("2", 60, None, 8),
        (None, 1, 1000, 7),      # null chromosome never flags
    ]
    probes = [
        ("1", 155, 156, 7), ("1", 155, 156, 8), ("1", 155, 156, 9),
        ("1", 181, 182, 8), ("1", 399, 401, 7), ("1", 421, 425, 7),
        ("1", 85, 90, 7), ("1", 99, 101, 8), ("2", 15, 15, 7), ("2", 30, 40, 7),
        ("2", 70, 80, 8), ("3", 10, 20, 7), ("1", None, 160, 7), (None, 155, 156, 7),
    ]
    iv = spark.createDataFrame(
        intervals, "chromosome string, start_pos long, stop_pos long, k int"
    )
    probe = spark.createDataFrame(
        probes, "chromosome string, start_pos long, end_pos long, k int"
    )

    def brute(p, use_key):
        pc, ps, pe, pk = p
        return any(
            pc is not None and pc == c and ps is not None and s is not None
            and e is not None and ps <= e and pe >= s and (not use_key or pk == k)
            for c, s, e, k in intervals
        )

    for use_key in (False, True):
        out = point_in_interval_flag(
            probe, iv, "hit", extra_key="k" if use_key else None, bin_size=bin_size
        )
        assert _plan(out, "simple").count("Exchange hashpartitioning") == 0
        got = sorted(((tuple(r[:4]), r["hit"]) for r in out.collect()), key=repr)
        want = sorted(((p, brute(p, use_key)) for p in probes), key=repr)
        assert got == want, use_key
