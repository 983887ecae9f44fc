"""Physical-plan assertions — the `.explain("formatted")` audit as tests.

The scale argument for every headline operator lives in its plan shape:
filters must reach the parquet scan, column pruning must shrink
ReadSchema, dimension joins must broadcast, interval joins must stay
equi-join (binned) instead of degrading to BroadcastNestedLoop, and
aggregations must partial-aggregate map-side. These tests pin those
properties so a refactor that silently degrades a plan fails CI, not a
100 TB run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df, mode: str = "formatted") -> str:
    je = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return je.explainString(jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def _store_dir(name: str, key, i: int = 0) -> str:
    """Directory name of the ``i``-th staged frame of a build-once store."""
    import os

    from rat_strain_loader_pipeline_spark.staging import _STORES

    return os.path.basename(_STORES[(name, key)].parts[i].path)


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as em

    return em.queries()


def test_filter_pushdown_and_column_pruning(spark, sf_dir, queries):
    plan = _plan(queries["filter_project"](spark, sf_dir))
    # predicate reaches the parquet scan
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan
    # pruning: the 16-col lineitem scan must not read unprojected columns
    assert "l_comment" not in plan


def test_broadcast_join_not_shuffle(spark, sf_dir, queries):
    plan = _plan(queries["broadcast_join_agg"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_join_broadcast_strategy(spark, sf_dir, queries):
    """J1 dimension regime: with a broadcast-small interval side the
    range join is a BroadcastNestedLoop over the broadcast build — the
    intended plan (probe side never shuffles); a CartesianProduct or a
    shuffled nested loop would be the regression."""
    plan = _plan(queries["interval_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_join_binned_is_equi_join(spark):
    """J1 fact-×-fact regime: the binned interval join must plan as a
    hash equi-join on (chr, bin) with a residual range filter — never a
    nested loop, at any input size."""
    from rat_strain_loader_pipeline_spark.operators.interval_join import (
        interval_join_binned,
    )

    probe = spark.range(1000).select(
        F.lit("1").alias("chromosome"),
        F.col("id").alias("start_pos"),
        (F.col("id") + 2).alias("end_pos"),
    )
    iv = spark.range(1000).select(
        F.lit("1").alias("i_chr"),
        (F.col("id") * 3).alias("i_start"),
        (F.col("id") * 3 + 50).alias("i_stop"),
    )
    out = interval_join_binned(
        probe,
        iv,
        probe_keys=("chromosome", "start_pos", "end_pos"),
        interval_keys=("i_chr", "i_start", "i_stop"),
        bin_size=64,
    )
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # Broadcast- or Shuffled-


def test_genic_status_interval_flag_is_equi_join(spark, sf_dir, queries):
    plan = _plan(queries["genic_status_fixup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pricing_summary_partial_aggregation(spark, sf_dir, queries):
    """A map-side partial HashAggregate must precede the final one —
    the shuffle carries per-partition partials, not raw rows."""
    df = queries["pricing_summary"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2
    # codegen spans only materialize in the AQE final plan — execute the
    # SAME QueryExecution (collect, not count) then re-read it; spans
    # print as `*(n)` markers in the executed-plan string
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "*(" in final  # whole-stage codegen stage markers


def test_dna_chunk_extract_equi_join(spark, sf_dir, queries):
    """S6 scale path: block random access must be an equi-join on
    (chr, block_id), not a range nested loop over the genome."""
    plan = _plan(queries["dna_chunk_extract"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_anti_join_stays_join_not_subquery(spark, sf_dir, queries):
    plan = _plan(queries["anti_join"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_upsert_distributed_ranking_avoids_single_partition_exchange(spark):
    """The two-level ranking path must not plan a global
    Exchange SinglePartition for the new-key sort (the default path
    does — that is exactly its documented scale limit)."""
    from rat_strain_loader_pipeline_spark.operators.upsert import upsert_variants

    incoming = spark.createDataFrame(
        [("1", 10, 11, "A", "C", "snv"), ("2", 20, 21, "G", "T", "snv")],
        "chromosome string, start_pos long, end_pos long, ref_nuc string, "
        "var_nuc string, variant_type string",
    )
    existing = spark.createDataFrame(
        [],
        "rgd_id long, chromosome string, start_pos long, end_pos long, "
        "ref_nuc string, var_nuc string, variant_type string",
    )
    dist = _plan(upsert_variants(incoming, existing, distributed_ranking=True))
    # the ranking window partitions by the leading key — hash exchange,
    # and the only single-partition exchange allowed is the tiny
    # per-chromosome offsets window, whose input is the count aggregate
    ranking_side = dist.split("Window")[0] if "Window" in dist else dist
    assert "hashpartitioning" in ranking_side.lower() or "Exchange" not in ranking_side


def test_decontaminate_broadcasts_benchmark(spark, sf_dir, queries):
    """The benchmark n-gram set must broadcast — a shuffled join would
    move the full exploded training-gram table twice."""
    plan = _plan(queries["decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_ngram_jaccard_no_global_rank(spark, sf_dir, queries):
    """Prefix filtering must not build a dense global token rank: that
    plans an Exchange SinglePartition (every distinct shingle through one
    window task) plus a broadcast of the full token table — billions of
    entries at 100 TB. The fixed plan orders the per-doc window by
    (df, tok) after a partitioned join; every window is hash-partitioned."""
    plan = _plan(queries["ngram_jaccard"](spark, sf_dir))
    assert "SinglePartition" not in plan


def test_split_assign_no_shuffle(spark, sf_dir, queries):
    """Deterministic split is pure map-side expression work — any
    Exchange in this plan is a regression."""
    plan = _plan(queries["split_assign"](spark, sf_dir))
    assert "Exchange" not in plan


def test_source_topk_single_partitioned_window(spark, sf_dir, queries):
    """Per-group top-k: one hash exchange feeding one window; a global
    (SinglePartition) sort would be the scale killer."""
    plan = _plan(queries["source_topk"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert plan.count("Window (") == 1


def test_vocab_topk_partial_agg_and_bounded_sort(spark, sf_dir, queries):
    """Token counts must partial-aggregate map-side and the top-k must
    be a bounded TakeOrderedAndProject, not a global sort."""
    df = queries["vocab_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_sequence_pack_single_shuffle(spark, sf_dir, queries):
    """Shard-local packing: one hash exchange on the shard key feeds the
    window cumsum; no global single-partition sort anywhere."""
    df = queries["sequence_pack"](spark, sf_dir)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    # formatted mode prints each node twice (tree + detail) — count tree nodes
    assert plan.count("Window (") == 1
    assert plan.count("Exchange (") == 1


def test_asof_join_single_shuffle_no_range_join(spark, sf_dir, queries):
    """The as-of join must stay ONE keyed hash exchange (union + window),
    never degrade to a nested-loop/range join."""
    plan = _plan(queries["asof_join"](spark, sf_dir))
    # formatted mode prints each node twice (tree + detail) — count tree nodes
    assert plan.count("Exchange (") == 1
    assert "SinglePartition" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_bounded_topk_and_broadcast_stats(spark, sf_dir, queries):
    """BM25's final ranking must be TakeOrderedAndProject (per-partition
    heaps, k rows to the driver — never a global sort), with the 1-row
    corpus stats and per-term df broadcast."""
    plan = _plan(queries["bm25_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    # the raw token explode must partial-aggregate before shuffling
    assert "partial_count" in plan.lower() or "HashAggregate" in plan


def test_stratified_sample_single_partitioned_window(spark, sf_dir, queries):
    """Stratified sampling must stay one hash-partitioned window — no
    global sort, no SinglePartition exchange."""
    plan = _plan(queries["stratified_sample"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert plan.count("Window (") == 1
    assert plan.count("Exchange (") == 1


def test_char_entropy_partial_aggregation(spark, sf_dir, queries):
    """The (doc, char) counts must partial-aggregate map-side before the
    shuffle — the raw exploded characters never shuffle."""
    plan = _plan(queries["char_entropy"](spark, sf_dir))
    assert "partial_count" in plan or "partial_" in plan
    assert "SinglePartition" not in plan


def test_weighted_sample_bounded_selection(spark, sf_dir, queries):
    """A-ES selection is TakeOrderedAndProject (per-partition heaps),
    never a global sort."""
    plan = _plan(queries["weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_gap_fill_grid_is_broadcast_not_fact_sized(spark, sf_dir, queries):
    """The dense grid build (hours x key tuples) must broadcast the key
    list — the only shuffled join is grid-onto-preaggregated-series, so
    nothing fact-sized crosses the grid path."""
    plan = _plan(queries["events_gap_fill"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_chi2_marginals_broadcast(spark, sf_dir, queries):
    """Marginal/grand-total joins are dimension-sized broadcasts; the
    fact table is scanned once for the cell counts."""
    plan = _plan(queries["chi2_contingency"](spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_corpus_curation_semi_join_probes(spark, sf_dir, queries):
    """Dedup-survivor and decontamination stages must probe as id-only
    semi joins — the document text is never shuffled for them."""
    plan = _plan(queries["corpus_curation"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_doc_chunks_is_shuffle_free(spark, sf_dir):
    """Chunking is pure map-side codegen — no exchange anywhere (the
    driver query's orderBy adds only the final presentation sort)."""
    from rat_strain_loader_pipeline_spark.operators.text import doc_chunks
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    out = doc_chunks(read_table(spark, sf_dir, "documents"))
    plan = _plan(out)
    assert "Exchange" not in plan


def test_spearman_rank_windows_over_bounded_series(spark, sf_dir, queries):
    """rank2's unpartitioned windows are safe ONLY because they run over
    the per-hour value-count table (calendar-bounded): every Window
    node's input must carry the post-aggregation 'eq' count column,
    which fact rows don't have — a refactor that moves the window onto
    the fact table fails here, not on a 100 TB run."""
    import re

    plan = _plan(queries["spearman_hourly"](spark, sf_dir))
    sections = re.split(r"\n\(\d+\) ", plan)
    windows = [s for s in sections if s.startswith("Window")]
    assert len(windows) == 2
    for w in windows:
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", w)
        assert m is not None and "eq" in m.group(1)


def test_winnow_pairs_staged_and_bounded(spark, sf_dir, queries):
    """The fingerprint table must be STAGED (the hash pass runs once —
    downstream consumers scan the staged parquet, never re-hash), and
    the pair join must be equi (no cartesian/nested-loop explosion)."""
    plan = _plan(queries["winnow_pairs"](spark, sf_dir))
    assert "winnow-fps" in plan  # staged fingerprint scan feeds the joins
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_cosine_pairs_staged_inverted_index(spark, sf_dir, queries):
    """The weight table must be staged (one tokenize pass; the unstaged
    plan re-tokenized the corpus per consumer) and the self-join must be
    term-keyed equi — never cartesian."""
    plan = _plan(queries["tfidf_cosine_pairs"](spark, sf_dir))
    assert "tfidf-w" in plan
    assert "CartesianProduct" not in plan


def test_knn_join_no_cartesian_corpus(spark, sf_dir, queries):
    """Query replication rides a broadcast of the tiny block-id table;
    the corpus side must never be nested-loop joined or collected."""
    plan = _plan(queries["knn_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 1


def test_rollup_is_native_expand(spark, sf_dir, queries):
    """ROLLUP must lower to Catalyst's Expand + ONE aggregation (with
    map-side partials), not a union of per-grouping-set scans."""
    plan = _plan(queries["rollup_counts"](spark, sf_dir))
    assert "Expand" in plan
    # formatted explain prints each node in the tree AND the numbered
    # details, so one physical scan == 2 occurrences
    assert plan.count("Scan parquet") <= 2


def test_value_histogram_two_fact_passes(spark, sf_dir, queries):
    """Histogram reads the facts exactly twice (bounds + counts); the
    bounds row broadcasts — no fact-sized join or cartesian."""
    plan = _plan(queries["value_histogram"](spark, sf_dir))
    # exactly 2 physical scans (bounds + counts; edges ride the
    # grouped lo/hi), each printed twice by formatted explain
    assert plan.count("Scan parquet") <= 4
    assert "CartesianProduct" not in plan


def test_event_transitions_single_window_pass(spark, sf_dir, queries):
    """One hash-partitioned window over the facts, then one aggregation
    — no self-join of the event stream."""
    plan = _plan(queries["event_transitions"](spark, sf_dir))
    assert plan.count("Window") >= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_value_outliers_broadcast_baseline(spark, sf_dir, queries):
    """The (type, median, MAD) baseline joins back as a broadcast —
    the counting pass never shuffles the facts for the join."""
    plan = _plan(queries["value_outliers"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_dedup_spans_no_cartesian_and_staged(spark, sf_dir, queries):
    """Span removal must stay hash-joined at every step (occurrence ->
    stats join back, coverage anti-join) — never a cartesian — and the
    span-occurrence table must be staged (plan reads it as a parquet
    scan, so the gram explode computes once, not once per consumer)."""
    plan = _plan(queries["dedup_spans"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "span-occ" in plan  # staged parquet path visible in the scan


def test_window_skew_twins_same_plan_shape(spark, sf_dir, queries):
    """The skew twins must differ ONLY in the key expression — same
    window + partial-aggregation plan shape, so their benched ratio
    measures data skew, not plan drift."""
    import re

    pz = _plan(queries["window_skew_zipf"](spark, sf_dir))
    pu = _plan(queries["window_skew_uniform"](spark, sf_dir))
    for p in (pz, pu):
        assert "Window" in p
        assert "HashAggregate" in p
    # identical operator sequence (strip ids/exprs, keep node names)
    shape = lambda p: [m for m in re.findall(r"^\s*[+*:\-]+\s*([A-Za-z]+)", p, re.M)]
    assert shape(pz) == shape(pu)


def test_semdedup_within_cluster_pairs_stay_hash_joined(spark, sf_dir, queries):
    """SemDeDup's whole scale claim is that the pairwise cosine stage
    is bounded to within-cluster pairs via an equi-join on
    (cluster_id, dim) — never a cartesian/nested-loop product — and
    that the exploded (vec, dim, xq) table is staged once (parquet
    scan in the plan) instead of recomputing the explode per consumer."""
    plan = _plan(queries["semdedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "semdedup-ex" in plan  # staged parquet path visible in the scan


def test_hard_negatives_anchor_side_broadcasts(spark, sf_dir, queries):
    """The anchor batch (and its norms) must broadcast into the corpus
    explode — never a cartesian/nested-loop pairing, and never a
    corpus-by-corpus join."""
    plan = _plan(queries["hard_negatives"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_shard_manifest_no_corpus_sized_single_partition_window(spark, sf_dir, queries):
    """The global prefix sum must be the two-level block construction:
    the only unpartitioned windows run over the tiny bucket/block count
    tables (bounded by SHUFFLE_BUCKETS / corpus-len / SHARD_RANK_BLOCK
    rows), never over the full corpus. The fact-side windows must be
    hash-partitioned (__b / __blk present in a Window partition spec)."""
    import re

    plan = _plan(queries["shard_manifest"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # both fact-side windows keep their partition keys
    assert re.search(r"Window.*__b", plan, re.S)
    assert re.search(r"Window.*__blk", plan, re.S)


def test_pq_adc_lut_broadcasts_against_codes(spark, sf_dir, queries):
    """ADC probes must join the (query x K)-sized LUT as a broadcast
    against the corpus code table — the corpus is touched only through
    its codes, with no cartesian pairing."""
    plan = _plan(queries["pq_adc_topk"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_ivf_pq_probe_and_luts_broadcast(spark, sf_dir, queries):
    """IVF-PQ search must touch the corpus only through the persisted
    index codes: the probe set and the (query x group x centroid)
    distance table join in as broadcasts, never a cartesian pairing.
    The entry query serves from the fused artifact (round 12), so the
    staged serve-side LUT scan appears and NO kmeans training stages
    do; the hermetic operator keeps its own fused-training shape,
    pinned separately."""
    from pyspark.sql import functions as F
    from rat_strain_loader_pipeline_spark.operators.quantize import ivf_pq_topk
    from rat_strain_loader_pipeline_spark.sources.tables import read_table
    import __spark_entry__ as em

    plan = _plan(queries["ivf_pq_topk"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "ivfpq-serve-qdist" in plan   # one shared router/LUT table
    assert "kmeansg-assign" not in plan  # no training in the served plan
    # the hermetic operator still shows the fused single-run training
    # and the shared router/LUT table
    emb = read_table(spark, sf_dir, "embeddings")
    hplan = _plan(
        ivf_pq_topk(
            emb.filter(F.col("vec_id") < em.PQADC_QUERIES),
            emb,
            dims=em.EMB_DIMS,
            coarse_k=em.KMEANS_K,
            coarse_iters=em.IVFPQ_COARSE_ITERS,
            m=em.PQ_M,
            k=em.PQ_K,
            iters=em.PQ_ITERS,
            nprobe=em.IVFPQ_NPROBE,
            topk=em.PQADC_TOPK,
        )
    )
    assert "ivfpq-qdist" in hplan
    assert "kmeansg-assign" in hplan
    assert "CartesianProduct" not in hplan


def test_incremental_rollup_merges_from_staged_base_mv(spark, sf_dir, queries):
    """The maintained path must read the base rollup from its staged
    parquet MV (one scan of pre-aggregated groups), not re-aggregate
    base rows at merge time."""
    plan = _plan(queries["incremental_rollup"](spark, sf_dir))
    assert "rollup-base" in plan
    assert "CartesianProduct" not in plan


def test_zorder_rank_windows_stay_block_partitioned(spark, sf_dir, queries):
    """The global z-rank must be the two-level construction: the
    fact-side window partitions on the coarse z-block (__blk); the only
    unpartitioned window runs over the tiny block-count table. The
    1-row bounds table rides broadcast joins."""
    import re

    plan = _plan(queries["zorder_layout"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert re.search(r"Window.*__blk", plan, re.S)
    assert "BroadcastExchange" in plan


def test_bloom_bits_join_in_as_broadcast(spark, sf_dir, queries):
    """The (i, pos) filter table must broadcast into the key probe —
    the whole point is a map-side pre-filter, never a shuffle pairing
    against the filter."""
    plan = _plan(queries["bloom_prune"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_ivf_pq_residual_luts_broadcast(spark, sf_dir, queries):
    """Residual search must keep the (query x probed-list x codebook)
    LUT and probe tables broadcast — corpus touched only through its
    staged coarse assignment and residual codes."""
    plan = _plan(queries["ivf_pq_residual_topk"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "ivfpqr-qm" in plan  # the staged query micros feed router AND LUTs


def test_triangle_wedge_join_stays_hash_partitioned(spark, sf_dir, queries):
    """The wedge enumeration must be a hash self-join of the staged
    oriented adjacency — never a cartesian pairing; the staged
    orientation table is the only input it scans."""
    plan = _plan(queries["triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "tri-oriented" in plan


def test_cluster_quota_window_partitioned_by_cluster(spark, sf_dir, queries):
    """The quota cut must be a per-cluster window, not a global sort."""
    import re

    plan = _plan(queries["cluster_quota_sample"](spark, sf_dir))
    assert re.search(r"Window.*cluster_id", plan, re.S)
    assert "CartesianProduct" not in plan


def test_dataset_diff_single_full_outer_join(spark, sf_dir, queries):
    """Version diff is ONE full-outer hash join on the doc key."""
    plan = _plan(queries["dataset_diff"](spark, sf_dir))
    assert plan.count("FullOuter") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_value_grain_windows_stay_group_partitioned(spark, sf_dir, queries):
    """weighted_median / quantile_rank / winsorized_stats collapse to
    value grain and window per group — never an unpartitioned
    corpus-grain window, never a cartesian pairing."""
    import re

    for name in ("weighted_median", "quantile_rank", "winsorized_stats"):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert re.search(r"Window.*(l_returnflag|event_type)", plan, re.S), name


def test_curriculum_rank_windows_stay_band_bucket_partitioned(
    spark, sf_dir, queries
):
    """The curriculum rank must be the two-level construction: the
    fact-side window partitions on (band, bucket); only the tiny
    offsets table sees an unpartitioned window."""
    import re

    plan = _plan(queries["curriculum_order"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert re.search(r"Window.*band.*__b", plan, re.S)


def test_lpa_rounds_are_staged_hash_joins(spark, sf_dir, queries):
    plan = _plan(queries["label_propagation"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "lpa-labels-" in plan  # lineage truncated per round


def test_media_phash_pairs_no_cartesian_and_staged_sigs(spark, sf_dir, queries):
    """Image near-dup must pair via the banded equi-join over the STAGED
    signature table — no cartesian, no recompute of the decode lineage
    on either join side (the stage barrier shows as a parquet scan)."""
    plan = _plan(queries["media_phash_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "phash-sigs" in plan


def test_quality_model_score_is_single_map_stage(spark, sf_dir, queries):
    """The hashed-linear quality gate is map-side only: no Exchange of
    any kind in the plan (one scan, one project — whole-stage codegen)."""
    plan = _plan(queries["quality_model_score"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # zero Python in the hot path


def test_mixture_rebalance_rate_table_broadcasts(spark, sf_dir, queries):
    plan = _plan(queries["mixture_rebalance"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cdc_chunks_single_hash_agg_shuffle(spark, sf_dir, queries):
    """CDC dedup: chunking is one Arrow stage; the only exchange is the
    chunk_hash aggregation (partial agg map-side before it)."""
    plan = _plan(queries["cdc_chunks"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # hash agg (+distinct)


def test_round7_batch2_no_cartesian(spark, sf_dir, queries):
    """E105-E118: none of the new operators may emit a real cartesian;
    BroadcastNestedLoopJoin is allowed only for 1-row scalar bounds
    (calibration_bins, rec_eval summary)."""
    for name in (
        "markov_transitions",
        "grouped_ols",
        "zipf_alpha",
        "kaplan_meier",
        "er_name_match",
        "top_paths",
        "mad_anomalies",
        "rollup_report",
        "bootstrap_ci",
        "source_hhi",
        "l_diversity",
    ):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_grouped_ols_single_shuffle(spark, sf_dir, queries):
    """Five mergeable moments in ONE map-side-combined aggregation."""
    plan = _plan(queries["grouped_ols"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 1


def test_rollup_report_uses_expand_one_shuffle(spark, sf_dir, queries):
    """Native grouping-set expansion: one Expand + one grouping
    shuffle, never per-level re-scans."""
    plan = _plan(queries["rollup_report"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Arguments: hashpartitioning") == 1


def test_rec_eval_staged_scalars(spark, sf_dir, queries):
    """Staged intermediates + folded hit flags: the summary row must
    not re-derive the basket join per scalar (was 46 exchanges)."""
    plan = _plan(queries["rec_eval"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_calibration_bins_broadcast_bounds(spark, sf_dir, queries):
    """1-row bounds broadcast; the only hash exchange is the bin agg."""
    plan = _plan(queries["calibration_bins"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_kaplan_meier_windows_stay_cohort_partitioned(spark, sf_dir, queries):
    plan = _plan(queries["kaplan_meier"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # subject agg + (cohort, dur) grain + cohort windows
    assert plan.count("Exchange hashpartitioning") <= 3


def test_round7_batch3_no_cartesian(spark, sf_dir, queries):
    """E121-E133: no real cartesians; BNLJ only for 1-row scalars
    (llr_collocations broadcasts its NB total that way)."""
    for name in (
        "rolling_wau",
        "segment_checksums",
        "centroid_distances",
        "join_delta",
        "preference_bias",
        "order_skew_audit",
        "user_gini",
        "peak_concurrency",
    ):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    assert "CartesianProduct" not in _plan(
        queries["llr_collocations"](spark, sf_dir)
    )


def test_cluster_margin_broadcasts_centroids(spark, sf_dir, queries):
    """K-row centroid table must broadcast; the corpus pass is the
    only fact-sized stage."""
    plan = _plan(queries["cluster_margin"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_peak_concurrency_single_group_window(spark, sf_dir, queries):
    plan = _plan(queries["peak_concurrency"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Arguments: hashpartitioning") <= 2  # boundary agg + window


def test_decontaminate_semantic_map_only(spark, sf_dir, queries):
    """The k=1 benchmark GEMM gate is map-only over the corpus: the
    benchmark matrix broadcasts by value (driver collect of the SMALL
    side), so the plan has no shuffle and no join of any kind."""
    plan = _plan(queries["decontaminate_semantic"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_bt_strengths_staged_rounds_and_broadcast(spark, sf_dir, queries):
    """Each MM round joins the ITEM-sized strength table back onto the
    pair grain via staged parquet (lineage truncated per round) — the
    final plan reads the last staged round, never replays the chain."""
    plan = _plan(queries["bt_strengths"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "bt-s" in plan  # staged per-round strength table


def test_dedup_recall_audit_sampled_no_cartesian(spark, sf_dir, queries):
    """Sampled audit: the only nested-loop joins are the 1-row scalar
    count broadcasts; the pair pipelines stay equi-joins."""
    plan = _plan(queries["dedup_recall_audit_sampled"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_round8_batch2_no_cartesian(spark, sf_dir, queries):
    """E139-E156: no real cartesians; BroadcastNestedLoopJoin is
    allowed only for 1-row scalar bounds / small inequality probes
    (vocab_coverage targets, quantile_normalize mapping join,
    diff_in_diff bounds)."""
    for name in (
        "gopher_rules",
        "kappa_agreement",
        "t_closeness",
        "target_encode_loo",
        "dsir_select",
        "perplexity_filter",
        "bfs_reach",
        "mutual_knn",
        "cross_corpus_dedup",
        "dedup_loss_weights",
        "dialogue_flatten",
        "retrieval_ndcg",
        "seasonal_baseline",
    ):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_gopher_rules_map_only(spark, sf_dir, queries):
    """Rule bundle is one scan + project: zero exchanges, zero Python."""
    plan = _plan(queries["gopher_rules"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_target_encode_loo_broadcasts_group_table(spark, sf_dir, queries):
    plan = _plan(queries["target_encode_loo"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dsir_ratio_table_broadcasts(spark, sf_dir, queries):
    """The D-sized log-ratio table must broadcast onto the token
    explode — the fact side never shuffles for the model join."""
    plan = _plan(queries["dsir_select"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_embedding_gram_single_shuffle(spark, sf_dir, queries):
    """Partition GEMM partials → ONE dims²-grain aggregation shuffle."""
    plan = _plan(queries["embedding_gram"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_negative_sampling_probe_is_hash_join(spark, sf_dir, queries):
    """The true-edge membership probe must plan as a hash equi-join on
    the materialized (lo, hi) columns — an inline least()/greatest()
    join condition degrades to a nested loop over edges x candidates.
    The only nested loop allowed is the K-row replication crossJoin."""
    plan = _plan(queries["negative_sampling"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_round8_batch3_no_cartesian(spark, sf_dir, queries):
    """E165-E174: no real cartesians anywhere in the final batch."""
    for name in (
        "ppl_buckets",
        "theil_sen_trend",
        "dataset_card",
        "source_vocab_overlap",
        "sql_gate",
        "interval_union",
        "absorption_prob",
        "retrieval_ap_mrr",
    ):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_maxsim_single_scan_no_shuffle_before_topk(spark, sf_dir, queries):
    """MaxSim is one scoring scan + TakeOrdered: no hash exchange, no
    Python, all sub-cosines in the projection."""
    plan = _plan(queries["maxsim_topk"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_sql_gate_pushes_segment_filter(spark, sf_dir, queries):
    """The verbatim Q3 text must still get Catalyst treatment: the
    mktsegment predicate reaches the customer scan."""
    plan = _plan(queries["sql_gate"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "CartesianProduct" not in plan


def test_sql_gate_q5_join_ordering_and_pushdown(spark, sf_dir, queries):
    """The verbatim 6-table Q5 text must come out of Catalyst as a
    broadcast-join tree with the selective predicates on the scans:
    the order-date band reaches the orders scan, the region predicate
    reaches the region scan, every dimension join broadcasts, and the
    non-tree c_nationkey = s_nationkey edge never degenerates into a
    cartesian."""
    plan = _plan(queries["sql_gate_q5"](spark, sf_dir))
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_serve_reads_only_index_artifact(spark, sf_dir, queries):
    """The serve half of the build/serve split must touch the corpus
    ONLY through the stored codes table: exactly one scan of the
    embeddings parquet (the query batch, with the vec_id predicate
    pushed), no kmeans training stages, no cartesian."""
    import __spark_entry__ as em

    df = queries["ivf_pq_serve_topk"](spark, sf_dir)
    plan = _plan(df)
    # zero corpus embedding scans in the final plan: the query batch's
    # routing/LUT table is staged, so search reads only the staged
    # qdist + the persisted index codes (training would add corpus-wide
    # embedding scans and kmeans iteration stages)
    assert plan.count("embeddings.parquet") == 0
    assert "PushedFilters: [" in plan
    assert "CartesianProduct" not in plan
    # the index artifact is read from the persisted parquet path
    path = em._ivf_index_path(spark, sf_dir)
    assert path.split("/")[-1] in plan


def test_ivf_pq_index_build_idempotent_and_serve_matches_hermetic(
    spark, sf_dir, queries
):
    """Build is load-or-build (second call returns the same artifact
    without retraining) and served top-k is bit-identical to the
    hermetic ivf_pq_topk OPERATOR at the same build constants (the
    entry query now serves from the artifact too, so the hermetic
    side must train from scratch here to keep the pin meaningful)."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from rat_strain_loader_pipeline_spark.operators.quantize import ivf_pq_topk
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    p1 = em._ivf_index_path(spark, sf_dir)
    p2 = em._ivf_index_path(spark, sf_dir)
    assert p1 == p2
    served = {
        (r["q_id"], r["rank"]): (r["c_id"], r["adist_q"])
        for r in queries["ivf_pq_serve_topk"](spark, sf_dir).collect()
    }
    emb = read_table(spark, sf_dir, "embeddings")
    hermetic = {
        (r["q_id"], r["rank"]): (r["c_id"], r["adist_q"])
        for r in ivf_pq_topk(
            emb.filter(F.col("vec_id") < em.PQADC_QUERIES),
            emb,
            dims=em.EMB_DIMS,
            coarse_k=em.KMEANS_K,
            coarse_iters=em.IVFPQ_COARSE_ITERS,
            m=em.PQ_M,
            k=em.PQ_K,
            iters=em.PQ_ITERS,
            nprobe=em.IVFPQ_NPROBE,
            topk=em.PQADC_TOPK,
        ).collect()
    }
    assert served == hermetic
    # the entry query itself is the served path now — same values
    entry_served = {
        (r["q_id"], r["rank"]): (r["c_id"], r["adist_q"])
        for r in queries["ivf_pq_topk"](spark, sf_dir).collect()
    }
    assert entry_served == hermetic


def test_pq_codes_serves_artifact_and_matches_hermetic(spark, sf_dir, queries):
    """pq_codes now serves from the fused artifact's codes table
    (which persists the final-round assignment distance): the plan
    reads ONLY the artifact — zero corpus embedding scans, zero kmeans
    stages — and the pivoted output is bit-identical to the hermetic
    per-slice pq_codes fit at the same constants."""
    import __spark_entry__ as em
    from rat_strain_loader_pipeline_spark.operators.quantize import pq_codes
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    df = queries["pq_codes"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("embeddings.parquet") == 0
    assert "CartesianProduct" not in plan
    path = em._pq_exh_index_path(spark, sf_dir, opq=False)
    assert path.split("/")[-1] in plan
    served = {
        r["vec_id"]: (r["code_s0"], r["code_s1"], r["dist_q"])
        for r in df.collect()
    }
    emb = read_table(spark, sf_dir, "embeddings")
    hermetic = {
        r["vec_id"]: (r["code_s0"], r["code_s1"], r["dist_q"])
        for r in pq_codes(
            emb, dims=em.EMB_DIMS, m=em.PQ_M, k=em.PQ_K, iters=em.PQ_ITERS
        ).collect()
    }
    assert served == hermetic


def test_round9_batch_no_cartesian(spark, sf_dir, queries):
    """E183-E188: no real cartesians anywhere in the round-9 batch
    (hll/ks/centroid cross joins are broadcast 1-row scalars or
    dimension-sized group tables)."""
    for name in (
        "cc_incremental",
        "hll_distinct",
        "ks_drift",
        "centroid_drift",
    ):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_hll_registers_map_side_partial_agg(spark, sf_dir):
    """The HLL register build must partial-aggregate map-side (one
    HashAggregate before and after one exchange on i) and never carry
    key-cardinality state: no window, no Python, exactly one shuffle."""
    from rat_strain_loader_pipeline_spark.operators.sketch import hll_registers
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    keyed = (
        read_table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("k"))
    )
    plan = _plan(hll_registers(keyed, "k", p=8), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan


def test_pca_project_takeordered_no_python(spark, sf_dir):
    """The projection consumer must score in one codegen projection
    (literal coefficients — no join against the component table) and
    select extremes via TakeOrdered heaps."""
    import __spark_entry__ as em

    df = em.queries()["pca_project"](spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    # scoring never joins: the only joins would come from a component
    # lookup, which the literal inlining removes
    assert "SortMergeJoin" not in plan


def test_sql_gate_window_hash_partitioned(spark, sf_dir, queries):
    """The verbatim window text must plan one hash-partitioned Window
    (never a SinglePartition global sort) with the segment filter
    pushed to the customer scan."""
    plan = _plan(queries["sql_gate_window"](spark, sf_dir))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "CartesianProduct" not in plan


def test_round9_batch2_no_cartesian(spark, sf_dir, queries):
    """E189-E198: no real cartesians in the second round-9 batch (the
    scalar cross joins are broadcast 1-row aggregates)."""
    for name in (
        "acf_daily",
        "kruskal_wallis",
        "mi_categorical",
        "split_leakage",
        "vocab_growth",
        "mann_kendall",
        "curation_funnel",
    ):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_round9_batch3_no_cartesian_and_windows_partitioned(spark, sf_dir, queries):
    """E199-E204: no real cartesians; the trailing-register window is
    hash-partitioned by register index (never SinglePartition)."""
    for name in ("group_reservoir", "user_growth", "hll_daily",
                 "group_quantiles"):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
    plan = _plan(queries["hll_trailing"](spark, sf_dir))
    assert "SinglePartition" not in plan


def test_ivf_pq_residual_serve_reads_only_index_artifact(spark, sf_dir, queries):
    """Round-10 lifecycle fix: ivf_pq_residual_topk now SERVES from the
    persisted residual index — zero corpus embedding scans in the final
    plan (the query batch's routing/LUT tables are staged; training
    would add corpus-wide scans and kmeans stages), no cartesian, and
    the plan reads the params-slugged artifact path."""
    import __spark_entry__ as em

    df = queries["ivf_pq_residual_topk"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("embeddings.parquet") == 0
    assert "CartesianProduct" not in plan
    path = em._ivf_residual_index_path(spark, sf_dir)
    assert path.split("/")[-1] in plan


def test_ivf_pq_residual_build_idempotent_and_serve_matches_hermetic(
    spark, sf_dir, queries
):
    """Residual build is load-or-build, and served top-k is
    bit-identical to the hermetic ivf_pq_topk_residual at the same
    build constants — the guarantee that lets the frozen registry
    switch to serving without any value change."""
    import __spark_entry__ as em
    from rat_strain_loader_pipeline_spark.operators.quantize import (
        ivf_pq_topk_residual,
    )
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    p1 = em._ivf_residual_index_path(spark, sf_dir)
    p2 = em._ivf_residual_index_path(spark, sf_dir)
    assert p1 == p2
    served = {
        (r["q_id"], r["rank"]): (r["c_id"], r["adist_q"])
        for r in queries["ivf_pq_residual_topk"](spark, sf_dir).collect()
    }
    emb = read_table(spark, sf_dir, "embeddings")
    hermetic = {
        (r["q_id"], r["rank"]): (r["c_id"], r["adist_q"])
        for r in ivf_pq_topk_residual(
            emb.filter(F.col("vec_id") < em.PQADC_QUERIES),
            emb,
            dims=em.EMB_DIMS,
            coarse_k=em.KMEANS_K,
            coarse_iters=em.IVFPQ_COARSE_ITERS,
            m=em.PQ_M,
            k=em.PQ_K,
            iters=em.PQ_ITERS,
            nprobe=em.IVFPQ_NPROBE,
            topk=em.PQADC_TOPK,
        ).collect()
    }
    assert served == hermetic


def test_minhash_lsh_serves_store_and_matches_hermetic(spark, sf_dir, queries):
    """Round-11 lifecycle fix: every default-parameter near-dup pair
    consumer serves from the build-once postings store — the flagship
    minhash_lsh query's plan reads the staged store (zero
    documents.parquet scans) and its values are bit-identical to the
    hermetic inline minhash_lsh_pairs call."""
    from rat_strain_loader_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    df = queries["minhash_lsh"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("documents.parquet") == 0
    assert _store_dir("nd_pairs", sf_dir) in plan
    served = {
        (r["id_a"], r["id_b"]): r["jaccard_micros"] for r in df.collect()
    }
    hermetic = {
        (r["id_a"], r["id_b"]): r["jaccard_micros"]
        for r in minhash_lsh_pairs(
            read_table(spark, sf_dir, "documents"), jaccard_threshold=0.5
        ).collect()
    }
    assert served == hermetic


def test_cross_corpus_dedup_serves_store_and_matches_hermetic(
    spark, sf_dir, queries
):
    """Round-11 lifecycle fix: cross_corpus_dedup is the
    opposite-parity slice of the build-once postings store — the plan
    reads the staged store (no per-call signature recomputation over
    either corpus half: zero documents.parquet scans), and the values
    are bit-identical to the hermetic minhash_lsh_cross_pairs run."""
    from rat_strain_loader_pipeline_spark.operators.dedup import (
        minhash_lsh_cross_pairs,
    )
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    df = queries["cross_corpus_dedup"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("documents.parquet") == 0
    assert _store_dir("nd_pairs", sf_dir) in plan
    served = {
        (r["id_new"], r["id_old"]): r["jaccard_micros"] for r in df.collect()
    }
    docs = read_table(spark, sf_dir, "documents")
    hermetic = {
        (r["id_new"], r["id_old"]): r["jaccard_micros"]
        for r in minhash_lsh_cross_pairs(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
            jaccard_threshold=0.5,
        ).collect()
    }
    assert served == hermetic


def test_ivf_pq_residual_opq_serve_matches_hermetic_and_reads_artifact(
    spark, sf_dir, queries
):
    """E217: the OPQ×residual composition serves from the persisted
    artifact (dim map as model state, layout in the slug) and is
    bit-identical to the hermetic ivf_pq_topk_residual(opq=True) run;
    the raw-residual and OPQ-residual artifacts never alias."""
    import __spark_entry__ as em
    from rat_strain_loader_pipeline_spark.operators.quantize import (
        ivf_pq_topk_residual,
    )
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    df = queries["ivf_pq_residual_opq_topk"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("embeddings.parquet") == 0
    assert "CartesianProduct" not in plan
    path = em._ivf_residual_opq_index_path(spark, sf_dir)
    assert path.split("/")[-1] in plan
    assert "-opq" in path.split("/")[-1]
    assert path != em._ivf_residual_index_path(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    served = {
        (r["q_id"], r["rank"]): (r["c_id"], r["adist_q"])
        for r in df.collect()
    }
    hermetic = {
        (r["q_id"], r["rank"]): (r["c_id"], r["adist_q"])
        for r in ivf_pq_topk_residual(
            emb.filter(F.col("vec_id") < em.PQADC_QUERIES),
            emb,
            dims=em.EMB_DIMS,
            coarse_k=em.KMEANS_K,
            coarse_iters=em.IVFPQ_COARSE_ITERS,
            m=em.PQ_M,
            k=em.PQ_K,
            iters=em.PQ_ITERS,
            nprobe=em.IVFPQ_NPROBE,
            topk=em.PQADC_TOPK,
            opq=True,
        ).collect()
    }
    assert served == hermetic


def test_sql_gate_decorrelation(spark, sf_dir, queries):
    """Front-door decorrelation pins: the correlated EXISTS / NOT
    EXISTS pair must rewrite to left-semi + left-anti hash joins on
    l_orderkey (never a per-row subquery or cartesian), and the
    correlated scalar-agg must become one grouped aggregate plus an
    equi-join on the correlation key."""
    plan = _plan(queries["sql_gate_exists"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan = _plan(queries["sql_gate_scalar"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the decorrelated per-part SUM shows up as a grouped aggregate
    # feeding an equi-join, with the partial agg pushed map-side
    assert "HashAggregate" in plan


def test_round10_ann_batch_no_cartesian(spark, sf_dir, queries):
    """E208-E212: no real cartesians in the OPQ/maintenance batch; the
    OPQ dim map and ADC LUTs ride broadcast joins."""
    for name in ("pq_opq_topk", "ann_recall_opq", "ann_recall_pq",
                 "ivf_pq_reindex_drifted"):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_reindex_serves_from_stored_artifact(spark, sf_dir, queries):
    """The maintenance pass must read the persisted even-id index (the
    stored codes/centroids parquet appears in the plan) — training
    happens at most once per process, not per call."""
    import __spark_entry__ as em

    plan = _plan(queries["ivf_pq_reindex_drifted"](spark, sf_dir))
    path = em._ivf_residual_even_index_path(spark, sf_dir)
    assert path.split("/")[-1] in plan


def test_pq_exhaustive_serve_reads_only_index_artifact(spark, sf_dir, queries):
    """Round-11 lifecycle fix: the exhaustive-ADC experiment family
    (pq_adc_topk / pq_opq_topk and both recall audits' approx sides)
    now SERVES from the persisted flat-PQ artifact — zero corpus
    embedding scans in the search plan (the query LUT is staged;
    training would add corpus-wide scans and kmeans stages), no
    cartesian, and the plan reads the layout-slugged artifact path."""
    import __spark_entry__ as em

    for name, opq in (("pq_adc_topk", False), ("pq_opq_topk", True)):
        plan = _plan(queries[name](spark, sf_dir))
        assert plan.count("embeddings.parquet") == 0, name
        assert "CartesianProduct" not in plan, name
        path = em._pq_exh_index_path(spark, sf_dir, opq)
        assert path.split("/")[-1] in plan, name
    # raw and OPQ artifacts must never alias each other's path
    assert (
        em._pq_exh_index_path(spark, sf_dir, False)
        != em._pq_exh_index_path(spark, sf_dir, True)
    )


def test_pq_exhaustive_serve_matches_hermetic(spark, sf_dir, queries):
    """Served exhaustive-ADC top-k is bit-identical to the hermetic
    pq_adc_topk / pq_adc_topk_opq at the same build constants — the
    guarantee that let the frozen registry switch the experiment
    family to serving without any value change."""
    import __spark_entry__ as em
    from rat_strain_loader_pipeline_spark.operators.quantize import (
        pq_adc_topk,
        pq_adc_topk_opq,
    )
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    qb = emb.filter(F.col("vec_id") < em.PQADC_QUERIES)
    for name, hermetic_fn in (
        ("pq_adc_topk", pq_adc_topk),
        ("pq_opq_topk", pq_adc_topk_opq),
    ):
        served = {
            (r["q_id"], r["rank"]): (r["c_id"], r["adist_q"])
            for r in queries[name](spark, sf_dir).collect()
        }
        hermetic = {
            (r["q_id"], r["rank"]): (r["c_id"], r["adist_q"])
            for r in hermetic_fn(
                qb,
                emb,
                dims=em.EMB_DIMS,
                m=em.PQ_M,
                k=em.PQ_K,
                iters=em.PQ_ITERS,
                topk=em.PQADC_TOPK,
            ).collect()
        }
        assert served == hermetic, name


def test_round11_batch_no_cartesian(spark, sf_dir, queries):
    """E217-E224: no real cartesians anywhere in the round-11 batch
    (the fertility ratios and maintenance counts ride broadcast 1-row
    aggregates; the packing fold is per-shard applyInPandas)."""
    for name in (
        "ivf_pq_residual_opq_topk",
        "ann_recall_residual_opq",
        "ivf_pq_maintenance_plan",
        "sequence_pack_bfd",
        "packing_efficiency",
        "unigram_train",
        "unigram_apply",
        "tokenizer_fertility",
        "unigram_coverage",
        "packing_overhead",
    ):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_unigram_queries_serve_from_model_store(spark, sf_dir, queries):
    """The unigram train/apply pair reads the build-once model store
    (the staged parquet path appears in the plan) — the hard-EM fit
    runs at most once per process, not per call."""
    plan = _plan(queries["unigram_train"](spark, sf_dir))
    assert _store_dir("unigram_model", sf_dir) in plan
    plan = _plan(queries["unigram_apply"](spark, sf_dir))
    assert _store_dir("unigram_model", sf_dir) in plan


def test_ivf_pq_opq_no_cartesian_and_broadcast_map(spark, sf_dir, queries):
    """E213/E214: the OPQ-IVF composition keeps the dim map and LUTs
    on broadcast joins — no cartesian anywhere."""
    for name in ("ivf_pq_opq_topk", "ann_recall_ivf_opq"):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_maintained_serve_reads_only_artifact(spark, sf_dir, queries):
    """The maintained-serve query must read ONLY the committed
    maintained artifact plus the query batch: exactly one embeddings
    scan (the queries, vec_id predicate pushed), no kmeans training
    stages, no cartesian; commit is load-or-build idempotent."""
    import __spark_entry__ as em

    p1 = em._ivf_maintained_path(spark, sf_dir)
    p2 = em._ivf_maintained_path(spark, sf_dir)
    assert p1 == p2
    df = queries["ivf_pq_maintained_topk"](spark, sf_dir)
    plan = _plan(df)
    # zero corpus embedding scans: the query batch explode is staged
    # (ivfpqr-qm), so the search reads only staged queries + artifact
    assert plan.count("embeddings.parquet") == 0
    assert "ivfpqr-qm" in plan
    assert "CartesianProduct" not in plan
    assert "kmeansg-assign" not in plan
    assert "kmeanspl-assign" not in plan
    assert p1.split("/")[-1] in plan
    # per-list retrained codebooks resolve from the bounded separate
    # table, not a per-list replication of the global codebook
    assert "codebook_retrained" in plan


def test_maintenance_apply_serves_manifest_and_matches_hermetic(
    spark, sf_dir, queries
):
    """The apply query serves the manifest persisted inside the
    maintained artifact; it must be bit-identical to the hermetic
    ivf_pq_maintenance_apply at the same inputs, and its plan must
    read the artifact (no routing/kmeans stages)."""
    import __spark_entry__ as em
    from rat_strain_loader_pipeline_spark.operators.quantize import (
        ivf_pq_maintenance_apply,
    )
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    df = queries["ivf_pq_maintenance_apply"](spark, sf_dir)
    plan = _plan(df)
    assert "embeddings.parquet" not in plan
    assert "kmeanspl-assign" not in plan
    assert em._ivf_maintained_path(spark, sf_dir).split("/")[-1] in plan
    served = {tuple(r) for r in df.collect()}
    emb = read_table(spark, sf_dir, "embeddings")
    hermetic = {
        tuple(r)
        for r in ivf_pq_maintenance_apply(
            spark,
            em._ivf_residual_even_index_path(spark, sf_dir),
            emb.filter(F.col("vec_id") % 2 == 0),
            emb.filter(F.col("vec_id") % 2 == 1).select(
                "vec_id",
                F.expr(
                    f"CASE WHEN vec_id % {em.MPLAN_SCALE_MOD} = 0"
                    " THEN transform(reverse(embedding), x -> x * 3.0D)"
                    " ELSE reverse(embedding) END"
                ).alias("embedding"),
            ),
            dims=em.EMB_DIMS,
            m=em.PQ_M,
            k=em.PQ_K,
            iters=em.PQ_ITERS,
            drift_threshold_q=em.REINDEX_DRIFT_Q,
            stale_ratio_q=em.MPLAN_STALE_RATIO_Q,
            fp_mod=em.IVFPQ_FP_MOD,
        ).collect()
    }
    assert served == hermetic


def test_dedup_components_serve_cc_store_and_match_hermetic(
    spark, sf_dir, queries
):
    """Round-12 lifecycle fix: the full-corpus component consumers serve
    from the build-once component store (_full_cc) — the plan is a scan
    of the staged component parquet (no documents.parquet scan, no
    per-call label propagation), and the values are bit-identical to a
    hermetic connected_components(minhash_lsh_pairs(docs, 0.5)) run."""
    from rat_strain_loader_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    df = queries["dedup_components"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("documents.parquet") == 0
    assert _store_dir("full_cc", sf_dir) in plan
    served = {(r["doc_id"], r["component_id"]) for r in df.collect()}
    docs = read_table(spark, sf_dir, "documents")
    hermetic = {
        (r["node_id"], r["component_id"])
        for r in connected_components(
            minhash_lsh_pairs(docs, jaccard_threshold=0.5)
        ).collect()
    }
    assert served == hermetic


def test_bpe_queries_serve_model_store_and_match_hermetic(
    spark, sf_dir, queries
):
    """Round-12 lifecycle fix: bpe_train/bpe_apply serve from the
    build-once BPE model store (_bpe_store) — bpe_train's plan is a
    scan of the staged merge table (no documents.parquet scan, no
    per-call retraining), bpe_apply retrains nothing (its only
    documents scan is the apply-side token explode), and both are
    bit-identical to hermetic training."""
    import __spark_entry__ as em
    from rat_strain_loader_pipeline_spark.operators.text import (
        bpe_apply,
        bpe_train,
    )
    from rat_strain_loader_pipeline_spark.sources.tables import read_table

    train_df = queries["bpe_train"](spark, sf_dir)
    train_plan = _plan(train_df)
    assert train_plan.count("documents.parquet") == 0
    assert _store_dir("bpe_store", sf_dir, 0) in train_plan

    docs = read_table(spark, sf_dir, "documents")
    served_merges = {tuple(r) for r in train_df.collect()}
    hermetic_merges = {
        tuple(r) for r in bpe_train(docs, rounds=em.BPE_ROUNDS).collect()
    }
    assert served_merges == hermetic_merges

    apply_df = queries["bpe_apply"](spark, sf_dir)
    apply_plan = _plan(apply_df)
    # apply serves the vocab from the store: exactly ONE documents scan
    # (the token explode), none for training
    assert apply_plan.count("documents.parquet") == 1
    assert _store_dir("bpe_store", sf_dir, 1) in apply_plan
    served_apply = {tuple(r) for r in apply_df.collect()}
    hermetic_apply = {
        tuple(r) for r in bpe_apply(docs, rounds=em.BPE_ROUNDS).collect()
    }
    assert served_apply == hermetic_apply


@pytest.mark.parametrize("distributed", [False, True])
def test_upsert_markers_add_no_exchange_or_sort(spark, distributed):
    """Marking the inserts' rows (``mark_first``) rides the ranking's
    window pass: every window partitions on the same columns, and the
    (key, sample) window's sort also serves the key window, so the marked
    plan has exactly the unmarked plan's exchanges and sorts."""
    from rat_strain_loader_pipeline_spark.operators.upsert import upsert_variants

    cols = ("chromosome string, start_pos long, end_pos long, ref_nuc string, "
            "var_nuc string, variant_type string")
    incoming = spark.createDataFrame(
        [("1", 10, 11, "A", "C", "snv", 7), ("2", 20, 21, "G", "T", "snv", 8)],
        cols + ", sample_id int",
    )
    existing = spark.createDataFrame([(5, "1", 10, 11, "A", "C", "snv")], "rgd_id long, " + cols)

    def shape(**kw):
        plan = _plan(upsert_variants(incoming, existing, distributed_ranking=distributed, **kw),
                     "simple")
        return plan.count("Exchange"), plan.count("Sort ["), plan.count("Window [")

    plain, marked = shape(), shape(mark_first="sample_id")
    assert marked[:2] == plain[:2], (plain, marked)
    assert marked[2] == plain[2] + 1


def test_served_store_calls_run_no_job(spark, sf_dir, count_jobs):
    """A served build-once store call reads its stage with the schema it
    was written with: no footer-inference job, no job at all."""
    import __spark_entry__ as em

    for store in (em._kmeans_assign, em._bpe_store, em._shingle_store):
        store(spark, sf_dir)
        _, jobs = count_jobs(store, spark, sf_dir)
        assert jobs == 0, store.__name__
