"""Embedding compression for ANN at corpus scale.

Scalar int8 quantization (this module) and product quantization
(``clustering.kmeans_micros`` per subspace, composed in
``__spark_entry__.q_pq_codes``) are the two standard ways an ANN index
fits a 100 TB embedding corpus in memory: 4x (float32 -> uint8 codes)
and ~64x (M codebook bytes per vector) respectively. The engine keeps
both stages exact-by-construction so a SQL oracle can replay them:

- per-dimension min/max are exact picks (no float accumulation);
- the code is one fixed IEEE-754 double expression tree
  ``floor((x - mn) * LEVELS / (mx - mn))`` clamped to [0, LEVELS] —
  identical in any engine;
- the reconstruction error is re-quantized to integer micro-units
  per (vector, dimension) BEFORE summing, so every aggregate is an
  order-free bigint sum.

100 TB shape: one staged explode of the corpus to (vec, dim, x); the
per-dimension stats table is dims-sized (64 rows here — broadcast at
any corpus scale), so codes are a map-side projection after one
broadcast join; the final per-vector report is one partial-agg
reduction. Nothing corpus-sized is collected or broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ERR_MICROS = 1_000_000


def index_complete(path: str) -> bool:
    """Whether the index artifact at ``path`` is complete. Every index
    build writes ``codes`` last, so its ``_SUCCESS`` marker implies the
    rest of the artifact."""
    import os

    return os.path.exists(os.path.join(path, "codes", "_SUCCESS"))


def quantize_int8(
    embeddings: DataFrame,
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension affine int8 quantization with an exact
    reconstruction-error report.

    Returns one row per vector: (id_col, sum_code, sum_err_q,
    max_err_q) where codes are in [0, levels], err_q is the
    per-dimension absolute reconstruction error in micro-units
    (bigint), summed / maxed order-free per vector.
    """
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    ex = stage_to_parquet(
        embeddings.select(
            F.col(id_col), F.posexplode(vec_col).alias("dim", "x")
        ).select(id_col, "dim", F.col("x").cast("double").alias("xd")),
        "quant-ex",
    )
    stats = ex.groupBy("dim").agg(
        F.min("xd").alias("mn"), F.max("xd").alias("mx")
    )
    t = F.col("mx") - F.col("mn")
    lv = F.lit(float(levels))
    code = F.when(
        t > 0,
        F.least(
            F.greatest(
                F.floor((F.col("xd") - F.col("mn")) * lv / t), F.lit(0)
            ),
            F.lit(levels),
        ),
    ).otherwise(F.lit(0)).cast("long")
    coded = ex.join(F.broadcast(stats), "dim").withColumn("code", code)
    xhat = F.col("mn") + F.col("code").cast("double") * t / lv
    err_q = F.floor(F.abs(F.col("xd") - xhat) * ERR_MICROS).cast("long")
    return (
        coded.withColumn("err_q", err_q)
        .groupBy(id_col)
        .agg(
            F.sum("code").alias("sum_code"),
            F.sum("err_q").alias("sum_err_q"),
            F.max("err_q").alias("max_err_q"),
        )
    )


def pq_codes(
    embeddings: DataFrame,
    dims: int,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jegou et al.): split each vector into
    ``m`` contiguous subspaces of ``dims // m`` dimensions, cluster
    each subspace independently with ``clustering.kmeans_micros``, and
    encode every vector as its per-subspace centroid ids — the ~64x
    compression an IVF-PQ index stores per vector at corpus scale.

    Returns one row per vector: (id_col, code_s0..code_s{m-1},
    dist_q) where dist_q is the total squared micro-unit quantization
    distance (the ADC self-distance) — a bigint sum of the
    per-subspace kmeans distances, so the whole composition inherits
    kmeans_micros' engine-exactness and the oracle replays it as m
    prefixed unrolled CTE chains over list slices.

    100 TB shape: m independent kmeans runs, each with the flat
    per-round cost documented in operators/clustering.py (K x subdim
    centroid tables — broadcast anywhere), joined back on the id — no
    stage ever sees more than the exploded corpus once per subspace.
    """
    from rat_strain_loader_pipeline_spark.operators.clustering import kmeans_micros

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    out = None
    for s in range(m):
        sub = embeddings.select(
            F.col(id_col), F.slice(F.col(vec_col), s * d + 1, d).alias(vec_col)
        )
        a = kmeans_micros(sub, k=k, iters=iters, id_col=id_col, vec_col=vec_col).select(
            id_col,
            F.col("cluster_id").alias(f"code_s{s}"),
            F.col("dist_sq").alias(f"_dist_s{s}"),
        )
        out = a if out is None else out.join(a, id_col)
    total = F.col("_dist_s0")
    for s in range(1, m):
        total = total + F.col(f"_dist_s{s}")
    return out.select(
        id_col, *[f"code_s{s}" for s in range(m)], total.alias("dist_q")
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — how a PQ index
    is actually searched: per subspace, each query precomputes a
    K-entry lookup table of squared micro-unit distances to the fitted
    centroids, and a corpus vector's approximate distance is the sum
    of its codes' LUT entries. The corpus is touched only through its
    (m x bigint-code) representation; per query the work is K x m LUT
    entries plus one join per subspace — the memory/compute shape that
    lets ANN serve a 100 TB corpus.

    Exactness: centroids, codes, LUT entries, and the summed distance
    are all bigint micro-unit arithmetic from ``kmeans_fit``; ranking
    ties break on ascending corpus id. The ADC distance is exact w.r.t.
    the PQ model; its gap to the TRUE distance is the quantization
    error pq_codes reports (the published PQ trade-off).

    Returns (q_id, c_id, rank, adist_q), rank 1-based.
    """
    from pyspark.sql.window import Window

    from rat_strain_loader_pipeline_spark.operators.clustering import (
        MICROS,
        kmeans_fit,
    )

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    parts = []
    for s in range(m):
        def sl(df: DataFrame) -> DataFrame:
            return df.select(
                F.col(id_col), F.slice(F.col(vec_col), s * d + 1, d).alias(vec_col)
            )

        assign, cent = kmeans_fit(
            sl(corpus), k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
        qex = (
            sl(queries)
            .select(F.col(id_col).alias("q_id"), F.posexplode(vec_col).alias("dim", "x"))
            .select(
                "q_id",
                "dim",
                F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
            )
        )
        lut = (
            qex.join(cent, "dim")
            .groupBy("q_id", "j")
            .agg(
                F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias(
                    "d"
                )
            )
        )
        parts.append(
            assign.select(F.col(id_col).alias("c_id"), "j")
            .join(F.broadcast(lut), "j")
            .select("q_id", "c_id", F.col("d").alias("ds"))
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    summed = allp.groupBy("q_id", "c_id").agg(F.sum("ds").alias("adist_q"))
    w = Window.partitionBy("q_id").orderBy("adist_q", "c_id")
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "c_id", F.col("rank").cast("long").alias("rank"), "adist_q")
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    nprobe: int = 3,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim_map: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search (Jegou et al.): the billion-scale ANN serving
    architecture — a coarse k-means quantizer routes each query to its
    ``nprobe`` nearest inverted lists, and ADC over PQ codes runs ONLY
    inside those lists.

    ``dim_map`` (optional (dim, g) frame, e.g. ``opq_dim_assign``)
    replaces the contiguous dim→subspace slicing with an arbitrary
    allocation — the OPQ-IVF composition; the coarse router always
    sees the full vector, and the original dim index stays the
    within-group key. Default None keeps the raw contiguous layout.

    Index build is ONE ``clustering.kmeans_fit_grouped`` run: the
    corpus explodes once into m+1 vector spaces (group -1 = the full
    vector for the coarse quantizer, group s = PQ subspace s), and all
    m+1 codebooks train in the same scans/shuffles — the single-pass
    multi-codebook build that matters at 100 TB, where m serial fits
    would multiply the corpus scan count by m. The coarse and PQ
    codebooks must therefore share (k, iters); this variant encodes
    raw vectors, not residuals (FAISS ``by_residual=false``), keeping
    every quantity bigint micro-units so the oracle replays build +
    routing + search exactly.

    Search: one (query x group x centroid) distance table serves as
    BOTH the coarse router (group -1 rows, ranked to nprobe lists) and
    the ADC LUTs (subspace rows) — it is (queries x (m+1) x k) rows,
    broadcast at any scale. The corpus is touched only through its
    coarse assignment (1 bigint/vec) and PQ codes (m bigints/vec);
    ADC cost drops from |corpus| to ~|corpus| * nprobe / coarse_k per
    query versus exhaustive ``pq_adc_topk`` — that ratio IS the IVF
    speedup; recall lost to unprobed lists is the published trade-off.

    Returns (q_id, c_id, rank, adist_q), rank 1-based within the
    probed lists, ties on ascending corpus id.
    """
    from pyspark.sql.window import Window

    from rat_strain_loader_pipeline_spark.operators.clustering import (
        MICROS,
        kmeans_fit_grouped,
    )
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    if (coarse_k, coarse_iters) != (k, iters):
        raise ValueError(
            "fused grouped training requires coarse (k, iters) == PQ (k, iters); "
            f"got {(coarse_k, coarse_iters)} != {(k, iters)}"
        )

    def grouped_explode(df: DataFrame, out_id: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(out_id), F.posexplode(vec_col).alias("dim", "x")
        ).select(
            out_id,
            "dim",
            F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
        )
        coarse_rows = base.select(
            out_id, F.lit(-1).alias("g"), "dim", "xq"
        )
        if dim_map is not None:
            sub_rows = base.join(F.broadcast(dim_map), "dim").select(
                out_id, "g", "dim", "xq"
            )
        else:
            sub_rows = base.select(
                out_id,
                (F.col("dim") / d).cast("int").alias("g"),
                (F.col("dim") % d).alias("dim"),
                "xq",
            )
        return coarse_rows.unionByName(sub_rows)

    assign, cent = kmeans_fit_grouped(
        grouped_explode(corpus, id_col), k=k, iters=iters, id_col=id_col
    )
    # One (query x group x centroid) distance table: group -1 rows are
    # the coarse routing distances, groups 0..m-1 are the ADC LUTs.
    qdist = stage_to_parquet(
        grouped_explode(queries, "q_id")
        .join(cent, ["g", "dim"])
        .groupBy("q_id", "g", "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("ds")),
        "ivfpq-qdist",
    )
    wp = Window.partitionBy("q_id").orderBy("ds", "j")
    probe = (
        qdist.filter(F.col("g") == -1)
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("q_id", F.col("j").alias("jc"))
    )
    cand = (
        assign.filter(F.col("g") == -1)
        .select(F.col(id_col).alias("c_id"), F.col("j").alias("jc"))
        .join(F.broadcast(probe), "jc")
        .select("q_id", "c_id")
    )
    adc = (
        cand.join(
            assign.filter(F.col("g") >= 0).select(
                F.col(id_col).alias("c_id"), "g", "j"
            ),
            "c_id",
        )
        .join(F.broadcast(qdist.filter(F.col("g") >= 0)), ["q_id", "g", "j"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("ds").alias("adist_q"))
    )
    w = Window.partitionBy("q_id").orderBy("adist_q", "c_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "c_id", F.col("rank").cast("long").alias("rank"), "adist_q")
    )


def opq_dim_assign(
    corpus: DataFrame,
    m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OPQ-lite subspace allocation (the initialization idea of Ge et
    al.'s Optimized Product Quantization, reduced to its deterministic
    zeroth-order form): assign DIMENSIONS to the m PQ subspaces so the
    per-subspace variance mass is balanced, instead of chopping the
    raw dimension order into contiguous slices. A permutation is an
    orthogonal rotation, so exact L2 geometry is untouched — any
    recall difference vs raw PQ comes purely from better bit
    allocation across codebooks, which is the published OPQ effect.

    Per-dimension spread statistic: S_d = n·Σx_q² − (Σx_q)², exact in
    DECIMAL(38,0) over the micro-unit integers (order-free, engine-
    portable). Bound: with |x| ≤ 1 (unit-ish embeddings, |xq| ≤ 1e6)
    each term is ≤ n²·1e12, so S_d stays inside DECIMAL(38,0) up to
    n ≈ 1e13 vectors per corpus — far past any real shard; beyond
    that Spark's non-ANSI DECIMAL overflows to NULL while DuckDB's
    HUGEINT (128-bit) keeps going, so shard the allocation pass before
    ~1e13 rows rather than widening the type. Dims rank by S desc
    (dim-asc ties) and snake across the m groups (0..m-1, m-1..0, …) —
    the balanced deal. Returns the (dim, g) map: dims rows,
    broadcastable anywhere; the original dim index stays the
    within-group key (kmeans only needs the dim SET per group, so no
    relabeling).

    100 TB shape: one explode + one dims-row aggregate over the
    corpus; the window runs on dims rows (trivial)."""
    from pyspark.sql.window import Window

    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS

    ex = corpus.select(F.posexplode(vec_col).alias("dim", "x")).select(
        "dim",
        F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
    )
    stats = ex.groupBy("dim").agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(xq AS DECIMAL(38,0)) * xq)").alias("sx2"),
        F.expr("sum(CAST(xq AS DECIMAL(38,0)))").alias("sx"),
    )
    w = Window.orderBy(F.expr("n * sx2 - sx * sx").desc(), F.col("dim").asc())
    return (
        stats.withColumn("pos", F.row_number().over(w) - 1)
        .select(
            "dim",
            F.expr(
                f"CAST(CASE WHEN ((pos div {m}) % 2) = 0 THEN pos % {m}"
                f" ELSE {m} - 1 - (pos % {m}) END AS INT)"
            ).alias("g"),
        )
    )


def pq_adc_topk_opq(
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exhaustive ADC top-k over OPQ-allocated PQ codes — the
    ``pq_adc_topk`` twin with ``opq_dim_assign``'s variance-balanced
    dim→subspace map in place of contiguous slices. Same storage (m
    bigint codes/vector), same ADC cost, same all-bigint exactness;
    the recall delta vs raw PQ (ann_recall_pq vs ann_recall_opq) is
    the measured value of balancing spread across codebooks.

    Build is ONE ``kmeans_fit_grouped`` run over the mapped explode
    (the m codebooks train in the same scans); search is a broadcast
    (queries × m × k) LUT joined to the codes — the corpus is touched
    once for codes, once per query batch for ADC, never pairwise.
    Returns (q_id, c_id, rank, adist_q), rank 1-based, id-asc ties."""
    from pyspark.sql.window import Window

    from rat_strain_loader_pipeline_spark.operators.clustering import (
        MICROS,
        kmeans_fit_grouped,
    )
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    dim_map = stage_to_parquet(
        opq_dim_assign(corpus, m=m, id_col=id_col, vec_col=vec_col),
        "opq-dimmap",
    )

    def gx(df: DataFrame, out_id: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(out_id), F.posexplode(vec_col).alias("dim", "x")
        ).select(
            out_id,
            "dim",
            F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
        )
        return base.join(F.broadcast(dim_map), "dim").select(
            out_id, "g", "dim", "xq"
        )

    codes, codebook = kmeans_fit_grouped(
        gx(corpus, id_col), k=k, iters=iters, id_col=id_col
    )
    lut = (
        gx(queries, "q_id")
        .join(codebook, ["g", "dim"])
        .groupBy("q_id", "g", "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("d"))
    )
    adc = (
        codes.select(F.col(id_col).alias("c_id"), "g", "j")
        .join(F.broadcast(lut), ["g", "j"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("d").alias("adist_q"))
    )
    w = Window.partitionBy("q_id").orderBy("adist_q", "c_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "c_id", F.col("rank").cast("long").alias("rank"), "adist_q")
    )


def _pq_sub_explode(
    df: DataFrame,
    out_id: str,
    d: int,
    id_col: str,
    vec_col: str,
    dim_map: DataFrame | None = None,
) -> DataFrame:
    """(id, g, dim, xq) explode of a vector frame into the m PQ
    subspaces ONLY (no coarse group — the exhaustive-ADC layout):
    contiguous slices with local dims by default, or ``dim_map``'s
    allocation (original dim kept as the within-group key) when
    given."""
    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS

    base = df.select(
        F.col(id_col).alias(out_id), F.posexplode(vec_col).alias("dim", "x")
    ).select(
        out_id,
        "dim",
        F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
    )
    if dim_map is not None:
        return base.join(F.broadcast(dim_map), "dim").select(
            out_id, "g", "dim", "xq"
        )
    return base.select(
        out_id,
        (F.col("dim") / d).cast("int").alias("g"),
        (F.col("dim") % d).alias("dim"),
        "xq",
    )


def pq_index_build(
    corpus: DataFrame,
    dims: int,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    root: str | None = None,
    tag: str = "default",
    opq: bool = False,
) -> str:
    """BUILD half of the EXHAUSTIVE-ADC PQ lifecycle — the
    ``ivf_pq_index_build`` twin for a flat (no coarse router) PQ
    index: train the m PQ codebooks once (one fused
    ``kmeans_fit_grouped`` run — identical per-group arithmetic to the
    per-slice ``kmeans_fit`` calls the hermetic ``pq_adc_topk`` makes,
    same smallest-id seeding, so codes and codebooks are bit-identical)
    and PERSIST:

    - ``<path>/codebook``: (g, j, dim, c) — the m codebooks
      (m·k·(dims/m) rows, broadcastable anywhere);
    - ``<path>/dim_map``: (dim, g) — only when ``opq=True``: the
      variance-balanced ``opq_dim_assign`` allocation is MODEL STATE,
      persisted with the codebooks it shaped;
    - ``<path>/codes``: (vec_id, g, j) — m bigints/vector, written
      LAST so a complete ``codes/_SUCCESS`` implies the whole artifact.

    The layout marker is folded into the params slug (``-opq``), so a
    raw and an OPQ build at the same tag can never alias each other's
    artifact. Idempotent load-or-build; training is deterministic, so
    ``pq_adc_serve_topk`` over the artifact is bit-identical to the
    hermetic ``pq_adc_topk`` / ``pq_adc_topk_opq`` — the memoization
    removes the repeated identical codebook training that the
    exhaustive-ADC experiment family (search + recall-audit pairs)
    otherwise pays per query."""
    import os

    from rat_strain_loader_pipeline_spark.operators.clustering import (
        kmeans_fit_grouped,
    )
    from rat_strain_loader_pipeline_spark.staging import (
        _stage_root,
        stage_to_parquet,
    )

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    root = root or os.environ.get("SPARK_GRAFT_INDEX_DIR") or _stage_root()
    layout = "-opq" if opq else ""
    slug = f"pqx-d{dims}-m{m}k{k}i{iters}{layout}-{tag}"
    path = os.path.join(root, slug)
    if index_complete(path):
        return path
    dim_map = None
    if opq:
        dim_map = stage_to_parquet(
            opq_dim_assign(corpus, m=m, id_col=id_col, vec_col=vec_col),
            "pqx-dimmap",
        )
        _validate_dim_map(dim_map, dims)
        dim_map.select("dim", "g").write.mode("overwrite").parquet(
            os.path.join(path, "dim_map")
        )
    codes, codebook = kmeans_fit_grouped(
        _pq_sub_explode(corpus, id_col, d, id_col, vec_col, dim_map),
        k=k,
        iters=iters,
        id_col=id_col,
    )
    codebook.select("g", "j", "dim", "c").write.mode("overwrite").parquet(
        os.path.join(path, "codebook")
    )
    # dist (the final-round assignment distance, i.e. the per-subspace
    # quantization error) rides along so pq_codes_serve can report the
    # total quantization distance without re-touching the corpus
    codes.select(id_col, "g", "j", "dist").write.mode("overwrite").parquet(
        os.path.join(path, "codes")
    )
    return path


def pq_adc_serve_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    dims: int,
    m: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SERVE half of the EXHAUSTIVE-ADC PQ lifecycle: answer top-k
    reading ONLY the persisted flat-PQ artifact — the corpus is
    touched exclusively through the stored (m bigints)/vector codes
    table; no kmeans iterations, no corpus embedding scan in the plan.
    Search is the hermetic search half verbatim (per-query (m × k)
    LUTs against the stored codebooks, broadcast into the codes join),
    so served results are bit-identical to ``pq_adc_topk`` /
    ``pq_adc_topk_opq`` at the same build constants. An artifact built
    with ``opq=True`` carries its dim map as model state — the serve
    side loads it and explodes queries through the same allocation.
    Returns (q_id, c_id, rank, adist_q), rank 1-based, id-asc ties."""
    import os

    from pyspark.sql.window import Window

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    # Accept BOTH artifact layouts: a flat pq_index_build artifact
    # (codebook table) or a fused ivf_pq_index_build artifact
    # (centroids table with the coarse router at g = -1). Per-group
    # kmeans independence (kmeans_fit_grouped trains every group with
    # the same smallest-id seeding and group-keyed arithmetic) makes
    # the IVF artifact's g >= 0 slice BIT-IDENTICAL to the flat build
    # at the same constants — so the exhaustive-ADC family can serve
    # from the IVF artifact other queries already paid to build,
    # instead of training a duplicate flat artifact.
    if os.path.exists(os.path.join(index_path, "codebook", "_SUCCESS")):
        codebook = spark.read.parquet(os.path.join(index_path, "codebook"))
    else:
        codebook = spark.read.parquet(
            os.path.join(index_path, "centroids")
        ).filter(F.col("g") >= 0)
    codes = spark.read.parquet(os.path.join(index_path, "codes")).filter(
        F.col("g") >= 0
    )
    dim_map = None
    if os.path.exists(os.path.join(index_path, "dim_map", "_SUCCESS")):
        dim_map = spark.read.parquet(os.path.join(index_path, "dim_map"))
    # (queries x m x k) rows — staged so the final plan touches ONLY
    # the artifact's codes table plus this bounded LUT parquet
    lut = stage_to_parquet(
        _pq_sub_explode(queries, "q_id", d, id_col, vec_col, dim_map)
        .join(codebook, ["g", "dim"])
        .groupBy("q_id", "g", "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("d")),
        "pqx-serve-lut",
    )
    adc = (
        codes.select(F.col(id_col).alias("c_id"), "g", "j")
        .join(F.broadcast(lut), ["g", "j"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("d").alias("adist_q"))
    )
    w = Window.partitionBy("q_id").orderBy("adist_q", "c_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "c_id", F.col("rank").cast("long").alias("rank"), "adist_q")
    )


def pq_codes_serve(
    spark,
    index_path: str,
    m: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """``pq_codes``'s output served from a persisted artifact — the
    last inline-trainer removal in the exhaustive-PQ family: read the
    stored codes table (which since the dist-column addition carries
    each row's final-round assignment distance = the per-subspace
    quantization error) and pivot it back to ``pq_codes``'s shape:
    (id_col, code_s0..code_s{m-1}, dist_q). Zero kmeans iterations,
    zero corpus embedding scan — the plan touches ONLY the artifact's
    (1 + m bigints + 1 dist)/vector codes parquet. Per-group kmeans
    independence makes the fused IVF artifact's g >= 0 slice
    bit-identical to the per-slice hermetic ``pq_codes`` at the same
    constants (pytest-pinned), so values and the oracle are unchanged.
    Raises a clear error on a pre-dist legacy artifact (external
    ``SPARK_GRAFT_INDEX_DIR`` only — per-process staging always
    rebuilds fresh)."""
    import os

    codes = spark.read.parquet(os.path.join(index_path, "codes")).filter(
        F.col("g") >= 0
    )
    if "dist" not in codes.columns:
        raise ValueError(
            f"artifact at {index_path} predates the dist column; rebuild it "
            "(delete the artifact dir) to serve pq_codes from storage"
        )
    return codes.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("g") == s, F.col("j")))
            .cast("long")
            .alias(f"code_s{s}")
            for s in range(m)
        ],
        F.sum("dist").cast("long").alias("dist_q"),
    )


def ivf_pq_recall(
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    nprobe: int = 3,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    approx: DataFrame | None = None,
) -> DataFrame:
    """Recall@k audit of the IVF-PQ index against the exact squared-L2
    top-k over the same micro-unit integers — the evaluation loop an
    ANN deployment runs before trusting an index (and after every
    re-train/nprobe change). Deterministic end-to-end, so the oracle
    replays the measured recall value-exact; the measured loss
    decomposes into quantization error (ADC vs exact) and routing loss
    (unprobed lists), the two published IVF-PQ trade-offs.

    100 TB shape: the approx side is ``ivf_pq_topk`` unchanged; the
    exact side broadcasts the query batch's exploded micros into one
    map-side join + partial-agg distance pass over the corpus — the
    brute-force cost is queries x corpus, which is exactly why it's
    run on an audit BATCH, not the full query stream.

    ``approx`` overrides the approx side with a precomputed
    (q_id, c_id, ...) top-k frame — the build/serve lifecycle hook: an
    audit over a PERSISTED index passes ``ivf_pq_serve_topk`` /
    ``ivf_pq_residual_serve_topk`` output here instead of paying
    hermetic retraining (bit-identical results either way, since serve
    == hermetic at the same build constants).

    Returns (q_id, n_hits): |approx top-k ∩ exact top-k| per query.
    """
    from pyspark.sql.window import Window

    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS

    def micros(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id), F.posexplode(vec_col).alias("dim", "x")
        ).select(
            out_id,
            "dim",
            F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
        )

    if approx is None:
        search = ivf_pq_topk_residual if residual else ivf_pq_topk
        approx = search(
            queries,
            corpus,
            dims,
            coarse_k=coarse_k,
            coarse_iters=coarse_iters,
            m=m,
            k=k,
            iters=iters,
            nprobe=nprobe,
            topk=topk,
            id_col=id_col,
            vec_col=vec_col,
        )
    approx = approx.select("q_id", "c_id", F.lit(1).alias("hit"))
    qm = micros(queries, "q_id").withColumnRenamed("xq", "xq_q")
    cm = micros(corpus, "c_id")
    exd = (
        cm.join(F.broadcast(qm), "dim")
        .groupBy("q_id", "c_id")
        .agg(
            F.sum(
                (F.col("xq_q") - F.col("xq")) * (F.col("xq_q") - F.col("xq"))
            ).alias("d")
        )
    )
    w = Window.partitionBy("q_id").orderBy("d", "c_id")
    exact = (
        exd.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("q_id", "c_id")
    )
    return (
        exact.join(approx, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"))
    )


def ivf_pq_topk_residual(
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    nprobe: int = 3,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    opq: bool = False,
) -> DataFrame:
    """Residual-encoded IVF-PQ (the FAISS default, by_residual=true):
    PQ codebooks train on (vector - assigned coarse centroid), so the
    codes spend their bits on the WITHIN-list geometry instead of
    re-describing which list the vector sits in. NOTE: the recall
    effect vs raw encoding depends on the constants — at this repo's
    tiny bench constants (coarse K=8, shared codebooks across lists)
    the measured recall@5 is raw 0.36 vs residual 0.28 (the audit pair
    q_ann_recall / q_ann_recall_residual measures it); the published
    production lift needs a coarse quantizer fine enough that per-list
    residual distributions look alike.

    Stages, all bigint micro-units end-to-end:
    1. coarse ``kmeans_fit`` -> inverted lists + routing centroids;
    2. corpus residuals (one join against the K x dims centroid
       table), PQ codebooks via ONE ``kmeans_fit_grouped`` run over
       the m subspace slices of the residuals;
    3. per (query, probed list) residual LUTs: the query's residual
       AGAINST THAT LIST's centroid scored against each codebook entry
       — (queries x nprobe x m x k) rows, broadcast at any scale;
    4. ADC joins candidates' (list, code) pairs to the matching LUT
       rows; top-k per query, ascending-id ties.

    ``opq=True`` composes the OPQ allocation INTO the residual index
    (the FAISS ``OPQ..,IVF..,PQ..`` production shape, zeroth-order):
    the dim→subspace map comes from ``opq_dim_assign_exploded`` over
    the RESIDUALS, so the m codebooks split the residual variance
    evenly; everything else (routing, per-list LUTs, ADC) is
    unchanged at identical storage and probe cost.

    Returns (q_id, c_id, rank, adist_q).
    """
    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    lists, coarse_cent, codes, codebook, dim_map = _residual_index_train(
        corpus, d, coarse_k, coarse_iters, k, iters, id_col, vec_col,
        opq_m=m if opq else None,
    )
    return _residual_search(
        queries, lists, coarse_cent, codes, codebook, d, nprobe, topk,
        id_col, vec_col, dim_map=dim_map,
    )


def opq_dim_assign_exploded(ex: DataFrame, m: int) -> DataFrame:
    """``opq_dim_assign`` over a pre-exploded (dim, xq) frame — the
    variant the RESIDUAL OPQ composition needs: the spread statistic
    S_d = n·Σx² − (Σx)² (exact DECIMAL(38,0); same bound note as
    ``opq_dim_assign``) is computed over the RESIDUALS being encoded,
    not the raw vectors, so bits allocate to where the quantized
    signal actually has spread. Same desc-rank + snake deal; returns
    the (dim, g) map (dims rows, broadcastable anywhere)."""
    from pyspark.sql.window import Window

    stats = ex.groupBy("dim").agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("sum(CAST(xq AS DECIMAL(38,0)) * xq)").alias("sx2"),
        F.expr("sum(CAST(xq AS DECIMAL(38,0)))").alias("sx"),
    )
    w = Window.orderBy(F.expr("n * sx2 - sx * sx").desc(), F.col("dim").asc())
    return (
        stats.withColumn("pos", F.row_number().over(w) - 1)
        .select(
            "dim",
            F.expr(
                f"CAST(CASE WHEN ((pos div {m}) % 2) = 0 THEN pos % {m}"
                f" ELSE {m} - 1 - (pos % {m}) END AS INT)"
            ).alias("g"),
        )
    )


def _residual_group(df: DataFrame, d: int, val_col: str, dim_map: DataFrame | None):
    """(.., g, dim, xq) grouping of a residual explode: contiguous
    slices with local dims by default, or ``dim_map``'s allocation
    (original dim kept as the within-group key) when given — the one
    place the raw-layout and OPQ-layout residual paths differ."""
    others = [c for c in df.columns if c not in ("dim", val_col)]
    if dim_map is not None:
        return df.join(F.broadcast(dim_map), "dim").select(
            *others, "g", "dim", F.col(val_col).alias("xq")
        )
    return df.select(
        *others,
        (F.col("dim") / d).cast("int").alias("g"),
        (F.col("dim") % d).alias("dim"),
        F.col(val_col).alias("xq"),
    )


def _residual_index_train(
    corpus: DataFrame,
    d: int,
    coarse_k: int,
    coarse_iters: int,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    opq_m: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame | None]:
    """Training half of residual IVF-PQ (stages 1-2 of
    ``ivf_pq_topk_residual``): returns (lists, coarse_cent, codes,
    codebook, dim_map) — the exact model state
    ``ivf_pq_residual_index_build`` persists, so hermetic search and
    serve-from-artifact are bit-identical by construction (shared
    ``_residual_search``). ``opq_m`` switches the subspace layout from
    contiguous slices to the variance-balanced ``opq_dim_assign_exploded``
    allocation computed over the RESIDUALS (dim_map is None for the
    raw layout)."""
    from rat_strain_loader_pipeline_spark.operators.clustering import (
        MICROS,
        kmeans_fit,
        kmeans_fit_grouped,
    )
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    coarse_assign, coarse_cent = kmeans_fit(
        corpus, k=coarse_k, iters=coarse_iters, id_col=id_col, vec_col=vec_col
    )
    lists = coarse_assign.select(F.col(id_col), F.col("j").alias("jc"))
    # corpus residuals against the assigned centroid, sliced to subspaces
    resid = (
        corpus.select(
            F.col(id_col), F.posexplode(vec_col).alias("dim", "x")
        )
        .select(
            id_col,
            "dim",
            F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
        )
        .join(lists, id_col)
        .join(
            coarse_cent.select(F.col("j").alias("jc"), "dim", "c"), ["jc", "dim"]
        )
        .select(id_col, "dim", (F.col("xq") - F.col("c")).alias("rq"))
    )
    dim_map = None
    if opq_m is not None:
        resid = stage_to_parquet(resid, "ivfpqr-resid")
        dim_map = stage_to_parquet(
            opq_dim_assign_exploded(
                resid.select("dim", F.col("rq").alias("xq")), m=opq_m
            ),
            "ivfpqr-dimmap",
        )
    grouped = _residual_group(resid, d, "rq", dim_map)
    codes, codebook = kmeans_fit_grouped(grouped, k=k, iters=iters, id_col=id_col)
    return lists, coarse_cent, codes, codebook, dim_map


def _residual_search(
    queries: DataFrame,
    lists: DataFrame,
    coarse_cent: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    d: int,
    nprobe: int,
    topk: int,
    id_col: str,
    vec_col: str,
    dim_map: DataFrame | None = None,
    cb_retrained: DataFrame | None = None,
    retrain_lists: DataFrame | None = None,
) -> DataFrame:
    """Search half of residual IVF-PQ (stages 3-4 of
    ``ivf_pq_topk_residual``), shared verbatim between the hermetic
    query and ``ivf_pq_residual_serve_topk``. ``dim_map`` (model
    state of an OPQ-layout artifact) swaps the contiguous residual
    slicing for the stored allocation.

    ``cb_retrained`` + ``retrain_lists`` (both or neither): a
    MAINTAINED artifact's per-list codebook override — lists in
    ``retrain_lists`` (jc) resolve their ADC LUT against the
    per-list ``cb_retrained`` (jc, g, j, dim, c) instead of the
    global codebook. The LUT is already per (query, probed list)
    because residuals are taken against the list centroid, so the
    override costs nothing extra; keeping retrained codebooks in a
    separate bounded table (never replicating the global codebook
    per list) is what keeps the model broadcastable at 100 TB."""
    from pyspark.sql.window import Window

    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    def micros(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id), F.posexplode(vec_col).alias("dim", "x")
        ).select(
            out_id,
            "dim",
            F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
        )

    # query routing: nprobe nearest coarse centroids
    qm = stage_to_parquet(micros(queries, "q_id"), "ivfpqr-qm")
    qrout = (
        qm.join(coarse_cent, "dim")
        .groupBy("q_id", "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("dd"))
    )
    wp = Window.partitionBy("q_id").orderBy("dd", "j")
    probe = (
        qrout.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("q_id", F.col("j").alias("jc"))
    )
    # per (query, probed list) residuals -> LUT against the codebook
    qresid = _residual_group(
        qm.join(F.broadcast(probe), "q_id")
        .join(
            coarse_cent.select(F.col("j").alias("jc"), "dim", "c"), ["jc", "dim"]
        )
        .select("q_id", "jc", "dim", (F.col("xq") - F.col("c")).alias("rq")),
        d,
        "rq",
        dim_map,
    )
    # (queries x nprobe x m x k) rows — broadcast evaluates it once;
    # a parquet staging here would only add fixed I/O
    if cb_retrained is not None:
        rl = F.broadcast(retrain_lists.select("jc"))
        lut = (
            qresid.join(rl, "jc", "left_anti")
            .join(codebook, ["g", "dim"])
            .groupBy("q_id", "jc", "g", "j")
            .agg(
                F.sum(
                    (F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))
                ).alias("dd")
            )
            .unionByName(
                qresid.join(rl, "jc", "left_semi")
                .join(cb_retrained, ["jc", "g", "dim"])
                .groupBy("q_id", "jc", "g", "j")
                .agg(
                    F.sum(
                        (F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))
                    ).alias("dd")
                )
            )
        )
    else:
        lut = (
            qresid.join(codebook, ["g", "dim"])
            .groupBy("q_id", "jc", "g", "j")
            .agg(
                F.sum(
                    (F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))
                ).alias("dd")
            )
        )
    cand = (
        lists.select(F.col(id_col).alias("c_id"), "jc")
        .join(F.broadcast(probe), "jc")
        .select("q_id", "c_id", "jc")
    )
    adc = (
        cand.join(
            codes.select(F.col(id_col).alias("c_id"), "g", "j"), "c_id"
        )
        .join(F.broadcast(lut), ["q_id", "jc", "g", "j"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("dd").alias("adist_q"))
    )
    w = Window.partitionBy("q_id").orderBy("adist_q", "c_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "c_id", F.col("rank").cast("long").alias("rank"), "adist_q")
    )


def ivf_pq_residual_index_build(
    corpus: DataFrame,
    dims: int,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    root: str | None = None,
    tag: str = "default",
    opq: bool = False,
) -> str:
    """BUILD half of the RESIDUAL IVF-PQ lifecycle (``ivf_pq_index_build``
    twin for the FAISS by_residual=true default): run
    ``_residual_index_train`` once and PERSIST the artifact:

    - ``<path>/coarse_centroids``: (j, dim, c) — the routing model;
    - ``<path>/codebook``: (g, j, dim, c) — the m residual PQ codebooks
      (trained on vector − assigned coarse centroid);
    - ``<path>/dim_map``: (dim, g) — only when ``opq=True``: the
      residual-variance snake allocation is MODEL STATE, persisted
      with the codebooks it shaped (the OPQ×IVF×residual composition —
      FAISS's ``OPQ..,IVF..,PQ..`` production index, zeroth-order);
    - ``<path>/codes``: (vec_id, g, j) — g = -1 rows are the
      inverted-list postings, g >= 0 the residual PQ codes (1 + m
      bigints/vector, same layout as the raw artifact).

    The layout is folded into the params slug (``-opq``), so raw and
    OPQ builds at the same tag never alias. Idempotent load-or-build
    under the deterministic ``<root>/<params-slug>-<tag>`` path (codes
    written LAST, so a complete ``codes/_SUCCESS`` implies the whole
    artifact). Training is deterministic, so serving from the artifact
    is bit-identical to the hermetic ``ivf_pq_topk_residual`` — the
    memoization removes repeated per-query training cost without
    changing any value."""
    import os

    from rat_strain_loader_pipeline_spark.staging import _stage_root

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    root = root or os.environ.get("SPARK_GRAFT_INDEX_DIR") or _stage_root()
    layout = "-opq" if opq else ""
    slug = (
        f"ivfpqr-d{dims}-c{coarse_k}x{coarse_iters}-m{m}k{k}i{iters}{layout}-{tag}"
    )
    path = os.path.join(root, slug)
    if index_complete(path):
        return path
    lists, coarse_cent, codes, codebook, dim_map = _residual_index_train(
        corpus, d, coarse_k, coarse_iters, k, iters, id_col, vec_col,
        opq_m=m if opq else None,
    )
    if dim_map is not None:
        _validate_dim_map(dim_map, dims)
        dim_map.select("dim", "g").write.mode("overwrite").parquet(
            os.path.join(path, "dim_map")
        )
    coarse_cent.select("j", "dim", "c").write.mode("overwrite").parquet(
        os.path.join(path, "coarse_centroids")
    )
    codebook.select("g", "j", "dim", "c").write.mode("overwrite").parquet(
        os.path.join(path, "codebook")
    )
    lists.select(
        F.col(id_col), F.lit(-1).alias("g"), F.col("jc").alias("j")
    ).unionByName(codes.select(id_col, "g", "j")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codes"))
    return path


def ivf_pq_residual_serve_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    dims: int,
    m: int = 2,
    nprobe: int = 3,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SERVE half of the RESIDUAL IVF-PQ lifecycle: answer top-k
    reading ONLY the persisted artifact — no kmeans iterations, no
    full-vector corpus scan; the corpus is touched exclusively through
    the stored codes table. Search is ``_residual_search`` verbatim
    (the same code path the hermetic query runs after training), so
    served results are bit-identical to ``ivf_pq_topk_residual`` at
    the same build constants. An artifact built with ``opq=True``
    carries its residual-variance dim map as model state — the serve
    side loads it and groups query residuals through the same
    allocation. Returns (q_id, c_id, rank, adist_q)."""
    import os

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    coarse_cent = spark.read.parquet(
        os.path.join(index_path, "coarse_centroids")
    )
    codebook = spark.read.parquet(os.path.join(index_path, "codebook"))
    stored = spark.read.parquet(os.path.join(index_path, "codes"))
    dim_map = None
    if os.path.exists(os.path.join(index_path, "dim_map", "_SUCCESS")):
        dim_map = spark.read.parquet(os.path.join(index_path, "dim_map"))
    lists = stored.filter(F.col("g") == -1).select(
        F.col(id_col), F.col("j").alias("jc")
    )
    codes = stored.filter(F.col("g") >= 0).select(F.col(id_col), "g", "j")
    return _residual_search(
        queries, lists, coarse_cent, codes, codebook, d, nprobe, topk,
        id_col, vec_col, dim_map=dim_map,
    )


def _grouped_query_explode(
    df: DataFrame,
    out_id: str,
    d: int,
    id_col: str,
    vec_col: str,
    dim_map: DataFrame | None = None,
) -> DataFrame:
    """(id, g, dim, xq) explode of a vector frame into the coarse
    space (g = -1, full vector) plus the m PQ subspaces — contiguous
    slices with local dims by default, or ``dim_map``'s allocation
    (original dim kept as the within-group key) when given — the
    layout both the fused index build and the serve-side LUT pass
    consume."""
    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS

    base = df.select(
        F.col(id_col).alias(out_id), F.posexplode(vec_col).alias("dim", "x")
    ).select(
        out_id,
        "dim",
        F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
    )
    coarse_rows = base.select(out_id, F.lit(-1).alias("g"), "dim", "xq")
    if dim_map is not None:
        sub_rows = base.join(F.broadcast(dim_map), "dim").select(
            out_id, "g", "dim", "xq"
        )
    else:
        sub_rows = base.select(
            out_id,
            (F.col("dim") / d).cast("int").alias("g"),
            (F.col("dim") % d).alias("dim"),
            "xq",
        )
    return coarse_rows.unionByName(sub_rows)


def _validate_dim_map(dim_map: DataFrame, dims: int) -> None:
    """Assert a (dim, g) subspace allocation covers EXACTLY dims
    dimensions 0..dims-1. The mapped explode paths join the corpus to
    the map with an inner broadcast join, so a map built for a
    different dims count would silently DROP the uncovered dimensions
    and produce truncated ADC distances instead of an error; this
    dims-row aggregate (bounded — the map is never corpus-sized) turns
    that silent truncation into a build-time failure. Called at
    artifact-build time: every serve-side map is loaded from a
    validated artifact, and hermetic callers construct the map from
    ``opq_dim_assign`` on the same corpus (correct by construction)."""
    row = dim_map.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("dim").alias("nd"),
        F.min("dim").alias("mn"),
        F.max("dim").alias("mx"),
    ).first()
    if not (row["n"] == row["nd"] == dims and row["mn"] == 0 and row["mx"] == dims - 1):
        raise ValueError(
            f"dim_map must cover exactly dims={dims} rows 0..{dims - 1}; "
            f"got n={row['n']} distinct={row['nd']} "
            f"range=[{row['mn']}, {row['mx']}]"
        )


def ivf_pq_index_build(
    corpus: DataFrame,
    dims: int,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    root: str | None = None,
    tag: str = "default",
    dim_map: DataFrame | None = None,
) -> str:
    """BUILD half of the IVF-PQ lifecycle: train the coarse quantizer
    and the m PQ codebooks (one fused ``kmeans_fit_grouped`` run — the
    same single-pass multi-codebook build as ``ivf_pq_topk``) and
    PERSIST the index artifact to parquet:

    - ``<path>/centroids``: (g, j, dim, c) — group -1 is the coarse
      router, groups 0..m-1 the PQ codebooks ((m+1)·k·dims rows,
      broadcastable at any corpus scale);
    - ``<path>/codes``: (vec_id, g, j) — each vector's coarse list
      (g = -1: the inverted-list postings) and PQ codes (1 + m bigints
      per vector, the ~64x-compressed representation an ANN deployment
      actually stores);
    - ``<path>/dim_map``: (dim, g) — only when ``dim_map`` is given
      (e.g. ``opq_dim_assign``): the subspace allocation is MODEL
      STATE, persisted with the codebooks it shaped so the serve side
      explodes queries identically.

    Idempotent load-or-build: if the artifact already exists under the
    deterministic ``<root>/<params-slug>-<tag>`` path it is reused
    untouched — training cost is paid ONCE per corpus, which is the
    whole point of the build/serve split (``ivf_pq_topk`` retrains per
    query batch; a 100 TB serving tier never does). Returns the index
    path for ``ivf_pq_serve_topk`` / ``ivf_pq_index_summary``.
    """
    import os

    from rat_strain_loader_pipeline_spark.operators.clustering import (
        kmeans_fit_grouped,
    )
    from rat_strain_loader_pipeline_spark.staging import _stage_root

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    if (coarse_k, coarse_iters) != (k, iters):
        raise ValueError(
            "fused grouped training requires coarse (k, iters) == PQ (k, iters); "
            f"got {(coarse_k, coarse_iters)} != {(k, iters)}"
        )
    root = root or os.environ.get("SPARK_GRAFT_INDEX_DIR") or _stage_root()
    # The dim_map presence is part of the artifact identity: an OPQ
    # build and a raw build at the same params/tag must never share a
    # path, or the load-or-build check would serve codes with the
    # wrong subspace layout.
    layout = "-dm" if dim_map is not None else ""
    slug = f"ivfpq-d{dims}-c{coarse_k}x{coarse_iters}-m{m}k{k}i{iters}{layout}-{tag}"
    path = os.path.join(root, slug)
    if index_complete(path):
        has_map = os.path.exists(os.path.join(path, "dim_map", "_SUCCESS"))
        if has_map != (dim_map is not None):
            raise ValueError(
                f"existing artifact at {path} disagrees on dim_map presence "
                f"(stored={has_map}, requested={dim_map is not None})"
            )
        return path
    if dim_map is not None:
        _validate_dim_map(dim_map, dims)
        dim_map.select("dim", "g").write.mode("overwrite").parquet(
            os.path.join(path, "dim_map")
        )
    assign, cent = kmeans_fit_grouped(
        _grouped_query_explode(corpus, id_col, d, id_col, vec_col, dim_map),
        k=k,
        iters=iters,
        id_col=id_col,
    )
    cent.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    # dist (final-round assignment distance) rides along: for g >= 0
    # rows it is the per-subspace quantization error pq_codes_serve
    # sums — persisting it makes that query artifact-only; g = -1 rows
    # carry the coarse routing distance (unused, harmless)
    assign.select(id_col, "g", "j", "dist").write.mode("overwrite").parquet(
        os.path.join(path, "codes")
    )
    return path


def ivf_pq_index_summary(
    spark,
    index_path: str,
    fp_mod: int = 10**15,
) -> DataFrame:
    """Content manifest of a persisted IVF-PQ index — the build query's
    oracle-replayable output: per inverted list its posting count and a
    membership fingerprint, plus whole-artifact fingerprints of the
    centroid and code tables. Fingerprints are order-free sums of
    ``md5_number_lower(row-key) % fp_mod`` (the versioning-fingerprint
    idiom) accumulated in DECIMAL(38,0) and folded back mod fp_mod, so
    DuckDB replays them exactly from its own rebuilt index. Returns
    (part, j, n, fp_q) — one 'postings' row per list, one 'centroids'
    row, one 'codes' row (j = -1 for the table rows).
    """
    import os

    from rat_strain_loader_pipeline_spark.operators.sampling import md5_mod

    cent = spark.read.parquet(os.path.join(index_path, "centroids"))
    codes = spark.read.parquet(os.path.join(index_path, "codes"))

    def fp_sum(h):
        return F.expr(
            f"CAST(sum(CAST(h AS DECIMAL(38,0))) % {fp_mod} AS BIGINT)"
        )

    posts = (
        codes.filter(F.col("g") == -1)
        .select(
            "j",
            md5_mod(
                F.concat_ws(":", F.lit("p"), F.col("vec_id").cast("string")),
                fp_mod,
            ).alias("h"),
        )
        .groupBy("j")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), fp_sum("h").alias("fp_q"))
        .select(
            F.lit("postings").alias("part"),
            F.col("j").cast("long").alias("j"),
            "n",
            "fp_q",
        )
    )

    def table_row(df: DataFrame, part: str, key) -> DataFrame:
        return (
            df.select(md5_mod(key, fp_mod).alias("h"))
            .groupBy()
            .agg(F.count(F.lit(1)).cast("long").alias("n"), fp_sum("h").alias("fp_q"))
            .select(
                F.lit(part).alias("part"),
                F.lit(-1).cast("long").alias("j"),
                "n",
                "fp_q",
            )
        )

    cent_key = F.concat_ws(
        ":",
        F.lit("c"),
        F.col("g").cast("string"),
        F.col("j").cast("string"),
        F.col("dim").cast("string"),
        F.col("c").cast("string"),
    )
    code_key = F.concat_ws(
        ":",
        F.lit("k"),
        F.col("vec_id").cast("string"),
        F.col("g").cast("string"),
        F.col("j").cast("string"),
    )
    return posts.unionByName(table_row(cent, "centroids", cent_key)).unionByName(
        table_row(codes, "codes", code_key)
    )


def ivf_pq_serve_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    dims: int,
    m: int = 2,
    nprobe: int = 3,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SERVE half of the IVF-PQ lifecycle: answer top-k reading ONLY
    the persisted artifact — the corpus is touched exclusively through
    the stored (1 + m bigints)/vector ``codes`` table; no training, no
    full-vector corpus scan, no kmeans iterations in the plan. Search
    is ``ivf_pq_topk``'s search half verbatim (one (query × group ×
    centroid) distance table doubling as coarse router and ADC LUTs,
    both broadcast; candidates from the g = -1 postings), so served
    results are bit-identical to the hermetic query at the same build
    constants. An artifact built with a ``dim_map`` (OPQ allocation)
    carries it as model state — the serve side loads it and explodes
    queries through the same map. Returns (q_id, c_id, rank,
    adist_q), rank 1-based within probed lists, ties on ascending
    corpus id.
    """
    import os

    from pyspark.sql.window import Window

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    cent = spark.read.parquet(os.path.join(index_path, "centroids"))
    codes = spark.read.parquet(os.path.join(index_path, "codes"))
    dim_map = None
    if os.path.exists(os.path.join(index_path, "dim_map", "_SUCCESS")):
        dim_map = spark.read.parquet(os.path.join(index_path, "dim_map"))
    qdist = (
        _grouped_query_explode(queries, "q_id", d, id_col, vec_col, dim_map)
        .join(cent, ["g", "dim"])
        .groupBy("q_id", "g", "j")
        .agg(
            F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("ds")
        )
    )
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    qdist = stage_to_parquet(qdist, "ivfpq-serve-qdist")
    wp = Window.partitionBy("q_id").orderBy("ds", "j")
    probe = (
        qdist.filter(F.col("g") == -1)
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("q_id", F.col("j").alias("jc"))
    )
    cand = (
        codes.filter(F.col("g") == -1)
        .select(F.col("vec_id").alias("c_id"), F.col("j").alias("jc"))
        .join(F.broadcast(probe), "jc")
        .select("q_id", "c_id")
    )
    adc = (
        cand.join(
            codes.filter(F.col("g") >= 0).select(
                F.col("vec_id").alias("c_id"), "g", "j"
            ),
            "c_id",
        )
        .join(F.broadcast(qdist.filter(F.col("g") >= 0)), ["q_id", "g", "j"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("ds").alias("adist_q"))
    )
    w = Window.partitionBy("q_id").orderBy("adist_q", "c_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "c_id", F.col("rank").cast("long").alias("rank"), "adist_q")
    )


def ivf_pq_reindex_drifted(
    spark,
    index_path: str,
    old_corpus: DataFrame,
    new_batch: DataFrame,
    dims: int,
    m: int = 2,
    drift_threshold_q: int = 900_000,
    fp_mod: int = 10**15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    force_all: bool = False,
) -> DataFrame:
    """Drift-gated maintenance of a persisted RESIDUAL IVF-PQ index —
    the missing third of the build/serve/maintain lifecycle (build:
    ``ivf_pq_residual_index_build``; serve: ``ivf_pq_residual_serve_topk``):
    fold a new embedding batch into the stored index, re-encoding ONLY
    the inverted lists whose incoming traffic actually moved.

    Per batch (codebooks FROZEN — maintenance, not retraining):

    1. Route each new vector to its nearest stored coarse centroid
       (exact micro-unit argmin, (dist, j) ties).
    2. Per list, drift = the one fixed IEEE cosine tree over the exact
       integer SUM vectors of the OLD members vs ALL (old + new)
       members (the ``label_centroid_drift`` identity — cosine is
       scale-invariant, so no mean is ever divided). A list with no
       new members has S_all = S_old (cosine ~ 1e6, never flagged); a
       list with no old members is drifted by definition (NULL cosine).
    3. Lists with drift_q < ``drift_threshold_q`` (or NULL) REINDEX:
       their coarse centroid refreshes to the floored mean of all
       current members (the kmeans update rule) and every member
       re-encodes its residual against the refreshed centroid with the
       frozen codebooks. Untouched lists PASS THROUGH: stored code
       rows are reused verbatim (never rescanned) and only the new
       members encode, against the stored centroid.

    ``force_all=True`` treats every list as drifted — the full
    refresh-and-re-encode pass the pytest uses to assert touched-list
    equality (incremental == full on reindexed lists) and
    untouched-list passthrough, the ``connected_components_incremental``
    contract shape.

    100 TB shape: routing is new-batch × (K·dims) map-side work
    against the broadcast centroid table; drift is lists×dims-bounded
    sums; re-encode cost is bounded by the members of DRIFTED lists
    only — a stable corpus pays O(new batch), never O(index).

    Returns the per-list maintenance manifest (j, n_old, n_new,
    drift_q, reindexed, fp_codes, fp_cent): counts, the drift score,
    the gate decision, and order-free md5 fingerprints (mod
    ``fp_mod``, DECIMAL(38,0)-accumulated — the index-summary idiom)
    of the list's FINAL code rows and centroid rows, so a value-exact
    oracle checks the maintained artifact content itself."""
    import os

    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS
    from rat_strain_loader_pipeline_spark.operators.sampling import md5_mod
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    cent = spark.read.parquet(os.path.join(index_path, "coarse_centroids"))
    codebook = spark.read.parquet(os.path.join(index_path, "codebook"))
    stored = spark.read.parquet(os.path.join(index_path, "codes"))
    dim_map = None
    if os.path.exists(os.path.join(index_path, "dim_map", "_SUCCESS")):
        dim_map = spark.read.parquet(os.path.join(index_path, "dim_map"))
    old_lists = stored.filter(F.col("g") == -1).select(
        F.col(id_col), F.col("j").alias("jc")
    )

    def micros(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), F.posexplode(vec_col).alias("dim", "x")
        ).select(
            id_col,
            "dim",
            F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
        )

    old_x = micros(old_corpus).join(old_lists, id_col)
    # 1. route the new batch through the stored coarse centroids
    new_x = stage_to_parquet(micros(new_batch), "reindex-newx")
    new_lists = (
        new_x.join(F.broadcast(cent), "dim")
        .groupBy(id_col, "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("dist"))
        .groupBy(id_col)
        .agg(F.min(F.struct("dist", "j")).alias("mn"))
        .select(id_col, F.col("mn.j").alias("jc"))
    )
    members = stage_to_parquet(
        old_x.select(id_col, "jc", "dim", "xq").unionByName(
            new_x.join(new_lists, id_col).select(id_col, "jc", "dim", "xq")
        ),
        "reindex-members",
    )
    # 2. per-list drift: integer SUM vectors old vs all, one IEEE tree
    s_old = (
        old_x.groupBy("jc", "dim").agg(F.sum("xq").cast("long").alias("so"))
    )
    s_all = (
        members.groupBy("jc", "dim").agg(F.sum("xq").cast("long").alias("sa"))
    )
    stats = (
        s_all.join(s_old, ["jc", "dim"], "left")
        .select("jc", F.coalesce("so", F.lit(0)).alias("so"), "sa")
        .groupBy("jc")
        .agg(
            F.expr("sum(CAST(so AS DECIMAL(38,0)) * sa)").alias("dot"),
            F.expr("sum(CAST(so AS DECIMAL(38,0)) * so)").alias("n2o"),
            F.expr("sum(CAST(sa AS DECIMAL(38,0)) * sa)").alias("n2a"),
        )
        .select(
            "jc",
            F.expr(
                "CASE WHEN n2o > 0 AND n2a > 0 THEN"
                " CAST(floor(CAST(dot AS DOUBLE)"
                "   / (sqrt(CAST(n2o AS DOUBLE)) * sqrt(CAST(n2a AS DOUBLE)))"
                "   * 1000000) AS BIGINT) END"
            ).alias("drift_q"),
        )
    )
    gate = F.lit(True) if force_all else (
        F.col("drift_q").isNull() | (F.col("drift_q") < drift_threshold_q)
    )
    decisions = stage_to_parquet(
        stats.select("jc", "drift_q", gate.alias("reindexed")), "reindex-gate"
    )
    # 3. final centroids: refreshed mean for drifted lists, stored else
    n_members = members.select(id_col, "jc").distinct().groupBy("jc").agg(
        F.count(F.lit(1)).cast("long").alias("n_mem")
    )
    refreshed = (
        members.groupBy("jc", "dim")
        .agg(F.sum("xq").cast("double").alias("sx"))
        .join(F.broadcast(n_members), "jc")
        .select(
            "jc",
            "dim",
            F.floor(F.col("sx") / F.col("n_mem").cast("double"))
            .cast("long")
            .alias("c"),
        )
    )
    dec_b = F.broadcast(decisions.select("jc", "reindexed"))
    cent_final = stage_to_parquet(
        cent.select(F.col("j").alias("jc"), "dim", "c")
        .join(dec_b, "jc", "left")
        .filter(~F.coalesce("reindexed", F.lit(False)))
        .select("jc", "dim", "c")
        .unionByName(
            refreshed.join(dec_b, "jc").filter("reindexed").select("jc", "dim", "c")
        ),
        "reindex-cent",
    )
    # 4. codes: passthrough for untouched old members; encode the rest
    to_encode = (
        members.join(dec_b, "jc", "left")
        .withColumn("re", F.coalesce("reindexed", F.lit(False)))
        .join(old_lists.select(id_col).withColumn("is_old", F.lit(True)), id_col, "left")
        .filter(F.col("re") | F.col("is_old").isNull())
        .select(id_col, "jc", "dim", "xq")
    )
    resid = _residual_group(
        to_encode.join(F.broadcast(cent_final), ["jc", "dim"])
        .select(id_col, "jc", "dim", (F.col("xq") - F.col("c")).alias("rq")),
        d,
        "rq",
        dim_map,
    )
    encoded = (
        resid.join(F.broadcast(codebook), ["g", "dim"])
        .groupBy(id_col, "jc", "g", "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("dist"))
        .groupBy(id_col, "jc", "g")
        .agg(F.min(F.struct("dist", "j")).alias("mn"))
        .select(id_col, "jc", "g", F.col("mn.j").alias("j"))
    )
    passthrough = (
        stored.filter(F.col("g") >= 0)
        .join(old_lists, id_col)
        .join(dec_b, "jc", "left")
        .filter(~F.coalesce("reindexed", F.lit(False)))
        .select(id_col, "jc", "g", "j")
    )
    final_codes = passthrough.unionByName(encoded)

    def fp_sum(h: str):
        return F.expr(
            f"CAST(sum(CAST({h} AS DECIMAL(38,0))) % {fp_mod} AS BIGINT)"
        )

    fp_codes = (
        final_codes.select(
            "jc",
            md5_mod(
                F.concat_ws(
                    ":",
                    F.lit("k"),
                    F.col(id_col).cast("string"),
                    F.col("g").cast("string"),
                    F.col("j").cast("string"),
                ),
                fp_mod,
            ).alias("h"),
        )
        .groupBy("jc")
        .agg(fp_sum("h").alias("fp_codes"))
    )
    fp_cent = (
        cent_final.select(
            "jc",
            md5_mod(
                F.concat_ws(
                    ":",
                    F.lit("c"),
                    F.col("dim").cast("string"),
                    F.col("c").cast("string"),
                ),
                fp_mod,
            ).alias("h"),
        )
        .groupBy("jc")
        .agg(fp_sum("h").alias("fp_cent"))
    )
    n_old = old_lists.groupBy("jc").agg(
        F.count(F.lit(1)).cast("long").alias("n_old")
    )
    n_new = new_lists.groupBy("jc").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    return (
        decisions.join(F.broadcast(n_old), "jc", "left")
        .join(F.broadcast(n_new), "jc", "left")
        .join(F.broadcast(fp_codes), "jc", "left")
        .join(F.broadcast(fp_cent), "jc", "left")
        .select(
            F.col("jc").cast("long").alias("j"),
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            "drift_q",
            "reindexed",
            "fp_codes",
            "fp_cent",
        )
    )


def ivf_pq_maintenance_plan(
    spark,
    index_path: str,
    old_corpus: DataFrame,
    new_batch: DataFrame,
    dims: int,
    m: int = 2,
    drift_threshold_q: int = 900_000,
    stale_ratio_q: int = 2_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Codebook-staleness rung of the maintenance ladder — the
    decision operator ``ivf_pq_reindex_drifted`` lacks: the drift gate
    says WHICH lists moved, but a moved list can be fixed two ways
    (re-encode with the FROZEN codebooks, or flag the codebooks
    themselves for retraining), and today staleness is only
    discoverable by a full-corpus recall audit. This pass decides
    per-list, riding exactly the data the reindex pass already
    touches:

    1.-2. Route the new batch through the stored coarse centroids and
       compute the per-list SUM-vector drift cosine (identical to
       ``ivf_pq_reindex_drifted`` steps 1-2; untouched lists decide
       'passthrough' with no further work).
    3. For each DRIFTED list only (cost stays bounded by drifted
       membership — O(new batch) on a stable corpus, never O(index)):
       - ``err_stored_q``: exact bigint ADC error of the OLD members'
         residuals against the STORED centroid under the frozen
         codebooks (= the quantization error the stored codes already
         embody, recomputed deterministically);
       - ``err_refreshed_q``: the same error for ALL current members
         against the REFRESHED centroid (floored member mean) — what
         a frozen-codebook re-encode would leave behind;
       - ``stale_ratio_q`` = floor(err_refreshed·n_old·1e6 /
         (err_stored·n_all)) — the per-member quantization-error
         growth, exact DECIMAL(38,0) integer arithmetic.
    4. Decision: 'passthrough' (gate never fired), 'reencode'
       (drifted, error growth under ``stale_ratio_q``), or 'retrain'
       (drifted and the frozen codebooks no longer fit — ratio above
       the threshold, or NULL: a list with no old members or zero
       stored error has no baseline, so the codebooks were never fit
       to its data).

    Layout-aware: an OPQ artifact's dim map is loaded as model state.
    Returns (j, n_old, n_new, drift_q, err_stored_q, err_refreshed_q,
    stale_ratio_q, decision) — one row per list with any current
    member, fully deterministic so the oracle replays the whole
    decision pass value-exact."""
    import os

    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    cent = spark.read.parquet(os.path.join(index_path, "coarse_centroids"))
    codebook = spark.read.parquet(os.path.join(index_path, "codebook"))
    stored = spark.read.parquet(os.path.join(index_path, "codes"))
    dim_map = None
    if os.path.exists(os.path.join(index_path, "dim_map", "_SUCCESS")):
        dim_map = spark.read.parquet(os.path.join(index_path, "dim_map"))
    old_lists = stored.filter(F.col("g") == -1).select(
        F.col(id_col), F.col("j").alias("jc")
    )

    def micros(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), F.posexplode(vec_col).alias("dim", "x")
        ).select(
            id_col,
            "dim",
            F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
        )

    old_x = stage_to_parquet(micros(old_corpus).join(old_lists, id_col), "mplan-oldx")
    new_x = stage_to_parquet(micros(new_batch), "mplan-newx")
    new_lists = (
        new_x.join(F.broadcast(cent), "dim")
        .groupBy(id_col, "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("dist"))
        .groupBy(id_col)
        .agg(F.min(F.struct("dist", "j")).alias("mn"))
        .select(id_col, F.col("mn.j").alias("jc"))
    )
    members = stage_to_parquet(
        old_x.select(id_col, "jc", "dim", "xq").unionByName(
            new_x.join(new_lists, id_col).select(id_col, "jc", "dim", "xq")
        ),
        "mplan-members",
    )
    # per-list drift: integer SUM vectors old vs all, one IEEE tree
    s_old = old_x.groupBy("jc", "dim").agg(F.sum("xq").cast("long").alias("so"))
    s_all = members.groupBy("jc", "dim").agg(F.sum("xq").cast("long").alias("sa"))
    gate_col = F.col("drift_q").isNull() | (F.col("drift_q") < drift_threshold_q)
    decisions = stage_to_parquet(
        s_all.join(s_old, ["jc", "dim"], "left")
        .select("jc", F.coalesce("so", F.lit(0)).alias("so"), "sa")
        .groupBy("jc")
        .agg(
            F.expr("sum(CAST(so AS DECIMAL(38,0)) * sa)").alias("dot"),
            F.expr("sum(CAST(so AS DECIMAL(38,0)) * so)").alias("n2o"),
            F.expr("sum(CAST(sa AS DECIMAL(38,0)) * sa)").alias("n2a"),
        )
        .select(
            "jc",
            F.expr(
                "CASE WHEN n2o > 0 AND n2a > 0 THEN"
                " CAST(floor(CAST(dot AS DOUBLE)"
                "   / (sqrt(CAST(n2o AS DOUBLE)) * sqrt(CAST(n2a AS DOUBLE)))"
                "   * 1000000) AS BIGINT) END"
            ).alias("drift_q"),
        )
        .select("jc", "drift_q", gate_col.alias("drifted")),
        "mplan-gate",
    )
    drifted = F.broadcast(decisions.filter("drifted").select("jc"))
    flagged = members.join(drifted, "jc")
    n_members = flagged.select(id_col, "jc").distinct().groupBy("jc").agg(
        F.count(F.lit(1)).cast("long").alias("n_mem")
    )
    refreshed = (
        flagged.groupBy("jc", "dim")
        .agg(F.sum("xq").cast("double").alias("sx"))
        .join(F.broadcast(n_members), "jc")
        .select(
            "jc",
            "dim",
            F.floor(F.col("sx") / F.col("n_mem").cast("double"))
            .cast("long")
            .alias("c"),
        )
    )

    def adc_err(mem: DataFrame, cent_tbl: DataFrame, label: str) -> DataFrame:
        """Σ over (member, g) of the frozen-codebook argmin ADC
        distance of the member's residual vs ``cent_tbl`` — the exact
        bigint quantization error a frozen-codebook encode leaves."""
        resid = _residual_group(
            mem.join(F.broadcast(cent_tbl), ["jc", "dim"])
            .select(id_col, "jc", "dim", (F.col("xq") - F.col("c")).alias("rq")),
            d,
            "rq",
            dim_map,
        )
        return (
            resid.join(F.broadcast(codebook), ["g", "dim"])
            .groupBy(id_col, "jc", "g", "j")
            .agg(
                F.sum(
                    (F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))
                ).alias("dist")
            )
            .groupBy(id_col, "jc", "g")
            .agg(F.min("dist").alias("mind"))
            .groupBy("jc")
            .agg(F.sum("mind").cast("long").alias(label))
        )
    err_stored = adc_err(
        old_x.join(drifted, "jc"),
        cent.select(F.col("j").alias("jc"), "dim", "c"),
        "err_stored_q",
    )
    err_refreshed = adc_err(flagged, refreshed, "err_refreshed_q")
    n_old = old_lists.groupBy("jc").agg(F.count(F.lit(1)).cast("long").alias("n_old"))
    n_new = new_lists.groupBy("jc").agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    return (
        decisions.join(F.broadcast(n_old), "jc", "left")
        .join(F.broadcast(n_new), "jc", "left")
        .join(F.broadcast(err_stored), "jc", "left")
        .join(F.broadcast(err_refreshed), "jc", "left")
        .withColumn("n_old", F.coalesce("n_old", F.lit(0)).cast("long"))
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)).cast("long"))
        .withColumn("n_all", F.col("n_old") + F.col("n_new"))
        .withColumn(
            "stale_ratio_q",
            F.expr(
                "CASE WHEN err_stored_q > 0 AND n_old > 0 AND n_all > 0 THEN"
                " CAST((CAST(err_refreshed_q AS DECIMAL(38,0)) * n_old * 1000000)"
                " div (CAST(err_stored_q AS DECIMAL(38,0)) * n_all) AS BIGINT)"
                " END"
            ),
        )
        .withColumn(
            "decision",
            F.when(~F.col("drifted"), F.lit("passthrough"))
            .when(
                F.col("stale_ratio_q").isNull()
                | (F.col("stale_ratio_q") > stale_ratio_q),
                F.lit("retrain"),
            )
            .otherwise(F.lit("reencode")),
        )
        .select(
            F.col("jc").cast("long").alias("j"),
            "n_old",
            "n_new",
            "drift_q",
            "err_stored_q",
            "err_refreshed_q",
            "stale_ratio_q",
            "decision",
        )
    )


def _kmeans_fit_per_list(
    ex: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over many (inverted list × subspace) spaces in
    one set of jobs — ``kmeans_fit_grouped`` generalized to a COMPOSITE
    group key (jc, g), which per-list codebook retraining needs:
    different lists have different member sets, so the global-id
    seeding of the flat grouped fit does not apply. Seeds are the k
    smallest member ids OF EACH LIST (every member appears in all m
    subspace groups of its list, so the per-list id ranking seeds each
    (jc, g) identically — the same argument as the flat fit, scoped to
    the list); a list with fewer than k members just gets fewer
    centroids. Same bigint distances, (dist, j) argmin,
    floored-double centroid updates, empty-cluster keep-old as
    ``kmeans_fit``, so a per-(jc, g) unrolled-CTE oracle replays it
    value-exact.

    ``ex`` is (id_col, jc, g, dim, xq). Returns (assignments
    (id_col, jc, g, j, dist), centroids (jc, g, j, dim, c)) from the
    final round. Cost rides ONLY the retrain lists' membership —
    never O(index)."""
    from pyspark.sql.window import Window

    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    ex = stage_to_parquet(ex, "kmeanspl-ex")
    seeds = (
        ex.select("jc", id_col)
        .distinct()
        .withColumn(
            "sj",
            F.row_number().over(Window.partitionBy("jc").orderBy(id_col)) - 1,
        )
        .filter(F.col("sj") < k)
    )
    cent = ex.join(seeds, ["jc", id_col]).select(
        "jc", "g", F.col("sj").alias("j"), "dim", F.col("xq").alias("c")
    )
    assign = None
    for r in range(iters):
        dists = (
            ex.join(cent, ["jc", "g", "dim"])
            .groupBy(id_col, "jc", "g", "j")
            .agg(
                F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias(
                    "dist"
                )
            )
        )
        assign = stage_to_parquet(
            dists.groupBy(id_col, "jc", "g")
            .agg(F.min(F.struct("dist", "j")).alias("mn"))
            .select(
                id_col,
                "jc",
                "g",
                F.col("mn.j").alias("j"),
                F.col("mn.dist").alias("dist"),
            )
            .coalesce(4),
            f"kmeanspl-assign-{r}",
        )
        if r == iters - 1:
            break
        updated = (
            ex.join(assign.select(id_col, "jc", "g", "j"), [id_col, "jc", "g"])
            .groupBy("jc", "g", "j", "dim")
            .agg(
                F.floor(
                    F.sum("xq").cast("double") / F.count(F.lit(1)).cast("double")
                )
                .cast("long")
                .alias("cn")
            )
        )
        cent = stage_to_parquet(
            cent.join(updated, ["jc", "g", "j", "dim"], "left")
            .select("jc", "g", "j", "dim", F.coalesce("cn", "c").alias("c"))
            .coalesce(1),
            f"kmeanspl-cent-{r}",
        )
    return assign, cent


def _maintenance_apply_state(
    spark,
    index_path: str,
    old_corpus: DataFrame,
    new_batch: DataFrame,
    dims: int,
    m: int,
    k: int,
    iters: int,
    drift_threshold_q: int,
    stale_ratio_q: int,
    id_col: str,
    vec_col: str,
) -> dict:
    """Shared computation of the maintenance-apply rung — everything
    from decision to final codes, WITHOUT the manifest epilogue:
    ``ivf_pq_maintenance_apply`` fingerprints this state into the
    oracle-checked manifest; ``ivf_pq_maintained_commit`` persists it
    as the maintained artifact. One implementation, two consumers (the
    plan/apply discipline applied to ourselves). Returns the named
    intermediate DataFrames; see ``ivf_pq_maintenance_apply`` for the
    per-decision semantics and the scale bounds."""
    import os

    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS
    from rat_strain_loader_pipeline_spark.operators.sampling import md5_mod
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    cent = spark.read.parquet(os.path.join(index_path, "coarse_centroids"))
    codebook = spark.read.parquet(os.path.join(index_path, "codebook"))
    stored = spark.read.parquet(os.path.join(index_path, "codes"))
    dim_map = None
    if os.path.exists(os.path.join(index_path, "dim_map", "_SUCCESS")):
        dim_map = spark.read.parquet(os.path.join(index_path, "dim_map"))
    old_lists = stored.filter(F.col("g") == -1).select(
        F.col(id_col), F.col("j").alias("jc")
    )

    # 1. the decision pass (route → drift gate → staleness ratio)
    plan = stage_to_parquet(
        ivf_pq_maintenance_plan(
            spark,
            index_path,
            old_corpus,
            new_batch,
            dims=dims,
            m=m,
            drift_threshold_q=drift_threshold_q,
            stale_ratio_q=stale_ratio_q,
            id_col=id_col,
            vec_col=vec_col,
        ).select(
            F.col("j").alias("jc"), "n_old", "n_new", "decision"
        ),
        "mapply-plan",
    )
    dec = F.broadcast(plan.select("jc", "decision"))

    def micros(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), F.posexplode(vec_col).alias("dim", "x")
        ).select(
            id_col,
            "dim",
            F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
        )

    # 2. current members per list (identical routing to the plan pass)
    old_x = micros(old_corpus).join(old_lists, id_col)
    new_x = stage_to_parquet(micros(new_batch), "mapply-newx")
    new_lists = (
        new_x.join(F.broadcast(cent), "dim")
        .groupBy(id_col, "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("dist"))
        .groupBy(id_col)
        .agg(F.min(F.struct("dist", "j")).alias("mn"))
        .select(id_col, F.col("mn.j").alias("jc"))
    )
    members = stage_to_parquet(
        old_x.select(id_col, "jc", "dim", "xq")
        .unionByName(
            new_x.join(new_lists, id_col).select(id_col, "jc", "dim", "xq")
        )
        .join(dec, "jc")
        .join(
            old_lists.select(id_col).withColumn("is_old", F.lit(True)),
            id_col,
            "left",
        )
        .withColumn("is_old", F.coalesce("is_old", F.lit(False))),
        "mapply-members",
    )

    # 3. final centroids: stored for passthrough, refreshed else
    drifted_members = members.filter(F.col("decision") != "passthrough")
    n_members = (
        drifted_members.select(id_col, "jc").distinct()
        .groupBy("jc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_mem"))
    )
    refreshed = (
        drifted_members.groupBy("jc", "dim")
        .agg(F.sum("xq").cast("double").alias("sx"))
        .join(F.broadcast(n_members), "jc")
        .select(
            "jc",
            "dim",
            F.floor(F.col("sx") / F.col("n_mem").cast("double"))
            .cast("long")
            .alias("c"),
        )
    )
    cent_stored_jc = cent.select(F.col("j").alias("jc"), "dim", "c")
    cent_final = stage_to_parquet(
        cent_stored_jc.join(dec, "jc")
        .filter(F.col("decision") == "passthrough")
        .select("jc", "dim", "c")
        .unionByName(refreshed.select("jc", "dim", "c")),
        "mapply-cent",
    )

    # 4a. frozen-codebook encodes: passthrough lists' NEW members vs
    # the stored centroid; reencode lists' ALL members vs refreshed
    frozen_in = (
        members.filter(
            (F.col("decision") == "passthrough") & ~F.col("is_old")
        )
        .join(cent_stored_jc, ["jc", "dim"])
        .select(id_col, "jc", "dim", (F.col("xq") - F.col("c")).alias("rq"))
        .unionByName(
            members.filter(F.col("decision") == "reencode")
            .join(refreshed, ["jc", "dim"])
            .select(
                id_col, "jc", "dim", (F.col("xq") - F.col("c")).alias("rq")
            )
        )
    )
    enc = (
        _residual_group(frozen_in, d, "rq", dim_map)
        .join(F.broadcast(codebook), ["g", "dim"])
        .groupBy(id_col, "jc", "g", "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("dist"))
        .groupBy(id_col, "jc", "g")
        .agg(F.min(F.struct("dist", "j")).alias("mn"))
        .select(
            id_col,
            "jc",
            "g",
            F.col("mn.j").alias("j"),
            F.col("mn.dist").alias("dist"),
        )
    )
    enc = stage_to_parquet(enc, "mapply-enc")

    # 4b. retrain lists: per-list codebooks on current residuals
    rt_in = (
        members.filter(F.col("decision") == "retrain")
        .join(refreshed, ["jc", "dim"])
        .select(id_col, "jc", "dim", (F.col("xq") - F.col("c")).alias("rq"))
    )
    rt_assign, rt_cent = _kmeans_fit_per_list(
        _residual_group(rt_in, d, "rq", dim_map), k=k, iters=iters, id_col=id_col
    )

    # 5. final codes: verbatim passthrough + both encode legs
    pass_old = (
        stored.filter(F.col("g") >= 0)
        .join(old_lists, id_col)
        .join(dec, "jc")
        .filter(F.col("decision") == "passthrough")
        .select(id_col, "jc", "g", "j")
    )
    final_codes = pass_old.unionByName(
        enc.select(id_col, "jc", "g", "j")
    ).unionByName(rt_assign.select(id_col, "jc", "g", "j"))


    return {
        "plan": plan,
        "dec": dec,
        "cent": cent,
        "codebook": codebook,
        "stored": stored,
        "dim_map": dim_map,
        "old_lists": old_lists,
        "members": members,
        "cent_final": cent_final,
        "enc": enc,
        "rt_assign": rt_assign,
        "rt_cent": rt_cent,
        "final_codes": final_codes,
    }


def _maintenance_manifest(
    st: dict, fp_mod: int, id_col: str = "vec_id"
) -> DataFrame:
    """Manifest epilogue over a ``_maintenance_apply_state``: per-list
    decision, counts, final ADC error (NULL for passthrough), and the
    order-free md5 fingerprints of the FINAL code and centroid rows —
    shared by the hermetic ``ivf_pq_maintenance_apply`` and the
    commit-time manifest persisted into the maintained artifact."""
    from rat_strain_loader_pipeline_spark.operators.sampling import md5_mod

    plan, dec = st["plan"], st["dec"]
    cent_final, enc = st["cent_final"], st["enc"]
    rt_assign, final_codes = st["rt_assign"], st["final_codes"]

    def fp_sum(h: str):
        return F.expr(
            f"CAST(sum(CAST({h} AS DECIMAL(38,0))) % {fp_mod} AS BIGINT)"
        )

    fp_codes = (
        final_codes.select(
            "jc",
            md5_mod(
                F.concat_ws(
                    ":",
                    F.lit("k"),
                    F.col(id_col).cast("string"),
                    F.col("g").cast("string"),
                    F.col("j").cast("string"),
                ),
                fp_mod,
            ).alias("h"),
        )
        .groupBy("jc")
        .agg(fp_sum("h").alias("fp_codes"))
    )
    fp_cent = (
        cent_final.select(
            "jc",
            md5_mod(
                F.concat_ws(
                    ":",
                    F.lit("c"),
                    F.col("dim").cast("string"),
                    F.col("c").cast("string"),
                ),
                fp_mod,
            ).alias("h"),
        )
        .groupBy("jc")
        .agg(fp_sum("h").alias("fp_cent"))
    )
    # per-list maintained ADC error: both encode legs carry their
    # argmin distances; retrain's final-round assignment dist IS its
    # quantization error. NULL for passthrough (members untouched).
    err = (
        enc.join(dec, "jc")
        .filter(F.col("decision") == "reencode")
        .select("jc", "dist")
        .unionByName(rt_assign.select("jc", "dist"))
        .groupBy("jc")
        .agg(F.sum("dist").cast("long").alias("err_final_q"))
    )
    return (
        plan.join(F.broadcast(fp_codes), "jc", "left")
        .join(F.broadcast(fp_cent), "jc", "left")
        .join(F.broadcast(err), "jc", "left")
        .select(
            F.col("jc").cast("long").alias("j"),
            "decision",
            F.col("n_old").cast("long").alias("n_old"),
            F.col("n_new").cast("long").alias("n_new"),
            F.when(F.col("decision") != "passthrough", F.col("err_final_q"))
            .cast("long")
            .alias("err_final_q"),
            "fp_codes",
            "fp_cent",
        )
    )






def ivf_pq_maintenance_apply(
    spark,
    index_path: str,
    old_corpus: DataFrame,
    new_batch: DataFrame,
    dims: int,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    drift_threshold_q: int = 900_000,
    stale_ratio_q: int = 2_000_000,
    fp_mod: int = 10**15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXECUTE the maintenance plan — the last rung of the ANN
    lifecycle ladder (build → serve → drift-gate → staleness-decide →
    APPLY), the way ``ivf_pq_maintenance_plan`` turned the drift gate
    (E212) into a decision: run the three-way per-list decision, then
    ACT on it, emitting the maintained artifact's content manifest.

    Per list, by decision:

    - ``passthrough``: stored code rows copy VERBATIM for old members
      (never rescanned); only the list's NEW members encode, against
      the STORED centroid with the frozen codebooks (the
      ``ivf_pq_reindex_drifted`` untouched-list convention). The
      stored centroid carries over.
    - ``reencode``: the coarse centroid refreshes to the floored
      member mean and EVERY member re-encodes its residual against it
      with the FROZEN codebooks (drifted, but the codebooks still
      fit).
    - ``retrain``: the centroid refreshes likewise, and the list's m
      PQ codebooks RETRAIN on the current members' residuals
      (``_kmeans_fit_per_list`` — per-list smallest-id seeding, same
      (k, iters) discipline as the build) before every member
      re-encodes; the final-round assignment IS the new encoding.

    Manifest: (j, decision, n_old, n_new, err_final_q, fp_codes,
    fp_cent) — ``err_final_q`` is the exact bigint ADC error the
    maintained encoding leaves per DRIFTED list (NULL for passthrough
    lists, whose members were deliberately never touched: computing
    their error would break the O(drifted membership) + O(new batch)
    bound this ladder exists to keep); fingerprints are the
    ``ivf_pq_reindex_drifted`` order-free md5 idiom over the FINAL
    code and centroid rows, so a value-exact oracle checks the
    maintained artifact content itself. Retraining exists because
    codebooks FIT to the drifted list's own residuals beat codebooks
    fit to yesterday's corpus — pytest-asserted against the plan's
    frozen-codebook ``err_refreshed_q`` on a planted ×3 shift (an
    empirical property of the shift, not a theorem: a retrain decided
    on marginal staleness could in principle land slightly worse).

    100 TB shape: decision inputs ride the plan's own bounds; the
    apply side touches passthrough lists only through their stored
    rows and new members, and pays retrain kmeans only on retrain
    lists' membership — a stable corpus maintains at O(new batch)."""
    st = _maintenance_apply_state(
        spark, index_path, old_corpus, new_batch, dims, m, k, iters,
        drift_threshold_q, stale_ratio_q, id_col, vec_col,
    )
    return _maintenance_manifest(st, fp_mod, id_col)


def ivf_pq_maintained_commit(
    spark,
    index_path: str,
    old_corpus: DataFrame,
    new_batch: DataFrame,
    dims: int,
    m: int = 2,
    k: int = 8,
    iters: int = 2,
    drift_threshold_q: int = 900_000,
    stale_ratio_q: int = 2_000_000,
    fp_mod: int = 10**15,
    root: str | None = None,
    tag: str = "maintained",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """COMMIT the maintenance pass: persist the maintained index as a
    servable artifact — the step that makes the ladder a LOOP (build →
    serve → decide → apply → commit → serve the maintained index),
    instead of a manifest dead-end. Layout extends the residual
    artifact with two model-state tables:

    - ``coarse_centroids``: the FINAL per-list centroids (stored for
      passthrough lists, refreshed means for drifted ones);
    - ``codebook``: the stored GLOBAL codebooks, verbatim — still what
      passthrough and reencode lists encode against;
    - ``codebook_retrained``: (jc, g, j, dim, c) — ONLY the retrained
      lists' per-list codebooks. Deliberately a separate bounded table:
      replicating the global codebook per list would be lists×m×k×d
      rows (billions at production shape) while this is
      |retrain lists|×m×k×d — the model stays broadcastable;
    - ``decisions``: (jc, decision) — serve-side routing of the LUT to
      the right codebook table;
    - ``codes``: postings (g = -1, j = list) + the FINAL member codes,
      written LAST (complete ``codes/_SUCCESS`` implies the artifact).

    Idempotent load-or-build under the params-slugged path. The
    content is exactly what ``ivf_pq_maintenance_apply`` fingerprints
    (same ``_maintenance_apply_state``), so the apply manifest IS this
    artifact's oracle surface."""
    import os

    from rat_strain_loader_pipeline_spark.staging import _stage_root

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    root = root or os.environ.get("SPARK_GRAFT_INDEX_DIR") or _stage_root()
    slug = (
        f"ivfpqm-d{dims}-m{m}k{k}i{iters}"
        f"-dq{drift_threshold_q}sq{stale_ratio_q}fp{fp_mod}-{tag}"
    )
    path = os.path.join(root, slug)
    if index_complete(path):
        return path
    st = _maintenance_apply_state(
        spark, index_path, old_corpus, new_batch, dims, m, k, iters,
        drift_threshold_q, stale_ratio_q, id_col, vec_col,
    )
    st["cent_final"].select(
        F.col("jc").alias("j"), "dim", "c"
    ).write.mode("overwrite").parquet(os.path.join(path, "coarse_centroids"))
    st["codebook"].select("g", "j", "dim", "c").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codebook"))
    st["rt_cent"].select("jc", "g", "j", "dim", "c").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codebook_retrained"))
    st["plan"].select("jc", "decision").write.mode("overwrite").parquet(
        os.path.join(path, "decisions")
    )
    # the oracle-checked apply manifest rides inside the artifact, so
    # the apply QUERY serves a read instead of recomputing the whole
    # maintenance pass per call (the lifecycle-placement rule: the
    # maintenance job runs once; its manifest is what gets consumed)
    _maintenance_manifest(st, fp_mod, id_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "manifest"))
    if st["dim_map"] is not None:
        st["dim_map"].select("dim", "g").write.mode("overwrite").parquet(
            os.path.join(path, "dim_map")
        )
    postings = (
        st["members"]
        .select(id_col, "jc")
        .distinct()
        .select(F.col(id_col), F.lit(-1).alias("g"), F.col("jc").alias("j"))
    )
    postings.unionByName(
        st["final_codes"].select(id_col, "g", "j")
    ).write.mode("overwrite").parquet(os.path.join(path, "codes"))
    return path


def ivf_pq_maintained_serve_topk(
    spark,
    maintained_path: str,
    queries: DataFrame,
    dims: int,
    m: int = 2,
    nprobe: int = 3,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SERVE from a MAINTAINED artifact (``ivf_pq_maintained_commit``)
    — the proof the maintenance loop closes: top-k reading ONLY the
    maintained artifact, with retrained lists' ADC LUTs resolved
    against their per-list ``codebook_retrained`` rows and every other
    list against the global codebook (the ``_residual_search``
    override — free, because residual LUTs are per (query, probed
    list) already). No training, no corpus scan; the corpus is
    touched exclusively through the maintained codes table. Returns
    (q_id, c_id, rank, adist_q)."""
    import os

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    coarse_cent = spark.read.parquet(
        os.path.join(maintained_path, "coarse_centroids")
    )
    codebook = spark.read.parquet(os.path.join(maintained_path, "codebook"))
    cb_retr = spark.read.parquet(
        os.path.join(maintained_path, "codebook_retrained")
    )
    decisions = spark.read.parquet(os.path.join(maintained_path, "decisions"))
    stored = spark.read.parquet(os.path.join(maintained_path, "codes"))
    dim_map = None
    if os.path.exists(os.path.join(maintained_path, "dim_map", "_SUCCESS")):
        dim_map = spark.read.parquet(os.path.join(maintained_path, "dim_map"))
    lists = stored.filter(F.col("g") == -1).select(
        F.col(id_col), F.col("j").alias("jc")
    )
    codes = stored.filter(F.col("g") >= 0).select(F.col(id_col), "g", "j")
    return _residual_search(
        queries, lists, coarse_cent, codes, codebook, d, nprobe, topk,
        id_col, vec_col, dim_map=dim_map,
        cb_retrained=cb_retr,
        retrain_lists=decisions.filter(F.col("decision") == "retrain"),
    )


def ivf_pq_encode_batch(
    spark,
    index_path: str,
    batch: DataFrame,
    dims: int,
    m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector encode of a batch against a persisted RESIDUAL
    IVF-PQ artifact with the model FROZEN — the ingest kernel shared
    by the streaming encode leg and (conceptually) the reindex
    maintenance pass: route each vector to its nearest stored coarse
    centroid (exact micro-unit argmin, (dist, j) ties), take the
    residual against the ASSIGNED centroid, and assign each residual
    slice to its nearest frozen codebook entry.

    Encode is per-vector against static model state, so the codes of
    any union of batches equal the codes of the one-shot encode —
    mergeable by construction, which is what makes micro-batch ANN
    ingest replay-safe and batch-split-invariant.

    Returns (id_col, jc, g, j): the routing row is g = -1 (j = jc) and
    the m residual PQ codes carry their inverted list id alongside, so
    per-list manifests need no re-join. 100 TB shape: batch × (K·dims)
    routing + batch × (m·k·d) encode, all against broadcast model
    tables — O(batch), never O(index)."""
    import os

    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    cent = spark.read.parquet(os.path.join(index_path, "coarse_centroids"))
    codebook = spark.read.parquet(os.path.join(index_path, "codebook"))
    dim_map = None
    if os.path.exists(os.path.join(index_path, "dim_map", "_SUCCESS")):
        dim_map = spark.read.parquet(os.path.join(index_path, "dim_map"))
    bx = batch.select(
        F.col(id_col), F.posexplode(vec_col).alias("dim", "x")
    ).select(
        id_col,
        "dim",
        F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
    )
    route = (
        bx.join(F.broadcast(cent), "dim")
        .groupBy(id_col, "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("dist"))
        .groupBy(id_col)
        .agg(F.min(F.struct("dist", "j")).alias("mn"))
        .select(id_col, F.col("mn.j").alias("jc"))
    )
    resid = _residual_group(
        bx.join(route, id_col)
        .join(
            F.broadcast(cent.select(F.col("j").alias("jc"), "dim", "c")),
            ["jc", "dim"],
        )
        .select(id_col, "jc", "dim", (F.col("xq") - F.col("c")).alias("rq")),
        d,
        "rq",
        dim_map,
    )
    codes = (
        resid.join(F.broadcast(codebook), ["g", "dim"])
        .groupBy(id_col, "jc", "g", "j")
        .agg(F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("dist"))
        .groupBy(id_col, "jc", "g")
        .agg(F.min(F.struct("dist", "j")).alias("mn"))
        .select(id_col, "jc", "g", F.col("mn.j").alias("j"))
    )
    return route.select(
        id_col, "jc", F.lit(-1).alias("g"), F.col("jc").alias("j")
    ).unionByName(codes)


def ivf_pq_nprobe_curve(
    spark,
    index_path: str,
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    coarse_k: int,
    m: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall-vs-nprobe tuning curve over a persisted IVF-PQ artifact —
    the measurement an ANN deployment reads to pick its probe budget
    (the published IVF trade-off as one value-exact table instead of K
    separate runs). One pass computes everything:

    1. the query routing/LUT table and FULL-probe ADC distances (the
       ``ivf_pq_serve_topk`` search half at nprobe = K — every further
       nprobe is a SUBSET, so distances are computed exactly once);
    2. each candidate carries its list's probe rank for its query;
    3. a (1..K) nprobe grid cross-joins the bounded candidate set; per
       (query, nprobe) the ADC top-k is one hash-partitioned window
       over candidates with probe rank <= nprobe;
    4. hits against the exact squared-L2 top-k, summed per nprobe.

    The curve is monotone nondecreasing in nprobe by construction of
    the candidate subsets (pytest pins it). Returns (nprobe,
    n_hits) — n_hits out of |queries| x topk. 100 TB shape: the grid
    multiplies only the per-query CANDIDATE rows (corpus-bounded once,
    not per nprobe), the exact side is the audit-batch brute force all
    recall audits already pay."""
    import os

    from pyspark.sql.window import Window

    from rat_strain_loader_pipeline_spark.operators.clustering import MICROS
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    d, rem = divmod(dims, m)
    if rem:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    cent = spark.read.parquet(os.path.join(index_path, "centroids"))
    codes = spark.read.parquet(os.path.join(index_path, "codes"))
    qdist = stage_to_parquet(
        _grouped_query_explode(queries, "q_id", d, id_col, vec_col)
        .join(cent, ["g", "dim"])
        .groupBy("q_id", "g", "j")
        .agg(
            F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c"))).alias("ds")
        ),
        "nprobe-qdist",
    )
    wp = Window.partitionBy("q_id").orderBy("ds", "j")
    probe = (
        qdist.filter(F.col("g") == -1)
        .withColumn("pr", F.row_number().over(wp))
        .select("q_id", F.col("j").alias("jc"), "pr")
    )
    cand = (
        codes.filter(F.col("g") == -1)
        .select(F.col("vec_id").alias("c_id"), F.col("j").alias("jc"))
        .join(F.broadcast(probe), "jc")
        .select("q_id", "c_id", "pr")
    )
    adc = stage_to_parquet(
        cand.join(
            codes.filter(F.col("g") >= 0).select(
                F.col("vec_id").alias("c_id"), "g", "j"
            ),
            "c_id",
        )
        .join(F.broadcast(qdist.filter(F.col("g") >= 0)), ["q_id", "g", "j"])
        .groupBy("q_id", "c_id", "pr")
        .agg(F.sum("ds").alias("adist_q")),
        "nprobe-adc",
    )
    ns = spark.range(1, coarse_k + 1).select(
        F.col("id").cast("int").alias("nprobe")
    )
    wn = Window.partitionBy("q_id", "nprobe").orderBy("adist_q", "c_id")
    approx = (
        adc.join(F.broadcast(ns), F.col("pr") <= F.col("nprobe"))
        .withColumn("rk", F.row_number().over(wn))
        .filter(F.col("rk") <= topk)
        .select("nprobe", "q_id", "c_id")
    )

    def micros(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id), F.posexplode(vec_col).alias("dim", "x")
        ).select(
            out_id,
            "dim",
            F.floor(F.col("x").cast("double") * MICROS).cast("long").alias("xq"),
        )

    qm = micros(queries, "q_id").withColumnRenamed("xq", "xq_q")
    cm = micros(corpus, "c_id")
    exd = (
        cm.join(F.broadcast(qm), "dim")
        .groupBy("q_id", "c_id")
        .agg(
            F.sum(
                (F.col("xq_q") - F.col("xq")) * (F.col("xq_q") - F.col("xq"))
            ).alias("dd")
        )
    )
    we = Window.partitionBy("q_id").orderBy("dd", "c_id")
    exact = (
        exd.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= topk)
        .select("q_id", "c_id")
    )
    return (
        F.broadcast(ns)
        .join(
            exact.join(approx, ["q_id", "c_id"]).groupBy("nprobe").agg(
                F.count(F.lit(1)).cast("long").alias("n_hits")
            ),
            "nprobe",
            "left",
        )
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
    )
