"""Text-analysis operators for training-data pipelines (greenfield, no
reference constraint — SURVEY.md §7.8 extension surface).

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
codegen) — no Python UDFs. Each derivation is deliberately expressible in
ANSI-ish SQL so the DuckDB oracle can replicate it exactly.

Operators:
- token_count:       whitespace tokenization count
- word_stats:        char/word/line counts, avg word length
- punct_ratio_micros: punctuation chars / total chars, integer micros
- stopword_ratio_micros: fraction of tokens in a per-language stopword
                     list, integer micros
- lang_id_heuristic: argmax of per-language stopword hit counts
- quality_score:     composite micros [0, 1e6] from length/punct/stopword
                     signals — all-integer arithmetic, engine-exact
- doc_fingerprint:   order-sensitive 64-bit-ish rolling hash (hex md5 of
                     normalized text — deterministic, engine-agnostic)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists (top function words) per language.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "ich", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "je", "ne", "un", "une", "de"],
    "es": ["el", "la", "los", "y", "es", "yo", "no", "un", "una", "que"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我", "他", "这"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens with empties removed. The split class is
    written explicitly as RE2's \\s ([ \\t\\n\\r\\f]) rather than Java's
    \\s (which also matches \\x0b), so Spark and the DuckDB oracles
    (RE2 '\\s+') tokenize identically on every input."""
    return F.filter(F.split(F.trim(text), "[ \t\n\r\f]+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


# GPT-2-style pretokenizer shape, constrained to the RE2-compatible
# subset (no lookahead) so Spark (Java regex) and DuckDB (RE2) agree:
# contraction suffixes | space?+letters | space?+digits | space?+other | runs of space.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+|\s+"


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-style pretokens (the LLM-token-budget estimator): splits off
    contraction suffixes, keeps a leading space attached to word/number/
    punctuation runs — a faithful proxy for byte-BPE segment counts
    without a merges table."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text)).cast("bigint")


def char_count(text: Column) -> Column:
    return F.length(text).cast("bigint")


def greedy_pack(
    docs,
    max_tokens: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_shards: int = 32,
):
    """Sequence packing for LLM training: concat-and-chunk assignment of
    docs into fixed token windows.

    Docs are sharded (hash of id), ordered by id within the shard, and
    assigned pack = floor(start_offset / max_tokens) from the running
    token sum — the streaming concat-then-chunk packing used by training
    pipelines. Packing is SHARD-LOCAL by design: a global greedy order
    would serialize into one window partition; per-shard packing keeps
    every shard's cumsum parallel and pack ids deterministic
    ((shard, pack) is the pack key). Docs longer than ``max_tokens``
    still get a pack (they span several windows downstream).

    Returns docs + shard, pack_id, offset_in_pack.
    """
    from pyspark.sql.window import Window

    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        docs.withColumn("shard", shard)
        .withColumn("__cum", F.sum(F.col(tokens_col).cast("long")).over(w))
        .withColumn("__start", F.col("__cum") - F.col(tokens_col))
        .withColumn("pack_id", F.floor(F.col("__start") / max_tokens).cast("int"))
        .withColumn(
            "offset_in_pack", (F.col("__start") % max_tokens).cast("int")
        )
    )
    return out.drop("__cum", "__start")


# RE2-compatible (no lookarounds) so Spark and DuckDB redact identically
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (r"\+[0-9][0-9 -]{7,}[0-9]", "<PHONE>"),
]


def redact_pii(text: Column) -> Column:
    """Scrub emails, IPv4 addresses, and international-format phone
    numbers (applied in that order — an email's host must not be eaten
    by the IP rule first). Map-side regexp_replace chain, no UDF."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def repetition_stats(text: Column) -> dict[str, Column]:
    """Within-document repetition signals (Gopher-style quality rules):
    fraction of non-empty lines that are duplicates of an earlier line,
    and the highest repeat count of any single line. Pure expressions —
    map-side, no shuffle."""
    lines = F.filter(F.split(text, r"\n"), lambda x: F.trim(x) != "")
    n = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    dup_frac = F.when(
        n > 0, _idiv_micros((n - n_distinct).cast("bigint"), n.cast("bigint"))
    ).otherwise(F.lit(0).cast("long"))
    # highest repeat count of any line: sort, then longest equal run —
    # O(n log n) per doc (the distinct×filter formulation is O(n²) and
    # quadratic docs exist in scraped corpora)
    def run_step(acc, x):
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    max_rep = F.when(
        n > 0,
        F.aggregate(
            F.array_sort(lines),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            run_step,
            lambda acc: acc["best"],
        ),
    ).otherwise(F.lit(0)).cast("int")
    return {
        "n_lines": n.cast("int"),
        "dup_line_frac_micros": dup_frac,
        "max_line_repeat": max_rep,
    }


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined word n-grams; empty when < n tokens (guard
    with a size filter — F.sequence descends when start > stop)."""
    tk = tokens(text)
    return F.transform(
        F.sequence(F.lit(0), F.size(tk) - n),
        lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
    )


def ngram_contamination(docs, benchmark, n: int = 8, text_col: str = "text", id_col: str = "doc_id"):
    """Train/eval decontamination: flag every training doc sharing ANY
    word n-gram with the benchmark set — the standard leakage check
    before training on scraped corpora.

    Shape: benchmark n-grams are DISTINCT and broadcast (benchmarks are
    dimension-sized next to a 100 TB corpus); training docs explode to
    (doc_id, gram) and left-semi join the broadcast set, then distinct
    doc ids flag back onto ``docs``. At corpus scale join on
    ``xxhash64(gram)`` instead of the string to shrink the exploded
    shuffle — string equality kept here for oracle-exactness.

    Returns ``docs`` columns ``(id_col, contaminated boolean)``.
    """
    def grams(df):
        g = word_ngrams(F.col(text_col), n)
        return (
            df.filter(F.size(tokens(F.col(text_col))) >= n)
            .select(F.col(id_col), F.explode(g).alias("g"))
        )

    bench = grams(benchmark).select("g").distinct()
    hits = (
        grams(docs)
        .join(F.broadcast(bench), "g", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        docs.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__hit"), F.lit(False)).alias("contaminated"),
        )
    )


MICROS = 1_000_000


def _idiv_micros(num: Column, den: Column) -> Column:
    """Exact floor((num * 1e6) / den) bigint for non-negative bigint
    inputs with num * 1e6 < 2^53: the double division is correctly
    rounded and cannot cross an integer boundary in that range, so the
    floor equals DuckDB's ``//`` integer division bit-for-bit."""
    return F.floor((num * MICROS).cast("double") / den.cast("double")).cast("long")


def avg_word_len(text: Column) -> Column:
    """Average token length in integer micros (floor(total*1e6 / n) —
    all-integer, engine-exact), NULL for empty docs."""
    n = token_count(text)
    total = F.aggregate(tokens(text), F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, _idiv_micros(total, n)).otherwise(F.lit(None).cast("long"))


def punct_ratio_micros(text: Column) -> Column:
    """punctuation chars / total chars in integer micros
    (floor(n_punct*1e6 / n_chars) bigint, 0 for empty docs)."""
    total = F.length(text)
    stripped = F.length(F.regexp_replace(text, r"[\p{Punct}]", ""))
    return F.when(
        total > 0, _idiv_micros((total - stripped).cast("bigint"), total.cast("bigint"))
    ).otherwise(F.lit(0).cast("long"))


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of tokens exactly matching the language's stopword list."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(F.lower(text)), lambda t: F.array_contains(sw, t))).cast("bigint")


def stopword_ratio_micros(text: Column, lang: str) -> Column:
    """stopword tokens / all tokens in integer micros (bigint, 0 for
    empty docs)."""
    n = token_count(text)
    return F.when(n > 0, _idiv_micros(stopword_hits(text, lang), n)).otherwise(
        F.lit(0).cast("long")
    )


def lang_id_heuristic(text: Column) -> Column:
    """argmax over per-language stopword hit counts; 'und' when all zero.

    Ties break by language-code order (deterministic, mirrored in SQL).
    """
    langs = sorted(STOPWORDS)
    best_lang = F.lit("und")
    best_hits = F.lit(0).cast("bigint")
    # fold left in fixed language order; strict > keeps earlier lang on tie
    for lang in langs:
        h = stopword_hits(text, lang)
        take = h > best_hits
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, h).otherwise(best_hits)
    return best_lang


def quality_score(text: Column) -> Column:
    """Composite quality in integer micros [0, 1e6]: length signal, low
    punctuation, stopword presence (any language). ALL-integer
    arithmetic (no float op anywhere) — engine-exact; mirrors oracle SQL.

      len_sig   = least(1e6, n_tok * 10_000)
      punct_sig = 1e6 - least(1e6, 4 * punct_ratio_micros)
      sw_sig    = least(1e6, 10 * max_lang(stopword_ratio_micros))
      score     = floor((4*len_sig + 3*punct_sig + 3*sw_sig) / 10)
    """
    one = F.lit(MICROS).cast("long")
    words = token_count(text)
    len_sig = F.least(one, words * 10_000)
    punct_sig = one - F.least(one, punct_ratio_micros(text) * 4)
    max_sw = F.greatest(
        *[stopword_ratio_micros(text, lang) for lang in sorted(STOPWORDS)]
    )
    sw_sig = F.least(one, max_sw * 10)
    return _idiv_micros(
        (len_sig * 4 + punct_sig * 3 + sw_sig * 3), F.lit(10 * MICROS).cast("long")
    )


def doc_fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lower-cased text. Engine-agnostic (DuckDB md5 produces the same hex),
    order-sensitive like a rolling hash, collision-safe at corpus scale."""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(normalized)


def char_entropy(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document Shannon character entropy — the perplexity-proxy
    quality signal (gibberish and key-mash text scores far from natural
    language; encrypted/binary-ish payloads score near the alphabet
    maximum).

    One (doc, char) shuffle with map-side partial counts, then a per-doc
    reduce. Per-character contributions -(p * ln p) floor to integer
    micro-units BEFORE summing (the same exactness rule as the BM25 /
    tf-idf scores), so the cross-character sum is order-independent and
    hash-matches a SQL oracle.

    Returns (id_col, entropy_micros, n_distinct_chars, n_chars_counted).
    """
    from pyspark.sql import functions as F

    chars = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy(id_col).agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = F.floor((-(p * F.log(p))) * F.lit(1e6)).cast("long")
    return (
        counts.join(totals, id_col)
        .groupBy(id_col)
        .agg(
            F.sum(term).alias("entropy_micros"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.max("n").alias("n_chars_counted"),
        )
    )


def doc_chunks(
    docs,
    chunk_size: int = 50,
    stride: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Context-window chunking: split each doc's whitespace tokens into
    sliding windows of ``chunk_size`` tokens advancing by ``stride``
    (overlap = chunk_size - stride) — the standard prep for fixed-window
    model training. Pure built-ins (split/sequence/slice/explode), so
    the whole pass is map-side whole-stage-codegen with zero shuffle:
    chunk count per doc is ((n - chunk_size)_+ + stride - 1) div
    stride + 1 (docs with no tokens emit nothing; the last window is a
    short tail when the token count isn't stride-aligned)."""
    if not 0 < stride <= chunk_size:
        raise ValueError("require 0 < stride <= chunk_size")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = (
        F.expr(f"(greatest(size_toks - {chunk_size}, 0) + {stride - 1}) div {stride}")
        + F.lit(1)
    )
    base = docs.select(
        F.col(id_col), toks.alias("toks"), n.alias("size_toks")
    ).filter(F.col("size_toks") > 0)
    exploded = base.select(
        id_col,
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_id") * stride + 1, chunk_size)
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def bigram_logprob(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Per-document bigram language-model log-probability — the
    perplexity-proxy quality signal one step up from ``char_entropy``:
    gibberish, shuffled text, and boilerplate score far from fluent
    prose under a corpus-trained bigram model. Self-scoring (the model
    trains on the scored corpus itself), which is the standard setup
    for intra-corpus quality ranking.

    Model: add-one smoothing, ``P(w2|w1) = (C(w1,w2)+1) / (C(w1)+V)``
    with V = unigram vocabulary size. Every count is exact bigint; each
    bigram's ``ln P`` floors to integer micro-units (floor is
    toward -inf in BOTH engines, which matters for negative logs) so
    the per-doc sum is order-free. Returns
    (id_col, n_bigrams, logprob_sum_micros); docs with < 2 tokens score
    (0, 0).

    100 TB shape: doc bigrams reduce to (doc, w1, w2, c) with map-side
    partial counts before ANY join; the LM tables are vocabulary- and
    vocabulary^2-bounded aggregates of those reduced pairs (never raw
    tokens); V is a broadcast 1-row aggregate; the score join is one
    shuffle on (w1, w2).
    """
    toks = tokens(F.lower(F.col(text_col)))
    # guard < 2 tokens explicitly: Spark's sequence(1, 0) counts DOWN
    # ([1, 0]), it is not empty
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = docs.select(F.col(id_col), F.explode(bigrams).alias("bg")).select(
        id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    # reduce FIRST (per-doc bigram multiplicities, map-side partials),
    # then STAGE: four consumers (lm_bg, lm_uni, vocab, the score join)
    # would otherwise each re-tokenize the corpus
    doc_bg = stage_to_parquet(
        pairs.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("n")),
        "bigram-doc-bg",
    )
    lm_bg = doc_bg.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    lm_uni = doc_bg.groupBy("w1").agg(F.sum("n").alias("c1"))
    vocab = (
        doc_bg.select(F.col("w1").alias("w"))
        .unionByName(doc_bg.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    lp = F.log(
        (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double")
    )
    scored = (
        doc_bg.join(lm_bg, ["w1", "w2"])
        .join(lm_uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.sum(F.col("n") * F.floor(lp * F.lit(1e6)).cast("long"))
            .cast("long")
            .alias("logprob_sum_micros"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("logprob_sum_micros"), F.lit(0))
            .cast("long")
            .alias("logprob_sum_micros"),
        )
    )


def pmi_bigrams(
    docs: DataFrame,
    min_count: int = 5,
    topn: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """PMI phrase mining (the word2vec-era collocation detector): for
    adjacent token pairs, the pointwise-mutual-information RATIO
    p(a,b) / (p(a)·p(b)) = n_ab·NT²/(NB·n_a·n_b), with unigram
    probabilities over the NT corpus tokens and bigram probability
    over the NB bigram slots. Emitted as the PMI ratio in micro-units
    via one fixed IEEE division tree (n_ab/n_a·NT/n_b·NT/NB — staying
    near 1.0 between divisions, never overflowing the 2^53 integer
    window the way the raw n_ab·NT² product would), so the oracle
    replays it exactly; log() is deliberately NOT taken (libm is not
    part of the engine-portable contract — rank order is identical).

    Hapax pairs dominate raw PMI, so pairs below ``min_count`` are
    dropped (the standard floor), then top-``topn`` by (ratio, a, b).

    100 TB shape: one token explode -> two partial-agg count tables
    (unigrams, bigrams) joined on their words; marginal tables are
    vocab-sized; final TakeOrdered is bounded by topn.
    """
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    toks = stage_to_parquet(
        docs.select(tokens(F.lower(F.col(text_col))).alias("ts")).filter(
            F.size("ts") >= 2
        ),
        "pmi-toks",
    )
    uni = (
        toks.select(F.explode("ts").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    bg = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(ts, 1, size(ts) - 1)"),
                    F.expr("slice(ts, 2, size(ts) - 1)"),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    totals = toks.agg(
        F.sum(F.size("ts")).alias("nt"),
        F.sum(F.size("ts") - 1).alias("nb"),
    )
    ratio = (
        F.col("n_ab").cast("double")
        / F.col("n_a")
        * F.col("nt")
        / F.col("n_b")
        * F.col("nt")
        / F.col("nb")
    )
    return (
        bg.join(uni.select(F.col("t").alias("a"), F.col("n_t").alias("n_a")), "a")
        .join(uni.select(F.col("t").alias("b"), F.col("n_t").alias("n_b")), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "a",
            "b",
            "n_ab",
            F.floor(ratio * F.lit(1_000_000.0)).cast("long").alias("pmi_ratio_q"),
        )
        .orderBy(F.col("pmi_ratio_q").desc(), F.col("a"), F.col("b"))
        .limit(topn)
    )


def _bpe_merge_expr(syms: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping merge of adjacent (a, b) symbol
    pairs — the classic BPE apply step as ONE pure array fold (no UDF):
    scan symbols keeping an output stack; when the stack top is ``a``
    and the current symbol is ``b``, replace the top with ``a||b``. The
    merged token differs from ``a`` (b is non-empty), so a freshly
    merged pair can't immediately re-merge — exactly greedy
    left-to-right semantics (e.g. pair (a,a) over [a,a,a] -> [aa,a])."""
    merged = F.lit(a + b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs,
    rounds: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    return_vocab: bool = False,
):
    """Learn a BPE merge table over the corpus — the iterative
    most-frequent-adjacent-pair loop that defines a tokenizer vocab
    (Sennrich et al. 2016 shape: train on the WORD HISTOGRAM, not the
    raw corpus). Returns a DataFrame
    (merge_round int, merge_left string, merge_right string,
    pair_count bigint), one row per learned merge, deterministic
    (count desc, then lexicographic pair tie-break; binary collation in
    both engines).

    100 TB shape: ONE corpus-sized pass builds the (word, count)
    histogram (map-side partial agg); every subsequent round runs over
    the vocab-sized histogram only — pair partial-agg (map-side
    combine), a 1-row argmax collect, and a map-only fold that applies
    the winning merge. Nothing corpus-sized is ever iterated, collected
    or broadcast; per-round driver traffic is one (a, b, count) row.
    """
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # parquet staging barrier per round (staging.py): both the pair agg
    # and the next round's fold read each round's symbols WITHOUT
    # recomputing the chain, and the vectorized parquet path beats
    # persist()'s row-at-a-time cache build
    syms = stage_to_parquet(
        words.select("w", F.split("w", "").alias("s"), "cnt"), "bpe-s0"
    )
    merges = []
    for r in range(rounds):
        pairs = (
            syms.filter(F.size("s") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("s"), 1, F.size("s") - 1),
                        F.slice(F.col("s"), 2, F.size("s") - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((r, a, b, n))
        if r < rounds - 1 or return_vocab:
            syms = stage_to_parquet(
                syms.select(
                    "w", _bpe_merge_expr(F.col("s"), a, b).alias("s"), "cnt"
                ),
                f"bpe-s{r + 1}",
            )
    table = spark.createDataFrame(
        merges, "merge_round int, merge_left string, merge_right string, pair_count long"
    )
    if return_vocab:
        return table, syms
    return table


def _bpe_merge_multi_expr(syms: Column, pairs: list[tuple[str, str]]) -> Column:
    """Multi-pair generalization of ``_bpe_merge_expr``: one greedy
    left-to-right stack fold applying EVERY pair in ``pairs`` in a
    single pass. Callers guarantee the pairs are mutually disjoint
    (no shared symbol, and no pair's concatenation equal to another's
    symbol — ``_bpe_disjoint_filter``), so at most one pair can match
    at any position and no merge output can feed another pair's match:
    the fold is order-independent across pairs and position-greedy
    within each pair, exactly the per-pair run-parity semantics of the
    single-merge fold."""

    def step(acc: Column, x: Column) -> Column:
        out = F.concat(acc, F.array(x))
        for a, b in pairs:
            out = F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
            ).otherwise(out)
        return out

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def _bpe_disjoint_filter(
    cands: list[tuple[str, str, int]],
) -> list[tuple[int, str, str, int]]:
    """Greedy non-recursive disjoint selection over ranked merge
    candidates [(a, b, count) in (count desc, a, b) order]: candidate
    c is KEPT iff it conflicts with NO higher-ranked candidate (kept
    or not). Conflict = shared symbol, or one side's concatenation
    equals the other's symbol (the cascade guard: applying q must not
    create or consume a token c matches on). Non-recursive on purpose —
    the same rule is one NOT EXISTS in the SQL oracle, so both engines
    select the identical batch. Returns [(rank_1based, a, b, count)]."""
    kept = []
    for i, (a, b, n) in enumerate(cands):
        ok = True
        for qa, qb, _ in cands[:i]:
            if (
                qa in (a, b)
                or qb in (a, b)
                or (qa + qb) in (a, b)
                or (a + b) in (qa, qb)
            ):
                ok = False
                break
        if ok:
            kept.append((i + 1, a, b, n))
    return kept


def bpe_train_batched(
    docs,
    rounds: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Batched multi-merge BPE training — the fastBPE-style cadence fix
    for ``bpe_train``: instead of ONE merge (= one Spark job) per
    round, each round takes the top ``window`` candidate pairs by
    (count desc, a, b), keeps the prefix-conflict-free subset
    (``_bpe_disjoint_filter`` — mutually disjoint by construction), and
    applies ALL kept merges in one fold pass. A production 32k-merge
    vocab then costs ~vocab/|batch| driver round-trips instead of
    vocab. Selection is deterministic and non-recursive so a SQL
    oracle replays the identical batch with one NOT EXISTS.

    Same 100 TB shape as ``bpe_train``: one corpus pass builds the word
    histogram; every round runs over vocab-sized state with a parquet
    staging barrier; per-round driver traffic is ``window`` candidate
    rows. Returns (merge_round int, merge_rank int — the candidate's
    rank within its round's window, gaps where conflicted candidates
    were dropped — merge_left, merge_right, pair_count).
    """
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    syms = stage_to_parquet(
        words.select("w", F.split("w", "").alias("s"), "cnt"), "bpeb-s0"
    )
    merges: list[tuple[int, int, str, str, int]] = []
    for r in range(rounds):
        pairs = (
            syms.filter(F.size("s") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("s"), 1, F.size("s") - 1),
                        F.slice(F.col("s"), 2, F.size("s") - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
        )
        cands = [
            (row["a"], row["b"], int(row["n"]))
            for row in pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(window)
            .collect()
        ]
        if not cands:
            break
        kept = _bpe_disjoint_filter(cands)
        merges.extend((r, rk, a, b, n) for rk, a, b, n in kept)
        if r < rounds - 1:
            syms = stage_to_parquet(
                syms.select(
                    "w",
                    _bpe_merge_multi_expr(
                        F.col("s"), [(a, b) for _, a, b, _ in kept]
                    ).alias("s"),
                    "cnt",
                ),
                f"bpeb-s{r + 1}",
            )
    return spark.createDataFrame(
        merges,
        "merge_round int, merge_rank int, merge_left string,"
        " merge_right string, pair_count long",
    )


def quality_model_score(
    text: Column,
    dim: int = 64,
    mult: int = 2654435761,
    rng: int = 2_000_001,
    bias_micros: int = 500_000,
    salt: str = "qmodel:v1:",
) -> Column:
    """Model-based quality logit in integer micros — the fastText-style
    linear classifier gate (hashed bag-of-words x fixed weight vector)
    that closes the heuristic-vs-model gap in corpus curation.

    Feature index = md5_number_lower(salt || token) % dim (the repo's
    engine-exact hash identity, sampling.md5_mod — pure JVM
    expressions); weight_micros(idx) = ((idx * mult) % rng) - (rng-1)/2
    (a deterministic Knuth-multiplicative table in [-1e6, 1e6] micros —
    stand-in for trained weights, broadcast-by-value into the plan);
    logit = bias + sum over TOKENS (not types). ALL-integer, zero
    shuffle, zero UDF: one F.aggregate fold per row inside whole-stage
    codegen. Swapping in real trained weights = replacing the weight
    expression with a dim-sized F.array literal lookup — same shape.
    """
    from rat_strain_loader_pipeline_spark.operators.sampling import md5_mod

    half = (rng - 1) // 2

    def w(t: Column) -> Column:
        idx = md5_mod(F.concat(F.lit(salt), t), dim)
        return (idx * F.lit(mult).cast("long")) % rng - half

    return F.aggregate(
        tokens(F.lower(text)),
        F.lit(bias_micros).cast("long"),
        lambda acc, t: acc + w(t),
    )


def bpe_apply(docs, rounds: int = 6, text_col: str = "text", id_col: str = "doc_id"):
    """Token-budget accounting under a LEARNED tokenizer: train
    ``rounds`` BPE merges (``bpe_train``), then charge every document
    the post-merge symbol count of its words — the real token count the
    merge table defines, as opposed to the pretokenizer proxy
    (``bpe_ish_token_count``).

    100 TB shape: training is vocab-sized after one corpus pass (see
    bpe_train); application is a doc-token explode joined against the
    vocab-sized (word -> n_symbols) table — broadcastable at any corpus
    size — plus one per-doc partial agg. Docs with zero tokens produce
    no row (inner join on the word table), mirroring the SQL oracle.

    Returns (id_col, n_words, n_bpe_tokens).
    """
    _, vocab = bpe_train(
        docs, rounds=rounds, text_col=text_col, id_col=id_col, return_vocab=True
    )
    word_len = vocab.select("w", F.size("s").cast("long").alias("n_syms"))
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
    )
    return (
        toks.join(F.broadcast(word_len), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )


def vocab_psi(docs, is_current, top_v: int = 200, text_col: str = "text"):
    """Token-distribution drift between two corpus slices — the
    vocabulary-level PSI a data pipeline gates crawls/deliveries on
    (value-level PSI lives in stats.psi_drift; this is its text twin).

    Bins are the ``top_v`` tokens by combined count (ties broken
    lexicographically — a total order both engines share) plus ONE
    catch-all '<other>' bin so the distributions stay complete and
    aligned. Add-one smoothing over top_v + 1 bins keeps one-sided
    tokens finite; the per-bin contribution (p - q) * ln(p / q) floors
    to micro-units in the identical operand order as the oracle (the
    floored-ln precedent).

    Shapes: one token-grain shuffle with map-side partial counts, a
    bounded TakeOrdered for the top-V, and bins-sized math after that.
    Returns (token, n_ref, n_cur, psi_contrib_q).
    """
    toks = docs.select(
        is_current.alias("cur"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(~F.col("cur"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("n_cur"),
    )
    top = counts.orderBy(
        (F.col("n_ref") + F.col("n_cur")).desc(), F.col("token").asc()
    ).limit(top_v)
    rest = (
        counts.join(top.select("token"), "token", "left_anti")
        .agg(
            F.coalesce(F.sum("n_ref"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.sum("n_cur"), F.lit(0)).alias("n_cur"),
        )
        .select(F.lit("<other>").alias("token"), "n_ref", "n_cur")
    )
    bins = top.unionByName(rest)
    tot = bins.agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    n_bins = top_v + 1
    p = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + n_bins).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + n_bins).cast("double")
    contrib = F.floor((p - q) * F.log(p / q) * F.lit(1_000_000.0)).cast("long")
    return bins.crossJoin(F.broadcast(tot)).select(
        "token",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        contrib.alias("psi_contrib_q"),
    )


def zipf_hill(
    docs: DataFrame,
    group_col: str = "lang",
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Zipf tail-index per group via the Hill estimator over token
    frequencies.

    The corpus-health diagnostic behind vocabulary sizing and
    quality-drift alarms: a healthy natural-language slice has a token
    frequency tail near alpha ~= 1; boilerplate/spam skews it. Hill
    over the ``top_k`` most frequent tokens with the (k+1)-th count as
    the threshold:

        alpha = 1 + k / sum_{i<=k} ln(c_i / c_{k+1})

    Exactness: each ln ratio is floored to integer micros BEFORE the
    sum (the floored-ln idiom), so ``ln_sum_q`` is a bigint the oracle
    reproduces term-by-term; ``alpha_q`` is then pure integer
    arithmetic (1e6 + k·1e12 div ln_sum_q — positive operands, trunc
    == floor in both engines). Groups whose ranked list is shorter
    than 2 rows, or with a zero ln-sum (uniform counts), emit NULL.

    100 TB shape: one (group, token) partial agg collapses the corpus
    to vocab-sized rows; the rank window, threshold lookup, and Hill
    sum all run on the top-(k+1) slice per group — never on the fact
    table. Ties rank deterministically by (count DESC, token ASC).
    Returns (group, k_used, c_tail, ln_sum_q, alpha_q).
    """
    from pyspark.sql.window import Window

    counts = (
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy("g", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_rank = Window.partitionBy("g").orderBy(F.desc("c"), F.asc("token"))
    top = counts.withColumn("rn", F.row_number().over(w_rank)).filter(
        F.col("rn") <= top_k + 1
    )
    w_g = Window.partitionBy("g")
    scored = (
        top.withColumn("mx", F.max("rn").over(w_g))
        .withColumn(
            "c_tail",
            F.max(F.when(F.col("rn") == F.col("mx"), F.col("c"))).over(w_g),
        )
        .filter((F.col("rn") < F.col("mx")) & (F.col("mx") >= 2))
        .withColumn(
            "term_q",
            F.floor(
                F.log(F.col("c").cast("double") / F.col("c_tail").cast("double"))
                * F.lit(1_000_000.0)
            ).cast("long"),
        )
    )
    agg = scored.groupBy(F.col("g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("c_tail").cast("long").alias("c_tail"),
        F.sum("term_q").cast("long").alias("ln_sum_q"),
    )
    return agg.select(
        group_col,
        "k_used",
        "c_tail",
        "ln_sum_q",
        F.when(
            F.col("ln_sum_q") > 0,
            F.lit(1_000_000).cast("long")
            + F.expr("k_used * 1000000000000L div ln_sum_q"),
        )
        .cast("long")
        .alias("alpha_q"),
    )


def llr_collocations(
    docs: DataFrame,
    min_count: int = 5,
    topn: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Dunning log-likelihood-ratio collocations — the statistically
    honest upgrade to PMI phrase mining (G² does not blow up on rare
    pairs the way raw PMI does): for each adjacent token pair, the 2x2
    contingency over the NB bigram slots

        k11 = n_ab          k12 = n_a. - n_ab
        k21 = n_.b - n_ab   k22 = NB - n_a. - n_.b + n_ab

    and G² = 2·Σ k_ij·ln(k_ij·NB / (R_i·C_j)), zero-count cells
    contributing 0. Each cell term floors to integer micros BEFORE the
    sum (the floored-ln idiom) with the ratio computed as the fixed
    tree (k/R)·(NB/C) — staying near O(1) between divisions instead of
    overflowing k·NB — so ``llr_q`` is a bigint the oracle rebuilds
    term-by-term. Marginals and NB are computed over ALL bigrams;
    ``min_count`` floors only the emitted pairs.

    100 TB shape: one token explode → one (a, b) partial-agg count
    table; both marginals reduce FROM that table (vocab-sized, no
    second corpus pass); NB is a 1-row broadcast; top-``topn`` is a
    bounded TakeOrdered. Returns (a, b, n_ab, llr_q).
    """
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    toks = docs.select(tokens(F.lower(F.col(text_col))).alias("ts")).filter(
        F.size("ts") >= 2
    )
    bg_all = stage_to_parquet(
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(ts, 1, size(ts) - 1)").alias("a"),
                    F.expr("slice(ts, 2, size(ts) - 1)").alias("b"),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab")),
        "llr-bigrams",
    )
    ra = bg_all.groupBy("a").agg(F.sum("n_ab").cast("long").alias("n_a_"))
    cb = bg_all.groupBy("b").agg(F.sum("n_ab").cast("long").alias("n_b_"))
    nb = bg_all.agg(F.sum("n_ab").cast("long").alias("nb"))
    j = (
        bg_all.filter(F.col("n_ab") >= min_count)
        .join(ra, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(nb))
    )

    def cell(k, r, c):
        return F.when(
            k > 0,
            F.floor(
                k.cast("double")
                * F.log(
                    (k.cast("double") / r.cast("double"))
                    * (F.col("nb").cast("double") / c.cast("double"))
                )
                * F.lit(1_000_000.0)
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    k11 = F.col("n_ab")
    k12 = F.col("n_a_") - F.col("n_ab")
    k21 = F.col("n_b_") - F.col("n_ab")
    k22 = F.col("nb") - F.col("n_a_") - F.col("n_b_") + F.col("n_ab")
    r2 = F.col("nb") - F.col("n_a_")
    c2 = F.col("nb") - F.col("n_b_")
    llr = 2 * (
        cell(k11, F.col("n_a_"), F.col("n_b_"))
        + cell(k12, F.col("n_a_"), c2)
        + cell(k21, r2, F.col("n_b_"))
        + cell(k22, r2, c2)
    )
    return (
        j.select("a", "b", "n_ab", llr.cast("long").alias("llr_q"))
        .orderBy(F.col("llr_q").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(topn)
    )


def unicode_nfc_audit(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Unicode-normalization hygiene audit — the multilingual-corpus
    check that catches mixed NFC/NFD ingestion (the same word arriving
    precomposed from one crawler and decomposed from another defeats
    exact dedup, tokenizer merges, and embedding-cache keys): per
    group, how many docs are not NFC-normal and how many code points
    normalization removes. The normalize itself is an Arrow-batched
    pandas UDF over Python's unicodedata (Spark has no built-in
    normalizer); the oracle replays it with DuckDB's nfc_normalize —
    two independent NFC implementations agreeing is the audit's own
    correctness certificate.

    100 TB shape: one map-only pass (UDF + comparison inside the scan
    stage), then a group-cardinality aggregate. Returns
    (group, n_docs, n_nonnfc, sum_cp_delta).
    """
    import unicodedata

    import pandas as pd  # noqa: F401 (resolves the UDF type hints)
    from pyspark.sql.functions import pandas_udf

    def _nfc(s: "pd.Series") -> "pd.Series":
        return s.map(
            lambda t: unicodedata.normalize("NFC", t)
            if t is not None
            else None
        )

    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    nfc = pandas_udf(_nfc, "string")

    from rat_strain_loader_pipeline_spark.ship import ensure_shipped

    ensure_shipped(docs.sparkSession)
    t = F.col(text_col)
    scored = docs.select(
        F.col(group_col).alias("g"),
        (t != nfc(t)).alias("changed"),
        (F.length(t) - F.length(nfc(t))).cast("long").alias("cp_delta"),
    )
    return scored.groupBy(F.col("g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("changed"), 1).otherwise(0))
        .cast("long")
        .alias("n_nonnfc"),
        F.sum("cp_delta").cast("long").alias("sum_cp_delta"),
    )


def gopher_quality_rules(
    docs,
    min_words: int = 25,
    max_words: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Gopher-style rule-based quality filter (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A) — the standard
    heuristic rule BUNDLE beside the composite ``quality_score`` and
    the model-based ``quality_model_score``: each document is audited
    against five published-shape rules and emits the per-rule bitmap
    (a curation pipeline wants to know WHICH rule fired, not just
    pass/fail):

      bit 0: word count in [min_words, max_words]
      bit 1: mean word length in [3, 10]    (3n <= L <= 10n — fraction-free)
      bit 2: >= 80% of words contain an alphabetic char (5a >= 4n)
      bit 3: symbol-to-word ratio <= 0.1 ('#'/'...' words; 10s <= n)
      bit 4: >= 2 English stopword hits

    ALL comparisons are integer cross-products (no division anywhere),
    so the audit is engine-exact by construction. Map-only — one
    filter/aggregate pass per row inside whole-stage codegen, zero
    shuffle at any corpus size. Returns (id, n_words, sum_wlen,
    n_alpha_words, n_sym_words, n_stop, rule_bits, passes).
    """
    toks = tokens(F.col(text_col))
    lower_toks = tokens(F.lower(F.col(text_col)))
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    base = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("sum_wlen"),
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        .cast("long")
        .alias("n_alpha_words"),
        F.size(
            F.filter(
                toks,
                lambda t: t.contains("#") | t.contains("..."),
            )
        )
        .cast("long")
        .alias("n_sym_words"),
        F.size(F.filter(lower_toks, lambda t: F.array_contains(sw, t)))
        .cast("long")
        .alias("n_stop"),
    )
    n = F.col("n_words")
    r0 = (n >= min_words) & (n <= max_words)
    r1 = (F.col("sum_wlen") >= 3 * n) & (F.col("sum_wlen") <= 10 * n)
    r2 = F.col("n_alpha_words") * 5 >= n * 4
    r3 = F.col("n_sym_words") * 10 <= n
    r4 = F.col("n_stop") >= 2
    bits = (
        r0.cast("int")
        + r1.cast("int") * 2
        + r2.cast("int") * 4
        + r3.cast("int") * 8
        + r4.cast("int") * 16
    )
    return base.select(
        id_col,
        "n_words",
        "sum_wlen",
        "n_alpha_words",
        "n_sym_words",
        "n_stop",
        bits.cast("int").alias("rule_bits"),
        (r0 & r1 & r2 & r3 & r4).alias("passes"),
    )


def vocab_coverage(
    docs,
    targets_micros: list[int],
    text_col: str = "text",
):
    """Tokenizer-budget coverage curve: for each coverage target (in
    micros), the minimal vocabulary size — taking tokens in (count
    desc, token asc) order — whose cumulative token count reaches the
    target fraction of all tokens. THE sizing question for a tokenizer
    / embedding table ("how many types cover 99% of the corpus?"),
    answered exactly: the reach test is the integer cross-product
    cum·1e6 >= total·target in DECIMAL(38,0) (no division, no floats,
    safe past bigint at corpus scale).

    Shape: one token-grain shuffle with map-side partial counts
    collapses the corpus to vocab grain; the rank/cumsum window runs
    over vocab-sized rows (for billion-type vocabs, block the cumsum
    two-level like the global-rank layout operators); the target probe
    is a targets x vocab inequality join — targets are a handful.
    Returns (target_q, vocab_size, cum_tokens, total_tokens).
    """
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    counts = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    cum = counts.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_tokens"),
    )
    total = counts.agg(F.sum("cnt").cast("long").alias("total_tokens"))
    tdf = spark.createDataFrame(
        [(int(t),) for t in targets_micros], "target_q long"
    ).crossJoin(F.broadcast(total))
    hit = (
        tdf.join(
            cum,
            F.col("cum_tokens").cast("decimal(38,0)") * 1_000_000
            >= F.col("total_tokens").cast("decimal(38,0)") * F.col("target_q"),
        )
        .groupBy("target_q", "total_tokens")
        .agg(F.min("rnk").cast("long").alias("vocab_size"))
    )
    return hit.join(cum, hit["vocab_size"] == cum["rnk"]).select(
        "target_q", "vocab_size", "cum_tokens", "total_tokens"
    )


def perplexity_score(
    docs,
    is_reference,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """CCNet-style perplexity quality filter (Wenzek et al. 2020): a
    bigram LM trains on a clean REFERENCE slice and every corpus
    document is scored by its mean negative log-likelihood under that
    model — the canonical "keep what looks like the reference
    distribution" gate (head/middle/tail bucketing is a consumer
    threshold on ``npl_q``). Differs from ``bigram_logprob`` (which
    self-scores for intra-corpus ranking) by the train/score split:
    reference-trained scoring is what makes the number a QUALITY
    signal rather than a typicality one.

    Model: add-one smoothing over the reference vocabulary,
    ``P(w2|w1) = (C_ref(w1,w2)+1) / (C_ref(w1)+V_ref)`` — bigrams and
    heads unseen in the reference coalesce to 0 (P = 1/(c1+V), the
    add-one unseen mass). Each ``ln P`` floors to micros (floor is
    toward -inf both engines — required for negative logs); the
    per-doc sum is order-free bigint; ``npl_q = (−Σ) div n_bigrams``
    is non-negative so trunc == floor.

    100 TB shape: same as bigram_logprob — doc bigrams reduce map-side
    to (doc, w1, w2, n) and STAGE once; LM tables are reference-vocab
    bounded; the score join shuffles on (w1, w2). Returns
    (id, n_bigrams, logprob_sum_micros, npl_q), npl NULL under 2
    tokens.
    """
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    toks = tokens(F.lower(F.col(text_col)))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = docs.select(
        F.col(id_col), is_reference.alias("__ref"), F.explode(bigrams).alias("bg")
    ).select(id_col, "__ref", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    doc_bg = stage_to_parquet(
        pairs.groupBy(id_col, "__ref", "w1", "w2").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "ppl-doc-bg",
    )
    ref = doc_bg.filter(F.col("__ref"))
    lm_bg = ref.groupBy("w1", "w2").agg(F.sum("n").cast("long").alias("c12"))
    lm_uni = ref.groupBy("w1").agg(F.sum("n").cast("long").alias("c1"))
    vocab = (
        ref.select(F.col("w1").alias("w"))
        .unionByName(ref.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    lp = F.floor(
        F.log(
            (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
        )
        * F.lit(1_000_000.0)
    ).cast("long")
    scored = (
        doc_bg.join(lm_bg, ["w1", "w2"], "left")
        .join(lm_uni, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.sum(lp * F.col("n")).cast("long").alias("logprob_sum_micros"),
        )
    )
    empties = (
        docs.select(id_col)
        .join(scored.select(id_col), id_col, "left_anti")
        .select(
            id_col,
            F.lit(0).cast("long").alias("n_bigrams"),
            F.lit(0).cast("long").alias("logprob_sum_micros"),
        )
    )
    return scored.unionByName(empties).select(
        id_col,
        "n_bigrams",
        "logprob_sum_micros",
        F.when(
            F.col("n_bigrams") > 0,
            F.expr("(-logprob_sum_micros) div n_bigrams"),
        )
        .cast("long")
        .alias("npl_q"),
    )


def _word_substrings(w: Column, max_len: int) -> Column:
    """All substrings of ``w`` with length 1..max_len (with duplicates,
    one per start position) — the unigram seed-piece enumeration, as a
    pure array expression."""
    return F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.length(w)),
                lambda i: F.transform(
                    F.sequence(F.lit(1), F.lit(max_len)),
                    lambda l: F.when(
                        i + l - 1 <= F.length(w), w.substr(i, l)
                    ),
                ),
            )
        ),
        lambda p: p.isNotNull(),
    )


def _viterbi_bp(w: Column, pmap: Column, max_len: int) -> Column:
    """Viterbi forward DP of ``w`` under the piece→lp_q map — the
    unigram-LM decode (Kudo 2018), as a pure array fold (no UDF):

    1. forward DP over positions 1..len(w): best[i] = max over piece
       lengths l (1..max_len, piece in map) of best[i-l] + lp_q(piece),
       ties broken toward the LONGEST piece; bp[i] records the chosen
       length. Single chars are always in the vocabulary, so best[i]
       is never null.
    2. (``_walk_pieces``) backward walk from len(w) collecting the
       chosen pieces.

    Scores are exact bigint sums of the floored-ln micro likelihoods,
    so the DP (and every tie) replays identically in the oracle's
    recursive CTE. Returns the backpointer list (array<int>; order of
    the reconstructed pieces is irrelevant to the consumers — usage
    counts and piece counts)."""
    n = F.length(w)

    def step(acc, i):
        cands = []
        for l in range(max_len, 0, -1):
            piece = w.substr(i - F.lit(l - 1), F.lit(l))
            # try_element_at: a missing map key must yield NULL (ANSI
            # element_at throws MAP_KEY_DOES_NOT_EXIST)
            lp = F.try_element_at(pmap, piece)
            prev = F.element_at(acc["best"], i - F.lit(l - 1))
            cands.append(
                F.when((F.lit(l) <= i) & lp.isNotNull(), prev + lp)
            )
        # greatest() needs >= 2 args; max_len == 1 degrades to pure
        # char segmentation with a single candidate per position
        sc = cands[0] if len(cands) == 1 else F.greatest(*cands)
        # cands[0] is l = max_len .. cands[-1] is l = 1; first equal
        # (longest) wins — NULL comparisons fall through
        chain = F.when(cands[0] == sc, F.lit(max_len))
        for k in range(1, max_len - 1):
            chain = chain.when(cands[k] == sc, F.lit(max_len - k))
        bp = chain.otherwise(F.lit(1))
        return F.struct(
            F.concat(acc["best"], F.array(sc)).alias("best"),
            F.concat(acc["bp"], F.array(bp)).alias("bp"),
        )

    return F.aggregate(
        F.sequence(F.lit(1), n),
        F.struct(
            F.array(F.lit(0).cast("long")).alias("best"),
            F.array().cast("array<int>").alias("bp"),
        ),
        step,
    )["bp"]


def _walk_pieces(w: Column, bp: Column) -> Column:
    """Backward walk over a Viterbi backpointer list: collect the
    chosen pieces from position len(w) down. Split from the forward DP
    so the (large) DP expression is planned ONCE as its own projection
    instead of being re-inlined into every walk step."""
    n = F.length(w)

    def walk(acc, _):
        l = F.element_at(bp, acc["pos"])
        piece = w.substr(acc["pos"] - l + 1, l)
        return F.when(
            acc["pos"] > 0,
            F.struct(
                (acc["pos"] - l).alias("pos"),
                F.concat(acc["pieces"], F.array(piece)).alias("pieces"),
            ),
        ).otherwise(acc)

    return F.aggregate(
        F.sequence(F.lit(1), n),
        F.struct(
            n.alias("pos"), F.array().cast("array<string>").alias("pieces")
        ),
        walk,
    )["pieces"]


def _viterbi_pieces(df, w_col: str, pmap_col: str, max_len: int, out: str):
    """DataFrame-level Viterbi: forward DP to a backpointer COLUMN,
    then the backward walk over that column — two projections, so the
    DP subtree is never duplicated inside the walk fold."""
    return df.withColumn(
        "__bp", _viterbi_bp(F.col(w_col), F.col(pmap_col), max_len)
    ).withColumn(out, _walk_pieces(F.col(w_col), F.col("__bp"))).drop(
        "__bp", pmap_col
    )


def unigram_train(
    docs,
    vocab_multi: int = 48,
    rounds: int = 2,
    max_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    return_model: bool = False,
    min_count: int = 1,
):
    """SentencePiece-style unigram-LM tokenizer trainer (Kudo 2018),
    reduced to its deterministic hard-EM form — ``bpe_train``'s twin
    for the other dominant public tokenizer family:

    1. SEED: every substring of the word histogram up to ``max_len``
       chars, frequency-weighted (one corpus pass builds the word
       histogram; everything after is vocab-sized);
    2. EM (``rounds`` hard-EM iterations): E-step Viterbi-segments
       every histogram word under the current piece likelihoods
       (exact bigint DP, longest-piece ties); M-step re-estimates
       lp_q = floor(ln((usage+1)/(total+V))·1e6) over the FULL seed
       (add-one smoothing keeps unused pieces finite — the
       bigram_logprob idiom);
    3. PRUNE to the target: all single chars (coverage guarantee)
       plus the top ``vocab_multi`` multi-char pieces by final usage
       (piece-asc ties), with the serving lp_q re-normalized over the
       pruned vocabulary.

    Returns (piece, is_char, usage, lp_q) — the final model;
    ``unigram_apply`` segments documents under it. 100 TB shape: the
    CORPUS-sized work is exactly one pass (the word histogram, with
    map-side partial counts); the histogram is CORPUS-VOCABULARY-sized
    — unbounded on web-scale text (URLs, typos, numbers) — so
    ``min_count`` floors it BEFORE the fit: words rarer than the floor
    are dropped from the histogram (SentencePiece's
    ``--minloglevel``-era ``min_frequency`` guard), bounding the
    single-Arrow-batch EM input to the heavy-tail head. Only with that
    floor does the fit run safely as ONE Arrow batch on one executor —
    the single-node-trainer-over-distributed-histogram shape
    SentencePiece deployments use on Spark. The default ``min_count=1``
    keeps every word (exactly the historical behavior; fine at test
    scales); a 100 TB deployment sets it high enough that the floored
    histogram fits one executor. Expressing the EM rounds
    as per-round DataFrame plans instead re-embeds the (large) DP
    expression once per consumer and pays ~10 shuffle round-trips of
    scheduling latency for tens of rows — measured 5-8x slower at
    every SF than the one-batch fit."""
    import math

    import pandas as pd

    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    hist = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    if min_count > 1:
        # the histogram floor: applied AFTER the exact count (map-side
        # partial aggregation still bounds the shuffle), BEFORE the
        # one-batch fit — this is what bounds the fit's input size
        hist = hist.filter(F.col("cnt") >= min_count)
    hist = stage_to_parquet(hist.coalesce(4), "uni-hist")

    def lp_table(counts: dict, total: int, v: int) -> dict:
        # identical IEEE tree to the DuckDB oracle:
        # floor(ln((c + 1) / (total + V)) * 1e6)
        return {
            p: math.floor(math.log((c + 1) / (total + v)) * 1e6)
            for p, c in counts.items()
        }

    def viterbi(w: str, lp: dict) -> list:
        n = len(w)
        best = [0] * (n + 1)
        bp = [0] * (n + 1)
        for i in range(1, n + 1):
            sc = None
            ch = 1
            # l descending: first strict improvement wins, so equal
            # scores keep the LONGEST piece (the oracle's CASE order)
            for l in range(min(max_len, i), 0, -1):
                q = lp.get(w[i - l:i])
                if q is None:
                    continue
                cand = best[i - l] + q
                if sc is None or cand > sc:
                    sc = cand
                    ch = l
            best[i] = sc
            bp[i] = ch
        pieces = []
        i = n
        while i > 0:
            l = bp[i]
            pieces.append(w[i - l:i])
            i -= l
        return pieces

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        words = list(zip(pdf["w"].tolist(), pdf["cnt"].tolist()))
        seed: dict = {}
        for w, cnt in words:
            for i in range(len(w)):
                for l in range(1, max_len + 1):
                    if i + l <= len(w):
                        p = w[i:i + l]
                        seed[p] = seed.get(p, 0) + cnt
        v = len(seed)
        lp = lp_table(seed, sum(seed.values()), v)
        usage: dict = {}
        for r in range(rounds):
            usage = {}
            for w, cnt in words:
                for p in viterbi(w, lp):
                    usage[p] = usage.get(p, 0) + cnt
            if r < rounds - 1:
                ut = sum(usage.values())
                lp = {
                    p: math.floor(
                        math.log((usage.get(p, 0) + 1) / (ut + v)) * 1e6
                    )
                    for p in seed
                }
        chars = sorted(p for p in seed if len(p) == 1)
        multi = sorted(
            (p for p in seed if len(p) > 1),
            key=lambda p: (-usage.get(p, 0), p),
        )[:vocab_multi]
        kept = multi + chars
        kt = sum(usage.get(p, 0) for p in kept)
        kv = len(kept)
        return pd.DataFrame(
            {
                "piece": kept,
                "is_char": [len(p) == 1 for p in kept],
                "usage": [usage.get(p, 0) for p in kept],
                "lp_q": [
                    math.floor(
                        math.log((usage.get(p, 0) + 1) / (kt + kv)) * 1e6
                    )
                    for p in kept
                ],
            }
        )

    model = stage_to_parquet(
        hist.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(
            lambda pdf: fit(pdf),
            schema="piece string, is_char boolean, usage long, lp_q long",
        ),
        "uni-model",
    )
    if return_model:
        return model
    return model.select("piece", "is_char", "usage", "lp_q")


def unigram_apply(
    docs,
    vocab_multi: int = 48,
    rounds: int = 2,
    max_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    model=None,
):
    """Per-document token budget under the trained unigram model —
    ``bpe_apply``'s twin: train (or reuse via ``model`` — the
    build-once lifecycle hook) the pruned unigram vocabulary,
    Viterbi-segment every DISTINCT word once (vocab-sized DP), and
    charge each document the sum of its words' piece counts. Returns
    (id_col, n_words, n_unigram_tokens); docs with no tokens score
    (0, 0)."""
    from rat_strain_loader_pipeline_spark.staging import stage_to_parquet

    if model is None:
        model = unigram_train(
            docs,
            vocab_multi=vocab_multi,
            rounds=rounds,
            max_len=max_len,
            text_col=text_col,
            id_col=id_col,
            return_model=True,
        )
    voc = model.select("piece", "lp_q")
    dw = stage_to_parquet(
        docs.select(
            F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
        )
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).cast("long").alias("n")),
        "uni-docwords",
    )
    wp = (
        dw.select("w").distinct()
        .select(
            "w", F.explode(F.array_distinct(_word_substrings(F.col("w"), max_len))).alias("piece")
        )
        .join(voc, "piece")
        .groupBy("w")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("piece", "lp_q"))
            ).alias("pmap")
        )
    )
    wn = _viterbi_pieces(wp, "w", "pmap", max_len, "pieces").select(
        "w", F.size("pieces").cast("long").alias("n_pieces")
    )
    # LEFT join + char-count fallback: with a REUSED model= (the
    # staleness-monitor path) a word none of whose substrings are in
    # the serving vocabulary never reaches wp/wn — an inner join would
    # silently drop it from BOTH counts; instead it falls back to one
    # piece per character (the standard char/byte-fallback convention,
    # matching what the Viterbi walk itself does for uncovered
    # positions). With a model trained on the same corpus every char
    # is in-vocab, so this branch never fires and no value changes.
    scored = (
        dw.join(wn, "w", "left")
        .withColumn(
            "n_pieces",
            F.coalesce(F.col("n_pieces"), F.length("w").cast("long")),
        )
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.col("n_pieces")).cast("long").alias("n_unigram_tokens"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_unigram_tokens", F.lit(0)).cast("long").alias("n_unigram_tokens"),
        )
    )
