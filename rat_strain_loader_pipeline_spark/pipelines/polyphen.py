"""PolyPhen-2 round trip (--tool Polyphen export, PolyphenLoader import).

Export (Polyphen.java:106-372): a 5-way join (J8) selects nonsynonymous
exonic variants (F10 candidate predicate, :156-159) and writes three
files per (gene, assembly): the PolyPhen input (``acc pos aa1 aa2``,
space-separated), an info TSV binding each input line back to
(variant_id, transcript, strand), and a 70-char-wrapped FASTA of the
protein. The input-line shuffle for cluster balance (Polyphen2.java:
89-96) is a scheduling hack — unnecessary under Spark.

Import (PolyphenLoader.java:85-210):
- 55-column result TSV parsed by position (named subset, :110-169);
- J13 swapped-AA reject (:171-180): (o_aa1,o_aa2)==(var,ref) means the
  FASTA-derived transcript differs from the annotation → drop;
- J12 consume-once match (:182-195, extractInfo :321-343): each result
  row binds ONE info row with the same (protein_acc, pos, aa1, aa2) and
  removes it — duplicate results bind distinct info rows. Spark-first:
  row_number() on both sides partitioned by the key, join on key+rank.

The external PolyPhen-2 binary is out of scope — the file interface is
the contract (mocked in tests).

PolyphenLoader2 (PolyphenLoader2.java:80-210) parses the same 55-column
TSV with a wider named-column subset into a sample-keyed table — the
positional parse here (``parse_polyphen_results``, POLYPHEN_RESULT_COLS)
covers both loaders; widening the subset is adding dict entries.
PolyphenFasta is ``polyphen_fasta_for_missing`` below.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rat_strain_loader_pipeline_spark.operators.interval_join import one_task_build


def polyphen_candidates(
    variant: DataFrame,
    variant_map_data: DataFrame,
    variant_transcript: DataFrame,
    transcripts: DataFrame,
    genes: DataFrame,
) -> DataFrame:
    """J8 export join + F10 predicate (Polyphen.java:148-165).

    Candidate: ref_aa <> var_aa, var_aa <> '*', ref/var nuc single ACGT,
    both AAs present. Transcripts ⋈ genes is ONE broadcast side: a merge
    join of two ``one_task_build`` sides, built inside the broadcast job
    that ships it.
    """
    t = one_task_build(transcripts).alias("t")
    g = one_task_build(genes).alias("g")
    tg = t.hint("merge").join(g, F.col("g.gene_rgd_id") == F.col("t.gene_rgd_id"))
    j = (
        variant_transcript.alias("vt")
        .join(variant.alias("v"), F.col("vt.variant_rgd_id") == F.col("v.rgd_id"))
        .join(
            variant_map_data.alias("vmd"),
            (F.col("vmd.rgd_id") == F.col("v.rgd_id"))
            & (F.col("vmd.map_key") == F.col("vt.map_key")),
        )
        .join(
            F.broadcast(tg),
            F.col("t.transcript_rgd_id") == F.col("vt.transcript_rgd_id"),
        )
    )
    cand = j.filter(
        (F.col("vt.ref_aa") != F.col("vt.var_aa"))
        & (F.col("vt.var_aa") != "*")
        & F.col("v.ref_nuc").isin("A", "C", "G", "T")
        & F.col("v.var_nuc").isin("A", "C", "G", "T")
        & F.col("vt.ref_aa").isNotNull()
        & F.col("vt.var_aa").isNotNull()
    )
    return cand.select(
        F.col("v.rgd_id").alias("variant_rgd_id"),
        F.col("vt.transcript_rgd_id").alias("transcript_rgd_id"),
        F.col("t.protein_acc_id").alias("protein_acc_id"),
        F.col("vt.full_ref_aa_pos").alias("pos"),
        F.col("vt.ref_aa").alias("ref_aa"),
        F.col("vt.var_aa").alias("var_aa"),
        F.col("g.strand").alias("strand"),
        F.col("g.gene_rgd_id").alias("gene_rgd_id"),
        F.col("vmd.chromosome").alias("chromosome"),
    )


def polyphen_input_lines(candidates: DataFrame) -> DataFrame:
    """K6 input file content: 'acc pos aa1 aa2' (space-separated)."""
    return candidates.select(
        F.concat_ws(
            " ", "protein_acc_id", F.col("pos").cast("string"), "ref_aa", "var_aa"
        ).alias("line")
    )


def wrap_fasta_70(header: Column, seq: Column) -> Column:
    """70-char-wrapped FASTA record (Polyphen.java:241-251)."""
    chunks = F.regexp_extract_all(seq, F.lit("(.{1,70})"), 1)
    return F.concat(F.lit(">"), header, F.lit("\n"), F.array_join(chunks, "\n"))


_MISSING_PROTEIN_PATTERN = "ERROR: Unable to locate protein entry "


def polyphen_fasta_for_missing(
    log_lines: DataFrame, protein_seqs: DataFrame
) -> DataFrame:
    """The PolyphenFasta tool (PolyphenFasta.java:84-152): scan PolyPhen
    run logs for 'ERROR: Unable to locate protein entry <acc> ...'
    lines, extract the DISTINCT protein acc ids (readProteinAccIds,
    :128-151, acc = token up to the next space), join their sequences
    and emit 70-char-wrapped FASTA records. Accs without a sequence are
    kept with found=false (the reference logs and skips them,
    :101-105). The reference shuffles acc order for cluster balance —
    obsolete under Spark partitioning.

    ``log_lines``: (line string). ``protein_seqs``: (protein_acc_id,
    protein_seq) — dimension-sized, broadcast.
    Returns (protein_acc_id, found, fasta|NULL).
    """
    accs = (
        log_lines.filter(F.col("line").startswith(_MISSING_PROTEIN_PATTERN))
        .select(
            F.regexp_extract(
                F.col("line"), _MISSING_PROTEIN_PATTERN + r"(\S+) ", 1
            ).alias("protein_acc_id")
        )
        .filter(F.col("protein_acc_id") != "")
        .distinct()
    )
    j = accs.join(F.broadcast(protein_seqs), "protein_acc_id", "left")
    return j.select(
        "protein_acc_id",
        F.col("protein_seq").isNotNull().alias("found"),
        F.when(
            F.col("protein_seq").isNotNull(),
            wrap_fasta_70(F.col("protein_acc_id"), F.col("protein_seq")),
        ).alias("fasta"),
    )


def flank_match_qc(
    candidates: DataFrame,
    protein_seqs: DataFrame,
    flank: int = 10,
) -> DataFrame:
    """X22 protein flank QC (Polyphen.java:205-342): the translated
    left/right flanks around the variant AA must match the annotated
    protein sequence (case-insensitive); a stop codon mid-protein rejects
    unless > 10 AA past the variant. ``candidates`` must carry
    ``full_ref_aa`` (the translated protein); ``protein_seqs``:
    (protein_acc_id, protein_seq).
    """
    j = candidates.join(F.broadcast(protein_seqs), "protein_acc_id", "left")
    p = F.col("pos")
    translated = F.upper("full_ref_aa")
    annotated = F.upper("protein_seq")
    left_t = F.substring(translated, F.greatest(p - flank, F.lit(1)).cast("int"), flank)
    left_a = F.substring(annotated, F.greatest(p - flank, F.lit(1)).cast("int"), flank)
    right_t = F.substring(translated, (p + 1).cast("int"), flank)
    right_a = F.substring(annotated, (p + 1).cast("int"), flank)
    stop_idx = F.instr(translated, "*")
    stop_ok = (stop_idx == 0) | (stop_idx > p + 10) | (stop_idx == F.length(translated))
    return j.withColumn(
        "flank_ok",
        F.col("protein_seq").isNotNull()
        & (left_t == left_a)
        & (right_t == right_a)
        & stop_ok,
    )


# ---------------------------------------------------------------- import

POLYPHEN_RESULT_COLS = {
    # name → 0-based column index in the 55-col PolyPhen-2 TSV; the full
    # named subset the reference binds (PolyphenLoader.java:116-169)
    "o_acc": 0, "o_pos": 1, "o_aa1": 2, "o_aa2": 3, "acc": 5, "pos": 6,
    "aa1": 7, "aa2": 8, "prediction": 11, "based_on": 12, "effect": 13,
    "pph2_class": 14, "pph2_prob": 15, "pph2_fpr": 16, "pph2_tpr": 17,
    "pph2_fdr": 18, "site": 19, "region": 20, "phat": 21, "score_delta": 22,
    "score1": 23, "score2": 24, "msav": 25, "num_observ": 26,
    "num_struct_init": 27, "num_struct_filt": 28, "pdb_id": 29,
    "res_num": 30, "chain_id": 31, "ali_ide": 32, "ali_len": 33,
    "acc_normed": 34, "sec_str": 35, "map_region": 36, "delta_volume": 37,
    "delta_prop": 38, "b_fact": 39, "num_h_bonds": 40, "het_cont_ave_num": 41,
    "het_cont_min_dist": 42, "inter_cont_ave_num": 43,
    "inter_cont_min_dist": 44, "sites_cont_ave_num": 45,
    "sites_cont_min_dist": 46, "transv": 47, "cod_pos": 48, "cpg": 49,
    "min_djxn": 50, "pfam_hit": 51, "id_pmax": 52, "id_psnp": 53,
    "id_qmin": 54,
}

# columns with numeric casts; everything else stays a trimmed string, as
# the reference binds them
_POLYPHEN_INT_COLS = {"o_pos", "pos"}
_POLYPHEN_DOUBLE_COLS = {"pph2_prob", "pph2_fpr", "pph2_tpr", "pph2_fdr"}


def parse_polyphen_results(raw: DataFrame) -> DataFrame:
    """raw: one 'line' column of the tab-separated result file (no header).
    Extracts the FULL named subset the reference binds
    (PolyphenLoader.java:116-169, 58-col INSERT :250-268); '' → NULL;
    numeric casts where the reference parses numbers."""
    parts = F.split(F.col("line"), "\t", -1)

    def col(name: str) -> Column:
        c = F.trim(F.get(parts, POLYPHEN_RESULT_COLS[name]))
        c = F.when(c == "", F.lit(None).cast("string")).otherwise(c)
        if name in _POLYPHEN_INT_COLS:
            return c.cast("int")
        if name in _POLYPHEN_DOUBLE_COLS:
            return c.cast("double")
        return c

    return raw.select(*[col(name).alias(name) for name in POLYPHEN_RESULT_COLS])


def load_polyphen_results(results: DataFrame, info: DataFrame) -> DataFrame:
    """J13 swapped-AA reject + J12 consume-once info match.

    ``results``: parsed result rows. ``info``: the export info table
    (variant_rgd_id, locus_name, protein_acc_id, pos, ref_aa, var_aa,
    strand, transcript_rgd_id).
    """
    # J13: (o_aa1,o_aa2) == (var,ref) → swapped → reject
    r = results.filter(
        ~((F.col("o_aa1") == F.col("aa2")) & (F.col("o_aa2") == F.col("aa1")))
    )

    key_r = ["o_acc", "o_pos", "o_aa1", "o_aa2"]
    wr = Window.partitionBy(*key_r).orderBy(F.col("pph2_prob").desc_nulls_last(), "prediction")
    r = r.withColumn("__rank", F.row_number().over(wr))

    i = info.select(
        F.col("protein_acc_id").alias("o_acc"),
        F.col("pos").cast("int").alias("o_pos"),
        F.col("ref_aa").alias("o_aa1"),
        F.col("var_aa").alias("o_aa2"),
        "variant_rgd_id", "locus_name", "strand", "transcript_rgd_id",
    )
    wi = Window.partitionBy(*key_r).orderBy("variant_rgd_id", "transcript_rgd_id")
    i = i.withColumn("__rank", F.row_number().over(wi))

    # J12: duplicate results bind DISTINCT info rows — key + rank equi-join
    out = r.join(i, on=[*key_r, "__rank"], how="inner").drop("__rank")
    return out.withColumn("protein_status", F.lit("100 PERC MATCH"))
