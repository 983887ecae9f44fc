"""Protein-consequence engine (X8-X17) — the reference's
VariantPostProcessing per-(variant, transcript) computation re-expressed
as: broadcast dimension joins + ONE Arrow-batched mapInPandas pass.

Faithful to VariantPostProcessing.java:
- processFeatures        :288-364  (location label, splice flags, W1 order)
- processTranscript      :370-509  (UTR clip, rel pos, mutation, strand)
- handleTranslatedProtein:511-551  (AA, syn status, frameshift)
- handleUTRs             :553-587  (3'/5' clipping with -1 removal marks)
- reverseComplement      :589-610, translate :612-754

Semantics notes (all deliberate, matching the Java):
- features are consumed ordered by (object_name, start_pos, stop_pos), so
  '3UTRS' < '5UTRS' < 'EXONS' — UTRs register before exons (W1);
- the splice-site window is ±10 bp applied at exon-ADD time: start
  checked unless it's the first exon, stop checked unless the exon index
  equals the total exon count;
- "in exon" for the location label needs full cover (start<=vs, stop>=ve)
  but the relative-position scan needs stop STRICTLY > var stop;
- multiple UTR rows: the LAST 3'/5' UTR row wins (plain field overwrite);
- strand '-' swaps the UTRs BEFORE clipping, flips relpos AFTER mutation;
- truncation to %3 happens after mutation; a variant trimmed out
  (relpos < 1 or AA pos beyond either translation) degrades to a
  location-only row, like the Java returning false → minimal insert.

Scale: the gene/transcript/feature dimension tables broadcast (1e4-1e5
rows/assembly); the FASTA dict broadcasts once (rat genome ~2.8 GB —
executor-memory sized; for 100 TB corpora swap in the block-table
equi-join, ``variant_transcript_consequences_blocks``). The variant side
streams through mapInPandas with no shuffle at all — output
partitioning == input partitioning (partition by (map_key, chromosome)
upstream).

The blocks path aggregates the features table by transcript in one
groupBy that yields each transcript's sequence span and its sorted
feature array; the array rides through the span extraction to the pair
join. Every dims-sized broadcast side (genes ⋈ transcripts, the sorted
features, the span aggregate) is built over one ``one_task_build``
partition, inside the job that consumes it. Its ``_SpanSeq`` view
reports ``len()`` as the span's last genome position
(``off + len(seq)``), which clamps every in-span read exactly as the
chromosome length does on the broadcast path.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from rat_strain_loader_pipeline_spark.functions.dna import (
    reverse_complement_str,
    translate_dna_str,
)
from rat_strain_loader_pipeline_spark.operators.interval_join import one_task_build
from rat_strain_loader_pipeline_spark.sources.fasta import get_dna_chunk

VT_OUTPUT_SCHEMA = (
    "variant_rgd_id long, transcript_rgd_id int, ref_aa string, var_aa string, "
    "syn_status string, location_name string, near_splice_site string, "
    "full_ref_aa_pos int, full_ref_nuc_pos int, triplet_error string, "
    "full_ref_aa string, full_ref_nuc string, frameshift string, map_key int"
)


@dataclass
class ConsequenceResult:
    ref_aa: str | None = None
    var_aa: str | None = None
    syn_status: str | None = None
    location_name: str | None = None
    near_splice_site: str = "F"
    full_ref_aa_pos: int | None = None
    full_ref_nuc_pos: int | None = None
    triplet_error: str | None = None
    full_ref_aa: str | None = None
    full_ref_nuc: str | None = None
    frameshift: str | None = None


def compute_consequence(
    var_start: int,
    var_stop: int,
    ref_nuc: str | None,
    var_nuc: str | None,
    is_non_coding: bool,
    features: list[tuple[str, str, int, int]],
    seqs: dict[str, str],
    chrom: str,
) -> ConsequenceResult:
    """Pure-Python consequence for one (variant, transcript) pair.

    ``features``: (object_name, strand, start_pos, stop_pos) sorted by
    (object_name, start_pos, stop_pos) — the W1 order.
    """
    r = ConsequenceResult()

    # ---- processFeatures (:288-364)
    strand = None
    three_utr: tuple[int, int] | None = None
    five_utr: tuple[int, int] | None = None
    exons: list[list[int]] = []
    total_exon_count = sum(1 for f in features if f[0] == "EXONS")
    location: str | None = None
    in_exon = False

    for object_name, f_strand, f_start, f_stop in features:
        strand = f_strand
        if object_name == "3UTRS":
            three_utr = (f_start, f_stop)
        elif object_name == "5UTRS":
            five_utr = (f_start, f_stop)
        elif object_name == "EXONS":
            exons.append([f_start, f_stop])
            if len(exons) != 1 and (f_start - 10 <= var_start) and (f_start + 10 >= var_stop):
                r.near_splice_site = "T"
            if len(exons) != total_exon_count and (f_stop - 10 <= var_start) and (
                f_stop + 10 >= var_stop
            ):
                r.near_splice_site = "T"

        if f_start <= var_start and f_stop >= var_stop:
            if object_name in ("5UTRS", "3UTRS"):
                location = f"{location},{object_name}" if location else object_name
            if object_name == "EXONS" and not in_exon:
                location = f"{location},EXON" if location else "EXON"
                in_exon = True

    if not in_exon:
        location = f"{location},INTRON" if location else "INTRON"

    if not in_exon or is_non_coding:
        if is_non_coding:
            location = f"{location},NON-CODING" if location else "NON-CODING"
        r.location_name = location
        return r  # minimal row (location + splice only)

    r.location_name = location

    # ---- processTranscript (:370-509)
    if strand == "-":
        three_utr, five_utr = five_utr, three_utr

    # handleUTRs (:553-587): clip exons in place, -1 marks removal
    for feature in exons:
        if three_utr is not None:
            if feature[1] < three_utr[0]:
                pass
            elif feature[0] < three_utr[0]:
                feature[1] = three_utr[0] - 1
            else:
                feature[0] = feature[1] = -1
        if five_utr is not None:
            if feature[0] > five_utr[1]:
                pass
            elif feature[1] > five_utr[1]:
                feature[0] = five_utr[1] + 1
            else:
                feature[0] = feature[1] = -1

    # relative position (:389-405) — NOTE strict stop > var_stop
    rel_pos = 0
    found_in_exon = False
    for f_start, f_stop in exons:
        if f_start == -1:
            continue
        if f_start <= var_start and f_stop > var_stop:
            found_in_exon = True
            rel_pos += var_start - (f_start - 1)
            break
        rel_pos += (f_stop - f_start) + 1

    if not found_in_exon:
        # variant in an exon's UTR (non-protein-coding) part → location row
        return r

    ref_dna_parts = []
    for f_start, f_stop in exons:
        if f_start == -1:
            continue
        ref_dna_parts.append(get_dna_chunk(seqs, chrom, f_start, f_stop))
    ref_dna = "".join(ref_dna_parts)
    var_dna = ref_dna.lower()

    # mutation (:427-445)
    i = rel_pos - 1
    if var_nuc is None or "-" in var_nuc:
        deletion_length = 1 if var_nuc is None else len(var_nuc)
        var_dna = var_dna[:i] + var_dna[i + deletion_length :]
    elif ref_nuc is None or "-" in ref_nuc:
        var_dna = var_dna[:i] + var_nuc + var_dna[i:]
    elif len(ref_nuc) == 1 and len(var_nuc) > 1:
        var_dna = var_dna[: rel_pos] + var_nuc[1:] + var_dna[rel_pos:]
    elif len(ref_nuc) != 1 or len(var_nuc) != 1:
        deletion_length = var_stop - var_start
        var_dna = var_dna[:i] + var_nuc + var_dna[i + deletion_length :]
    else:
        var_dna = var_dna[:i] + var_nuc[0] + var_dna[i + 1 :]

    ref_dna = ref_dna.lower()

    if strand == "-":
        rel_pos = len(ref_dna) - rel_pos + 1
        ref_dna = reverse_complement_str(ref_dna)
        var_dna = reverse_complement_str(var_dna)

    # triplet error + truncate (:465-489)
    triplet_error = "F"
    if len(ref_dna) % 3 != 0:
        triplet_error = "T"
        ref_dna = ref_dna[: len(ref_dna) - len(ref_dna) % 3]
    if len(var_dna) % 3 != 0:
        var_dna = var_dna[: len(var_dna) - len(var_dna) % 3]

    if rel_pos < 1:
        return r  # SKIPPED: trimmed out → minimal row

    # handleTranslatedProtein (:511-551)
    ref_aa_seq = translate_dna_str(ref_dna)
    var_aa_seq = translate_dna_str(var_dna)
    pos = 1 + (rel_pos - 1) // 3
    if not (0 < pos <= len(ref_aa_seq) and pos <= len(var_aa_seq)):
        return r  # beyond truncated transcript → minimal row

    l_ref = ref_aa_seq[pos - 1]
    l_var = var_aa_seq[pos - 1]
    syn = "synonymous" if l_ref == l_var else "nonsynonymous"
    if l_ref == "X" or l_var == "X":
        syn = "unassignable"
    r.ref_aa = l_ref
    r.var_aa = l_var
    r.syn_status = syn
    r.full_ref_aa_pos = pos
    r.full_ref_nuc_pos = rel_pos
    r.triplet_error = triplet_error
    r.full_ref_aa = ref_aa_seq
    r.full_ref_nuc = ref_dna
    r.frameshift = "T" if abs(len(ref_dna) - len(var_dna)) % 3 != 0 else "F"
    return r


def _candidate_spine(
    variants: DataFrame,
    genes: DataFrame,
    transcripts: DataFrame,
) -> DataFrame:
    """Shared join spine, NARROW rows only: F4 filter, then J1 gene
    interval probe and J2 transcripts in ONE broadcast join: genes ⋈
    transcripts is a merge join of two ``one_task_build`` sides, built
    inside the broadcast job that ships it. The per-transcript feature arrays
    join later (``_sorted_feats``), after the pair-level dedup and
    store anti-join have settled which pairs actually compute — so
    neither of those exchanges carries the collected arrays. (The blocks
    path's optional ``repartition_to`` exchange comes after that join and
    does carry them, with the span text.)"""
    # F4: multi-allelic skip (VariantPostProcessing.java:202-203)
    v = variants.filter(
        F.col("var_nuc").isNull() | ~F.col("var_nuc").contains(",")
    ).select(
        F.col("rgd_id").alias("variant_rgd_id"),
        F.col("chromosome"),
        F.col("start_pos"),
        F.col("end_pos"),
        F.col("ref_nuc"),
        F.col("var_nuc"),
    )

    g = genes.filter(F.col("object_status") == "ACTIVE").select(
        F.col("gene_rgd_id"),
        F.col("chromosome").alias("g_chr"),
        F.col("start_pos").alias("g_start"),
        F.col("stop_pos").alias("g_stop"),
    )
    # J2, built inside J1's broadcast job
    t = transcripts.select("transcript_rgd_id", "gene_rgd_id", "is_non_coding_ind")
    gt = one_task_build(g).hint("merge").join(one_task_build(t), "gene_rgd_id")
    # J1 (gene probe uses the variant START only, GeneCache.getGeneRgdIds(varStart))
    return v.join(
        broadcast(gt),
        (v["chromosome"] == gt["g_chr"])
        & (v["start_pos"] >= gt["g_start"])
        & (v["start_pos"] <= gt["g_stop"]),
    ).drop("g_chr", "g_start", "g_stop")


def _sorted_feats():
    """J3 + W1 aggregate: a transcript's features collected and sorted by
    (object_name, start_pos, stop_pos), as column ``feats``."""
    return F.sort_array(
        F.collect_list(
            F.struct(
                F.col("object_name"),
                F.col("start_pos"),
                F.col("stop_pos"),
                F.col("strand"),
            )
        )
    ).alias("feats")


def _features_sorted(features: DataFrame) -> DataFrame:
    """Features collected per transcript (``_sorted_feats``), aggregated
    over one ``one_task_build`` partition, so the aggregate runs inside
    the broadcast job that ships it."""
    return (
        one_task_build(features.filter(F.col("chromosome").isNotNull()))
        .groupBy("transcript_rgd_id")
        .agg(_sorted_feats())
    )


_VT_COLUMNS = [
    "variant_rgd_id", "transcript_rgd_id", "ref_aa", "var_aa",
    "syn_status", "location_name", "near_splice_site",
    "full_ref_aa_pos", "full_ref_nuc_pos", "triplet_error",
    "full_ref_aa", "full_ref_nuc", "frameshift", "map_key",
]


def _consequence_runner(seqs_for_row, map_key: int):
    """Build the mapInPandas closure; ``seqs_for_row(row)`` supplies the
    sequence accessor (broadcast dict or per-row span view)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the feature array is identical for every variant of a
        # transcript — convert Arrow structs → tuples once per
        # (batch, transcript), not once per row
        feats_memo: dict[int, list[tuple[str, str, int, int]]] = {}
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                tid = int(row.transcript_rgd_id)
                feats_list = feats_memo.get(tid)
                if feats_list is None:
                    feats_list = [
                        (f["object_name"], f["strand"], int(f["start_pos"]), int(f["stop_pos"]))
                        for f in row.feats
                    ]
                    feats_memo[tid] = feats_list
                res = compute_consequence(
                    int(row.start_pos),
                    int(row.end_pos),
                    row.ref_nuc,
                    row.var_nuc,
                    row.is_non_coding_ind == "Y",
                    feats_list,
                    seqs_for_row(row),
                    row.chromosome,
                )
                out.append(
                    (
                        int(row.variant_rgd_id),
                        int(row.transcript_rgd_id),
                        res.ref_aa,
                        res.var_aa,
                        res.syn_status,
                        res.location_name,
                        res.near_splice_site,
                        res.full_ref_aa_pos,
                        res.full_ref_nuc_pos,
                        res.triplet_error,
                        res.full_ref_aa,
                        res.full_ref_nuc,
                        res.frameshift,
                        map_key,
                    )
                )
            yield pd.DataFrame(out, columns=_VT_COLUMNS)

    return run


def _pair_scope(spine: DataFrame, verify_against: DataFrame | None) -> DataFrame:
    """W5 batch dedup (VariantTranscriptBatch.java:29-49) + J6 store
    anti-join, applied to the NARROW candidate pairs BEFORE the Python
    stage. The consequence ``mapInPandas`` emits exactly one output row
    per input row, computed as a pure function of that row, and
    duplicate (variant, transcript) pairs carry identical attribute
    columns (a transcript has one gene; variant/feature attributes ride
    the keys) — so pair-key dedup and the pair-key anti-join commute
    with the map: the surviving pair set and every output value are
    identical to running them after it. What moves: the dedup exchange
    now carries ~60 bytes/row instead of the full VT row (whose
    full_ref_aa/full_ref_nuc hold whole translated transcripts), the
    store anti-join stops shuffling UDF output, and rows the store
    already holds never cross the Python boundary at all (guide §8:
    decide with small rows, compute heavy things once)."""
    out = spine.dropDuplicates(["variant_rgd_id", "transcript_rgd_id"])
    if verify_against is not None:  # J6
        out = out.join(
            verify_against.select("variant_rgd_id", "transcript_rgd_id"),
            on=["variant_rgd_id", "transcript_rgd_id"],
            how="left_anti",
        )
    return out


def variant_transcript_consequences(
    variants: DataFrame,
    genes: DataFrame,
    transcripts: DataFrame,
    features: DataFrame,
    fasta_broadcast,
    map_key: int,
    verify_against: DataFrame | None = None,
    repartition_to: int | None = None,
) -> DataFrame:
    """The full post-processing dataflow (SURVEY.md §3.3 Spark shape):

    variants ⋈ genes(interval, broadcast) ⋈ transcripts(broadcast)
             ⋈ features(collected+sorted, broadcast)
             → mapInPandas(consequence) → dropDuplicates (W5)
             [→ anti-join existing VT (J6)]

    ``variants``: rgd_id, chromosome, start_pos, end_pos, ref_nuc, var_nuc.
    ``fasta_broadcast``: SparkContext.broadcast of {chr: seq}.
    ``repartition_to``: spread the per-pair Python stage over N
    partitions — set it when the variant side arrives on few partitions
    (e.g. AQE-coalesced after a small aggregate); leave None when the
    input already carries (map_key, chromosome)-sized partitioning.
    Returns VT rows incl. full_ref_aa / full_ref_nuc (sequence-key dedup
    X18 happens in pipelines.postprocess).

    For genomes too large to broadcast, use
    :func:`variant_transcript_consequences_blocks`.
    """
    from rat_strain_loader_pipeline_spark.ship import ensure_shipped

    ensure_shipped(variants.sparkSession)

    spine = _pair_scope(
        _candidate_spine(variants, genes, transcripts), verify_against
    )
    if repartition_to:
        spine = spine.repartition(repartition_to)
    # feature arrays attach AFTER the repartition (broadcast join keeps
    # the partitioning), so no exchange carries them
    joined = spine.join(broadcast(_features_sorted(features)), "transcript_rgd_id")

    run = _consequence_runner(lambda row: fasta_broadcast.value, map_key)
    return joined.mapInPandas(run, schema=VT_OUTPUT_SCHEMA)


class _SpanSeq:
    """String-like view of one chromosome restricted to a span
    [span_start, ...] (1-based) whose text ``seq`` is the genome's
    [span_start, min(span stop, chromosome end)]: slicing maps absolute
    coordinates into the span, and ``len()`` is the span's last genome
    position, ``off + len(seq)``. The only consumer (``get_dna_chunk``)
    reads UTR-clipped exon ranges, which lie inside the transcript's
    feature span by construction; for any read [a, b] inside the span,
    min(b, len) equals min(b, chromosome length), so reads clamp exactly
    as on the broadcast-dict path. An empty span (unknown chromosome,
    span past its end) is falsy and reads ``""`` before ``len`` is
    consulted, as an absent chromosome does there."""

    __slots__ = ("off", "seq")

    def __init__(self, span_start: int, seq: str):
        self.off = span_start - 1
        self.seq = seq

    def __len__(self) -> int:
        return self.off + len(self.seq)

    def __bool__(self) -> bool:
        return bool(self.seq)

    def __getitem__(self, sl: slice) -> str:
        return self.seq[max(sl.start - self.off, 0) : max(sl.stop - self.off, 0)]


def variant_transcript_consequences_blocks(
    variants: DataFrame,
    genes: DataFrame,
    transcripts: DataFrame,
    features: DataFrame,
    blocks: DataFrame,
    map_key: int,
    verify_against: DataFrame | None = None,
    repartition_to: int | None = None,
    block_size: int = 100_000,
    span_flank: int = 50,
) -> DataFrame:
    """Broadcast-free consequence — the 100 TB genome path.

    Instead of broadcasting {chr: seq}, each transcript's sequence SPAN
    ([min feature start − flank, max feature stop + flank]) is extracted
    from the ``fasta_blocks`` table via the distributed equi-join
    (sources/fasta.dna_chunks) and joined onto the candidate pairs; the
    UDF reads exon chunks through a ``_SpanSeq`` view, so output is
    IDENTICAL to the broadcast path (equivalence-tested). Span bytes
    shipped = Σ transcript spans, not genome × executors.

    One groupBy of the features by transcript yields the span's
    chromosome, start and stop together with the sorted feature array
    (W1), and ``dna_chunks`` carries that array through to the spine
    join, so the ``repartition_to`` exchange, when asked for, carries
    each pair's feature array along with its span text. The groupBy
    runs over a ``one_task_build`` partition: ``dna_chunks`` plans it
    under both its span probe and its reassembly, and each copy is
    built inside the job that consumes it, with no shuffle job of its
    own. ``dna_chunks`` plans its blocks join by size: the
    transcript-sized probe is broadcast and the genome blocks stream,
    and a genome over the broadcast threshold is never the broadcast
    side. The inner spine join keeps exactly the pairs whose transcript
    has a feature on a chromosome, as the broadcast path's feature join
    does.
    """
    from rat_strain_loader_pipeline_spark.ship import ensure_shipped
    from rat_strain_loader_pipeline_spark.sources.fasta import dna_chunks

    ensure_shipped(variants.sparkSession)

    spine = _pair_scope(
        _candidate_spine(variants, genes, transcripts), verify_against
    )

    transcript_feats = (
        one_task_build(features.filter(F.col("chromosome").isNotNull()))
        .groupBy(F.col("transcript_rgd_id").alias("chunk_id"))
        .agg(
            F.first("chromosome").alias("chr"),
            (F.min("start_pos") - span_flank).cast("long").alias("start"),
            (F.max("stop_pos") + span_flank).cast("long").alias("stop"),
            _sorted_feats(),
        )
    )
    tseq = dna_chunks(transcript_feats, blocks, block_size=block_size).select(
        F.col("chunk_id").alias("transcript_rgd_id"),
        F.greatest(F.col("start"), F.lit(1)).alias("span_start_"),
        F.col("chunk").alias("span_seq_"),
        "feats",
    )
    joined = spine.join(tseq, "transcript_rgd_id")
    if repartition_to:
        joined = joined.repartition(repartition_to)

    def seqs_for_row(row):
        return {row.chromosome: _SpanSeq(int(row.span_start_), row.span_seq_)}

    run = _consequence_runner(seqs_for_row, map_key)
    return joined.mapInPandas(run, schema=VT_OUTPUT_SCHEMA)
