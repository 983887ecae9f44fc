"""Seeded input generator for the strain-load benchmark.

Writes, from ``--seed`` alone, everything the timed runs feed the tools:

- ``a.vcf`` and ``b.vcf``: multi-strain VCFs with SNVs, padded indels,
  multi-ALT lines, ``./.``, ``0/0``, bare ``.`` genotypes and ``.`` AD
  values. Batch B has its own strain names and repeats about 90% of
  batch A's sites with the same alleles;
- ``genome.fa``: the reference sequence the VCF REF columns are cut from;
- ``dims/{genes,transcripts,features}.parquet``: genes on both strands,
  1-3 transcripts per gene, exons with 5' and 3' UTRs, some genes not
  ACTIVE and some transcripts non-coding;
- ``truths.json`` and ``loaded_sites_{a,b}.parquet``: the expected
  outcomes, derived from what was written here and never from the
  program under test.

The call classes below follow the converter's and loader's documented
filters (genotype presence, multi-ALT skip, '.' AD read as zero counts,
zero-score drop), so the truths are known per written call.

Usage: python3 perfbench/gen.py --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAP_KEY = 360
CHROMS = ("1", "2", "3")
BASES = np.frombuffer(b"ACGT", dtype=np.uint8)

# Benchmark sizes: a cycle of either workload takes 10-28 s of wall time
# on 4 cores, so a full round of benchmark runs fits its time budget. The strain
# count is the one the sizing probe of the variant flow used (8 strains);
# there it drives the per-strain derive loop of VariantLoad3.
SITES = 1_500
STRAINS = 8
GENOME_LEN = 500_000
GENES_PER_CHR = 40
SHARED = 0.9  # share of batch A's sites that batch B repeats

# The call and site mixes below are ASSUMED, not measured: no real strain
# VCF is in the repository to take them from. Each class is there to
# exercise one documented branch of the converter or the loader; the
# weights only set how much of the input takes each branch.
#
# per-call genotype classes: (weight, converter keeps it, loader keeps it)
CALL_CLASSES = {
    "het": (0.27, True, True),  # kept end to end, zygosity from AD
    "hom": (0.23, True, True),  # kept end to end, zero REF reads
    "het_dot_ad": (0.05, True, False),  # AD '.' → zero counts → zero-score drop
    "ref": (0.22, False, False),  # 0/0: genotype-presence filter
    "nocall": (0.15, False, False),  # ./.: genotype-presence filter
    "dot": (0.08, False, False),  # bare '.': genotype-presence filter
}
# site kinds: SNVs (consequence and Polyphen candidates), padded deletions
# and insertions (padding adjustment, FrameShiftFixUp), multi-ALT lines
# (the converter's multi-ALT skip)
SITE_KINDS = (("snv", 0.80), ("del", 0.08), ("ins", 0.07), ("multi", 0.05))


def _genome(rng, length: int) -> bytes:
    return BASES[rng.integers(0, 4, size=length)].tobytes()


def _genes(rng):
    genes, transcripts, features = [], [], []
    gene_id, tx_id = 1000, 50_000
    # one gene per window, placed at random inside it: the genic share of
    # the genome (and so the post-processing work) stays steady across seeds
    window = (GENOME_LEN - 2_000) // GENES_PER_CHR
    for chrom in CHROMS:
        for w in range(GENES_PER_CHR):
            gene_id += 1
            span = int(rng.integers(2_000, 8_000))
            g_start = 1_000 + w * window + int(rng.integers(0, max(1, window - span)))
            g_stop = g_start + span
            strand = "+" if rng.random() < 0.5 else "-"
            status = "ACTIVE" if rng.random() < 0.9 else "WITHDRAWN"
            genes.append((gene_id, chrom, g_start, g_stop, strand, status, MAP_KEY))
            for _ in range(int(rng.integers(1, 4))):
                tx_id += 1
                non_coding = "Y" if rng.random() < 0.1 else "N"
                transcripts.append(
                    (tx_id, gene_id, non_coding, f"NM_{tx_id}", f"NP_{tx_id}")
                )
                n_exons = int(rng.integers(2, 6))
                seg = span // n_exons
                exons = []
                for i in range(n_exons):
                    lo = g_start + i * seg
                    e_start = lo + int(rng.integers(0, seg // 4))
                    e_stop = lo + seg - 1 - int(rng.integers(0, seg // 4))
                    exons.append((e_start, e_stop))
                # 5' UTR at the transcript's start, 3' UTR at its end
                first, last = exons[0], exons[-1]
                u_lo = int(rng.integers(20, min(150, first[1] - first[0] - 10)))
                u_hi = int(rng.integers(20, min(150, last[1] - last[0] - 10)))
                low_utr = (first[0], first[0] + u_lo)
                high_utr = (last[1] - u_hi, last[1])
                five, three = (low_utr, high_utr) if strand == "+" else (high_utr, low_utr)
                for name, (s, e) in [("EXONS", x) for x in exons] + [
                    ("5UTRS", five), ("3UTRS", three),
                ]:
                    features.append((tx_id, name, strand, chrom, s, e, MAP_KEY))
    return genes, transcripts, features


def _pick_kinds(rng, n: int) -> np.ndarray:
    names = np.array([k for k, _ in SITE_KINDS])
    return names[rng.choice(len(SITE_KINDS), size=n, p=[w for _, w in SITE_KINDS])]


def _alleles(rng, genome: bytes, pos: int, kind: str) -> tuple[str, str]:
    """REF/ALT for a 1-based site, REF cut from the genome; indels padded."""
    ref1 = chr(genome[pos - 1])
    others = [b for b in "ACGT" if b != ref1]
    if kind == "snv":
        return ref1, others[int(rng.integers(0, 3))]
    if kind == "multi":
        a, b = rng.choice(3, size=2, replace=False)
        return ref1, f"{others[a]},{others[b]}"
    k = int(rng.integers(1, 4))
    if kind == "del":
        return genome[pos - 1 : pos + k].decode(), ref1
    ins = "".join("ACGT"[i] for i in rng.integers(0, 4, size=k))
    return ref1, ref1 + ins


def _site_key(chrom: str, pos: int, ref: str, alt: str) -> dict:
    """The store's natural key after the converter's padding adjustment."""
    if len(ref) < len(alt):  # insertion: padding base stripped, ref NULL
        return dict(chromosome=chrom, start_pos=pos + 1, end_pos=pos + 1,
                    ref_nuc=None, var_nuc=alt[1:])
    if len(ref) > len(alt):  # deletion: var NULL
        return dict(chromosome=chrom, start_pos=pos + 1, end_pos=pos + len(ref),
                    ref_nuc=ref[1:], var_nuc=None)
    return dict(chromosome=chrom, start_pos=pos, end_pos=pos + 1, ref_nuc=ref, var_nuc=alt)


def _call(rng, cls: str, n_alt: int) -> str:
    ref_reads = int(rng.integers(0, 30))
    alt_reads = [int(rng.integers(3, 30)) for _ in range(n_alt)]
    if cls == "hom":
        ref_reads = 0
    ad = ",".join(str(x) for x in [ref_reads, *alt_reads])
    dp = ref_reads + sum(alt_reads)
    if cls == "het":
        return f"0/1:{ad}:{dp}"
    if cls == "hom":
        return f"1/1:{ad}:{dp}"
    if cls == "het_dot_ad":
        return f"0/1:.:{dp}"
    if cls == "ref":
        return f"0/0:{ad}:{dp}"
    if cls == "nocall":
        return "./.:.:."
    return "."


def _write_vcf(path, rng, sites, strains) -> dict:
    """Write one batch; returns its per-call truths."""
    cls_names = list(CALL_CLASSES)
    weights = [CALL_CLASSES[c][0] for c in cls_names]
    draws = rng.choice(len(cls_names), size=(len(sites), len(strains)), p=weights)
    kept_conv = kept_load = 0
    loaded_calls: dict[tuple, int] = {}
    with open(path, "w") as f:
        f.write("##fileformat=VCFv4.2\n##source=perfbench-gen\n")
        f.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
                + "\t".join(strains) + "\n")
        for i, (chrom, pos, ref, alt, rsid) in enumerate(sites):
            n_alt = alt.count(",") + 1
            calls = []
            for j in range(len(strains)):
                cls = cls_names[draws[i, j]]
                calls.append(_call(rng, cls, n_alt))
                _, conv, load = CALL_CLASSES[cls]
                if n_alt == 1 and conv:
                    kept_conv += 1
                if n_alt == 1 and load:
                    kept_load += 1
                    key = (chrom, pos, ref, alt)
                    loaded_calls[key] = loaded_calls.get(key, 0) + 1
            f.write(f"chr{chrom}\t{pos}\t{rsid}\t{ref}\t{alt}\t50\tPASS\t.\tGT:AD:DP\t"
                    + "\t".join(calls) + "\n")
    return {"kept_calls": kept_conv, "loaded_calls": kept_load, "loaded": loaded_calls}


def _sites_table(keys) -> pa.Table:
    rows = [_site_key(*k) for k in sorted(keys)]
    return pa.table({
        "chromosome": pa.array([r["chromosome"] for r in rows], pa.string()),
        "start_pos": pa.array([r["start_pos"] for r in rows], pa.int64()),
        "end_pos": pa.array([r["end_pos"] for r in rows], pa.int64()),
        "ref_nuc": pa.array([r["ref_nuc"] for r in rows], pa.string()),
        "var_nuc": pa.array([r["var_nuc"] for r in rows], pa.string()),
    })


def generate(out: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out, "dims"), exist_ok=True)

    genomes = {c: _genome(rng, GENOME_LEN) for c in CHROMS}
    with open(os.path.join(out, "genome.fa"), "w") as f:
        for c in CHROMS:
            f.write(f">chr{c}\n")
            seq = genomes[c].decode()
            f.write("\n".join(seq[i : i + 60] for i in range(0, len(seq), 60)) + "\n")

    genes, transcripts, features = _genes(rng)
    dims = os.path.join(out, "dims")
    pq.write_table(pa.table({
        "gene_rgd_id": pa.array([g[0] for g in genes], pa.int32()),
        "chromosome": [g[1] for g in genes],
        "start_pos": pa.array([g[2] for g in genes], pa.int64()),
        "stop_pos": pa.array([g[3] for g in genes], pa.int64()),
        "strand": [g[4] for g in genes],
        "object_status": [g[5] for g in genes],
        "map_key": pa.array([g[6] for g in genes], pa.int32()),
    }), os.path.join(dims, "genes.parquet"))
    pq.write_table(pa.table({
        "transcript_rgd_id": pa.array([t[0] for t in transcripts], pa.int32()),
        "gene_rgd_id": pa.array([t[1] for t in transcripts], pa.int32()),
        "is_non_coding_ind": [t[2] for t in transcripts],
        "acc_id": [t[3] for t in transcripts],
        "protein_acc_id": [t[4] for t in transcripts],
    }), os.path.join(dims, "transcripts.parquet"))
    pq.write_table(pa.table({
        "transcript_rgd_id": pa.array([x[0] for x in features], pa.int32()),
        "object_name": [x[1] for x in features],
        "strand": [x[2] for x in features],
        "chromosome": [x[3] for x in features],
        "start_pos": pa.array([x[4] for x in features], pa.int64()),
        "stop_pos": pa.array([x[5] for x in features], pa.int64()),
        "map_key": pa.array([x[6] for x in features], pa.int32()),
    }), os.path.join(dims, "features.parquet"))

    # batch A: distinct positions per chromosome, REF cut from the genome
    per_chr = np.bincount(rng.integers(0, len(CHROMS), size=SITES), minlength=len(CHROMS))
    used: dict[str, set] = {}
    sites_a = []
    for c, n in zip(CHROMS, per_chr):
        pos = np.sort(rng.choice(np.arange(200, GENOME_LEN - 200), size=n, replace=False))
        used[c] = set(pos.tolist())
        for p, kind in zip(pos.tolist(), _pick_kinds(rng, n)):
            ref, alt = _alleles(rng, genomes[c], p, kind)
            rsid = f"rs{int(rng.integers(1, 10**7))}" if rng.random() < 0.3 else "."
            sites_a.append((c, p, ref, alt, rsid))

    # batch B: ~90% of A's sites with the same alleles, the rest new
    keep = rng.random(len(sites_a)) < SHARED
    sites_b = [s for s, k in zip(sites_a, keep) if k]
    n_new = len(sites_a) - len(sites_b)
    new_chr = rng.integers(0, len(CHROMS), size=n_new)
    for ci in new_chr.tolist():
        c = CHROMS[ci]
        while True:
            p = int(rng.integers(200, GENOME_LEN - 200))
            if p not in used[c]:
                used[c].add(p)
                break
        ref, alt = _alleles(rng, genomes[c], p, _pick_kinds(rng, 1)[0])
        sites_b.append((c, p, ref, alt, "."))
    sites_b.sort(key=lambda s: (s[0], s[1]))

    strains_a = [f"STRAIN_A{i:02d}" for i in range(1, STRAINS + 1)]
    strains_b = [f"STRAIN_B{i:02d}" for i in range(1, STRAINS + 1)]
    ta = _write_vcf(os.path.join(out, "a.vcf"), rng, sites_a, strains_a)
    tb = _write_vcf(os.path.join(out, "b.vcf"), rng, sites_b, strains_b)

    loaded_a, loaded_b = set(ta["loaded"]), set(tb["loaded"])
    pq.write_table(_sites_table(loaded_a), os.path.join(out, "loaded_sites_a.parquet"))
    pq.write_table(_sites_table(loaded_b), os.path.join(out, "loaded_sites_b.parquet"))
    key_a = {(s[0], s[1], s[2], s[3]) for s in sites_a}
    truths = {
        "seed": seed,
        "map_key": MAP_KEY,
        "chromosomes": list(CHROMS),
        "strains_a": strains_a,
        "strains_b": strains_b,
        "sites_a": len(sites_a),
        "sites_b": len(sites_b),
        "shared_sites": sum(1 for s in sites_b if (s[0], s[1], s[2], s[3]) in key_a),
        "genotype_calls_a": len(sites_a) * STRAINS,
        "genotype_calls_b": len(sites_b) * STRAINS,
        "vcf_bytes_a": os.path.getsize(os.path.join(out, "a.vcf")),
        "vcf_bytes_b": os.path.getsize(os.path.join(out, "b.vcf")),
        "genes": len(genes),
        "transcripts": len(transcripts),
        # strain_load (batch A into an empty store)
        "kept_calls_a": ta["kept_calls"],
        "loaded_calls_a": ta["loaded_calls"],
        "new_variants_a": len(loaded_a),
        # strain_reload (batch B into the store holding batch A)
        "kept_calls_b": tb["kept_calls"],
        "loaded_calls_b": tb["loaded_calls"],
        "new_variants_b": len(loaded_b - loaded_a),
        "already_in_store_b": sum(n for k, n in tb["loaded"].items() if k in loaded_a),
    }
    with open(os.path.join(out, "truths.json"), "w") as f:
        json.dump(truths, f, indent=1)
    return truths


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    generate(a.out, a.seed)


if __name__ == "__main__":
    main()
