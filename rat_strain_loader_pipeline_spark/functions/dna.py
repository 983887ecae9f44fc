"""DNA sequence functions: reverse-complement, codon translation, IUPAC.

- X7 reverse_complement: VariantPostProcessing.java:589-610 — built-in
  ``translate(reverse(upper(x)), 'ACGT', 'TGCA')``; 'N'→'N', '?'→'?'.
- X8 translate_codons: the hard-coded 64-codon table at
  VariantPostProcessing.java:612-754; non-ACGT codon → 'X', stop → '*'.
- X19 IUPAC expansion: convert/IUPAC.java:16-44.

The codon table is also exported as a plain dict for the pandas-UDF
consequence engine (operators/consequence.py), where translation happens
vectorized in Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Standard genetic code, 1-letter AAs, '*' = stop.
# (VariantPostProcessing.java:612-754 hard-codes exactly this table.)
CODON_TABLE: dict[str, str] = {
    "TTT": "F", "TTC": "F", "TTA": "L", "TTG": "L",
    "CTT": "L", "CTC": "L", "CTA": "L", "CTG": "L",
    "ATT": "I", "ATC": "I", "ATA": "I", "ATG": "M",
    "GTT": "V", "GTC": "V", "GTA": "V", "GTG": "V",
    "TCT": "S", "TCC": "S", "TCA": "S", "TCG": "S",
    "CCT": "P", "CCC": "P", "CCA": "P", "CCG": "P",
    "ACT": "T", "ACC": "T", "ACA": "T", "ACG": "T",
    "GCT": "A", "GCC": "A", "GCA": "A", "GCG": "A",
    "TAT": "Y", "TAC": "Y", "TAA": "*", "TAG": "*",
    "CAT": "H", "CAC": "H", "CAA": "Q", "CAG": "Q",
    "AAT": "N", "AAC": "N", "AAA": "K", "AAG": "K",
    "GAT": "D", "GAC": "D", "GAA": "E", "GAG": "E",
    "TGT": "C", "TGC": "C", "TGA": "*", "TGG": "W",
    "CGT": "R", "CGC": "R", "CGA": "R", "CGG": "R",
    "AGT": "S", "AGC": "S", "AGA": "R", "AGG": "R",
    "GGT": "G", "GGC": "G", "GGA": "G", "GGG": "G",
}

IUPAC_EXPANSION: dict[str, str] = {
    # convert/IUPAC.java:16-44
    "A": "A", "C": "C", "G": "G", "T": "T",
    "R": "AG", "Y": "CT", "S": "GC", "W": "AT",
    "K": "GT", "M": "AC",
    "B": "CGT", "D": "AGT", "H": "ACT", "V": "ACG",
    "N": "ACGT",
}


def translate_dna_str(dna: str) -> str:
    """Translate a DNA string to AA string (truncating trailing partial codon)."""
    n = len(dna) - len(dna) % 3
    return "".join(CODON_TABLE.get(dna[i : i + 3].upper(), "X") for i in range(0, n, 3))


def reverse_complement_str(seq: str) -> str:
    """Python-side reverse complement; preserves N and '?' like the reference."""
    comp = {"A": "T", "T": "A", "C": "G", "G": "C", "N": "N", "?": "?"}
    try:
        return "".join(comp[b] for b in reversed(seq.upper()))
    except KeyError as e:  # reference raises on unexpected chars
        raise ValueError(f"unexpected base {e} in sequence") from e


def reverse_complement(seq: Column) -> Column:
    """X7 as a built-in expression: reverse + complement, N/? preserved."""
    return F.translate(F.reverse(F.upper(seq)), "ACGTN?", "TGCAN?")


def translate_codons(dna: Column) -> Column:
    """X8 as a pure SQL expression: split into codons, map via the table.

    Uses a transform over a generated index sequence — stays JVM-side.
    Non-ACGT codons map to 'X'; trailing partial codon is dropped.
    """
    # Build a MapType literal once per query plan.
    mapping = F.create_map(*[F.lit(x) for kv in CODON_TABLE.items() for x in kv])
    up = F.upper(dna)
    n_codons = F.floor(F.length(up) / 3).cast("int")
    idx = F.sequence(F.lit(0), n_codons - 1)
    codons = F.transform(idx, lambda i: F.substring(up, (i * 3 + 1).cast("int"), 3))
    aas = F.transform(codons, lambda c: F.coalesce(F.element_at(mapping, c), F.lit("X")))
    return F.when(n_codons <= 0, F.lit("")).otherwise(F.array_join(aas, ""))
