"""End-to-end pipeline tests: VCF→CF2 conversion, CF2→store load, fixups."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.pipelines.convert import vcf_to_cf2
from rat_strain_loader_pipeline_spark.pipelines.fixups import (
    frameshift_fixup,
    genic_status_fixup,
    num_alleles_fixup,
    variant_type_fixup,
    zygosity_poss_error_fixup,
)
from rat_strain_loader_pipeline_spark.pipelines.load import (
    derive_variants,
    load_variants,
)
from rat_strain_loader_pipeline_spark.schemas import CF2_SCHEMA

VCF_TEXT = """##fileformat=VCFv4.1
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tBN\tSHR
1\t100\trs7\tG\tA\t50\tPASS\tDP=60\tGT:AD:DP\t0/1:30,30:60\t./.
1\t150\t.\tG\tGT\t99\tPASS\t.\tGT:AD:DP\t1/1:0,40:40\t0/0
1\t180\t.\tGA\tG\t99\tPASS\t.\tGT:AD:DP\t1/1:0,35:35\t0/0
1\t200\t.\tA\tT,C\t99\tPASS\t.\tGT:AD:DP\t1/2:0,20,20:40\t0/1:10,5,5:20
1\t300\tRGDID:8650299;NM_1:c.27C>T\tC\tT\t99\tPASS\t.\tGT:AD:DP\t0/1:5,15:20\t0/0
1\t400\t.\tA\tT\t99\tPASS\t.\tGT:GQ\t0/1:99\t0/1:99
"""


def test_vcf_to_cf2(spark, tmp_path):
    p = tmp_path / "in.vcf"
    p.write_text(VCF_TEXT)
    cf2 = vcf_to_cf2(spark, str(p))
    rows = {(r["position"], r["strain"]): r for r in cf2.collect()}

    # site 100: BN only (SHR ./. filtered), snv
    r = rows[(100, "BN")]
    assert r["ref_nuc"] == "G" and r["var_nuc"] == "A"
    assert r["count_a"] == 30 and r["count_g"] == 30
    assert r["allele_depth"] == 30 and r["read_depth"] == 60 and r["total_depth"] == 60
    assert r["rs_id"] == "rs7"

    # site 150: insertion G→GT: padding stripped, pos+1, ref NULL
    r = rows[(151, "BN")]
    assert r["ref_nuc"] is None and r["var_nuc"] == "T" and r["padding_base"] == "G"

    # site 180: deletion GA→G: pos+1, var NULL, ref 'A'
    r = rows[(181, "BN")]
    assert r["var_nuc"] is None and r["ref_nuc"] == "A" and r["padding_base"] == "G"

    # site 200: multi-ALT line skipped entirely
    assert not any(pos == 200 for pos, _ in rows)

    # site 300: RGDID/HGVS parsed
    r = rows[(300, "BN")]
    assert r["rgd_id"] == 8650299 and r["hgvs_name"] == "NM_1:c.27C>T"

    # site 400: AD/DP missing → dropped (F8)
    assert not any(pos == 400 for pos, _ in rows)

    # (150, SHR) 0/0 filtered; site 100 SHR filtered
    assert ("SHR" not in {s for (_, s) in rows})


def _cf2_rows(spark):
    rows = [
        # snv: var C 90% → possibly homozygous
        ("1", 1000, "A", "C", None, 10, 90, 0, 0, 100, None, 0, 90, 1, 100, None),
        # duplicate of above with case flip (same natural key after upper)
        ("1", 1000, "a", "c", None, 10, 90, 0, 0, 100, None, 0, 90, 1, 100, None),
        # insertion with padding: percent 100*40/40
        ("1", 2000, None, "TT", None, None, None, None, None, None, None, 0, 40, 1, 40, "G"),
        # zero allele depth indel → F9 drop
        ("1", 3000, None, "G", None, None, None, None, None, None, None, 0, 0, 1, 50, "A"),
        # invalid allele chars → F6 drop
        ("1", 4000, "QQ", "C", None, 1, 1, 0, 0, 2, None, 0, 1, 1, 2, None),
    ]
    return spark.createDataFrame(rows, schema=CF2_SCHEMA)


def _genes(spark):
    return spark.createDataFrame(
        [(1, "1", 900, 1500, "+", "ACTIVE", 360), (2, "1", 5000, 6000, "+", "NON-ACTIVE", 360)],
        "gene_rgd_id int, chromosome string, start_pos long, stop_pos long, strand string, object_status string, map_key int",
    )


def test_derive_and_load_fresh_store(spark):
    derived = derive_variants(
        _cf2_rows(spark), sample_id=7, gender="F", map_key=360, genes=_genes(spark)
    )
    rows = {r["start_pos"]: r for r in derived.collect()}
    # F6 dropped 4000, F9 dropped 3000; duplicates at 1000 both present pre-upsert
    assert set(rows) == {1000, 2000}
    assert rows[1000]["genic_status"] == "GENIC"
    assert rows[2000]["genic_status"] == "INTERGENIC"
    assert rows[1000]["zygosity_status"] == "possibly homozygous"
    assert rows[1000]["zygosity_percent_read"] == 90
    assert rows[2000]["zygosity_status"] == "homozygous"
    assert rows[2000]["variant_type"] == "ins"
    assert rows[2000]["end_pos"] == 2000

    empty_var = spark.createDataFrame(
        [],
        "rgd_id long, chromosome string, start_pos long, end_pos long, ref_nuc string, var_nuc string, variant_type string",
    )
    empty_detail = spark.createDataFrame([], "rgd_id long, sample_id int")
    res = load_variants(derived, empty_var, empty_var, empty_detail)
    variants = res.variant.collect()
    # case-flipped duplicate collapses to ONE id; store gets upper-cased
    assert len(variants) == 2
    assert {v["ref_nuc"] for v in variants} == {"A", None}
    details = res.variant_sample_detail.collect()
    assert len(details) == 2
    assert res.counters["rows_new_variants"] == 2


def test_load_upsert_against_existing(spark):
    derived = derive_variants(
        _cf2_rows(spark), sample_id=7, gender="F", map_key=360, genes=_genes(spark)
    )
    existing_var = spark.createDataFrame(
        [(555, "1", 1000, 1001, "A", "C", "snv")],
        "rgd_id long, chromosome string, start_pos long, end_pos long, ref_nuc string, var_nuc string, variant_type string",
    )
    existing_detail = spark.createDataFrame([(555, 7)], "rgd_id long, sample_id int")
    res = load_variants(derived, existing_var, existing_var, existing_detail)
    # snv matched existing id 555 → not new; only the insertion is new
    assert res.counters["rows_new_variants"] == 1
    new_ids = [r["rgd_id"] for r in res.variant.collect()]
    assert new_ids == [556]  # max(555)+1 deterministic
    # sample detail for 555 already exists for sample 7 → anti-joined away
    detail_ids = {r["rgd_id"] for r in res.variant_sample_detail.collect()}
    assert detail_ids == {556}


def test_fixups_idempotent(spark, tmp_path):
    variant = spark.createDataFrame(
        [
            (1, "A", "snv", "T"),
            (2, None, "snv", "TT"),   # wrong: should be ins
            (3, "ACG", "del", None),
        ],
        "rgd_id long, ref_nuc string, variant_type string, var_nuc string",
    )
    store = str(tmp_path)
    fixed, counters = variant_type_fixup(variant, store)
    assert counters["rows_fixed"] == 1
    types = {r["rgd_id"]: r["variant_type"] for r in fixed.collect()}
    assert types == {1: "snv", 2: "ins", 3: "del"}
    # idempotence: a second run over the committed table fixes nothing
    _, counters2 = variant_type_fixup(fixed, store)
    assert counters2["rows_fixed"] == 0


def test_frameshift_fixup_corrects_truncation_quirk(spark, tmp_path):
    vt = spark.createDataFrame(
        [(10, 100, "Q", "R", "F"), (11, 100, None, None, None)],
        "variant_rgd_id long, transcript_rgd_id int, ref_aa string, var_aa string, frameshift string",
    )
    variant = spark.createDataFrame(
        [(10, None, "GG"), (11, "A", "T")],
        "rgd_id long, ref_nuc string, var_nuc string",
    )
    fixed, counters = frameshift_fixup(vt, variant, str(tmp_path))
    out = {r["variant_rgd_id"]: r["frameshift"] for r in fixed.collect()}
    assert out[10] == "T"  # 2-bp insertion IS a frameshift
    assert out[11] is None  # location-only rows untouched
    assert counters["rows_fixed"] == 1
    _, c2 = frameshift_fixup(fixed, variant, str(tmp_path))
    assert c2["rows_fixed"] == 0


def test_genic_status_and_poss_error_fixups(spark, tmp_path):
    vmd = spark.createDataFrame(
        [(1, "1", 1000, 1001, None, "INTERGENIC", 360), (2, "1", 7000, 7001, None, "GENIC", 360)],
        "rgd_id long, chromosome string, start_pos long, end_pos long, padding_base string, genic_status string, map_key int",
    )
    fixed, counters = genic_status_fixup(vmd, _genes(spark), str(tmp_path))
    out = {r["rgd_id"]: r["genic_status"] for r in fixed.collect()}
    assert out == {1: "GENIC", 2: "INTERGENIC"}  # both were wrong
    assert counters["rows_fixed"] == 2

    vsd = spark.createDataFrame(
        [(1, 7, 15, "N"), (2, 7, 16, "Y"), (3, 7, None, "N")],
        "rgd_id long, sample_id int, zygosity_percent_read int, zygosity_poss_error string",
    )
    fixed2, c2 = zygosity_poss_error_fixup(vsd, str(tmp_path))
    out2 = {r["rgd_id"]: r["zygosity_poss_error"] for r in fixed2.collect()}
    assert out2 == {1: "Y", 2: "N", 3: "N"}
    assert c2["rows_fixed"] == 2


def test_num_alleles_fixup(spark, tmp_path):
    vmd = spark.createDataFrame(
        [(1, "1", 1000, 1001, None, "GENIC", 360), (2, "1", 1000, 1001, None, "GENIC", 360)],
        "rgd_id long, chromosome string, start_pos long, end_pos long, padding_base string, genic_status string, map_key int",
    )
    vsd = spark.createDataFrame(
        [(1, 7, "Y", 1), (2, 7, "N", 1)],
        "rgd_id long, sample_id int, zygosity_ref_allele string, zygosity_num_allele int",
    )
    fixed, counters = num_alleles_fixup(vsd, vmd, str(tmp_path))
    out = {r["rgd_id"]: r["zygosity_num_allele"] for r in fixed.collect()}
    # 2 variants at same position + ref seen → 3 alleles
    assert out == {1: 3, 2: 3}
    assert counters["rows_fixed"] == 2


def test_derive_variants_multi_equals_per_sample(spark):
    """One pass over a union of tagged reads must produce exactly the
    union of per-sample runs — including gender-divergent hemizygous
    calls on X and PAR handling from each row's own map_key."""
    from rat_strain_loader_pipeline_spark.functions.zygosity import par_regions_df
    from rat_strain_loader_pipeline_spark.pipelines.load import (
        derive_variants_multi, tag_sample,
    )

    rows = [
        # X-chromosome snv, 90%: M → probably hemizygous, F → possibly homozygous
        ("X", 1000, "A", "C", None, 10, 90, 0, 0, 100, None, 0, 90, 1, 100, None),
        # autosomal snv 100%
        ("1", 1200, "G", "T", None, 0, 0, 0, 50, 50, None, 0, 50, 1, 50, None),
        # insertion 100%
        ("1", 2000, None, "TT", None, None, None, None, None, None, None, 0, 40, 1, 40, "G"),
    ]
    cf2 = spark.createDataFrame(rows, schema=CF2_SCHEMA)
    genes = _genes(spark)
    par = par_regions_df(spark)

    singles = []
    for sid, gender, mk in ((7, "M", 38), (8, "F", 360)):
        singles.append(
            derive_variants(
                cf2, sample_id=sid, gender=gender, map_key=mk,
                genes=genes, par_regions=par,
            )
        )
    expected = singles[0].unionByName(singles[1])

    tagged = tag_sample(cf2, 7, "M", 38).unionByName(tag_sample(cf2, 8, "F", 360))
    got = derive_variants_multi(tagged, genes=genes, par_regions=par)

    cols = sorted(expected.columns)
    assert sorted(got.columns) == cols
    e = sorted(tuple(r) for r in expected.select(*cols).collect())
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    assert e == g
    # gender divergence actually exercised
    st = {(r["sample_id"], r["start_pos"]): r["zygosity_status"] for r in got.collect()}
    assert st[(7, 1000)] == "probably hemizygous"
    assert st[(8, 1000)] == "possibly homozygous"


# ------------------------------------------- counters observed on the writes

def _fixup_cases(spark):
    """(fixup, its inputs, the patched column, the row key, the table it
    commits) per fixup."""
    variant = spark.createDataFrame(
        [(1, "A", "snv", "T"), (2, None, "snv", "TT"), (3, "ACG", "del", None)],
        "rgd_id long, ref_nuc string, variant_type string, var_nuc string",
    )
    vt = spark.createDataFrame(
        [(1, 100, "Q", "R", "F"), (2, 100, None, None, None), (3, 101, "K", "N", "F")],
        "variant_rgd_id long, transcript_rgd_id int, ref_aa string, var_aa string, "
        "frameshift string",
    )
    vmd = spark.createDataFrame(
        [(1, "1", 1000, 1001, None, "INTERGENIC", 360), (2, "1", 1000, 1001, None, "GENIC", 360),
         (3, "2", 7000, 7000, None, "INTERGENIC", 360)],
        "rgd_id long, chromosome string, start_pos long, end_pos long, padding_base string, "
        "genic_status string, map_key int",
    )
    vsd = spark.createDataFrame(
        [(1, 7, "Y", 1, 15, "N"), (2, 7, "N", 3, 16, "N"), (3, 7, "N", 1, None, "Y")],
        "rgd_id long, sample_id int, zygosity_ref_allele string, zygosity_num_allele int, "
        "zygosity_percent_read int, zygosity_poss_error string",
    )
    return [
        (variant_type_fixup, (variant,), "variant_type", ["rgd_id"], "variant"),
        (frameshift_fixup, (vt, variant), "frameshift", ["variant_rgd_id", "transcript_rgd_id"],
         "variant_transcript"),
        (genic_status_fixup, (vmd, _genes(spark)), "genic_status", ["rgd_id"],
         "variant_map_data"),
        (num_alleles_fixup, (vsd, vmd), "zygosity_num_allele", ["rgd_id", "sample_id"],
         "variant_sample_detail"),
        (zygosity_poss_error_fixup, (vsd,), "zygosity_poss_error", ["rgd_id", "sample_id"],
         "variant_sample_detail"),
    ]


def _separate_aggregate(before, patched, col, key):
    """The counters as a separate aggregate over the lazily patched rows,
    each compared with its row before the fixup."""
    row = patched.join(before.select(*key, F.col(col).alias("__old")), key).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((~F.col(col).eqNullSafe(F.col("__old"))).cast("long")).alias("changed"),
    ).first()
    total, changed = row["total"], row["changed"] or 0
    return {"rows_total": total, "rows_fixed": changed, "rows_up_to_date": total - changed}


def test_fixup_counters_observed_on_the_commit_write(spark, tmp_path, count_jobs):
    """Given a store, each fixup commits its patched table in exactly the
    Spark jobs that committing the lazily patched rows takes, so no job
    runs after the write; it returns the table as stored, and its
    counters equal a separate aggregate. On an empty table every counter
    is 0."""
    from rat_strain_loader_pipeline_spark.store import commit_table

    for i, (fixup, inputs, col, key, table) in enumerate(_fixup_cases(spark)):
        lazy, none = fixup(*inputs)
        assert none == {}
        (fixed, counters), jobs = count_jobs(fixup, *inputs, str(tmp_path / f"fixed{i}"))
        _, commit_jobs = count_jobs(commit_table, lazy, str(tmp_path / f"lazy{i}"), table)
        assert jobs == commit_jobs, fixup.__name__
        assert counters == _separate_aggregate(inputs[0], lazy, col, key), fixup.__name__
        assert counters["rows_total"] == 3
        assert fixed.inputFiles()  # the committed version, not the lazy plan
        assert sorted(map(repr, fixed.select(*lazy.columns).collect())) == sorted(
            map(repr, lazy.collect())
        )

        empty = (inputs[0].filter(F.lit(False)),) + inputs[1:]
        fixed, counters = fixup(*empty, str(tmp_path / f"empty{i}"))
        assert counters == {"rows_total": 0, "rows_fixed": 0, "rows_up_to_date": 0}
        assert fixed.count() == 0


def _cf2_two_samples(spark):
    """Calls on two chromosomes; sample 8 repeats keys of sample 7 (and one
    key twice, case-flipped), so duplicate keys span samples."""
    def snv(chrom, pos, ref, var):
        counts = [40 if n == var.upper() else 0 for n in "ACGT"]
        return (chrom, pos, ref, var, None, *counts, 40, None, 0, 40, 1, 40, None)

    s7 = [snv("1", 100, "A", "C"), snv("1", 200, "G", "T"), snv("2", 100, "A", "G"),
          snv("2", 300, "C", "A")]
    s8 = [snv("1", 100, "A", "C"), snv("1", 100, "a", "c"), snv("2", 300, "C", "A"),
          snv("2", 400, "T", "G"), snv("10", 5, "G", "C")]
    return (spark.createDataFrame(s7, schema=CF2_SCHEMA),
            spark.createDataFrame(s8, schema=CF2_SCHEMA))


def _old_load_counters(derived, existing, distributed):
    """The load counters as the separate aggregate over the upsert output:
    count_distinct of the new ids."""
    from rat_strain_loader_pipeline_spark.operators.upsert import upsert_variants
    from rat_strain_loader_pipeline_spark.pipelines.load import NATURAL_KEY

    row = upsert_variants(derived, existing, key=NATURAL_KEY,
                          distributed_ranking=distributed).agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.count_distinct(F.when(F.col("is_new"), F.col("rgd_id"))).alias("new"),
        F.sum((~F.col("is_new")).cast("long")).alias("matched"),
    ).first()
    return {"rows_in": row["rows_in"], "rows_new_variants": row["new"],
            "rows_already_in_rgd": row["matched"] or 0}


def test_load_counters_observed_on_the_stage_write(spark):
    """load_variants' observed counters equal the separate aggregate on
    both ranking paths: a partly matched batch whose duplicate keys span
    samples, then an all-matched reload of the same batch."""
    s7, s8 = _cf2_two_samples(spark)
    derived = derive_variants(s7, 7, "F", 360).unionByName(derive_variants(s8, 8, "F", 360))
    key_cols = "rgd_id long, chromosome string, start_pos long, end_pos long, " \
               "ref_nuc string, var_nuc string, variant_type string"
    existing = spark.createDataFrame([(555, "2", 300, 301, "C", "A", "snv")], key_cols)
    no_detail = spark.createDataFrame([], "rgd_id long, sample_id int")
    for distributed in (False, True):
        res = load_variants(derived, existing, existing, no_detail,
                            distributed_ranking=distributed)
        assert res.counters == _old_load_counters(derived, existing, distributed)
        assert res.counters == {"rows_in": 9, "rows_new_variants": 5,
                                "rows_already_in_rgd": 2}
        assert res.variant.count() == 5

        # everything now stored: the reload matches every row
        stored = existing.unionByName(
            res.variant.join(res.variant_map_data, "rgd_id").select(*existing.columns)
        )
        again = load_variants(derived, stored, stored, no_detail,
                              distributed_ranking=distributed)
        assert again.counters == _old_load_counters(derived, stored, distributed)
        assert again.counters == {"rows_in": 9, "rows_new_variants": 0,
                                  "rows_already_in_rgd": 9}


# ------------------------------- insert markers vs the old dropDuplicates

_KEY_COLS = ("rgd_id long, chromosome string, start_pos long, end_pos long, "
             "ref_nuc string, var_nuc string, variant_type string")


def _call(chrom, pos, ref, var, depth=40, padding=None):
    """One CF2 call whose allele depth makes it a 100% call (kept by F9)."""
    counts = [depth if var is not None and n == var.upper() else 0 for n in "ACGT"]
    return (chrom, pos, ref, var, None, *counts, depth, None, 0, depth, 1, depth, padding)


def _marker_batch(spark):
    """Three tagged reads, as ``VariantLoad3 -s 7 -i f1 -s 7 -i f2 -s 8
    -i f3`` derives them: the same key twice within one sample (once
    case-flipped, once with other depths), a repeated -s id across two
    files, alleles that differ only in case, NULL ref and NULL var
    indels, and keys the populated store below holds."""
    from rat_strain_loader_pipeline_spark.pipelines.load import (
        derive_variants_multi, tag_sample,
    )

    f1 = [_call("1", 100, "A", "C"), _call("1", 100, "a", "c"),
          _call("1", 150, None, "TT", padding="G"), _call("1", 180, "A", None, padding="C"),
          _call("2", 300, "C", "A"), _call("2", 400, "G", "T"),
          _call("2", 400, "G", "T", depth=30)]
    f2 = [_call("1", 100, "A", "C", depth=20), _call("2", 300, "C", "A")]
    f3 = [_call("1", 100, "A", "C"), _call("1", 150, None, "tt", padding="G"),
          _call("X", 10, "G", "A")]
    tagged = [tag_sample(spark.createDataFrame(rows, schema=CF2_SCHEMA), sid, "F", 360)
              for sid, rows in ((7, f1), (7, f2), (8, f3))]
    return derive_variants_multi(tagged[0].unionByName(tagged[1]).unionByName(tagged[2]))


def _marker_stores(spark):
    """An empty store, and one that holds two ids for one key of the
    batch (the smaller is reused), a NULL-var key, an unrelated higher
    id (the floor) and a detail row the anti join must drop."""
    empty = (spark.createDataFrame([], _KEY_COLS),
             spark.createDataFrame([], "rgd_id long, sample_id int"))
    held = (spark.createDataFrame(
        [(555, "2", 300, 301, "C", "A", "snv"), (554, "2", 300, 301, "c", "a", "snv"),
         (600, "1", 180, 181, "A", None, "del"), (700, "3", 5, 6, "G", "C", "snv")],
        _KEY_COLS,
    ), spark.createDataFrame([(554, 7), (600, 8)], "rgd_id long, sample_id int"))
    return {"empty": empty, "held": held}


def _old_inserts(derived, existing, existing_detail, distributed):
    """The three insert frames as they were built before the markers: the
    unmarked upsert, then one dropDuplicates per insert."""
    from rat_strain_loader_pipeline_spark.operators.upsert import (
        anti_insert, upsert_variants,
    )
    from rat_strain_loader_pipeline_spark.pipelines.load import NATURAL_KEY

    with_ids = upsert_variants(derived, existing, key=NATURAL_KEY,
                               distributed_ranking=distributed)
    new = with_ids.filter(F.col("is_new"))
    variant = new.select(
        "rgd_id", F.upper("ref_nuc").alias("ref_nuc"), "variant_type",
        F.upper("var_nuc").alias("var_nuc"), "rs_id",
        F.lit(None).cast("string").alias("clinvar_id"), "species_type_key",
    )
    map_data = new.select("rgd_id", "chromosome", "start_pos", "end_pos",
                          "padding_base", "genic_status", "map_key")
    detail = with_ids.select(
        "rgd_id", "source", "sample_id", "total_depth", "var_freq",
        "zygosity_status", "zygosity_percent_read", "zygosity_poss_error",
        "zygosity_ref_allele", "zygosity_num_allele", "zygosity_in_pseudo",
        "quality_score",
    )
    detail = anti_insert(detail, existing_detail, ["rgd_id", "sample_id"])
    return {
        "variant": (variant.dropDuplicates(["rgd_id"]), variant, ["rgd_id"]),
        "variant_map_data": (map_data.dropDuplicates(["rgd_id"]), map_data, ["rgd_id"]),
        "variant_sample_detail": (detail.dropDuplicates(["rgd_id", "sample_id"]), detail,
                                  ["rgd_id", "sample_id"]),
    }



@pytest.mark.parametrize("store", ["empty", "held"])
@pytest.mark.parametrize("distributed", [False, True])
def test_insert_markers_match_the_old_dedup(spark, store, distributed):
    """Each insert built from the upsert's markers holds the rows the old
    per-insert dropDuplicates kept: the same keys, one row per key, and
    every row one of the rows dropDuplicates could have kept (it keeps an
    arbitrary one where rows of a key differ, as the two depths of
    (2, 400) in sample 7 do)."""
    derived = _marker_batch(spark)
    existing, existing_detail = _marker_stores(spark)[store]
    res = load_variants(derived, existing, existing, existing_detail,
                        distributed_ranking=distributed)
    got = {"variant": res.variant, "variant_map_data": res.variant_map_data,
           "variant_sample_detail": res.variant_sample_detail}
    old = _old_inserts(derived, existing, existing_detail, distributed)
    for table, (deduped, candidates, key) in old.items():
        cols = deduped.columns
        assert got[table].columns == cols, table
        rows = [tuple(r) for r in got[table].select(*cols).collect()]
        keys = [r[:len(key)] for r in got[table].select(*key).collect()]
        assert len(keys) == len(set(keys)), table
        assert sorted(keys) == sorted(tuple(r) for r in deduped.select(*key).collect()), table
        assert set(rows) <= {tuple(r) for r in candidates.collect()}, table

    # the batch's 6 distinct keys: case-only and repeated rows share one id
    n_new = {"empty": 6, "held": 4}[store]
    assert res.variant.count() == n_new == res.counters["rows_new_variants"]
    detail = {(r["rgd_id"], r["sample_id"]) for r in res.variant_sample_detail.collect()}
    if store == "held":
        ids = {r["rgd_id"] for r in res.variant.collect()}
        assert ids == {701, 702, 703, 704}  # above the store's top id
        # (2, 300) reuses the smaller of its two ids, already detailed for 7
        assert not {r for r in detail if r[0] in (554, 555)}
        assert (600, 7) in detail and (600, 8) not in detail


@pytest.mark.parametrize("distributed", [False, True])
def test_upsert_without_markers_keeps_its_columns(spark, distributed):
    """Callers that do not ask for the markers (the engine queries, the
    streaming ingest) get incoming + rgd_id + is_new, as before; with
    them, the two marker columns follow."""
    from rat_strain_loader_pipeline_spark.operators.upsert import upsert_variants
    from rat_strain_loader_pipeline_spark.pipelines.load import NATURAL_KEY

    derived = _marker_batch(spark)
    existing, _ = _marker_stores(spark)["held"]
    plain = upsert_variants(derived, existing, key=NATURAL_KEY,
                            distributed_ranking=distributed)
    assert "rgd_id" in derived.columns  # a CF2 column: replaced in place
    assert plain.columns == derived.columns + ["is_new"]
    marked = upsert_variants(derived, existing, key=NATURAL_KEY,
                             distributed_ranking=distributed, mark_first="sample_id")
    assert marked.columns == plain.columns + ["first_of_id", "first_of_pair"]


def test_id_floor_folds_away_on_an_empty_store(spark):
    """The top-1 id floor plans nothing over an empty id table (Catalyst
    folds the broadcast join away) and one broadcast over a held one."""
    from rat_strain_loader_pipeline_spark.operators.upsert import upsert_variants

    derived = _marker_batch(spark)
    for store, broadcasts in (("empty", 0), ("held", 1)):
        existing, _ = _marker_stores(spark)[store]
        plan = upsert_variants(derived, existing.limit(0) if store == "empty" else existing
                               )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("TakeOrderedAndProject") == broadcasts, store
        assert "HashAggregate(keys=[], functions=[max" not in plan
