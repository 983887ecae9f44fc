"""Manager-analog CLI smoke tests: the reference's shell workflow
(Manager.java --tool dispatch) driven end-to-end through cli.main() —
convert → load → fixups → post-process → polyphen export, plus the
conservation loader, on tiny fixture inputs.
"""

from __future__ import annotations

import pytest

from rat_strain_loader_pipeline_spark import cli
from tests.test_consequence import SEQS

VCF = """##fileformat=VCFv4.1
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tBN
1\t8\trs8\tA\tG\t50\tPASS\tDP=60\tGT:AD:DP\t0/1:30,30:60
1\t14\t.\tG\tC\t99\tPASS\t.\tGT:AD:DP\t1/1:0,40:40
"""

# two strains: A and B call disjoint sites plus one identical shared call
VCF2 = """##fileformat=VCFv4.1
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tA\tB
1\t8\trs8\tA\tG\t50\tPASS\tDP=60\tGT:AD:DP\t0/1:30,30:60\t./.:.:.
1\t14\t.\tG\tC\t99\tPASS\t.\tGT:AD:DP\t./.:.:.\t1/1:0,40:40
1\t20\trs20\tT\tA\t99\tPASS\t.\tGT:AD:DP\t1/1:0,20:20\t1/1:0,20:20
2\t30\t.\tC\tT\t60\tPASS\t.\tGT:AD:DP\t0/1:10,5:15\t./.:.:.
"""

WIG = """fixedStep chrom=chr1 start=5 step=1
0.5
0.75
"""


def test_usage_and_unknown_tool(capsys):
    assert cli.main([]) == 1
    assert "tool suite usage" in capsys.readouterr().out
    assert cli.main(["--tool", "NoSuchTool"]) == 1


@pytest.fixture(scope="module")
def dims_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dims")
    spark.createDataFrame(
        [(100, "1", 4, 24, "+", "ACTIVE", 360)],
        "gene_rgd_id int, chromosome string, start_pos long, stop_pos long, "
        "strand string, object_status string, map_key int",
    ).write.parquet(str(root / "genes.parquet"))
    spark.createDataFrame(
        [(200, 100, "N", "NP_001")],
        "transcript_rgd_id int, gene_rgd_id int, is_non_coding_ind string, "
        "protein_acc_id string",
    ).write.parquet(str(root / "transcripts.parquet"))
    spark.createDataFrame(
        [
            (200, "EXONS", "+", "1", 4, 12, 360),
            (200, "EXONS", "+", "1", 16, 24, 360),
        ],
        "transcript_rgd_id int, object_name string, strand string, "
        "chromosome string, start_pos long, stop_pos long, map_key int",
    ).write.parquet(str(root / "features.parquet"))
    return str(root)


def test_cli_full_chain(spark, tmp_path, dims_root, capsys, count_jobs):
    jobs = {}  # Spark jobs per tool, summed over its calls

    def run(argv):
        rc, n = count_jobs(cli.main, argv)
        jobs[argv[1]] = jobs.get(argv[1], 0) + n
        return rc

    vcf = tmp_path / "in.vcf"
    vcf.write_text(VCF)
    cf2_dir = tmp_path / "cf2"
    store = str(tmp_path / "store")

    # STAGE2: VcfConverter2
    assert run([
        "--tool", "VcfConverter2", "--vcfFile", str(vcf), "--outDir", str(cf2_dir),
        "--mapKey", "360",
    ]) == 0
    assert "rows=2" in capsys.readouterr().out

    # STAGE3: VariantLoad3 into a fresh store
    assert run([
        "--tool", "VariantLoad3", "-s", "7", "-i", str(cf2_dir / "strain=BN"),
        "--store", store, "--dims", dims_root, "--mapKey", "360",
    ]) == 0
    assert "rows_new_variants=2" in capsys.readouterr().out

    # rerun is a pure upsert: no new variants on identical input
    assert run([
        "--tool", "VariantLoad3", "-s", "8", "-i", str(cf2_dir / "strain=BN"),
        "--store", store, "--dims", dims_root, "--mapKey", "360",
    ]) == 0
    assert "rows_new_variants=0" in capsys.readouterr().out

    # fixups are idempotent recomputes over the store
    assert run(["--tool", "VariantTypeFixUp", "--store", store]) == 0
    assert "rows_fixed=0" in capsys.readouterr().out
    assert run([
        "--tool", "GenicStatusFixUp", "--store", store, "--dims", dims_root,
    ]) == 0
    assert "rows_fixed=0" in capsys.readouterr().out

    # STAGE4: VariantPostProcessing from a FASTA file
    fasta = tmp_path / "g.fa"
    fasta.write_text("".join(f">{c}\n{s}\n" for c, s in SEQS.items()))
    assert run([
        "--tool", "VariantPostProcessing", "--fastaFile", str(fasta),
        "--store", store, "--dims", dims_root, "--mapKey", "360",
    ]) == 0
    assert "variant_transcript_rows=2" in capsys.readouterr().out

    assert run(["--tool", "FrameShiftFixUp", "--store", store]) == 0
    assert "rows_total=2" in capsys.readouterr().out

    # Polyphen export over the store (the pos-8 A>G Q→R row qualifies)
    pp_out = tmp_path / "pp"
    assert run([
        "--tool", "Polyphen", "--outDir", str(pp_out), "--store", store,
        "--dims", dims_root,
    ]) == 0
    assert "candidates=1" in capsys.readouterr().out
    [line] = [
        ln for f in pp_out.glob("part-*.txt") for ln in f.read_text().splitlines()
    ]
    assert line == "NP_001 2 Q R"

    # job-count pin for the tool path (58 measured at 2, 4 and 8 cores):
    # a change that adds Spark jobs to a tool call fails here
    assert sum(jobs.values()) <= 58, jobs


def _store_rows(spark, store):
    from rat_strain_loader_pipeline_spark.store import read_table

    out = {}
    for table in ("variant", "variant_map_data", "variant_sample_detail"):
        df = read_table(spark, store, table)
        cols = sorted(df.columns)
        out[table] = sorted(tuple(r) for r in df.select(*cols).collect())
    return out


def test_variant_load3_pairs_derive_in_one_pass(spark, tmp_path, dims_root, capsys,
                                               count_jobs):
    """Several -s/-i pairs load the same store as a per-pair derive loop
    + union, and the call runs as many Spark jobs as a one-pair call. The
    repeated -s id pins the one-row-per-id samples dimension: a duplicate
    row would double that id's rows in the derive join (rows_in)."""
    from rat_strain_loader_pipeline_spark.pipelines.load import (
        derive_variants, load_variants,
    )
    from rat_strain_loader_pipeline_spark.schemas import (
        VARIANT_MAP_DATA_SCHEMA, VARIANT_SAMPLE_DETAIL_SCHEMA,
    )
    from rat_strain_loader_pipeline_spark.sources.cf2 import read_cf2
    from rat_strain_loader_pipeline_spark.store import write_load_result

    vcf = tmp_path / "in.vcf"
    vcf.write_text(VCF2)
    cf2_dir = tmp_path / "cf2"
    assert cli.main([
        "--tool", "VcfConverter2", "--vcfFile", str(vcf), "--outDir", str(cf2_dir),
        "--mapKey", "360",
    ]) == 0
    capsys.readouterr()
    pairs = [(7, cf2_dir / "strain=A"), (8, cf2_dir / "strain=B"), (7, cf2_dir / "strain=B")]

    def load(store, pairs):
        args = ["--tool", "VariantLoad3", "--store", store, "--dims", dims_root,
                "--mapKey", "360"]
        for sid, path in pairs:
            args += ["-s", str(sid), "-i", str(path)]
        assert cli.main(args) == 0
        return capsys.readouterr().out.strip()

    store = str(tmp_path / "store")
    printed, jobs3 = count_jobs(load, store, pairs)
    _, jobs1 = count_jobs(load, str(tmp_path / "store1"), pairs[:1])
    assert jobs3 == jobs1

    # the per-pair path: one derive_variants call per pair, then a union
    genes = spark.read.parquet(f"{dims_root}/genes.parquet")
    derived = None
    for sid, path in pairs:
        d = derive_variants(read_cf2(spark, str(path)), sid, "F", 360, genes=genes)
        derived = d if derived is None else derived.unionByName(d)
    existing_md = spark.createDataFrame([], VARIANT_MAP_DATA_SCHEMA)
    existing_v = spark.createDataFrame(
        [], "rgd_id long, chromosome string, start_pos long, end_pos long, "
        "ref_nuc string, var_nuc string, variant_type string",
    )
    res = load_variants(
        derived, existing_v, existing_md,
        spark.createDataFrame([], VARIANT_SAMPLE_DETAIL_SCHEMA),
    )
    ref_store = str(tmp_path / "ref_store")
    write_load_result(res, ref_store, 360)

    assert printed == " ".join(f"{k}={v}" for k, v in res.counters.items())
    assert res.counters["rows_in"] == 7  # A: 3 calls, B: 2 calls, loaded twice
    assert _store_rows(spark, store) == _store_rows(spark, ref_store)


def test_cli_conservation(spark, tmp_path, capsys):
    wig = tmp_path / "c.wig"
    wig.write_text(WIG)
    store = str(tmp_path / "store")
    assert cli.main([
        "--tool", "ConservationScore", "--fileName", str(wig), "--store", store,
    ]) == 0
    assert "rows=2" in capsys.readouterr().out
    got = sorted(
        map(tuple, spark.read.parquet(f"{store}/conservation_score").collect())
    )
    assert got == [(5, "1", 0.5), (6, "1", 0.75)]


def test_vcf_converter2_all_calls_filtered_prints_zero(tmp_path, capsys):
    """The rows= counter is observed on the CF2 write; a VCF whose calls
    are all filtered out writes no row and reports rows=0."""
    vcf = tmp_path / "none.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.1\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tA\tB\n"
        "1\t8\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t./.:.:.\t0/0:30,0:30\n"
        "1\t9\t.\tA\tC,T\t50\tPASS\t.\tGT:AD:DP\t0/0:30,0,0:30\t./.:.:.\n"
    )
    out = tmp_path / "cf2"
    assert cli.main(["--tool", "VcfConverter2", "--vcfFile", str(vcf),
                     "--outDir", str(out)]) == 0
    assert capsys.readouterr().out.strip() == f"rows=0 outDir={out}"


def test_variant_load3_new_ids_unique_across_assemblies(spark, tmp_path, capsys):
    """Loading the same calls under a second map key allocates new ids
    above every id in the variant table, not above that assembly's own
    ids only (the reference draws them from one global sequence,
    VariantLoad3.java:550)."""
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.store import read_table

    vcf = tmp_path / "in.vcf"
    vcf.write_text(VCF2)
    cf2_dir = tmp_path / "cf2"
    assert cli.main([
        "--tool", "VcfConverter2", "--vcfFile", str(vcf), "--outDir", str(cf2_dir),
    ]) == 0
    store = str(tmp_path / "store")
    for map_key in (360, 70):
        assert cli.main([
            "--tool", "VariantLoad3", "-s", "7", "-i", str(cf2_dir / "strain=A"),
            "-s", "8", "-i", str(cf2_dir / "strain=B"),
            "--store", store, "--mapKey", str(map_key),
        ]) == 0
    capsys.readouterr()

    n = 4  # distinct sites of VCF2
    v = read_table(spark, store, "variant")
    assert v.count() == 2 * n
    assert v.select("rgd_id").distinct().count() == 2 * n
    ids = {
        r["map_key"]: sorted(r["ids"])
        for r in read_table(spark, store, "variant_map_data")
        .groupBy("map_key").agg(F.collect_list("rgd_id").alias("ids")).collect()
    }
    assert ids == {360: [1, 2, 3, 4], 70: [5, 6, 7, 8]}
