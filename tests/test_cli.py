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

    # job-count pins for the tool path (measured with SPARK_GRAFT_CPUS
    # 2, 4 and 8): a change that adds Spark jobs to a tool call fails
    # here, and the per-tool pins name the tool. VcfConverter2 reads its
    # header on the driver, so only the CF2 write runs a job; the genic
    # check builds its gene index inside its broadcast job, as
    # post-processing and Polyphen build their annotation-sized
    # broadcast sides inside theirs
    assert jobs["VcfConverter2"] == 1, jobs
    assert jobs["GenicStatusFixUp"] == 2, jobs
    assert jobs["VariantPostProcessing"] == 6, jobs
    assert jobs["Polyphen"] == 4, jobs
    assert sum(jobs.values()) <= 34, jobs


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
    + union, and the call runs as many Spark jobs as a one-pair call. A
    repeated -s id is just more rows of that sample: its reads are tagged
    with the same literals and counted once each (rows_in)."""
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


def test_appending_tools_print_only_the_rows_they_land(spark, tmp_path, capsys):
    """ConservationScore and PolyphenLoader append to a store table; a
    second call into the same store prints the rows that call landed,
    not the table's total."""
    from tests.test_polyphen import _result_line

    store = str(tmp_path / "store")
    wigs = [WIG, "fixedStep chrom=chr2 start=1 step=1\n0.1\n0.2\n0.3\n"]
    for i, (wig, n) in enumerate(zip(wigs, (2, 3))):
        path = tmp_path / f"c{i}.wig"
        path.write_text(wig)
        assert cli.main(["--tool", "ConservationScore", "--fileName", str(path),
                         "--store", store]) == 0
        assert capsys.readouterr().out.strip() == f"rows={n} table=conservation_score"
    assert spark.read.parquet(f"{store}/conservation_score").count() == 5

    spark.createDataFrame(
        [(1, "L1", "NP_1", 5, "Q", "R", "+", 10), (2, "L2", "NP_2", 9, "K", "E", "+", 11),
         (3, "L3", "NP_3", 12, "A", "V", "+", 12)],
        "variant_rgd_id long, locus_name string, protein_acc_id string, pos int, "
        "ref_aa string, var_aa string, strand string, transcript_rgd_id int",
    ).write.parquet(f"{store}/polyphen_info")
    batches = [[("NP_1", 5, "Q", "R")], [("NP_2", 9, "K", "E"), ("NP_3", 12, "A", "V")]]
    for i, batch in enumerate(batches):
        results = tmp_path / f"results{i}"
        results.mkdir()
        (results / "out.txt").write_text(
            "".join(_result_line(*k, k[2], k[3], 0.9) + "\n" for k in batch)
        )
        assert cli.main(["--tool", "PolyphenLoader", "--resultsDir", str(results),
                         "--store", store]) == 0
        assert capsys.readouterr().out.strip() == f"polyphen_rows={len(batch)}"
    assert spark.read.parquet(f"{store}/polyphen").count() == 3


def test_writing_tools_count_the_rows_of_their_write(spark, tmp_path, capsys, monkeypatch,
                                                     count_jobs):
    """Vcf8ColConverter2, the *2Vcf exporters and VariantRatLoaderFromDb
    print the rows their write landed, observed on that write rather than
    read back from the output. PolyphenFasta observes its written and
    sequence-less counts on its one write and runs no job after it."""
    from tests.test_sideloaders_multimodal import VCF8

    vcf = tmp_path / "v8.vcf"
    vcf.write_text(VCF8)
    cf2 = tmp_path / "cf2"
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("1", 30, "rs3", "G", "A", None, None, None, 360),
         ("1", 10, "rs1", "C", "T", "50", "PASS", ".", 360),
         ("2", 5, None, "A", "G", None, None, None, 70)],
        "chrom string, pos int, id string, ref string, alt string, qual string, "
        "filter string, info string, map_key int",
    ).write.parquet(f"{store}/clinvar_vcf")
    url = f"jdbc:derby:memory:rat{tmp_path.name};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "rgd_id int, name string") \
        .write.jdbc(url, "variant", properties={"driver": driver})

    calls = [
        (["--tool", "Vcf8ColConverter2", "--vcfFile", str(vcf), "--outFile", str(cf2)],
         lambda: spark.read.text(str(cf2)).count(), "rows={n} outFile=" + str(cf2)),
        (["--tool", "ClinVar2Vcf", "--mapKey", "360", "--store", store,
          "--outputFile", str(tmp_path / "cv")],
         lambda: spark.read.text(str(tmp_path / "cv")).count(),
         "lines={n} outputFile=" + str(tmp_path / "cv")),
        (["--tool", "VariantRatLoaderFromDb", "--url", url, "--driver", driver,
          "--outDir", str(tmp_path / "db")],
         lambda: spark.read.parquet(str(tmp_path / "db")).count(),
         "rows={n} outDir=" + str(tmp_path / "db")),
    ]
    for argv, written, expected in calls:
        assert cli.main(argv) == 0
        printed = capsys.readouterr().out.strip()
        n = written()
        assert n > 0 and printed == expected.format(n=n), argv[1]
    assert n == 3

    results = tmp_path / "pp_results"
    results.mkdir()
    (results / "log.txt").write_text("".join(
        f"ERROR: Unable to locate protein entry {acc} x\n" for acc in ("NP_1", "NP_2", "NP_9")
    ))
    dims = tmp_path / "pp_dims"
    spark.createDataFrame(
        [("NP_1", "M" * 75), ("NP_2", "KV"), ("NP_8", "AA")],
        "protein_acc_id string, protein_seq string",
    ).write.parquet(str(dims / "proteins.parquet"))
    sc = spark.sparkContext
    write_lines, at_write = cli._write_lines, []

    def write_then_count(df, path):
        write_lines(df, path)
        group = sc.getLocalProperty("spark.jobGroup.id")
        at_write.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(cli, "_write_lines", write_then_count)
    out = tmp_path / "fasta"
    rc, jobs = count_jobs(cli.main, ["--tool", "PolyphenFasta", "--resultsDir", str(results),
                                     "--outputDir", str(out), "--dims", str(dims)])
    assert rc == 0 and at_write == [jobs]
    assert capsys.readouterr().out.strip() == "fasta_written=2 no_sequence=1"
    assert sorted(
        r.value for r in spark.read.text(str(out)).collect() if r.value.startswith(">")
    ) == [">NP_1", ">NP_2"]


def _second_load_probe(spark, tmp_path, dims_root, capsys, monkeypatch, second):
    """Load strain A as sample 7, then the ``second`` (sample id, strain)
    pair into the same store; returns the store and the formatted plan of
    the stored details the second load's anti join probed."""
    from rat_strain_loader_pipeline_spark.pipelines import load

    vcf = tmp_path / "in.vcf"
    vcf.write_text(VCF2)
    cf2_dir = tmp_path / "cf2"
    assert cli.main(["--tool", "VcfConverter2", "--vcfFile", str(vcf),
                     "--outDir", str(cf2_dir), "--mapKey", "360"]) == 0
    load_variants, probes = load.load_variants, []

    def spy(derived, existing_v, existing_md, existing_sd, **kw):
        probes.append(existing_sd)
        return load_variants(derived, existing_v, existing_md, existing_sd, **kw)

    monkeypatch.setattr(load, "load_variants", spy)
    store = str(tmp_path / "store")
    for sid, strain in ((7, "A"), second):
        assert cli.main(["--tool", "VariantLoad3", "--store", store, "--dims", dims_root,
                         "--mapKey", "360", "-s", str(sid), "-i", str(cf2_dir / f"strain={strain}")]) == 0
    capsys.readouterr()
    plan = probes[-1]._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return store, plan


def test_variant_load3_probes_only_its_stored_samples_details(spark, tmp_path, dims_root,
                                                              capsys, monkeypatch):
    """The sample-detail anti join of a load whose -s id is stored reads
    only that id's stored details: its scan of the sample_id-partitioned
    table carries a sample_id PartitionFilter."""
    _, plan = _second_load_probe(spark, tmp_path, dims_root, capsys, monkeypatch, (7, "B"))
    scan = [line for line in plan.splitlines() if line.startswith("PartitionFilters:")]
    assert len(scan) == 1 and "sample_id" in scan[0], plan


def test_variant_load3_unstored_samples_probe_no_details(spark, tmp_path, dims_root, capsys,
                                                         monkeypatch):
    """A load whose -s ids have no stored partition probes the folded
    empty relation: a LocalTableScan, and no scan of the details table."""
    _, plan = _second_load_probe(spark, tmp_path, dims_root, capsys, monkeypatch, (8, "B"))
    assert "LocalTableScan" in plan and "Scan parquet" not in plan, plan


def test_variant_load3_reloading_a_sample_inserts_no_duplicate_details(
    spark, tmp_path, dims_root, capsys, monkeypatch
):
    """Loading the same calls again under the same -s id finds every
    detail row stored: the details table is unchanged."""
    from rat_strain_loader_pipeline_spark.store import read_table

    store, _ = _second_load_probe(spark, tmp_path, dims_root, capsys, monkeypatch, (7, "A"))
    rows = read_table(spark, store, "variant_sample_detail").collect()
    assert len(rows) == len({r["rgd_id"] for r in rows}) == 3, rows  # A's three calls
