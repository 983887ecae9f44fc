"""Source tests: CF2 round-trip, VCF melt/parse, wiggle stateful scan, FASTA."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.sources.cf2 import read_cf2
from rat_strain_loader_pipeline_spark.sources.fasta import (
    fasta_dict,
    get_dna_chunk,
    read_fasta,
)
from rat_strain_loader_pipeline_spark.sources.vcf import (
    format_index,
    gt_field,
    normalize_chromosome,
    parse_snpeff_ann,
    read_vcf_8col,
    read_vcf_long,
)
from rat_strain_loader_pipeline_spark.sources.wig import read_fixedstep_wig


def test_read_cf2_gz(spark, tmp_path):
    lines = [
        "#chr\tposition\tref\tvar\trsid\ta\tc\tg\tt\ttd\thgvs\trgd\tad\tac\trd\tpad",
        "1\t100\tA\tC\trs1\t10\t40\t0\t0\t50\t\t0\t40\t1\t50\t",
        "2\t200\t\tTT\t\t\t\t\t\t\t\t0\t30\t1\t60\tG",
    ]
    p = tmp_path / "x.txt.gz"
    with gzip.open(p, "wt") as f:
        f.write("\n".join(lines) + "\n")
    df = read_cf2(spark, str(p))
    rows = {r["position"]: r for r in df.collect()}
    assert rows[100]["ref_nuc"] == "A" and rows[100]["count_c"] == 40
    assert rows[200]["ref_nuc"] is None  # insertion: NULL ref
    assert rows[200]["padding_base"] == "G"
    assert len(rows) == 2  # comment line skipped


VCF_TEXT = """##fileformat=VCFv4.1
##contig=<ID=1>
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tBN\tSHR
1\t100\trs7\tG\tA\t50\tPASS\tDP=60\tGT:AD:DP\t0/1:30,30:60\t./.
chr2\t200\t.\tG\tGT,C\t99\tPASS\t.\tGT:CLCAD2:DP\t1/1:0,40:40\t0/0
M\t300\t.\tA\tT\t99\tPASS\t.\tGT:AD:DP\t0/1:5,5:10\t1/1:0,9:9
Un\t400\t.\tA\tT\t99\tPASS\t.\tGT:AD:DP\t0/1:5,5:10\t0/1:2,2:4
"""


def test_read_vcf_long_melt_and_normalize(spark, tmp_path):
    p = tmp_path / "v.vcf"
    p.write_text(VCF_TEXT)
    df = read_vcf_long(spark, str(p))
    rows = df.collect()
    # 4 sites, 2 strains, minus 'Un' row (rejected) → 3*2
    assert len(rows) == 6
    chroms = {r["chrom"] for r in rows}
    assert chroms == {"1", "2", "MT"}  # chr prefix stripped, M→MT, Un dropped
    bn_100 = [r for r in rows if r["strain"] == "BN" and r["pos"] == 100][0]
    assert bn_100["gt_data"] == "0/1:30,30:60"
    assert bn_100["format"] == "GT:AD:DP"


def test_read_vcf_long_runs_no_job_before_an_action(spark, tmp_path, count_jobs):
    """The strain names come from a driver-side read of the header, so
    building the long-form frame runs no Spark job."""
    p = tmp_path / "v.vcf"
    p.write_text(VCF_TEXT)
    df, jobs = count_jobs(read_vcf_long, spark, str(p))
    assert jobs == 0
    assert sorted({r["strain"] for r in df.collect()}) == ["BN", "SHR"]


def test_vcf_header_read_from_gz_and_directory(spark, tmp_path):
    """A gzipped VCF, a directory holding the VCF and a glob matching
    it give the plain file's strains and rows; the directory's hidden
    files are skipped, as spark.read.text skips them. A header far longer than one read
    block and CRLF line ends change nothing."""
    from rat_strain_loader_pipeline_spark.sources.vcf import _HEADER_BLOCK

    meta = "".join(f"##contig=<ID=c{i},length={i}>\n" for i in range(_HEADER_BLOCK // 20))
    text = VCF_TEXT.replace("##contig=<ID=1>\n", meta)
    plain = tmp_path / "v.vcf"
    plain.write_text(text)
    packed = tmp_path / "v.vcf.gz"
    packed.write_bytes(gzip.compress(text.encode()))
    folder = tmp_path / "dir"
    folder.mkdir()
    (folder / "v.vcf").write_text(text)
    (folder / "_a.vcf").write_text("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tX\n")
    crlf = tmp_path / "crlf.vcf"
    crlf.write_bytes(text.replace("\n", "\r\n").encode())

    def rows(path):
        return sorted(map(tuple, read_vcf_long(spark, str(path)).collect()))

    want = rows(plain)
    assert {r[-2] for r in want} == {"BN", "SHR"}
    for path in (packed, folder, folder / "*.vcf", crlf):
        assert rows(path) == want, path


def test_format_introspection_and_gt_field(spark):
    df = spark.createDataFrame(
        [("GT:AD:DP", "0/1:30,31:61"), ("GT:CLCAD2:DP", "1/1:0,40:40"), ("GT:DP", "0/1:9")],
        "fmt string, gt string",
    )
    out = df.select(
        format_index(F.col("fmt"), "AD").alias("ad_i"),
        format_index(F.col("fmt"), "DP").alias("dp_i"),
        gt_field(F.col("gt"), format_index(F.col("fmt"), "AD")).alias("ad"),
        gt_field(F.col("gt"), format_index(F.col("fmt"), "DP")).alias("dp"),
    ).collect()
    assert out[0]["ad_i"] == 2 and out[0]["ad"] == "30,31" and out[0]["dp"] == "61"
    assert out[1]["ad_i"] == 2 and out[1]["ad"] == "0,40"  # CLCAD2 fallback
    assert out[2]["ad_i"] == 0 and out[2]["ad"] is None and out[2]["dp"] == "9"


def test_read_vcf_8col_info_map(spark, tmp_path):
    p = tmp_path / "v8.vcf"
    p.write_text(
        "##x\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "1\t100\trs1\tA\tT\t.\t.\tDP=55;AC=12\n"
    )
    df = read_vcf_8col(spark, str(p))
    r = df.collect()[0]
    assert r["info_map"]["DP"] == "55" and r["info_map"]["AC"] == "12"


def test_normalize_chromosome_accession_map(spark):
    df = spark.createDataFrame([("NC_005100.4",), ("chr3",), ("c",)], "c string")
    out = df.select(
        normalize_chromosome(F.col("c"), {"NC_005100.4": "2"}).alias("n")
    ).collect()
    assert [r["n"] for r in out] == ["2", "3", None]


WIG_TEXT = """fixedStep chrom=chr1 start=3462 step=1
0.106
0.099
0.084
fixedStep chrom=chr1 start=5000 step=5
0.5
0.6
fixedStep chrom=chrUn_scaffold123 start=1 step=1
0.9
fixedStep chrom=chr2 start=10 step=1
0.25
"""


def test_wig_fixedstep_stateful_parse(spark, tmp_path):
    p = tmp_path / "c.wig"
    p.write_text(WIG_TEXT)
    df = read_fixedstep_wig(spark, str(p))
    rows = sorted((r["chr"], r["position"], r["score"]) for r in df.collect())
    assert rows == [
        ("1", 3462, 0.106),
        ("1", 3463, 0.099),
        ("1", 3464, 0.084),
        ("1", 5000, 0.5),
        ("1", 5005, 0.6),  # step=5
        ("2", 10, 0.25),
    ]  # scaffold chrom rejected


def test_wig_chunked_multi_split_equivalence(spark, tmp_path):
    """The splittable two-phase parse must agree with the window-based
    formulation even when a file is forced into many sub-block splits
    (cursor state carried across split boundaries) and across files."""
    from rat_strain_loader_pipeline_spark.sources.wig import parse_fixedstep_lines

    # a block big enough to straddle several 256-byte splits, plus edge
    # lines: junk data (consumes a position), scaffold chrom (rejected)
    lines = ["fixedStep chrom=chr1 start=100 step=2"]
    lines += [f"0.{i:03d}" for i in range(60)]
    lines += ["fixedStep chrom=chrUn_scaf start=1 step=1", "0.9",
              "fixedStep chrom=chr2 start=7", "1.5", "junk", "2.5"]
    lines += ["fixedStep chrom=chrM start=3 step=4"]
    lines += [f"0.{i:03d}" for i in range(40)]
    p = tmp_path / "big.wig"
    p.write_text("\n".join(lines) + "\n")

    chunked = read_fixedstep_wig(spark, str(p), split_max_bytes=256)
    assert chunked.rdd.getNumPartitions() > 1  # really multi-split

    # inject blank lines into the window-path input: they must not
    # consume block positions (parity with the chunked file parse)
    ref_with_blanks = []
    for ln in lines:
        ref_with_blanks.append(ln)
        ref_with_blanks.append("")
    ref_lines = spark.createDataFrame(
        [("f", i, ln) for i, ln in enumerate(ref_with_blanks)],
        "__file string, __line_id long, value string",
    )
    want = sorted(map(tuple, parse_fixedstep_lines(ref_lines).collect()))
    got = sorted(map(tuple, chunked.collect()))
    assert got == want
    assert (9, "2", 2.5) in got  # junk consumed position 8


def test_fasta_read_and_chunk(spark, tmp_path):
    p = tmp_path / "g.fa"
    p.write_text(">chr1 test\nACGTAC\nGTNNAC\n>2\nTTTTGGGG\n")
    seqs = fasta_dict(read_fasta(spark, str(p)))
    assert seqs == {"1": "ACGTACGTNNAC", "2": "TTTTGGGG"}
    assert get_dna_chunk(seqs, "1", 1, 4) == "ACGT"
    assert get_dna_chunk(seqs, "1", 5, 8) == "ACGT"
    assert get_dna_chunk(seqs, "2", 5, 99) == "GGGG"  # clamped
    assert get_dna_chunk(seqs, "9", 1, 4) == ""


def test_fasta_blocks_dna_chunks(spark, tmp_path):
    """Block-table random access (S6 scale path) agrees with the
    broadcast-dict get_dna_chunk on every clamping/edge case."""
    import random

    from rat_strain_loader_pipeline_spark.sources.fasta import (
        dna_chunks,
        fasta_blocks,
        fasta_from_dict,
    )

    rng = random.Random(7)
    seqs = {
        "1": "".join(rng.choice("ACGT") for _ in range(137)),
        "2": "".join(rng.choice("ACGT") for _ in range(40)),
    }
    fa = fasta_from_dict(spark, seqs)
    blocks = fasta_blocks(fa, block_size=16)
    # block table tiles the sequences exactly
    assert blocks.selectExpr("sum(length(seq_block))").first()[0] == 137 + 40

    cases = [
        (1, "1", 1, 16),      # exactly one block
        (2, "1", 15, 18),     # straddles a block boundary
        (3, "1", 1, 137),     # whole chromosome
        (4, "1", 130, 999),   # stop clamped
        (5, "1", -5, 3),      # start clamped
        (6, "1", 50, 40),     # inverted -> ''
        (7, "9", 1, 4),       # unknown chr -> ''
        (8, "2", 33, 48),     # final short block
    ] + [(100 + i, rng.choice("12"), rng.randint(-3, 150), rng.randint(-3, 160))
         for i in range(30)]
    iv = spark.createDataFrame(
        cases, "chunk_id long, chr string, start long, stop long"
    )
    got = {r["chunk_id"]: r["chunk"] for r in dna_chunks(iv, blocks, 16).collect()}
    assert len(got) == len(cases)
    for cid, chrom, start, stop in cases:
        assert got[cid] == get_dna_chunk(seqs, chrom, start, stop), (cid, chrom, start, stop)


def test_dna_chunks_rows_keep_their_own_values(spark):
    """Each interval row comes back once with its own values and its
    exact chunk: a null extra column, an unknown chromosome, stop <
    start, and chunks spanning 3 and more blocks. The pieces and the
    interval rows meet in one union and one groupBy; the only join in
    the executed plan is the blocks join (no join back onto the
    intervals)."""
    from rat_strain_loader_pipeline_spark.sources.fasta import (
        dna_chunks,
        fasta_blocks,
        fasta_from_dict,
    )
    from tests.test_consequence import _plan_nodes

    seqs = {"1": ("ACGTTGCA" * 20)[:137], "2": "TTTTGGGGCCCCAAAA"}
    blocks = fasta_blocks(fasta_from_dict(spark, seqs), block_size=16)
    cases = [
        (1, "1", 3, 50, None, None),          # 4 blocks, null extras
        (2, "9", 1, 10, "unknown", [2]),      # chromosome missing
        (3, "1", 40, 20, "inverted", None),   # stop < start
        (4, "1", 1, 137, None, [4, -4]),      # whole chromosome, 9 blocks
        (5, "2", 14, 16, "", []),             # one block, empty extras
        (6, "1", 16, 49, "three", [6]),       # exactly 3 blocks
    ]
    iv = spark.createDataFrame(
        cases,
        "chunk_id long, chr string, start long, stop long, tag string, xs array<int>",
    )
    out = dna_chunks(iv, blocks, block_size=16)
    assert out.dtypes == iv.dtypes + [("chunk", "string")]
    rows = out.collect()
    assert sorted(r["chunk_id"] for r in rows) == [c[0] for c in cases]
    got = {r["chunk_id"]: r for r in rows}
    for cid, chrom, start, stop, tag, xs in cases:
        r = got[cid]
        assert (r["chr"], r["start"], r["stop"], r["tag"], r["xs"]) == (
            chrom, start, stop, tag, xs
        ), cid
        assert r["chunk"] == get_dna_chunk(seqs, chrom, start, stop), cid
    assert len(got[1]["chunk"]) == 48 and len(got[4]["chunk"]) == 137

    names = [n.getClass().getSimpleName()
             for n in _plan_nodes(out._jdf.queryExecution().executedPlan())]
    assert sum("Join" in n for n in names) == 1, names
    assert "UnionExec" in names, names


def test_parse_snpeff_ann(spark):
    info = (
        "AB=0.5;ANN=T|missense_variant|MODERATE|Gene1|G1|transcript|NM_1|"
        "protein_coding|2/5|c.100A>T|p.K34*|100|90|30||,"
        "T|synonymous_variant|LOW|Gene2|G2|transcript|NM_2|protein_coding|||||||;DP=9"
    )
    df = spark.createDataFrame([(info,)], "info string")
    out = df.select(parse_snpeff_ann(F.col("info")).alias("anns")).collect()[0]["anns"]
    assert len(out) == 2
    assert out[0][1] == "missense_variant"
    assert out[0][3] == "Gene1"
    assert out[1][1] == "synonymous_variant"
    assert out[1][8] is None  # empty field → NULL


def test_cf2_write_roundtrip(spark, tmp_path):
    """K4 writer: per-strain partitioned gzip TSV reads back identically
    through the S1 reader (NULL ↔ '' encoding preserved for indels)."""
    import os

    from rat_strain_loader_pipeline_spark.sources.cf2 import (
        cf2_from_rows,
        read_cf2,
        write_cf2,
    )
    from pyspark.sql import functions as F

    rows = [
        ("1", 100, "A", "C", "rs1", 1, 2, 3, 4, 10, None, 77, 5, 1, 9, None),
        ("1", 200, None, "TT", None, 0, 0, 0, 0, 8, "h1", 78, 4, 1, 8, "G"),
        ("X", 300, "GG", None, None, 1, 1, 1, 1, 12, None, 79, 6, 2, 11, "T"),
    ]
    df = cf2_from_rows(spark, rows)
    tagged = df.withColumn(
        "strain", F.when(F.col("position") < 250, "S1").otherwise("S2")
    )
    out = str(tmp_path / "cf2-out")
    write_cf2(tagged, out, partition_by_strain=True)

    assert sorted(d for d in os.listdir(out) if d.startswith("strain=")) == [
        "strain=S1",
        "strain=S2",
    ]
    back = read_cf2(spark, os.path.join(out, "strain=S1"))
    got = sorted(tuple(r) for r in back.collect())
    assert got == sorted(r for r in rows if r[1] < 250)
    # gzip files actually produced
    files = os.listdir(os.path.join(out, "strain=S1"))
    assert any(f.endswith(".csv.gz") for f in files)


def test_wig_dir_skips_hidden_files(spark, tmp_path):
    """Directory reads must apply Hadoop's hidden-file convention:
    _SUCCESS / .crc companions never reach the parser."""
    d = tmp_path / "wigs"
    d.mkdir()
    (d / "a.wig").write_text("fixedStep chrom=chr1 start=5 step=1\n0.5\n")
    (d / "_SUCCESS").write_text("")
    (d / ".a.wig.crc").write_text("fixedStep chrom=chr9 start=1\n9.9\n")
    got = sorted(map(tuple, read_fixedstep_wig(spark, str(d)).collect()))
    assert got == [(5, "1", 0.5)]


def test_jsonl_quarantine_routes_bad_lines(spark, tmp_path):
    from rat_strain_loader_pipeline_spark.sources.jsonl import (
        read_jsonl_with_quarantine,
    )

    p = tmp_path / "landing"
    lines = [
        '{"id": 1, "name": "ok"}',
        '{"id": 2, "name": "with \\n newline"}',
        "{definitely broken",
        '{"id": }',
    ]
    spark.createDataFrame([(s,) for s in lines], "value string").coalesce(
        1
    ).write.text(str(p))
    out = read_jsonl_with_quarantine(spark, str(p), "id long, name string")
    rows = out.collect()
    good = {r["id"]: r["name"] for r in rows if not r["is_quarantined"]}
    bad = [r["_corrupt"] for r in rows if r["is_quarantined"]]
    assert good == {1: "ok", 2: "with \n newline"}
    assert sorted(bad) == sorted(["{definitely broken", '{"id": }'])


def test_schema_evolution_merge_read_backfills_nulls(spark, tmp_path):
    import os

    v1 = spark.createDataFrame([(1, "a")], "id long, x string")
    v2 = spark.createDataFrame([(2, "b", 9)], "id long, x string, extra long")
    p1, p2 = os.path.join(tmp_path, "v1"), os.path.join(tmp_path, "v2")
    v1.write.parquet(p1)
    v2.write.parquet(p2)
    merged = spark.read.option("mergeSchema", "true").parquet(p1, p2)
    rows = {r["id"]: (r["x"], r["extra"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9)}


def test_parquet_footer_read_equals_inference_and_runs_no_job(spark, tmp_path, count_jobs):
    """``read_parquet_footer`` (the CLI's ``--dims`` read) gives the schema
    and rows of the inferring ``spark.read.parquet`` without its job: for a
    pyarrow-written single file, a Spark-written partitioned directory
    with decimal, timestamp, array and field-metadata columns, a
    directory whose part files differ in schema (inference takes the
    first by path), and one with a ``_common_metadata`` summary whose
    schema the part file lacks a column of (inference takes the summary)."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rat_strain_loader_pipeline_spark.sources.tables import read_parquet_footer

    single = str(tmp_path / "genes.parquet")
    pq.write_table(pa.table({
        "gene_rgd_id": pa.array([1, 2], pa.int32()),
        "chromosome": ["1", "X"],
        "start_pos": pa.array([10, 20], pa.int64()),
        "strand": ["+", None],
    }), single)

    parted = str(tmp_path / "features.parquet")
    spark.createDataFrame(
        [
            (1, decimal.Decimal("1.25"), datetime.datetime(2024, 1, 2, 3, 4, 5), [1, 2], "01"),
            (2, None, None, None, "X"),
            (3, decimal.Decimal("-7.50"), datetime.datetime(2023, 5, 6), [], "01"),
        ],
        "id int, score decimal(9,2), ts timestamp, ids array<int>, chromosome string",
    ).withColumn(
        "id", F.col("id").alias("id", metadata={"comment": "feature id"})
    ).repartition(2).write.partitionBy("chromosome").parquet(parted)

    differing = tmp_path / "transcripts.parquet"
    differing.mkdir()
    pq.write_table(pa.table({"id": [3], "name": ["c"], "score": [1.5]}),
                   str(differing / "part-1.parquet"))
    pq.write_table(pa.table({"id": [1, 2], "name": ["a", "b"]}),
                   str(differing / "part-0.parquet"))

    summarized = tmp_path / "strains.parquet"
    summarized.mkdir()
    # the data file sorts before the summary, so only the summary
    # preference picks the summary
    pq.write_table(pa.table({"id": [1, 2], "name": ["a", None]}),
                   str(summarized / "00000.parquet"))
    pq.write_metadata(pa.schema([("id", pa.int64()), ("name", pa.string()),
                                 ("origin", pa.string())]),
                      str(summarized / "_common_metadata"))

    paths = (single, parted, str(differing), str(summarized))
    widths = []
    for path in paths:
        inferred = spark.read.parquet(path)
        widths.append(len(inferred.columns))
        read, jobs = count_jobs(read_parquet_footer, spark, path)
        assert jobs == 0
        assert read.schema.json() == inferred.schema.json()
        cols = inferred.columns
        assert sorted(map(tuple, read.select(*cols).collect()), key=repr) == sorted(
            map(tuple, inferred.collect()), key=repr
        )
    # the two file choices the cases above pin: the first part file by
    # path, and the summary over the data file
    assert widths[2:] == [2, 3]
