"""Manager-analog CLI: ``--tool <Name>`` dispatch over the Spark
pipelines, tool-for-tool with the reference suite (Manager.java:30-91).

Every tool name the reference dispatches resolves here to the
corresponding pipeline on the parquet store:

    python -m rat_strain_loader_pipeline_spark.cli --tool VcfConverter2 \
        --vcfFile in.vcf --outDir out/

Store-table inputs that the reference reads from Oracle (genes,
transcripts, features, proteins, db_snp) come from a ``--dims`` parquet
root; variant-cycle tables live under ``--store``. Flags mirror the
reference's names (``--vcfFile``, ``--sampleId``, ``--outDir``, ...)
so existing run scripts translate 1:1.
"""

from __future__ import annotations

import argparse
import json
import sys

TOOLS = {}


def tool(name):
    def reg(fn):
        TOOLS[name] = fn
        return fn

    return reg


def _spark(app: str):
    from rat_strain_loader_pipeline_spark.session import get_spark

    return get_spark(f"cli-{app}")


def _dims(spark, root: str, table: str):
    from rat_strain_loader_pipeline_spark.sources.tables import read_parquet_footer

    return read_parquet_footer(spark, f"{root.rstrip('/')}/{table}.parquet")


def _store_or_empty(spark, root: str, table: str, schema, **filters):
    """The store table, or ``store.empty_relation`` when it is absent."""
    from pyspark.sql.utils import AnalysisException

    from rat_strain_loader_pipeline_spark.store import empty_relation, read_table

    try:
        return read_table(spark, root, table, **filters)
    except AnalysisException:
        return empty_relation(spark, schema)


def _write_lines(df, path: str) -> None:
    df.coalesce(1).write.mode("overwrite").text(path)


def _counted(df, name: str):
    """``df`` with a row count observed on the write that consumes it:
    (df', observation); ``observation.get["n"]`` after that write is the
    number of rows it landed, with no recount of the output."""
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.observe import with_counters

    return with_counters(df, name, n=F.count(F.lit(1)))


# ---------------------------------------------------------------- converters

@tool("VcfConverter2")
def vcf_converter2(argv):
    p = argparse.ArgumentParser(prog="VcfConverter2")
    p.add_argument("--vcfFile", required=True)
    p.add_argument("--outDir", required=True)
    p.add_argument("--mapKey", type=int, default=70)
    p.add_argument("--processVariantsSameAsRef", action="store_true")
    p.add_argument("--compressOutputFile", action="store_true")
    a = p.parse_args(argv)
    from rat_strain_loader_pipeline_spark.pipelines.convert import vcf_to_cf2
    from rat_strain_loader_pipeline_spark.sources.cf2 import write_cf2

    spark = _spark("vcf-convert")
    out, rows = _counted(vcf_to_cf2(
        spark, a.vcfFile, map_key=a.mapKey,
        process_variants_same_as_ref=a.processVariantsSameAsRef,
    ), "cf2-rows")
    write_cf2(out, a.outDir, partition_by_strain=True,
              compression="gzip" if a.compressOutputFile else "none")
    print(f"rows={rows.get['n']} outDir={a.outDir}")


@tool("Vcf8ColConverter2")
def vcf8_converter2(argv):
    p = argparse.ArgumentParser(prog="Vcf8ColConverter2")
    p.add_argument("--vcfFile", action="append", required=True)
    p.add_argument("--outFile", required=True)
    p.add_argument("--mapKey", type=int, default=70)
    p.add_argument("--processVariantsSameAsRef", action="store_true")
    a = p.parse_args(argv)
    from rat_strain_loader_pipeline_spark.pipelines.sideloaders import vcf8_to_cf2
    from rat_strain_loader_pipeline_spark.sources.cf2 import write_cf2

    spark = _spark("vcf8-convert")
    out = None
    for f in a.vcfFile:
        df = vcf8_to_cf2(spark, f, process_variants_same_as_ref=a.processVariantsSameAsRef)
        out = df if out is None else out.unionByName(df)
    out, rows = _counted(out, "cf2-rows")
    write_cf2(out, a.outFile, compression="none")
    print(f"rows={rows.get['n']} outFile={a.outFile}")


# ---------------------------------------------------------------- load cycle

@tool("VariantLoad3")
def variant_load3(argv):
    p = argparse.ArgumentParser(prog="VariantLoad3")
    p.add_argument("--sampleId", "-s", action="append", required=True, type=int)
    p.add_argument("--inputFile", "-i", action="append", required=True)
    p.add_argument("--store", required=True)
    p.add_argument("--dims")  # optional genes dimension for genic status
    p.add_argument("--mapKey", type=int, default=70)
    p.add_argument("--gender", default="F")
    p.add_argument("--verifyIfInRgd", "-v", action="store_true")
    a = p.parse_args(argv)
    if len(a.sampleId) != len(a.inputFile):
        p.error("need matching -s/-i pairs")
    from functools import reduce

    from pyspark.sql import DataFrame

    from rat_strain_loader_pipeline_spark.pipelines.load import (
        derive_variants_multi, load_variants, tag_sample,
    )
    from rat_strain_loader_pipeline_spark.schemas import (
        VARIANT_MAP_DATA_SCHEMA, VARIANT_SAMPLE_DETAIL_SCHEMA, VARIANT_SCHEMA,
    )
    from rat_strain_loader_pipeline_spark.sources.cf2 import read_cf2
    from rat_strain_loader_pipeline_spark.store import write_load_result

    spark = _spark("variant-load3")
    genes = _dims(spark, a.dims, "genes") if a.dims else None
    # every -s/-i pair derives in ONE staged pass: each lazy CSV read is
    # tagged with its sample id, gender and map key as literals, and the
    # tagged reads are unioned
    cf2 = reduce(DataFrame.unionByName, (
        tag_sample(read_cf2(spark, path), sid, a.gender, a.mapKey)
        for sid, path in zip(a.sampleId, a.inputFile)
    ))
    derived = derive_variants_multi(cf2, genes=genes)
    v = _store_or_empty(spark, a.store, "variant", VARIANT_SCHEMA)
    # positions only collide within ONE assembly: probe THIS map_key's
    # map data, or a same-key row from another assembly suppresses the
    # map-data insert for this one
    existing_md = _store_or_empty(
        spark, a.store, "variant_map_data", VARIANT_MAP_DATA_SCHEMA, map_key=a.mapKey
    )
    # only this call's samples can match a new detail row; the table is
    # partitioned by sample_id, so the filter prunes the scan to them,
    # and to an empty relation when none of them is stored yet
    existing_sd = _store_or_empty(
        spark, a.store, "variant_sample_detail", VARIANT_SAMPLE_DETAIL_SCHEMA,
        sample_id=a.sampleId,
    )
    # the upsert probes the NATURAL key — pass the variant⋈map projection
    existing_v = v.join(
        existing_md.select("rgd_id", "chromosome", "start_pos", "end_pos"), "rgd_id"
    ).select(
        "rgd_id", "chromosome", "start_pos", "end_pos",
        "ref_nuc", "var_nuc", "variant_type",
    )
    # new ids come from one sequence over every assembly: floor them at
    # the whole variant table's max, not at this map_key's slice
    res = load_variants(derived, existing_v, existing_md, existing_sd,
                        id_space=v.select("rgd_id"))
    write_load_result(res, a.store, a.mapKey)
    print(" ".join(f"{k}={v}" for k, v in res.counters.items()))


@tool("VariantPostProcessing")
def variant_post_processing(argv):
    p = argparse.ArgumentParser(prog="VariantPostProcessing")
    p.add_argument("--sampleId", action="append", type=int)
    p.add_argument("--fastaFile", required=True)
    p.add_argument("--store", required=True)
    p.add_argument("--dims", required=True)
    p.add_argument("--mapKey", type=int, default=70)
    p.add_argument("--chr", dest="chrom")
    p.add_argument("--verifyIfInRgd", action="store_true")
    a = p.parse_args(argv)
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.pipelines.postprocess import (
        postprocess_variants,
    )
    from rat_strain_loader_pipeline_spark.sources.fasta import (
        fasta_blocks, read_fasta,
    )
    from rat_strain_loader_pipeline_spark.store import read_table, write_table

    spark = _spark("post-processing")
    v = read_table(spark, a.store, "variant")
    md = read_table(spark, a.store, "variant_map_data", map_key=a.mapKey,
                    chromosome=a.chrom)
    variants = v.join(md.select("rgd_id", "chromosome", "start_pos", "end_pos"), "rgd_id")
    if a.sampleId:
        sd = read_table(spark, a.store, "variant_sample_detail")
        variants = variants.join(
            sd.filter(F.col("sample_id").isin(a.sampleId)).select("rgd_id").distinct(),
            "rgd_id",
        )
    verify = None
    if a.verifyIfInRgd:
        from pyspark.sql.utils import AnalysisException

        try:
            verify = read_table(spark, a.store, "variant_transcript")
        except AnalysisException:
            verify = None
    blocks = fasta_blocks(read_fasta(spark, a.fastaFile))
    res = postprocess_variants(
        variants,
        _dims(spark, a.dims, "genes"),
        _dims(spark, a.dims, "transcripts"),
        _dims(spark, a.dims, "features"),
        map_key=a.mapKey,
        verify_against=verify,
        fasta_blocks=blocks,
    )
    vt, rows = _counted(res.variant_transcript, "variant-transcript-rows")
    write_table(vt, a.store, "variant_transcript")
    print(f"variant_transcript_rows={rows.get['n']}")


# ------------------------------------------------------------------ polyphen

def _polyphen_candidates(spark, store, dims, sample, chrom):
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.pipelines.polyphen import (
        polyphen_candidates,
    )
    from rat_strain_loader_pipeline_spark.store import read_table

    vt = read_table(spark, store, "variant_transcript")
    v = read_table(spark, store, "variant")
    md = read_table(spark, store, "variant_map_data", chromosome=chrom)
    if sample is not None:
        sd = read_table(spark, store, "variant_sample_detail")
        v = v.join(
            sd.filter(F.col("sample_id") == sample).select("rgd_id").distinct(), "rgd_id"
        )
    return polyphen_candidates(
        v, md, vt, _dims(spark, dims, "transcripts"), _dims(spark, dims, "genes")
    )


@tool("Polyphen")
@tool("Polyphen2")
def polyphen(argv):
    p = argparse.ArgumentParser(prog="Polyphen")
    p.add_argument("--sample", type=int)
    p.add_argument("--chr", dest="chrom")
    p.add_argument("--outDir", required=True)
    p.add_argument("--store", required=True)
    p.add_argument("--dims", required=True)
    a = p.parse_args(argv)
    from rat_strain_loader_pipeline_spark.pipelines.polyphen import (
        polyphen_input_lines,
    )

    spark = _spark("polyphen")
    cand = _polyphen_candidates(spark, a.store, a.dims, a.sample, a.chrom)
    lines, rows = _counted(polyphen_input_lines(cand), "polyphen-candidates")
    _write_lines(lines, a.outDir)
    print(f"candidates={rows.get['n']} outDir={a.outDir}")


@tool("PolyphenFasta")
def polyphen_fasta(argv):
    p = argparse.ArgumentParser(prog="PolyphenFasta")
    p.add_argument("--sample", type=int)
    p.add_argument("--chr", dest="chrom")
    p.add_argument("--resultsDir", required=True)
    p.add_argument("--outputDir", required=True)
    p.add_argument("--dims", required=True)
    a = p.parse_args(argv)
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.observe import with_counters
    from rat_strain_loader_pipeline_spark.pipelines.polyphen import (
        polyphen_fasta_for_missing,
    )

    spark = _spark("polyphen-fasta")
    logs = spark.read.text(a.resultsDir).withColumnRenamed("value", "line")
    out, c = with_counters(
        polyphen_fasta_for_missing(logs, _dims(spark, a.dims, "proteins")),
        "polyphen-fasta",
        w=F.sum(F.when(F.col("found"), 1).otherwise(0)),
        m=F.sum(F.when(~F.col("found"), 1).otherwise(0)),
    )
    _write_lines(out.filter("found").select(F.col("fasta").alias("value")), a.outputDir)
    print(f"fasta_written={c.get['w'] or 0} no_sequence={c.get['m'] or 0}")


@tool("PolyphenLoader")
@tool("PolyphenLoader2")
def polyphen_loader(argv):
    p = argparse.ArgumentParser(prog="PolyphenLoader")
    p.add_argument("--sample", type=int)
    p.add_argument("--chr", dest="chrom")
    p.add_argument("--resultsDir", required=True)
    p.add_argument("--store", required=True)
    a = p.parse_args(argv)
    from rat_strain_loader_pipeline_spark.pipelines.polyphen import (
        load_polyphen_results, parse_polyphen_results,
    )
    from rat_strain_loader_pipeline_spark.store import read_table, write_table

    spark = _spark("polyphen-loader")
    raw = spark.read.text(a.resultsDir).withColumnRenamed("value", "line")
    results = parse_polyphen_results(raw)
    info = read_table(spark, a.store, "polyphen_info")
    out, rows = _counted(load_polyphen_results(results, info), "polyphen-rows")
    write_table(out, a.store, "polyphen")
    print(f"polyphen_rows={rows.get['n']}")


# -------------------------------------------------------------------- fixups

def _fixup_tool(name: str, fixup: str, *tables: str, dims: str | None = None) -> None:
    """Register a fixup tool: it reads ``tables`` from ``--store`` (and
    the ``dims`` table from ``--dims``), commits the patched table back
    with one write (``store.commit_table``) and prints the counters the
    fixup observed on that write."""

    def run(argv):
        p = argparse.ArgumentParser(prog=name)
        p.add_argument("--store", required=True)
        if dims:
            p.add_argument("--dims", required=True)
        a = p.parse_args(argv)
        from rat_strain_loader_pipeline_spark.pipelines import fixups
        from rat_strain_loader_pipeline_spark.store import read_table

        spark = _spark(name.lower())
        inputs = [read_table(spark, a.store, t) for t in tables]
        if dims:
            inputs.append(_dims(spark, a.dims, dims))
        # looked up at call time, so a wrapper put on the module is called
        _, counters = getattr(fixups, fixup)(*inputs, a.store)
        print(f"{name}: " + " ".join(f"{k}={v}" for k, v in counters.items()))

    TOOLS[name] = run


_fixup_tool("VariantTypeFixUp", "variant_type_fixup", "variant")
_fixup_tool("FrameShiftFixUp", "frameshift_fixup", "variant_transcript", "variant")
_fixup_tool("GenicStatusFixUp", "genic_status_fixup", "variant_map_data", dims="genes")


# ----------------------------------------------------------------- exporters

def _vcf_export(argv, prog, table):
    p = argparse.ArgumentParser(prog=prog)
    p.add_argument("--mapKey", type=int, default=70)
    p.add_argument("--source", default=None)  # DbSnp2Vcf only
    p.add_argument("--outputFile", required=True)
    p.add_argument("--store", required=True)
    a = p.parse_args(argv)
    from pyspark.sql import functions as F

    from rat_strain_loader_pipeline_spark.pipelines.sideloaders import (
        vcf_output_lines,
    )
    from rat_strain_loader_pipeline_spark.store import read_table

    spark = _spark(prog.lower())
    src = read_table(spark, a.store, table, map_key=a.mapKey)
    if a.source is not None and "source" in src.columns:
        src = src.filter(F.col("source") == a.source)
    lines, rows = _counted(
        vcf_output_lines(src).withColumnRenamed("line", "value"), "vcf-lines"
    )
    _write_lines(lines, a.outputFile)
    print(f"lines={rows.get['n']} outputFile={a.outputFile}")


@tool("ClinVar2Vcf")
def clinvar2vcf(argv):
    _vcf_export(argv, "ClinVar2Vcf", "clinvar_vcf")


@tool("DbSnp2Vcf")
def dbsnp2vcf(argv):
    _vcf_export(argv, "DbSnp2Vcf", "db_snp_vcf")


@tool("GwasCat2Vcf")
def gwascat2vcf(argv):
    _vcf_export(argv, "GwasCat2Vcf", "gwas_vcf")


@tool("ConservationScore")
def conservation_score(argv):
    p = argparse.ArgumentParser(prog="ConservationScore")
    p.add_argument("--fileName", required=True)
    p.add_argument("--tableName", default="conservation_score")
    p.add_argument("--store", required=True)
    a = p.parse_args(argv)
    from rat_strain_loader_pipeline_spark.pipelines.sideloaders import (
        load_conservation,
    )
    from rat_strain_loader_pipeline_spark.store import write_table

    spark = _spark("conservation")
    df, rows = _counted(load_conservation(spark, a.fileName), "conservation-rows")
    write_table(df, a.store, a.tableName)
    print(f"rows={rows.get['n']} table={a.tableName}")


@tool("VariantRatLoaderFromDb")
def variant_rat_loader_from_db(argv):
    p = argparse.ArgumentParser(prog="VariantRatLoaderFromDb")
    p.add_argument("--url", required=True)
    p.add_argument("--table", default="variant")
    p.add_argument("--driver", default=None)
    p.add_argument("--outDir", required=True)
    p.add_argument("--partitionColumn", default=None)
    p.add_argument("--lowerBound", type=int, default=None)
    p.add_argument("--upperBound", type=int, default=None)
    p.add_argument("--numPartitions", type=int, default=None)
    a = p.parse_args(argv)
    from rat_strain_loader_pipeline_spark.sinks import JdbcTarget, jdbc_scan_options

    spark = _spark("rat-loader-from-db")
    props = {"driver": a.driver} if a.driver else {}
    opts = jdbc_scan_options(
        JdbcTarget(a.url, a.table, props),
        partition_column=a.partitionColumn,
        lower_bound=a.lowerBound,
        upper_bound=a.upperBound,
        num_partitions=a.numPartitions,
    )
    df, rows = _counted(spark.read.format("jdbc").options(**opts).load(), "db-rows")
    df.write.mode("overwrite").parquet(a.outDir)
    print(f"rows={rows.get['n']} outDir={a.outDir}")


def usage() -> None:
    names = " | ".join(sorted(TOOLS))
    print("rat-strain-loader-pipeline-spark tool suite usage:")
    print(f"  --tool [{names}] <tool-dependent parameters>")
    print("  (flags mirror the reference Manager; see each tool's --help)")


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] in ("-h", "--help"):
        usage()
        return 0
    if len(argv) < 2 or argv[0] != "--tool" or argv[1] not in TOOLS:
        usage()
        return 1
    try:
        TOOLS[argv[1]](argv[2:])
        return 0
    except Exception:
        print("\nERROR: PIPELINE ABORTED!", file=sys.stderr)
        raise
    finally:
        _print_archive_state()


def _print_archive_state() -> None:
    """One run-log line on stderr: whether the driver JVM started from
    the class-data-sharing archive (``session.archive_state``)."""
    from rat_strain_loader_pipeline_spark.session import archive_state

    state = archive_state()
    if state is not None:
        print(f"startup_archive {json.dumps(state, sort_keys=True)}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
