"""Canonical store: partition layout, pruning, dynamic overwrite, versioned commits."""

from __future__ import annotations

import datetime
import os
import threading
import time
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from rat_strain_loader_pipeline_spark.staging import stage_to_parquet_path
from rat_strain_loader_pipeline_spark.store import (
    commit_table,
    compact_table,
    overwrite_partitions,
    read_table,
    write_table,
)


def _vmd(spark, chrom, genic):
    return spark.createDataFrame(
        [(i, chrom, 100 + i, 101 + i, None, genic, 360) for i in range(5)],
        "rgd_id long, chromosome string, start_pos long, end_pos long, "
        "padding_base string, genic_status string, map_key int",
    )


def test_partition_layout_and_pruning(spark, tmp_path):
    root = str(tmp_path / "store")
    write_table(_vmd(spark, "1", "GENIC"), root, "variant_map_data")
    write_table(_vmd(spark, "2", "GENIC"), root, "variant_map_data")

    base = os.path.join(root, "variant_map_data", "map_key=360")
    assert sorted(os.listdir(base)) == ["chromosome=1", "chromosome=2"]

    df = read_table(spark, root, "variant_map_data", map_key=360, chromosome="2")
    assert df.count() == 5
    assert {r["chromosome"] for r in df.collect()} == {"2"}
    # the filter must reach the scan as a PartitionFilter, not a row filter
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "chromosome" in plan.split("PartitionFilters")[1][:200]


def test_overwrite_partitions_touches_only_present(spark, tmp_path):
    root = str(tmp_path / "store")
    write_table(_vmd(spark, "1", "INTERGENIC"), root, "variant_map_data")
    write_table(_vmd(spark, "2", "INTERGENIC"), root, "variant_map_data")

    # fixup recomputes chromosome 1 only
    overwrite_partitions(_vmd(spark, "1", "GENIC"), root, "variant_map_data")

    out = {
        (r["chromosome"], r["genic_status"])
        for r in read_table(spark, root, "variant_map_data").collect()
    }
    assert out == {("1", "GENIC"), ("2", "INTERGENIC")}


def test_bucketed_store_elides_store_side_shuffle(spark, tmp_path):
    """A store bucketed on the join key must join without an Exchange on
    the bucketed side — the co-location the reference approximates with
    per-chromosome processes."""
    from rat_strain_loader_pipeline_spark.store import write_bucketed

    store = spark.range(10_000).select(
        (F.col("id") % 977).alias("start_pos"), F.col("id").alias("rgd_id")
    )
    write_bucketed(store, "bucketed_variant_store_test", ["start_pos"], n_buckets=8)
    try:
        stored = spark.table("bucketed_variant_store_test")
        incoming = spark.range(500).select(
            (F.col("id") * 3 % 977).alias("start_pos"), F.col("id").alias("payload")
        )
        # force a sort-merge join so bucketing (not broadcast) does the work
        joined = incoming.hint("merge").join(stored, "start_pos")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]  # executed plan string repeats both
        # exactly ONE exchange: the incoming side repartitions to the
        # bucket layout; the bucketed scan itself must not shuffle
        assert final.count("Exchange hashpartitioning") == 1, final
        assert "SortMergeJoin" in final
        assert "Bucketed: true" in final
        # correctness unchanged
        expect = incoming.join(store, "start_pos").count()
        assert joined.count() == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_variant_store_test")


def test_compact_table_content_invariant(spark, tmp_path):
    """Compaction shrinks the file count without touching the row
    multiset, for both unpartitioned and partitioned tables."""
    root = str(tmp_path)
    # unpartitioned: 20 tiny appends
    for i in range(20):
        spark.createDataFrame([(i * 10 + j, f"v{i}") for j in range(5)],
                              "rgd_id long, v string").write.mode("append").parquet(
            f"{root}/variant"
        )
    before = spark.read.parquet(f"{root}/variant").collect()
    stats = compact_table(spark, root, "variant", target_rows_per_file=1000)
    after = spark.read.parquet(f"{root}/variant").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1 and stats["rows"] == 100

    # partitioned: appends across two (map_key, chromosome) partitions
    for i in range(6):
        spark.createDataFrame(
            [(i, 360, "1"), (i, 360, "2")], "rgd_id long, map_key int, chromosome string"
        ).write.mode("append").partitionBy("map_key", "chromosome").parquet(
            f"{root}/variant_map_data"
        )
    before = read_table(spark, root, "variant_map_data").collect()
    stats = compact_table(spark, root, "variant_map_data", target_rows_per_file=1000)
    after = read_table(spark, root, "variant_map_data").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert stats["files_after"] < stats["files_before"]


def test_compact_table_keeps_partition_values(spark, tmp_path, count_jobs):
    """Compaction rewrites partition directories under the values they
    had: ``chromosome=01`` stays ``01`` beside ``chromosome=2`` (an
    inferring read types both as int and rewrites them as ``1`` and
    ``2``), and the read that feeds it runs no inference job."""
    root = str(tmp_path / "store")
    for _ in range(3):
        write_table(_vmd(spark, "01", "GENIC"), root, "variant_map_data")
        write_table(_vmd(spark, "2", "INTERGENIC"), root, "variant_map_data")
    before = sorted(map(tuple, read_table(spark, root, "variant_map_data").collect()))

    stats, jobs = count_jobs(compact_table, spark, root, "variant_map_data",
                             target_rows_per_file=1000)
    assert sorted(os.listdir(f"{root}/variant_map_data/map_key=360")) == [
        "chromosome=01", "chromosome=2"
    ]
    after = sorted(map(tuple, read_table(spark, root, "variant_map_data").collect()))
    assert after == before and stats["rows"] == 30
    assert stats["files_after"] < stats["files_before"]
    # the repartitioned write alone (its shuffle and its write, as many
    # jobs as a count's two stages): no count job, no footer-inference job
    _, plain = count_jobs(
        lambda: read_table(spark, root, "variant_map_data").count()
    )
    assert jobs <= plain, jobs


def _rows(spark, root, table):
    return sorted(map(tuple, read_table(spark, root, table).collect()))


def test_commit_keeps_one_version_and_leaves_other_names(spark, tmp_path):
    """A commit over a plain table directory and one over a committed
    table each leave the table a link to exactly one version; a sibling
    that merely looks like a version is left alone."""
    root = tmp_path / "store"
    table = root / "variant_map_data"
    write_table(_vmd(spark, "01", "INTERGENIC"), str(root), "variant_map_data")
    (root / "variant_map_data.v0").mkdir()
    (root / "variant_map_data.v0" / "keep").write_text("x")
    versions = []
    for genic in ("GENIC", "INTERGENIC"):
        commit_table(_vmd(spark, "01", genic), str(root), "variant_map_data")
        versions.append(os.readlink(table))
        assert sorted(os.listdir(root)) == sorted(
            ["variant_map_data", versions[-1], "variant_map_data.v0"]
        )
        assert "_SUCCESS" in os.listdir(table)
        assert {(r["chromosome"], r["genic_status"])
                for r in read_table(spark, str(root), "variant_map_data").collect()} == {
            ("01", genic)
        }
    assert versions[0] != versions[1]
    assert (root / "variant_map_data.v0" / "keep").read_text() == "x"


def test_failed_commit_leaves_the_table_and_no_version(spark, tmp_path):
    """A commit whose write fails on a row changes nothing: the table
    keeps its rows, plain or committed, and no version is left behind."""
    root = str(tmp_path / "store")
    write_table(_vmd(spark, "1", "GENIC"), root, "variant_map_data")
    for _ in range(2):  # over the plain directory, then over a committed table
        before, listing = _rows(spark, root, "variant_map_data"), sorted(os.listdir(root))
        bad = read_table(spark, root, "variant_map_data").withColumn(
            "genic_status",
            F.when(F.col("rgd_id") == 3, F.raise_error(F.lit("boom")))
            .otherwise(F.col("genic_status")),
        )
        with pytest.raises(Exception, match="boom"):
            commit_table(bad, root, "variant_map_data")
        assert sorted(os.listdir(root)) == listing
        assert _rows(spark, root, "variant_map_data") == before
        commit_table(read_table(spark, root, "variant_map_data"), root, "variant_map_data")


def test_failed_append_leaves_the_table_as_it_was(spark, tmp_path):
    """An append whose write fails on a row lands no file and leaves no
    ``_temporary`` tree, once the failed job's killed tasks have ended."""
    root = str(tmp_path / "store")
    path = os.path.join(root, "variant_map_data")
    write_table(_vmd(spark, "1", "GENIC"), root, "variant_map_data")

    def listing():
        return sorted(os.path.relpath(os.path.join(d, n), path)
                      for d, dirs, files in os.walk(path) for n in dirs + files)

    before, rows = listing(), _rows(spark, root, "variant_map_data")
    bad = spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("rgd_id"), F.lit("2").alias("chromosome"),
        (F.col("id") + 100).alias("start_pos"), (F.col("id") + 101).alias("end_pos"),
        F.lit(None).cast("string").alias("padding_base"),
        F.when(F.col("id") == 3, F.raise_error(F.lit("boom")))
        .otherwise(F.lit("GENIC")).alias("genic_status"),
        F.lit(360).alias("map_key"),
    )
    with pytest.raises(Exception, match="boom"):
        write_table(bad, root, "variant_map_data")
    assert listing() == before
    assert _rows(spark, root, "variant_map_data") == rows


def test_readers_see_one_whole_version_during_commits(spark, tmp_path):
    """A thread lists the table path while a fixup tool and a compaction
    replace the table: every listing is one committed version's whole
    file set, ``_SUCCESS`` included, never a missing or partial table."""
    from rat_strain_loader_pipeline_spark import cli

    root = str(tmp_path / "store")
    path = os.path.join(root, "variant")
    for i in range(4):
        write_table(spark.createDataFrame(
            [(i * 10 + j, "A", "ins", "T") for j in range(5)],
            "rgd_id long, ref_nuc string, variant_type string, var_nuc string",
        ), root, "variant")
    compact_table(spark, root, "variant")  # the plain table's first commit
    versions, seen, stop = [frozenset(os.listdir(path))], [], threading.Event()

    def poll():
        while not stop.is_set():
            try:
                seen.append(frozenset(os.listdir(path)))
            except OSError as e:
                seen.append(e)
            time.sleep(0.001)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        assert cli.main(["--tool", "VariantTypeFixUp", "--store", root]) == 0
        versions.append(frozenset(os.listdir(path)))
        compact_table(spark, root, "variant")
        versions.append(frozenset(os.listdir(path)))
    finally:
        stop.set()
        poller.join(timeout=30)
    assert not poller.is_alive()
    assert len(set(versions)) == 3 and all("_SUCCESS" in v for v in versions)
    assert len(seen) > 20
    assert [s for s in seen if s not in versions] == []
    assert {r["variant_type"] for r in read_table(spark, root, "variant").collect()} == {"snv"}


def _nested(spark):
    return spark.createDataFrame(
        [
            (1, (2, ["a", None]), [(1.5,), None], {"k": 1}),
            (2, None, [], {}),
        ],
        "id int, s struct<x:int, tags:array<string>>, "
        "arr array<struct<v:double>>, m map<string,int>",
    )


def _decimal(spark):
    return spark.createDataFrame(
        [(Decimal("12345678901234567890.1234567890"), Decimal("-1.25")), (None, None)],
        "wide decimal(38,10), narrow decimal(5,2)",
    )


def _times(spark):
    return spark.createDataFrame(
        [
            (
                datetime.datetime(2024, 2, 29, 23, 59, 59, 123456),
                datetime.datetime(2024, 1, 1, 0, 0, tzinfo=datetime.timezone.utc),
                datetime.date(1900, 1, 1),
            ),
            (None, None, None),
        ],
        "ntz timestamp_ntz, ltz timestamp, d date",
    )


def _metadata(spark):
    return spark.range(3).select(
        F.col("id").alias("id", metadata={"comment": "row id", "unit": "count"}),
        F.lit("x").alias("tag", metadata={"max_length": 1}),
    )


def _vector(spark):
    from pyspark.ml.linalg import Vectors

    return spark.createDataFrame(
        [(1, Vectors.dense([1.0, 2.0])), (2, Vectors.sparse(3, [1], [4.0]))],
        ["id", "features"],
    )


def _non_nullable(spark):
    # range ids and the literal are non-nullable in the written schema
    return spark.range(4).withColumn("one", F.lit(1))


def _empty(spark):
    return _nested(spark).filter(F.col("id") < 0)


@pytest.mark.parametrize(
    "make", [_nested, _decimal, _times, _metadata, _vector, _non_nullable, _empty]
)
def test_stage_read_back_runs_no_job_and_keeps_schema(spark, tmp_path, count_jobs, make):
    """A stage barrier reads back with the schema it wrote: the read-back
    adds no Spark job to the write's, and its schema and rows equal a
    plain footer-inferring read of the same directory."""
    df = make(spark)
    (staged, path), stage_jobs = count_jobs(stage_to_parquet_path, df, "t")
    _, write_jobs = count_jobs(
        lambda: df.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    )
    assert stage_jobs == write_jobs

    inferred = spark.read.parquet(path)
    assert staged.schema.json() == inferred.schema.json()
    assert sorted(map(repr, staged.collect())) == sorted(map(repr, inferred.collect()))


def test_failed_stage_leaves_nothing_under_the_stage_root(spark):
    """A stage whose write fails on a row removes its own directory,
    once the failed job's killed tasks have ended."""
    from rat_strain_loader_pipeline_spark.staging import _stage_root

    root = _stage_root()
    before = sorted(os.listdir(root))
    bad = spark.range(0, 1000, 1, 4).withColumn(
        "x", F.when(F.col("id") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("id"))
    )
    with pytest.raises(Exception, match="boom"):
        stage_to_parquet_path(bad, "failing")
    assert sorted(os.listdir(root)) == before


def test_read_of_absent_leading_partitions_is_an_empty_relation(spark, tmp_path, count_jobs):
    """A filter on the leading partition column that names no stored
    directory reads as a LocalRelation with the scan's schema; one that
    names a stored directory still scans it, pruned."""
    root = str(tmp_path / "store")
    write_table(_vmd(spark, "1", "GENIC"), root, "variant_map_data")
    scan = read_table(spark, root, "variant_map_data", map_key=360)
    for kw in ({"map_key": 361}, {"map_key": 361, "chromosome": "1"}):
        df, jobs = count_jobs(read_table, spark, root, "variant_map_data", **kw)
        assert jobs == 0 and df.schema == scan.schema
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "Relation" not in plan.replace("LocalRelation", "")
        assert df.collect() == []
    assert scan.count() == 5

    sd = spark.createDataFrame(
        [(1, 7, 40), (2, 8, 40)], "rgd_id long, sample_id int, total_depth int"
    )
    write_table(sd, root, "variant_sample_detail")
    assert read_table(spark, root, "variant_sample_detail", sample_id=[9, 10]).collect() == []
    assert read_table(spark, root, "variant_sample_detail", sample_id=[]).collect() == []
    got = read_table(spark, root, "variant_sample_detail", sample_id=[8, 9])
    assert "PartitionFilters: [" in got._jdf.queryExecution().executedPlan().toString()
    assert [r["rgd_id"] for r in got.collect()] == [2]


def test_partition_values_round_trip(spark, tmp_path):
    """Partition directory values read back exactly as written: an
    inferring read would type ``chromosome=01`` as int and return '1'."""
    root = str(tmp_path / "store")
    write_table(_vmd(spark, "01", "GENIC"), root, "variant_map_data")
    write_table(_vmd(spark, "2", "GENIC"), root, "variant_map_data")

    df = read_table(spark, root, "variant_map_data")
    assert sorted({r["chromosome"] for r in df.collect()}) == ["01", "2"]
    assert read_table(spark, root, "variant_map_data", chromosome="01").count() == 5
    assert read_table(spark, root, "variant_map_data", chromosome="1").count() == 0


# one row per declared table; the partition columns carry values
_DECLARED_ROWS = {
    "variant": {"rgd_id": 1, "ref_nuc": "A", "variant_type": "snv"},
    "variant_map_data": {"rgd_id": 1, "chromosome": "X", "map_key": 360},
    "variant_sample_detail": {"rgd_id": 1, "sample_id": 7, "total_depth": 40},
    "variant_transcript": {"variant_rgd_id": 1, "transcript_rgd_id": 2, "map_key": 360},
}


@pytest.mark.parametrize("table", sorted(_DECLARED_ROWS))
def test_declared_read_runs_no_job_and_keeps_declared_types(spark, tmp_path, count_jobs,
                                                             table):
    from rat_strain_loader_pipeline_spark.store import SCHEMAS

    declared = SCHEMAS[table]
    row = _DECLARED_ROWS[table]
    root = str(tmp_path / "store")
    write_table(
        spark.createDataFrame([tuple(row.get(f.name) for f in declared.fields)], declared),
        root, table,
    )
    df, jobs = count_jobs(read_table, spark, root, table)
    assert jobs == 0
    assert {f.name: f.dataType for f in df.schema.fields} == {
        f.name: f.dataType for f in declared.fields
    }
    [got] = df.collect()
    assert {k: got[k] for k in row} == row


def test_write_guard_rejects_undeclared_columns_and_types(spark, tmp_path):
    root = str(tmp_path / "store")
    wrong_type = _vmd(spark, "1", "GENIC").withColumn("start_pos", F.col("start_pos").cast("int"))
    with pytest.raises(ValueError, match="start_pos int"):
        write_table(wrong_type, root, "variant_map_data")
    with pytest.raises(ValueError, match="start_pos int"):
        overwrite_partitions(wrong_type, root, "variant_map_data")
    extra = _vmd(spark, "1", "GENIC").withColumn("note", F.lit("x"))
    with pytest.raises(ValueError, match="note string"):
        write_table(extra, root, "variant_map_data")
    assert not os.path.exists(root)

    # a projection of a declared table lands; undeclared tables are unchecked
    write_table(_vmd(spark, "1", "GENIC").select("rgd_id", "chromosome", "map_key"),
                root, "variant_map_data")
    write_table(spark.createDataFrame([(1, "1", 0.5)], "position int, chr string, s float"),
                root, "conservation")
    assert read_table(spark, root, "conservation").count() == 1


def test_build_once_serves_without_a_job_and_rebuilds_when_incomplete(
    spark, tmp_path, count_jobs
):
    """``build_once`` builds once per (name, key), serves every later
    call from its stage with the written schema (no job), keeps values
    that are not frames, and rebuilds once a completion marker is gone:
    a staged frame's ``_SUCCESS``, or an index artifact's
    ``codes/_SUCCESS``."""
    from rat_strain_loader_pipeline_spark.staging import _STORES, build_once, store_builds

    index = tmp_path / "index"
    calls = []

    def build():
        calls.append(1)
        (index / "codes").mkdir(parents=True, exist_ok=True)
        (index / "codes" / "_SUCCESS").touch()
        return _non_nullable(spark), str(index), 42

    key = str(tmp_path)
    (built, path, value), _ = count_jobs(build_once, spark, "t", key, build)
    (served, path2, value2), jobs = count_jobs(build_once, spark, "t", key, build)
    assert (len(calls), jobs, path2, value2) == (1, 0, path, 42)
    assert served.schema.json() == built.schema.json()
    assert sorted(served.collect()) == sorted(_non_nullable(spark).collect())
    def record():
        return next(r for r in store_builds() if (r["store"], r["key"]) == ("t", key))

    assert (record()["served"], record()["builds"]) == (1, 1)

    os.remove(os.path.join(_STORES[("t", key)].parts[0].path, "_SUCCESS"))
    build_once(spark, "t", key, build)
    assert len(calls) == 2
    os.remove(index / "codes" / "_SUCCESS")
    build_once(spark, "t", key, build)
    assert len(calls) == 3
    assert build_once(spark, "t", key, build)[2] == 42 and len(calls) == 3
    assert (record()["served"], record()["builds"]) == (1, 3)


def test_spread_table_is_served_without_a_job(spark, tmp_path, count_jobs):
    """A dense single-file table is restaged once per session; a repeat
    ``read_table`` reads the staged copy with its written schema (no
    inference job) and the same rows."""
    from rat_strain_loader_pipeline_spark.sources.tables import read_table as read_source

    spark.range(200_000).select("id", F.xxhash64("id").alias("h")).coalesce(1).write.parquet(
        str(tmp_path / "w")
    )
    flat = tmp_path / "flat"
    flat.mkdir()
    os.rename(next((tmp_path / "w").glob("*.parquet")), flat / "t.parquet")
    assert os.path.getsize(flat / "t.parquet") > 512 * 1024

    first, _ = count_jobs(read_source, spark, str(flat), "t")
    again, jobs = count_jobs(read_source, spark, str(flat), "t")
    assert jobs == 0
    assert again.rdd.getNumPartitions() > 1
    assert sorted(again.collect()) == sorted(spark.read.parquet(str(flat / "t.parquet")).collect())
