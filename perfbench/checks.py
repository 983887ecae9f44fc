"""Output checks, run after the timed process has exited.

Every expected value comes from the generator's truths or from an
independent DuckDB reading of the generated inputs; the store and the
tool outputs are read back from disk. Each check is one attempted
operation, and each failed check counts in ``error_ratio``.
"""

from __future__ import annotations

import os
import re

import duckdb

_COUNTER = re.compile(r"(\w+)=(\d+)")


def counters(tool_result: dict) -> dict[str, int]:
    """``k=v`` counters a tool printed (the reference's run-log lines)."""
    return {k: int(v) for k, v in _COUNTER.findall(tool_result["stdout"])}


def tool_counters(tools: list[dict], name: str) -> dict[str, int]:
    for t in tools:
        if t["tool"] == name:
            return counters(t)
    return {}


class Store:
    """DuckDB views over the parquet store and the generated dimensions."""

    def __init__(self, store: str, inputs: str):
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")
        dims = os.path.join(inputs, "dims")
        for table in ("genes", "transcripts"):
            self.db.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{os.path.join(dims, table + '.parquet')}')"
            )
        parts = {
            "variant": ("*.parquet", ""),
            "variant_map_data": ("*/*/*.parquet", "{'map_key': INTEGER, 'chromosome': VARCHAR}"),
            "variant_sample_detail": ("*/*.parquet", "{'sample_id': INTEGER}"),
            "variant_transcript": ("*/*.parquet", "{'map_key': INTEGER}"),
        }
        for table, (glob, types) in parts.items():
            if not os.path.isdir(os.path.join(store, table)):
                continue
            path = os.path.join(store, table, glob)
            opts = f", hive_partitioning=true, hive_types={types}" if types else ""
            self.db.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}'{opts})"
            )
        self.inputs = inputs

    def scalar(self, sql: str):
        return self.db.execute(sql).fetchone()[0]

    def count(self, table: str) -> int:
        return self.scalar(f"SELECT count(*) FROM {table}")

    def expected_pairs_sql(self, batches: tuple[str, ...], chromosome: str | None = None) -> str:
        """Variant starts of the loaded sites joined to ACTIVE gene
        intervals, then to transcripts; multi-ALT rows excluded (the
        J1/J2 rule of the consequence candidate spine)."""
        files = ", ".join(
            f"'{os.path.join(self.inputs, f'loaded_sites_{b}.parquet')}'" for b in batches
        )
        where = f"AND s.chromosome = '{chromosome}'" if chromosome else ""
        return f"""
            SELECT DISTINCT s.chromosome, s.start_pos, s.end_pos,
                   coalesce(s.ref_nuc, '') AS ref_nuc, coalesce(s.var_nuc, '') AS var_nuc,
                   t.transcript_rgd_id
            FROM read_parquet([{files}]) s
            JOIN genes g ON g.object_status = 'ACTIVE' AND s.chromosome = g.chromosome
                 AND s.start_pos BETWEEN g.start_pos AND g.stop_pos
            JOIN transcripts t ON t.gene_rgd_id = g.gene_rgd_id
            WHERE (s.var_nuc IS NULL OR s.var_nuc NOT LIKE '%,%') {where}"""

    ACTUAL_PAIRS = """
        SELECT m.chromosome, m.start_pos, m.end_pos,
               coalesce(v.ref_nuc, '') AS ref_nuc, coalesce(v.var_nuc, '') AS var_nuc,
               vt.transcript_rgd_id
        FROM variant_transcript vt
        JOIN variant v ON v.rgd_id = vt.variant_rgd_id
        JOIN variant_map_data m ON m.rgd_id = v.rgd_id"""

    def pair_mismatch(self, expected_sql: str) -> int:
        """Pairs in one set and not the other."""
        return self.scalar(
            f"SELECT (SELECT count(*) FROM (({expected_sql}) EXCEPT ({self.ACTUAL_PAIRS})))"
            f" + (SELECT count(*) FROM (({self.ACTUAL_PAIRS}) EXCEPT ({expected_sql})))"
        )

    def expected_pair_count(self, expected_sql: str) -> int:
        return self.scalar(f"SELECT count(*) FROM ({expected_sql})")

    def distinct_vt_pairs(self) -> int:
        return self.scalar(
            "SELECT count(*) FROM (SELECT DISTINCT variant_rgd_id, transcript_rgd_id "
            "FROM variant_transcript)"
        )

    def polyphen_candidates(self) -> int:
        """The export's candidate rule read independently off the store."""
        return self.scalar("""
            SELECT count(*) FROM variant_transcript vt
            JOIN variant v ON v.rgd_id = vt.variant_rgd_id
            JOIN variant_map_data m ON m.rgd_id = v.rgd_id AND m.map_key = vt.map_key
            JOIN transcripts t ON t.transcript_rgd_id = vt.transcript_rgd_id
            JOIN genes g ON g.gene_rgd_id = t.gene_rgd_id
            WHERE vt.ref_aa <> vt.var_aa AND vt.var_aa <> '*'
              AND v.ref_nuc IN ('A', 'C', 'G', 'T') AND v.var_nuc IN ('A', 'C', 'G', 'T')""")

    def close(self) -> None:
        self.db.close()


def _eq(name: str, got, want) -> dict:
    return {"check": name, "ok": got == want, "got": got, "want": want}


def check_strain_load(truths: dict, tools: list[dict], store: str, inputs: str) -> list[dict]:
    conv = tool_counters(tools, "VcfConverter2")
    load = tool_counters(tools, "VariantLoad3")
    s = Store(store, inputs)
    try:
        return [
            _eq("cf2_rows", conv.get("rows"), truths["kept_calls_a"]),
            _eq("rows_in", load.get("rows_in"), truths["loaded_calls_a"]),
            _eq("rows_new_variants", load.get("rows_new_variants"), truths["new_variants_a"]),
            _eq("rows_already_in_rgd", load.get("rows_already_in_rgd"), 0),
            _eq("store_variant_rows", s.count("variant"), truths["new_variants_a"]),
            _eq("store_map_data_rows", s.count("variant_map_data"), truths["new_variants_a"]),
            _eq("store_sample_detail_rows", s.count("variant_sample_detail"),
                truths["loaded_calls_a"]),
        ]
    finally:
        s.close()


def check_reload_prep(truths: dict, prep: list[dict], store: str, inputs: str) -> list[dict]:
    """Batch A loaded, and chromosome 1's pairs post-processed, before the
    timed region (the final pair set is checked in full afterwards)."""
    load = tool_counters(prep, "VariantLoad3")
    post = tool_counters(prep, "VariantPostProcessing")
    s = Store(store, inputs)
    try:
        expected = s.expected_pairs_sql(("a",), truths["chromosomes"][0])
        return [
            _eq("prep_rows_new_variants", load.get("rows_new_variants"), truths["new_variants_a"]),
            _eq("prep_vt_rows", post.get("variant_transcript_rows"),
                s.expected_pair_count(expected)),
        ]
    finally:
        s.close()


def check_strain_reload(truths: dict, tools: list[dict], store: str, inputs: str) -> tuple[list[dict], int]:
    """Returns the checks and the expected number of stored pairs."""
    conv = tool_counters(tools, "VcfConverter2")
    load = tool_counters(tools, "VariantLoad3")
    vtype = tool_counters(tools, "VariantTypeFixUp")
    genic = tool_counters(tools, "GenicStatusFixUp")
    frame = tool_counters(tools, "FrameShiftFixUp")
    poly = tool_counters(tools, "Polyphen")
    s = Store(store, inputs)
    try:
        expected = s.expected_pairs_sql(("a", "b"))
        vt_rows = s.count("variant_transcript")
        return [
            _eq("cf2_rows", conv.get("rows"), truths["kept_calls_b"]),
            _eq("rows_in", load.get("rows_in"), truths["loaded_calls_b"]),
            _eq("rows_new_variants", load.get("rows_new_variants"), truths["new_variants_b"]),
            _eq("rows_already_in_rgd", load.get("rows_already_in_rgd"),
                truths["already_in_store_b"]),
            _eq("variant_type_rows_fixed", vtype.get("rows_fixed"), 0),
            _eq("genic_status_rows_fixed", genic.get("rows_fixed"), 0),
            _eq("store_variant_rows", s.count("variant"),
                truths["new_variants_a"] + truths["new_variants_b"]),
            _eq("vt_distinct_pairs", s.distinct_vt_pairs(), vt_rows),
            _eq("vt_pair_mismatch", s.pair_mismatch(expected), 0),
            _eq("frameshift_rows_total", frame.get("rows_total"), vt_rows),
            _eq("polyphen_candidates", poly.get("candidates"), s.polyphen_candidates()),
        ], s.expected_pair_count(expected)
    finally:
        s.close()
