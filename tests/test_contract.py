"""Driver-contract consistency: queries() vs oracle_sql() alignment and
oracle compilability — catches a renamed query, a dangling oracle, or an
oracle SQL syntax regression without running Spark."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as em

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def test_every_oracle_has_a_query():
    q, o = em.queries(), em.oracle_sql()
    assert set(o) <= set(q), f"dangling oracles: {sorted(set(o) - set(q))}"


def test_every_query_has_an_oracle():
    # Since round 5 (minhash_lsh_xxhash gained the shared verified-pairs
    # oracle) every declared query carries a value oracle — the rows-only
    # exception set must stay empty.
    q, o = em.queries(), em.oracle_sql()
    assert sorted(set(q) - set(o)) == []


def test_all_queries_are_callables():
    for name, fn in em.queries().items():
        assert callable(fn), name


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    return con


def test_every_oracle_compiles_in_duckdb(duck):
    bad = []
    for name, sql in em.oracle_sql().items():
        try:
            duck.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # noqa: BLE001 — collecting all failures
            bad.append((name, str(exc).splitlines()[0]))
    assert not bad, bad


def test_no_oracle_type_widening(duck):
    """No oracle may emit HUGEINT/UHUGEINT (DuckDB's silent sum(BIGINT)
    widening — it breaks the driver's type-aware value hash against
    Spark's bigint; wrap the outer aggregate in CAST(... AS BIGINT)),
    nor DECIMAL except where the Spark side is the identical decimal.
    The full Spark-schema cross-check runs in tools/check_correctness.py;
    this pins the regression class without a Spark session."""
    DECIMAL_ALLOWED = {
        # exact mergeable slope ratio: the Spark side emits the same
        # DECIMAL(38,0) by design (operators/stats.py grouped_trend)
        "grouped_trend": {"slope_num", "slope_den"},
        # same pattern: exact correlation sufficient statistics
        "corr_matrix": {"corr_num", "den_a", "den_b"},
        # exact Gram sums (operators/similarity.py embedding_gram)
        "embedding_gram": {"gram"},
        # exact scaled KS supremum: Spark emits the same DECIMAL(38,0)
        # (operators/stats.py ks_drift — c·n products pass bigint range)
        "ks_drift": {"d_scaled"},
    }
    bad = []
    for name, sql in em.oracle_sql().items():
        rel = duck.sql(sql)
        for col, t in zip(rel.columns, rel.types):
            ts = str(t).upper()
            if ts in ("HUGEINT", "UHUGEINT", "UBIGINT"):
                bad.append((name, col, ts))
            elif ts.startswith("DECIMAL") and col not in DECIMAL_ALLOWED.get(name, set()):
                bad.append((name, col, ts))
    assert not bad, bad


# The frozen driver contract: the sha256 of the sorted (name, oracle SQL)
# pairs and of the sorted query names. A refactor of the entry module
# must leave both byte-identical.
CONTRACT_SHA256 = "53362420a021b6196b0a6b6267f2a6464efaebc49b86ed9a4c108274fb5d2266"
NAMES_SHA256 = "8289ea1a600808709e6663a7b8c9e5913aa6147e42e797d0f07e7417af56e80a"


def test_contract_pin():
    import hashlib
    import json

    pairs = json.dumps(sorted(em.oracle_sql().items())).encode()
    names = sorted(em.queries())
    assert hashlib.sha256(pairs).hexdigest() == CONTRACT_SHA256
    assert len(names) == 329
    assert hashlib.sha256(json.dumps(names).encode()).hexdigest() == NAMES_SHA256


def test_entry_module_keeps_one_store_pattern():
    """Build-once stores go through ``staging.build_once`` only: the
    entry module holds no module-level ``_*_PATHS`` memo and no
    ``_SUCCESS`` probe of its own."""
    import ast
    import re

    src = open(em.__file__).read()
    memos = [
        t.id
        for node in ast.parse(src).body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name) and re.fullmatch(r"_\w*_PATHS", t.id)
    ]
    assert memos == []
    assert '"_SUCCESS"' not in src and "'_SUCCESS'" not in src
