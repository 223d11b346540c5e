"""Registry consistency: every oracle key exists in queries, names are
unique, and SQL strings are well-formed enough for DuckDB to parse
against empty views (catches SQL typos without running Spark)."""

from __future__ import annotations

import os

import duckdb
import pytest

from htrtf_spark.queries import oracle_sqls, registry, spark_queries
from htrtf_spark.queries.extraction_queries import _Q34_INPUT


def _q34_sql_with_seeded_input(con, sql: str, tmp_path) -> str:
    """The q34 and q35 oracles read the parquet that q34's Spark query
    materializes to a fixed /tmp path (the SQL text is frozen). On a clean /tmp the
    artifact does not exist yet, so the parse-only test would fail on
    I/O, not SQL. Seed an EMPTY parquet with the input schema into a
    TEST-LOCAL temp dir and point this test's COPY of the SQL at it —
    the real artifact path is never touched, so a later oracle-only run
    elsewhere still fails loudly if the Spark side has not produced it
    (same pattern as test_sql_oracle_parity's path rewrite)."""
    seed_dir = os.path.join(str(tmp_path), "q34_seed.parquet")
    os.makedirs(seed_dir, exist_ok=True)
    con.execute(
        "COPY (SELECT CAST(NULL AS VARCHAR) AS conv_id, "
        "CAST(NULL AS INTEGER) AS turn_idx, "
        "CAST(NULL AS VARCHAR) AS role, CAST(NULL AS VARCHAR) AS text "
        f"WHERE false) TO '{seed_dir}/seed.parquet' (FORMAT PARQUET)"
    )
    return sql.replace(_Q34_INPUT, seed_dir)

TABLES = {
    "region": "r_regionkey INTEGER, r_name VARCHAR",
    "nation": "n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER",
    "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, "
                "c_acctbal DOUBLE, c_mktsegment VARCHAR",
    "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, p_type VARCHAR, "
            "p_size INTEGER, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                "l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, "
                "l_linestatus VARCHAR, l_shipdate TIMESTAMP",
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, "
              "value DOUBLE, props VARCHAR",
    "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding FLOAT[], label INTEGER",
}


def test_registry_consistent():
    reg = registry()
    assert len(reg) >= 40
    qs, os_ = spark_queries(), oracle_sqls()
    # real invariant at the source: every registry entry is a
    # (callable, sql-string-or-None) pair
    for name, pair in reg.items():
        assert isinstance(pair, tuple) and len(pair) == 2, name
        assert callable(pair[0]), name
        assert pair[1] is None or isinstance(pair[1], str), name
    # at least 3/4 of queries carry a full SQL oracle
    assert len(os_) / len(qs) >= 0.75


@pytest.mark.parametrize("name", sorted(oracle_sqls()))
def test_oracle_sql_parses_in_duckdb(name, tmp_path):
    con = duckdb.connect()
    for tbl, ddl in TABLES.items():
        con.execute(f"CREATE TABLE {tbl} ({ddl})")
    sql = oracle_sqls()[name]
    if _Q34_INPUT in sql:  # q34 and q35 both read q34's artifact
        sql = _q34_sql_with_seeded_input(con, sql, tmp_path)
    con.execute(sql).fetchall()  # empty tables → just parse/run
