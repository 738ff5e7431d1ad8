"""Oracle-parity gate: every registered query vs its DuckDB twin.

Mirrors the driver's CORRECTNESS check (row count + schema + order-
insensitive value multiset) at the small SF so `pytest -x -q` stays fast.
"""

from __future__ import annotations

import pytest

from iot_elt_airflow_mongo_timescaledb_spark.plans.registry import (
    oracle_queries,
    spark_queries,
)
from tools.parity import compare_query

_QUERIES = spark_queries()
_ORACLES = oracle_queries()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    problems = compare_query(spark, duck, _QUERIES[name], _ORACLES[name], sf_dir)
    assert not problems, f"{name}: " + " | ".join(problems)


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_query_runs(name, spark, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert df.columns


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0
    assert set(df.columns) >= {"sum_qty", "count_order"}


def test_gate_is_full_and_fully_oracled():
    """The driver records at most GATE_CAP rows; since round 3 every
    gated query must carry a hash oracle — gating a rows-only query
    again is a deliberate decision, not drift."""
    gated = spark_queries(gated_only=True)
    gated_oracles = oracle_queries(gated_only=True)
    assert len(gated) == 50
    assert set(gated_oracles) == set(gated)


def test_gated_schemas_are_flat(spark, sf_dir):
    """The driver's canonicalizer sorts raw pandas cells before hashing
    and dies on unhashable (list/dict) values — r1's and r5's one red
    row, both times an ARRAY column in a gated projection.  Guard the
    whole class: no gated query may emit an array/map/struct column.
    Stringify in the gate-facing projection instead (the stage_users /
    tokenize_docs pattern)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, fn in sorted(spark_queries(gated_only=True).items()):
        for field in fn(spark, sf_dir).schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, (
        "gated queries must emit flat columns (driver canonicalizer "
        "cannot hash nested cells): " + "; ".join(offenders)
    )


def test_gated_oracle_types_are_pandas_safe(duck):
    """r5/r6's red row, other side of the coin: the *oracle* side of the
    driver gate goes through duckdb ``.df()`` (pandas), where HUGEINT —
    DuckDB's SUM-over-integers result type — and DECIMAL widen to
    float64 ("0.0" vs Spark's long "0": rows match, schema matches, hash
    fails).  DESCRIBE every gated oracle and reject any pandas-lossy
    column type; the fix is always a one-line CAST in the oracle SQL."""
    import re

    from tools.parity import PANDAS_LOSSY_TYPE_RE, oracle_column_types

    offenders = []
    for name, sql in sorted(oracle_queries(gated_only=True).items()):
        for col, typ in oracle_column_types(duck, sql):
            if re.search(PANDAS_LOSSY_TYPE_RE, typ):
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "gated oracle emits pandas-lossy column type(s) — CAST to "
        "BIGINT/DOUBLE/VARCHAR in the oracle SQL: " + "; ".join(offenders)
    )


def test_stage_users_oracle_matches_for_customer_without_orders(
    spark, tmp_path
):
    """A customer with no orders: the Spark query joins the empty key
    list to ``''``, and the oracle must too (DuckDB's ``ARRAY_TO_STRING``
    of an empty list is NULL).  The sf0.01 gate data has no such
    customer, so only this tiny pair shows it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "c_custkey": pa.array([1, 2], pa.int64()),
            "c_name": ["c1", "c2"],
            "c_nationkey": pa.array([0, 0], pa.int32()),
            "c_acctbal": [1.5, 2.5],
            "c_mktsegment": ["AUTO", "AUTO"],
        }),
        str(tmp_path / "customer.parquet"),
    )
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([11, 10], pa.int64()),
            "o_custkey": pa.array([1, 1], pa.int64()),
        }),
        str(tmp_path / "orders.parquet"),
    )
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )
    fn, sql = _QUERIES["stage_users"], _ORACLES["stage_users"]
    got = {
        r["user_id"]: r["orderkeys"]
        for r in fn(spark, str(tmp_path)).collect()
    }
    assert got == {1: "10,11", 2: ""}
    assert compare_query(spark, con, fn, sql, str(tmp_path)) == []
    con.close()
