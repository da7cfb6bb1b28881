"""Local mirror of the driver's oracle harness: every queries() entry runs
on Spark AND (when an oracle exists) on DuckDB over the same parquet;
results must match after column-name sort + row sort — the same shape as
the driver's order-insensitive value-hash (driver contract,
__spark_entry__.py docstring) — with dtypes compared strictly
(queries.common.oracle_mismatches)."""

import os

import duckdb
import pytest

from foundry_es_spark.queries import all_oracles, all_queries
from foundry_es_spark.queries.analytics import STRATIFIED_SPLIT_SQL
from foundry_es_spark.queries.common import oracle_mismatches

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{SF_DIR}/{t}.parquet')"
        )
    return con


QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, ddb, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        # rows-only contract: runs, stable schema, deterministic row count
        again = QUERIES[name](spark, SF_DIR).toPandas()
        assert list(got.columns) == list(again.columns)
        assert len(got) == len(again)
        return
    exp = ddb.execute(ORACLES[name]).fetchdf()
    problems = oracle_mismatches(got, exp)
    assert not problems, f"{name}: {problems}"


def test_comparator_rejects_uncast_sum(spark, ddb):
    """DuckDB's sum(BIGINT) is HUGEINT, which reaches pandas as float64:
    an oracle twin without the BIGINT cast equals Spark's bigint column
    value for value but not to the CORRECTNESS board's hash, so it must
    FAIL here."""
    cast = "CAST(sum(n_chars) AS BIGINT) AS sum_chars"
    assert cast in STRATIFIED_SPLIT_SQL
    got = QUERIES["sample_stratified_split"](spark, SF_DIR).toPandas()
    uncast = ddb.execute(
        STRATIFIED_SPLIT_SQL.replace(cast, "sum(n_chars) AS sum_chars")
    ).fetchdf()
    problems = oracle_mismatches(got, uncast)
    assert problems and problems[0].startswith("sum_chars: dtype"), problems
    assert oracle_mismatches(got, ddb.execute(STRATIFIED_SPLIT_SQL).fetchdf()) == []
