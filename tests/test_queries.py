"""Every registered query with an oracle must value-match DuckDB —
the local mirror of the driver's CORRECTNESS gate (at sf0.001 for
speed; scripts also run the sf0.01 sweep)."""

import os

import pytest

from ocr_gang_spark.contract import oracle_sql, queries
from tests.oracle_compare import compare, duck_connection

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

ORACLES = oracle_sql()
ALL = queries()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


def test_every_query_has_an_oracle():
    """The driver-contract docstrings state every registered query
    carries DuckDB oracle SQL; this pin carries that claim so the
    prose never has to hold a (staleness-prone) count."""
    assert sorted(ALL) == sorted(ORACLES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_duckdb(spark, duck, name):
    df = ALL[name](spark, SF_DIR)
    errors = compare(df, duck, ORACLES[name])
    assert not errors, f"{name}: " + "; ".join(errors)


@pytest.mark.parametrize("name", sorted(set(ALL) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = ALL[name](spark, SF_DIR)
    assert df.count() >= 0 and len(df.schema.fields) > 0


@pytest.mark.parametrize("name", ["embedding_topk_cosine", "ann_ivf_multiprobe_topk"])
def test_vector_queries_build_in_few_round_trips(spark, py4j_round_trips, name):
    """The 64-term vector chains reach the JVM as SQL text, one py4j
    round trip per expression: built one Column node per call, these
    two queries took about 11,000 and 33,000 round trips."""
    ALL[name](spark, SF_DIR)
    assert py4j_round_trips.n <= 1500
