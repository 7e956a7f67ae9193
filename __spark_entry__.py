"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash).  The queries are engineered for exact value
matches (decimal-exact sums, md5-based hashing, fixed-order float
folds) — see ocr_gang_spark/queries.py and textops.py.

Oracle determinism rules (pinned by tests/test_oracle_dtypes.py):
every oracle column whose Spark counterpart is integral must bind as a
DuckDB integer type no wider than BIGINT.  DuckDB widens silently —
``list_sum`` over BIGINT returns HUGEINT, and a NULL-able HUGEINT
column NULL-lifts to float64 at fetch, which breaks the driver's value
hash even when both engines agree value-for-value.  Wrap any list_sum
or wide arithmetic in ``CAST(... AS BIGINT)``.

Integer division rule: never write ``CAST(a / b AS BIGINT)`` — DuckDB's
``/`` on integers is float division and its CAST *rounds half-even*,
while Spark's cast *truncates*, so the engines disagree on every
half-crossing value.  Use true integer division on both sides: DuckDB
``a // b``, Spark ``a DIV b`` (see sequence_pack_bins).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline (interleaved text+media spans ->
    HTML-strip / OCR kernels -> ordered reassembly) over a spans-shaped
    corpus derived from /root/testdata/sf0.001 + deterministic synthetic
    media blobs."""
    from ocr_gang_spark.contract import queries as _queries

    return _queries()["ocr_extract_spans"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data-pipeline operators: dedup, minhash/simhash LSH,
    similarity search, text analysis)."""
    from ocr_gang_spark.contract import queries as _queries

    return _queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for EVERY registered query (the pair
    of dicts is asserted same-keyed by
    tests/test_queries.py::test_every_query_has_an_oracle):
    relational queries against the parquet views, image/media-kernel
    queries against committed expected-output parquets selected by
    corpus content key (FIXTURES.md §6b)."""
    from ocr_gang_spark.contract import oracle_sql as _oracle_sql

    return _oracle_sql()
