"""The one Spark-side vector chain, ``textops._vec_sum_sql``, equals a
NumPy left-to-right fold bit for bit: cosine over float vectors (incl.
1e30-scaled ones), integer dot and squared distance over int64 codes,
a literal second operand, and the PQ sub-vector offset.  Arrays longer
than EMB_DIM count only their first EMB_DIM elements."""

from functools import reduce

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_gang_spark.textops import (
    _PQ_OFF,
    _QDOT,
    _SQDIST,
    EMB_DIM,
    PQ_M,
    PQ_SUB,
    _cosine_spark,
    _vec_sum_sql,
)

N_ROWS = 48
LIT = [int(v) for v in np.random.default_rng(7).integers(-127, 128, EMB_DIM)]


def fold(terms):
    """Left-to-right sum starting from the first term, as the SQL chain."""
    return reduce(lambda s, t: s + t, terms)


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(14)
    rows = []
    for i in range(N_ROWS):
        n = EMB_DIM + 6 if i % 3 == 0 else EMB_DIM
        scale = 1e30 if i % 4 == 1 else 1.0
        e, q = (
            (rng.standard_normal(n) * scale).astype(np.float32).tolist()
            for _ in range(2)
        )
        a, b = (rng.integers(-(1 << 20), 1 << 20, n).tolist() for _ in range(2))
        rows.append((i, i % PQ_M, e, q, a, b))
    return rows


@pytest.fixture(scope="module")
def spark_values(spark, vectors):
    df = spark.createDataFrame(
        vectors,
        "id int, m int, e array<float>, q array<float>,"
        " a array<bigint>, b array<bigint>",
    )
    out = df.select(
        "id",
        _cosine_spark("e", "q").alias("cos"),
        F.expr(_vec_sum_sql("a", "b", _QDOT)).alias("qdot"),
        F.expr(_vec_sum_sql("a", "b", _SQDIST)).alias("sqdist"),
        F.expr(_vec_sum_sql("a", LIT, _QDOT)).alias("lit_qdot"),
        F.expr(_vec_sum_sql("a", "b", _SQDIST, PQ_SUB, _PQ_OFF)).alias("pq"),
    )
    return {r["id"]: r for r in out.collect()}


def test_cosine_equals_float64_fold(vectors, spark_values):
    for i, _m, e, q, _a, _b in vectors:
        e64, q64 = (np.float64(v[:EMB_DIM]) for v in (e, q))
        want = fold(e64 * q64) / (
            np.sqrt(fold(e64 * e64)) * np.sqrt(fold(q64 * q64))
        )
        assert spark_values[i]["cos"].hex() == float(want).hex(), i


def test_integer_chains_equal_int64_fold(vectors, spark_values):
    lit = np.int64(LIT)
    for i, m, _e, _q, a, b in vectors:
        a64, b64 = np.int64(a[:EMB_DIM]), np.int64(b[:EMB_DIM])
        got = spark_values[i]
        assert got["qdot"] == fold(a64 * b64), i
        assert got["sqdist"] == fold((a64 - b64) * (a64 - b64)), i
        assert got["lit_qdot"] == fold(a64 * lit), i
        sub = a64[m * PQ_SUB:(m + 1) * PQ_SUB] - b64[:PQ_SUB]
        assert got["pq"] == fold(sub * sub), i

