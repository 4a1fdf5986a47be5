"""similarity.array_literal_sql: SQL array literals that parse back to
the exact values and types the Column-API literals give, and the SQL
text cosine built on them."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from sql_engine_triangle_spark.catalog import load_table
from sql_engine_triangle_spark.operators import similarity
from sql_engine_triangle_spark.operators.similarity import array_literal_sql
from tests.conftest import SF_DIR_SMALL

EDGE_FLOATS = [
    -0.0,
    0.0,
    5e-324,
    1e-05,
    1.7976931348623157e308,
    -1.7976931348623157e308,
    0.1,
    1 / 3,
    2.0**-1022,
    1e16,
    -123456.789,
]
# float32 embeddings widen to these doubles on collect.
FLOAT32_WIDENED = [float(x) for x in np.array([0.1, -0.7, 1e-8, 3.4e38, 1 / 3], dtype=np.float32)]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_floats_round_trip_exactly(spark):
    vals = EDGE_FLOATS + FLOAT32_WIDENED
    row = spark.range(1).select(
        F.expr(array_literal_sql(vals)).alias("sql"),
        F.array(*[F.lit(v) for v in vals]).alias("api"),
    )
    assert dict(row.dtypes) == {"sql": "array<double>", "api": "array<double>"}
    got = row.collect()[0]
    assert [_bits(v) for v in got.sql] == [_bits(v) for v in vals]
    assert [_bits(v) for v in got.sql] == [_bits(v) for v in got.api]
    assert math.copysign(1.0, got.sql[0]) == -1.0


def test_ints_keep_literal_types(spark):
    small = [0, -127, 127, 2**31 - 1, -(2**31)]
    big = [2**40, -3]
    row = spark.range(1).select(
        F.expr(array_literal_sql(small)).alias("small"),
        F.expr(array_literal_sql(big)).alias("big"),
        F.array(*[F.lit(v) for v in small]).alias("small_api"),
        F.array(*[F.lit(v) for v in big]).alias("big_api"),
    )
    types = dict(row.dtypes)
    assert types["small"] == types["small_api"] == "array<int>"
    assert types["big"] == types["big_api"] == "array<bigint>"
    got = row.collect()[0]
    assert list(got.small) == small and list(got.big) == big


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_non_finite_floats_raise(bad):
    with pytest.raises(ValueError):
        array_literal_sql([1.0, bad])


def test_query_cos_sim_bit_equal_to_column_form(spark):
    """The SQL-text literal-query cosine is the Column-API ``cosine``
    tree: same bits on every fixture vector."""
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    qvec = similarity.query_vector(emb, 0)
    ref = F.round(
        similarity.cosine(
            F.col("embedding").cast("array<double>"),
            F.array(*[F.lit(v) for v in qvec]),
        ),
        4,
    )
    rows = emb.select(similarity.query_cos_sim(qvec), ref.alias("ref")).collect()
    assert rows
    assert [_bits(r.cos_sim) for r in rows] == [_bits(r.ref) for r in rows]
