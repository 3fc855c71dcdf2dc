"""Encoded-polyline codec (functions/polyline.py)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_spark.functions import polyline as PL


def _mirror_encode(values: list[int]) -> str:
    """Textbook while-loop encoder (independent of the unrolled form)."""
    out = []
    for d in values:
        v = ~(d << 1) if d < 0 else d << 1
        while v >= 0x20:
            out.append(chr((0x20 | (v & 31)) + 63))
            v >>= 5
        out.append(chr(v + 63))
    return "".join(out)


def _spark_roundtrip(spark, deltas: list[tuple[int, int]]):
    df = spark.createDataFrame(
        [(deltas,)], "deltas array<struct<dlat:long,dlon:long>>"
    )
    enc = df.select(PL.encode_line(F.col("deltas")).alias("p"))
    vals = PL.decode_values(F.col("p"))
    row = enc.select(
        "p",
        F.filter(vals, lambda v, i: i % 2 == 0).alias("dlats"),
        F.filter(vals, lambda v, i: i % 2 == 1).alias("dlons"),
    ).collect()[0]
    return row.p, list(zip(row.dlats, row.dlons))


def test_canonical_google_vector(spark):
    pts = [(38.5, -120.2), (40.7, -120.95), (43.252, -126.453)]
    lat5 = [round(p[0] * 1e5) for p in pts]
    lon5 = [round(p[1] * 1e5) for p in pts]
    deltas = [(lat5[0], lon5[0])] + [
        (lat5[i] - lat5[i - 1], lon5[i] - lon5[i - 1]) for i in (1, 2)
    ]
    s, back = _spark_roundtrip(spark, deltas)
    assert s == "_p~iF~ps|U_ulLnnqC_mqNvxq`@"
    assert back == deltas
    flat = [v for d in deltas for v in d]
    assert _mirror_encode(flat) == s


def test_edge_deltas(spark):
    cases = [
        [(0, 0)],                      # single zero point -> '??'
        [(0, 0), (0, 0)],              # repeated point
        [(-1, 1), (1, -1)],            # sign boundary
        [(17_999_999, -17_999_999)],   # world-span extremes
        [(31, -32), (32, -33)],        # chunk-boundary values
    ]
    for deltas in cases:
        s, back = _spark_roundtrip(spark, deltas)
        assert back == deltas, (deltas, s, back)
        flat = [v for d in deltas for v in d]
        assert s == _mirror_encode(flat)


def test_duckdb_twin_matches_mirror():
    vals = [0, 1, -1, 31, 32, -32, 1023, -174, 255200, -17_999_999, 17_999_999]
    rows = ", ".join(f"(CAST({v} AS BIGINT))" for v in vals)
    sql = f"""
    WITH d(v) AS (VALUES {rows}),
    z AS (SELECT {PL.zigzag_sql('v')} AS zz FROM d)
    SELECT {PL.encode_value_sql('zz')} FROM z
    """
    got = [r[0] for r in duckdb.sql(sql).fetchall()]
    assert got == [_mirror_encode([v]) for v in vals]


@settings(max_examples=30, deadline=None)
@given(
    deltas=st.lists(
        st.tuples(
            st.integers(-18_000_000, 18_000_000),
            st.integers(-18_000_000, 18_000_000),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_hypothesis_duck_encode_matches_mirror(deltas):
    rows = ", ".join(
        f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))"
        for i, (a, b) in enumerate(deltas)
    )
    sql = f"""
    WITH d(i, dlat, dlon) AS (VALUES {rows}),
    z AS (SELECT i, {PL.zigzag_sql('dlat')} AS za,
                 {PL.zigzag_sql('dlon')} AS zb FROM d)
    SELECT string_agg({PL.encode_value_sql('za')} ||
                      {PL.encode_value_sql('zb')}, '' ORDER BY i) FROM z
    """
    flat = [v for d in deltas for v in d]
    assert duckdb.sql(sql).fetchone()[0] == _mirror_encode(flat)


def test_spark_roundtrip_random(spark):
    import random

    rng = random.Random(31337)
    deltas = [
        (rng.randint(-18_000_000, 18_000_000), rng.randint(-18_000_000, 18_000_000))
        for _ in range(200)
    ]
    s, back = _spark_roundtrip(spark, deltas)
    assert back == deltas
    assert s == _mirror_encode([v for d in deltas for v in d])
