"""WKT codec (wkt_codec query — exact fixed-decimal rendering)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from osm_spark.queries import _e6_str, _e6_str_sql


def _mirror(v: int) -> str:
    sign = "-" if v < 0 else ""
    a = abs(v)
    return f"{sign}{a // 1000000}.{a % 1000000:06d}"


VALUES = [0, 1, -1, 999999, -999999, 1000000, -1000000, 1234567,
          -1234567, 179999999, -179999999, 85000000, 500, -500]


def test_e6_render_spark(spark):
    df = spark.createDataFrame([(v,) for v in VALUES], "v long")
    got = [r[0] for r in df.select(_e6_str("v")).collect()]
    assert got == [_mirror(v) for v in VALUES]


def test_e6_render_duck():
    rows = ", ".join(f"(CAST({v} AS BIGINT))" for v in VALUES)
    got = [
        r[0]
        for r in duckdb.sql(
            f"WITH d(v) AS (VALUES {rows}) SELECT {_e6_str_sql('v')} FROM d"
        ).fetchall()
    ]
    assert got == [_mirror(v) for v in VALUES]


def test_query_roundtrip(spark, sf_dir):
    from osm_spark.queries import SPARK_QUERIES

    out = SPARK_QUERIES["wkt_codec"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.decode_ok, r.way_id
        assert r.wkt.startswith("LINESTRING(") and r.wkt.endswith(")")
        body = r.wkt[len("LINESTRING("):-1]
        pairs = body.split(",")
        assert len(pairs) == r.n_points
        # every coordinate is the exact fixed-6 grammar
        for p in pairs:
            x, y = p.split(" ")
            for tok in (x, y):
                whole, frac = tok.lstrip("-").split(".")
                assert len(frac) == 6
                int(whole), int(frac)
