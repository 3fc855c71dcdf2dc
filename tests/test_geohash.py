"""Geohash cell index (geo/geohash.py).

Fixture + property coverage: the canonical public test vector, an
independent pure-Python interval-bisection mirror (the textbook
algorithm, structurally unrelated to the engine's Morton-interleave
form), the hierarchical prefix property, and the deinterleave
roundtrip the geohash_cell oracle relies on.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_spark.geo import geohash as GH

ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _mirror(lat: float, lon: float, precision: int) -> str:
    """Textbook interval-bisection geohash (independent derivation)."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True  # lon first
    while len(bits) < 5 * precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        even = not even
    out = []
    for j in range(precision):
        idx = 0
        for b in bits[5 * j : 5 * j + 5]:
            idx = idx * 2 + b
        out.append(ALPHABET[idx])
    return "".join(out)


def _spark_hash(spark, pts: list[tuple[float, float]], p: int) -> list[str]:
    df = spark.createDataFrame(pts, "lat double, lon double")
    return [
        r[0]
        for r in df.select(GH.geohash("lat", "lon", p)).collect()
    ]


def test_canonical_fixture(spark):
    # public test vector (geohash.org / Wikipedia): Jutland point
    assert _spark_hash(spark, [(57.64911, 10.40744)], 7) == ["u4pruyd"]
    assert _mirror(57.64911, 10.40744, 7) == "u4pruyd"


def test_matches_bisection_mirror(spark):
    import random

    rng = random.Random(20240819)
    pts = [
        (rng.uniform(-89.9, 89.9), rng.uniform(-179.9, 179.9))
        for _ in range(200)
    ]
    for p in (1, 2, 5, 7, 8):
        got = _spark_hash(spark, pts, p)
        want = [_mirror(lat, lon, p) for lat, lon in pts]
        assert got == want, f"precision {p}"


def test_prefix_hierarchy(spark):
    """Precision-k hash is the k-char prefix of the precision-8 hash
    (the property that makes a geohash prefix a rollup/cluster key).
    Exact because scaling by 2^5 is IEEE-exact, so the shorter
    quantization is a bit-shift of the longer one."""
    import random

    rng = random.Random(7)
    pts = [
        (rng.uniform(-90, 90), rng.uniform(-180, 180)) for _ in range(100)
    ]
    full = _spark_hash(spark, pts, 8)
    for p in (3, 5, 7):
        short = _spark_hash(spark, pts, p)
        assert short == [h[:p] for h in full]


def test_deinterleave_roundtrip(spark):
    import random

    rng = random.Random(99)
    pts = [
        (rng.uniform(-90, 90), rng.uniform(-180, 180)) for _ in range(100)
    ]
    df = spark.createDataFrame(pts, "lat double, lon double")
    for p in (6, 7):  # even + odd total-bit parity
        r = df.select(
            GH.lon_q("lon", p).alias("lq"),
            GH.lat_q("lat", p).alias("aq"),
            GH.geohash_value("lat", "lon", p).alias("v"),
        ).select(
            (GH.decode_lon_q("v", p) == F.col("lq")).alias("x"),
            (GH.decode_lat_q("v", p) == F.col("aq")).alias("y"),
        )
        rows = r.collect()
        assert all(row.x and row.y for row in rows)


def test_poles_and_antimeridian(spark):
    """Clamp semantics at the domain edges: lat=90 / lon=180 clamp into
    the last cell instead of overflowing the bit budget."""
    pts = [(90.0, 180.0), (-90.0, -180.0), (90.0, -180.0), (0.0, 0.0)]
    hashes = _spark_hash(spark, pts, 7)
    assert all(len(h) == 7 and set(h) <= set(ALPHABET) for h in hashes)
    assert hashes[0] == "zzzzzzz"  # NE corner clamps to all-ones cell
    assert hashes[1] == "0000000"  # SW corner is the all-zeros cell
    # equator/prime-meridian point: first char 's' (public fixture)
    assert hashes[3][0] == "s"


def _quantizes_faithfully(coord: float, offset: int, span: int, bits: int) -> bool:
    """True unless ``coord`` sits within float-rounding distance of a
    cell boundary, where quantize-floor ((coord+offset)/span * 2^bits)
    and the mirror's exact bisection legitimately differ by one cell
    (e.g. lon=-5e-324: the addition collapses the subnormal)."""
    import math
    from fractions import Fraction

    n = 1 << bits
    f_float = (coord + offset) / span * float(n)
    q_float = min(max(math.floor(f_float), 0), n - 1)
    exact = (Fraction(coord) + offset) / span * n
    q_exact = min(max(math.floor(exact), 0), n - 1)
    return q_float == q_exact


@settings(max_examples=40, deadline=None)
@given(
    lat=st.floats(min_value=-90, max_value=90, allow_nan=False),
    lon=st.floats(min_value=-180, max_value=180, allow_nan=False),
    p=st.integers(min_value=1, max_value=9),
)
def test_hypothesis_mirror_parity(lat, lon, p):
    """SQL-twin (DuckDB) == textbook bisection mirror, away from the
    ±1-ULP boundary strips where the two formulations legitimately
    disagree (the engine's contract is the quantize-floor form, which
    Spark and DuckDB reproduce bit-for-bit — that parity is what the
    geohash_cell oracle checks on every row)."""
    import duckdb
    from hypothesis import assume

    lon_bits, lat_bits = GH._bit_split(p)
    assume(_quantizes_faithfully(lon, 180, 360, lon_bits))
    assume(_quantizes_faithfully(lat, 90, 180, lat_bits))

    # CAST the injected literals to DOUBLE — DuckDB types bare decimal
    # literals as DECIMAL and would run the quantize in decimal math;
    # the real oracle reads DOUBLE table columns.
    got = duckdb.sql(
        f"SELECT {GH.geohash_sql(f'CAST({lat!r} AS DOUBLE)', f'CAST({lon!r} AS DOUBLE)', p)}"
    ).fetchone()[0]
    assert got == _mirror(lat, lon, p)
