"""segment_bearing / tile_smooth / hll_registers."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from osm_spark.geo import distance as D

# ------------------------------------------------------------- bearing

def _bearing_ref(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dl = math.radians(lon2 - lon1)
    y = math.sin(dl) * math.cos(p2)
    x = math.cos(p1) * math.sin(p2) - math.sin(p1) * math.cos(p2) * math.cos(dl)
    return math.degrees(math.atan2(y, x))


def test_bearing_cardinal_fixtures(spark):
    cases = [
        ((0.0, 0.0, 10.0, 0.0), 0.0),     # due north
        ((0.0, 0.0, 0.0, 10.0), 90.0),    # due east on the equator
        ((10.0, 0.0, 0.0, 0.0), 180.0),   # due south
        ((0.0, 10.0, 0.0, 0.0), -90.0),   # due west
    ]
    df = spark.createDataFrame(
        [c for c, _ in cases], "lat1 double, lon1 double, lat2 double, lon2 double"
    )
    got = [
        r[0]
        for r in df.select(
            D.bearing_deg("lat1", "lon1", "lat2", "lon2")
        ).collect()
    ]
    for (case, want), g in zip(cases, got):
        assert abs(g - want) < 1e-9, (case, g)
        assert abs(g - _bearing_ref(*case)) < 1e-12


def test_bearing_matches_python_mirror(spark):
    import random

    rng = random.Random(77)
    rows = [
        (
            rng.uniform(-80, 80), rng.uniform(-179, 179),
            rng.uniform(-80, 80), rng.uniform(-179, 179),
        )
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        rows, "lat1 double, lon1 double, lat2 double, lon2 double"
    )
    got = [
        r[0]
        for r in df.select(
            D.bearing_deg("lat1", "lon1", "lat2", "lon2")
        ).collect()
    ]
    for row, g in zip(rows, got):
        assert abs(g - _bearing_ref(*row)) < 1e-9


def test_octant_from_quantized_integer(spark, sf_dir):
    from osm_spark.queries import SPARK_QUERIES

    out = SPARK_QUERIES["segment_bearing"](spark, sf_dir).collect()
    assert out
    for r in out:
        want = ((r.bearing_md + 360000 + 22500) // 45000) % 8
        assert r.octant == want
        assert -180_000 <= r.bearing_md <= 180_000


# ---------------------------------------------------------- tile blur

def test_tile_smooth_mirror(spark, sf_dir):
    """Scatter-blur output == dense numpy 3x3 convolution mirror."""
    import numpy as np

    from osm_spark.geo import tiles
    from osm_spark.pipeline import pages
    from osm_spark.queries import SPARK_QUERIES

    z = 8
    pts = pages.page_points(spark, sf_dir)
    counts = (
        pts.select(
            tiles.tile_x("lon", z).alias("x"), tiles.tile_y("lat", z).alias("y")
        )
        .groupBy("x", "y")
        .count()
        .collect()
    )
    n = 1 << z
    grid = np.zeros((n, n), dtype=np.int64)
    for r in counts:
        grid[r.x, r.y] = r["count"]
    got = SPARK_QUERIES["tile_smooth"](spark, sf_dir).collect()
    seen = set()
    for r in got:
        lo_x, hi_x = max(0, r.tile_x - 1), min(n, r.tile_x + 2)
        lo_y, hi_y = max(0, r.tile_y - 1), min(n, r.tile_y + 2)
        assert r.n_box == grid[lo_x:hi_x, lo_y:hi_y].sum(), (r.tile_x, r.tile_y)
        assert r.n_self == grid[r.tile_x, r.tile_y]
        assert r.n_box > 0
        seen.add((r.tile_x, r.tile_y))
    # completeness: every cell with nonzero box-sum is emitted
    occ = np.argwhere(grid > 0)
    for x, y in occ:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                tx, ty = x + dx, y + dy
                if 0 <= tx < n and 0 <= ty < n:
                    assert (tx, ty) in seen


# ----------------------------------------------------------------- HLL

def test_hll_registers_mirror(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "text"
    ).collect()
    W = 54
    per: dict[tuple, list] = {}
    for r in docs:
        v = int(hashlib.md5(r.text.encode()).hexdigest()[:15], 16)
        bucket, w = v >> W, v & ((1 << W) - 1)
        rho = W + 1 if w == 0 else W - w.bit_length() + 1
        per.setdefault((r.source, bucket), []).append(rho)
    want = {
        key: (max(rhos), len(rhos)) for key, rhos in per.items()
    }
    merged: dict[int, list] = {}
    for (src, bucket), (rho, n) in want.items():
        merged.setdefault(bucket, []).append((rho, n))
    for bucket, vals in merged.items():
        want[("__all__", bucket)] = (
            max(v[0] for v in vals),
            sum(v[1] for v in vals),
        )

    from osm_spark.queries import SPARK_QUERIES

    got = {
        (r.source, r.bucket): (r.rho, r.n_items)
        for r in SPARK_QUERIES["hll_registers"](spark, sf_dir).collect()
    }
    assert got == want


def test_hll_rho_string_formula(spark):
    """rho = strpos(lpad(bin(w))) == 54 - bit_length(w) + 1, incl. w=0."""
    W = 54
    vals = [0, 1, 2, 3, (1 << 53), (1 << 54) - 1, 12345678901234]
    df = spark.createDataFrame([(v,) for v in vals], "w long")
    pos = F.instr(F.lpad(F.bin("w"), W, "0"), "1")
    got = [
        r[0]
        for r in df.select(
            F.when(pos == 0, F.lit(W + 1)).otherwise(pos)
        ).collect()
    ]
    want = [W + 1 if v == 0 else W - v.bit_length() + 1 for v in vals]
    assert got == want
