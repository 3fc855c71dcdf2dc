"""Slippy-map (Web-Mercator) tile math as pure Spark column expressions.

Reproduces the orb/maptile semantics the reference depends on
(reference: bounds.go:18-34 usage; fixture property bounds_test.go:10-38),
documented in SURVEY.md §1.5:

    Fraction(lon, lat, z):  x = 2^z * (lon+180)/360
                            y = 2^z * (1 - ln(tan(lat*pi/360 + pi/4))/pi)/2
    At(p, z)             :  floor(Fraction), clamped to [0, 2^z - 1]
    Tile.Bound()         :  lon = 360*x/2^z - 180
                            lat = atan(sinh(pi*(1 - 2*y/2^z))) * 180/pi
    parent/child         :  shift math
    Range(z')            :  covering interval at another zoom

Everything is JVM column math (whole-stage codegen, no Python). Each
helper has a twin ``*_sql`` generator producing the byte-identical ANSI
SQL expression (same operation order, IEEE doubles) so DuckDB oracles
reproduce the exact same values. ``sinh`` is expanded to
``(exp(a) - exp(-a))/2`` in BOTH engines for cross-engine float parity.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PI = math.pi
MAX_ZOOM = 18


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------- fractions
def fraction_x(lon, z: int) -> Column:
    """Continuous tile x coordinate at zoom z."""
    n = float(1 << z)
    return (_col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(n)


def fraction_y(lat, z: int) -> Column:
    """Continuous tile y coordinate at zoom z (Mercator)."""
    n = float(1 << z)
    inner = F.tan(_col(lat) * F.lit(PI / 360.0) + F.lit(PI / 4.0))
    return (F.lit(1.0) - F.log(inner) / F.lit(PI)) / F.lit(2.0) * F.lit(n)


def tile_x(lon, z: int) -> Column:
    """Tile x index: floor(fraction), clamped to [0, 2^z - 1]."""
    n = 1 << z
    return F.least(
        F.greatest(F.floor(fraction_x(lon, z)), F.lit(0)), F.lit(n - 1)
    ).cast("long")


def tile_y(lat, z: int) -> Column:
    n = 1 << z
    return F.least(
        F.greatest(F.floor(fraction_y(lat, z)), F.lit(0)), F.lit(n - 1)
    ).cast("long")


# ------------------------------------------------------------------ bounds
def tile_bound_west(x, z: int) -> Column:
    n = float(1 << z)
    return _col(x).cast("double") / F.lit(n) * F.lit(360.0) - F.lit(180.0)


def tile_bound_east(x, z: int) -> Column:
    n = float(1 << z)
    return (_col(x).cast("double") + F.lit(1.0)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)


def _merc_lat(yf: Column) -> Column:
    # atan(sinh(pi * (1 - 2*y/n))) * 180/pi, sinh expanded for parity
    a = F.lit(PI) * (F.lit(1.0) - F.lit(2.0) * yf)
    sinh = (F.exp(a) - F.exp(-a)) / F.lit(2.0)
    return F.atan(sinh) * F.lit(180.0 / PI)


def tile_bound_north(y, z: int) -> Column:
    n = float(1 << z)
    return _merc_lat(_col(y).cast("double") / F.lit(n))


def tile_bound_south(y, z: int) -> Column:
    n = float(1 << z)
    return _merc_lat((_col(y).cast("double") + F.lit(1.0)) / F.lit(n))


def tile_bounds(x, y, z: int) -> Column:
    """struct<minlat,maxlat,minlon,maxlon> — matches NewBoundsFromTile
    (reference bounds.go:18-34)."""
    return F.struct(
        tile_bound_south(y, z).alias("minlat"),
        tile_bound_north(y, z).alias("maxlat"),
        tile_bound_west(x, z).alias("minlon"),
        tile_bound_east(x, z).alias("maxlon"),
    )


def contains(lat, lon, minlat, maxlat, minlon, maxlon) -> Column:
    """Inclusive bbox containment — reference bounds.go:38-48."""
    return (
        (_col(lat) >= _col(minlat))
        & (_col(lat) <= _col(maxlat))
        & (_col(lon) >= _col(minlon))
        & (_col(lon) <= _col(maxlon))
    )


# ----------------------------------------------------------- parent / child
def parent_x(x) -> Column:
    return F.shiftright(_col(x), 1)


def parent_y(y) -> Column:
    return F.shiftright(_col(y), 1)


def range_min(x, z_from: int, z_to: int) -> Column:
    """Covering interval start of a tile at another zoom (tile.Range)."""
    if z_to >= z_from:
        return F.shiftleft(_col(x), z_to - z_from)
    return F.shiftright(_col(x), z_from - z_to)


def range_max(x, z_from: int, z_to: int) -> Column:
    if z_to >= z_from:
        d = z_to - z_from
        return F.shiftleft(_col(x) + 1, d) - 1
    return F.shiftright(_col(x), z_from - z_to)


def _spread_bits(v: Column) -> Column:
    """Morton part1by1: spread the low 32 bits of a long so bit k moves
    to bit 2k (5 shift-or-mask steps; no per-bit loop)."""
    v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return v


def quadkey_value(x, y) -> Column:
    """Quadkey as an integer: base-4 digit k (from the low end) =
    (x>>k & 1) + 2*(y>>k & 1) — i.e. Morton/Z-order interleave with y in
    the odd bits. This is the engine's cell-prefix clustering key
    (repartitionByRange on it co-locates spatially adjacent tiles) and
    the allocation-free form of :func:`quadkey`."""
    xs = _spread_bits(_col(x).cast("long"))
    ys = _spread_bits(_col(y).cast("long"))
    return xs.bitwiseOR(F.shiftleft(ys, 1))


def quadkey(x, y, z: int) -> Column:
    """Bing-style quadkey string, one base-4 digit per zoom level.

    digit_k = (x>>k & 1) + 2*(y>>k & 1), emitted most-significant first.
    Computed as a single interleaved base-4 integer then one base
    conversion + lpad — one string allocation per row instead of z
    (the per-digit cast+concat form generated z string allocs per row
    and, with non-trivial x/y subtrees, a 2z-times-duplicated
    expression tree that fell out of whole-stage codegen; measured ~5x
    slower at 10M rows). Callers should pass *simple* columns (project
    tile_x/tile_y to named columns first) so the interleave terms
    reference a materialized value.
    """
    if z == 0:
        return F.lit("")
    return F.lpad(F.conv(quadkey_value(x, y).cast("string"), 10, 4), z, "0")


def tile_key(x, y, z) -> Column:
    """Single-long tile key: z in high bits, then interleavable x,y.
    Key = (z << 58) | (x << 29) | y  (29 bits each side suffices to z=18;
    kept wide for z<=28). Sorting by this clusters by zoom then x."""
    return (
        F.shiftleft(_col(z).cast("long"), 58)
        .bitwiseOR(F.shiftleft(_col(x).cast("long"), 29))
        .bitwiseOR(_col(y).cast("long"))
    )


KEY_MAX_ZOOM = 28  # tile_key's x/y fields are 29 bits wide
_KEY_FIELD = (1 << 29) - 1


def key_zoom(key) -> Column:
    return F.shiftright(_col(key), 58).cast("int")


def key_x(key) -> Column:
    return F.shiftright(_col(key), 29).bitwiseAND(F.lit(_KEY_FIELD))


def key_y(key) -> Column:
    return _col(key).bitwiseAND(F.lit(_KEY_FIELD))


def check_pyramid_zooms(z_max: int, z_min: int) -> None:
    if not 0 <= z_min <= z_max <= KEY_MAX_ZOOM:
        raise ValueError(
            f"need 0 <= z_min <= z_max <= {KEY_MAX_ZOOM}, "
            f"got z_min={z_min}, z_max={z_max}"
        )


def pyramid_counts(pts: DataFrame, z_max: int, z_min: int, x: str = "x",
                   y: str = "y", n: str = "n") -> DataFrame:
    """Occupied-tile counts at every zoom z_min..z_max as (key, n) rows,
    ``key`` in the tile_key layout; ``pts`` has one row per point with
    its z_max tile coords in columns ``x`` and ``y``.

    Two shuffles whatever the number of levels: one aggregate of the
    points on the packed z_max key, then one explode of each base
    tile's z_max-1..z_min ancestor keys (shift math) and one aggregate
    of those, unioned with the base.  Points are scanned once and only
    the per-tile table is exploded, never points x zooms.  Raises
    ``ValueError`` unless 0 <= z_min <= z_max <= KEY_MAX_ZOOM."""
    check_pyramid_zooms(z_max, z_min)
    base = pts.groupBy(tile_key(x, y, F.lit(z_max)).alias("key")).agg(
        F.count(F.lit(1)).alias(n)
    )
    if z_min == z_max:
        return base
    bx, by = key_x("key"), key_y("key")
    ancestors = F.array(*[
        tile_key(F.shiftright(bx, z_max - z), F.shiftright(by, z_max - z), F.lit(z))
        for z in range(z_max - 1, z_min - 1, -1)
    ])
    up = (
        base.select(F.explode(ancestors).alias("key"), n)
        .groupBy("key")
        .agg(F.sum(n).alias(n))
    )
    return base.unionByName(up)


# ================================================================ SQL twins
# Byte-identical ANSI SQL (DuckDB) generators. Operation order mirrors the
# column expressions above so IEEE-754 results match bit-for-bit.

def fraction_x_sql(lon: str, z: int) -> str:
    n = float(1 << z)
    return f"(({lon}) + 180.0) / 360.0 * {n!r}"


def fraction_y_sql(lat: str, z: int) -> str:
    n = float(1 << z)
    return (
        f"(1.0 - ln(tan(({lat}) * {PI / 360.0!r} + {PI / 4.0!r})) / {PI!r})"
        f" / 2.0 * {n!r}"
    )


def tile_x_sql(lon: str, z: int) -> str:
    n = 1 << z
    return (
        f"CAST(least(greatest(floor({fraction_x_sql(lon, z)}), 0), {n - 1})"
        f" AS BIGINT)"
    )


def tile_y_sql(lat: str, z: int) -> str:
    n = 1 << z
    return (
        f"CAST(least(greatest(floor({fraction_y_sql(lat, z)}), 0), {n - 1})"
        f" AS BIGINT)"
    )


def _merc_lat_sql(yf: str) -> str:
    a = f"({PI!r} * (1.0 - 2.0 * ({yf})))"
    return f"(atan((exp({a}) - exp(-{a})) / 2.0) * {180.0 / PI!r})"


def tile_bound_sql(x: str, y: str, z: int) -> dict[str, str]:
    n = float(1 << z)
    return {
        "minlon": f"(CAST({x} AS DOUBLE) / {n!r} * 360.0 - 180.0)",
        "maxlon": f"((CAST({x} AS DOUBLE) + 1.0) / {n!r} * 360.0 - 180.0)",
        "maxlat": _merc_lat_sql(f"CAST({y} AS DOUBLE) / {n!r}"),
        "minlat": _merc_lat_sql(f"(CAST({y} AS DOUBLE) + 1.0) / {n!r}"),
    }


def quadkey_sql(x: str, y: str, z: int) -> str:
    parts = [
        f"CAST((({x} >> {k}) & 1) + 2 * (({y} >> {k}) & 1) AS VARCHAR)"
        for k in range(z - 1, -1, -1)
    ]
    return " || ".join(parts) if parts else "''"
