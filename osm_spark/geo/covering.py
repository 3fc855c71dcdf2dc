"""S2-style adaptive multi-zoom tile covering.

The S2 RegionCoverer idea re-expressed on the Z/X/Y grid (the engine's
square hierarchy; the hex hierarchy in geo/hex.py offers the same ops):
cover a region with the COARSEST tiles that fit, splitting only tiles
that straddle the boundary, down to ``z_max``. For bbox regions the
recursion collapses to a closed form — a tile at zoom z is in the
covering iff

    intersects(tile, bbox)
    AND (fully_inside(tile, bbox) OR z == z_max)
    AND no ancestor in [z_min, z-1] is fully_inside

— which both Spark column math and the DuckDB oracle can evaluate
identically (pure +,-,*,/ double comparisons; the Mercator bound uses
exp/atan but only inside comparisons whose operands are far from
equality at these zoom levels).

Why it matters at scale: a fixed-zoom covering of an elongated polygon
is quadratic in its aspect ratio (every fine tile along the long axis),
while the adaptive covering emits O(perimeter) fine tiles + O(area /
4^k) coarse ones — the cell-join fan-out for continental polygons drops
by orders of magnitude (see test_covering.py's reduction assertion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo import tiles
from osm_spark.geo.pip import polygon_covering_tiles


def _intersects(x, y, z: int):
    return (
        (tiles.tile_bound_west(x, z) < F.col("xmax"))
        & (tiles.tile_bound_east(x, z) > F.col("xmin"))
        & (tiles.tile_bound_south(y, z) < F.col("ymax"))
        & (tiles.tile_bound_north(y, z) > F.col("ymin"))
    )


def _fully_inside(x, y, z: int):
    return (
        (tiles.tile_bound_west(x, z) >= F.col("xmin"))
        & (tiles.tile_bound_east(x, z) <= F.col("xmax"))
        & (tiles.tile_bound_south(y, z) >= F.col("ymin"))
        & (tiles.tile_bound_north(y, z) <= F.col("ymax"))
    )


def _children4(cand: DataFrame) -> DataFrame:
    """Explode each (tile_x, tile_y) row into its 4 children at z+1."""
    kids = F.array(
        *[
            F.struct(
                (F.col("tile_x") * 2 + dx).alias("x"),
                (F.col("tile_y") * 2 + dy).alias("y"),
            )
            for dy in (0, 1)
            for dx in (0, 1)
        ]
    )
    return (
        cand.withColumn("_c", F.explode(kids))
        .withColumn("tile_x", F.col("_c.x"))
        .withColumn("tile_y", F.col("_c.y"))
        .drop("_c")
    )


DISJOINT, BOUNDARY, FULL = 0, 1, 2


def _frontier(
    polygons: DataFrame,
    z_min: int,
    z_max: int,
    classify,
    checkpoint_every: int,
) -> DataFrame:
    """The frontier recursion both coverings share. ``classify(z)`` is a
    Column grading each (tile_x, tile_y) candidate at zoom z as
    DISJOINT / BOUNDARY / FULL. FULL tiles emit; BOUNDARY tiles descend
    to their 4 children; at ``z_max`` FULL and BOUNDARY both emit. Rows
    gain (zoom, tile_x, tile_y, cell_full), ``cell_full`` false only for
    z_max boundary tiles. Every ``checkpoint_every`` levels the graded
    frame, DISJOINT rows dropped, is materialized (eager
    localCheckpoint), cutting the lineage. At z_max only the emit reads
    it, so it is materialized there only when every level is (the ring
    classify: a covering read twice downstream must not re-run it)."""
    cand = polygon_covering_tiles(polygons, z_min)
    outs: list[DataFrame] = []
    for z in range(z_min, z_max + 1):
        cand = cand.withColumn("_cls", classify(z)).filter(
            F.col("_cls") != DISJOINT
        )
        cut = checkpoint_every and (z - z_min + 1) % checkpoint_every == 0
        if cut and (z < z_max or checkpoint_every == 1):
            cand = cand.localCheckpoint(eager=True)
        if z == z_max:
            outs.append(
                cand.withColumn("zoom", F.lit(z))
                .withColumn("cell_full", F.col("_cls") == FULL)
                .drop("_cls")
            )
            break
        outs.append(
            cand.filter(F.col("_cls") == FULL)
            .drop("_cls")
            .withColumn("zoom", F.lit(z))
            .withColumn("cell_full", F.lit(True))
        )
        cand = _children4(cand.filter(F.col("_cls") == BOUNDARY).drop("_cls"))
    out = outs[0]
    for lv in outs[1:]:
        out = out.unionByName(lv)
    return out


def adaptive_covering(
    polygons: DataFrame,
    z_min: int,
    z_max: int,
    checkpoint_every: int = 6,
) -> DataFrame:
    """Explode each bbox row (cols xmin/xmax/ymin/ymax, any others
    carried through) into its adaptive covering: rows gain
    (zoom, tile_x, tile_y, cell_full).

    FRONTIER RECURSION, not per-zoom grid enumeration: candidates at
    zoom z+1 are only the 4 children of zoom-z BOUNDARY tiles
    (intersecting but not fully inside), so candidate generation is
    O(perimeter at z_max) per polygon — the full rectangle is only
    enumerated once, at z_min. A continental bbox taken to z_max=18
    stays O(10^5) candidate rows instead of the O(10^9) a per-zoom
    sequence-explode would produce (the covering OUTPUT was always
    O(perimeter); now the intermediate work is too). Produces exactly
    the closed-form covering set: a tile is emitted iff it intersects,
    is fully inside (or z == z_max), and no ancestor in [z_min, z-1]
    was fully inside — the recursion only descends through
    not-fully-inside chains, which IS the ancestor condition.

    ``checkpoint_every``: truncate lineage with an eager
    localCheckpoint every k levels (frontiers are O(perimeter) rows —
    cheap to materialize; deep z ranges otherwise nest one explode per
    level into a single giant plan, the measured failure mode of
    iterative loops in plans/iterate.py)."""

    def classify(z: int):
        return (
            F.when(~_intersects("tile_x", "tile_y", z), DISJOINT)
            .when(_fully_inside("tile_x", "tile_y", z), FULL)
            .otherwise(BOUNDARY)
        )

    return _frontier(polygons, z_min, z_max, classify, checkpoint_every)


def covering_candidate_counts(
    polygons: DataFrame, z_min: int, z_max: int
) -> list[tuple[int, int]]:
    """Replay the frontier recursion counting CANDIDATE rows per level
    (seed rectangle at z_min, then 4x the boundary frontier) — the
    work-bound diagnostic the O(perimeter) claim is tested against."""
    cand = polygon_covering_tiles(polygons, z_min)
    counts: list[tuple[int, int]] = []
    for z in range(z_min, z_max + 1):
        cand = cand.localCheckpoint(eager=True)
        counts.append((z, cand.count()))
        if z == z_max:
            break
        inter = _intersects("tile_x", "tile_y", z)
        full = _fully_inside("tile_x", "tile_y", z)
        cand = _children4(cand.filter(inter & ~full))
    return counts


def adaptive_covering_sql(
    rect_cte: str, z_min: int, z_max: int,
    id_col: str = "poly_id", table: str = "rect",
) -> str:
    """DuckDB twin of :func:`adaptive_covering` over CTE ``table`` with
    (id_col, xmin, xmax, ymin, ymax). Returns a full SELECT producing
    (id_col, zoom, tile_x, tile_y)."""

    def bounds(xe: str, ye: str, z: int) -> dict[str, str]:
        return tiles.tile_bound_sql(xe, ye, z)

    def full(xe: str, ye: str, z: int) -> str:
        b = bounds(xe, ye, z)
        return (
            f"({b['minlon']} >= xmin AND {b['maxlon']} <= xmax"
            f" AND {b['minlat']} >= ymin AND {b['maxlat']} <= ymax)"
        )

    def inter(xe: str, ye: str, z: int) -> str:
        b = bounds(xe, ye, z)
        return (
            f"({b['minlon']} < xmax AND {b['maxlon']} > xmin"
            f" AND {b['minlat']} < ymax AND {b['maxlat']} > ymin)"
        )

    parts = []
    for z in range(z_min, z_max + 1):
        conds = [inter("tx.x", "ty.x", z)]
        if z < z_max:
            conds.append(full("tx.x", "ty.x", z))
        for zp in range(z_min, z):
            conds.append(
                "NOT " + full(f"(tx.x >> {z - zp})", f"(ty.x >> {z - zp})", zp)
            )
        parts.append(
            f"""
  SELECT {id_col}, {z} AS zoom, tx.x AS tile_x, ty.x AS tile_y
  FROM {table},
       LATERAL (SELECT unnest(range({tiles.tile_x_sql('xmin', z)},
                                    {tiles.tile_x_sql('xmax', z)} + 1)) AS x) tx,
       LATERAL (SELECT unnest(range({tiles.tile_y_sql('ymax', z)},
                                    {tiles.tile_y_sql('ymin', z)} + 1)) AS x) ty
  WHERE {' AND '.join(conds)}"""
        )
    return f"WITH {rect_cte} " + " UNION ALL ".join(parts)


# ---------------------------------------------------------------------
# General-polygon adaptive covering (rings, not just bboxes)
# ---------------------------------------------------------------------
#
# The bbox closed form above classifies tiles against the rectangle;
# the reference's inner-ring assignment works on arbitrary rings
# (build_polygon.go:181-243). Here a tile is classified against the
# ACTUAL rings: DISJOINT (drop), FULL (entirely inside the polygon —
# emit coarse), or BOUNDARY (the polygon boundary passes through the
# tile — split). Classification is exact:
#   boundary  <=> some ring edge intersects the tile rect (Liang-Barsky
#                 segment clip) OR some ring vertex lies inside it
#                 (covers polygon-inside-tile);
#   otherwise the tile is entirely inside or outside the polygon and
#   the tile center's ray-cast (even-odd over all rings, so holes work)
#   decides FULL vs DISJOINT.

import math as _math

import numpy as _np


def _tb_west(x: float, z: int) -> float:
    return x / float(1 << z) * 360.0 - 180.0


def _tb_east(x: float, z: int) -> float:
    return (x + 1.0) / float(1 << z) * 360.0 - 180.0


def _merc_lat_scalar(yf: float) -> float:
    a = _math.pi * (1.0 - 2.0 * yf)
    return _math.atan((_math.exp(a) - _math.exp(-a)) / 2.0) * 180.0 / _math.pi


def _tb_north(y: float, z: int) -> float:
    return _merc_lat_scalar(y / float(1 << z))


def _tb_south(y: float, z: int) -> float:
    return _merc_lat_scalar((y + 1.0) / float(1 << z))


def _edges_hit_rect(xi, yi, xj, yj, w, s, e, n) -> bool:
    """Any segment (xi,yi)-(xj,yj) intersecting the CLOSED rect
    [w,e]x[s,n]? Liang-Barsky parametric clip, vectorized over edges."""
    dx = xj - xi
    dy = yj - yi
    t0 = _np.zeros(len(xi))
    t1 = _np.ones(len(xi))
    ok = _np.ones(len(xi), dtype=bool)
    for p, q in (
        (-dx, xi - w),
        (dx, e - xi),
        (-dy, yi - s),
        (dy, n - yi),
    ):
        ok &= ~((p == 0) & (q < 0))
        with _np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        t0 = _np.where(p < 0, _np.maximum(t0, r), t0)
        t1 = _np.where(p > 0, _np.minimum(t1, r), t1)
    return bool((ok & (t0 <= t1)).any())


def classify_tile_vs_rings(rings, tx: int, ty: int, z: int) -> int:
    """Exact tile-vs-polygon classification (see module comment).
    ``rings``: [(xs, ys), ...] float64 arrays, ring closed or not."""
    from osm_spark.geo import pip as _pip

    w, e = _tb_west(tx, z), _tb_east(tx, z)
    s, n = _tb_south(ty, z), _tb_north(ty, z)
    inside = False
    cx, cy = (w + e) / 2.0, (s + n) / 2.0
    for xs, ys in rings:
        if ((xs > w) & (xs < e) & (ys > s) & (ys < n)).any():
            return BOUNDARY
        if _edges_hit_rect(xs, ys, _np.roll(xs, 1), _np.roll(ys, 1), w, s, e, n):
            return BOUNDARY
        # even-odd across rings: holes toggle containment
        if _pip.ring_contains(xs, ys, _np.array([cx]), _np.array([cy]))[0]:
            inside = not inside
    return FULL if inside else DISJOINT


def _classify_udf(z: int, wkb_col: str):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _fn(wkbs, txs, tys):
        from osm_spark.geo import wkb as W

        cache: dict[bytes, list] = {}
        out = _np.empty(len(wkbs), dtype=_np.int32)
        for i, (buf, tx, ty) in enumerate(zip(wkbs, txs, tys)):
            key = bytes(buf)
            rings = cache.get(key)
            if rings is None:
                _, raw = W.decode(key)
                rings = [
                    (
                        _np.asarray(xs, dtype=_np.float64),
                        _np.asarray(ys, dtype=_np.float64),
                    )
                    for xs, ys in raw
                ]
                cache[key] = rings
            out[i] = classify_tile_vs_rings(rings, int(tx), int(ty), z)
        return pd.Series(out)

    return pandas_udf(_fn, "int")


def polygon_covering(
    polygons: DataFrame,
    z_min: int,
    z_max: int,
    wkb_col: str = "wkb",
) -> DataFrame:
    """Adaptive covering of ARBITRARY polygons carried as WKB: same
    frontier recursion as :func:`adaptive_covering` (candidates at z+1
    are only children of zoom-z BOUNDARY tiles, O(perimeter) work) but
    tiles are classified against the actual rings, so non-rectangular
    polygons get a TRUE covering — interior tiles of e.g. a triangle
    coarsen, exterior bbox corners drop out entirely — instead of a
    bbox over-cover.

    ``polygons`` must carry (wkb_col binary, xmin, xmax, ymin, ymax);
    the bbox seeds the z_min candidate rectangle, everything after
    consults only the rings. One Arrow UDF per level over the frontier
    (never the interior).

    Output rows carry ``cell_full``: true for cells ENTIRELY inside the
    polygon (every coarse emit, plus z_max tiles classified FULL),
    false only for z_max boundary tiles. Downstream PIP joins use it to
    skip the ray-cast refine for interior cells — refine cost becomes
    O(boundary candidates), not O(all candidates)."""

    def classify(z: int):
        return _classify_udf(z, wkb_col)(
            F.col(wkb_col), F.col("tile_x"), F.col("tile_y")
        )

    # checkpoint EVERY classified level: the frame is consumed twice
    # (emit + next frontier) and each emit branch of the final union
    # would otherwise re-execute the whole classify chain — level z's
    # Arrow pass would run (z_max - z + 1) times (measured: 14
    # ArrowEvalPython nodes for a 4-level covering). Candidates are
    # O(perimeter) rows — cheap to materialize.
    return _frontier(polygons, z_min, z_max, classify, checkpoint_every=1)
