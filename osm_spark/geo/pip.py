"""Point-in-polygon kernels and joins.

The ray-cast kernel reproduces the reference's ``polygonContains``
formula verbatim (reference osmgeojson/build_polygon.go:218-243):

    ((yi > y) != (yj > y)) && (x < (xj-xi)*(y-yi)/(yj-yi) + xi)

with edges (i, j=i-1) wrapping around the ring, so fixture parity holds
bit-for-bit. The orientation kernel keeps the origin-offset shoelace
trick (internal/mputil/mputil.go:104-124) and accumulates sequentially
(np.add.accumulate) to match Go's left-to-right float summation.

Joins (SURVEY §2.3 "inner-ring → outer assignment" generalized into the
engine's spatial join) turn the theta join into an equi join on tile
keys, then run one ray-cast refine over the candidates:

- ``pip_join_cells``: polygons explode to their covering Z/X/Y tiles
  (bbox -> tile.Range), points compute tile.At, equi-join on tile key
  (+ an optional deterministic salt for hot cells). A small polygon
  side broadcasts under AQE, so no point is shuffled; a large one
  shuffles |points| + |polygon covering cells|, and AQE skew join plus
  the salt keep hot tiles (cities) from dominating a task.
- ``pip_join_polygon_covering``: the ring-exact adaptive covering
  (geo/covering.py); cells proved inside the polygon accept their points
  in the JVM, and only boundary cells reach the refine.

The refine (``_raycast_refine``) is one ``mapInArrow`` pass: rows group
by ``poly_id`` per Arrow batch, each polygon's rings are read once per
group (zero-copy from ``xs``/``ys`` list arrays, or decoded from a
``wkb`` column), and containment is even-odd over the rings, so holes
subtract.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from osm_spark.geo import tiles


# ------------------------------------------------------------- numpy kernels
def ring_contains(xs: np.ndarray, ys: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Ray-cast PIP: points (px, py) vs one ring — vectorized over
    points x edges. Formula verbatim from build_polygon.go:228-230."""
    if len(xs) == 0 or len(px) == 0:
        return np.zeros(len(px), dtype=bool)
    xi, yi = xs[None, :], ys[None, :]
    xj, yj = np.roll(xs, 1)[None, :], np.roll(ys, 1)[None, :]
    y = py[:, None]
    x = px[:, None]
    cross = (yi > y) != (yj > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (xj - xi) * (y - yi) / (yj - yi) + xi
    hits = cross & (x < xint)
    return (hits.sum(axis=1) % 2).astype(bool)


def polygon_contains_ring(outer_xs, outer_ys, r_xs, r_ys) -> bool:
    """polygonContains (build_polygon.go:218-243): true if ANY vertex of
    ring r is inside outer."""
    return bool(
        ring_contains(
            np.asarray(outer_xs, dtype=np.float64),
            np.asarray(outer_ys, dtype=np.float64),
            np.asarray(r_xs, dtype=np.float64),
            np.asarray(r_ys, dtype=np.float64),
        ).any()
    )


def ring_orientation(xs: np.ndarray, ys: np.ndarray) -> int:
    """Signed shoelace orientation with origin offset
    (mputil.go:104-124). Returns 1 for CCW (area > 0) else -1 (CW).
    Sequential accumulation matches Go's summation order exactly."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) == 0:
        return -1
    ox, oy = xs[0], ys[0]
    prev_x = np.roll(xs, 1)
    prev_y = np.roll(ys, 1)
    prev_x[0], prev_y[0] = xs[0], ys[0]
    terms = (prev_x - ox) * (ys - oy) - (xs - ox) * (prev_y - oy)
    area = np.add.accumulate(terms)[-1] if len(terms) else 0.0
    return 1 if area > 0 else -1


# ------------------------------------------------------------ the refine
_PAYLOAD = ("xs", "ys", "xmin", "xmax", "ymin", "ymax", "wkb")


def _float64(col) -> np.ndarray:
    """Arrow numeric column -> float64 numpy (NULL -> NaN, never inside)."""
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=np.float64)


def refine_batch(batch, x_col: str, y_col: str):
    """Keep the rows of one candidate Arrow batch whose point lies inside
    the row's polygon, in input order, minus the payload columns.

    Rows group by ``poly_id`` (stable argsort + run starts); each group
    reads its polygon's rings once — from the ``wkb`` column when the
    batch has one, else the ``xs``/``ys`` list slices — and XORs
    :func:`ring_contains` over them. Rows with a NULL ``poly_id`` drop."""
    from osm_spark.geo import wkb as W

    names = batch.schema.names
    if "wkb" in names:
        wkbs = batch.column("wkb")

        def rings_of(r):
            return W.decode(wkbs[r].as_py())[1]
    else:
        xl, yl = batch.column("xs"), batch.column("ys")
        xo, xv = xl.offsets.to_numpy(), _float64(xl.values)
        yo, yv = yl.offsets.to_numpy(), _float64(yl.values)

        def rings_of(r):
            return [(xv[xo[r]:xo[r + 1]], yv[yo[r]:yo[r + 1]])]

    keep = np.zeros(batch.num_rows, dtype=bool)
    pid = batch.column("poly_id")
    valid = np.flatnonzero(pid.is_valid().to_numpy(zero_copy_only=False))
    order = valid[np.argsort(pid.take(valid).to_numpy(), kind="stable")]
    if order.size:
        sp = pid.take(order).to_numpy()
        starts = np.flatnonzero(np.r_[True, sp[1:] != sp[:-1]])
        px, py = _float64(batch.column(x_col)), _float64(batch.column(y_col))
        for idx in np.split(order, starts[1:]):
            inside = np.zeros(idx.size, dtype=bool)
            for xs, ys in rings_of(idx[0]):
                inside ^= ring_contains(xs, ys, px[idx], py[idx])  # even-odd
            keep[idx] = inside
    return batch.filter(keep).select([n for n in names if n not in _PAYLOAD])


def _raycast_refine(cand: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """The shared refine: :func:`refine_batch` over every Arrow batch."""
    out_schema = StructType(
        [f for f in cand.schema.fields if f.name not in _PAYLOAD]
    )

    def refine(batches):
        for batch in batches:
            yield refine_batch(batch, x_col, y_col)

    return cand.mapInArrow(refine, schema=out_schema)


# ------------------------------------------------------------------ joins
def polygon_covering_tiles(polygons: DataFrame, zoom: int) -> DataFrame:
    """Explode each polygon (carrying ring arrays + bbox) into its
    covering tiles at ``zoom`` — bbox -> tile x/y ranges -> sequence().
    This is tile.Range (SURVEY §1.5) applied to the polygon bbox."""
    p = polygons.select(
        "*",
        tiles.tile_x("xmin", zoom).alias("_tx0"),
        tiles.tile_x("xmax", zoom).alias("_tx1"),
        tiles.tile_y("ymax", zoom).alias("_ty0"),  # north edge -> smaller y
        tiles.tile_y("ymin", zoom).alias("_ty1"),
    )
    return (
        p.withColumn("tile_x", F.explode(F.sequence("_tx0", "_tx1")))
        .withColumn("tile_y", F.explode(F.sequence("_ty0", "_ty1")))
        .drop("_tx0", "_tx1", "_ty0", "_ty1")
    )


def pip_join_cells(
    points: DataFrame,
    polygons: DataFrame,
    zoom: int = 7,
    salt: int = 1,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Scale-path PIP join: cell equi-join + ray-cast refine.

    ``polygons`` schema: (poly_id long, xs array<double>, ys array<double>,
    xmin, xmax, ymin, ymax double). The theta join becomes an equi join on
    (tile_x, tile_y[, salt]); with ``salt > 1`` each polygon-cell row is
    replicated ``salt`` times and points pick a deterministic bucket, so a
    hot cell splits across ``salt`` reducers (the explicit skew control
    the north rule asks for — AQE skew join is on as well).
    """
    pts = points.select(
        "*",
        tiles.tile_x(x_col, zoom).alias("tile_x"),
        tiles.tile_y(y_col, zoom).alias("tile_y"),
    )
    cells = polygon_covering_tiles(polygons, zoom)
    join_keys = ["tile_x", "tile_y"]
    if salt > 1:
        cells = cells.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        pts = pts.withColumn(
            "_salt", F.pmod(F.xxhash64(x_col, y_col), F.lit(salt)).cast("int")
        )
        join_keys = join_keys + ["_salt"]

    cand = pts.join(cells, on=join_keys, how="inner").drop("tile_x", "tile_y", "_salt")
    return _raycast_refine(cand, x_col, y_col)


def pip_join_polygon_covering(
    points: DataFrame,
    polygons: DataFrame,
    z_min: int = 4,
    z_max: int = 7,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """PIP join through the TRUE polygon covering (geo/covering.py
    polygon_covering over WKB rings) with the interior/boundary split:

    - points explode to their tile at each zoom (one scan);
    - polygons explode to ring-exact covering cells;
    - cells flagged ``cell_full`` accept their points WITHOUT refine —
      the covering proved the whole tile is inside the polygon;
    - only z_max BOUNDARY cells ray-cast (over the WKB payload).

    At 10^12 points this moves the Python-kernel cost from O(all
    candidate pairs) to O(pairs on the polygon BOUNDARY) — interior
    candidates (the vast majority for large polygons) never leave
    whole-stage codegen."""
    from osm_spark.geo.covering import polygon_covering

    zs = list(range(z_min, z_max + 1))
    zarr = F.array(
        *[
            F.struct(
                F.lit(z).alias("zoom"),
                tiles.tile_x(x_col, z).alias("tile_x"),
                tiles.tile_y(y_col, z).alias("tile_y"),
            )
            for z in zs
        ]
    )
    ptsz = points.select("*", F.explode(zarr).alias("_zc")).select(
        "*",
        F.col("_zc.zoom").alias("zoom"),
        F.col("_zc.tile_x").alias("tile_x"),
        F.col("_zc.tile_y").alias("tile_y"),
    ).drop("_zc")
    cov = polygon_covering(polygons, z_min, z_max).drop(
        "xmin", "xmax", "ymin", "ymax"
    )
    cand = ptsz.join(cov, ["zoom", "tile_x", "tile_y"]).drop(
        "zoom", "tile_x", "tile_y"
    )
    inside = cand.filter(F.col("cell_full")).drop("cell_full", "wkb")
    boundary = cand.filter(~F.col("cell_full")).drop("cell_full")
    return inside.unionByName(_raycast_refine(boundary, x_col, y_col))
