"""Point-in-polygon kernels and join strategies.

The ray-cast kernel reproduces the reference's ``polygonContains``
formula verbatim (reference osmgeojson/build_polygon.go:218-243):

    ((yi > y) != (yj > y)) && (x < (xj-xi)*(y-yi)/(yj-yi) + xi)

with edges (i, j=i-1) wrapping around the ring, so fixture parity holds
bit-for-bit. The orientation kernel keeps the origin-offset shoelace
trick (internal/mputil/mputil.go:104-124) and accumulates sequentially
(np.add.accumulate) to match Go's left-to-right float summation.

Join strategies (SURVEY §2.3 "inner-ring → outer assignment" generalized
into the engine's spatial join):

- ``pip_join_broadcast``: polygon side small — ship rings to every task
  (Spark broadcast), evaluate fully vectorized per Arrow batch via
  ``mapInPandas``. No shuffle at all; the 100 TB plan is a single
  narrow map over pages.
- ``pip_join_cells``: polygon side large — turn the theta join into an
  equi join: polygons explode to their covering Z/X/Y tiles (bbox ->
  tile.Range), points compute tile.At, equi-join on tile key (+ an
  optional deterministic salt for hot cells), then ray-cast refine.
  Shuffle volume is |points| + |polygon covering cells|, and AQE skew
  join plus the salt keep hot tiles (cities) from dominating a task.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


# --------------------------------------------------------- join strategies
def pip_join_broadcast(
    points: DataFrame,
    polygons: list[tuple],
    x_col: str = "lon",
    y_col: str = "lat",
    poly_id_col: str = "poly_id",
) -> DataFrame:
    """Join points against a SMALL polygon list (broadcast).

    ``polygons`` is ``[(poly_id, xs_list, ys_list), ...]`` — collected on
    the driver (the caller asserts smallness). Emits one output row per
    (point, containing polygon). Execution: mapInPandas — one pass over
    points, numpy-vectorized per polygon with a bbox pre-mask, no shuffle.
    """
    spark = points.sparkSession
    sc = spark.sparkContext
    prepared = [
        (
            pid,
            np.asarray(xs, dtype=np.float64),
            np.asarray(ys, dtype=np.float64),
            float(np.min(xs)),
            float(np.max(xs)),
            float(np.min(ys)),
            float(np.max(ys)),
        )
        for pid, xs, ys in polygons
    ]
    bpolys = sc.broadcast(prepared)
    in_cols = points.columns
    from pyspark.sql.types import LongType, StructField, StructType

    # NB: StructType.add mutates in place — never call it on df.schema.
    out_schema = StructType(
        list(points.schema.fields) + [StructField(poly_id_col, LongType())]
    )

    def gen(batches):
        import pandas as pd

        polys = bpolys.value
        for pdf in batches:
            px = pdf[x_col].to_numpy(dtype=np.float64)
            py = pdf[y_col].to_numpy(dtype=np.float64)
            outs = []
            for pid, xs, ys, xmin, xmax, ymin, ymax in polys:
                mask = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                inside = ring_contains(xs, ys, px[idx], py[idx])
                hit = idx[inside]
                if hit.size:
                    sub = pdf.iloc[hit].copy()
                    sub[poly_id_col] = pid
                    outs.append(sub)
            if outs:
                yield pd.concat(outs, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {c: pd.Series(dtype=pdf[c].dtype) for c in in_cols}
                ).assign(**{poly_id_col: pd.Series(dtype="int64")})

    return points.mapInPandas(gen, schema=out_schema)


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


def pip_join_broadcast_wkb(
    points: DataFrame,
    polygons_wkb: list[tuple[int, bytes]],
    x_col: str = "lon",
    y_col: str = "lat",
    poly_id_col: str = "poly_id",
) -> DataFrame:
    """Broadcast PIP join over WKB polygon payloads (north star:
    "ray-casting over WKB polygons in pandas UDFs").

    ``polygons_wkb``: [(poly_id, wkb_bytes)] — Polygon or MultiPolygon,
    either byte order. Decoded ONCE per task from the broadcast (not per
    batch), then the same vectorized ray-cast refine as
    :func:`pip_join_broadcast`; holes subtract via even-odd parity
    (xor over rings). No shuffle at all.
    """
    from osm_spark.geo import wkb as W

    spark = points.sparkSession
    bpolys = spark.sparkContext.broadcast(polygons_wkb)
    in_cols = points.columns
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(points.schema.fields) + [StructField(poly_id_col, LongType())]
    )

    def gen(batches):
        import pandas as pd

        prepared = []
        for pid, buf in bpolys.value:
            _, rings = W.decode(buf)
            rings = [
                (xs, ys) for xs, ys in rings if len(xs) > 0
            ]
            if not rings:
                continue
            allx = np.concatenate([r[0] for r in rings])
            ally = np.concatenate([r[1] for r in rings])
            prepared.append(
                (pid, rings, allx.min(), allx.max(), ally.min(), ally.max())
            )
        for pdf in batches:
            px = pdf[x_col].to_numpy(dtype=np.float64)
            py = pdf[y_col].to_numpy(dtype=np.float64)
            outs = []
            for pid, rings, xmin, xmax, ymin, ymax in prepared:
                mask = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                inside = np.zeros(idx.size, dtype=bool)
                for xs, ys in rings:
                    # even-odd: holes flip containment back off
                    inside ^= ring_contains(xs, ys, px[idx], py[idx])
                hit = idx[inside]
                if hit.size:
                    sub = pdf.iloc[hit].copy()
                    sub[poly_id_col] = pid
                    outs.append(sub)
            if outs:
                yield pd.concat(outs, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {c: pd.Series(dtype=pdf[c].dtype) for c in in_cols}
                ).assign(**{poly_id_col: pd.Series(dtype="int64")})

    return points.mapInPandas(gen, schema=out_schema)


def _raycast_refine(cand: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Shared ray-cast refine: drop ring/bbox payload cols, keep rows
    whose point is inside the ring (vectorized per distinct polygon per
    Arrow batch)."""
    out_fields = [
        f for f in cand.schema.fields
        if f.name not in ("xs", "ys", "xmin", "xmax", "ymin", "ymax")
    ]
    from pyspark.sql.types import StructType

    out_schema = StructType(out_fields)
    out_cols = [f.name for f in out_fields]

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[out_cols]
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf[x_col].to_numpy(dtype=np.float64)
            py = pdf[y_col].to_numpy(dtype=np.float64)
            for pid, idx in pdf.groupby("poly_id").indices.items():
                xs = np.asarray(pdf["xs"].iloc[idx[0]], dtype=np.float64)
                ys = np.asarray(pdf["ys"].iloc[idx[0]], dtype=np.float64)
                keep[idx] = ring_contains(xs, ys, px[idx], py[idx])
            yield pdf.loc[keep, out_cols]

    return cand.mapInPandas(refine, schema=out_schema)


def pip_join_cells_adaptive(
    points: DataFrame,
    polygons: DataFrame,
    z_min: int = 4,
    z_max: int = 7,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Scale-path PIP join over the S2-style ADAPTIVE covering: polygons
    explode to mixed-zoom covering cells (coarse where fully inside,
    fine only along the boundary — geo/covering.py), points explode to
    their tile at each zoom in [z_min, z_max] (one scan, |zooms| rows
    per point), equi-join on (zoom, tile_x, tile_y), ray-cast refine.

    Versus the fixed-zoom pip_join_cells: the covering side shrinks by
    orders of magnitude for large/elongated polygons (no full fine-grid
    enumeration of the interior), at the cost of a small constant
    fan-out on the point side — the right trade at 10^12 points where
    the shuffle is dominated by the polygon-cell replication."""
    from osm_spark.geo.covering import adaptive_covering

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
    cov = adaptive_covering(polygons, z_min, z_max)
    cand = ptsz.join(cov, ["zoom", "tile_x", "tile_y"]).drop(
        "zoom", "tile_x", "tile_y"
    )
    return _raycast_refine(cand, x_col, y_col)


def _raycast_refine_wkb(
    cand: DataFrame, x_col: str, y_col: str, wkb_col: str = "wkb"
) -> DataFrame:
    """Ray-cast refine over WKB polygon payloads: even-odd across ALL
    rings (holes subtract — the reference's outer/inner semantics,
    build_polygon.go:181-243), rings decoded once per polygon per Arrow
    batch. Same formula-verbatim kernel as every other refine."""
    from osm_spark.geo import wkb as W

    out_fields = [f for f in cand.schema.fields if f.name != wkb_col]
    from pyspark.sql.types import StructType

    out_schema = StructType(out_fields)
    out_cols = [f.name for f in out_fields]

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[out_cols]
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf[x_col].to_numpy(dtype=np.float64)
            py = pdf[y_col].to_numpy(dtype=np.float64)
            for _pid, idx in pdf.groupby("poly_id").indices.items():
                _, rings = W.decode(bytes(pdf[wkb_col].iloc[idx[0]]))
                inside = np.zeros(len(idx), dtype=bool)
                for xs, ys in rings:
                    inside ^= ring_contains(
                        np.asarray(xs, dtype=np.float64),
                        np.asarray(ys, dtype=np.float64),
                        px[idx], py[idx],
                    )
                keep[idx] = inside
            yield pdf.loc[keep, out_cols]

    return cand.mapInPandas(refine, schema=out_schema)


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
    return inside.unionByName(_raycast_refine_wkb(boundary, x_col, y_col))
