"""Adaptive quadtree binning — equi-depth spatial partitioning.

Fixed-zoom tiles are the wrong partition grain for skewed data: at
10^12 geocoded pages one hot-city tile holds 10^9 rows while ocean
tiles hold none.  The adaptive quadtree splits exactly where the
data is dense — cells over a row cap recurse into their four
children, everything else stays coarse — producing the leaf set a
skew-aware `repartitionByRange`/bucketing layout actually wants
(each leaf ~<= cap rows, leaf count ~ corpus/cap regardless of how
pathological the hot spots are).  This is the planning complement of
tile_skew_profile (which DIAGNOSES hot keys; this emits the balanced
layout) and the Z-order table's natural partner (leaves are quadkey
prefixes).

Scale shape — NO iterative rescans of the point set:

- The counts of every level come from ONE pyramid aggregate
  (``tiles.pyramid_counts``, the tile_pyramid kernel): the points are
  aggregated once at z_max, and every coarser level is one explode of
  each z_max cell's ancestor keys and one sum — two shuffles, however
  many levels.
- The split/leaf decision is one cell-keyed join, not a walk down the
  levels.  A level-z cell is ELIGIBLE iff all its ancestors down to
  z_min exceeded cap; counts never shrink going up, so that is iff
  z == z_min or its parent exceeded cap.  Eligible cells at or under
  cap — or at z_max — are leaves.  Points are never touched again.
- Leaf-set invariant (pytest + oracle-pinned): leaves tile the
  occupied space exactly — every point lies in exactly one leaf, so
  sum(leaf n) == |points|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo import tiles


def adaptive_bins(
    pts: DataFrame,
    z_min: int,
    z_max: int,
    cap: int,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """-> (z, x, y, n) quadtree leaves.

    ``pts`` carries z_max tile coords (x_col, y_col); a leaf is an
    occupied cell whose ancestors (down to z_min) all exceeded
    ``cap`` and which itself is at or under cap — or at z_max, where
    recursion stops regardless."""
    cells = tiles.pyramid_counts(pts, z_max, z_min, x_col, y_col).select(
        "key", "n", tiles.key_zoom("key").alias("z")
    )
    z, x, y = F.col("z"), tiles.key_x("key"), tiles.key_y("key")
    parent = F.when(
        z > z_min,
        tiles.tile_key(F.shiftright(x, 1), F.shiftright(y, 1), z - 1),
    )
    split = cells.where(F.col("n") > cap).select(F.col("key").alias("pkey"))
    return (
        cells.where((F.col("n") <= cap) | (z == z_max))
        .join(split, parent == F.col("pkey"), "left")
        .where((z == z_min) | F.col("pkey").isNotNull())
        .select(z.cast("long").alias("z"), x.alias("x"), y.alias("y"), "n")
    )


def adaptive_bins_sql(
    pts_cte: str, z_min: int, z_max: int, cap: int
) -> tuple[str, str]:
    """DuckDB twin over ``pts_cte`` (x, y at z_max).  Returns
    (extra_ctes, final_select) producing (z, x, y, n)."""
    parts = [
        f"c{z_max} AS (SELECT x, y, count(*) AS n FROM {pts_cte} "
        f"GROUP BY x, y)"
    ]
    for z in range(z_max - 1, z_min - 1, -1):
        parts.append(
            f"c{z} AS (SELECT x // 2 AS x, y // 2 AS y, sum(n) AS n "
            f"FROM c{z + 1} GROUP BY x // 2, y // 2)"
        )
    parts.append(f"e{z_min} AS (SELECT * FROM c{z_min})")
    sel = []
    for z in range(z_min, z_max + 1):
        leaf_cond = f"n <= {cap}" if z < z_max else "TRUE"
        sel.append(
            f"SELECT CAST({z} AS BIGINT) AS z, x, y, "
            f"CAST(n AS BIGINT) AS n FROM e{z} WHERE {leaf_cond}"
        )
        if z < z_max:
            parts.append(
                f"e{z + 1} AS (SELECT c.x, c.y, c.n FROM c{z + 1} c "
                f"JOIN (SELECT x, y FROM e{z} WHERE n > {cap}) p "
                f"ON c.x // 2 = p.x AND c.y // 2 = p.y)"
            )
    final = "\n    UNION ALL ".join(sel)
    return ",\n    ".join(parts), final
