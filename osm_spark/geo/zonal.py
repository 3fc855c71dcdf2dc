"""Zonal statistics: per-polygon aggregation of point measures.

The rollup layer on top of the engine's PIP joins (geo/pip.py): assign
every point to its containing zone polygon(s), then aggregate a measure
per zone — the classic GIS "zonal stats" operator (population per
admin area, crawl volume per country, token mass per region), and the
step a geocoded training corpus needs to audit its geographic mix.

Spark-first shape:

- The assignment reuses the audited cell equi-join PIP verbatim (+salt,
  +AQE skew join; a parameter-sized zone set broadcasts, so no point is
  shuffled).  Nothing new to audit on the join side.
- The rollup is ONE zone-keyed groupBy with map-side partial
  aggregation — shuffle volume is |zones|, not |points|; hot zones
  (a continent polygon) cost a partial-agg merge, not a data pileup.
- Mean is emitted as an exact integer fixed point (sum*1000 DIV n) so
  unordered float summation never enters the result — the module float
  discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo import pip as _pip


def zonal_stats(
    points: DataFrame,
    polygons: DataFrame,
    value_col: str,
    point_id: str = "doc_id",
    zoom: int = 6,
    salt: int = 4,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Per-zone stats over the cell-join PIP assignment.

    ``points`` carries (point_id, x_col, y_col, value_col); ``polygons``
    is the pip_join_cells ring schema (poly_id, xs, ys, xmin..ymax).
    The value column must be integral (the engine aggregates exact
    int64 measures; quantize floats scan-side first).

    Returns one row per zone with members:
      poly_id, n_points, sum_val, mean_val_e3 (exact sum*1000 DIV n),
      min_point, max_point — the member id extremes double as a cheap
      membership checksum.
    """
    hits = _pip.pip_join_cells(
        points, polygons, zoom=zoom, salt=salt, x_col=x_col, y_col=y_col
    )
    v = F.col(value_col)
    return hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(v).cast("long").alias("sum_val"),
        F.expr(f"(sum({value_col}) * 1000) DIV count(1)")
        .cast("long").alias("mean_val_e3"),
        F.min(point_id).cast("long").alias("min_point"),
        F.max(point_id).cast("long").alias("max_point"),
    )
