"""Z-order (Morton) file clustering for the snapshot table.

The reference orders tiles one-dimensionally by quadkey
(reference: maptile/tile.go Quadkey — base-4 interleave of x and y);
this module lifts the SAME interleave from a sort key for query output
into the table's PHYSICAL LAYOUT, which is where it pays at 100 TB:

- A table range-partitioned on ``doc_id`` (or ingest order) scatters
  every bbox query across ALL data files — per-file min/max stats for
  tile_x/tile_y each span the whole axis, so Iceberg-style manifest
  pruning keeps everything.
- Re-clustering the write on the Morton key ``quadkey_value(x, y)``
  makes every file a contiguous Z-curve segment.  A Z-curve segment is
  a union of at most O(log n) quadtree cells, so BOTH per-file
  ``tile_x`` and ``tile_y`` min/max intervals become tight — a 2-D
  bbox predicate then prunes on two independent 1-D stats columns
  without the planner knowing anything about space-filling curves.
  This is exactly Iceberg/Delta ``ZORDER BY``/``sort_order`` semantics
  expressed with stock Spark operators.

Cost model: ONE range exchange (repartitionByRange samples the key,
so skewed hot cells spread across adjacent files instead of one
monster file) + an in-partition sort that folds into the shuffle's
sort-merge machinery.  No UDFs, no driver-side state; the Morton key
is 5 shift-or-mask steps per axis (`geo/tiles.py:_spread_bits`) inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_spark.geo import tiles


def zorder_key(x, y) -> Column:
    """Morton/Z-order interleave of two non-negative int columns
    (x in even bits, y in odd) — the same integer the reference's
    quadkey walks digit-by-digit (maptile/tile.go:Quadkey), computed
    branch-free via :func:`osm_spark.geo.tiles.quadkey_value`."""
    return tiles.quadkey_value(x, y)


def cluster_by_zorder(
    df: DataFrame, xcol: str, ycol: str, n_files: int
) -> DataFrame:
    """Re-cluster ``df`` so a parquet write of the result produces
    ``n_files`` files that are contiguous Z-curve segments over
    (xcol, ycol).  One range exchange + in-partition sort; the helper
    key column never reaches the writer's schema."""
    z = zorder_key(F.col(xcol), F.col(ycol))
    return (
        df.withColumn("__zorder", z)
        .repartitionByRange(n_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
    )
