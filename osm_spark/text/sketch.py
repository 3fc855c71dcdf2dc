"""KMV (k-minimum-values) distinct-count sketch, deterministic.

The distributed-cardinality primitive (host-level distinct-content
counts, dedup-rate dashboards) done the mergeable-sketch way: keep each
group's k SMALLEST md5 values; if fewer than k exist the count is
exact, otherwise estimate |distinct| from the k-th minimum's position
in the hash space.  Unlike HyperLogLog (whose register layout is
engine-specific), every byte here is md5-derived, so Spark and the SQL
oracle agree on the sketch CONTENTS and the ESTIMATE bit-for-bit —
even the estimator error is deterministic and oracle-checked.

Scale shape:

- **distinct + salted bottom-k**: the (group, digest) distinct is one
  shuffle; the per-group k-minimum ranking is the same salted
  two-level window as every other top-k in this repo (a hot host with
  10^9 distinct pages never funnels one reducer task); the sketch
  itself is k rows per group — mergeable by union + re-rank, which is
  what makes KMV the right shape for incremental recrawls.
- **integer-exact estimator**: digests order identically as strings
  and as numbers (fixed-width lowercase hex); only the k-th minimum is
  parsed to a 60-bit int (15 nibbles — inside signed int64 in every
  engine, same convention as SimHash60), and the estimate is
  ``(k-1) · (2^60 DIV v_k)`` — integer division, no doubles, so both
  engines produce the identical estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.plans.skew import salted_topk

TWO60 = 1 << 60


def _hex15_to_long(col) -> F.Column:
    """First 15 hex nibbles -> int64 in [0, 2^60)."""
    return F.conv(F.substring(col, 1, 15), 16, 10).cast("long")


def kmv_sketch(
    items: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 16,
    salt: int = 16,
) -> DataFrame:
    """-> (group, rank, dig): each group's k smallest distinct md5
    digests of ``item_col``, rank 1..k ascending.  Mergeable: union two
    sketches and re-rank."""
    d = items.select(
        F.col(group_col).alias("grp"), F.md5(item_col).alias("dig")
    ).distinct()
    return salted_topk(
        d, k, [F.col("dig").asc()], F.xxhash64("dig"), salt, ["grp"]
    ).select(F.col("grp").alias(group_col), "rank", "dig")


def kmv_estimate(sketch: DataFrame, group_col: str, k: int = 16) -> DataFrame:
    """-> (group, n_kept, est): exact count when the group holds fewer
    than k distinct values (the sketch IS the value set), else
    ``(k-1) · (2^60 DIV v_k)`` with v_k = the k-th minimum as a 60-bit
    int."""
    agg = sketch.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("dig").alias("vk_dig"),
    )
    with_vk = agg.withColumn("_vk", _hex15_to_long(F.col("vk_dig")))
    # integer division via DIV (Spark's `/` on longs yields double)
    frac = F.expr(f"CAST({TWO60} AS BIGINT) DIV _vk")
    return with_vk.select(
        group_col,
        "n_kept",
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(F.lit(k - 1).cast("long") * frac)
        .cast("long")
        .alias("est"),
    )
