"""Incremental view maintenance for keyed count rollups.

The reference's replication loop (replication/ + osmosis state files,
re-expressed in streaming/replication.py) delivers minutely change
batches; a production tile index CANNOT recompute per-tile page
counts from the corpus every minute at 10^12 rows.  The IVM identity
for counts is exact: each change contributes signed deltas (+1 at a
created/moved-in key, -1 at a deleted/moved-out key), the delta
aggregates to |touched keys| rows, and the merged view equals the
full recompute — cost O(|changes|) per batch instead of O(|corpus|).

Shapes: the delta build is one union of column-projected change rows
+ one map-side-combinable groupBy (shuffle volume = changed rows,
once); the merge is one full-outer join on the view key — at scale
the view sits partitioned/bucketed by key, so the join co-locates
with zero extra exchange, and zero-count rows drop so deleted tiles
leave the view instead of lingering as zeros.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def count_delta(
    contributions: DataFrame,
    key_cols: list[str],
    sign_col: str = "sign",
) -> DataFrame:
    """(keys..., sign=+/-1) contribution rows -> (keys..., d) signed
    per-key delta (net-zero keys keep a d=0 row; the merge drops
    them with the zeros)."""
    return contributions.groupBy(*key_cols).agg(
        F.sum(sign_col).cast("long").alias("d")
    )


def apply_count_delta(
    counts: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    cnt_col: str = "n",
) -> DataFrame:
    """Merge the signed delta into the materialized count view:
    full-outer on the keys, n' = coalesce(n, 0) + coalesce(d, 0),
    rows reaching zero drop out (a negative result would mean the
    delta and the view disagree about history — surfaced, not
    clamped: the ``n != 0`` filter keeps it visible downstream)."""
    merged = counts.join(delta, key_cols, "full_outer").select(
        *key_cols,
        (
            F.coalesce(F.col(cnt_col), F.lit(0))
            + F.coalesce(F.col("d"), F.lit(0))
        ).cast("long").alias(cnt_col),
    )
    return merged.where(F.col(cnt_col) != 0)
