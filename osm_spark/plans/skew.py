"""Hot-key skew profiling — the diagnostic the engine's own salting
and AQE knobs are tuned WITH.

Every shuffle-keyed operator in this engine documents a skew story
(salt on hot PIP cells, AQE on hot city tiles, per-host top-B in the
frontier).  This operator produces the evidence: given any keyed
frame, the hottest keys, their traffic share, and distribution
statistics of the per-key counts — what an operator owner reads
BEFORE picking a salt factor, and what a 100 TB pipeline alerts on
when a new hot key appears (a viral page, a misbehaving host, the
default tile at (0, 0) swallowing null geocodes).

Scale shape:

- per-key counts: ONE map-side-combinable shuffle (|keys| rows out);
- top-k: :func:`salted_topk`, the salted two-level row_number every
  top-k in this engine runs — per-salt-bucket prune to k, then a
  k*salt-row final ranking, so no single reducer ever sorts the full
  key population;
- the distribution stats (distinct keys, max, total) are one more
  aggregation over the counts frame, and the count-of-count
  quantiles ride the bounded-histogram trick from text/quantiles.py
  — |distinct count values| rows, corpus-independent.

Everything integer (shares in ppm via DIV), zero Python.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_topk(
    df: DataFrame,
    k: int,
    order: Sequence,
    salt_key,
    salt: int,
    part_cols: Sequence[str] = (),
) -> DataFrame:
    """The top ``k`` rows of each ``part_cols`` group (of the whole
    frame when there are none) by ``order``, numbered 1..k in the long
    column ``rank``.

    Two levels: rows first rank within (group, ``salt_key`` mod
    ``salt``) buckets and keep <= k each, then the <= salt*k survivors
    per group rank again — a hot group, or a global ranking, never
    sorts its full row set in one reducer task. Exact whatever the
    salt when ``order`` is total: a row outside its bucket's top k has
    k rows ahead of it in its group."""
    salted = df.withColumn("_salt", F.pmod(salt_key, F.lit(salt)).cast("int"))
    w1 = Window.partitionBy(*part_cols, "_salt").orderBy(*order)
    pruned = (
        salted.withColumn("_lr", F.row_number().over(w1))
        .filter(F.col("_lr") <= k)
        .drop("_lr", "_salt")
    )
    w2 = Window.partitionBy(*part_cols).orderBy(*order)
    return pruned.withColumn(
        "rank", F.row_number().over(w2).cast("long")
    ).filter(F.col("rank") <= k)


def key_counts(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """(key..., n) per distinct key — one partial-aggregated shuffle."""
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def skew_profile(
    df: DataFrame,
    key_cols: Sequence[str],
    k: int = 10,
    salt: int = 8,
) -> DataFrame:
    """Top-k hottest keys + population stats, one row per hot key:

        rank, <key cols>, n, share_ppm, n_keys, total, p50_n, p99_n,
        skew_x_e3

    share_ppm  = key traffic in parts-per-million of the total;
    p50_n/p99_n = median / p99 of per-key counts (inverted CDF);
    skew_x_e3  = how many times hotter the top key is than the mean
                 key (n * n_keys * 1000 DIV total) — 1000 = perfectly
                 uniform; the salt factor an operator needs is
                 roughly this over 1000.
    """
    counts = key_counts(df, key_cols)
    key_id = F.concat_ws("", *[F.col(c).cast("string")
                                     for c in key_cols])
    order = [F.col("n").desc(), *[F.col(c).asc() for c in key_cols]]
    top = salted_topk(counts, k, order, F.xxhash64(key_id), salt)
    stats = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("total"),
    )
    # count-of-counts quantiles over the bounded histogram: |distinct
    # per-key count values| rows, never |keys|
    hist = counts.groupBy("n").agg(F.count(F.lit(1)).alias("_f"))
    wcum = (
        Window.orderBy(F.col("n").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_cum", F.sum("_f").over(wcum)).crossJoin(
        F.broadcast(
            hist.agg(F.sum("_f").alias("_tot"))
        )
    )
    p50 = cum.where(F.col("_cum") * 100 >= 50 * F.col("_tot")).agg(
        F.min("n").cast("long").alias("p50_n")
    )
    p99 = cum.where(F.col("_cum") * 100 >= 99 * F.col("_tot")).agg(
        F.min("n").cast("long").alias("p99_n")
    )
    return (
        top.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .select(
            "rank",
            *key_cols,
            "n",
            F.expr("(n * 1000000) DIV total").cast("long")
            .alias("share_ppm"),
            "n_keys",
            "total",
            "p50_n",
            "p99_n",
            F.expr("(n * n_keys * 1000) DIV total").cast("long")
            .alias("skew_x_e3"),
        )
    )
