"""Per-tile top-k terms (the tile×text graft query)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _direct_topk(tf, k):
    w = Window.partitionBy("tile_x", "tile_y").orderBy(
        F.col("n").desc(), F.col("term").asc()
    )
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _salted_topk(tf, k, salt=16):
    from osm_spark.plans.skew import salted_topk

    return salted_topk(
        tf, k, [F.col("n").desc(), F.col("term").asc()],
        F.xxhash64("term"), salt, ["tile_x", "tile_y"],
    )


def test_salted_equals_direct_random(spark):
    """The superset argument: two-level salted top-k == direct top-k
    for ANY salt assignment, including adversarial tie pileups."""
    import random

    rng = random.Random(1234)
    rows = []
    for t in range(20):
        for i in range(rng.randint(1, 120)):
            # heavy tie mass: counts drawn from a tiny domain
            rows.append((t % 5, t // 5, f"w{i:03d}", rng.randint(1, 4)))
    tf = spark.createDataFrame(
        rows, "tile_x long, tile_y long, term string, n long"
    )
    for k in (1, 3, 5):
        a = {
            tuple(r) for r in _direct_topk(tf, k)
            .select("tile_x", "tile_y", "rank", "term", "n").collect()
        }
        b = {
            tuple(r) for r in _salted_topk(tf, k)
            .select("tile_x", "tile_y", "rank", "term", "n").collect()
        }
        assert a == b, k


def test_all_ties_deterministic(spark):
    """Every term count equal: rank must fall back to term asc."""
    rows = [(0, 0, f"t{i}", 7) for i in range(40)]
    tf = spark.createDataFrame(
        rows, "tile_x long, tile_y long, term string, n long"
    )
    got = (
        _salted_topk(tf, 5)
        .orderBy("rank")
        .select("rank", "term")
        .collect()
    )
    want = sorted(f"t{i}" for i in range(40))[:5]  # lexicographic asc
    assert [(r.rank, r.term) for r in got] == [
        (i + 1, t) for i, t in enumerate(want)
    ]


def test_query_shape(spark, sf_dir):
    from osm_spark.queries import SPARK_QUERIES

    out = SPARK_QUERIES["tile_topk_terms"](spark, sf_dir)
    rows = out.collect()
    assert rows
    per_tile: dict[tuple, list] = {}
    for r in rows:
        per_tile.setdefault((r.tile_x, r.tile_y), []).append(r)
    for tile, rs in per_tile.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1)), tile
        assert len(rs) <= 5
        # ranking is the documented total order
        rs = sorted(rs, key=lambda x: x.rank)
        for a, b in zip(rs, rs[1:]):
            assert (a.n, b.term) > (b.n, a.term) or (
                a.n > b.n or (a.n == b.n and a.term < b.term)
            )
