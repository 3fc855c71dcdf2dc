"""IVM count maintenance (pipeline/incremental.py)."""

from pyspark.sql import functions as F

from osm_spark.pipeline.incremental import apply_count_delta, count_delta


def test_delta_merge_matches_recompute(spark):
    counts = spark.createDataFrame(
        [(1, 5), (2, 3), (3, 1)], ["k", "n"]
    )
    contribs = spark.createDataFrame(
        # k=1: +2 -1; k=3: -1 (empties); k=9: +4 (new key); k=2: net 0
        [(1, 1), (1, 1), (1, -1), (3, -1), (9, 1), (9, 1), (9, 1),
         (9, 1), (2, 1), (2, -1)],
        ["k", "sign"],
    )
    delta = count_delta(contribs, ["k"])
    out = {
        r["k"]: r["n"]
        for r in apply_count_delta(counts, delta, ["k"]).collect()
    }
    assert out == {1: 6, 2: 3, 9: 4}  # 3 dropped at zero


def test_inconsistent_history_surfaces_as_negative(spark):
    counts = spark.createDataFrame([(1, 1)], ["k", "n"])
    delta = spark.createDataFrame([(1, -3)], ["k", "d"])
    out = apply_count_delta(counts, delta, ["k"]).collect()
    assert out[0]["n"] == -2  # visible, not silently clamped
