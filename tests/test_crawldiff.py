"""text/crawldiff.py — recrawl snapshot diff semantics."""

from __future__ import annotations

from osm_spark.text import crawldiff as cd


def _snap(spark, rows):
    return spark.createDataFrame(rows, "url string, content string")


def test_snapshot_diff_all_actions(spark):
    old = _snap(spark, [("a", "one"), ("b", "two"), ("c", "three")])
    new = _snap(spark, [("a", "one"), ("b", "TWO!"), ("d", "four")])
    rows = {r.url: r for r in cd.snapshot_diff(old, new).collect()}
    assert rows["a"].action == "unchanged"
    assert rows["a"].old_md5 == rows["a"].new_md5
    assert rows["b"].action == "modified"
    assert rows["b"].old_md5 != rows["b"].new_md5
    assert rows["c"].action == "deleted" and rows["c"].new_md5 is None
    assert rows["d"].action == "created" and rows["d"].old_md5 is None
    assert len(rows) == 4


def test_delta_stats_rollup(spark):
    old = _snap(spark, [("a", "x"), ("b", "y")])
    new = _snap(spark, [("a", "x"), ("c", "z")])
    stats = {r.action: (r.n, r.first_url) for r in
             cd.delta_stats(cd.snapshot_diff(old, new)).collect()}
    assert stats == {
        "unchanged": (1, "a"), "deleted": (1, "b"), "created": (1, "c"),
    }
