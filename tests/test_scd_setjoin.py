"""SCD2 build (temporal/scd.py) + exact Jaccard join (text/setjoin.py)."""

from pyspark.sql import functions as F

from osm_spark.temporal.scd import scd2_build
from osm_spark.text.setjoin import jaccard_join


def test_scd2_collapses_noops_and_closes_intervals(spark):
    rows = [
        # key 1: A A B A  -> 3 versions (the repeat A collapses)
        (1, 100, "A"), (1, 200, "A"), (1, 300, "B"), (1, 400, "A"),
        # key 2: single observation -> one open interval
        (2, 50, "X"),
    ]
    df = spark.createDataFrame(rows, ["key", "ts_us", "attr"])
    out = {
        (r["key"], r["version_seq"]): (
            r["attr"], r["valid_from_us"], r["valid_to_us"],
            r["is_current"],
        )
        for r in scd2_build(df).collect()
    }
    assert out == {
        (1, 1): ("A", 100, 300, False),
        (1, 2): ("B", 300, 400, False),
        (1, 3): ("A", 400, -1, True),
        (2, 1): ("X", 50, -1, True),
    }


def test_jaccard_join_exact_recall_vs_bruteforce(spark):
    import itertools

    sets = {
        1: ["a", "b", "c", "d", "e"],
        2: ["a", "b", "c", "d", "f"],       # J=4/6 with 1
        3: ["a", "b", "c", "d", "e", "f"],  # J=5/6 with 1
        4: ["x", "y", "z"],
        5: ["x", "y", "z"],                 # J=1 with 4
        6: ["a", "x", "q", "r", "s"],
    }
    want = set()
    for i, j in itertools.combinations(sorted(sets), 2):
        si, sj = set(sets[i]), set(sets[j])
        inter, uni = len(si & sj), len(si | sj)
        if inter * 1_000_000 >= 800_000 * uni:
            want.add((i, j, inter, uni))
    df = spark.createDataFrame(
        [(k, v) for k, v in sets.items()], ["sid", "toks"]
    )
    got = {
        (r["a"], r["b"], r["inter"], r["uni"])
        for r in jaccard_join(df, tau_e6=800_000).collect()
    }
    assert got == want
    assert (4, 5, 3, 3) in got      # the exact-duplicate pair
    assert all(p[0] != 1 or p[1] != 2 for p in got)  # 4/6 < 0.8 out
