"""Edit-distance join (text/editjoin.py) + label propagation
(plans/labelprop.py) behavioral fixtures."""

from pyspark.sql import functions as F

from osm_spark.plans.components import symmetrize
from osm_spark.plans.labelprop import label_propagation
from osm_spark.text.editjoin import edit_distance_join


def lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(
                dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
            )
    return dp[len(b)]


def _bruteforce(strs, d):
    import itertools

    return {
        (a, b, lev(sa, sb))
        for (a, sa), (b, sb) in itertools.combinations(strs, 2)
        if lev(sa, sb) <= d
    }


def test_editjoin_exact_recall_vs_bruteforce(spark):
    strs = [
        (i, f"item-{i // 4:03d}-{i % 4}") for i in range(60)
    ] + [(100, "utterly-different-string"), (101, "item-999-9")]
    want = _bruteforce(strs, 2)
    df = spark.createDataFrame(strs, ["sid", "s"])
    got = {
        (r["a"], r["b"], r["dist"])
        for r in edit_distance_join(df, "sid", "s", d=2, q=2).collect()
    }
    assert got == want and len(want) > 50


def test_editjoin_pairs_short_strings_sharing_no_gram(spark):
    """Strings with at most d*q distinct grams can be within d while
    sharing no gram ('ab' vs 'cd' at q=2, d=2); they still pair, each
    pair once, and short-long pairs still come from the prefix join."""
    strs = [
        (1, "ab"), (2, "cd"), (3, ""), (4, "x"), (5, "xyz"), (6, "abcd"),
        (7, "aaaaaaaa"), (8, "aaaaaab"), (9, "abcde"), (10, "zzabc"),
        (11, "abcdefgh"), (12, "abcdefxy"), (13, "qrstuvwx"), (14, "ba"),
    ]
    df = spark.createDataFrame(strs, ["sid", "s"])
    for d, q in ((2, 2), (1, 2), (1, 3), (2, 1)):
        rows = edit_distance_join(df, "sid", "s", d=d, q=q).collect()
        got = [(r["a"], r["b"], r["dist"]) for r in rows]
        assert len(got) == len(set(got)), (d, q)
        assert set(got) == _bruteforce(strs, d), (d, q)
    assert (1, 2, 2) in _bruteforce(strs, 2)


def test_labelprop_spreads_majority_and_respects_seeds(spark):
    # path 0-1-2-3-4 with seeds 0 (label 10) and 4 (label 20):
    # round 1 labels 1<-10, 3<-20; node 2 has no labeled neighbor.
    # round 2: node 2 sees both 10 and 20 once -> tie -> smaller (10);
    # seeds keep their own labels throughout.
    nodes = spark.createDataFrame(
        [(0, 10), (1, None), (2, None), (3, None), (4, 20)],
        "node: long, seed: long",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], ["a", "b"]
    )
    edges = symmetrize(pairs)
    r1 = {
        r["node"]: r["lbl"]
        for r in label_propagation(nodes, edges, rounds=1).collect()
    }
    assert r1 == {0: 10, 1: 10, 2: None, 3: 20, 4: 20}
    r2 = {
        r["node"]: r["lbl"]
        for r in label_propagation(nodes, edges, rounds=2).collect()
    }
    assert r2 == {0: 10, 1: 10, 2: 10, 3: 20, 4: 20}


def test_labelprop_majority_beats_smaller_label(spark):
    # node 9 has two neighbors labeled 50 and one labeled 7: majority
    # (50) wins over the smaller label
    nodes = spark.createDataFrame(
        [(1, 50), (2, 50), (3, 7), (9, None)],
        "node: long, seed: long",
    )
    pairs = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9)], ["a", "b"]
    )
    out = {
        r["node"]: r["lbl"]
        for r in label_propagation(
            nodes, symmetrize(pairs), rounds=1
        ).collect()
    }
    assert out[9] == 50
