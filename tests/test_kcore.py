"""k-core peeling (plans/kcore.py): known-graph fixtures."""

from pyspark.sql import functions as F

from osm_spark.plans.components import symmetrize
from osm_spark.plans.kcore import kcore_membership


def _edges(spark, pairs):
    df = spark.createDataFrame(pairs, ["a", "b"])
    return symmetrize(df).distinct()


def test_clique_survives_path_dies(spark):
    # K4 (0-3) + a path 3-4-5-6: 3-core = the clique exactly
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    path = [(3, 4), (4, 5), (5, 6)]
    out = kcore_membership(_edges(spark, k4 + path), k=3, rounds=3)
    rows = {r["node"]: r["core_deg"] for r in out.collect()}
    assert rows == {0: 3, 1: 3, 2: 3, 3: 3}


def test_cycle_is_its_own_2core_but_not_3core(spark):
    cyc = [(i, (i + 1) % 8) for i in range(8)]
    e = _edges(spark, cyc)
    two = kcore_membership(e, k=2, rounds=2)
    assert sorted(r["node"] for r in two.collect()) == list(range(8))
    three = kcore_membership(e, k=3, rounds=2)
    assert three.count() == 0


def test_cascade_peels_one_layer_per_round(spark):
    # chain 0-1-2-3 hanging off K4 {4,5,6,7}: with k=2 the chain end
    # (node 0, degree 1) dies round 1, exposing node 1, etc.
    k4 = [(i, j) for i in range(4, 8) for j in range(i + 1, 8)]
    chain = [(0, 1), (1, 2), (2, 3), (3, 4)]
    e = _edges(spark, k4 + chain)
    for rounds, expect_nodes in [(1, 7), (2, 6), (3, 5), (4, 4)]:
        out = kcore_membership(e, k=2, rounds=rounds)
        assert out.count() == expect_nodes, rounds
