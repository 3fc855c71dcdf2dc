"""Bellman-Ford relaxation rounds (plans/paths.py): closed-form fixtures.

The oracle-parity load-bearing property is the last test: frontier
pruning must be round-for-round identical to full relaxation, because
the DuckDB twin (relax_rounds_sql) relaxes from EVERY settled node
each round while the Spark side relaxes only from the changed set.
"""

from __future__ import annotations

from osm_spark.plans import paths as pp


def _run(spark, node_ids, edge_list, source_ids, iters, frontier=True):
    nodes = spark.createDataFrame([(i,) for i in node_ids], "node long")
    edges = spark.createDataFrame(
        edge_list or [(0, 0, 0)], "src long, dst long, w long"
    )
    if not edge_list:
        edges = edges.filter("src < 0")
    sources = spark.createDataFrame([(i,) for i in source_ids], "node long")
    dist = pp.relax_rounds(nodes, edges, sources, "node", iters=iters,
                           frontier=frontier)
    return {r.node: r.dist for r in dist.collect()}


def test_path_graph_exact_after_diameter_rounds(spark):
    # 0 -1-> 1 -2-> 2 -3-> 3, bidirectional weights
    e = []
    for i, w in [(0, 1), (1, 2), (2, 3)]:
        e += [(i, i + 1, w), (i + 1, i, w)]
    got = _run(spark, range(4), e, [0], iters=3)
    assert got == {0: 0, 1: 1, 2: 3, 3: 6}


def test_unreached_nodes_stay_null(spark):
    got = _run(spark, range(4), [(0, 1, 5), (1, 0, 5)], [0], iters=4)
    assert got == {0: 0, 1: 5, 2: None, 3: None}


def test_round_k_is_min_over_at_most_k_edges(spark):
    # shortcut 0->3 weight 100 vs chain 0->1->2->3 weight 3: after 1
    # round only the shortcut (and 0->1) are visible; the chain wins
    # once 3 rounds have run.
    e = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 100)]
    one = _run(spark, range(4), e, [0], iters=1)
    assert one == {0: 0, 1: 1, 2: None, 3: 100}
    three = _run(spark, range(4), e, [0], iters=3)
    assert three == {0: 0, 1: 1, 2: 2, 3: 3}


def test_multi_source_takes_nearest(spark):
    e = []
    for i in range(5):
        e += [(i, i + 1, 10), (i + 1, i, 10)]
    got = _run(spark, range(6), e, [0, 5], iters=5)
    assert got == {0: 0, 1: 10, 2: 20, 3: 20, 4: 10, 5: 0}


def test_zero_weight_edges_propagate(spark):
    got = _run(spark, range(3), [(0, 1, 0), (1, 2, 0)], [0], iters=2)
    assert got == {0: 0, 1: 0, 2: 0}


def test_frontier_equals_full_relaxation_every_round(spark):
    # the property the oracle parity rests on: an unchanged node's
    # proposals were already folded the round after it last changed,
    # so pruned and full relaxation agree on every round's state —
    # including deliberately unconverged ones.
    e = [(0, 1, 4), (1, 2, 1), (0, 2, 7), (2, 3, 2), (3, 1, 1),
         (1, 4, 9), (4, 5, 1), (2, 5, 50)]
    e = e + [(b, a, w) for a, b, w in e]
    for iters in (1, 2, 3, 5):
        pruned = _run(spark, range(7), e, [0], iters=iters, frontier=True)
        full = _run(spark, range(7), e, [0], iters=iters, frontier=False)
        assert pruned == full, f"diverged at iters={iters}"
