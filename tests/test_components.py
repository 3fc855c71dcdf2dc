"""Min-label + pointer-jump connected components: closed-form fixtures."""

from __future__ import annotations

from osm_spark.plans import components as cc


def _run(spark, node_ids, pair_list, iters, jump=True):
    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id long")
    pairs = spark.createDataFrame(pair_list or [(0, 0)], "a long, b long")
    if not pair_list:
        pairs = pairs.filter("a < 0")
    edges = cc.symmetrize(pairs)
    lbl = cc.min_label_components(nodes, edges, "doc_id", iters=iters, jump=jump)
    return {r.node: r.lbl for r in lbl.collect()}


def test_two_triangles_converge(spark):
    got = _run(spark, range(6), [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5)], iters=2)
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_isolated_nodes_self_label(spark):
    got = _run(spark, range(3), [], iters=2)
    assert got == {0: 0, 1: 1, 2: 2}


def test_jump_reaches_2k_minus_1(spark):
    # a 16-node path needs 15 plain rounds; with jumping, reach after
    # k rounds is >= 2^k - 1, so 4 rounds suffice.
    path = [(i, i + 1) for i in range(15)]
    got = _run(spark, range(16), path, iters=4, jump=True)
    assert set(got.values()) == {0}
    # plain propagation after 4 rounds only covers distance 4
    plain = _run(spark, range(16), path, iters=4, jump=False)
    assert plain[4] == 0 and plain[5] == 1  # node 5 is 5 hops from 0


def test_unconverged_rounds_are_deterministic_min_within_reach(spark):
    # 1 round on a path: neighbor step gives min within 1 hop, the jump
    # resolves that label's own 1-hop min — reach exactly 2 hops.
    path = [(i, i + 1) for i in range(7)]
    got = _run(spark, range(8), path, iters=1, jump=True)
    assert got == {i: max(0, i - 2) for i in range(8)}
    got2 = _run(spark, range(8), path, iters=1, jump=True)
    assert got == got2


def test_cluster_stats_canonical_and_sizes(spark):
    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "a long, b long")
    edges = cc.symmetrize(pairs)
    lbl = cc.min_label_components(nodes, edges, "doc_id", iters=3)
    rows = {r.node: r for r in cc.cluster_stats(lbl).collect()}
    assert rows[0].cluster == 0 and rows[0].cluster_size == 3
    assert rows[0].is_canonical == 1 and rows[1].is_canonical == 0
    assert rows[3].cluster == 3 and rows[3].cluster_size == 2
    assert rows[4].is_canonical == 0
