"""Link extraction + scaled-integer PageRank: closed-form fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_spark.plans import pagerank as pg


def test_extract_links_regex_and_duplicates(spark):
    html = ('<html><a href="/doc/3">x</a> <a href="/other/9">no</a>'
            '<a href="/doc/3">dup</a><a href="/doc/12">y</a></html>')
    df = spark.createDataFrame([(1, html), (2, "<p>none</p>")],
                               "doc_id long, html string")
    got = sorted((r.src, r.dst) for r in
                 pg.extract_links(df, "doc_id", "html").collect())
    assert got == [(1, 3), (1, 3), (1, 12)]  # duplicates preserved, doc 2 empty


def _pr_fixture(spark):
    # 3-node cycle + one dangling-in node: 0->1, 1->2, 2->0, 0->3
    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 3)], "src long, dst long"
    )
    return nodes, edges


def test_pagerank_one_step_closed_form(spark):
    nodes, edges = _pr_fixture(spark)
    pr = {r.node: r.pr for r in
          pg.pagerank_int(nodes, edges, iters=1).collect()}
    # pr0 = 1_000_000 each; outdeg: 0->2, 1->1, 2->1; node 3 has outdeg 0
    # contrib: from 0: 500000 to {1,3}; from 1: 1000000 to 2; from 2: 1000000 to 0
    # pr1(v) = 150000 + 85*sum // 100
    assert pr[0] == 150000 + (85 * 1_000_000) // 100
    assert pr[1] == 150000 + (85 * 500_000) // 100
    assert pr[2] == 150000 + (85 * 1_000_000) // 100
    assert pr[3] == 150000 + (85 * 500_000) // 100


def test_pagerank_two_steps_match_python_reference(spark):
    nodes, edges = _pr_fixture(spark)
    got = {r.node: r.pr for r in
           pg.pagerank_int(nodes, edges, iters=2).collect()}
    # independent pure-python replay
    out = {0: [1, 3], 1: [2], 2: [0]}
    pr = {v: 1_000_000 for v in range(4)}
    for _ in range(2):
        sums = {v: 0 for v in range(4)}
        for u, vs in out.items():
            for v in vs:
                sums[v] += pr[u] // len(vs)
        pr = {v: 150000 + (85 * sums[v]) // 100 for v in range(4)}
    assert got == pr


def test_pagerank_no_inlinks_floor(spark):
    nodes = spark.createDataFrame([(0,), (1,)], "doc_id long")
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    pr = {r.node: r.pr for r in
          pg.pagerank_int(nodes, edges, iters=3).collect()}
    # node 0 never receives: settles at the teleport floor after step 1
    assert pr[0] == 150000


def test_extract_anchors_pairs_href_with_text(spark):
    html = ('<a href="/doc/3">alpha</a> filler <a href="/doc/9">b2</a>'
            '<a href="/doc/3">gamma</a>')
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    got = sorted((r.src, r.dst, r.anchor) for r in
                 pg.extract_anchors(df, "doc_id", "html").collect())
    assert got == [(1, 3, "alpha"), (1, 3, "gamma"), (1, 9, "b2")]


def test_anchor_rollup_profile(spark):
    anchors = spark.createDataFrame(
        [(1, 9, "beta"), (2, 9, "alpha"), (3, 9, "beta"), (5, 4, "zz")],
        "src long, dst long, anchor string")
    rows = {r.dst: r for r in pg.anchor_rollup(anchors).collect()}
    assert rows[9].n_inlinks == 3 and rows[9].n_anchor_terms == 2
    assert rows[9].anchors == "alpha|beta"
    assert rows[9].first_anchor == "alpha" and rows[9].min_src == 1
    assert rows[4].n_inlinks == 1 and rows[4].anchors == "zz"
