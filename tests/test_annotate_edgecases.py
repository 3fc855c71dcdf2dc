"""Edge-case scenarios ported from the reference annotate/edgecases_test.go
(the real-world OSM inconsistency catalog). These define the
FindVisible/nextVersionIndex contract more precisely than any docs."""

from datetime import datetime

import pytest

from tests.test_annotate_golden import NODE_SCHEMA, WAY_SCHEMA


def _d(y, m, d):
    return datetime(y, m, d)


def run(spark, nodes, ways):
    """nodes: (id, version, visible, ts, lat, lon); ways: (id, version, ts, refs)."""
    from osm_spark.temporal.annotate import annotate_ways

    ndf = spark.createDataFrame(
        [(i, v, vis, 0, ts, None, lat, lon) for (i, v, vis, ts, lat, lon) in nodes],
        NODE_SCHEMA,
    )
    wdf = spark.createDataFrame(
        [(i, v, True, 0, ts, None, [(r,) for r in refs]) for (i, v, ts, refs) in ways],
        WAY_SCHEMA,
    )
    rows = annotate_ways(wdf, ndf).orderBy("version", "ts").collect()
    return rows


def test_child_created_after_parent_single(spark):
    """edgecases_test.go:17-49: node appears 1 month after way — way is
    not annotated but gains one update when the node comes online."""
    rows = run(
        spark,
        nodes=[(1, 1, True, _d(2012, 2, 1), 1.0, 2.0)],
        ways=[(1, 1, _d(2012, 1, 1), [1])],
    )
    w = rows[0]
    assert w.nodes[0].lat == 0.0 and w.nodes[0].lon == 0.0
    assert len(w.updates) == 1
    assert (w.updates[0].lat, w.updates[0].lon) == (1.0, 2.0)


def test_child_created_after_parent_two_ways(spark):
    """edgecases_test.go:51-95: second way version annotates fine."""
    rows = run(
        spark,
        nodes=[(1, 1, True, _d(2012, 2, 1), 1.0, 2.0)],
        ways=[(1, 1, _d(2012, 1, 1), [1]), (1, 2, _d(2012, 3, 1), [1])],
    )
    w1, w2 = rows
    assert w1.nodes[0].lat == 0.0
    assert len(w1.updates) == 1
    assert w2.updates is None or len(w2.updates) == 0
    assert (w2.nodes[0].lat, w2.nodes[0].lon) == (1.0, 2.0)


def test_two_nodes_between_two_ways(spark):
    """edgecases_test.go:97-138: invisible v1 then visible v2 between the
    way versions — neither way annotated; second way gets update v2."""
    rows = run(
        spark,
        nodes=[
            (1, 1, False, _d(2012, 2, 1), 1.0, 2.0),
            (1, 2, True, _d(2012, 4, 1), 1.0, 3.0),
        ],
        ways=[(1, 1, _d(2012, 1, 1), [1]), (1, 2, _d(2012, 3, 1), [1])],
    )
    w1, w2 = rows
    assert w1.nodes[0].lat == 0.0
    assert w1.updates is None or len(w1.updates) == 0
    assert w2.nodes[0].lat == 0.0
    assert len(w2.updates) == 1 and w2.updates[0].version == 2


def test_node_deleted_between_parents(spark):
    """edgecases_test.go:141-183 (node 321452894 pattern)."""
    rows = run(
        spark,
        nodes=[
            (1, 1, True, _d(2012, 1, 1), 1.0, 2.0),
            (1, 2, False, _d(2012, 2, 1), 1.0, 3.0),
            (1, 3, True, _d(2012, 3, 1), 1.0, 4.0),
            (1, 4, True, _d(2013, 1, 1), 1.0, 5.0),
            (1, 5, True, _d(2013, 2, 1), 1.0, 6.0),
        ],
        ways=[(1, 1, _d(2012, 1, 1), [1]), (1, 2, _d(2013, 1, 1), [1])],
    )
    w1, w2 = rows
    assert len(w1.updates) == 1 and w1.updates[0].version == 3
    assert len(w2.updates) == 1 and w2.updates[0].version == 5


@pytest.mark.parametrize(
    "node_ts",
    [_d(2012, 1, 1), _d(2012, 2, 15), _d(2012, 3, 15)],
    ids=["before", "between", "after"],
)
def test_node_redacted(spark, node_ts):
    """edgecases_test.go:185-283: a single non-visible version (license
    redaction) — never annotate."""
    rows = run(
        spark,
        nodes=[(1, 1, False, node_ts, 1.0, 2.0)],
        ways=[(1, 1, _d(2012, 2, 1), [1]), (1, 2, _d(2012, 3, 1), [1])],
    )
    for w in rows:
        assert w.nodes[0].lat == 0.0 and w.nodes[0].lon == 0.0


def test_redacted_one_of_two_nodes_same_version_parents(spark):
    """edgecases_test.go:285-323 "2 nodes": two way rows with the SAME
    id+version (differing ts) — redacted node never annotated, the
    other annotated in both."""
    rows = run(
        spark,
        nodes=[
            (1, 1, False, _d(2012, 4, 1), 1.0, 2.0),
            (2, 1, True, _d(2012, 2, 1), 1.0, 2.0),
        ],
        ways=[(1, 1, _d(2012, 3, 1), [1, 2]), (1, 1, _d(2012, 5, 1), [1, 2])],
    )
    for w in rows:
        assert w.nodes[0].lat == 0.0
        assert (w.nodes[1].lat, w.nodes[1].lon) == (1.0, 2.0)


def test_child_filter_skips_only_annotated(spark):
    """ChildFilter (options.go:58-67 / compute.go:200-218): slots that
    are already annotated AND fail the filter are skipped; unannotated
    slots are processed regardless of the filter."""
    from pyspark.sql import functions as F

    from osm_spark.temporal.annotate import annotate_refs

    ndf = spark.createDataFrame(
        [
            (1, 1, True, 0, _d(2020, 1, 1), _d(2020, 1, 1), 1.0, 1.0),
            (2, 1, True, 0, _d(2020, 1, 1), _d(2020, 1, 1), 2.0, 2.0),
            (3, 1, True, 0, _d(2020, 1, 1), _d(2020, 1, 1), 3.0, 3.0),
        ],
        "ref long, version int, visible boolean, changeset long, "
        "ts timestamp, committed timestamp, lat double, lon double",
    )
    # refs: 1 annotated (would be skipped by filter), 2 annotated (passes
    # filter), 3 NOT annotated (kept despite failing filter)
    wdf = spark.createDataFrame(
        [
            (
                10, 1, True, 0, _d(2020, 6, 1), _d(2020, 6, 1),
                [(1, True), (2, True), (3, False)],
            )
        ],
        "pid long, version int, visible boolean, changeset long, "
        "ts timestamp, committed timestamp, "
        "refs array<struct<ref:long, annotated:boolean>>",
    )
    keep = {2}
    flt = lambda ref: ref.isin([2])

    out = annotate_refs(wdf, ndf, child_filter=flt).filter("kind = 'set'").collect()
    assert {r.idx for r in out} == {1, 2}  # slot 0 (ref 1) skipped

    out_all = annotate_refs(wdf, ndf).filter("kind = 'set'").collect()
    assert {r.idx for r in out_all} == {0, 1, 2}


def mixed_fixture(spark):
    """(ways, node_histories) mixing every routing case of the keyed
    pass: modern refs, pre-2012 refs near their ways' timestamps, a
    modern node with NULL committed, non-monotone committed, commits
    before CommitInfoStart, commit times tied with each other and with
    way versions, invisible and redacted versions, a hub node under many
    way versions, an empty way, a ref with no history, and two way rows
    sharing (id, version) with different ts."""
    import random
    from datetime import timedelta

    rnd = random.Random(7)
    modern, legacy = _d(2013, 1, 1), _d(2010, 6, 1)
    nodes = []  # (id, version, visible, changeset, ts, committed, lat, lon)

    def history(nid, start, n, committed=lambda ts: ts, step_days=90):
        ts = start
        for v in range(1, n + 1):
            ts += timedelta(days=rnd.randint(1, step_days), minutes=rnd.randint(0, 59))
            nodes.append((nid, v, rnd.random() < 0.8, 1000 * nid + v, ts,
                          committed(ts), float(nid), float(v)))

    for nid in range(1, 13):
        history(nid, modern, rnd.randint(1, 5))
    for nid in range(20, 26):
        history(nid, legacy, rnd.randint(1, 4), committed=lambda ts: None, step_days=30)
    history(30, modern, 3, committed=lambda ts: None)
    nodes += [
        (31, 1, True, 31001, _d(2014, 1, 1), _d(2014, 5, 1), 31.0, 1.0),
        (31, 2, True, 31002, _d(2014, 2, 1), _d(2014, 3, 1), 31.0, 2.0),
        (31, 3, True, 31003, _d(2014, 7, 1), _d(2014, 7, 1), 31.0, 3.0),
        (32, 1, False, 32001, _d(2013, 3, 1), _d(2013, 3, 1), 32.0, 1.0),
        # two versions committed in one instant, the later invisible
        (33, 1, True, 33001, _d(2013, 5, 1), _d(2013, 5, 1), 33.0, 1.0),
        (33, 2, True, 33002, _d(2013, 8, 1), _d(2013, 8, 1), 33.0, 2.0),
        (33, 3, False, 33002, _d(2013, 8, 1), _d(2013, 8, 1), 33.0, 3.0),
        (36, 1, True, 36001, _d(2013, 9, 1), _d(2013, 9, 1), 36.0, 1.0),
        (36, 2, True, 36001, _d(2013, 9, 1), _d(2013, 9, 1), 36.0, 2.0),
        # referenced by one way version only; its next version drops them
        (34, 1, True, 34001, _d(2013, 1, 1), _d(2013, 1, 1), 34.0, 1.0),
        (34, 2, True, 34002, _d(2013, 6, 1), _d(2013, 6, 1), 34.0, 2.0),
        (34, 3, True, 34003, _d(2016, 1, 1), _d(2016, 1, 1), 34.0, 3.0),
        (39, 1, True, 39001, _d(2013, 1, 1), _d(2013, 1, 1), 39.0, 1.0),
        (39, 2, True, 39002, _d(2013, 6, 1), _d(2013, 6, 1), 39.0, 2.0),
        # a known commit time before CommitInfoStart, later than its ts
        (37, 1, True, 37001, _d(2014, 1, 1), _d(2011, 1, 1), 37.0, 1.0),
        (38, 1, True, 38001, _d(2012, 10, 1), _d(2012, 10, 1), 38.0, 1.0),
        (38, 2, True, 38002, _d(2013, 1, 1), _d(2013, 1, 1), 38.0, 2.0),
    ]
    history(40, modern, 6)

    ways = []  # (id, version, visible, changeset, ts, committed, refs)
    # refs 31, 33, 34 and 36-39 stay out: a legacy way would route them slow
    pool = list(range(1, 13)) + list(range(20, 26)) + [30, 32, 40, 999]
    for wid in range(100, 110):
        ts = legacy if wid % 3 == 0 else modern
        for v in range(1, rnd.randint(2, 4)):
            ts += timedelta(days=rnd.randint(10, 200))
            refs = rnd.sample(pool, rnd.randint(1, 5))
            ways.append((wid, v, rnd.random() < 0.9, 0, ts,
                         ts if ts > _d(2013, 1, 1) else None, refs))
    # way versions landing within minutes of a pre-2012 node version, in
    # the same changeset or not (FindVisible's eps branches)
    for k, (nid, v, _, cs, ts, *_) in enumerate(n for n in nodes if n[0] == 20):
        off = timedelta(minutes=[-40, -10, 0, 10, 40][k % 5])
        ways.append((400, v, True, cs if k % 2 else 0, ts + off, None, [20, 21]))
    for wid in range(200, 215):  # the hub
        ts = modern + timedelta(days=40 * (wid - 200))
        ways.append((wid, 1, True, 0, ts, ts, [40, 1 + wid % 12]))
    # way versions committed in the same instant as a node version (one
    # changeset edits both), repeats included: every tie of the pick and
    # next-parent comparisons
    commits = {}
    for n in nodes:
        if n[5] is not None:
            commits.setdefault(n[0], []).append(n[5])
    for wid in range(500, 530):
        nid = rnd.choice([1, 2, 3, 4, 5, 6, 31, 40])
        times = sorted(rnd.choices(commits[nid], k=rnd.randint(2, 4)))
        for v, ts in enumerate(times, 1):
            ways.append((wid, v, True, 0, ts, ts, [nid, rnd.choice(pool)]))
    ways += [
        # node 31 is visible by version order only from 2014-03-01 on
        (310, 1, True, 0, _d(2014, 4, 1), _d(2014, 4, 1), [31]),
        # a modern version followed by one with an unknown or a
        # pre-CommitInfoStart commit time
        (311, 1, True, 0, _d(2013, 2, 1), _d(2013, 2, 1), [34]),
        (311, 2, True, 0, _d(2015, 2, 1), None, [40]),
        (312, 1, True, 0, _d(2013, 2, 1), _d(2013, 2, 1), [39]),
        (312, 2, True, 0, _d(2015, 2, 1), _d(2011, 1, 1), [40]),
        (320, 1, True, 0, _d(2013, 6, 1), _d(2013, 6, 1), [33]),
        (320, 2, True, 0, _d(2013, 8, 1), _d(2013, 8, 1), [33]),
        (321, 1, True, 0, _d(2013, 8, 1), _d(2013, 8, 1), [33]),
        (330, 1, True, 0, _d(2013, 8, 1), _d(2013, 8, 1), [36]),
        (330, 2, True, 0, _d(2013, 9, 1), _d(2013, 9, 1), [36]),
        (331, 1, True, 0, _d(2013, 9, 1), _d(2013, 9, 1), [36]),
        # committed before CommitInfoStart yet after ts: ts decides
        (333, 1, True, 0, _d(2013, 6, 1), _d(2011, 6, 1), [38]),
        (334, 1, True, 0, _d(2013, 1, 1), _d(2013, 1, 1), [37]),
        (300, 1, True, 0, _d(2013, 5, 1), _d(2013, 5, 1), []),
        # same (id, version), different ts; ref 999 has no history
        (301, 1, True, 0, _d(2013, 6, 1), _d(2013, 6, 1), [1, 40, 999]),
        (301, 1, True, 0, _d(2013, 7, 1), _d(2013, 7, 1), [1, 40, 999]),
        (301, 2, True, 0, _d(2014, 6, 1), _d(2014, 6, 1), [31, 40]),
    ]
    ndf = spark.createDataFrame(nodes, NODE_SCHEMA)
    wdf = spark.createDataFrame(
        [w[:6] + ([(r,) for r in w[6]],) for w in ways], WAY_SCHEMA
    )
    return wdf, ndf


def _forced_kernel_rows(wdf, ndf, ignore_inconsistency=True):
    """Every ref through the branch-exact kernel, as one cogroup, and
    the rows of the routed keyed pass."""
    from pyspark.sql import functions as F

    from osm_spark.temporal import annotate as A

    parents = wdf.select(
        F.col("id").alias("pid"), "version", "visible", "changeset", "ts",
        "committed",
        F.transform("nodes", lambda n: F.struct(n["ref"].alias("ref"))).alias("refs"),
    )
    children = ndf.withColumnRenamed("id", "ref")
    forced = (
        A._slots(parents).groupBy("ref")
        .cogroup(children.groupBy("ref"))
        .applyInPandas(
            A._make_kernel(A.DEFAULT_THRESHOLD_SEC, ignore_inconsistency),
            schema=A._OUT_SCHEMA,
        )
    )
    routed = A.annotate_refs(
        parents, children, ignore_inconsistency=ignore_inconsistency
    )
    return forced.collect(), routed.collect()


def test_routed_annotation_matches_kernel_on_mixed_fixture(spark):
    """The keyed pass (JVM window path for modern refs, kernel for the
    rest) returns exactly the rows of the kernel run on every ref."""
    from collections import Counter

    forced, routed = _forced_kernel_rows(*mixed_fixture(spark))
    assert Counter(map(tuple, routed)) == Counter(map(tuple, forced))
    kinds = Counter((r.pid, r.kind) for r in forced)
    # both routes produce output: an all-modern way and a pre-2012 one
    assert kinds[(301, "set")] and kinds[(400, "set")]
    assert sum(n for (_, k), n in kinds.items() if k == "update") > 10


def test_error_surfacing_matches_kernel_on_mixed_fixture(spark):
    """With ignore_inconsistency=False the keyed pass routes every ref
    that can produce an 'error' row to the kernel: it returns exactly
    the rows of the kernel run on every ref, 'error' rows included."""
    from collections import Counter

    forced, routed = _forced_kernel_rows(
        *mixed_fixture(spark), ignore_inconsistency=False
    )
    assert Counter(map(tuple, routed)) == Counter(map(tuple, forced))
    kinds = Counter(r.kind for r in forced)
    assert kinds["error"] and kinds["set"] and kinds["update"]
    # errors from both sources: no pick as of the parent's commit (no
    # child version) and an invisible version between parent versions
    errs = [r for r in forced if r.kind == "error"]
    assert any(r.child_version is None for r in errs)
    assert any(r.child_version is not None for r in errs)


def test_annotate_ways_nulls_on_mixed_fixture(spark):
    """annotate_ways fills slots and updates from the kernel's rows; an
    empty way keeps NULL nodes and a version without updates keeps
    NULL updates (not [])."""
    from collections import defaultdict

    from osm_spark.temporal.annotate import annotate_ways

    wdf, ndf = mixed_fixture(spark)
    forced, _ = _forced_kernel_rows(wdf, ndf)
    sets, upds = {}, defaultdict(list)
    for r in forced:
        key = (r.pid, r.parent_version, r.parent_ts)
        if r.kind == "set":
            sets[key + (r.idx,)] = (r.child_version, r.child_changeset, r.lat, r.lon)
        else:
            upds[key].append((r.idx, r.child_version, r.uts, r.child_changeset,
                              r.lat, r.lon))
    got = {}
    for w in annotate_ways(wdf, ndf).collect():
        key = (w.id, w.version, w.ts)
        got[key] = (
            None if w.nodes is None else [tuple(n) for n in w.nodes],
            None if w.updates is None else [tuple(u) for u in w.updates],
        )
    want = {}
    for w in wdf.collect():
        key = (w.id, w.version, w.ts)
        nodes = [
            (n.ref,) + sets.get(key + (i,), (0, 0, 0.0, 0.0))
            for i, n in enumerate(w.nodes)
        ]
        want[key] = (nodes or None, sorted(upds[key]) or None)
    assert got == want
    assert got[(300, 1, _d(2013, 5, 1))][0] is None
    assert any(u is None for n, u in got.values() if n)


def test_error_surfacing_skips_unreferenced_child(spark):
    """With ignore_inconsistency=False a modern child that no slot
    references takes no part in the keyed pass: it neither fails the
    annotation nor yields rows, and the referenced child still fills
    its slot."""
    from osm_spark.temporal.annotate import annotate_ways

    nodes = [
        (1, 1, True, 1, _d(2013, 1, 1), _d(2013, 1, 1), 1.0, 1.0),
        (2, 1, True, 2, _d(2013, 1, 1), _d(2013, 1, 1), 2.0, 2.0),
    ]
    ways = [(10, 1, True, 0, _d(2014, 1, 1), _d(2014, 1, 1), [(1,)])]
    out = annotate_ways(
        spark.createDataFrame(ways, WAY_SCHEMA),
        spark.createDataFrame(nodes, NODE_SCHEMA),
        ignore_inconsistency=False,
    ).collect()
    assert [tuple(n) for n in out[0].nodes] == [(1, 1, 1, 1.0, 1.0)]


def test_duplicate_way_rows_annotate_like_one(spark):
    """Two identical way rows (same id, version and ts) each get the
    annotation of a single such row."""
    from osm_spark.temporal.annotate import annotate_ways

    nodes = spark.createDataFrame([
        (1, 1, True, 1, _d(2013, 1, 1), _d(2013, 1, 1), 1.0, 1.0),
        (1, 2, True, 2, _d(2013, 3, 1), _d(2013, 3, 1), 1.0, 2.0),
    ], NODE_SCHEMA)
    way = (10, 1, True, 0, _d(2013, 2, 1), _d(2013, 2, 1), [(1,)])
    one = annotate_ways(spark.createDataFrame([way], WAY_SCHEMA), nodes).collect()
    two = annotate_ways(spark.createDataFrame([way, way], WAY_SCHEMA), nodes).collect()
    assert len(one) == 1 and two == one * 2
