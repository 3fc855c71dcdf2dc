"""Crawl-frontier politeness schedule: budget cap, ordering, salt
invariance, delay arithmetic."""

from __future__ import annotations

from osm_spark.streaming import frontier as fr


def _mk(spark, rows):
    return spark.createDataFrame(rows, "host string, url string, prio long")


def test_budget_caps_per_host_and_orders_by_prio(spark):
    rows = [("h.com", f"u{i:02d}", i) for i in range(12)]
    out = fr.schedule(_mk(spark, rows), budget=3).collect()
    assert len(out) == 3
    got = {(r.url, r.slot) for r in out}
    # top-3 priorities are u11, u10, u09 -> slots 1, 2, 3
    assert got == {("u11", 1), ("u10", 2), ("u09", 3)}


def test_url_breaks_priority_ties(spark):
    rows = [("h.com", u, 7) for u in ("b", "a", "c")]
    out = {r.url: r.slot for r in fr.schedule(_mk(spark, rows), budget=2).collect()}
    assert out == {"a": 1, "b": 2}


def test_salt_is_invisible_exact_vs_unsalted(spark):
    # two-level salted top-B must equal the plain per-host ranking for
    # ANY salt width (salting is an execution detail, not semantics)
    rows = [
        (f"h{h}.com", f"u{h}-{i:03d}", (i * 37 + h) % 50)
        for h in range(4)
        for i in range(40)
    ]
    df = _mk(spark, rows)
    a = {(r.host, r.url, r.slot) for r in fr.schedule(df, budget=5, salt=1).collect()}
    b = {(r.host, r.url, r.slot) for r in fr.schedule(df, budget=5, salt=64).collect()}
    assert a == b and len(a) == 4 * 5


def test_fetch_at_uses_host_delay(spark):
    rows = [("ab", f"u{i}", 10 - i) for i in range(3)]  # len("ab")%3=2 -> delay 3
    out = {r.slot: r.fetch_at_s for r in fr.schedule(_mk(spark, rows), budget=3).collect()}
    assert out == {1: 0, 2: 3, 3: 6}


def test_hosts_fewer_than_budget_keep_all(spark):
    rows = [("x.com", "u1", 5), ("x.com", "u2", 4), ("y.com", "v1", 9)]
    out = fr.schedule(_mk(spark, rows), budget=8).collect()
    assert len(out) == 3
    assert {(r.host, r.slot) for r in out} == {
        ("x.com", 1), ("x.com", 2), ("y.com", 1)
    }
