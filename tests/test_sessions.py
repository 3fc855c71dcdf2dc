"""Gap-based sessionization: boundary semantics and rollup exactness."""

from __future__ import annotations

import datetime as dt

from osm_spark.streaming import sessions as ss

_T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _ev(spark, rows):
    # rows: (event_id, user_id, offset_seconds, event_type, value)
    data = [(eid, _T0 + dt.timedelta(seconds=off), uid, typ, val)
            for (eid, uid, off, typ, val) in rows]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")


def test_gap_strictly_greater_starts_new_session(spark):
    gap = 60 * 1_000_000  # 60 s
    rows = [(0, 1, 0, "view", 0.0),
            (1, 1, 60, "view", 0.0),    # exactly 60s gap -> SAME session
            (2, 1, 121, "view", 0.0)]   # 61s gap -> new session
    got = {r.event_id: r.sess_idx for r in
           ss.sessionize(_ev(spark, rows), gap_us=gap).collect()}
    assert got == {0: 0, 1: 0, 2: 1}


def test_sessions_are_per_user_and_tie_break_on_id(spark):
    rows = [(0, 1, 0, "view", 0.0), (1, 2, 0, "view", 0.0),
            (2, 1, 0, "view", 0.0),  # same ts as event 0, same user
            (3, 2, 10_000, "view", 0.0)]
    df = ss.sessionize(_ev(spark, rows), gap_us=1_000_000)
    got = {r.event_id: (r.user_id, r.sess_idx) for r in df.collect()}
    assert got[0] == (1, 0) and got[2] == (1, 0)  # zero gap, one session
    assert got[1] == (2, 0) and got[3] == (2, 1)  # 10s > 1s gap


def test_rollup_cents_and_purchase_counts(spark):
    rows = [(0, 1, 0, "view", 1.005),       # floor(100.5) = 100 cents
            (1, 1, 1, "purchase", 2.999),   # 299 cents
            (2, 1, 2, "purchase", 0.01)]    # 1 cent
    sess = ss.sessionize(_ev(spark, rows), gap_us=ss.DEFAULT_GAP_US)
    r = ss.session_rollup(sess).collect()[0]
    assert r.n_events == 3 and r.n_purchases == 2
    assert r.value_cents == 100 + 299 + 1
    assert r.duration_us == 2_000_000
    assert r.end_us - r.start_us == r.duration_us


def test_single_event_session_has_zero_duration(spark):
    rows = [(0, 7, 0, "signup", 0.0)]
    sess = ss.sessionize(_ev(spark, rows))
    r = ss.session_rollup(sess).collect()[0]
    assert (r.sess_idx, r.n_events, r.duration_us) == (0, 1, 0)
