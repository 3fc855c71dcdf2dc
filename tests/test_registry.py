"""Driver-window order + oracle-harness strictness.

(a) The driver's 50-entry correctness window is computed from the
attestation ledger, so no query can sit outside it unattested; (b) the
local oracle harness must be at least as strict as the driver's value
hash (which renders values, so `26.0` != `26` — float-vs-int splits
fail — while integer widths are tolerated).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E
import osm_spark.queries as Q

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)
DRIVER_SLOTS = 50  # the driver's correctness gate checks the first 50

_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
          "err": None}


def test_attestation_order_on_synthetic_ledger(tmp_path):
    """Never-attested first (a red row does not count), then least
    recently attested; ties keep registration order; no ledger keeps
    registration order."""
    names = ["a", "b", "c", "d", "e", "f"]
    ledger = {
        1: {"a": _GREEN, "b": _GREEN, "c": _GREEN, "f": _GREEN},
        2: {
            "a": {**_GREEN, "hash_match": False},  # red: a stays at r1
            "b": _GREEN,
            "e": {**_GREEN, "err": "boom"},  # red only: never attested
            "f": {**_GREEN, "schema_match": False},
        },
        3: {"c": _GREEN, "gone": _GREEN},  # a deregistered name is ignored
    }
    assert E.attestation_order(names, ledger) == ["d", "e", "a", "f", "b", "c"]
    assert E.attestation_order(names, {}) == names
    assert E.attestation_order([], ledger) == []

    assert E.read_ledger(tmp_path) == {}
    (tmp_path / "CORRECTNESS_r07.json").write_text('{"a": {"err": "x"}}')
    (tmp_path / "CORRECTNESS_r07.json.bak").write_text("not json")
    assert E.read_ledger(tmp_path) == {7: {"a": {"err": "x"}}}


def test_driver_order_follows_the_ledger():
    """queries() is every registered query, in attestation_order over
    the CORRECTNESS_r*.json files next to the entry module."""
    got = list(E.queries())
    assert sorted(got) == sorted(Q.SPARK_QUERIES)
    assert got == E.attestation_order(Q.SPARK_QUERIES, E.read_ledger())


def test_never_attested_queries_lead_the_driver_window():
    """No query ends a round unattested: every registered query with no
    green ledger row sits inside the driver's window."""
    ledger = E.read_ledger()
    green = {
        n for rows in ledger.values() for n, r in rows.items()
        if E._attested(r)
    }
    never = set(Q.SPARK_QUERIES) - green
    window = set(list(E.queries())[:DRIVER_SLOTS])
    assert never <= window, sorted(never - window)


def test_windowed_queries_have_oracles():
    live = list(E.queries())[:DRIVER_SLOTS]
    missing = [k for k in live if k not in Q.ORACLE_SQL]
    assert not missing, f"windowed queries without oracle SQL: {missing}"


def test_harness_canon_fails_on_float_vs_int_split():
    """A deliberately un-cast DuckDB HUGEINT sum (surfaces as float64)
    against a Spark-style int64 column must FAIL the local harness —
    this exact class shipped 3 red driver rows in round 3."""
    sys.path.insert(0, SCRIPTS)
    from check_oracle import canon

    con = duckdb.connect()
    # sum(BIGINT) -> HUGEINT -> pandas float64
    odf = con.execute(
        "SELECT sum(CAST(x AS BIGINT)) AS s FROM (VALUES (26)) t(x)"
    ).fetchdf()
    assert odf["s"].dtype == "float64", "fixture lost its HUGEINT->float64 path"
    sdf = pd.DataFrame({"s": pd.array([26], dtype="int64")})
    s, o = canon(sdf), canon(odf)
    with pytest.raises(AssertionError):
        pd.testing.assert_frame_equal(s, o, check_dtype=True, check_exact=True)


def test_harness_canon_tolerates_integer_widths():
    """The driver hash renders `26` identically from int32 and int64 —
    the harness must too (no false alarms on width-only splits)."""
    sys.path.insert(0, SCRIPTS)
    from check_oracle import canon

    a = canon(pd.DataFrame({"s": pd.array([26], dtype="int32")}))
    b = canon(pd.DataFrame({"s": pd.array([26], dtype="int64")}))
    pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=True)


def test_suite_imports_its_own_checkout(repo_root):
    """The suite run from any checkout imports that checkout's package."""
    import osm_spark

    root = os.path.realpath(repo_root) + os.sep
    for mod in (osm_spark, E):
        assert os.path.realpath(mod.__file__).startswith(root), mod.__file__


def test_harness_rejects_unknown_query_names():
    """A mistyped or deregistered query name fails the oracle harness
    with the unknown names listed, before any Spark session starts,
    instead of printing "0/0 queries match" and exiting 0."""
    import subprocess

    known = next(iter(E.queries()))
    r = subprocess.run(
        [sys.executable, os.path.join(SCRIPTS, "check_oracle.py"),
         "/nonexistent-sf", known, "pip_wkb", "no_such_query"],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode != 0
    assert "unknown queries: no_such_query pip_wkb" in r.stderr, r.stderr
    assert "log4j" not in r.stderr and "queries match" not in r.stdout
