"""Exact grouped quantiles + PMI collocations: closed-form fixtures."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from osm_spark.text import quantiles as qt
from osm_spark.text.lm import collocations


def test_quantiles_match_inverted_cdf_definition(spark):
    # group g: values 1..10 once each -> q25=3, q50=5, q75=8, q95=10
    vals = spark.createDataFrame(
        [("g", v) for v in range(1, 11)], "grp string, v long"
    )
    got = {(r.q, r.value) for r in
           qt.group_quantiles(vals, "grp", "v").collect()}
    assert got == {(25, 3), (50, 5), (75, 8), (95, 10)}


def test_quantiles_respect_multiplicity_and_groups(spark):
    rows = [("a", 1)] * 9 + [("a", 100)] + [("b", 7)]
    vals = spark.createDataFrame(rows, "grp string, v long")
    got = {(r.grp, r.q): r.value for r in
           qt.group_quantiles(vals, "grp", "v").collect()}
    assert got[("a", 50)] == 1 and got[("a", 75)] == 1
    assert got[("a", 95)] == 100  # the tail value only at p95
    assert got[("b", 25)] == 7 and got[("b", 95)] == 7


def test_quantiles_match_python_reference(spark):
    import random

    rng = random.Random(7)
    data = [("g", rng.randint(0, 50)) for _ in range(200)]
    vals = spark.createDataFrame(data, "grp string, v long")
    got = {r.q: r.value for r in qt.group_quantiles(vals, "grp", "v").collect()}
    s = sorted(v for _, v in data)
    for q in (25, 50, 75, 95):
        idx = math.ceil(q * len(s) / 100) - 1
        assert got[q] == s[idx], q


def test_collocations_pmi_closed_form(spark):
    # corpus: "x y" twice, "x z" once, "w" alone once
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "x z"), (4, "w")],
        "doc_id long, text string",
    )
    out = {(r.w1, r.w2): (r.c12, r.pmi_e6) for r in
           collocations(docs, min_count=2).collect()}
    assert set(out) == {("x", "y")}
    c12, pmi = out[("x", "y")]
    assert c12 == 2
    # t_uni=7 tokens, t_bi=3 bigrams, c(x)=3, c(y)=2
    expect = math.floor(math.log((2.0 * 7 * 7) / (3.0 * 3 * 2)) * 1_000_000)
    assert pmi == expect


def test_collocations_min_count_gates(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a c")], "doc_id long, text string"
    )
    assert collocations(docs, min_count=2).count() == 0
    got = {(r.w1, r.w2) for r in collocations(docs, min_count=1).collect()}
    assert got == {("a", "b"), ("a", "c")}


def test_phrase_merge_greedy_non_overlapping(spark):
    from osm_spark.text.lm import merge_phrases
    import hashlib

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b b c"), (3, "x y")],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "w1 string, w2 string"
    )
    out = {r.doc_id: r for r in merge_phrases(docs, phrases).collect()}
    # doc 1: candidates at 1,2,3 (consecutive run) -> greedy merges
    # 1 and 3: "a_b c_d"
    assert out[1].n_merges == 2
    assert out[1].merged_md5 == hashlib.md5(b"a_b c_d").hexdigest()
    # doc 2: candidates at 1 ("a b") and 3 ("b c"); pos 2 ("b b") is
    # not a phrase -> two separate islands, both merge: "a_b b_c"
    assert out[2].n_merges == 2
    assert out[2].merged_md5 == hashlib.md5(b"a_b b_c").hexdigest()
    # doc 3: no candidates -> unchanged
    assert out[3].n_merges == 0
    assert out[3].merged_md5 == hashlib.md5(b"x y").hexdigest()


def test_phrase_merge_odd_run_tail(spark):
    from osm_spark.text.lm import merge_phrases
    import hashlib

    # candidates at 1,2 (run of two): greedy merges 1 only -> "a_b c"
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    phrases = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "w1 string, w2 string"
    )
    r = merge_phrases(docs, phrases).first()
    assert r.n_merges == 1
    assert r.merged_md5 == hashlib.md5(b"a_b c").hexdigest()
