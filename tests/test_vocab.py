"""text/vocab.py — BPE pair-count / merge-selection semantics."""

from __future__ import annotations

from osm_spark.text import vocab as vb


def test_word_freq(spark):
    docs = spark.createDataFrame([("ab ab cd",), ("ab x",)], "text string")
    wf = {r.word: r.freq for r in vb.word_freq(docs, "text").collect()}
    assert wf == {"ab": 3, "cd": 1, "x": 1}


def test_pair_counts_weighted_by_freq(spark):
    wf = spark.createDataFrame(
        [("aba", 2), ("ab", 3), ("x", 5)], "word string, freq long"
    )
    pc = {r.pair: r.n for r in vb.pair_counts(wf).collect()}
    # "aba" -> ab, ba (x2 each); "ab" -> ab (x3); "x" -> nothing
    assert pc == {"ab": 5, "ba": 2}


def test_top_merges_deterministic_ties(spark):
    pc = spark.createDataFrame(
        [("zz", 7), ("aa", 7), ("mm", 9)], "pair string, n long"
    )
    got = [(r.rank, r.pair, r.n) for r in vb.top_merges(pc, k=2).collect()]
    # count desc, then pair asc breaks the 7-7 tie
    assert sorted(got) == [(1, "mm", 9), (2, "aa", 7)]


def test_bpe_apply_boundary_safety(spark):
    """Merge (b,c) must not fire inside symbol 'ab' or before symbol
    'cd' — the marker encoding's whole job."""
    from osm_spark.text.vocab import (apply_merges, bpe_token_counts,
                                      encode_word)

    wf = spark.createDataFrame(
        [("abc", 1), ("xbcx", 1), ("bcbc", 1)], ["word", "freq"]
    )
    # merges in rank order: 'ab' first (consumes the b of "abc"),
    # then 'bc'
    out = {
        r["token"]: r["n"]
        for r in bpe_token_counts(wf, ["ab", "bc"]).collect()
    }
    # abc -> ab c (ab merged first, so bc cannot fire)
    # xbcx -> x bc x ; bcbc -> bc bc (back-to-back occurrences)
    assert out == {"ab": 1, "c": 1, "x": 2, "bc": 3}


def test_bpe_apply_is_noop_without_matches(spark):
    from osm_spark.text.vocab import bpe_token_counts

    wf = spark.createDataFrame([("hello", 2)], ["word", "freq"])
    out = {
        r["token"]: r["n"]
        for r in bpe_token_counts(wf, ["zq"]).collect()
    }
    assert out == {"h": 2, "e": 2, "l": 4, "o": 2}
