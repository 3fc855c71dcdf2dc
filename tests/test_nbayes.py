"""Naive Bayes classifier: closed-form model values, argmax, ties,
smoothing floor for unseen words."""

from __future__ import annotations

import math

from osm_spark.text import nbayes as nb


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _e6(x: float) -> int:
    return math.floor(math.log(x) * 1_000_000)


def test_model_counts_and_smoothing_closed_form(spark):
    docs = _docs(spark, [(1, "en", "a a b"), (2, "fr", "b c")])
    wl, cm, vocab = nb.train(docs, "lang", "text")
    v = vocab.first()["v"]
    assert v == 3  # a b c
    got = {(r["class"], r.word): r.logp_e6 for r in wl.collect()}
    # en: c_c=3; P(a|en) = (2+.5)/(3+1.5)
    assert got[("en", "a")] == _e6(2.5 / 4.5)
    assert got[("en", "b")] == _e6(1.5 / 4.5)
    assert got[("fr", "b")] == _e6(1.5 / 3.5)
    floors = {r["class"]: r.floor_e6 for r in cm.collect()}
    assert floors["en"] == _e6(0.5 / 4.5)
    assert floors["fr"] == _e6(0.5 / 3.5)
    priors = {r["class"]: r.prior_e6 for r in cm.collect()}
    assert set(priors) == {"en", "fr"}


def test_classifier_recovers_separable_classes(spark):
    rows = [(i, "en", "hello world common") for i in range(5)]
    rows += [(i + 10, "fr", "bonjour monde common") for i in range(5)]
    docs = _docs(spark, rows)
    wl, cm, _ = nb.train(docs, "lang", "text")
    pred = {r.doc_id: r.pred for r in nb.classify(docs, wl, cm).collect()}
    assert all(pred[i] == "en" for i in range(5))
    assert all(pred[i + 10] == "fr" for i in range(5))


def test_tie_breaks_by_class_asc(spark):
    # perfectly symmetric corpus: every class scores identically
    docs = _docs(spark, [(1, "aa", "x"), (2, "bb", "x")])
    wl, cm, _ = nb.train(docs, "lang", "text")
    out = {r.doc_id: r.pred for r in nb.classify(docs, wl, cm).collect()}
    assert out == {1: "aa", 2: "aa"}


def test_unseen_word_takes_smoothing_floor(spark):
    train_docs = _docs(spark, [(1, "en", "a a"), (2, "fr", "b b")])
    wl, cm, _ = nb.train(train_docs, "lang", "text")
    test_docs = _docs(spark, [(9, "xx", "zz")])  # word unseen everywhere
    out = nb.classify(test_docs, wl, cm).collect()
    assert len(out) == 1
    floors = {r["class"]: (r.floor_e6, r.prior_e6) for r in cm.collect()}
    # score = floor_e6 * tf(=1) + prior; en and fr tie exactly here
    # (symmetric counts), so class ASC wins
    assert out[0].pred == "en"
    assert out[0].score_e6 == floors["en"][0] + floors["en"][1]
