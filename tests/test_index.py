"""Inverted index + conjunctive search: postings exactness, AND
semantics, tf scoring, tie order, salt invariance."""

from __future__ import annotations

from osm_spark.text import index as ix


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_postings_tf_counts_occurrences(spark):
    docs = _docs(spark, [(1, "a b a a"), (2, "b b c")])
    got = {(r.term, r.doc_id): r.tf for r in ix.build_postings(docs).collect()}
    assert got == {
        ("a", 1): 3, ("b", 1): 1, ("b", 2): 2, ("c", 2): 1,
    }


def test_and_semantics_require_every_term(spark):
    docs = _docs(spark, [(1, "x y z"), (2, "x z"), (3, "y z"), (4, "z")])
    p = ix.build_postings(docs)
    got = {(r.qid, r.doc_id) for r in ix.search(p, [(1, ["x", "y"])]).collect()}
    assert got == {(1, 1)}


def test_score_is_summed_tf_and_ties_break_by_doc_id(spark):
    docs = _docs(spark, [
        (10, "t t u"),    # score 3
        (11, "t u u"),    # score 3 (tie -> doc_id order)
        (12, "t u"),      # score 2
    ])
    p = ix.build_postings(docs)
    out = ix.search(p, [(7, ["t", "u"])], k=3).collect()
    ranked = [(r.rank, r.doc_id, r.score) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [(1, 10, 3), (2, 11, 3), (3, 12, 2)]


def test_k_caps_results(spark):
    docs = _docs(spark, [(i, "w " * (i + 1)) for i in range(8)])
    p = ix.build_postings(docs)
    out = ix.search(p, [(1, ["w"])], k=3).collect()
    assert len(out) == 3
    assert {r.doc_id for r in out} == {7, 6, 5}  # highest tf first


def test_salt_invisible(spark):
    docs = _docs(spark, [(i, f"w x{i % 3}") for i in range(40)])
    p = ix.build_postings(docs)
    a = {(r.qid, r.rank, r.doc_id) for r in ix.search(p, [(1, ["w"])], k=5, salt=1).collect()}
    b = {(r.qid, r.rank, r.doc_id) for r in ix.search(p, [(1, ["w"])], k=5, salt=64).collect()}
    assert a == b and len(a) == 5


def test_duplicate_query_terms_are_set_semantics(spark):
    docs = _docs(spark, [(1, "a b"), (2, "a")])
    p = ix.build_postings(docs)
    got = {(r.qid, r.doc_id, r.score) for r in ix.search(p, [(1, ["a", "a", "b"])]).collect()}
    assert got == {(1, 1, 2)}


def test_bm25_idf_and_tf_normalization_closed_form(spark):
    import math

    # corpus: 4 docs; term "t" in 2 docs; dl = 2 for every doc
    docs = _docs(spark, [
        (1, "t t"), (2, "t u"), (3, "u u"), (4, "u v"),
    ])
    p = ix.build_postings(docs)
    out = {r.doc_id: r.score_e6 for r in ix.bm25_search(p, [(1, ["t"])], k=4).collect()}
    n, df, avgdl = 4.0, 2.0, 2.0
    idf_e6 = math.floor(math.log((n - df + 0.5) / (df + 0.5)) * 1_000_000)

    def tfn(tf, dl):
        return (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert out == {
        1: math.floor(idf_e6 * tfn(2, 2)),
        2: math.floor(idf_e6 * tfn(1, 2)),
    }
    # doc 1 has higher tf -> must outrank doc 2
    ranks = {r.doc_id: r.rank for r in ix.bm25_search(p, [(1, ["t"])], k=4).collect()}
    assert ranks[1] == 1 and ranks[2] == 2


def test_bm25_or_semantics_and_longer_docs_penalized(spark):
    # df("rare")=2 of N=6 keeps idf positive (ln(4.5/2.5) > 0) so the
    # length penalty acts the intuitive way
    docs = _docs(spark, [
        (1, "rare common common common common common"),
        (2, "rare"),
        (3, "common"),
        (4, "other words"),
        (5, "more words"),
        (6, "filler text"),
    ])
    p = ix.build_postings(docs)
    out = ix.bm25_search(p, [(1, ["rare", "zzz"])], k=6).collect()
    # OR semantics: docs 1 and 2 match "rare"; "zzz" matches nothing
    assert {r.doc_id for r in out} == {1, 2}
    ranks = {r.doc_id: r.rank for r in out}
    # same tf for "rare", but doc 1 is longer -> penalized below doc 2
    assert ranks[2] == 1 and ranks[1] == 2


def test_phrase_match_positions_and_adjacency(spark):
    from osm_spark.text.index import phrase_match, positional_postings

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),
            (2, "a b x b c"),
            (3, "c b a"),
        ],
        ["doc_id", "text"],
    )
    post = positional_postings(docs, "doc_id", "text")
    got = {
        (r["doc"], r["pos"])
        for r in phrase_match(post, "a b c").collect()
    }
    assert got == {(1, 0), (1, 3)}  # adjacency required, both hits
    got2 = {
        (r["doc"], r["pos"])
        for r in phrase_match(post, "b c").collect()
    }
    assert got2 == {(1, 1), (1, 4), (2, 3)}


def test_phrase_oracle_finds_phrase_ending_document():
    """The phrase_search oracle's window over token positions must reach
    the last full window: a phrase that ends the text is an occurrence."""
    import duckdb

    from osm_spark.queries import _phrase_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.execute(
        "INSERT INTO documents VALUES "
        "(1, 'alpha slow hash batch'), (2, 'slow hash batch omega')"
    )
    got = sorted(con.execute(_phrase_sql()).fetchall())
    assert got == [(0, 1, 1), (0, 2, 0)]
