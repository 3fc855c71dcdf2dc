"""text/contamination.py — n-gram train/eval overlap semantics."""

from __future__ import annotations

from osm_spark.text import contamination as ct


def test_shingle_rows_distinct_and_guarded(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),      # 2 trigrams
            (2, "a b"),          # shorter than n -> no shingles
            (3, "x y x y x y x y"),  # repeated trigrams collapse
        ],
        "doc_id long, text string",
    )
    rows = ct.shingle_rows(docs, "doc_id", "text", n=3).collect()
    got = sorted((r.doc, r.shingle) for r in rows)
    assert got == [
        (1, "a b c"), (1, "b c d"),
        (3, "x y x"), (3, "y x y"),
    ]


def test_contamination_report_hits_and_short_docs(spark):
    ev = spark.createDataFrame(
        [(10, "a b c d e"), (20, "p q r s"), (30, "zz")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [(1, "x a b c y"), (2, "no overlap here at all")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in
            ct.contamination_report(ev, tr, "doc_id", "text", n=3).collect()}
    # doc 10: trigrams {a b c, b c d, c d e}; train has "a b c" only
    assert rows[10].n_shingles == 3 and rows[10].n_hit == 1
    assert rows[10].first_hit == "a b c" and rows[10].contaminated == 1
    # doc 20: no overlap
    assert rows[20].n_shingles == 2 and rows[20].n_hit == 0
    assert rows[20].first_hit is None and rows[20].contaminated == 0
    # doc 30: too short to shingle, must still appear
    assert rows[30].n_shingles == 0 and rows[30].contaminated == 0
