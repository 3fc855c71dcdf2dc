"""Inverted index build + conjunctive (AND) term search.

The retrieval side of the webtext engine: build term→document posting
lists from the corpus, then answer multi-term AND queries ranked by
summed term frequency.  The reference's packed-id clustered sort
(osm/osmpbf's element-id ordering discipline, re-expressed in
core/ids.py) is the same shape: a key-ordered inverted view of a large
element set, queried by exact key.

Spark-first shape, sized for a 10^12-document corpus:

- **Postings = one explode + one (term, doc) aggregation.**  Term
  frequency computes in the same partial-aggregated groupBy — no
  second pass.  At scale the postings table is the corpus's natural
  inverted layout: write it bucketed BY TERM and every later search
  becomes a bucket-pruned scan instead of a shuffle.
- **Search = broadcast the query terms, never the corpus.**  Queries
  explode to (qid, term) — parameter-sized — and broadcast-join into
  the postings stream; conjunctive semantics are a (qid, doc) count
  filter (`n_matched == n_terms`, exact because postings hold one row
  per (term, doc)); scoring is the tf sum in the SAME aggregation.
- **Ranking = salted two-level top-k** (plans/skew.py `salted_topk`,
  shared with similarity/ann.py and streaming/frontier.py): a
  stopword-heavy query matches a huge fraction of the corpus, and a plain
  `row_number() OVER (PARTITION BY qid)` would funnel all of it into
  one reducer task.  Salting is execution-only; ties break by the
  (score DESC, doc_id ASC) total order so both engines agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.plans.skew import salted_topk
from osm_spark.text.dedup import words


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (term, doc_id, tf): one row per distinct (term, document),
    tf = occurrence count, in ONE explode + ONE partial-aggregated
    shuffle."""
    return (
        docs.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def bm25_search(
    postings: DataFrame,
    queries: list[tuple[int, list[str]]],
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    salt: int = 16,
) -> DataFrame:
    """Disjunctive (OR) BM25 ranking: -> (qid, rank, doc_id, score_e6).

    Integer-exact across engines by the house float discipline: the
    only transcendental — ``idf = ln((N - df + 0.5) / (df + 0.5))`` —
    is quantized to int64 at 1e-6 the moment it is computed; the tf
    normalization ``tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`` is plain
    IEEE rational arithmetic over integer-derived doubles (identical
    ulps in any engine), and each term contributes
    ``floor(idf_e6 · tfn)`` — an int64 — so the per-doc sum is
    order-independent.

    Scale shape: df and dl are rollups of the postings table (one
    table-sized and one corpus-keyed aggregation, both reusable across
    queries); the query side broadcasts; ranking is the salted top-k.
    """
    spark = postings.sparkSession
    rows = [
        (int(qid), term)
        for qid, terms in queries
        for term in sorted(set(terms))
    ]
    q = F.broadcast(spark.createDataFrame(rows, "qid long, term string"))

    dl_tab = postings.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl_tab.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).first()
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])
    # df restricted to the query's terms BEFORE aggregating: the rollup
    # shuffles |query terms| keys, not the vocabulary
    df_tab = (
        postings.join(q.select("term").distinct(), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )

    idf_e6 = F.floor(
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        * F.lit(1_000_000)
    ).cast("long")
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    hits = (
        postings.join(q, "term")
        .join(F.broadcast(df_tab), "term")
        .join(dl_tab, id_col)
        .select(
            "qid", id_col,
            F.floor(idf_e6 * tfn).cast("long").alias("term_e6"),
        )
        .groupBy("qid", id_col)
        .agg(F.sum("term_e6").cast("long").alias("score_e6"))
    )
    order = [F.col("score_e6").desc(), F.col(id_col).asc()]
    return salted_topk(hits, k, order, F.col(id_col), salt, ["qid"]).select(
        "qid", "rank", id_col, "score_e6"
    )


def search(
    postings: DataFrame,
    queries: list[tuple[int, list[str]]],
    id_col: str = "doc_id",
    k: int = 10,
    salt: int = 16,
) -> DataFrame:
    """Conjunctive search: -> (qid, rank, doc_id, score) with rank
    1..k per query, score = summed tf over the query's terms, AND
    semantics (documents containing EVERY term).  ``queries`` is a
    parameter-sized list of (qid, [terms]); duplicate terms within a
    query are ignored (set semantics)."""
    spark = postings.sparkSession
    rows = [
        (int(qid), term, len(set(terms)))
        for qid, terms in queries
        for term in sorted(set(terms))
    ]
    q = F.broadcast(
        spark.createDataFrame(rows, "qid long, term string, n_terms int")
    )
    hits = (
        postings.join(q, "term")
        .groupBy("qid", id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.max("n_terms").alias("n_terms"),
            F.sum("tf").cast("long").alias("score"),
        )
        .filter(F.col("n_matched") == F.col("n_terms"))
    )
    order = [F.col("score").desc(), F.col(id_col).asc()]
    return salted_topk(hits, k, order, F.col(id_col), salt, ["qid"]).select(
        "qid", "rank", id_col, "score"
    )


# ---------------------------------------------------------- phrase search
def positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (doc, pos, term): the positional inverted index.  One
    explode; at rest this is the postings layout every phrase-capable
    engine (Lucene) stores — positions make adjacency a JOIN
    predicate instead of a re-scan of document bytes."""
    return docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
    )


def phrase_match(post: DataFrame, phrase: str) -> DataFrame:
    """-> (doc, pos) start positions of exact phrase occurrences.

    Term i of the phrase anchors at (doc, pos - i): the match is a
    chain of |phrase| - 1 equi-joins on (doc, normalized position) —
    each join's build side is ONE term's postings (selectivity of the
    rarest term dominates; a planner would reorder, and AQE's runtime
    stats do it for free), and document text is never touched after
    the index build."""
    terms = phrase.split(" ")
    out = post.where(F.col("term") == terms[0]).select("doc", "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = post.where(F.col("term") == t).select(
            F.col("doc").alias("d2"), (F.col("pos") - i).alias("p2")
        )
        out = out.join(
            nxt,
            (out["doc"] == F.col("d2")) & (out["pos"] == F.col("p2")),
        ).select("doc", "pos")
    return out
