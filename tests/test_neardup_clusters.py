"""End-to-end fuzzy-dedup clustering (neardup_clusters query):
MinHash-LSH pairs -> exact Jaccard verify -> components -> canonical.

Fixture-level checks that the composed pipeline clusters what it
should: exact duplicates always land in one cluster with the minimum
doc_id canonical; unrelated documents stay singletons; the verify
stage actually gates LSH candidates (a doc pair that collides in a
band but fails J >= 0.7 must NOT merge).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_spark.plans import components as cc
from osm_spark.text import dedup as dd


def _cluster(spark, rows, thresh_num=7, thresh_den=10, iters=4):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dd.minhash_signature(docs, "doc_id", "text", k=8)
    sh = docs.select(
        "doc_id", F.array_distinct(dd.shingles("text")).alias("sh")
    )
    cand = dd.lsh_candidates(sig, "doc_id", k=8, rows_per_band=2)
    jac = dd.pair_jaccard(docs, cand, "doc_id", "text", shingle_df=sh)
    pairs = jac.where(
        F.col("inter") * thresh_den >= F.col("uni") * thresh_num
    ).select("a", "b")
    # cut lineage like the production query: label rounds over the raw
    # LSH subtree re-analyze the whole nested plan per round
    edges = cc.symmetrize(pairs).localCheckpoint()
    lbl = cc.min_label_components(
        docs, edges, "doc_id", iters=iters,
        persist_fn=lambda df: df.localCheckpoint(),
    )
    return {r.node: r for r in cc.cluster_stats(lbl).collect()}


BASE = "the quick brown fox jumps over the lazy dog again and again ok"


def test_exact_dups_cluster_min_id_canonical(spark):
    rows = [
        (10, BASE),
        (20, BASE),
        (30, BASE),
        (40, "completely different words about maritime navigation charts"),
    ]
    got = _cluster(spark, rows)
    assert got[10].cluster == 10 and got[10].is_canonical == 1
    assert got[20].cluster == 10 and got[20].is_canonical == 0
    assert got[30].cluster == 10 and got[30].cluster_size == 3
    assert got[40].cluster == 40 and got[40].cluster_size == 1


def test_near_dup_tail_variant_merges(spark):
    # one appended token over a long doc: J well above 0.7
    long = " ".join(f"w{i}" for i in range(60))
    got = _cluster(spark, [(1, long), (2, long + " tail")])
    assert got[1].cluster == 1 and got[2].cluster == 1
    assert got[2].is_canonical == 0


def test_verify_gates_low_jaccard_band_collisions(spark):
    # prefix-sharing docs may collide in a band, but J < 0.7 must not
    # merge them: shared 8-token prefix, divergent 24-token tails.
    pre = " ".join(f"p{i}" for i in range(8))
    a = pre + " " + " ".join(f"a{i}" for i in range(24))
    b = pre + " " + " ".join(f"b{i}" for i in range(24))
    got = _cluster(spark, [(1, a), (2, b)])
    assert got[1].cluster == 1 and got[2].cluster == 2


def test_transitive_chain_closes(spark):
    # A ~ B and B ~ C but A !~ C: clustering must still merge all 3
    # (the property pair-emitting queries cannot express).
    words = [f"t{i}" for i in range(40)]
    a = " ".join(words)
    b = " ".join(words[:34] + [f"x{i}" for i in range(6)])
    c = " ".join(words[:28] + [f"x{i}" for i in range(12)])
    got = _cluster(spark, [(1, a), (2, b), (3, c)], thresh_num=6)
    assert got[1].cluster == got[2].cluster == got[3].cluster == 1
    assert got[1].cluster_size == 3
