"""Distributed Bloom filter: determinism, no false negatives, word-table
shape; stratified sampling + sequence packing fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_spark.text import bloom as bl
from osm_spark.text import webprep as wp


def _keys(spark, ids):
    return spark.createDataFrame(
        [(i, f"k{i}") for i in ids], "i long, key string"
    )


def test_bloom_no_false_negatives_small_m(spark):
    """Tiny filter (m=256) so collisions are common: every inserted key
    must still probe positive."""
    seen = _keys(spark, range(60))
    bm = bl.bloom_build(seen, "key", m_bits=256)
    probed = bl.bloom_probe(_keys(spark, range(60)), "key", bm, m_bits=256)
    assert probed.where(F.col("in_bloom") == 0).count() == 0


def test_bloom_rejects_most_unseen_at_default_m(spark):
    seen = _keys(spark, range(100))
    bm = bl.bloom_build(seen, "key")
    unseen = _keys(spark, range(1000, 1100))
    hits = bl.bloom_probe(unseen, "key", bm).where(F.col("in_bloom") == 1)
    assert hits.count() <= 1  # ~1e-8 expected FP rate at this load


def test_bloom_bitmap_is_word_table(spark):
    bm = bl.bloom_build(_keys(spark, range(50)), "key").collect()
    assert all(0 <= r.word < bl.M_BITS // 32 for r in bm)
    assert all(0 < r.bits < (1 << 32) for r in bm)  # 32 used bits, no sign


def test_bit_position_matches_sql_twin(spark):
    import duckdb

    df = _keys(spark, range(20)).select(
        "key", *[bl.bit_position("key", j).alias(f"b{j}") for j in range(4)]
    )
    got = {r.key: (r.b0, r.b1, r.b2, r.b3) for r in df.collect()}
    con = duckdb.connect()
    for i in range(20):
        k = f"k{i}"
        vals = tuple(
            con.execute(
                "SELECT " + bl.bit_position_sql(f"'{k}'", j)
            ).fetchone()[0]
            for j in range(4)
        )
        assert got[k] == vals, k


def test_sample_hash_stable_and_uniformish(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "i long")
    h = df.select(wp.sample_hash(F.col("i")).alias("h"))
    stats = h.agg(F.min("h"), F.max("h"), F.avg("h")).collect()[0]
    assert stats[0] >= 0 and stats[1] <= 999
    assert 420 < stats[2] < 580  # roughly centered
    # stable across evaluations
    a = {r.i: r.h for r in df.select("i", wp.sample_hash(F.col("i")).alias("h")).collect()}
    b = {r.i: r.h for r in df.select("i", wp.sample_hash(F.col("i")).alias("h")).collect()}
    assert a == b


def test_stratified_sample_rate(spark):
    df = spark.createDataFrame([(i, "en") for i in range(4000)],
                               "doc_id long, lang string")
    kept = wp.stratified_sample(df, "doc_id", "lang", F.lit(250)).count()
    assert abs(kept / 4000 - 0.25) < 0.03


def test_pack_sequences_layout(spark):
    docs = spark.createDataFrame(
        [(1, "a", "w " * 300), (2, "a", "w " * 300), (3, "a", "w " * 100),
         (4, "b", "w " * 600)],
        "doc_id long, lang string, text string",
    )
    # note: "w " * n splits into n+1 words (trailing empty token) —
    # deterministic in both engines; sizes here are n+1
    out = {r.doc_id: r for r in
           wp.pack_sequences(docs, "doc_id", "text", "lang", ctx=256).collect()}
    assert out[1].start_off == 0 and out[1].bin_first == 0
    assert out[2].start_off == out[1].n_tokens
    assert out[3].start_off == out[1].n_tokens + out[2].n_tokens
    # doc 2 straddles a 256-token boundary
    assert out[2].bin_last >= out[2].bin_first
    assert out[2].n_bins == out[2].bin_last - out[2].bin_first + 1
    # stratum b restarts at offset 0
    assert out[4].start_off == 0 and out[4].bin_first == 0
    assert out[4].n_bins == (out[4].n_tokens - 1) // 256 + 1
