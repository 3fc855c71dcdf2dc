"""Content-defined chunking (text/cdc.py): losslessness + resync."""

import hashlib

from pyspark.sql import functions as F

from osm_spark.text.cdc import cdc_chunks


def _mirror(text, w=8, base=33, mod=32, rem=17):
    """Reference CDC in plain Python."""
    n = len(text)
    bounds = []
    for i in range(w, n + 1):
        h = sum(ord(text[i - 1 - j]) * base ** j for j in range(w))
        if h % mod == rem:
            bounds.append(i)
    barr = sorted(set([0] + bounds + [n])) if n > 0 else [0]
    out = []
    for s, e in zip(barr, barr[1:]):
        out.append(
            (s, e - s, hashlib.md5(text[s:e].encode()).hexdigest())
        )
    return out


def _spark_chunks(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "text"]
    )
    rows = df.select("i", cdc_chunks("text").alias("ch")).collect()
    return {
        r["i"]: [(c["start"], c["chunk_len"], c["digest"]) for c in r["ch"]]
        for r in rows
    }


def test_matches_python_mirror_and_is_lossless(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog " * 12,
        "a" * 100,
        "short",
        "",
        "exactly8",
        "punctuation! & <angle> \"quotes\" and spaces   galore " * 8,
    ]
    got = _spark_chunks(spark, texts)
    for i, t in enumerate(texts):
        assert got[i] == _mirror(t), f"text {i}"
        # losslessness: chunks tile [0, len) exactly, in order
        covered = 0
        for s, ln, _ in got[i]:
            assert s == covered and ln > 0
            covered += ln
        assert covered == len(t)


def test_boundaries_resync_after_insertion():
    """The CDC property fixed-size chunking lacks: edit a prefix and
    the suffix's chunk digests re-appear."""
    # non-repetitive deterministic text: repetition would collapse
    # the digest sets and let fixed-size blocks alias across periods
    words = []
    x = 1
    for _ in range(400):
        x = (x * 1103515245 + 12345) % (1 << 31)
        words.append(f"w{x % 99991}")
    base_text = " ".join(words)
    edited = base_text[:100] + "INSERTED SENTENCE HERE. " + base_text[100:]
    a = {d for _, _, d in _mirror(base_text)}
    b = {d for _, _, d in _mirror(edited)}
    shared = a & b
    # the untouched tail must dedup: most chunks survive the edit
    assert len(shared) >= len(a) * 2 // 3
    # and the fixed-size counterfactual does NOT: 64-char blocks after
    # the insertion point all shift
    def fixed(t):
        return {
            hashlib.md5(t[k : k + 64].encode()).hexdigest()
            for k in range(0, len(t), 64)
        }
    fa, fb = fixed(base_text), fixed(edited)
    assert len(fa & fb) < len(shared)


def test_expected_chunk_length_tracks_mod(spark):
    text = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 40
    chunks = _spark_chunks(spark, [text])[0]
    avg = len(text) / len(chunks)
    assert 10 < avg < 120  # mod=32 target, generous band
