"""Web-page prep suite: HTML byte-identical round trip, repetition
signals, PII scrub, chunk dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_spark.text import webprep as wp

TRICKY = [
    'plain words only',
    'amp & lt < gt > quot " mixed',
    'pre-escaped literal &amp;lt; stays &amp;lt;',  # escape-order trap
    '<p>looks like markup</p> & "done"',
    '',
]


def test_escape_unescape_inverts(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TRICKY)], "i int, t string")
    out = df.select(
        "t", wp.unescape_html(wp.escape_html(F.col("t"))).alias("rt")
    ).collect()
    for r in out:
        assert r.rt == r.t, f"escape/unescape not inverse for {r.t!r}"


def test_render_extract_byte_identical(spark):
    df = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(TRICKY)], "doc_id int, text string, lang string"
    )
    rich = wp.rich_text(F.col("text"), F.col("doc_id"))
    out = df.select(
        rich.alias("rich"),
        wp.extract_text(
            wp.render_html(rich, F.col("doc_id"), F.col("lang"))
        ).alias("x"),
    ).collect()
    for r in out:
        assert r.x == r.rich
        assert r.x.encode("utf-8") == r.rich.encode("utf-8")  # bytewise


def test_html_is_binary_and_wellformed(spark):
    df = spark.createDataFrame([(7, 'a & b', "de")], "doc_id int, text string, lang string")
    row = df.select(
        wp.render_html(wp.rich_text(F.col("text"), F.col("doc_id")),
                       F.col("doc_id"), F.col("lang")).alias("html")
    ).collect()[0]
    assert isinstance(row.html, (bytes, bytearray))
    s = bytes(row.html).decode("utf-8")
    assert s.startswith('<!DOCTYPE html><html lang="de">')
    assert "&amp;" in s and "<p id=\"c7\">" in s and s.endswith("</p></body></html>")


def test_chunk_array_trailing_partial(spark):
    txt = " ".join(f"w{i}" for i in range(19))  # 19 words -> 8+8+3
    df = spark.createDataFrame([(txt,)], "text string")
    chunks = df.select(wp.chunk_array("text", 8).alias("c")).collect()[0].c
    assert len(chunks) == 3
    assert chunks[0] == " ".join(f"w{i}" for i in range(8))
    assert chunks[2] == "w16 w17 w18"


def test_chunk_dedup_first_occurrence(spark):
    # doc 1 and doc 2 share an identical first chunk; doc 1 keeps it
    a = " ".join(["dup"] * 8) + " " + " ".join(f"a{i}" for i in range(8))
    b = " ".join(["dup"] * 8) + " " + " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id int, text string")
    out = {r.doc_id: r for r in wp.chunk_dedup(df, "doc_id", "text").collect()}
    assert out[1].n_chunks == 2 and out[1].kept_chunks == 2
    assert out[2].n_chunks == 2 and out[2].kept_chunks == 1  # lost the dup chunk


def test_pii_counts_and_redaction(spark):
    t = "mail me at a.b_1@host-x.example or 555-0199 from 10.0.0.1 ok"
    df = spark.createDataFrame([(1, t)], "doc_id int, t string")
    r = wp.pii_metrics(df, "doc_id", F.col("t")).collect()[0]
    assert (r.n_email, r.n_phone, r.n_ip) == (1, 1, 1)
    scrub = df.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("t", wp.EMAIL_RE, "<EMAIL>"),
                wp.IPV4_RE, "<IP>"),
            wp.PHONE_RE, "<PHONE>").alias("s")
    ).collect()[0].s
    assert scrub == "mail me at <EMAIL> or <PHONE> from <IP> ok"


def test_repetition_metrics_handcheck(spark):
    # "x y x y x" -> bigrams: "x y","y x","x y","y x" -> top 2 of 4
    df = spark.createDataFrame([(1, "x y x y x")], "doc_id int, text string")
    r = wp.repetition_metrics(df, "doc_id", "text").collect()[0]
    assert r.n_words == 5
    assert r.n_bigrams == 4 and r.top_bigram_count == 2
    assert r.top_bigram_frac_e6 == 500000
    assert r.dup_word_frac_e6 == 599999 or r.dup_word_frac_e6 == 600000  # 1-2/5


# ---------------------------------------------------------------------
# Main-content extraction (boilerplate removal)
# ---------------------------------------------------------------------

def test_main_content_reconstructs_text_and_drops_boilerplate(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lam mu nu xi omicron"  # 15 words -> three 5-word paragraphs
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    pages = df.select(
        "doc_id", "text",
        wp.synth_page(F.col("text"), F.col("doc_id")).alias("html"),
    )
    r = wp.main_content(pages, "doc_id", F.col("html"), F.col("text")).collect()[0]
    assert r.n_blocks == 5            # header + 3 paras + footer
    assert r.n_content_blocks == 3
    assert r.main_is_exact == 1
    assert r.boiler_chars > 0         # header/footer text was seen and dropped


def test_main_content_link_density_rule(spark):
    # long but link-saturated block must be boilerplate; short plain
    # block must be boilerplate; long plain block is content
    linky = "<div>" + " ".join(
        f'<a href="/{i}">word{i} word{i} word{i}</a>' for i in range(4)
    ) + "</div>"
    shorty = "<p>too few words</p>"
    content = "<p>" + " ".join(f"w{i}" for i in range(12)) + "</p>"
    df = spark.createDataFrame(
        [(1, linky + shorty + content)], "doc_id long, html string"
    )
    r = wp.main_content(df, "doc_id", F.col("html")).collect()[0]
    assert r.n_blocks == 3
    assert r.n_content_blocks == 1
    assert r.main_chars == len(" ".join(f"w{i}" for i in range(12)))


def test_main_content_entity_unescape_in_blocks(spark):
    body = "an &amp; escaped &lt;tag&gt; with &quot;five&quot; words here"
    df = spark.createDataFrame([(1, f"<p>{body}</p>")], "doc_id long, html string")
    r = wp.main_content(df, "doc_id", F.col("html")).collect()[0]
    assert r.n_content_blocks == 1
    expected = 'an & escaped <tag> with "five" words here'
    import hashlib
    assert r.main_md5 == hashlib.md5(expected.encode()).hexdigest()


def test_main_content_no_blocks(spark):
    df = spark.createDataFrame([(1, "no markup at all")], "doc_id long, html string")
    out = wp.main_content(df, "doc_id", F.col("html")).collect()
    assert out == []  # explode of zero blocks -> no group row (documented)


# ---------------------------------------------------------------------
# Salient terms (integer-exact TF-IDF ranking)
# ---------------------------------------------------------------------

def test_top_terms_ordering_and_broadcast_df(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple apple common rare common"),
            (2, "common common banana banana banana rare"),
            (3, "common rare cherry"),
        ],
        "doc_id long, text string",
    )
    tf = wp.term_counts(docs, "doc_id", "text")
    out = wp.top_terms(tf, "doc_id", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.tf, r.df))
    for v in by_doc.values():
        v.sort()
    # doc 1: apple tf=3 (df=1) then common tf=2 (df=3)
    assert by_doc[1] == [(1, "apple", 3, 1), (2, "common", 2, 3)]
    # doc 2: banana tf=3 beats common tf=2
    assert by_doc[2] == [(1, "banana", 3, 1), (2, "common", 2, 3)]
    # doc 3: all tf=1 -> df asc breaks the tie (cherry df=1, rare df=3)
    assert by_doc[3][0][1] == "cherry"


def test_top_terms_tie_breaks_are_deterministic(spark):
    docs = spark.createDataFrame(
        [(1, "b a c"), (2, "a b c")], "doc_id long, text string"
    )
    tf = wp.term_counts(docs, "doc_id", "text")
    out = wp.top_terms(tf, "doc_id", k=3).collect()
    for doc in (1, 2):
        terms = [r.term for r in sorted(out, key=lambda r: r.rank)
                 if r.doc_id == doc]
        assert terms == ["a", "b", "c"]  # (tf, df) equal -> term asc
