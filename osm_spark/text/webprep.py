"""Web-page preparation operators: HTML render/extract, main-content
(boilerplate) extraction, repetition quality signals, salient terms,
PII scrubbing, stratified sampling, sequence packing, chunk-level
corpus dedup.

These extend the engine beyond the reference's OSM operators into the
training-data-pipeline surface the north rule targets: Common-Crawl
style pages ``(url, warc_ts, html:binary, text, lang)`` with a
**byte-identical extracted-text invariant per url**.  The reference has
no HTML path at all; the invariant discipline mirrors how its decode
paths round-trip elements bit-exactly (e.g. ``osmpbf`` decode ==
``osmxml`` decode for the same planet region).

Everything here is column-only (split / higher-order functions /
regex) — no Python UDFs — and every operator has an exact DuckDB twin
for the correctness gate:

- ``render_html`` / ``extract_text``: deterministic HTML5 wrapping of a
  text column (entity escaping: ``& < > "``) into a ``binary`` html
  column, and the inverse extractor (body isolate -> tag strip ->
  entity unescape).  ``extract_text(render_html(t)) == t`` **bytewise**
  — the north rule's per-row invariant, exercised on text that
  deliberately contains markup-significant bytes.
- ``repetition_metrics``: Gopher-style repetition quality signals
  (duplicate-word fraction, top-bigram fraction).  The bigram mode is
  one (doc, bigram)-keyed shuffle — scales to 10^12 docs because the
  key space is per-document, never global.
- ``pii_metrics``: email / phone / IPv4 detection counts + redaction
  via RE2-compatible character-class regexes (no lookarounds, no
  backrefs, so Java regex and RE2 agree byte-for-byte).
- ``chunk_dedup``: C4-style exact dedup at sub-document granularity —
  fixed-width word chunks, global first-occurrence keep keyed by chunk
  digest (ONE digest-keyed shuffle at any corpus size), documents
  reassembled from surviving chunks in order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osm_spark.plans.skew import salted_topk
from osm_spark.text.dedup import shingles, words


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


# ---------------------------------------------------------------------
# HTML render / extract (byte-identical round trip)
# ---------------------------------------------------------------------

def rich_text(text, doc_id) -> Column:
    """Canonical per-row text INCLUDING markup-significant bytes.

    The sandbox ``documents`` word-soup contains no ``& < > "`` at all,
    which would make entity escaping a vacuous identity; appending a
    deterministic suffix with all four forces the escape/unescape path
    to carry real weight.  Both engines compute the identical string.
    """
    return F.concat(
        _c(text), F.lit(' <#'), _c(doc_id).cast("string"), F.lit(' & "tail">')
    )


def escape_html(c) -> Column:
    """HTML entity escape: ``&`` FIRST (order is what makes the chain
    invertible), then ``<``, ``>``, ``"``."""
    c = _c(c)
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    return F.replace(c, F.lit('"'), F.lit("&quot;"))


def unescape_html(c) -> Column:
    """Inverse of :func:`escape_html`: named entities back, ``&amp;``
    LAST (so ``&amp;lt;`` — an escaped literal ``&lt;`` — decodes to
    ``&lt;`` and not ``<``)."""
    c = _c(c)
    c = F.replace(c, F.lit("&quot;"), F.lit('"'))
    c = F.replace(c, F.lit("&gt;"), F.lit(">"))
    c = F.replace(c, F.lit("&lt;"), F.lit("<"))
    return F.replace(c, F.lit("&amp;"), F.lit("&"))


def render_html(rich, doc_id, lang) -> Column:
    """Deterministic HTML5 document around an escaped text body; the
    result is a ``binary`` column (utf-8), matching the north-rule
    input shape ``html: binary``."""
    s = F.concat(
        F.lit('<!DOCTYPE html><html lang="'), _c(lang),
        F.lit('"><head><title>p'), _c(doc_id).cast("string"),
        F.lit('</title></head><body><p id="c'), _c(doc_id).cast("string"),
        F.lit('">'), escape_html(rich), F.lit("</p></body></html>"),
    )
    return F.encode(s, "UTF-8")


def extract_text(html_bin) -> Column:
    """binary html -> extracted text, byte-identical to what was
    rendered: isolate the body paragraph (escaped text cannot contain
    ``<`` or ``>``, so the greedy group is exact), then unescape."""
    s = F.decode(_c(html_bin), "UTF-8")
    body = F.regexp_extract(s, r"<p[^>]*>(.*)</p>", 1)
    return unescape_html(body)


# ---------------------------------------------------------------------
# Main-content extraction (boilerplate removal, block link-density)
# ---------------------------------------------------------------------

# Flat block-level elements; group 1 is the inner HTML.  Non-greedy,
# no backreferences or lookarounds, so Java regex (Spark) and RE2
# (DuckDB) agree byte-for-byte.  Nested block tags match open-to-first-
# closer (documented limit of a regex segmenter; the page synthesizer
# emits flat blocks).
BLOCK_RE = (
    r"<(?:p|li|div|nav|footer|header|aside)[^>]*>"
    r"(.*?)"
    r"</(?:p|li|div|nav|footer|header|aside)>"
)
ANCHOR_TEXT_RE = r"<a[^>]*>(.*?)</a>"
TAG_RE = r"<[^>]*>"

# Kohlschuetter-style densitometric rule, integer-exact so both engines
# agree: a block is CONTENT iff its anchor-text share is under 1/3 of
# its visible chars AND it has at least MIN_CONTENT_WORDS words.
MIN_CONTENT_WORDS = 5


def synth_page(text, doc_id, n_paras: int = 3) -> Column:
    """Deterministic page with real boilerplate around the document
    text: a link-dense header, the text split into ``n_paras`` flat
    ``<p>`` blocks (entity-escaped), and a short footer.  Joining the
    content blocks back with single spaces reconstructs ``text``
    byte-exactly — that is the operator's provable invariant."""
    w = words(text)
    per = F.ceil(F.size(w).cast("double") / float(n_paras)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), F.lit(n_paras - 1)),
        lambda i: F.concat(
            F.lit("<p>"),
            escape_html(F.array_join(F.slice(w, i * per + 1, per), " ")),
            F.lit("</p>"),
        ),
    )
    return F.concat(
        F.lit('<header><a href="/">Home</a> <a href="/about">About</a>'
              "</header>"),
        F.array_join(paras, ""),
        F.lit("<footer>Copyright "),
        (_c(doc_id) % 10 + 2010).cast("string"),
        F.lit(' <a href="/tos">Terms</a></footer>'),
    )


def main_content(pages: DataFrame, id_col: str, html_col, text_col=None) -> DataFrame:
    """Boilerplate removal by block link-density: segment the page into
    flat blocks, strip tags + unescape per block, classify each block
    content-vs-boilerplate (anchor-char share < 1/3 AND >=
    MIN_CONTENT_WORDS words), and reassemble the surviving blocks in
    document order.

    100 TB shape: one explode + one doc-keyed reassembly shuffle (the
    same shape as chunk_dedup); all classification math is per-block
    integer arithmetic, JVM-side.  If ``text_col`` is given, emits
    ``main_is_exact`` — main text byte-equal to the original.
    """
    blocks = pages.select(
        F.col(id_col),
        *( [ _c(text_col).alias("__orig") ] if text_col is not None else [] ),
        F.posexplode(
            F.regexp_extract_all(_c(html_col), F.lit(BLOCK_RE), F.lit(1))
        ).alias("bi", "raw"),
    )
    txt = unescape_html(F.regexp_replace(F.col("raw"), TAG_RE, ""))
    link_chars = F.aggregate(
        F.regexp_extract_all(F.col("raw"), F.lit(ANCHOR_TEXT_RE), F.lit(1)),
        F.lit(0).cast("long"),
        lambda acc, a: acc + F.length(unescape_html(a)),
    )
    b = blocks.select(
        F.col(id_col),
        *( [F.col("__orig")] if text_col is not None else [] ),
        F.col("bi"),
        txt.alias("txt"),
        (
            (link_chars * 3 < F.length(txt))
            & (F.size(words(txt)) >= MIN_CONTENT_WORDS)
        ).alias("is_content"),
    )
    main_txt = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(F.collect_list(F.struct("bi", "txt", "is_content"))),
                lambda x: x["is_content"],
            ),
            lambda x: x["txt"],
        ),
        " ",
    )
    agg = b.groupBy(id_col, *(["__orig"] if text_col is not None else [])).agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.col("is_content").cast("long")).alias("n_content_blocks"),
        F.sum(
            F.when(F.col("is_content"), F.length("txt")).otherwise(0)
        ).cast("long").alias("main_chars"),
        F.sum(
            F.when(~F.col("is_content"), F.length("txt")).otherwise(0)
        ).cast("long").alias("boiler_chars"),
        main_txt.alias("__main"),
    )
    out = [
        F.col(id_col), F.col("n_blocks"), F.col("n_content_blocks"),
        F.col("main_chars"), F.col("boiler_chars"),
        F.md5("__main").alias("main_md5"),
    ]
    if text_col is not None:
        out.append(
            (F.col("__main") == F.col("__orig")).cast("long")
            .alias("main_is_exact")
        )
    return agg.select(*out)


# ---------------------------------------------------------------------
# Repetition quality signals (Gopher-style)
# ---------------------------------------------------------------------

def _max_run(sorted_arr) -> Column:
    """Longest run of equal adjacent elements in a SORTED array == max
    frequency of any element — computed in-row with one fold, no
    explode, no shuffle."""
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


def repetition_metrics(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc repetition signals:

    - ``dup_word_frac_e6``: 1 - distinct/total words;
    - ``top_bigram_frac_e6``: most frequent word-bigram count / total
      bigrams.

    The bigram key space is strictly per-document, so the frequency
    argmax never needs a (doc, bigram) shuffle: sort the bigram array
    in-row and take the longest equal-adjacent run (:func:`_max_run`).
    The whole operator is ONE narrow scan-project — zero shuffles at
    any corpus size (an earlier explode+groupBy draft measured 6.7s on
    the sf0.1 bench; this form measures ~0.7s for identical output)."""
    w = words(text_col)
    bg = F.array_sort(shingles(text_col, 2))
    base = docs.select(
        F.col(id_col),
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_uniq"),
        F.size(bg).alias("n_bigrams"),
        _max_run(bg).alias("top_bigram_count"),
    )
    return base.select(
        F.col(id_col),
        F.col("n_words").cast("long").alias("n_words"),
        F.floor(
            (F.lit(1.0) - F.col("n_uniq").cast("double")
             / F.col("n_words").cast("double")) * 1e6
        ).alias("dup_word_frac_e6"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("top_bigram_count").cast("long").alias("top_bigram_count"),
        F.coalesce(
            F.floor(
                F.col("top_bigram_count").cast("double")
                / F.col("n_bigrams").cast("double") * 1e6
            ),
            F.lit(0),
        ).cast("long").alias("top_bigram_frac_e6"),
    )


# ---------------------------------------------------------------------
# Salient terms (TF-IDF-style, integer-exact ranking)
# ---------------------------------------------------------------------

def term_counts(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, term, tf) — one explode + one (doc, term)-keyed count with
    map-side partial agg.  Callers persist this when feeding both
    :func:`top_terms` stages (it is consumed twice: per-doc and for
    document frequencies)."""
    return (
        docs.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def top_terms(tf: DataFrame, id_col: str, k: int = 3) -> DataFrame:
    """Per-doc top-``k`` salient terms, TF-IDF-style but with an
    INTEGER-EXACT ordering both engines reproduce bit-for-bit: rank by
    (tf desc, df asc, term asc) — high in-doc frequency, low corpus
    frequency, lexicographic tiebreak — instead of a float
    ``tf*log(N/df)`` score (transcendental cross-engine parity is
    exactly the trap the repo's float-parity rules exist to avoid; the
    ordering is the same for any monotone idf).

    100 TB shape: document frequencies aggregate from the (doc, term)
    counts (vocab-sized output) and BROADCAST back; the top-k window
    shuffles on doc_id only."""
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    j = tf.join(F.broadcast(df_), "term")
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("term"),
            F.col("tf"),
            F.col("df"),
        )
    )


# ---------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------

# Character-class-only patterns: identical semantics under Java regex
# (Spark) and RE2 (DuckDB) — no lookarounds, no backrefs, no \b.
EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+"
PHONE_RE = "[0-9]{3}-[0-9]{4}"
IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def pii_augment(text, doc_id) -> Column:
    """Deterministically inject one email, one phone, one IPv4 per row
    (the sandbox word-soup has none) so detection/redaction is
    non-vacuous; both engines compute the identical string."""
    d = _c(doc_id)
    return F.concat(
        _c(text),
        F.lit(" contact user"), d.cast("string"), F.lit("@mail.example"),
        F.lit(" call 555-0"), F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit(" from 192.168."), (d % 256).cast("string"),
        F.lit("."), ((d * 7) % 256).cast("string"),
    )


def pii_metrics(docs: DataFrame, id_col: str, text_col) -> DataFrame:
    """Counts per PII class + md5 of the redacted text.

    Counts are measured on the RAW text independently per class;
    redaction applies email -> IPv4 -> phone in that order, so on text
    where classes overlap (a phone- or IP-shaped token inside an email)
    an earlier pass can consume a later class's match — the count then
    exceeds the number of that class's redactions.  Both engines apply
    the identical order, so outputs still agree row-for-row."""
    t = _c(text_col)
    scrub = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    scrub = F.regexp_replace(scrub, IPV4_RE, "<IP>")
    scrub = F.regexp_replace(scrub, PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
        .cast("long").alias("n_email"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
        .cast("long").alias("n_phone"),
        F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0)))
        .cast("long").alias("n_ip"),
        F.md5(scrub).alias("scrub_md5"),
        F.length(scrub).cast("long").alias("scrub_len"),
    )


# ---------------------------------------------------------------------
# Deterministic stratified sampling (training-mix construction)
# ---------------------------------------------------------------------

def sample_hash(key, salt: str = "s") -> Column:
    """Uniform-ish deterministic per-key value in [0, 1000): 20 md5
    bits mod 1000.  Pure function of the key — reproducible across
    engines, runs, and cluster sizes (unlike rand(seed), which depends
    on partitioning)."""
    h = F.md5(F.concat(F.lit(f"{salt}|"), _c(key).cast("string")))
    return F.conv(F.substring(h, 1, 5), 16, 10).cast("long") % 1000


def stratified_sample(docs: DataFrame, id_col: str, stratum_col: str,
                      rate_e3) -> DataFrame:
    """Keep each row iff ``sample_hash(id) < rate_e3`` where rate_e3 is
    a per-row column (typically derived from the stratum) in thousandths.
    Zero shuffles — sampling at 10^12 rows is a scan-side filter; exact
    stratum rates are audited downstream by one aggregation."""
    return docs.where(sample_hash(F.col(id_col)) < rate_e3)


def es_priority_q(key, weight, salt: str = "w") -> Column:
    """Efraimidis-Spirakis weighted-sampling priority, deterministic
    and quantized: priority = -ln(u) / w with u an md5-derived uniform
    in (0, 1] — the k SMALLEST priorities are an exact weighted sample
    without replacement (ES 2006), and because u is a pure hash of the
    key the sample is reproducible across engines, runs, and cluster
    sizes (rand()-based A-ES is none of those).  The single ln (the
    discipline's guarded transcendental) quantizes to int64 e12 BEFORE
    any ranking, so a 1-ulp libm divergence cannot reorder candidates;
    quantization ties break on the key downstream.  ``weight`` must be
    a positive integer column."""
    h = F.md5(F.concat(F.lit(f"{salt}|"), _c(key).cast("string")))
    v = F.conv(F.substring(h, 1, 13), 16, 10).cast("long")  # 52 bits
    u = (v + F.lit(1).cast("long")).cast("double") / F.lit(float(1 << 52))
    return F.floor(-F.log(u) / _c(weight).cast("double") * 1e12).cast("long")


def weighted_sample(docs: DataFrame, id_col: str, stratum_col: str,
                    weight_col: str, k: int, salt_buckets: int = 8) -> DataFrame:
    """Top-k weighted sample per stratum: rank by (priority_q, id) and
    keep the k smallest — heavier rows exponentially more likely, the
    exact ES scheme a quality-weighted corpus mix uses.  Salted
    two-level ranking like every top-k in this repo (a mega-stratum
    never funnels one reducer); adds ``rank`` 1..k per stratum."""
    p = docs.withColumn("_pq", es_priority_q(id_col, weight_col))
    order = [F.col("_pq").asc(), F.col(id_col).asc()]
    return salted_topk(
        p, k, order, F.xxhash64(F.col(id_col)), salt_buckets, [stratum_col]
    )


# ---------------------------------------------------------------------
# Sequence packing (context-window construction)
# ---------------------------------------------------------------------

def pack_sequences(docs: DataFrame, id_col: str, text_col: str,
                   stratum_col: str, ctx: int = 2048) -> DataFrame:
    """Assign every document its byte range in a contiguous per-stratum
    token stream packed into ``ctx``-token windows (the training-data
    packing layout: documents concatenate in a deterministic order and
    may straddle window boundaries).

    One window pass per stratum (running token total ordered by id) +
    integer division — both engines reproduce the layout exactly.
    Output: (id, stratum, n_tokens, start_off, bin_first, bin_last,
    n_bins)."""
    from pyspark.sql import Window as W

    n_tok = F.size(words(text_col))
    w = (
        W.partitionBy(stratum_col)
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum(n_tok).over(w)
    return docs.select(
        F.col(id_col),
        F.col(stratum_col).alias("stratum"),
        n_tok.cast("long").alias("n_tokens"),
        (cum - n_tok).cast("long").alias("start_off"),
        F.floor((cum - n_tok) / ctx).cast("long").alias("bin_first"),
        F.floor((cum - 1) / ctx).cast("long").alias("bin_last"),
        (F.floor((cum - 1) / ctx) - F.floor((cum - n_tok) / ctx) + 1)
        .cast("long").alias("n_bins"),
    )


# ---------------------------------------------------------------------
# Chunk-level exact dedup (C4-style)
# ---------------------------------------------------------------------

def chunk_array(text, chunk_words: int = 8) -> Column:
    """Non-overlapping ``chunk_words``-word chunks as array<string>
    (column-only; trailing partial chunk kept)."""
    w = words(text)
    n = F.ceil(F.size(w).cast("double") / float(chunk_words)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(w, i * chunk_words + 1, chunk_words), " "),
    )


def chunk_dedup(docs: DataFrame, id_col: str, text_col: str,
                chunk_words: int = 8) -> DataFrame:
    """Corpus-global exact dedup at chunk granularity.

    Keep the FIRST occurrence of every distinct chunk digest (order:
    (doc_id, chunk index) — deterministic), drop the rest, reassemble
    each document from its surviving chunks in order.

    100 TB shape: ONE shuffle keyed by chunk digest (row_number per
    digest; partial information never widens beyond (digest, doc,
    idx)), then one doc-keyed shuffle to reassemble.  No global sort,
    no driver collection.
    """
    ch = docs.select(
        F.col(id_col),
        F.posexplode(chunk_array(text_col, chunk_words)).alias("chunk", "chunk_text"),
    ).withColumn("h", F.md5("chunk_text"))
    win = Window.partitionBy("h").orderBy(F.col(id_col), F.col("chunk"))
    kept = (
        ch.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .drop("rn", "h")
    )
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("kept_chunks"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk", "chunk_text"))),
                    lambda x: x["chunk_text"],
                ),
                " ",
            )
        ).alias("dedup_md5"),
    )
    totals = docs.select(
        F.col(id_col), F.size(chunk_array(text_col, chunk_words)).alias("n_chunks")
    )
    return totals.join(agg, id_col, "left").select(
        F.col(id_col),
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.coalesce(F.col("kept_chunks"), F.lit(0)).cast("long").alias("kept_chunks"),
        F.coalesce(F.col("dedup_md5"), F.md5(F.lit(""))).alias("dedup_md5"),
    )
