"""Edit-distance similarity join — exact recall, never all-pairs.

URL/title near-duplicate detection (typosquatting, tracking-parameter
variants, CDN mirrors) needs ALL string pairs within edit distance d.
MinHash/SimHash are Jaccard machinery — wrong metric for short keys
where one character substitution matters.  The scalable exact shape
is the q-gram prefix-filtered join (AllPairs/PPJoin family):

1. Each string's DISTINCT q-gram set A loses at most q grams per
   edit, so strings within distance d share >= max(|A|,|B|) - d*q
   grams — in particular, AT LEAST ONE gram among each string's
   (d*q + 1) rarest grams under a GLOBAL (frequency, gram) order
   (take A's prefix P_A of its |A| - (|A| - d*q) + 1 = d*q + 1
   smallest elements: if A∩B avoided P_A entirely, A∩B would have to
   fit inside the |A| - (d*q + 1) largest, contradicting
   |A∩B| >= |A| - d*q).
2. Joining on PREFIX grams only is therefore complete — and kills
   the hot-gram blowup: every string shares the structural grams of
   its template ('page-', 'http'), but those are the most FREQUENT
   grams, excluded from every prefix.  Bucket sizes track the rare
   tail of the gram distribution, never the corpus.
3. Candidates verify with the exact unit-cost Levenshtein DP
   (`F.levenshtein`, JVM-side; DuckDB's levenshtein() is the same
   classic DP, so the oracle can brute-force all pairs index-free).
4. Step 1 needs |A| - d*q >= 1 for one of the two strings.  When both
   have at most d*q distinct grams they may share none ('ab' vs 'cd'
   at q=2, d=2), so those SHORT strings join each other on a length
   band (|len_a - len_b| <= d) instead, and are verified the same way.

Cost: one gram-frequency aggregation (gram-vocabulary-sized,
broadcast), one per-string rank window, one equi-join on prefix
grams, one length-band join over the short strings only, one verify
projection.  Apart from short-string pairs, no similarity join in the
plan ever compares strings that share zero rare grams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def qgrams(s, q: int = 2) -> Column:
    """Distinct q-grams of a string column (array<string>); strings
    shorter than q yield their whole self as the single gram."""
    c = F.col(s) if isinstance(s, str) else s
    n = F.length(c)
    ks = F.when(n >= q, F.sequence(F.lit(1), n - (q - 1))).otherwise(
        F.array(F.lit(1))
    )
    return F.array_distinct(
        F.transform(ks, lambda i: c.substr(i, F.lit(q)))
    )


def edit_distance_join(
    strs: DataFrame,
    id_col: str = "sid",
    str_col: str = "s",
    d: int = 2,
    q: int = 2,
) -> DataFrame:
    """-> (a, b, dist): all id pairs (a < b) with
    levenshtein(s_a, s_b) <= d.

    Exact recall via the prefix filter (module header) whenever one of
    the two strings has more than d*q distinct grams.  Two SHORT
    strings (<= d*q distinct grams each, e.g. anything shorter than
    q*(d+1)) may share no gram at all ('ab' vs 'cd', q=2, d=2), so
    short strings also pair with every short string within d of their
    length — a length-banded join, each pair emitted once — and those
    pairs skip the prefix join."""
    base = strs.select(
        F.col(id_col).alias("sid"), F.col(str_col).alias("s"),
        qgrams(str_col, q).alias("grams"),
    ).withColumn("short", F.size("grams") <= d * q)
    g = base.select("sid", "s", "short", F.explode("grams").alias("g"))
    freq = g.groupBy("g").agg(F.count(F.lit(1)).alias("gf"))
    ranked = (
        g.join(F.broadcast(freq), "g")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("sid").orderBy("gf", "g")
            ),
        )
        .where(F.col("rk") <= d * q + 1)
        .select("sid", "s", "short", "g")
    )
    a = ranked.select(
        F.col("sid").alias("a"), F.col("s").alias("sa"),
        F.col("short").alias("short_a"), "g",
    )
    b = ranked.select(
        F.col("sid").alias("b"), F.col("s").alias("sb"),
        F.col("short").alias("short_b"), "g",
    )
    cand = (
        a.join(b, "g")
        .where((F.col("a") < F.col("b")) & ~(F.col("short_a") & F.col("short_b")))
        .select("a", "b", "sa", "sb")
        .distinct()
    )
    short = base.where("short").select("sid", "s", F.length("s").alias("len"))
    lo = short.select(
        F.col("sid").alias("a"), F.col("s").alias("sa"), "len",
        F.explode(F.sequence("len", F.col("len") + d)).alias("len_b"),
    )
    hi = short.select(
        F.col("sid").alias("b"), F.col("s").alias("sb"),
        F.col("len").alias("len_b"),
    )
    # levenshtein is symmetric, so only the ids need ordering
    short_cand = (
        lo.join(hi, "len_b")
        .where((F.col("len") < F.col("len_b")) | (F.col("a") < F.col("b")))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"),
            "sa", "sb",
        )
    )
    return cand.unionByName(short_cand).select(
        "a",
        "b",
        F.levenshtein("sa", "sb").alias("dist"),
    ).where(F.col("dist") <= d)
