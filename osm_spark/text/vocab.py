"""BPE vocabulary induction — the pair-count / merge-selection step.

One iteration of byte-pair-encoding training (Sennrich et al. 2016,
the tokenizer-training primitive behind GPT/Llama vocabularies): count
adjacent symbol pairs across the corpus, weighted by word frequency,
and rank merge candidates.

Spark-first shape — the classic two-level trick that makes BPE
training corpus-size-independent per iteration:

- **Pairs count over the DISTINCT word table, weighted by frequency**,
  never over raw tokens: one word-keyed shuffle builds the frequency
  table (vocabulary-sized from then on), one pair-keyed shuffle sums
  the weighted pair counts.  At 10^12 documents the vocabulary is
  millions of rows, not trillions — each BPE iteration touches only
  that.
- **Adjacent pairs are substrings, not char-array zips**:
  ``substr(word, i, 2)`` for i in 1..len-1 — no array materialization,
  stays in whole-stage codegen.  The same guarded-sequence discipline
  as contamination.py (Spark's ``sequence`` descends on a negative
  span).
- The ranking is the salted two-level top-k (plans/skew.py
  `salted_topk`): the distinct-PAIR table prunes to k rows per salt
  bucket first, so the one global window sorts at most salt*k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.plans.skew import salted_topk


def word_freq(docs: DataFrame, text_col: str) -> DataFrame:
    """-> (word, freq): whitespace-token frequency table."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def pair_counts(wf: DataFrame) -> DataFrame:
    """(word, freq) -> (pair, n): adjacent character pairs weighted by
    word frequency — the BPE merge-candidate statistics."""
    starts = F.when(
        F.length("word") >= 2, F.sequence(F.lit(1), F.length("word") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = F.transform(starts, lambda i: F.col("word").substr(i, F.lit(2)))
    return (
        wf.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
    )


def top_merges(pc: DataFrame, k: int = 20) -> DataFrame:
    """Top-k merge candidates, deterministically ranked (count desc,
    pair asc — the tie rule makes both engines pick identical ranks)."""
    order = [F.desc("n"), F.asc("pair")]
    return salted_topk(pc, k, order, F.xxhash64("pair"), 8).select(
        F.col("rank").cast("int").alias("rank"), "pair", "n"
    )


# ------------------------------------------------------------------ apply
# Applying a learned merge list (the merges.txt mechanics every BPE
# tokenizer ships).  Words encode as " a· b· c·" — every symbol gets a
# leading space and a trailing '·' marker, so the merge (a,b) is the
# literal replace " a· b·" -> " ab·": the leading space pins the symbol
# START (no suffix of a longer symbol can match) and the marker pins
# the symbol END (no symbol that is a proper prefix of another can
# match), and because patterns start with a space but end without one,
# left-to-right non-overlapping replace handles back-to-back
# occurrences ("x y x y") exactly.  Both engines' replace() share
# those semantics, so the chain is engine-portable.

_MARK = "·"


def encode_word(word) -> "F.Column":
    """word -> ' a· b· c·' spaced-symbol encoding (Spark side)."""
    c = F.col(word) if isinstance(word, str) else word
    return F.regexp_replace(c, "(.)", " $1" + _MARK)


def apply_merges(enc, merges: list[str]) -> "F.Column":
    """Apply ranked 2-char merges to an encoded word column: one
    literal replace per merge, in rank order — a fixed-depth
    expression chain, zero iteration, zero Python."""
    c = F.col(enc) if isinstance(enc, str) else enc
    for pair in merges:
        a, b = pair[0], pair[1]
        c = F.replace(
            c,
            F.lit(f" {a}{_MARK} {b}{_MARK}"),
            F.lit(f" {a}{b}{_MARK}"),
        )
    return c


def bpe_token_counts(
    wf: DataFrame, merges: list[str]
) -> DataFrame:
    """(word, freq) -> (token, n): corpus token counts after applying
    the ranked merge list.  Runs over the DISTINCT word table weighted
    by frequency — the same two-level trick as training, so the apply
    pass is vocabulary-sized at any corpus size."""
    enc = apply_merges(encode_word("word"), merges)
    toks = F.transform(
        F.filter(F.split(F.trim(enc), " "), lambda t: t != ""),
        lambda t: F.replace(t, F.lit(_MARK), F.lit("")),
    )
    return (
        wf.select(F.explode(toks).alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("n"))
    )
