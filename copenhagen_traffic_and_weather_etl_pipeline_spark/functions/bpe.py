"""Reusable BPE tokenizer training (iterative form).

This module is the production API: learn N merges with a driver-side
loop (each round collects exactly ONE row — the argmax pair — the same
model-sized-state pattern as the k-means centroids), then encode text
with the learned merge list. The registry entry ``bpe_pair_merges``
unrolls two merges lazily for the correctness gate over this module's
own vocabulary build (``word_frequencies``), spacing (``_spaced``) and
pair counts (``_pair_counts``).

Scale contract (Sennrich et al. 2016): the corpus is scanned once to
build the word-frequency table; every subsequent round is O(vocab) —
pair counts are partial-combinable aggregates over the vocab frame,
and merge application is a broadcast string rewrite. ``word_freqs``
should be cached by the caller when learning many merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import _words_col


def word_frequencies(docs: DataFrame) -> DataFrame:
    """One corpus scan -> (w, f) vocabulary frame of ``docs.text``
    (lowercase alpha words, length 2-12), split by the package's one
    word splitter, ``operators.dedup._words_col``."""
    return (
        docs.select(F.explode(_words_col()).alias("tok"))
        .select(F.lower("tok").alias("w"))
        .filter(F.col("w").rlike("^[a-z]{2,12}$"))
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )


def _spaced(words: DataFrame) -> DataFrame:
    return words.select(
        F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("s"),
        "f",
    )


def _pair_counts(sp: DataFrame) -> DataFrame:
    return (
        sp.withColumn("a", F.split(F.trim(F.col("s")), " "))
        .filter(F.size("a") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a)-1), "
                    "i -> concat(element_at(a, i), '~', element_at(a, i+1)))"
                )
            ).alias("p"),
            "f",
        )
        .groupBy("p")
        .agg(F.sum("f").alias("cnt"))
        .select(
            F.split("p", "~").getItem(0).alias("l"),
            F.split("p", "~").getItem(1).alias("r"),
            "cnt",
        )
    )


def _apply_merge(sp: DataFrame, left: str, right: str) -> DataFrame:
    pat = F.lit(f" {left} {right} ")
    rep = F.lit(f" {left}{right} ")
    return sp.select(
        F.replace(F.replace(F.col("s"), pat, rep), pat, rep).alias("s"), "f"
    )


def learn_bpe(
    word_freqs: DataFrame, n_merges: int
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, count)].

    Each round runs one distributed pair-count aggregation and collects
    the single argmax row (ties: count desc, then lexicographic pair).
    """
    sp = _spaced(word_freqs)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(sp)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((l, r, cnt))
        sp = _apply_merge(sp, l, r)
    return merges


def encode_with_merges(
    docs: DataFrame, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """Tokenize ``docs.text`` with a learned merge list: each word is
    lowercased like :func:`word_frequencies` and spaced to characters,
    the merges replay in learned order (the broadcast-literal rewrite —
    no join, no Python), and the symbol string lands space-separated in
    ``bpe_tokens``."""
    toks = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    # Word boundary sentinel "\x01" keeps merges from crossing words.
    s = F.concat(
        F.lit(" "),
        F.regexp_replace(F.regexp_replace(toks, " ", "\x01"), "(.)", "$1 "),
    )
    for left, right, _ in merges:
        pat, rep = F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace(s, "\x01", ""), r"\s+", " ")
    )
    return docs.withColumn("bpe_tokens", cleaned)
