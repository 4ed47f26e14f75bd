"""Corpus statistics operators (A1, A2, A5) — native Catalyst aggregations.

Word counting convention: ``split(trim(text), '\\s+')`` with the empty-text
guard, matching the reference's ``len(text.split())`` for non-empty text
(``scripts/clean.py:872-907``; ``sandbox/stats_testing.ipynb`` cells 3-16).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def words_col(col: str = "text") -> Column:
    """array of whitespace tokens; [] for empty/null text."""
    return F.when(
        F.length(F.trim(F.col(col))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(col)), r"\s+"))


def word_count_col(col: str = "text") -> Column:
    return F.size(words_col(col))


def corpus_stats_by_source(df: DataFrame, source_col: str = "source",
                           text_col: str = "text") -> DataFrame:
    """A1: per-source doc count, mean/total words (scripts/clean.py:872-907)."""
    return (df
            .withColumn("__w", word_count_col(text_col))
            .groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.avg("__w").alias("avg_words"),
                 F.sum("__w").alias("total_words"),
                 F.avg(F.length(F.col(text_col))).alias("avg_chars"))
            .orderBy(source_col))


def vocab_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """A2: total word count + exact distinct vocabulary size.

    ``countDistinct`` over exploded words shuffles once on the word key; at
    100 TB swap in ``approx_count_distinct`` (documented scale path)."""
    words = df.select(F.explode(words_col(text_col)).alias("word"))
    return words.agg(F.count("word").alias("total_words"),
                     F.countDistinct("word").alias("vocab_size"))


def concat_by_key(df: DataFrame, key_col: str, order_col: str,
                  text_col: str, sep: str = "\n") -> DataFrame:
    """A5: order-pinned per-key text concatenation
    (sandbox/stats_testing.ipynb cell 10). Deterministic via
    sort_array(collect_list(struct(order, text)))."""
    packed = F.array_sort(
        F.collect_list(F.struct(F.col(order_col).alias("o"),
                                F.col(text_col).alias("t"))))
    return (df.groupBy(key_col)
            .agg(F.array_join(F.transform(packed, lambda s: s["t"]), sep)
                 .alias("concat_text"))
            .orderBy(key_col))
