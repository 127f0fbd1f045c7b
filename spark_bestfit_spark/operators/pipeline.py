"""End-to-end corpus curation: the composition a pretraining-data
pipeline actually runs, built from the engine's own operators.

    raw documents
      -> quality scoring (map-only column algebra)
      -> quality / length / language filters (pushed into the scan)
      -> exact dedup (md5 fingerprint groupBy)
      -> MinHash near-dup removal (LSH band buckets, verified Jaccard)
      -> curated corpus + per-stage audit counts

Shuffle profile at 100 TB: one shuffle for exact dedup (fingerprint),
one for the LSH band buckets, one small join to drop near-dup losers.
Everything else is map-only and pipelines with the scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from spark_bestfit_spark.functions.text import normalized, tokens, words
from spark_bestfit_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
)
from spark_bestfit_spark.operators.textstats import (
    with_language_id,
    with_quality_score,
)

__all__ = ["corpus_diff", "curate_corpus", "dataset_card"]


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.25,
    min_tokens: int = 5,
    languages: list | None = None,
    near_dup_threshold: float = 0.85,
    minhash_kwargs: dict | None = None,
) -> tuple:
    """Returns (curated DataFrame, audit dict of per-stage counts).

    The audit counts cost one extra action per stage; pass the result
    through ``.cache()`` upstream if the input is recomputed expensively.
    """
    audit = {"input": df.count()}

    scored = with_quality_score(df, text_col)
    scored = scored.withColumn(
        "_n_tokens",
        F.size(tokens(text_col)),
    )
    filtered = scored.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("_n_tokens") >= min_tokens)
    )
    if languages:
        filtered = with_language_id(filtered, text_col).filter(
            F.col("lang_guess").isin(list(languages))
        )
    filtered = filtered.drop("_n_tokens")
    audit["after_quality_filter"] = filtered.count()

    deduped = exact_dedup(filtered, text_col, id_col)
    audit["after_exact_dedup"] = deduped.count()

    pairs = minhash_dedup_pairs(
        deduped, text_col, id_col,
        threshold=near_dup_threshold,
        **(minhash_kwargs or {}),
    )
    # keep the lowest id of each near-dup pair: drop every id that
    # appears as the larger side of a surviving pair
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    curated = deduped.join(losers, on=id_col, how="left_anti")
    audit["after_near_dedup"] = curated.count()
    audit["near_dup_pairs"] = pairs.count()
    return curated, audit


def dataset_card(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row dataset card: the summary a data release ships with
    (corpus size, token/char volume, length stats, empty share, exact
    duplicate rate), computed in TWO aggregation passes and nothing
    driver-side.

    Pass 1 fuses every row-level aggregate into one map-combinable
    agg (count/sum/min/max over token and char counts). Pass 2 is the
    distinct normalized-fingerprint count — the one genuinely
    distinct aggregation, shuffled on the fingerprint with map-side
    partial aggregation, reusing :func:`~spark_bestfit_spark.operators
    .dedup._normalized`'s definition so the card's dup_rate matches
    what :func:`exact_dedup` would remove. Mean token length is
    derived from the exact integer sums (bigint / bigint), so every
    column is bit-stable under any partition layout.

    Returns (n_docs, n_empty, total_tokens, total_chars, min_tokens,
    max_tokens, mean_tokens, n_distinct_docs, dup_rate).
    """
    trimmed = F.trim(F.col(text_col))
    base = df.select(
        F.size(words(text_col)).cast("long").alias("_tok"),
        F.length(F.col(text_col)).cast("long").alias("_chr"),
        F.when(F.length(trimmed) == 0, 1).otherwise(0).alias("_empty"),
        F.md5(normalized(text_col)).alias("_fp"),
    )
    row_stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_empty").cast("long").alias("n_empty"),
        F.sum("_tok").cast("long").alias("total_tokens"),
        F.sum("_chr").cast("long").alias("total_chars"),
        F.min("_tok").cast("long").alias("min_tokens"),
        F.max("_tok").cast("long").alias("max_tokens"),
    )
    distinct = base.select("_fp").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_docs")
    )
    return row_stats.crossJoin(distinct).select(
        "n_docs",
        "n_empty",
        "total_tokens",
        "total_chars",
        "min_tokens",
        "max_tokens",
        F.round(
            F.col("total_tokens") / F.col("n_docs"), 6
        ).alias("mean_tokens"),
        "n_distinct_docs",
        F.round(
            F.lit(1.0) - F.col("n_distinct_docs") / F.col("n_docs"), 6
        ).alias("dup_rate"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot-to-snapshot corpus DIFF — the ops-side answer to
    "what actually changed between last week's delivery and this
    one?": per document id, whether it was ``added``, ``removed``,
    ``changed`` (same id, different normalized content) or
    ``unchanged``, with both content fingerprints. Content identity
    is the whitespace-normalized md5 (the exact-dedup convention), so
    the diff is insensitive to formatting-only churn and
    value-replicable in any engine.

    One fingerprint scan per snapshot and ONE full-outer join on the
    id — no text ever crosses the exchange (32-byte fingerprints
    only), so the diff costs the same as the exact-dedup tier at any
    corpus size.

    Returns ``(id_col, status, old_fp, new_fp)``.
    """
    o = old.select(
        F.col(id_col), F.md5(normalized(text_col)).alias("old_fp")
    )
    n = new.select(
        F.col(id_col), F.md5(normalized(text_col)).alias("new_fp")
    )
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(id_col, status.alias("status"), "old_fp", "new_fp")
