"""Streaming deduplication: drop duplicate documents at ingest time.

``streaming_exact_dedup`` fingerprints each document (md5 of the
normalized text — the same normalization as the batch exact-dedup tier,
so batch and streaming agree on what "duplicate" means) and drops
repeats with Spark's streaming dedup state:

- unbounded mode (no watermark): ``dropDuplicates`` keeps state for
  every fingerprint ever seen — exact global dedup, state grows with
  the number of distinct documents;
- watermarked mode: ``dropDuplicatesWithinWatermark`` bounds state to
  the watermark horizon — the right trade at 100 TB/day ingest, where
  near-in-time duplicates (crawler refetches, retry storms) are the
  bulk of the dupes and state must stay bounded.

The operator is map-only plus the state store; no shuffle beyond the
fingerprint hash partitioning Spark applies to the dedup state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from spark_bestfit_spark.functions.text import normalized

__all__ = [
    "streaming_exact_dedup",
    "streaming_minhash_dedup",
    "fingerprint_column",
]


def fingerprint_column(text_col: str = "text"):
    """md5 of (lowercased, trimmed, whitespace-collapsed) text — matches
    the batch exact-dedup fingerprint (operators/dedup.py)."""
    return F.md5(normalized(text_col))


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str | None = None,
    keep_fingerprint: bool = False,
) -> DataFrame:
    """Drop duplicate-content rows from a streaming DataFrame.

    With ``event_time_col`` + ``watermark`` (e.g. "10 minutes"), uses
    ``dropDuplicatesWithinWatermark`` so the dedup state is bounded by
    the watermark horizon. Without them, performs exact unbounded
    streaming dedup (state grows with distinct fingerprints).
    """
    out = stream.withColumn("_fp", fingerprint_column(text_col))
    if watermark is not None:
        if event_time_col is None:
            raise ValueError(
                "watermarked dedup needs event_time_col for the watermark"
            )
        out = out.withWatermark(event_time_col, watermark)
        out = out.dropDuplicatesWithinWatermark(["_fp"])
    else:
        out = out.dropDuplicates(["_fp"])
    return out if keep_fingerprint else out.drop("_fp")


def streaming_minhash_dedup(
    stream: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_k: int = 3,
    event_time_col: str | None = None,
    watermark: str | None = None,
    keep_signature: bool = False,
) -> DataFrame:
    """Ingest-time NEAR-duplicate dropping: the stream's MinHash
    signature (same JVM higher-order-function kernel as the batch
    tier, ``operators/dedup.minhash_signature_col``) keys the dedup
    state, so a document whose full signature was already seen — a
    near-identical shingle set, not just byte-identical text — is
    dropped at ingest. An exact K-hash signature match means Jaccard
    ~1 (a lower-similarity pair collides with probability J^K), which
    catches the whitespace/case/boilerplate near-dups that dominate
    crawler refetches while never dropping genuinely distinct content
    the way banded LSH could. Pair ``event_time_col`` + ``watermark``
    to bound the state to the horizon
    (``dropDuplicatesWithinWatermark``), exactly as in
    :func:`streaming_exact_dedup`.

    Emits the FIRST arrival per signature with a ``_sig`` string
    column; the signature hashing is SQL-portable (md5-based), so the
    emitted set equals a batch DISTINCT over the same computation —
    oracle-checkable."""
    from spark_bestfit_spark.operators.dedup import minhash_signature_col

    out = stream.withColumn(
        "_sig",
        F.concat_ws(
            "-", minhash_signature_col(text_col, num_hashes, shingle_k)
        ),
    )
    if watermark is not None:
        if event_time_col is None:
            raise ValueError(
                "watermarked dedup needs event_time_col for the watermark"
            )
        out = out.withWatermark(event_time_col, watermark)
        out = out.dropDuplicatesWithinWatermark(["_sig"])
    else:
        out = out.dropDuplicates(["_sig"])
    return out if keep_signature else out.drop("_sig")
