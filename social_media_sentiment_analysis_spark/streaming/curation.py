"""Streaming curation: the training-data pipeline (filter → content dedup →
chunk) on a document STREAM. The gate (``operators/dedup.py::
curation_gate``) and the chunker (``functions/text.py::token_chunks``) are
the functions the batch ``curation_pipeline`` query composes, so batch and
streaming curation cannot drift; only the dedup differs.

The cross-batch guarantee is the interesting part: dedup keys on the
content fingerprint (md5 of cleaned text), so a document re-ingested in a
later micro-batch — same text, different doc_id — is dropped as long as
its event time is within the watermark. State is one tiny row per distinct
fingerprint seen inside the watermark horizon, NOT per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import clean_text, token_chunks
from ..operators.dedup import CHUNK_TOKENS, curation_gate


def curate_doc_stream(docs: DataFrame, *, ts_col: str = "ts",
                      lang: str = "en",
                      watermark: str = "1 hour") -> DataFrame:
    """documents stream (doc_id, text, lang, source, ts) → curated chunk
    stream (doc_id, source, chunk_id, chunk_tokens, chunk_fp).

    Stages: language + length gates (map-side) → watermarked
    dropDuplicates on content fingerprint (cross-batch exact dedup) →
    50-token sequence chunking (map-side posexplode)."""
    gated = curation_gate(
        docs.withColumn("cleaned_text", clean_text(F.col("text"))), lang)
    # WithinWatermark variant: keyed on content_fp alone, plain
    # dropDuplicates would never evict state (eviction requires the
    # event-time column in the key list); this dedups on the fingerprint
    # while aging entries out past the watermark.
    deduped = (
        gated.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_fp"])
    )
    chunks = token_chunks(F.col("toks"), CHUNK_TOKENS)
    return (
        deduped.select(
            "doc_id", "source",
            F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id", "source", "chunk_id",
            F.size("chunk").cast("long").alias("chunk_tokens"),
            F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_fp"),
        )
    )
