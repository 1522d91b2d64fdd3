"""Span-level restructuring operators (SURVEY.md §2 B3-B5, C3/J3).

explode -> route -> (branch transforms) -> union -> reassemble is the
skeleton of the extraction plan. Reassembly is the only shuffle on the
text branch; the salted variant splits the collect_list of media-heavy
skew documents (top 1% of docs hold ~30% of media spans, FIXTURES.md)
into a two-phase aggregation, because AQE skew handling covers joins
but NOT grouped aggregation (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_tool_spark.constants import KIND_MEDIA, KIND_TEXT


def explode_spans(docs: DataFrame) -> DataFrame:
    """doc table -> one row per span: (doc_id, kind, text, media_ref, offset)."""
    return docs.select("doc_id", F.explode("spans").alias("span")).select(
        "doc_id", "span.*"
    )


def route(spans: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the exploded span stream into (text_spans, media_spans)."""
    return (
        spans.filter(F.col("kind") == KIND_TEXT),
        spans.filter(F.col("kind") == KIND_MEDIA),
    )


def _ordered_span(s: Column) -> Column:
    """Restore canonical field order (kind, text, media_ref, offset)
    after the offset-first sort struct."""
    return F.struct(
        s["kind"].alias("kind"),
        s["text"].alias("text"),
        s["media_ref"].alias("media_ref"),
        s["offset"].alias("offset"),
    )


def _sort_struct() -> Column:
    # offset leads so array_sort orders by it (unique within a doc)
    return F.struct(
        F.col("offset").alias("offset"),
        F.col("kind").alias("kind"),
        F.col("text").alias("text"),
        F.col("media_ref").alias("media_ref"),
    )


def reassemble(spans: DataFrame, salt: int | None = None) -> DataFrame:
    """(doc_id, kind, text, media_ref, offset) rows -> (doc_id, spans)
    with the array sorted by offset.

    salt=None: single hash aggregate (one shuffle; map-side partial
    collect_list applies). salt=S: two-phase — partial collect_list
    keyed by (doc_id, offset % S) so a 10^5-span skew document spreads
    over S reducers, then a final flatten+sort per doc whose input is
    at most S pre-combined rows per doc.
    """
    if salt is None:
        agg = spans.groupBy("doc_id").agg(
            F.array_sort(F.collect_list(_sort_struct())).alias("_s")
        )
    else:
        partial = spans.groupBy(
            "doc_id", F.pmod(F.col("offset"), F.lit(salt)).alias("_salt")
        ).agg(F.collect_list(_sort_struct()).alias("_p"))
        agg = partial.groupBy("doc_id").agg(
            F.array_sort(F.flatten(F.collect_list("_p"))).alias("_s")
        )
    return agg.select(
        "doc_id", F.transform("_s", _ordered_span).alias("spans")
    )
