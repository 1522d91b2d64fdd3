"""The flagship extraction plan (BASELINE.json:6; SURVEY.md §3.1).

    explode -> route
      text branch : dom_blocks_udf (one Python stage) -> native HOF
                    densitometry scoring + assembly
      media branch: distinct media_ref join into media_store ->
                    fused XY-cut + reading-order + template-OCR UDF
                    (one Python stage, one OCR per *distinct* ref) ->
                    joined back to spans
    -> unionByName -> (optionally salted) reassembly by (doc_id, offset)

Scale shape: the text branch has exactly one shuffle (reassembly); the
media branch adds the ref-dedup exchange + the results join. The
results join always broadcasts the OCR side (a broadcast hint, so the
size threshold does not apply): one narrow row per distinct referenced
media — text and timing, no bitmaps — which the runner bounds further
to one partition batch. OCR-per-distinct-ref trades one
extra exchange for never OCR-ing a shared scan twice — at mostly-unique
media it costs ~nothing (the exchange carries refs, not bitmaps).

Verified with the event-log profile (scripts/scaling_bench.py): the
two dominant stages — text scan→explode→DOM-UDF→partial-agg and
ref-join→page-explode→OCR-UDF→page-regroup — each run at 0.85-0.98
task-parallel utilization at 32 cores; the plan has no serial hot
spot. Known, accepted cost: the docs table is scanned three times
(text branch, media branch, distinct-ref derivation — the last is
column-pruned to `spans` only). Fusing them needs a cache/checkpoint
barrier whose write cost exceeds a pruned columnar re-scan at every
scale we measured; the resumable runner persists the exploded frame
instead, which serves the same purpose per partition batch. Building
the plan runs no Spark job: the OCR fan-out is sized from a page count
the caller passes in (the runner counts once per run), never from an
action on the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_tool_spark.constants import KIND_MEDIA, KIND_TEXT, OCR_PAGE_JOIN
from ocr_tool_spark.functions.html import with_main_text
from ocr_tool_spark.functions.ocr import ocr_media_udf
from ocr_tool_spark.operators.spans import explode_spans, reassemble, route


def referenced_media(refs: DataFrame, media_store: DataFrame) -> DataFrame:
    """-> the media_store rows the OCR stage sees, one per distinct row
    of ``refs`` (media_ref plus any key the caller keeps, such as the
    runner's partition_id) whose media holds at least one page.
    n_pages <= 0 (empty/malformed media) must degrade to "" via the
    results' left join — without the filter, sequence(0, -1) yields a
    descending [0,-1] and the UDF reshape crashes the job."""
    return media_store.join(refs.distinct(), "media_ref").filter(F.col("n_pages") > 0)


def ocr_fan_out(parallelism: int, ocr_pages: int | None) -> int:
    """OCR-stage partition count: one per referenced page, at most 8 per
    core, at least 1; 8 per core when the page count is not known.

    Every Python-worker task costs ~0.1-0.3 s on a 4-vCPU host even
    when its partition is empty, so a small runner batch (3 pages)
    would pay for a fixed 8*cores (32-task) fan-out many times over."""
    cap = 8 * parallelism
    return cap if ocr_pages is None else max(1, min(cap, ocr_pages))


def ocr_referenced_media(
    media_spans: DataFrame, media_store: DataFrame, ocr_pages: int | None = None
) -> DataFrame:
    """-> (media_ref, text, ocr_ms): one OCR invocation per distinct
    referenced media payload.

    Multi-page payloads are exploded into one row per page BEFORE the
    Python stage (JVM-side binary slicing), so the OCR work unit is a
    page, not a whole PDF: a 5-page scan no longer holds a task slot
    5x longer than its peers (the straggler tail of the OCR stage is
    the dominant skew at scale). Page texts are re-joined per payload
    by a small-text shuffle; ocr_ms is the summed page cost so lineage
    percentiles keep meaning.

    The page frame is round-robined to ``ocr_fan_out`` partitions:
    ``ocr_pages`` is the referenced page count when the caller knows it
    (None: 8*cores).
    """
    live = referenced_media(media_spans.select("media_ref"), media_store)
    res = F.col("_ocr")
    pages = live.select(
        "media_ref",
        "width",
        "height",
        F.posexplode(
            F.expr(
                "transform(sequence(0, n_pages - 1), "
                "p -> substring(bitmap, p * height * width + 1, height * width))"
            )
        ).alias("page_idx", "page"),
    )
    # OCR-stage task granularity: AQE coalesces the upstream ref join
    # output by BYTE size, but OCR cost-per-byte is ~1000x the rest of
    # the plan, so byte-balanced partitions under-parallelize the most
    # expensive stage (measured: 11 coalesced tasks on 8 cores with a
    # 38 s straggler -> stage util 0.77). Round-robin the exploded
    # pages to an explicit count instead. 8*cores is the right count
    # once pages outnumber it, as they do at scale; below that every
    # empty Python task still costs ~0.1-0.3 s, so small batches (the
    # runner's) size it by their pages. Do not size it with an
    # .rdd.getNumPartitions() probe: under AQE that materializes the
    # ref join's query stages, bitmaps included, at plan-construction
    # time and the shuffle runs twice (ADVICE r3, medium).
    par = live.sparkSession.sparkContext.defaultParallelism
    pages = pages.repartition(ocr_fan_out(par, ocr_pages))
    per = pages.withColumn(
        "_ocr", ocr_media_udf("page", "width", "height")
    ).select(
        "media_ref",
        "page_idx",
        res["text"].alias("_pt"),
        res["ocr_ms"].alias("_pms"),
    )
    # reassemble pages in order, skipping empty pages: the one place
    # page texts are joined (OCR_PAGE_JOIN)
    return (
        per.groupBy("media_ref")
        .agg(
            F.array_sort(F.collect_list(F.struct("page_idx", "_pt"))).alias("_ps"),
            F.sum("_pms").alias("ocr_ms"),
        )
        .select(
            "media_ref",
            F.array_join(
                F.filter(
                    F.transform("_ps", lambda s: s["_pt"]), lambda t: t != ""
                ),
                OCR_PAGE_JOIN,
            ).alias("text"),
            "ocr_ms",
        )
    )


def extract_spans(
    docs: DataFrame,
    media_store: DataFrame | None = None,
    ocr_pages: int | None = None,
) -> DataFrame:
    """Span-level extraction: one row per span with extracted text.
    Columns: doc_id, kind, text, media_ref, offset, ocr_ms (null on the
    text branch). ``ocr_pages``: see ocr_referenced_media."""
    spans = explode_spans(docs)
    text_spans, media_spans = route(spans)

    text_out = with_main_text(
        text_spans.select("doc_id", "text", "offset"), "text", "_main"
    ).select(
        "doc_id",
        F.lit(KIND_TEXT).alias("kind"),
        F.col("_main").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        "offset",
        F.lit(None).cast("double").alias("ocr_ms"),
    )

    if media_store is None:
        media_out = media_spans.select(
            "doc_id", "kind", "text", "media_ref", "offset",
            F.lit(None).cast("double").alias("ocr_ms"),
        )
    else:
        ocr_res = ocr_referenced_media(media_spans, media_store, ocr_pages)
        media_out = (
            media_spans.select("doc_id", "media_ref", "offset")
            .join(F.broadcast(ocr_res), "media_ref", "left")
            .select(
                "doc_id",
                F.lit(KIND_MEDIA).alias("kind"),
                F.coalesce("text", F.lit("")).alias("text"),
                "media_ref",
                "offset",
                "ocr_ms",
            )
        )
    return text_out.unionByName(media_out)


def extract_documents(
    docs: DataFrame,
    media_store: DataFrame | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Full pipeline: interleaved doc table in, extracted doc table out
    (same (doc_id, spans) shape, spans ordered by offset)."""
    spans = extract_spans(docs, media_store)
    return reassemble(spans.drop("ocr_ms"), salt=salt)
