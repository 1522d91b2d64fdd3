"""End-to-end golden-fixture tests (SURVEY.md §5.2-5.5): the full Spark
pipeline vs the reference spec, exact span-sequence equality on
(kind, text, media_ref, order) per doc_id — the BASELINE.json:2 hard
gate (pass rate = 100%) plus the metamorphic properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import refspec
from ocr_tool_spark import fixtures
from ocr_tool_spark.operators.equality import mismatches, pass_rate
from ocr_tool_spark.operators.spans import explode_spans, reassemble
from ocr_tool_spark.plans.pipeline import extract_documents
from ocr_tool_spark.sources.tables import docs_df, media_df

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus():
    docs, media = fixtures.gen_corpus(N_DOCS, seed=42)
    store = {m["media_ref"]: m for m in media}
    expected = [refspec.extract_document(d, store) for d in docs]
    return docs, media, expected


def test_full_corpus_span_equality(spark, corpus):
    docs, media, expected = corpus
    out = extract_documents(docs_df(spark, docs), media_df(spark, media))
    exp = docs_df(spark, expected)
    rate = pass_rate(exp, out)
    if rate != 1.0:
        for row in mismatches(exp, out, 3):
            print("MISMATCH", row["doc_id"])
            print("  expected:", row["spans_e"][:3] if row["spans_e"] else None)
            print("  actual  :", row["spans_a"][:3] if row["spans_a"] else None)
    assert rate == 1.0


def test_salted_run_equals_unsalted(spark, corpus):
    docs, media, expected = corpus
    d, m = docs_df(spark, docs), media_df(spark, media)
    plain = extract_documents(d, m)
    salted = extract_documents(d, m, salt=8)
    assert pass_rate(plain, salted) == 1.0


def test_reassemble_explode_roundtrip(spark, corpus):
    docs, _, _ = corpus
    d = docs_df(spark, docs)
    rebuilt = reassemble(explode_spans(d))
    assert pass_rate(d, rebuilt) == 1.0


def test_text_only_docs_unaffected_by_missing_media_store(spark, corpus):
    docs, media, expected = corpus
    text_only = [d for d in docs if all(s["kind"] == "text" for s in d["spans"])]
    exp = [e for e in expected if e["doc_id"] in {d["doc_id"] for d in text_only}]
    assert text_only
    out = extract_documents(docs_df(spark, text_only), media_store=None)
    assert pass_rate(docs_df(spark, exp), out) == 1.0


def test_doc_order_permutation_invariance(spark, corpus):
    docs, media, _ = corpus
    d, m = docs_df(spark, docs), media_df(spark, media)
    fwd = extract_documents(d, m)
    rev = extract_documents(docs_df(spark, list(reversed(docs))), m)
    assert pass_rate(fwd, rev) == 1.0


def test_zero_page_media_degrades_to_empty_text(spark):
    """A media row with n_pages=0 must yield an empty-text span (like
    read_media("") in the spec), not crash the per-page explode."""
    docs = [{
        "doc_id": "z0",
        "spans": [
            {"kind": "media", "text": None, "media_ref": "img:zero", "offset": 0},
        ],
    }]
    media = [{
        "media_ref": "img:zero", "media_kind": "image",
        "width": 4, "height": 4, "n_pages": 0, "bitmap": b"",
    }]
    out = extract_documents(docs_df(spark, docs), media_df(spark, media)).collect()
    assert len(out) == 1
    span = out[0].spans[0]
    assert (span.kind, span.text, span.media_ref, span.offset) == (
        "media", "", "img:zero", 0
    )


def _fan_out_store(spark, tmp_path):
    """Media store on parquet (so the page count's scan schema is
    visible): 2-, 3- and 40-page payloads, a 0-page one, and a
    payload no doc references."""
    pages = {"m2": 2, "m3": 3, "m40": 40, "m0": 0, "unref": 7}
    media = [
        {"media_ref": ref, "media_kind": "image", "width": 4, "height": 4,
         "n_pages": n, "bitmap": bytes(16 * n)}
        for ref, n in pages.items()
    ]
    path = str(tmp_path / "media")
    media_df(spark, media).write.parquet(path)
    return spark.read.parquet(path)


def _media_spans(spark, refs):
    from ocr_tool_spark.operators.spans import route

    docs = [{"doc_id": f"d{i}", "spans": [
        {"kind": "media", "text": None, "media_ref": r, "offset": 0},
        {"kind": "media", "text": None, "media_ref": refs[0], "offset": 1},
    ]} for i, r in enumerate(refs)]
    return route(explode_spans(docs_df(spark, docs)))[1]


def _ocr_repartitions(frame):
    import re

    plan = frame._jdf.queryExecution().optimizedPlan().toString()
    return [int(p) for p in re.findall(r"Repartition (\d+), true", plan)]


@pytest.mark.parametrize("refs,pages", [
    (["m2", "m3", "m0"], 5),     # a handful of pages: one task each
    (["m2", "m3", "m40"], 45),   # more pages than 8*cores: capped
    (["m0", "missing"], 0),      # nothing qualifies: floor of 1
])
def test_ocr_fan_out_follows_referenced_pages(spark, tmp_path, refs, pages):
    """With size_by_pages the OCR stage's round-robin repartition is
    sized min(8*defaultParallelism, referenced pages), floor 1: each
    Python-worker task costs a fixed ~0.1-0.3 s even when empty."""
    from ocr_tool_spark.plans.pipeline import ocr_referenced_media

    store = _fan_out_store(spark, tmp_path)
    ocr_res = ocr_referenced_media(_media_spans(spark, refs), store, size_by_pages=True)
    cap = 8 * spark.sparkContext.defaultParallelism
    assert _ocr_repartitions(ocr_res) == [max(1, min(cap, pages))]


def test_default_plan_runs_no_job_and_keeps_8x_fan_out(spark, tmp_path):
    """Without size_by_pages building the plan is lazy — no page count
    job — and the OCR fan-out stays 8*defaultParallelism."""
    from ocr_tool_spark.plans.pipeline import ocr_referenced_media

    store = _fan_out_store(spark, tmp_path)
    spans = _media_spans(spark, ["m2", "m3"])
    sc = spark.sparkContext
    sc.setJobGroup("ocr-plan-build", "building the default OCR plan")
    try:
        ocr_res = ocr_referenced_media(spans, store)
        built = sc.statusTracker().getJobIdsForGroup("ocr-plan-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert built == []
    assert _ocr_repartitions(ocr_res) == [8 * sc.defaultParallelism]


def test_ocr_page_count_never_reads_the_payload(spark, tmp_path):
    """The page count that sizes the OCR fan-out is metadata-only on
    the media store: its scan reads media_ref and n_pages, never
    bitmap."""
    from ocr_tool_spark.plans.pipeline import ocr_fan_out, referenced_media

    store = _fan_out_store(spark, tmp_path)
    live = referenced_media(_media_spans(spark, ["m2", "m3"]), store)
    assert ocr_fan_out(live) == 5
    count = live.agg(F.sum("n_pages"))
    plan = count._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 1
    assert "ReadSchema: struct<media_ref:string,n_pages:int>" in scans[0]
    assert "bitmap" not in scans[0]
