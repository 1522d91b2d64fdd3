"""End-to-end golden-fixture tests (SURVEY.md §5.2-5.5): the full Spark
pipeline vs the reference spec, exact span-sequence equality on
(kind, text, media_ref, order) per doc_id — the BASELINE.json:2 hard
gate (pass rate = 100%) plus the metamorphic properties."""

from __future__ import annotations

import pytest

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


def _media_docs(spark, refs):
    return docs_df(spark, [{"doc_id": f"d{i}", "spans": [
        {"kind": "media", "text": None, "media_ref": r, "offset": 0},
        {"kind": "media", "text": None, "media_ref": refs[0], "offset": 1},
    ]} for i, r in enumerate(refs)])


def _media_spans(spark, refs):
    from ocr_tool_spark.operators.spans import route

    return route(explode_spans(_media_docs(spark, refs)))[1]


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
    """The runner's page count, passed as ``ocr_pages``, sizes the OCR
    stage's round-robin repartition min(8*defaultParallelism, pages),
    floor 1: each Python-worker task costs a fixed ~0.1-0.3 s even
    when empty."""
    from ocr_tool_spark.plans.pipeline import ocr_referenced_media
    from ocr_tool_spark.plans.runner import referenced_pages

    store = _fan_out_store(spark, tmp_path)
    counted = sum(n for _, n in referenced_pages(_media_docs(spark, refs), store, 1).collect())
    assert counted == pages
    ocr_res = ocr_referenced_media(_media_spans(spark, refs), store, ocr_pages=counted)
    cap = 8 * spark.sparkContext.defaultParallelism
    assert _ocr_repartitions(ocr_res) == [max(1, min(cap, pages))]


def _built_jobs(spark, build):
    """-> (what ``build()`` returned, ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup("ocr-plan-build", "building an extraction plan")
    try:
        built = build()
        return built, sc.statusTracker().getJobIdsForGroup("ocr-plan-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_default_plan_runs_no_job_and_keeps_8x_fan_out(spark, tmp_path):
    """Without a page count building the plan is lazy — no job — and
    the OCR fan-out stays 8*defaultParallelism."""
    from ocr_tool_spark.plans.pipeline import ocr_referenced_media

    store = _fan_out_store(spark, tmp_path)
    spans = _media_spans(spark, ["m2", "m3"])
    ocr_res, jobs = _built_jobs(spark, lambda: ocr_referenced_media(spans, store))
    assert jobs == []
    assert _ocr_repartitions(ocr_res) == [8 * spark.sparkContext.defaultParallelism]


def test_plan_with_a_page_count_runs_no_job(spark, tmp_path):
    """The page count is a plain value: building ``extract_spans`` with
    it runs no job, and the OCR stage gets exactly that many tasks."""
    from ocr_tool_spark.plans.pipeline import extract_spans

    store = _fan_out_store(spark, tmp_path)
    docs = _media_docs(spark, ["m3"])
    spans, jobs = _built_jobs(spark, lambda: extract_spans(docs, store, ocr_pages=3))
    assert jobs == []
    assert _ocr_repartitions(spans) == [3]


def test_ocr_page_count_never_reads_the_payload(spark, tmp_path):
    """The runner's per-run page count is metadata-only on the media
    store: its scan reads media_ref and n_pages, never bitmap."""
    from ocr_tool_spark.plans.runner import PipelineRunner, referenced_pages

    store = _fan_out_store(spark, tmp_path)
    docs = _media_docs(spark, ["m2", "m3", "m0"])
    stage = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=1).stage_input(docs, "r")
    count = referenced_pages(spark.read.parquet(stage), store, n_partitions=1)
    plan = count._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    store_scans = [ln for ln in scans if "n_pages" in ln]
    assert len(scans) == 2 and len(store_scans) == 1
    assert "ReadSchema: struct<media_ref:string,n_pages:int>" in store_scans[0]
    assert not any("bitmap" in ln for ln in scans)
    assert [tuple(r) for r in count.collect()] == [(0, 5)]
