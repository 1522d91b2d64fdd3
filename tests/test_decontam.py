"""K20 benchmark decontamination (dataprep/decontam.py): planted
overlap must be counted exactly (a copied w-word passage shares
w-n+1 n-grams), disjoint and too-short docs must stay clean, and an
empty eval set must flag nothing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_tool_spark.dataprep.decontam import contamination

EVAL_TEXT = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    return _df(
        spark,
        [
            # the eval doc itself: 10 words -> 3 distinct 8-grams, all shared
            (1, EVAL_TEXT),
            # copies the full eval passage inside fresh context: same 3
            # grams shared (plus its own unshared ones)
            (2, "intro words here " + EVAL_TEXT + " closing remarks follow"),
            # shares a 9-word prefix -> exactly 2 of the 3 eval grams
            (3, "alpha bravo charlie delta echo foxtrot golf hotel india DIFFERENT"),
            # disjoint vocabulary
            (4, "kilo lima mike november oscar papa quebec romeo sierra tango"),
            # shorter than n: no grams at all
            (5, "alpha bravo charlie"),
        ],
    )


def test_contamination_counts_planted_overlap(spark, corpus):
    got = {
        r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
        for r in contamination(
            corpus, corpus.filter(F.col("doc_id") == 1), n=8
        ).collect()
    }
    assert got == {1: (3, 1), 2: (3, 1), 3: (2, 1), 4: (0, 0), 5: (0, 0)}


def test_contamination_empty_eval_set(spark, corpus):
    got = contamination(
        corpus, corpus.filter(F.col("doc_id") < 0), n=8
    ).collect()
    assert len(got) == 5
    assert all(r["n_shared_grams"] == 0 and r["contaminated"] == 0 for r in got)


def test_engines_agree_incl_fallback(spark):
    """The arrow kernel must equal the plain-Python spec
    (refspec_dataprep.contamination) row for row — including non-ASCII
    texts (the kernel's Python-string fallback), docs shorter than n
    (even one whose tokens all occur in the eval text), empty docs,
    and within-doc repeated grams (distinct-count semantics)."""
    import refspec_dataprep as spec

    base = "héllo wörld alpha bravo charlie delta echo foxtrot golf"
    rows = [
        (1, base + " hotel india"),
        (2, "prefix " + base + " hotel india suffix " + base + " hotel india"),
        (3, "short doc only"),
        (4, ""),
        (5, "ASCII only aaa bbb ccc ddd eee fff ggg hhh iii jjj"),
        (6, "héllo wörld alpha"),
    ]
    ev_rows = [(9, base + " hotel india")]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(ev_rows, "doc_id long, text string")
    for n in (3, 8):
        got = sorted(
            (r["doc_id"], r["n_shared_grams"], r["contaminated"])
            for r in contamination(corpus, ev, n=n).collect()
        )
        assert got == spec.contamination(rows, ev_rows, n=n), n
        assert got[0][1] > 0  # doc 1 overlaps the eval passage


def test_eval_budget_guard_rejects_corpus_sized_eval(spark, corpus):
    """VERDICT r4 missing #5: an "eval" set whose distinct-gram count
    exceeds the driver budget must get an actionable error BEFORE the
    driver holds more than max_eval_grams+1 hashes — never an OOM. A
    tiny cap makes the 5-doc fixture oversized; the default budget
    accepts the same call unchanged."""
    with pytest.raises(ValueError, match="driver budget"):
        contamination(corpus, corpus, n=2, max_eval_grams=3)
    assert contamination(corpus, corpus, n=2).count() == 5
