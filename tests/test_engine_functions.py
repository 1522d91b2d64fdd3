"""Differential tests: batched engine functions vs the per-document
reference spec, at the pure-Python level (no Spark session needed —
fast feedback; the Spark-level equality test lives in
test_pipeline_e2e.py)."""

from __future__ import annotations

import random

import numpy as np

import refspec
from ocr_tool_spark import fixtures
from ocr_tool_spark.functions import html as ehtml
from ocr_tool_spark.functions import ocr as eocr
from ocr_tool_spark.functions.glyphs import render_block, render_figure, render_page


def test_tokenizer_agrees_on_corpus():
    rng = random.Random(7)
    for _ in range(300):
        doc = fixtures.gen_html(rng)
        ours = ehtml.dom_blocks(doc)
        ref = refspec.tokenize_blocks(doc)
        assert ours == ref, doc[:400]


def test_tokenizer_agrees_on_adversarial_cases():
    cases = [
        "",
        "plain text no tags at all but long enough to matter",
        "<p>a < b</p>",
        "<p>unclosed paragraph runs off the end",
        "<P CLASS='x'>UPPERCASE TAGS</P>",
        "<p>brs<br>split<br/>here</p>",
        "<nav><nav><p>double nested nav</p></nav></nav><p>after content long enough here</p>",
        "</footer></nav><p>stray closers before content long enough</p>",
        "<script>while(1){if(a<b)x();}</script><p>post script content long enough</p>",
        "<style>p { content: '<p>' }</style><p>post style content long enough</p>",
        "<!-- <p>commented out</p> --><p>real content long enough to keep</p>",
        "<!-- unclosed comment <p>gone</p>",
        "<script>unclosed script <p>gone</p>",
        "<p>&amp;&lt;&gt;&quot;&apos;&nbsp;&#65;&#x41;&bogus;&;</p>",
        "<p>ends with entity &amp;</p>",
        "<div><table><tr><td>cell one content long enough</td><td>two</td></tr></table></div>",
        "<a href='x'>link<b>bold in link</b></a><p>tail text long enough to keep</p>",
        "<p>" + "z" * 5000 + "</p>",
        "<img src='x'><p>after img long enough content here</p>",
    ]
    for doc in cases:
        assert ehtml.dom_blocks(doc) == refspec.tokenize_blocks(doc), doc[:120]


def test_ocr_engine_agrees_on_media_store():
    """Every page of every payload: the page is the engine's OCR unit
    (multi-page assembly is the pipeline's SQL, checked end to end by
    test_full_corpus_span_equality)."""
    media = fixtures.gen_media_store(60, seed=42)
    for m in media:
        pages = np.frombuffer(m["bitmap"], dtype=np.uint8).reshape(
            m["n_pages"], m["height"], m["width"]
        )
        for p, page in enumerate(pages):
            assert eocr.read_page(page) == refspec.ocr_page(page), (m["media_ref"], p)


def test_ocr_engine_agrees_on_constructed_pages():
    pages = [
        render_page([[render_block(["HELLO WORLD"])]]),
        render_page([[render_block(["AB-12.3,X 9"])]]),
        render_page(
            [
                [render_block(["ONE", "TWO"]), render_figure(16, 30)],
                [render_block(["THREE FOUR", "FIVE"])],
                [render_block(["SIX"])],
            ]
        ),
        np.zeros((50, 50), dtype=np.uint8),
        render_page([[render_figure(20, 40)]]),
    ]
    for page in pages:
        assert eocr.read_page(page) == refspec.ocr_page(page)


def test_segmentation_primitives_agree():
    media = fixtures.gen_media_store(20, seed=1)
    for m in media:
        pages = np.frombuffer(m["bitmap"], dtype=np.uint8).reshape(
            m["n_pages"], m["height"], m["width"]
        )
        for p in range(m["n_pages"]):
            eng = eocr.order_blocks(eocr.segment_page(pages[p]))
            ref = refspec.reading_order(refspec.xycut(pages[p]))
            assert eng == [tuple(b) for b in ref]

def test_collapse_matches_regex_spec():
    """The r4 fast `_collapse` (memchr replaces + split/join) must stay
    bit-equal to the regex it replaced — including \x1c-\x1f (str
    whitespace but NOT in the [ \t\n\r\f\v] class) and Unicode
    whitespace, which BOTH versions leave untouched."""
    import re

    spec = re.compile(r"[ \t\n\r\f\v]+")

    def collapse_spec(s: str) -> str:
        return spec.sub(" ", s).strip(" ")

    rng = random.Random(13)
    alpha = " \t\n\r\f\v\x1c\x1d\x1e\x1f\xa0 　ab&<>é"
    for _ in range(20000):
        s = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 14)))
        assert ehtml._collapse(s) == collapse_spec(s), repr(s)


def test_runs_matches_naive_scan():
    """Unstacked `_runs` edge detection vs a naive Python scan."""

    def runs_naive(mask):
        out, start = [], None
        for i, v in enumerate(mask):
            if v and start is None:
                start = i
            elif not v and start is not None:
                out.append((start, i))
                start = None
        if start is not None:
            out.append((start, len(mask)))
        return out

    rng = random.Random(5)
    for _ in range(500):
        mask = np.array(
            [rng.random() < 0.4 for _ in range(rng.randrange(0, 40))], dtype=bool
        )
        s, e = eocr._runs(mask)
        assert list(zip(s.tolist(), e.tolist())) == runs_naive(mask.tolist())
