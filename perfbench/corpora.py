"""Seeded, content-keyed workload corpora, written with pyarrow.

Every corpus is a pure function of (workload, size, seed) and of the
generator sources (``ocr_tool_spark/fixtures.py``,
``ocr_tool_spark/functions/glyphs.py`` and this file). The key folds
all of them in, so a changed generator can never be served a corpus
written by the old one: its directory name changes with it.

Parquet is written with pyarrow directly, never through
``spark.createDataFrame``; the program only ever sees the files.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_tool_spark import fixtures
from ocr_tool_spark.constants import KIND_MEDIA, KIND_TEXT

GENERATOR_SOURCES = (
    "ocr_tool_spark/fixtures.py",
    "ocr_tool_spark/functions/glyphs.py",
)

_SPAN_T = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN_T))])
MEDIA_SCHEMA = pa.schema(
    [
        ("media_ref", pa.string()),
        ("media_kind", pa.string()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("n_pages", pa.int32()),
        ("bitmap", pa.binary()),
    ]
)
TEXT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


@dataclass
class Corpus:
    """Paths of one generated corpus plus what the checks need."""

    key: str
    dir: str
    docs_path: str
    n_docs: int
    media_path: str | None = None
    eval_path: str | None = None
    # in-memory copies for the reference checks and traced layer calls
    docs: list = field(default_factory=list)
    media: list = field(default_factory=list)
    # curate_dup: the doc ids the eval set quotes
    contaminated: set = field(default_factory=set)

    def digest(self) -> str:
        """sha256 over the bytes of every parquet file written."""
        h = hashlib.sha256()
        for p in (self.docs_path, self.media_path, self.eval_path):
            if p is not None:
                with open(p, "rb") as f:
                    h.update(f.read())
        return h.hexdigest()


def corpus_key(workload: str, size: int, seed: int, root: str) -> str:
    h = hashlib.sha256(f"{workload}|{size}|{seed}".encode())
    for rel in (*GENERATOR_SOURCES, os.path.relpath(__file__, root)):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _write(path: str, rows: list[dict], schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _rng(workload: str, seed: int, i: int) -> random.Random:
    # str seeds hash through sha512: stable across processes and runs
    return random.Random(f"{workload}/{seed}/{i}")


def _text_span(rng: random.Random, off: int) -> dict:
    return {"kind": KIND_TEXT, "text": fixtures.gen_html(rng, heavy=True),
            "media_ref": None, "offset": off}


def _media_span(ref: str, off: int) -> dict:
    return {"kind": KIND_MEDIA, "text": None, "media_ref": ref, "offset": off}


def gen_text_heavy(n_docs: int, seed: int) -> tuple[list, list]:
    """Heavy HTML docs, 1-3 text spans each, no media."""
    docs = []
    for i in range(n_docs):
        rng = _rng("text_heavy", seed, i)
        spans = [_text_span(rng, off) for off in range(rng.randint(1, 3))]
        docs.append({"doc_id": f"doc-{i:06d}", "spans": spans})
    return docs, []


def gen_media_unique(n_docs: int, seed: int) -> tuple[list, list]:
    """Media-dominant docs where every media span has its own payload;
    the first ~1% of docs carry 14-24 media spans (the skew tail)."""
    n_skew = max(1, n_docs // 100)
    layouts = []
    for i in range(n_docs):
        rng = _rng("media_unique", seed, i)
        if i < n_skew:
            slots = [KIND_MEDIA] * rng.randint(14, 24) + [KIND_TEXT] * rng.randint(1, 3)
        else:
            slots = [KIND_MEDIA] * rng.randint(1, 3) + [KIND_TEXT] * rng.randint(0, 1)
        rng.shuffle(slots)
        layouts.append((rng, slots))
    n_media = sum(s.count(KIND_MEDIA) for _, s in layouts)
    media = fixtures.gen_media_store(n_media, seed=seed, heavy=True)
    refs = iter(m["media_ref"] for m in media)
    docs = []
    for i, (rng, slots) in enumerate(layouts):
        spans = [
            _media_span(next(refs), off) if kind == KIND_MEDIA else _text_span(rng, off)
            for off, kind in enumerate(slots)
        ]
        docs.append({"doc_id": f"doc-{i:06d}", "spans": spans})
    return docs, media


def gen_mixed(n_docs: int, seed: int) -> tuple[list, list]:
    """The realistic mixed corpus: ~one shared payload per 20 docs."""
    return fixtures.gen_corpus(n_docs, n_media=max(2, n_docs // 20), seed=seed, heavy=True)


# curate_dup: planted near-duplicate families and eval overlap
FAMILY_EVERY = 7  # every 7th base doc gets 3 near-copies: ~30% dup drops
FAMILY_COPIES = 3
COPY_ID_STRIDE = 10_000_000
EVAL_ID_BASE = 900_000_000
WORDS_PER_DOC = 120
EDITS_PER_COPY = 2  # copy-vs-source shingle Jaccard >= ~0.9
CONTAM_FRAC = 0.03  # share of non-family base docs quoted by the eval set


def is_family_member(doc_id: int) -> bool:
    return (doc_id % COPY_ID_STRIDE) % FAMILY_EVERY == 0


def gen_curate(n_base: int, seed: int) -> tuple[list, list, set]:
    """-> (docs, eval_docs, ids of the docs the eval set quotes).

    Unrelated docs draw 120 tokens from a 4k vocabulary, so no two of
    them come near the 0.6 Jaccard threshold or share an 8-gram; each
    copy edits 2 tokens of its source, far above the threshold. Only
    family members can pair, and the quoted docs are the only ones the
    eval set contaminates."""
    rng = np.random.default_rng([seed, 0xC0DE])
    vocab = np.array([f"w{i:04d}" for i in range(4000)])
    toks = vocab[rng.integers(0, len(vocab), size=(n_base, WORDS_PER_DOC))]
    docs, plain = [], []
    for i, row in enumerate(toks):
        docs.append({"doc_id": i, "text": " ".join(row)})
        if is_family_member(i):
            for k in range(1, FAMILY_COPIES + 1):
                edited = row.copy()
                pos = rng.choice(WORDS_PER_DOC, size=EDITS_PER_COPY, replace=False)
                edited[pos] = vocab[rng.integers(0, len(vocab), size=EDITS_PER_COPY)]
                docs.append({"doc_id": i + k * COPY_ID_STRIDE, "text": " ".join(edited)})
        else:
            plain.append(i)
    n_contam = max(1, int(len(plain) * CONTAM_FRAC))
    quoted = rng.choice(plain, size=n_contam, replace=False)
    quoted = sorted(int(q) for q in quoted)
    evals = []
    for j, i in enumerate(quoted):
        start = int(rng.integers(0, WORDS_PER_DOC - 30))
        evals.append({"doc_id": EVAL_ID_BASE + j, "text": " ".join(toks[i][start : start + 30])})
    # as many eval passages again that quote nothing in the corpus
    unrelated = vocab[rng.integers(0, len(vocab), size=(n_contam, 30))]
    for j, row in enumerate(unrelated, start=n_contam):
        evals.append({"doc_id": EVAL_ID_BASE + j, "text": "zz " + " ".join(row)})
    return docs, evals, set(quoted)


def generate(workload: str, size: int, seed: int, root: str, base_dir: str) -> Corpus:
    key = corpus_key(workload, size, seed, root)
    cdir = os.path.join(base_dir, f"{workload}-{key}")
    os.makedirs(cdir, exist_ok=True)
    docs_path = os.path.join(cdir, "docs.parquet")
    if workload == "curate_dup":
        docs, evals, quoted = gen_curate(size, seed)
        eval_path = os.path.join(cdir, "eval.parquet")
        _write(docs_path, docs, TEXT_SCHEMA)
        _write(eval_path, evals, TEXT_SCHEMA)
        return Corpus(key, cdir, docs_path, len(docs), eval_path=eval_path,
                      docs=docs, contaminated=quoted)
    gen = {"text_heavy": gen_text_heavy, "media_unique": gen_media_unique,
           "mixed_commit": gen_mixed}[workload]
    docs, media = gen(size, seed)
    _write(docs_path, docs, DOC_SCHEMA)
    media_path = None
    if media:
        media_path = os.path.join(cdir, "media.parquet")
        _write(media_path, media, MEDIA_SCHEMA)
    return Corpus(key, cdir, docs_path, len(docs), media_path=media_path,
                  docs=docs, media=media)
