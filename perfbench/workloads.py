"""The four benchmark workloads: inputs, the timed action and its check.

Each workload turns a generated corpus into DataFrames (``load``), runs
one untimed warm-up pass whose output is checked against a reference
(``warm``), then repeats its timed action (``rep``). A rep returns the
docs it processed, its batch wall times and, for the one workload that
writes, its write amplification; a rep whose output is wrong raises
``CheckFailed``.

- text_heavy / media_unique: ``extract_documents`` into a noop sink;
  the warm-up writes parquet and a seeded sample of docs must equal
  ``tests/refspec.extract_document`` exactly on (kind, text, media_ref,
  offset).
- mixed_commit: ``PipelineRunner`` cut after half its batches, then
  resumed, in a fresh work dir each rep; the resumed output must be
  row-for-row identical to the warm-up's uninterrupted run, whose own
  sample is checked against refspec.
- curate_dup: ``curate_corpus`` into a noop sink; the warm-up's
  survivor set must equal the corpus minus the eval-quoted docs minus
  the near-dup drops that ``tests/refspec_dataprep`` finds among the
  planted families (MinHash-LSH recall is below 1 by design, so a
  planted copy may legitimately survive).
"""

from __future__ import annotations

import os
import random
import time
from urllib.parse import urlparse

import pyarrow.parquet as pq

import refspec
import refspec_dataprep
from ocr_tool_spark.dataprep import release_intermediates
from ocr_tool_spark.dataprep.curate import curate_corpus
from ocr_tool_spark.plans.pipeline import extract_documents
from ocr_tool_spark.plans.runner import PipelineRunner

from perfbench import corpora


class CheckFailed(Exception):
    pass


class Rep:
    def __init__(self, docs: int, wall_s: float, batch_s: list, write_amp: float = 0.0,
                 bytes_by_kind: dict | None = None):
        self.docs = docs
        self.wall_s = wall_s
        self.batch_s = batch_s
        self.write_amp = write_amp
        self.bytes = bytes_by_kind or {}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _norm_spans(spans: list) -> list:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def check_extraction(rows: list[dict], corpus: corpora.Corpus, seed: int, sample: int) -> None:
    """Every input doc comes out once; a seeded sample equals refspec."""
    got = {r["doc_id"]: r["spans"] for r in rows}
    if len(got) != len(rows) or set(got) != {d["doc_id"] for d in corpus.docs}:
        raise CheckFailed(f"output doc ids differ from input ({len(rows)} rows)")
    store = {m["media_ref"]: m for m in corpus.media}
    picks = random.Random(f"check/{seed}").sample(corpus.docs, min(sample, len(corpus.docs)))
    for doc in picks:
        want = refspec.extract_document(doc, store)["spans"]
        if _norm_spans(got[doc["doc_id"]]) != _norm_spans(want):
            raise CheckFailed(f"{doc['doc_id']}: spans differ from refspec")


class Workload:
    name = ""
    size = 0  # corpus size parameter (docs, or base docs for curate_dup)
    check_sample = 0
    min_reps = 3  # timed reps run even when --seconds is already spent
    warm_reps = 1  # untimed reps after the checked warm-up pass

    def load(self, spark, corpus: corpora.Corpus, seed: int) -> None:
        self.spark, self.corpus, self.seed = spark, corpus, seed
        self.docs = spark.read.parquet(corpus.docs_path)
        self.media = spark.read.parquet(corpus.media_path) if corpus.media_path else None

    def warm(self, work_dir: str) -> None:
        raise NotImplementedError

    def rep(self, work_dir: str) -> Rep:
        raise NotImplementedError


class Extract(Workload):
    salt: int | None = None

    def plan(self):
        return extract_documents(self.docs, self.media, salt=self.salt)

    def warm(self, work_dir: str) -> None:
        out = os.path.join(work_dir, "warm-output")
        self.plan().write.mode("overwrite").parquet(out)
        check_extraction(pq.read_table(out).to_pylist(), self.corpus, self.seed, self.check_sample)

    def rep(self, work_dir: str) -> Rep:
        t0 = time.perf_counter()
        self.plan().write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        return Rep(self.corpus.n_docs, wall, [wall])


class TextHeavy(Extract):
    name = "text_heavy"
    size = 800
    warm_reps = 3
    check_sample = 60


class MediaUnique(Extract):
    name = "media_unique"
    size = 24
    salt = 8
    check_sample = 3


def _output_files(runner: PipelineRunner) -> list[str]:
    df = runner.read_output()
    return sorted(urlparse(f).path for f in df.inputFiles()) if df is not None else []


def _committed_rows(runner: PipelineRunner) -> list[dict]:
    files = _output_files(runner)
    rows = pq.read_table(files).to_pylist() if files else []
    return sorted(rows, key=lambda r: r["doc_id"])


class MixedCommit(Workload):
    name = "mixed_commit"
    size = 60
    n_partitions = 2
    batch_partitions = 1
    check_sample = 6
    min_reps = 1
    warm_reps = 1  # the first runner pass is ~1.5x slower than later ones

    def runner(self, work_dir: str) -> PipelineRunner:
        return PipelineRunner(self.spark, work_dir, n_partitions=self.n_partitions,
                              batch_partitions=self.batch_partitions)

    def warm(self, work_dir: str) -> None:
        # the uninterrupted reference is the one-shot plan over the
        # whole corpus: a resumed run must reproduce it row for row
        out = os.path.join(work_dir, "warm-output")
        extract_documents(self.docs, self.media).write.mode("overwrite").parquet(out)
        self.reference = sorted(pq.read_table(out).to_pylist(), key=lambda r: r["doc_id"])
        check_extraction(self.reference, self.corpus, self.seed, self.check_sample)

    def _timed_call(self, runner: PipelineRunner, batch_s: list, **kw) -> None:
        """runner.run with a mark after the pending-partition lookup
        and after each batch's lineage append: the gaps between marks
        are the batch wall times (stage read -> extract -> append ->
        lineage)."""
        marks: list[float] = []
        committed, lineage_append = runner.committed_partitions, runner.lineage.append

        def committed_marked(run_id):
            out = committed(run_id)
            marks.append(time.perf_counter())
            return out

        def lineage_marked(df, batch_id):
            out = lineage_append(df, batch_id)
            marks.append(time.perf_counter())
            return out

        runner.committed_partitions = committed_marked
        runner.lineage.append = lineage_marked
        runner.run(self.docs, self.media, **kw)
        batch_s.extend(b - a for a, b in zip(marks, marks[1:]))

    def rep(self, work_dir: str) -> Rep:
        n_batches = -(-self.n_partitions // self.batch_partitions)
        batch_s: list[float] = []
        t0 = time.perf_counter()
        # first call is cut after half the batches, the second resumes
        self._timed_call(self.runner(work_dir), batch_s, max_batches=n_batches // 2)
        resumed = self.runner(work_dir)
        self._timed_call(resumed, batch_s)
        wall = time.perf_counter() - t0
        if len(batch_s) != n_batches:
            raise CheckFailed(f"{len(batch_s)} batches committed, expected {n_batches}")
        if _committed_rows(resumed) != self.reference:
            raise CheckFailed("resumed output differs from the uninterrupted run")
        written = {
            kind: sum(dir_bytes(os.path.join(work_dir, t, kind)) for t in ("output", "lineage"))
            for kind in ("manifests", "data")
        }
        amp = dir_bytes(work_dir) / sum(os.path.getsize(f) for f in _output_files(resumed))
        return Rep(self.corpus.n_docs, wall, batch_s, amp,
                   {"manifest": written["manifests"], "data": written["data"]})


CURATE_THRESHOLD = 0.6  # curate_corpus's default near-dup Jaccard


class CurateDup(Workload):
    name = "curate_dup"
    size = 700
    min_reps = 2
    warm_reps = 2

    def load(self, spark, corpus, seed) -> None:
        super().load(spark, corpus, seed)
        self.evals = spark.read.parquet(corpus.eval_path)

    def expected_survivors(self) -> set:
        # unrelated docs never pair, so replaying LSH over the planted
        # families alone gives the corpus-wide keep-list
        family = [(d["doc_id"], d["text"]) for d in self.corpus.docs
                  if corpora.is_family_member(d["doc_id"])]
        pairs = refspec_dataprep.minhash_pairs(family, threshold=CURATE_THRESHOLD)
        comps = refspec_dataprep.pair_components([(a, b) for a, b, _ in pairs])
        dup_drops = {d for d, c in comps if d != c}
        return {d["doc_id"] for d in self.corpus.docs} - dup_drops - self.corpus.contaminated

    def warm(self, work_dir: str) -> None:
        out = curate_corpus(self.docs, self.evals, threshold=CURATE_THRESHOLD)
        rows = out.collect()
        release_intermediates(out)
        got = [r["doc_id"] for r in rows]
        want = self.expected_survivors()
        if len(got) != len(set(got)) or set(got) != want:
            raise CheckFailed(f"{len(got)} survivors, expected {len(want)}")
        if any(r["n_tokens"] != corpora.WORDS_PER_DOC for r in rows):
            raise CheckFailed("packed token counts differ from the corpus")

    def rep(self, work_dir: str) -> Rep:
        t0 = time.perf_counter()
        out = curate_corpus(self.docs, self.evals, threshold=CURATE_THRESHOLD)
        out.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        release_intermediates(out)
        return Rep(self.corpus.n_docs, wall, [wall])


WORKLOADS = {w.name: w for w in (TextHeavy, MediaUnique, MixedCommit, CurateDup)}
