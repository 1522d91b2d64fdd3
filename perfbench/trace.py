"""The traced run: per-layer metrics, apart from the timed runs.

Layers are measured from outside the engine, at the boundaries of this
repository's modules:

- in-process calls on the workload's own inputs, one function at a
  time (``functions.html.dom_blocks``; ``functions.ocr.segment_page``,
  ``order_blocks`` and ``read_block``), as plain functions outside Spark;
- Spark's own event log for the traced reps of the workload's action:
  Python worker time and bytes per UDF (``plans.pipeline``), the
  reassembly stages (``operators.spans``), and scheduler totals
  (``session``);
- spans recorded around calls into ``plans.runner`` and
  ``storage.adapter`` (mixed_commit) and into each ``dataprep`` stage
  run on its own (curate_dup).

The whole run has the event log on; ``trace.docs_per_s`` is the
traced reps' median, so the tracing overhead is its gap to
``docs_per_s`` of an untraced run on the same seed. (Restarting the
SparkContext in-process to compare both in one run is not an option:
module-level pandas UDFs keep the Java UDF of the first context, whose
accumulator server is gone.) Metrics of a layer the workload does not
use read 0.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from contextlib import contextmanager

import numpy as np

import refspec
from ocr_tool_spark.constants import KIND_MEDIA, KIND_TEXT
from ocr_tool_spark.functions import html, ocr

from perfbench import eventlog
from perfbench.run import CORES, build_spark, set_up, timed_reps

REP_TAG = "perfbench:rep"
HTML_SAMPLE = 200  # text spans timed in-process
OCR_SAMPLE = 16  # pages timed in-process


class Tracer:
    """Spans kept in memory: (name, start, end, parent index)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p)

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e, _ in self.spans if n == name)


@contextmanager
def _patched(obj, attr: str, make):
    orig = getattr(obj, attr)
    setattr(obj, attr, make(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def _spanned(tracer: Tracer, name: str, spark):
    """Wrap a callable in a span and tag the Spark jobs it launches."""

    def make(fn):
        def wrapper(*a, **k):
            sc = spark.sparkContext
            with tracer.span(name):
                sc.setJobDescription(f"{REP_TAG}:{name}")
                try:
                    return fn(*a, **k)
                finally:
                    sc.setJobDescription(REP_TAG)

        return wrapper

    return make


# ------------------------------------------------------------ in-process


def html_layer(corpus, seed: int) -> dict:
    texts = [s["text"] for d in corpus.docs if isinstance(d.get("spans"), list)
             for s in d["spans"] if s["kind"] == KIND_TEXT]
    out = {"html.dom_blocks_ms_per_span": 0.0, "html.blocks_per_span": 0.0,
           "html.kept_block_frac": 0.0,
           "html.bytes_in": float(sum(len(t.encode()) for t in texts))}
    if not texts:
        return out
    sample = random.Random(f"html/{seed}").sample(texts, min(HTML_SAMPLE, len(texts)))
    t0 = time.perf_counter()
    blocks = [html.dom_blocks(t) for t in sample]
    out["html.dom_blocks_ms_per_span"] = (time.perf_counter() - t0) * 1000 / len(sample)
    n_blocks = sum(len(b) for b in blocks)
    out["html.blocks_per_span"] = n_blocks / len(sample)
    kept = sum(sum(refspec.keep_flags(b)) for b in blocks)
    out["html.kept_block_frac"] = kept / n_blocks if n_blocks else 0.0
    return out


def _referenced_pages(corpus) -> tuple[list[dict], int]:
    """-> (distinct referenced payloads, pages summed over media spans)."""
    store = {m["media_ref"]: m for m in corpus.media}
    refs = [s["media_ref"] for d in corpus.docs if isinstance(d.get("spans"), list)
            for s in d["spans"] if s["kind"] == KIND_MEDIA]
    distinct = [store[r] for r in sorted(set(refs))]
    return distinct, sum(store[r]["n_pages"] for r in refs)


def ocr_layer(corpus, seed: int) -> dict:
    out = {k: 0.0 for k in ("ocr.segment_page_ms_per_page", "ocr.order_blocks_ms_per_page",
                            "ocr.read_block_ms_per_page", "ocr.leaves_per_page")}
    payloads, _ = _referenced_pages(corpus)
    random.Random(f"ocr/{seed}").shuffle(payloads)
    pages = []
    for m in payloads:
        stack = np.frombuffer(m["bitmap"], dtype=np.uint8).reshape(
            m["n_pages"], m["height"], m["width"])
        pages.extend(stack)
        if len(pages) >= OCR_SAMPLE:
            break
    pages = pages[:OCR_SAMPLE]
    if not pages:
        return out
    seg = order = read = 0.0
    leaves = 0
    for page in pages:
        t0 = time.perf_counter()
        found = ocr.segment_page(page)
        t1 = time.perf_counter()
        ordered = ocr.order_blocks(found)
        t2 = time.perf_counter()
        for b in ordered:
            ocr.read_block(page, b)
        t3 = time.perf_counter()
        seg, order, read = seg + t1 - t0, order + t2 - t1, read + t3 - t2
        leaves += len(found)
    n = len(pages)
    out.update({"ocr.segment_page_ms_per_page": seg * 1000 / n,
                "ocr.order_blocks_ms_per_page": order * 1000 / n,
                "ocr.read_block_ms_per_page": read * 1000 / n,
                "ocr.leaves_per_page": leaves / n})
    return out


# ------------------------------------------------------------- dataprep


DATAPREP_KEYS = ("dedup.lsh_pairs_s", "dedup.candidate_pairs", "dedup.keep_list_s",
                 "dedup.drop_frac", "decontam.s", "decontam.drop_frac", "packing.s",
                 "packing.shards")


def dataprep_layers(wl, tracer: Tracer) -> dict:
    """Each curation stage run and materialized on its own."""
    from pyspark.sql import functions as F

    from ocr_tool_spark.dataprep import release_intermediates
    from ocr_tool_spark.dataprep.decontam import contamination
    from ocr_tool_spark.dataprep.dedup import dedup_keep_list, minhash_lsh_pairs
    from ocr_tool_spark.dataprep.packing import pack_shards

    sc = wl.spark.sparkContext
    n_docs = wl.corpus.n_docs
    sc.setJobDescription("perfbench:dataprep")
    with tracer.span("dedup.lsh_pairs"):
        pairs = minhash_lsh_pairs(wl.docs, threshold=0.6)
        pairs.collect()
    cand = pairs._ocr_persisted[0]  # noqa: SLF001 — the persisted candidate frame
    n_cand = len(cand.collect())
    with tracer.span("dedup.keep_list"):
        keep = dedup_keep_list(wl.docs, pairs)
        dropped = [r.doc_id for r in keep.filter(F.col("keep") == 0).select("doc_id").collect()]
    drops = wl.spark.createDataFrame([(d,) for d in dropped], "doc_id long")
    deduped = wl.docs.join(drops, "doc_id", "left_anti")
    with tracer.span("decontam"):
        hits = contamination(deduped, wl.evals).filter(F.col("contaminated") == 1)
        n_contam = len(hits.select("doc_id").collect())
    clean = deduped.join(hits.select("doc_id"), "doc_id", "left_anti")
    with tracer.span("packing"):
        shards = {r.shard_id for r in pack_shards(clean).select("shard_id").collect()}
    release_intermediates(keep)
    sc.setJobDescription(None)
    return {
        "dedup.lsh_pairs_s": tracer.total("dedup.lsh_pairs"),
        "dedup.candidate_pairs": float(n_cand),
        "dedup.keep_list_s": tracer.total("dedup.keep_list"),
        "dedup.drop_frac": len(dropped) / n_docs,
        "decontam.s": tracer.total("decontam"),
        "decontam.drop_frac": n_contam / max(1, n_docs - len(dropped)),
        "packing.s": tracer.total("packing"),
        "packing.shards": float(len(shards)),
    }


# ------------------------------------------------------------ event log


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def spark_layers(log: eventlog.EventLog, n_reps: int, wall_s: float,
                 media_pages: int) -> dict:
    stages = log.select(REP_TAG)
    per = 1.0 / n_reps

    def udf(name):
        return lambda n: n.name == "ArrowEvalPython" and name in n.desc

    text_t, _ = log.node_metric(udf("dom_blocks_udf"), "time to run Python workers")
    ocr_t, _ = log.node_metric(udf("ocr_media_udf"), "time to run Python workers")
    any_udf = lambda n: n.name == "ArrowEvalPython"  # noqa: E731
    sent, _ = log.node_metric(any_udf, "data sent to Python workers")
    back, _ = log.node_metric(any_udf, "data returned from Python workers")
    ocr_rows, _ = log.node_metric(udf("ocr_media_udf"), "number of output rows")
    text_ms = log.accum_total(text_t, stages)
    ocr_ms = log.accum_total(ocr_t, stages)
    udf_stages = log.stages_with(text_t | ocr_t, stages)
    udf_run_ms = sum(s.run_ms for s in udf_stages)
    ocr_pages = log.accum_total(ocr_rows, stages) * per

    def reassembly(n):
        return ("Aggregate" in n.name and "collect_list(" in n.desc
                and "partial_collect_list" not in n.desc and "page_idx" not in n.desc)

    re_ids = {a for n in log.nodes if reassembly(n) for a, _ in n.metrics.values()}
    re_stages = log.stages_with(re_ids, stages)
    biggest = max(re_stages, key=lambda s: s.run_ms, default=None)
    return {
        "pipeline.text_udf_python_s": text_ms / 1000 * per,
        "pipeline.ocr_udf_python_s": ocr_ms / 1000 * per,
        "pipeline.python_bytes_sent": log.accum_total(sent, stages) * per,
        "pipeline.python_bytes_returned": log.accum_total(back, stages) * per,
        "pipeline.python_wait_frac": (text_ms + ocr_ms) / udf_run_ms if udf_run_ms else 0.0,
        "pipeline.ocr_calls_per_media_span": ocr_pages / media_pages if media_pages else 0.0,
        "ocr.pages": ocr_pages,
        "spans.reassemble_s": sum(s.run_ms for s in re_stages) / 1000 * per,
        "spans.shuffle_bytes": sum(s.shuffle_read_bytes for s in re_stages) * per,
        "spans.task_skew": biggest.task_skew if biggest else 0.0,
        "spark.task_util": eventlog.task_util(stages, CORES, wall_s),
        "spark.jobs": len({j for j, d in log.jobs.items() if d.startswith(REP_TAG)}) * per,
        "spark.stages": len(stages) * per,
        "spark.tasks": sum(s.tasks for s in stages) * per,
        "spark.failed_tasks": float(sum(s.failed_tasks for s in stages)),
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1000 * per,
        "spark.spill_bytes": sum(s.spill_bytes for s in stages) * per,
        # for the coverage rows: task time by layer, and when any task ran
        "_text_s": text_ms / 1000 * per,
        "_ocr_s": ocr_ms / 1000 * per,
        "_task_s": sum(s.run_ms for s in stages) / 1000 * per,
        "_busy_s": _union_s(iv for s in stages for iv in s.task_spans) * per,
    }


# ----------------------------------------------------------------- run


RUNNER_KEYS = ("runner.stage_input_s", "runner.fingerprint_s",
               "runner.committed_partitions_s", "runner.jobs_per_batch", "adapter.append_s",
               "adapter.manifest_bytes", "adapter.data_bytes", "adapter.write_amp")


def _runner_spans(tracer: Tracer, spark):
    """Patch the runner/adapter entry points for the traced reps."""
    from contextlib import ExitStack

    from ocr_tool_spark.plans import runner as runner_mod
    from ocr_tool_spark.storage.adapter import SnapshotTable

    stack = ExitStack()
    for obj, attr, name in (
        (runner_mod.PipelineRunner, "stage_input", "runner.stage_input"),
        (runner_mod.PipelineRunner, "committed_partitions", "runner.committed_partitions"),
        (runner_mod, "input_fingerprint", "runner.fingerprint"),
        (SnapshotTable, "append", "adapter.append"),
    ):
        stack.enter_context(_patched(obj, attr, _spanned(tracer, name, spark)))
    return stack


def traced(workload_cls, seed: int, seconds: float, work: str) -> dict:
    from perfbench.workloads import CheckFailed

    log_dir = os.path.join(work, "eventlog")
    try:
        wl, spark, parts = set_up(workload_cls, seed, work, event_log=log_dir)
    except CheckFailed as e:
        print(f"warm-up output failed its check: {e}", file=sys.stderr)
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    tracer = Tracer()
    layers: dict = {}
    try:
        spark.sparkContext.setJobDescription(REP_TAG)
        t0 = time.perf_counter()
        if workload_cls.name == "mixed_commit":
            with _runner_spans(tracer, spark):
                reps, _, peak, failed = timed_reps(wl, work, seconds, min_reps=1)
        else:
            reps, _, peak, failed = timed_reps(wl, work, seconds, min_reps=1)
        traced_wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        if workload_cls.name == "curate_dup":
            layers.update(dataprep_layers(wl, tracer))
    finally:
        spark.stop()
    attempted = 1 + len(reps) + failed
    if not reps:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    corpus = wl.corpus

    n = len(reps)
    _, media_pages = _referenced_pages(corpus)
    layers.update(html_layer(corpus, seed))
    layers.update(ocr_layer(corpus, seed))
    layers.update(spark_layers(eventlog.parse(log_dir), n, traced_wall, media_pages))
    if workload_cls.name != "curate_dup":
        layers.update({k: 0.0 for k in DATAPREP_KEYS})
    runner = {k: 0.0 for k in RUNNER_KEYS}
    if workload_cls.name == "mixed_commit":
        n_batches = sum(len(r.batch_s) for r in reps)
        runner.update({
            "runner.stage_input_s": tracer.total("runner.stage_input") / n,
            "runner.fingerprint_s": tracer.total("runner.fingerprint") / n,
            "runner.committed_partitions_s": tracer.total("runner.committed_partitions") / n,
            "runner.jobs_per_batch": layers["spark.jobs"] * n / n_batches,
            "adapter.append_s": tracer.total("adapter.append") / n,
            "adapter.manifest_bytes": statistics.mean(r.bytes["manifest"] for r in reps),
            "adapter.data_bytes": statistics.mean(r.bytes["data"] for r in reps),
            "adapter.write_amp": statistics.median(r.write_amp for r in reps),
        })
    layers.update(runner)
    layers["session.build_s"] = parts["session_s"]
    layers["peak_rss_mb"] = peak / 2**20

    traced_dps = statistics.median(r.docs / r.wall_s for r in reps)
    wall = traced_wall / n
    # coverage: wall = driver-only time + time some task ran; the Spark
    # rows are task time spread over the cores
    other = max(0.0, layers["_task_s"] - layers["_text_s"] - layers["_ocr_s"]
                - layers["spans.reassemble_s"])
    rows = {
        "html (text UDF)": layers["_text_s"] / CORES,
        "ocr (OCR UDF)": layers["_ocr_s"] / CORES,
        "spans (reassembly)": layers["spans.reassemble_s"] / CORES,
        "other Spark tasks": other / CORES,
        "driver only": max(0.0, wall - layers["_busy_s"]),
    }
    layer_s = sum(rows.values())
    layers.update({
        "trace.docs_per_s": traced_dps,
        "trace.wall_s": wall,
        "trace.layer_s": layer_s,
        "trace.coverage": layer_s / wall,
    })
    name = workload_cls.name
    for row, v in rows.items():
        print(f"{name:13s} layer {row:22s} {v:10.4f} s/rep", file=sys.stderr)
    print(f"{name:13s} layer sum {layer_s:.4f} s vs wall {wall:.4f} s per rep; "
          f"docs/s traced {traced_dps:.2f}", file=sys.stderr)
    metrics = {k: v for k, v in layers.items() if not k.startswith("_")}
    for k, v in sorted(metrics.items()):
        print(f"{name:13s} {k:34s} {v:16.4f} {UNITS[k]}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in metrics.items()},
    }


UNITS = {
    "html.dom_blocks_ms_per_span": "ms", "html.blocks_per_span": "count",
    "html.kept_block_frac": "ratio", "html.bytes_in": "bytes",
    "ocr.segment_page_ms_per_page": "ms", "ocr.order_blocks_ms_per_page": "ms",
    "ocr.read_block_ms_per_page": "ms", "ocr.pages": "count", "ocr.leaves_per_page": "count",
    "pipeline.text_udf_python_s": "s", "pipeline.ocr_udf_python_s": "s",
    "pipeline.python_bytes_sent": "bytes", "pipeline.python_bytes_returned": "bytes",
    "pipeline.python_wait_frac": "ratio", "pipeline.ocr_calls_per_media_span": "ratio",
    "spans.reassemble_s": "s", "spans.shuffle_bytes": "bytes", "spans.task_skew": "ratio",
    "spark.task_util": "ratio", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count", "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "runner.stage_input_s": "s", "runner.fingerprint_s": "s",
    "runner.committed_partitions_s": "s", "runner.jobs_per_batch": "count",
    "adapter.append_s": "s", "adapter.manifest_bytes": "bytes", "adapter.data_bytes": "bytes",
    "adapter.write_amp": "ratio",
    "dedup.lsh_pairs_s": "s", "dedup.candidate_pairs": "count", "dedup.keep_list_s": "s",
    "dedup.drop_frac": "ratio", "decontam.s": "s", "decontam.drop_frac": "ratio",
    "packing.s": "s", "packing.shards": "count",
    "session.build_s": "s", "peak_rss_mb": "MB",
    "trace.docs_per_s": "docs/s", "trace.wall_s": "s",
    "trace.layer_s": "s", "trace.coverage": "ratio",
}
