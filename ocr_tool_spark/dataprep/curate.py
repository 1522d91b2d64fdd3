"""End-to-end corpus curation (SURVEY.md §2.K21): the composed
training-data DAG every large pretraining corpus runs before a
tokenizer sees a byte —

    near-dup dedup (MinHash+LSH keep-list)
      → benchmark decontamination (drop docs overlapping the eval set)
        → token-budget shard packing (deterministic global order)

— as ONE Spark plan, so a user gets lineage, AQE, and a single action
instead of three hand-chained jobs.

Composition is by EXCLUSION LIST, not survivor list: each stage
left-anti-joins the corpus against an id frame of its drops (dup
members / contaminated docs), so the corpus is never re-shuffled on
doc_id just to apply a verdict. How the anti-join executes depends on
the measured drop fraction — both regimes are rehearsed
(scripts/dedup_scale_bench.py --mode curate, BENCH/DEDUP_SCALE.md):

- LOW drops (curated-ish corpora, few % dups): the drop frames are
  KB-to-MB-scale, AQE plans both anti-joins as broadcasts, zero added
  corpus movement.
- HIGH drops (raw web crawls, 30-50% near-dup): the dup-drop frame is
  corpus-scale — NOT broadcastable — and AQE correctly demotes that
  anti-join to a shuffle join, which adds one corpus-cardinality
  exchange on doc_id. That is the honest price of applying a
  corpus-scale verdict; the composition (and its exact survivor set)
  is unchanged, verified by rehearsing with the broadcast threshold
  clamped so the demotion actually happens. The drop frames persist
  spill-safe (MEMORY_AND_DISK is the DataFrame default) because their
  LINEAGE — the whole MinHash chain / gram kernel — is what must not
  re-execute per consumer, whatever their size.

The only other corpus-cardinality movements remain the ones the
stages inherently own (LSH band groupBy, the ~1-row/doc decontam
count, the per-bucket packing windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_tool_spark.dataprep import keep_intermediates
from ocr_tool_spark.dataprep.decontam import contamination
from ocr_tool_spark.dataprep.dedup import dedup_keep_list, minhash_lsh_pairs
from ocr_tool_spark.dataprep.packing import pack_shards


def curate_corpus(
    docs: DataFrame,
    eval_docs: DataFrame,
    threshold: float = 0.6,
    n: int = 8,
    budget: int = 2048,
) -> DataFrame:
    """(doc_id, bucket, n_tokens, shard_id, shard_offset_tokens) for
    every doc that survives near-dup dedup AND decontamination, packed
    into ~`budget`-token training shards in the deterministic
    (md5-bucket, doc_id) global order.

    Survivor rule: a doc is dropped iff (a) it is a non-canonical
    member of a near-dup component (keep-list, canonical = min doc_id
    reachable), or (b) any of its distinct word `n`-grams appears in
    `eval_docs`. Shard ids are assigned AFTER both drops, so shards
    are gap-free over the curated corpus."""
    pairs = minhash_lsh_pairs(docs, threshold=threshold)
    keep = dedup_keep_list(docs, pairs)
    # persist both exclusion-id frames: whatever their size, their
    # LINEAGE is the whole MinHash chain / gram kernel — and the
    # corpus frame downstream of each has ≥2 consumers, which would
    # re-execute that lineage per consumer (measured 13 s vs 4 s at
    # sf0.1; the CLAUDE.md multi-consumer rule). The default storage
    # level spills to disk, so corpus-scale drop frames (30-50% dup
    # web crawls — see the module docstring) degrade to disk reads,
    # not OOM
    dup_drops = keep.filter(F.col("keep") == 0).select("doc_id").persist()
    deduped = docs.join(dup_drops, "doc_id", "left_anti")

    contaminated = (
        contamination(deduped, eval_docs, n=n)
        .filter(F.col("contaminated") == 1)
        .select("doc_id")
        .persist()
    )
    clean = deduped.join(contaminated, "doc_id", "left_anti")

    # caller releases via dataprep.release_intermediates (LSH handles
    # plus the two exclusion frames)
    return keep_intermediates(
        pack_shards(clean, budget=budget),
        dup_drops,
        contaminated,
        inherit=(keep,),
    )
