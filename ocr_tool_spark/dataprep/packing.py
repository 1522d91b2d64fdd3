"""Training-shard assignment (sequence packing) and stratified
sampling — the last-mile ops between a curated corpus and a training
run (SURVEY.md §2.K18/K19).

Both are pure native Spark SQL expressions with exact ANSI-SQL oracle
mirrors in plans/driver_queries.py, and both are designed around the
100 TB constraint that a GLOBAL window (one ORDER BY over the whole
corpus) is a single-task bottleneck:

- `pack_shards` needs a global running token total, which it computes
  as a DISTRIBUTED PREFIX SUM: docs are hash-bucketed (md5-hex prefix
  — deterministic and cross-engine, like the A6 hash-tier), the
  running sum is a per-bucket window (parallel across buckets), and
  the tiny per-bucket totals table (≤ 16^hex_len rows) is offset-
  cumsummed and broadcast back. The result is bit-identical to the
  single global window `SUM() OVER (ORDER BY bucket, doc_id)` the
  oracle runs — asserted by the driver gate — at 1/B-th the
  single-task state.
- `stratified_sample` is one scan, no shuffle: the keep decision is a
  deterministic md5 hash band per stratum, so two engines (and two
  runs) agree row-for-row — `.sample()` has no cross-engine oracle,
  hash tiers do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_tool_spark.dataprep.dedup import normalize_text


def pack_shards(
    docs: DataFrame,
    budget: int = 2048,
    bucket_hex_len: int = 2,
) -> DataFrame:
    """Assign every doc a training shard id so each shard holds ~`budget`
    whitespace tokens (the K10 `ws_tokens` measure).

    Packing rule: docs are laid out in the deterministic global order
    (bucket, doc_id) and `shard_id = exclusive_prefix_tokens DIV
    budget` — the parallel formulation of greedy packing (a shard may
    overrun by at most one doc, the standard trade for not serializing
    the scan). The exclusive prefix is computed two-level:

      1. within-bucket running sum — `Window.partitionBy(bucket)`,
         parallel across 16^hex_len buckets;
      2. bucket base offsets — an aggregate of ≤ 16^hex_len rows,
         cumsummed on the driver-sized frame and broadcast back.

    At 10^12 docs each bucket window holds ~n/256 rows and the offsets
    frame is 256 rows — no global sort, no single-partition stage.
    """
    sid = F.col("doc_id").cast("string")
    base = docs.select(
        "doc_id",
        F.substring(F.md5(sid), 1, bucket_hex_len).alias("bucket"),
        F.size(F.split(normalize_text(F.col("text")), " "))
        .cast("long")
        .alias("n_tokens"),
        # explicit null-key filter: the bucket join below would inject
        # isnotnull(bucket) anyway (bucket is null only for null
        # doc_id, which no join variant keeps) — making it explicit
        # here keeps BOTH exchange subtrees canonically identical so
        # ReusedExchange fires (see `totals` below)
    ).filter(F.col("bucket").isNotNull())
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = base.withColumn(
        "_pre", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0).cast("long"))
    )
    # bucket totals come FROM the windowed frame (last row per bucket
    # has _pre + n_tokens = bucket total), not from `base`: deriving
    # them from base gave the scan+tokenize subtree two consumers with
    # two DIFFERENT exchanges, executing the corpus's most expensive
    # pass twice per action (ADVICE r4). Off the windowed frame both
    # consumers sit above the SAME hash-partition exchange, which Spark
    # dedups via ReusedExchange — one scan, one shuffle.
    totals = within.groupBy("bucket").agg(
        F.max(F.col("_pre") + F.col("n_tokens")).alias("_tot")
    )
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("_tot").over(w_b), F.lit(0).cast("long")).alias("_off"),
    )
    return within.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "bucket",
        "n_tokens",
        F.expr("(_off + _pre) DIV %d" % int(budget)).alias("shard_id"),
        (F.col("_off") + F.col("_pre")).alias("shard_offset_tokens"),
    )


# hex digits of md5(doc_id) that stratified_sample bands on
_SAMPLE_HEX = 4


def stratified_sample(
    docs: DataFrame, rates: dict[str, float], default_rate: float = 0.0
) -> DataFrame:
    """Deterministic per-language downsampling: keep a doc iff the first
    4 hex digits of md5(doc_id) fall inside its `lang` stratum's hash
    band (`rates` maps lang → rate; other langs get `default_rate`).

    band(rate) = the first round(rate * 16^4) hex strings — so the
    realized rate quantizes to 1/16^4 (1.5e-5) and the SAME doc set is
    kept by any engine, any run, any partitioning: reproducible corpus
    mixes are the point. One scan, no shuffle, no RNG state.
    """
    space = 16**_SAMPLE_HEX

    def cut_hex(rate: float) -> str:
        n_keep = int(round(rate * space))
        if n_keep >= space:  # keep-all: 'g' sorts above every hex string
            return "g"
        return format(n_keep, "x").rjust(_SAMPLE_HEX, "0")

    band = F.substring(F.md5(F.col("doc_id").cast("string")), 1, _SAMPLE_HEX)
    cut = F.lit(cut_hex(default_rate))
    for stratum, rate in sorted(rates.items()):
        cut = F.when(F.col("lang") == stratum, F.lit(cut_hex(rate))).otherwise(cut)
    return docs.filter(band < cut).select("doc_id", "lang")
