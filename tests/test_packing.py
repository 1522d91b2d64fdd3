"""K18 sequence packing + K19 stratified sampling (dataprep/packing.py).

Two gates per operator: an independent plain-Python/pandas replay
(exact equality), and the structural property the operator exists for —
pack_shards' two-level distributed prefix sum must equal the
single-global-window formulation bit-for-bit, and shard token totals
must stay within one doc of the budget; stratified_sample must be a
pure function of doc_id (partitioning- and run-independent).
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_tool_spark.dataprep.dedup import normalize_text
from ocr_tool_spark.dataprep.packing import pack_shards, stratified_sample

BUDGET = 512  # small budget -> many shard boundaries at sf0.01


def _docs_pd(sf_dir_mid: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(sf_dir_mid, "documents.parquet"))


def _replay(docs: pd.DataFrame, budget: int) -> pd.DataFrame:
    """Plain-pandas replay: ONE global exclusive cumsum in
    (bucket, doc_id) order — the formulation that is a single-task
    bottleneck on a cluster, which the engine must match exactly."""
    import re

    def n_tokens(t: str) -> int:
        return len(re.sub(r"\s+", " ", (t or "").lower()).strip().split(" "))

    out = pd.DataFrame(
        {
            "doc_id": docs["doc_id"],
            "bucket": [
                hashlib.md5(str(i).encode()).hexdigest()[:2] for i in docs["doc_id"]
            ],
            "n_tokens": [n_tokens(t) for t in docs["text"]],
        }
    ).sort_values(["bucket", "doc_id"], kind="mergesort")
    pre = out["n_tokens"].cumsum().shift(fill_value=0)
    out["shard_id"] = pre // budget
    out["shard_offset_tokens"] = pre
    return out.reset_index(drop=True)


@pytest.fixture(scope="module")
def packed(spark, sf_dir_mid):
    docs = spark.read.parquet(os.path.join(sf_dir_mid, "documents.parquet"))
    return pack_shards(docs, budget=BUDGET).toPandas()


def test_pack_shards_matches_pandas_replay(packed, sf_dir_mid):
    got = packed.sort_values(["bucket", "doc_id"], kind="mergesort").reset_index(
        drop=True
    )
    want = _replay(_docs_pd(sf_dir_mid), BUDGET)
    pd.testing.assert_frame_equal(
        got[["doc_id", "bucket", "n_tokens", "shard_id", "shard_offset_tokens"]]
        .astype("int64", errors="ignore"),
        want.astype("int64", errors="ignore"),
        check_dtype=False,
    )


def test_pack_shards_equals_global_window(spark, sf_dir_mid):
    """The distributed two-level prefix sum is bit-identical to the
    textbook single global window (which Spark executes as ONE task)."""
    docs = spark.read.parquet(os.path.join(sf_dir_mid, "documents.parquet"))
    w = Window.orderBy("bucket", "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sid = F.col("doc_id").cast("string")
    ref = (
        docs.select(
            "doc_id",
            F.substring(F.md5(sid), 1, 2).alias("bucket"),
            F.size(F.split(normalize_text(F.col("text")), " "))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn(
            "shard_offset_tokens",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")),
        )
        .withColumn("shard_id", F.expr(f"shard_offset_tokens DIV {BUDGET}"))
        .toPandas()
        .sort_values("doc_id", kind="mergesort")
        .reset_index(drop=True)
    )
    got = (
        pack_shards(
            spark.read.parquet(os.path.join(sf_dir_mid, "documents.parquet")),
            budget=BUDGET,
        )
        .toPandas()
        .sort_values("doc_id", kind="mergesort")
        .reset_index(drop=True)
    )
    cols = ["doc_id", "bucket", "n_tokens", "shard_id", "shard_offset_tokens"]
    pd.testing.assert_frame_equal(got[cols], ref[cols], check_dtype=False)


def test_pack_shards_budget_property(packed):
    """Every shard holds within one document of the budget: total in
    (budget - max_doc, budget + max_doc) for all but the last shard —
    the standard greedy-packing guarantee."""
    per = packed.groupby("shard_id")["n_tokens"].sum().sort_index()
    assert len(per) >= 3, "budget too large for the corpus to exercise packing"
    max_doc = int(packed["n_tokens"].max())
    body = per.iloc[:-1]
    assert (body > BUDGET - max_doc).all()
    assert (body < BUDGET + max_doc).all()
    # shards are dense 0..n-1 and every doc is assigned exactly once
    assert list(per.index) == list(range(len(per)))


def test_stratified_sample_matches_hash_replay(spark, sf_dir_mid):
    rates = {"en": 0.5, "zh": 0.25, "de": 1.0}
    got = (
        stratified_sample(
            spark.read.parquet(os.path.join(sf_dir_mid, "documents.parquet")),
            rates=rates,
            default_rate=1.0 / 16,
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = _docs_pd(sf_dir_mid)
    space = 16**4

    def cut(rate: float) -> str:
        n = int(round(rate * space))
        return "g" if n >= space else format(n, "x").rjust(4, "0")

    keep = docs[
        [
            hashlib.md5(str(i).encode()).hexdigest()[:4]
            < cut(rates.get(lang, 1.0 / 16))
            for i, lang in zip(docs["doc_id"], docs["lang"])
        ]
    ]
    want = (
        keep[["doc_id", "lang"]].sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # the keep-all stratum survives complete
    assert (got["lang"] == "de").sum() == (docs["lang"] == "de").sum()


def test_stratified_sample_default_rate_zero(spark, sf_dir_mid):
    docs = spark.read.parquet(os.path.join(sf_dir_mid, "documents.parquet"))
    got = stratified_sample(
        docs, rates={"en": 1.0}, default_rate=0.0
    ).toPandas()
    assert set(got["lang"]) == {"en"}
    n_en = docs.filter(F.col("lang") == "en").count()
    assert len(got) == n_en
