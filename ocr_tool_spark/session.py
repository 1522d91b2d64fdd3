"""SparkSession factory with the engine's tuned configuration profile.

Local mode stands in for a multi-executor cluster (SURVEY.md §0.2); the
same configs apply unchanged on a real cluster via spark-submit --conf.
Scale rationale (SURVEY.md §4):
- AQE on with skew-join splitting and partition coalescing: runtime
  re-planning replaces hand-tuned shuffle partition counts at 100 TB;
- advisory partition size 64 MB keeps post-shuffle partitions
  executor-memory-friendly;
- Arrow batch size capped so binary bitmap columns don't blow up the
  Python-worker transfer (SURVEY.md §7 hard-part #5);
- generated-code cache sized to hold every plan the engine repeats.
  Spark caches compiled whole-stage classes in an LRU keyed by their
  source, 100 entries by default. One ``curate_corpus`` action has
  ~150 classes, so at 100 entries it recompiled ~148 of them on every
  action (and the JIT compiled each fresh class again); a runner batch
  has ~70-90 and fits either way; the whole Tier-1 test session, one
  session, has 1,004 (mean 2.7 KB of bytecode each). 2,000 entries
  hold all of them with room to spare: a repeated curation action now
  compiles 0-2 (scripts/codegen_census.py). Class names leave out the
  codegen stage id, so a subtree AQE numbers differently on another
  run reuses its class. ``maxEntries`` is static: it takes effect only
  in a session this factory starts; a session that already exists
  (getOrCreate) keeps Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "ocr-tool-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # split sizing: Python-UDF stages cost ~100x the scan per byte,
        # so scan partitions must outnumber cores even for GB-scale
        # inputs — 8 MB splits give a 250 MB corpus ~32 tasks. On a
        # 1000-executor cluster against 100 TB, raise to 128m+ (see
        # docs/cluster_profile.md); partition counts are plentiful there.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # row cap sized for the binary bitmap column: realistic scanned
        # pages are ~0.5 MB, so 256 rows ≈ 128 MB per Arrow batch per
        # Python worker (×32 workers ≈ 4 GB peak on a 128 GB box); the
        # default 10k rows would be ~5 GB per worker. Text-only batches
        # just get more (cheap) batches.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # let AQE re-coalesce the output partitioning of CACHED plans:
        # the LSH dedup paths persist candidate-sized frames, and with
        # the default (false) every persist materializes at the full
        # shuffle-partition count — measured 64-128 near-empty tasks
        # per stage at sf0.1, ~0.5 s of pure scheduling per query. At
        # cluster scale AQE sizes those stages by bytes either way.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # static: sized to hold every plan the engine repeats (see the
        # module docstring); only a session this call starts gets it
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
