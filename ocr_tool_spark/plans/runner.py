"""Resumable partitioned pipeline runner (SURVEY.md §3.1/§3.3, C5/J4/J5, A5).

Execution model, designed for the 10^12-doc table:

1. **Stage**: the input is written once per run, hash-partitioned into
   ``n_partitions`` by ``pmod(xxhash64(doc_id), n)`` and laid out with
   ``partitionBy("partition_id")`` — so every later read of a subset of
   partitions is *directory-pruned* at the scan (no full-table filter).
   On real Iceberg the same role is played by a hidden
   ``bucket(n, doc_id)`` partition spec: the stage step disappears and
   pruning comes from the table layout itself.
2. **Commit loop**: pending partitions (all minus those in the lineage
   table for this run_id — the C5 anti-join, done driver-side on the
   tiny lineage files) are processed in batches, after one pruned pass
   that counts the OCR pages each of them references
   (``referenced_pages``). Each batch is one pass: scan pruned input →
   extract_spans → reassemble → append to the output SnapshotTable →
   append one lineage row per partition. It runs ~12 Spark jobs (AQE
   stages of the output write, the per-partition metrics, the lineage
   write) and each run() adds 5-8 (fingerprint, page count, and the
   stage write on the first call; the pending-partition lookup reads
   the lineage files with pyarrow, no job): 19 per batch over two
   1-batch run() calls, so a small batch costs seconds of fixed
   overhead. Each Python-worker task costs ~0.1-0.3 s on a 4-vCPU host
   even when its partition is empty, so the OCR fan-out is the batch's
   summed page count (pipeline.ocr_fan_out) and the lineage rows enter
   Spark through ``sources.tables.local_frame`` (no Python task).
3. **Crash anywhere**: output appends are idempotent by batch_id
   (SnapshotTable contract), lineage is written after output, so on
   resume a half-committed batch is either skipped (lineage present) or
   re-run with the duplicate output append suppressed. Final output is
   bit-identical to an uninterrupted run (property test §5.5b).

run_id is deterministic from (input path identity, config) unless the
caller supplies one — reproducible resume without wall-clock state in
the data path (J5).
"""

from __future__ import annotations

import hashlib
import os
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_tool_spark.constants import KIND_MEDIA, KIND_TEXT
from ocr_tool_spark.operators.parallelism import input_file_stats
from ocr_tool_spark.plans.pipeline import extract_spans, referenced_media
from ocr_tool_spark.operators.spans import explode_spans, reassemble, route
from ocr_tool_spark.sources.tables import local_frame
from ocr_tool_spark.storage.adapter import SnapshotTable

LINEAGE_SCHEMA = (
    "run_id string, partition_id int, docs long, spans long, "
    "text_spans long, media_spans long, ocr_ms_p50 double, ocr_ms_p95 double, "
    "docs_per_sec double, snapshot_id long, committed_at timestamp"
)


def deterministic_run_id(*parts: str) -> str:
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def input_fingerprint(docs: DataFrame) -> str:
    """Identity of the *input data*, not just the config: schema +
    source files (with size/mtime where locally visible) + a bounded
    content sample (limit-64 head — one single-task job even against a
    10^12-row table, and the only identity available for in-memory
    test inputs, whose RDD-backed plans hash differently every
    session). Folded into the default run_id so the same work_dir with
    a different --input cannot silently reuse a stale staged
    directory. Bound: two in-memory inputs agreeing on schema AND the
    first 64 rows collide — file-backed inputs (the production path)
    are fully distinguished by the file list + stat identity."""
    basis = [docs.schema.simpleString()]
    for f, st in sorted(input_file_stats(docs), key=lambda fs: fs[0]):
        basis.append(f)
        if st is not None:
            basis.append(f"{st.st_size}:{st.st_mtime_ns}")
    head = repr(docs.limit(64).collect())
    basis.append(hashlib.sha256(head.encode()).hexdigest())
    return hashlib.sha256("|".join(basis).encode()).hexdigest()[:16]


def with_partition_id(docs: DataFrame, n_partitions: int) -> DataFrame:
    return docs.withColumn(
        "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_partitions)).cast("int")
    )


def referenced_pages(staged: DataFrame, media_store: DataFrame, n_partitions: int) -> DataFrame:
    """-> (partition_id, pages): the OCR pages each partition's docs
    reference (the ``referenced_media`` rule), in one pass that reads
    the staged spans and the store's media_ref and n_pages, never its
    bitmap. A ref shared by several partitions counts once in each, so
    a multi-partition batch may get more OCR tasks than it has pages —
    only below the 8*cores cap, which no count raises."""
    media_spans = with_partition_id(route(explode_spans(staged))[1], n_partitions)
    return (
        referenced_media(media_spans.select("partition_id", "media_ref"), media_store)
        .groupBy("partition_id")
        .agg(F.sum("n_pages").alias("pages"))
    )


class PipelineRunner:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        n_partitions: int = 32,
        batch_partitions: int = 8,
        salt: int | None = None,
    ):
        self.spark = spark
        self.work_dir = work_dir
        self.n_partitions = n_partitions
        self.batch_partitions = batch_partitions
        self.salt = salt
        self.output = SnapshotTable(os.path.join(work_dir, "output"))
        self.lineage = SnapshotTable(os.path.join(work_dir, "lineage"))

    # -- lineage --------------------------------------------------------

    def committed_partitions(self, run_id: str) -> set[int]:
        """Partitions with a lineage row for ``run_id``. Reads two
        columns of the lineage files with pyarrow on the driver: no
        Spark job."""
        files = self.lineage.files()
        if not files:
            return set()
        t = pq.read_table(files, columns=["partition_id"], filters=[("run_id", "==", run_id)])
        return set(t["partition_id"].to_pylist())

    # -- staging --------------------------------------------------------

    def _stage_dir(self, run_id: str) -> str:
        return os.path.join(self.work_dir, f"stage-{run_id}")

    def stage_input(self, docs: DataFrame, run_id: str, fp: str | None = None) -> str:
        """Write the hash-partitioned input once; reuse on resume.
        The _STAGED marker records the input fingerprint — resuming the
        same run_id with a *different* input fails loudly instead of
        silently skipping all partitions via the lineage anti-join."""
        stage = self._stage_dir(run_id)
        done = os.path.join(stage, "_STAGED")
        fp = fp or input_fingerprint(docs)
        if os.path.exists(done):
            with open(done) as f:
                staged_fp = f.read().strip()
            if staged_fp != fp:
                raise ValueError(
                    f"staged input at {stage} was built from a different input "
                    f"(fingerprint {staged_fp} != {fp}); delete the stage dir "
                    "or use a distinct run_id per input"
                )
        else:
            (
                with_partition_id(docs, self.n_partitions)
                .repartition("partition_id")
                .write.mode("overwrite")
                .partitionBy("partition_id")
                .parquet(stage)
            )
            with open(done, "w") as f:
                f.write(fp)
        return stage

    # -- the commit loop ------------------------------------------------

    def run(
        self,
        docs: DataFrame,
        media_store: DataFrame | None = None,
        run_id: str | None = None,
        max_batches: int | None = None,
    ) -> str:
        """Process all pending partitions; returns run_id.
        ``max_batches`` lets tests simulate a kill mid-run."""
        fp = input_fingerprint(docs)
        run_id = run_id or deterministic_run_id(
            fp, str(self.n_partitions), str(self.salt), self.work_dir
        )
        stage = self.stage_input(docs, run_id, fp=fp)
        pending = sorted(set(range(self.n_partitions)) - self.committed_partitions(run_id))
        batches = [
            pending[i : i + self.batch_partitions]
            for i in range(0, len(pending), self.batch_partitions)
        ]
        if max_batches is not None:
            batches = batches[:max_batches]

        if not batches:
            return run_id
        # one read serves the page count and every batch; with the schema
        # given, no job reads a parquet footer to infer it
        staged = self.spark.read.schema(
            with_partition_id(docs, self.n_partitions).schema
        ).parquet(stage)
        pages = {}
        if media_store is not None:
            todo = staged.filter(F.col("partition_id").isin([p for b in batches for p in b]))
            pages = dict(referenced_pages(todo, media_store, self.n_partitions).collect())

        for batch in batches:
            t0 = time.perf_counter()
            batch_id = f"{run_id}/p{batch[0]:05d}-p{batch[-1]:05d}"
            part = staged.filter(F.col("partition_id").isin(batch))
            ocr_pages = sum(pages.get(p, 0) for p in batch)
            # partition_id is a pure function of doc_id — recompute instead
            # of joining it back (saves a shuffle per batch)
            spans = with_partition_id(
                extract_spans(part.select("doc_id", "spans"), media_store, ocr_pages),
                self.n_partitions,
            )
            spans.persist()
            try:
                # partition-local sort clusters output files by doc_id so
                # the committed table's min/max column stats prune scans
                # (SURVEY.md F2); no extra shuffle — sorts within the
                # reassembly's existing hash partitions
                out = reassemble(
                    spans.select("doc_id", "kind", "text", "media_ref", "offset"),
                    salt=self.salt,
                ).sortWithinPartitions("doc_id")
                snapshot_id = self.output.append(out, batch_id=batch_id)
                metrics = (
                    spans.groupBy("partition_id")
                    .agg(
                        F.countDistinct("doc_id").alias("docs"),
                        F.count("*").alias("spans"),
                        F.sum((F.col("kind") == KIND_TEXT).cast("long")).alias("text_spans"),
                        F.sum((F.col("kind") == KIND_MEDIA).cast("long")).alias("media_spans"),
                        F.percentile_approx("ocr_ms", 0.5).alias("ocr_ms_p50"),
                        F.percentile_approx("ocr_ms", 0.95).alias("ocr_ms_p95"),
                    )
                    .collect()
                )
            finally:
                spans.unpersist()
            elapsed = max(time.perf_counter() - t0, 1e-9)
            total_docs = sum(m.docs for m in metrics)
            committed_at = datetime.now(timezone.utc)
            # one row per partition of the batch, spans or not: a
            # partition without a lineage row stays pending, and every
            # later run() would redo its batch
            found = {m.partition_id: m for m in metrics}
            lineage_rows = [
                (
                    run_id,
                    int(p),
                    *(
                        (m.docs, m.spans, m.text_spans, m.media_spans, m.ocr_ms_p50, m.ocr_ms_p95)
                        if (m := found.get(p))
                        else (0, 0, 0, 0, None, None)
                    ),
                    round(total_docs / elapsed, 3),
                    int(snapshot_id),
                    committed_at,
                )
                for p in batch
            ]
            self.lineage.append(
                local_frame(self.spark, lineage_rows, LINEAGE_SCHEMA), batch_id=batch_id
            )
        return run_id

    def read_output(self) -> DataFrame | None:
        return self.output.read(self.spark)
