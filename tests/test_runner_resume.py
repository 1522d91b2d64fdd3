"""Resume-after-kill property (SURVEY.md §5.5b, §6): a run killed after
k of n partition batches, then resumed, yields output bit-identical to
an uninterrupted run, with zero committed docs re-processed."""

from __future__ import annotations

import pytest

from ocr_tool_spark import fixtures
from ocr_tool_spark.plans.runner import PipelineRunner
from ocr_tool_spark.sources.tables import docs_df, media_df
from ocr_tool_spark.storage.adapter import SnapshotTable


@pytest.fixture(scope="module")
def corpus(spark):
    docs, media = fixtures.gen_corpus(60, seed=13)
    return docs_df(spark, docs), media_df(spark, media)


def _rows(df):
    return sorted(
        ((r.doc_id, tuple((s.kind, s.text, s.media_ref, s.offset) for s in r.spans))
         for r in df.collect())
    )


def test_snapshot_table_append_read_idempotent(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.read(spark) is None
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    s1 = t.append(df, batch_id="b1")
    s2 = t.append(df, batch_id="b1")  # duplicate append is a no-op
    assert s1 == s2 == 0
    assert t.read(spark).count() == 5
    t.append(spark.range(3).selectExpr("id + 100 AS id", "id AS v"), batch_id="b2")
    assert t.read(spark).count() == 8
    # time travel: snapshot 0 still sees only the first batch
    assert t.read(spark, snapshot_id=0).count() == 5


def test_kill_resume_bit_identical(spark, tmp_path, corpus):
    docs, media = corpus

    full = PipelineRunner(spark, str(tmp_path / "full"), n_partitions=8,
                          batch_partitions=2, salt=4)
    rid = full.run(docs, media, run_id="r-full")
    expected = _rows(full.read_output())
    assert len(expected) == 60

    killed = PipelineRunner(spark, str(tmp_path / "killed"), n_partitions=8,
                            batch_partitions=2, salt=4)
    killed.run(docs, media, run_id="r-kill", max_batches=2)  # "crash" at 50%
    n_committed = len(killed.committed_partitions("r-kill"))
    assert 0 < n_committed < 8
    snap_before = killed.output.current_snapshot_id()

    killed.run(docs, media, run_id="r-kill")  # resume
    assert len(killed.committed_partitions("r-kill")) == 8
    resumed = _rows(killed.read_output())
    assert resumed == expected

    # zero re-processing: committed batches were not appended again
    batches = killed.output.committed_batches()
    assert len(batches) == 4  # 8 partitions / 2 per batch
    assert killed.output.current_snapshot_id() == snap_before + 2

    # lineage carries per-partition metrics for every partition
    lin = killed.lineage.read(spark).filter("run_id = 'r-kill'")
    rows = {r.partition_id: r for r in lin.collect()}
    assert set(rows) == set(range(8))
    assert sum(r.docs for r in rows.values()) == 60
    assert all(r.spans >= r.docs for r in rows.values())
    media_parts = [r for r in rows.values() if r.media_spans > 0]
    assert media_parts and all(r.ocr_ms_p50 is not None for r in media_parts)


def test_partitions_without_docs_are_committed(spark, tmp_path):
    """A partition no doc hashes to still gets its lineage row: after
    one run() nothing is pending, so a second run() commits nothing
    and leaves both snapshot ids where they were."""
    docs, media = fixtures.gen_corpus(3, seed=13)
    d, m = docs_df(spark, docs), media_df(spark, media)
    runner = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=8,
                            batch_partitions=8)
    runner.run(d, m, run_id="sparse")
    assert runner.committed_partitions("sparse") == set(range(8))
    lin = runner.lineage.read(spark).collect()
    assert len(lin) == 8 and sum(r.docs for r in lin) == 3
    snaps = (runner.output.current_snapshot_id(), runner.lineage.current_snapshot_id())
    runner.run(d, m, run_id="sparse")
    assert (
        runner.output.current_snapshot_id(), runner.lineage.current_snapshot_id()
    ) == snaps


def test_committed_partitions_runs_no_job(spark, tmp_path):
    """The resume lookup reads the lineage files with pyarrow: after the
    first of two batches it finds that batch's partition, for its run_id
    only, and starts no Spark job."""
    from test_pipeline_e2e import _built_jobs

    docs, media = fixtures.gen_corpus(8, seed=1)
    runner = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=2,
                            batch_partitions=1)
    runner.run(docs_df(spark, docs), media_df(spark, media), run_id="r", max_batches=1)
    found, jobs = _built_jobs(
        spark, lambda: (runner.committed_partitions("r"), runner.committed_partitions("q"))
    )
    assert found == ({0}, set())
    assert list(jobs) == []


def test_referenced_pages_match_a_python_count(spark, tmp_path):
    """The runner's per-partition page count over its staged table
    equals a plain-Python count: per partition pmod(xxhash64(doc_id),
    n), the pages of the distinct refs its docs reference (n_pages > 0).
    A ref shared by several partitions counts once in each."""
    import refspec_dataprep as spec
    from ocr_tool_spark.plans.runner import referenced_pages

    docs, media = fixtures.gen_corpus(60, seed=13)
    n = 8
    pages_of = {m["media_ref"]: m["n_pages"] for m in media}
    refs = {}
    for d in docs:
        pid = spec.signed64(spec.xxh64(d["doc_id"].encode("utf-8"))) % n
        refs.setdefault(pid, set()).update(
            s["media_ref"] for s in d["spans"] if s["kind"] == "media"
        )
    want = {p: sum(pages_of.get(r, 0) for r in rs if pages_of.get(r, 0) > 0)
            for p, rs in refs.items()}
    # the corpus does share refs across partitions
    assert sum(len(rs) for rs in refs.values()) > len(set().union(*refs.values()))

    runner = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=n)
    staged = spark.read.parquet(runner.stage_input(docs_df(spark, docs), "pages"))
    got = dict(referenced_pages(staged, media_df(spark, media), n).collect())
    assert got == {p: v for p, v in want.items() if v > 0}


def test_crashed_halfway_commit_is_invisible(spark, tmp_path):
    """A manifest written but not HEAD-swung (crash between the two
    steps) must be invisible to readers and harmless to re-append."""
    import json
    import os

    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(4).selectExpr("id", "id * 3 AS v")
    t.append(df, batch_id="b1")
    head_before = t.current_snapshot_id()

    # simulate: next manifest exists on disk, HEAD never swung
    orphan = {"snapshot_id": head_before + 1, "parent": head_before,
              "batches": {"b1": [], "ghost": ["/nonexistent.parquet"]}}
    with open(t._manifest_path(head_before + 1), "w") as f:
        json.dump(orphan, f)

    assert t.current_snapshot_id() == head_before
    assert t.read(spark).count() == 4          # ghost files never read
    assert t.committed_batches() == {"b1"}

    # a real append after the crash overwrites the orphan manifest slot
    t.append(spark.range(2).selectExpr("id + 10 AS id", "id AS v"), batch_id="b2")
    assert t.current_snapshot_id() == head_before + 1
    assert t.read(spark).count() == 6
    assert t.committed_batches() == {"b1", "b2"}


def test_stale_stage_different_input_fails_loudly(spark, tmp_path):
    """Same work_dir + same explicit run_id + different input must
    raise, not silently reuse the stale staged parquet (ADVICE r1)."""
    docs_a, _ = fixtures.gen_corpus(8, seed=1)
    docs_b, _ = fixtures.gen_corpus(8, seed=2)
    runner = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=2)
    runner.run(docs_df(spark, docs_a), run_id="pinned")
    with pytest.raises(ValueError, match="different input"):
        runner.run(docs_df(spark, docs_b), run_id="pinned")


def test_ok_stage_marker_fails_loudly(spark, tmp_path):
    """A stage dir whose marker holds the literal 'ok' (the format
    before fingerprints) has no input fingerprint to check, so resuming
    it raises — even when the staged data matches the input."""
    import os

    docs, _ = fixtures.gen_corpus(8, seed=1)
    runner = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=2)
    d = docs_df(spark, docs)
    runner.run(d, run_id="pinned")
    marker = os.path.join(runner._stage_dir("pinned"), "_STAGED")
    with open(marker, "w") as f:
        f.write("ok")
    with pytest.raises(ValueError, match="different input"):
        runner.run(d, run_id="pinned")
    with pytest.raises(ValueError, match="different input"):
        runner.run(docs_df(spark, fixtures.gen_corpus(12, seed=2)[0]), run_id="pinned")


def test_default_run_id_differs_per_input(spark, tmp_path):
    """Default run_id folds in input identity: two different inputs in
    the same work_dir get distinct run ids (and distinct stage dirs)."""
    docs_a, _ = fixtures.gen_corpus(8, seed=1)
    docs_b, _ = fixtures.gen_corpus(8, seed=2)
    runner = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=2)
    rid_a = runner.run(docs_df(spark, docs_a))
    rid_b = runner.run(docs_df(spark, docs_b))
    assert rid_a != rid_b


def test_lineage_frame_schema_and_plan(spark, sf_dir_mid, tmp_path):
    """Every driver-built frame (docs_df, media_df, the runner's
    per-batch lineage rows, the q_knn_ivf_recall row) has exactly its
    declared schema, field by field, and is a JVM-side local relation:
    a Python list would go through sc.parallelize and start
    Python-worker tasks."""
    from pyspark.sql.types import StructType

    from ocr_tool_spark.plans.driver_queries import queries
    from ocr_tool_spark.plans.runner import LINEAGE_SCHEMA
    from ocr_tool_spark.sources.schemas import DOC, MEDIA_STORE

    docs, media = fixtures.gen_corpus(8, seed=1)
    runner = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=2,
                            batch_partitions=1)
    frames, append = [], runner.lineage.append
    runner.lineage.append = lambda df, batch_id: frames.append(df) or append(df, batch_id)
    d, m = docs_df(spark, docs), media_df(spark, media)
    runner.run(d, m, run_id="r")
    assert len(frames) == 2
    lineage = StructType.fromDDL(LINEAGE_SCHEMA)
    recall = StructType.fromDDL("k long, recall_ok long, exhaustive_exact long")
    declared = [
        (d, DOC),
        (m, MEDIA_STORE),
        *((f, lineage) for f in frames),
        (queries()["q_knn_ivf_recall"](spark, sf_dir_mid), recall),
    ]
    for df, schema in declared:
        assert list(df.schema.fields) == list(schema.fields)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan
    rows = runner.lineage.read(spark).collect()
    assert sorted(r.partition_id for r in rows) == [0, 1]
    assert all(r.committed_at is not None for r in rows)


def test_local_frame_is_the_only_create_dataframe_call():
    """Driver-built rows enter Spark one way: the package calls
    createDataFrame exactly once, inside sources.tables.local_frame."""
    import ast
    import pathlib

    import ocr_tool_spark

    def calls(node):
        return sum(
            isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr == "createDataFrame"
            for c in ast.walk(node)
        )

    root = pathlib.Path(ocr_tool_spark.__file__).parent
    per_file = {
        p.relative_to(root).as_posix(): calls(ast.parse(p.read_text()))
        for p in root.rglob("*.py")
    }
    assert {f: n for f, n in per_file.items() if n} == {"sources/tables.py": 1}
    tables = ast.parse((root / "sources" / "tables.py").read_text())
    helper = next(
        f for f in tables.body if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
    )
    assert calls(helper) == 1


def test_lineage_written_before_arrow_rows_stays_readable(spark, tmp_path):
    """A lineage table that already holds batches written the old way
    (Python-list rows plus current_timestamp(), as a persistent work dir
    such as q_pipeline_lineage's keeps them) reads back together with
    batches written now, under one schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from ocr_tool_spark.plans.runner import LINEAGE_SCHEMA

    docs, media = fixtures.gen_corpus(8, seed=1)
    runner = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=2,
                            batch_partitions=2)
    old = spark.createDataFrame(
        [("old", 0, 3, 5, 2, 3, 1.5, 2.5, 9.0, 0)],
        schema=LINEAGE_SCHEMA.rsplit(",", 1)[0],
    ).withColumn("committed_at", F.current_timestamp())
    runner.lineage.append(old, batch_id="old/p00000-p00001")
    runner.run(docs_df(spark, docs), media_df(spark, media), run_id="new")
    lin = runner.lineage.read(spark)
    assert [(f.name, f.dataType) for f in lin.schema.fields] == [
        (f.name, f.dataType) for f in StructType.fromDDL(LINEAGE_SCHEMA).fields
    ]
    rows = lin.collect()
    assert sorted(r.run_id for r in rows) == ["new", "new", "old"]
    assert sum(r.docs for r in rows if r.run_id == "new") == 8
    assert all(r.committed_at is not None for r in rows)
