"""Repeated plans reuse their generated code (session.py): running an
action again in the same session compiles no new Java classes.

Spark keeps compiled whole-stage classes in an LRU keyed by their
source. At its default of 100 entries, a plan with more classes than
that recompiles every class on every run: the curation fixture below
recompiled ~155 classes per run at 100 entries; at the engine's
settings it compiles ~126 on its first run and then none. AQE picks
some joins by which query stage finishes first (broadcast or
sort-merge, the build side of a self-join), and a variant it has not
picked before compiles once, so a repeat may take a few runs to reach
0; with a cache that holds the plan it gets there, with one that does
not it never does.
"""

from __future__ import annotations

import pytest

from ocr_tool_spark import fixtures
from ocr_tool_spark.dataprep import release_intermediates
from ocr_tool_spark.dataprep.curate import curate_corpus
from ocr_tool_spark.plans.runner import PipelineRunner
from ocr_tool_spark.sources.tables import docs_df, media_df

REPEATS = 6  # runs after the first, at most, to reach one that compiles nothing


def _compilations(spark) -> int:
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def _curate(spark, tmp_path):
    from test_curate import EVAL_TEXT, _text

    rows = [(i, _text(i)) for i in range(1, 9)] + [(101, _text(1))]
    rows.append((5, "unrelated prefix " + EVAL_TEXT + " and a suffix tail"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    evals = spark.createDataFrame([(9001, EVAL_TEXT)], "doc_id long, text string")

    def action():
        out = curate_corpus(corpus, evals, threshold=0.9, n=8, budget=30)
        out.write.format("noop").mode("overwrite").save()
        release_intermediates(out)

    return action


def _runner_batch(spark, tmp_path):
    """Each call commits the next pending batch: the first also stages
    the input, every later one is a resumed run() over a new partition."""
    docs, media = fixtures.gen_corpus(28, seed=13)
    d, m = docs_df(spark, docs), media_df(spark, media)
    runner = PipelineRunner(spark, str(tmp_path / "w"), n_partitions=REPEATS + 1,
                            batch_partitions=1)
    return lambda: runner.run(d, m, run_id="codegen", max_batches=1)


@pytest.mark.parametrize("make_action", [_curate, _runner_batch],
                         ids=["curate_corpus", "runner_batch"])
def test_repeated_action_compiles_no_class(spark, tmp_path, make_action):
    action = make_action(spark, tmp_path)
    compiled = []
    for _ in range(1 + REPEATS):
        before = _compilations(spark)
        action()
        compiled.append(_compilations(spark) - before)
        if len(compiled) > 1 and compiled[-1] == 0:
            break
    assert compiled[-1] == 0, f"classes compiled per run: {compiled}"
