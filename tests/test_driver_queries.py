"""Local replica of the driver's correctness gate (SURVEY.md §5.4):
every queries()[name] with an oracle must match duckdb on row count,
column-name set, and order-insensitive values at sf0.01 — so the
driver-side CORRECTNESS run holds no surprises."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from ocr_tool_spark.plans import driver_queries
from ocr_tool_spark.sources.tables import ORACLE_TABLES

QUERIES = driver_queries.queries()
ORACLE = driver_queries.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir_mid):
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir_mid}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical cell form: NULL marker, exact float repr, second-precision ts
    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
            return "\0NULL"
        if isinstance(v, (np.floating, float)):
            return repr(float(v))
        if isinstance(v, (np.integer, int)):
            return str(int(v))
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    # astype(object): empty frames otherwise keep their source dtypes
    # and .equals() fails on dtype alone with zero rows
    out = df.apply(lambda col: col.map(cell)).astype(object)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, sf_dir_mid, duck, name):
    ours = _normalize(QUERIES[name](spark, sf_dir_mid).toPandas())
    ref = _normalize(duck.sql(ORACLE[name]).df())
    assert list(ours.columns) == list(ref.columns), name
    assert len(ours) == len(ref), f"{name}: {len(ours)} vs {len(ref)} rows"
    diff = ours.compare(ref) if ours.shape == ref.shape else None
    assert ours.equals(ref), f"{name} value mismatch:\n{diff.head(10) if diff is not None else ''}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, sf_dir_mid, name):
    df = QUERIES[name](spark, sf_dir_mid)
    assert df.count() >= 0
    assert df.schema is not None


# the driver evaluates the FIRST 50 registered keys; this is the key
# list of CORRECTNESS_r05.json, in registration order
DRIVER_WINDOW = [
    "q_scan", "q_filter", "q_explode", "q_array_hof", "q_distinct",
    "q_join_broadcast", "q_join_sm", "q_semijoin", "q_range_join", "q_asof",
    "q_agg_groupby", "q_count_distinct", "q_percentile", "q_rollup",
    "q_pandas_udaf", "q_window_rownum", "q_window_lag", "q_topk_group",
    "q_sort", "q_setops", "q_entity_decode", "q_regex", "q_string", "q_math",
    "q_tumbling", "q_sliding", "q_session_window", "q_extract_main",
    "q_extract_interleaved", "q_media_features", "q_pipeline_lineage",
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_grouped_map", "q_udtf_split",
    "q_dedup_exact", "q_dedup_ngram", "q_dedup_minhash", "q_dedup_simhash",
    "q_embed_neardup", "q_knn_cosine", "q_knn_lsh", "q_knn_ivf",
    "q_knn_ivf_recall", "q_knn_batch", "q_text_quality", "q_token_count",
    "q_lang_id", "q_fingerprint",
]


def test_registration_order_pins_the_driver_window():
    keys = list(QUERIES)
    assert keys[:50] == DRIVER_WINDOW
    assert keys[50:] == [
        "q_dedup_components", "q_pack_shards", "q_stratified_sample",
        "q_decontam", "q_curate",
    ]


def test_only_q_knn_ivf_is_rows_only():
    """oracle_sql() turns a failing generated oracle into a warning and
    drops the key, which silently moves it from the oracle test to the
    rows-only test. Pin the one key that is rows-only by design."""
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        oracles = driver_queries.oracle_sql()
    assert [str(w.message) for w in caught] == []
    assert set(driver_queries.queries()) - set(oracles) == {"q_knn_ivf"}


def test_pipeline_lineage_leaves_no_work_dir(spark, sf_dir_mid):
    import glob
    import os
    import tempfile

    pattern = os.path.join(tempfile.gettempdir(), "ocr_q_lineage_*")
    before = set(glob.glob(pattern))
    rows = QUERIES["q_pipeline_lineage"](spark, sf_dir_mid).collect()
    assert len(rows) == 1 and rows[0]["run_id"] == "demo"
    assert set(glob.glob(pattern)) - before == set()
