"""Salted-join equivalence (SURVEY.md C3)."""

from __future__ import annotations

import os

from ocr_tool_spark.operators.skew import salted_join


def test_salted_join_equals_plain_join(spark, sf_dir):
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = sorted(
        map(tuple, o.join(c, "o_custkey").select("o_orderkey", "c_name").collect())
    )
    for salt in (4, 16):
        salted = sorted(
            map(
                tuple,
                salted_join(o, c, "o_custkey", salt=salt)
                .select("o_orderkey", "c_name")
                .collect(),
            )
        )
        assert salted == plain, f"salt={salt}"


def test_salted_join_left_outer(spark, sf_dir):
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    plain = sorted(
        map(
            tuple,
            c.join(o, "c_custkey", "left")
            .select("c_custkey", "o_orderkey")
            .collect(),
        ),
        key=str,
    )
    salted = sorted(
        map(
            tuple,
            salted_join(c, o, "c_custkey", salt=8, how="left")
            .select("c_custkey", "o_orderkey")
            .collect(),
        ),
        key=str,
    )
    assert salted == plain


def test_salted_join_rejects_build_preserving_how(spark, sf_dir):
    import pytest as _pytest

    from ocr_tool_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    for how in ("right", "full", "full_outer"):
        with _pytest.raises(ValueError, match="salted_join supports"):
            salted_join(o, c, on="o_custkey", how=how)


def test_salted_join_accepts_spark_alias_spellings(spark, sf_dir):
    from ocr_tool_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").limit(200)
    c = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    n_semi = salted_join(o, c, on="o_custkey", how="semi").count()
    n_anti = salted_join(o, c, on="o_custkey", how="anti").count()
    assert n_semi + n_anti == 200  # partition of the probe rows
    for how in ("leftsemi", "left_semi", "leftouter"):
        assert salted_join(o, c, on="o_custkey", how=how).count() >= 0
