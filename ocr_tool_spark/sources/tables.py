"""DataFrame constructors: driver testdata parquet and driver-built rows."""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ocr_tool_spark.sources.schemas import DOC, MEDIA_STORE

ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


_BOILER_PREFIX = (
    "<html><body><header><h1>site title</h1></header>"
    "<nav><ul><li><a>home</a></li><li><a>about</a></li><li><a>contact</a></li></ul></nav>"
    "<div><p>"
)
_BOILER_SUFFIX = (
    "</p><div><ul><li><a>sponsored link one</a></li><li><a>sponsored link two</a></li>"
    "</ul></div></div><script>var x = 1 < 2;</script>"
    "<footer><p>copyright &amp; legal</p></footer></body></html>"
)


def interleaved_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap the driver's flat documents table into the interleaved
    (doc_id, spans) shape (BASELINE.json:15) with MULTIPLE text spans
    per document: the (whitespace-normalized) text splits into three
    word-chunks at deterministic boundaries (k = n_words div 3), each
    wrapped in known boilerplate. The driver-checked extraction oracle
    therefore exercises explode → branch → union → reassembly ORDERING,
    not a 1-span identity (VERDICT r1 missing #2). Docs under 6 words
    stay single-span."""
    from pyspark.sql import functions as F

    raw = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    w = F.split(norm, " ")
    n = F.size(w)
    k = F.floor(n / 3).cast("int")

    def span(chunk, off: int):
        html = F.concat(F.lit(_BOILER_PREFIX), chunk, F.lit(_BOILER_SUFFIX))
        return F.struct(
            F.lit("text").alias("kind"),
            html.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    c1 = F.concat_ws(" ", F.slice(w, F.lit(1), k))
    c2 = F.concat_ws(" ", F.slice(w, k + 1, k))
    c3 = F.concat_ws(" ", F.slice(w, 2 * k + 1, n - 2 * k))
    spans = F.when(
        n >= 6, F.array(span(c1, 0), span(c2, 1), span(c3, 2))
    ).otherwise(F.array(span(norm, 0)))
    return raw.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        spans.alias("spans"),
    )


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """Driver-built rows (dicts, or tuples in ``schema`` field order) as
    a DataFrame with exactly ``schema``, via a pyarrow Table: a JVM-side
    local relation, where a Python list would start ``defaultParallelism``
    Python-worker tasks. The package's one ``createDataFrame`` call."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema=schema)


def docs_df(spark: SparkSession, docs: list[dict]) -> DataFrame:
    return local_frame(spark, docs, DOC)


def media_df(spark: SparkSession, media: list[dict]) -> DataFrame:
    return local_frame(spark, media, MEDIA_STORE)
