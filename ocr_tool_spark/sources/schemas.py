"""Declared schemas for every table the engine touches (SURVEY.md §1).

Schemas are fixed and explicit — never inferred — so driver-side
schema comparison and snapshot reads are stable (BASELINE.json:15,
FIXTURES.md §1)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOC = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN)),
    ]
)

MEDIA_STORE = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pages", IntegerType()),
        StructField("bitmap", BinaryType()),
    ]
)

#: Flattened DOM-walk block emitted by the HTML tokenizer (SURVEY.md I1).
DOM_BLOCK = StructType(
    [
        StructField("text", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("n_link_chars", IntegerType()),
        StructField("n_tags", IntegerType()),
        StructField("in_boiler", BooleanType()),
    ]
)

#: OCR stage output: extracted text + per-span inference latency.
OCR_RESULT = StructType(
    [
        StructField("text", StringType()),
        StructField("ocr_ms", DoubleType()),
    ]
)
