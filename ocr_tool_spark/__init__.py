"""ocr_tool_spark — a from-scratch, PySpark-native main-content
extraction engine over interleaved text+media document tables.

Capability target: the driver spec at /root/repo/BASELINE.json
(north_star line 6, north_rule line 14, input_hint line 15). The
reference checkout at /root/reference is EMPTY (SURVEY.md §0), so no
reference file:line citations exist anywhere in this package — the
executable semantics oracle is tests/refspec.py.

Layout
------
constants    shared *data* (tag sets, integer thresholds, entities,
             raster geometry) used by the engine, the fixture
             generator, and the independent plain-Python reference
             spec in tests/refspec.py
session      SparkSession factory with the engine's tuned config
fixtures     deterministic synthetic interleaved corpus + media store
functions/   glyph font + rendering, batched HTML tokenizer and
             boilerplate scoring, batched numpy layout/OCR
operators/   explode/route, (salted) reassembly, span equality,
             static scan-parallelism estimate
sources/     declared schemas + parquet/fixture table loaders
storage/     the snapshot/manifest table store (local Iceberg stand-in)
plans/       the end-to-end extraction plan builder, the resumable
             runner, and the driver queries + their oracles
dataprep/    training-data operators: dedup, similarity (k-NN/ANN),
             text stats, media features, packing, decontamination,
             and the composed curation DAG
"""

__version__ = "0.1.0"
