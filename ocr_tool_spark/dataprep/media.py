"""Media feature extraction (SURVEY.md H3): the fixture raster format
(header-described uint8 pages, FIXTURES.md §1.2) decoded with numpy and
summarised per media row — ink ratio, mean intensity, inked rows on
page 0 — in one mapInArrow stage.

Scale notes: the stage is one Arrow crossing per batch; batches are
row-capped (session config arrow.maxRecordsPerBatch) so multi-MB binary
payloads can't blow the Python-worker heap. Feature rows are narrow
(the binary column is dropped before any shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

MEDIA_FEATURES_SCHEMA = (
    "media_ref string, media_kind string, width int, height int, n_pages int, "
    "n_bytes long, ink_ratio double, mean_intensity double, nonblank_rows int"
)


def _decode(bitmap: bytes, width: int, height: int, n_pages: int) -> np.ndarray:
    return np.frombuffer(bitmap, dtype=np.uint8).reshape(n_pages, height, width)


def media_features(media_store: DataFrame) -> DataFrame:
    """Per-media decode + feature extraction (real): ink ratio, mean
    intensity, count of rows containing ink on page 0."""
    # explicit arrow types: mapInArrow requires the produced batches to
    # match the declared Spark schema exactly (int32 vs inferred int64)
    out_pa = to_arrow_schema(StructType.fromDDL(MEDIA_FEATURES_SCHEMA))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            d = batch.to_pydict()
            rows = {k: [] for k in out_pa.names}
            for ref, kind, w, h, p, bm in zip(
                d["media_ref"], d["media_kind"], d["width"], d["height"],
                d["n_pages"], d["bitmap"],
            ):
                pages = _decode(bm, w, h, p)
                rows["media_ref"].append(ref)
                rows["media_kind"].append(kind)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pages"].append(p)
                rows["n_bytes"].append(len(bm))
                rows["ink_ratio"].append(float((pages > 0).mean()))
                rows["mean_intensity"].append(float(pages.mean()))
                rows["nonblank_rows"].append(int((pages[0] > 0).any(axis=1).sum()))
            yield pa.RecordBatch.from_pydict(rows, schema=out_pa)

    return media_store.mapInArrow(fn, MEDIA_FEATURES_SCHEMA)
