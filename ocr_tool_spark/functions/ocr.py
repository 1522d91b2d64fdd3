"""Page OCR: raster decode -> XY-cut -> reading order -> template OCR,
fused into ONE Arrow-vectorized iterator pandas UDF (SURVEY.md I4-I8,
H2/H3).

Design notes (scale):
- The page is the only OCR unit: the pipeline slices payloads into
  pages on the JVM side and joins page texts in SQL
  (pipeline.ocr_referenced_media). Each page crosses the
  executor<->Python-worker Arrow boundary once; bitmap binary never
  round-trips twice (SURVEY.md §3.1 boundary rule).
- SCALAR_ITER so the glyph template dictionary is materialized once per
  Python worker, not once per batch.
- All pixel work is numpy (run detection via diff/flatnonzero, iterative
  stack instead of recursion) — deliberately different implementation
  shape from the per-document reference loop in tests/refspec.py, which
  the differential tests assert it equals exactly.
- Integer-only matching (tight-bbox pattern lookup) keeps OCR float-free
  (SURVEY.md §7 hard-part #4).
- Per-page wall latency comes back with the text; summed per span, it
  feeds the lineage percentiles ocr_ms_p50/p95 (FIXTURES.md §1.4).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ocr_tool_spark.constants import (
    MIN_GAP_X,
    MIN_GAP_Y,
    OCR_LINE_JOIN,
    SPACE_GAP,
)
from ocr_tool_spark.functions.glyphs import TEMPLATES, trimmed_pattern
from ocr_tool_spark.sources.schemas import OCR_RESULT


def _runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Maximal [start, end) runs where boolean mask is True, as a
    (starts, ends) array pair — vectorized via edge detection. Returned
    unstacked: the masks here are tiny (one line band / one leaf edge),
    so the np.stack previously spent more time assembling the (n, 2)
    array than the edge detection itself."""
    padded = np.empty(mask.size + 2, dtype=np.int8)
    padded[0] = padded[-1] = 0
    padded[1:-1] = mask
    # transitions strictly alternate rise, fall, rise, ... (the pad
    # guarantees the first is a rise and the last a fall), so ONE
    # flatnonzero over the change mask yields starts at even and ends
    # at odd positions — and the [0::2]/[1::2] slices are views
    idx = np.flatnonzero(padded[1:] != padded[:-1])
    return idx[0::2], idx[1::2]


def segment_page(page: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Iterative XY-cut: worklist of regions; trim to ink bbox, cut along
    the axis whose widest qualifying blank run wins (ties -> vertical),
    at ALL qualifying runs. Returns leaf bboxes (y0, y1, x0, x1)."""
    leaves: list[tuple[int, int, int, int]] = []
    ink = page > 0
    stack = [(0, page.shape[0], 0, page.shape[1])]
    while stack:
        y0, y1, x0, x1 = stack.pop()
        sub = ink[y0:y1, x0:x1]
        rows = sub.any(axis=1)
        if not rows.any():
            continue
        cols = sub.any(axis=0)
        ys = np.flatnonzero(rows)
        xs = np.flatnonzero(cols)
        y0, y1, x0, x1 = y0 + ys[0], y0 + ys[-1] + 1, x0 + xs[0], x0 + xs[-1] + 1
        sub = ink[y0:y1, x0:x1]
        cg_s, cg_e = _runs(~sub.any(axis=0))
        rg_s, rg_e = _runs(~sub.any(axis=1))
        cg_len = cg_e - cg_s
        rg_len = rg_e - rg_s
        ck = cg_len >= MIN_GAP_X
        rk = rg_len >= MIN_GAP_Y
        x_max = int(cg_len[ck].max()) if ck.any() else 0
        y_max = int(rg_len[rk].max()) if rk.any() else 0
        if x_max == 0 and y_max == 0:
            leaves.append((int(y0), int(y1), int(x0), int(x1)))
            continue
        if x_max >= y_max:
            # interleave kept gap starts/ends into flat cut bounds
            gaps = np.empty(2 * int(ck.sum()), dtype=cg_s.dtype)
            gaps[0::2] = cg_s[ck]
            gaps[1::2] = cg_e[ck]
            bounds = np.concatenate([[0], gaps, [x1 - x0]]) + x0
            segs = bounds.reshape(-1, 2)
            stack.extend((y0, y1, int(s), int(e)) for s, e in segs if e > s)
        else:
            gaps = np.empty(2 * int(rk.sum()), dtype=rg_s.dtype)
            gaps[0::2] = rg_s[rk]
            gaps[1::2] = rg_e[rk]
            bounds = np.concatenate([[0], gaps, [y1 - y0]]) + y0
            segs = bounds.reshape(-1, 2)
            stack.extend((int(s), int(e), x0, x1) for s, e in segs if e > s)
    return leaves


def order_blocks(blocks: list[tuple[int, int, int, int]]) -> list[tuple[int, int, int, int]]:
    """Greedy column-band reading order (left->right bands by x-overlap,
    (y0, x0) within a band) — numpy argsort formulation."""
    if not blocks:
        return []
    arr = np.array(blocks)  # columns: y0, y1, x0, x1
    by_x = arr[np.lexsort((arr[:, 0], arr[:, 2]))]
    band_ids = np.zeros(len(by_x), dtype=np.int64)
    band_end = by_x[0, 3]
    band = 0
    for i in range(1, len(by_x)):
        if by_x[i, 2] < band_end:
            band_end = max(band_end, by_x[i, 3])
        else:
            band += 1
            band_end = by_x[i, 3]
        band_ids[i] = band
    final = by_x[np.lexsort((by_x[:, 2], by_x[:, 0], band_ids))]
    return [tuple(int(v) for v in row) for row in final]


_CODE_CACHE_MAX = 4096  # glyph variety is tiny; cap guards weird inputs
# column-bitcode cache: each band column packs to ceil(h/8) bytes
# (np.packbits along rows), so (band_height, code_byte_slice) is
# bijective with the raw 2-D crop at any height — see read_block
_CODE_CACHE: dict[tuple[int, bytes], str | None] = {}


def read_block(page: np.ndarray, bbox: tuple[int, int, int, int]) -> str:
    """Template OCR of one leaf block (line bands -> char runs -> exact
    tight-bbox template lookup; >= SPACE_GAP blank cols = one space).

    r5 hot-loop form: with the r3 crop-bytes cache at a 99%+ hit rate,
    KEY CONSTRUCTION (2-D crop slice + tobytes per char run) became
    the cost. Each line band now pays ONE np.packbits pass (columns
    pack to ceil(h/8) contiguous bytes after the transpose), and each
    run's key is a plain bytes slice — measured 13-29% faster per
    media in a 3-round interleaved A/B with bit-identical output
    (refspec equality over 300 heavy media). Sequential A/Bs were
    noise-swamped; the interleaved protocol is the CLAUDE.md rule."""
    y0, y1, x0, x1 = bbox
    crop = page[y0:y1, x0:x1] > 0
    lines: list[str] = []
    l_s, l_e = _runs(crop.any(axis=1))
    for ls, le in zip(l_s.tolist(), l_e.tolist()):
        band = crop[ls:le]
        h = int(le - ls)
        chars: list[str] = []
        prev_end = -1
        c_s, c_e = _runs(band.any(axis=0))
        nb = (h + 7) >> 3
        code_bytes = np.packbits(band, axis=0).T.tobytes()
        for cs, ce in zip(c_s.tolist(), c_e.tolist()):
            if prev_end >= 0 and cs - prev_end >= SPACE_GAP and chars:
                chars.append(" ")
            key = (h, code_bytes[nb * cs : nb * ce])
            try:
                ch = _CODE_CACHE[key]
            except KeyError:
                ch = TEMPLATES.get(
                    trimmed_pattern(band[:, cs:ce].astype(np.uint8))
                )
                if len(_CODE_CACHE) < _CODE_CACHE_MAX:
                    _CODE_CACHE[key] = ch
            if ch is not None:
                chars.append(ch)
            prev_end = ce
        line = "".join(chars).strip(" ")
        if line:
            lines.append(line)
    return OCR_LINE_JOIN.join(lines)


def read_page(page: np.ndarray) -> str:
    """Text of one page: XY-cut leaves in reading order, each read by
    read_block, the non-empty block texts joined by OCR_LINE_JOIN."""
    texts = (read_block(page, b) for b in order_blocks(segment_page(page)))
    return OCR_LINE_JOIN.join(t for t in texts if t)


@F.pandas_udf(OCR_RESULT)
def ocr_media_udf(
    batches: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """(page, width, height) -> struct(text, ocr_ms): one page bitmap
    (height*width bytes) per row.

    Iterator form: worker-lifetime init happens once (TEMPLATES is
    module-level, imported on worker start), batches stream through.
    """
    for page, width, height in batches:
        texts = []
        lat = []
        for b, w, h in zip(page, width, height):
            t0 = time.perf_counter()
            px = np.frombuffer(b, dtype=np.uint8).reshape(int(h), int(w))
            texts.append(read_page(px))
            lat.append((time.perf_counter() - t0) * 1000.0)
        yield pd.DataFrame({"text": texts, "ocr_ms": lat})
