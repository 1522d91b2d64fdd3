"""Shared *data* constants defining the extraction semantics.

These constants are the single source of truth for BOTH the batched
Spark engine (ocr_tool_spark.functions.*) and the independent
plain-Python executable reference spec (tests/refspec.py). Only data
lives here — no algorithms — so the differential test between the two
implementations stays meaningful (SURVEY.md §0.1, §5).

All scoring thresholds are integers and all scoring comparisons are
specified as integer cross-multiplications, so the JVM-native
higher-order-function implementation and the Python reference cannot
diverge on float rounding.
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# HTML subset (FIXTURES.md §1.1)
# --------------------------------------------------------------------------

#: Elements whose open/close boundaries delimit text blocks.
BLOCK_TAGS = frozenset(
    "html body div p h1 h2 h3 h4 h5 h6 ul ol li table tr td "
    "nav header footer aside".split()
)

#: Elements whose entire subtree is boilerplate: any block opened while
#: one of these is an open ancestor is marked in_boiler and dropped.
BOILER_TAGS = frozenset("nav header footer aside".split())

#: Elements whose raw content is skipped entirely at tokenize time.
RAW_SKIP_TAGS = frozenset("script style".split())

#: Named HTML entities decoded by the tokenizer (plus &#NN; / &#xHH;).
NAMED_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
}

# --------------------------------------------------------------------------
# Boilerplate scoring (Readability/jusText-style densitometry, [public])
# All rules are integer-exact. A block (text, n_chars, n_link_chars,
# n_tags, in_boiler) is KEPT iff:
#   not in_boiler
#   and LINK_DEN_DEN * n_link_chars <= LINK_DEN_NUM * n_chars   (link density <= 0.3)
#   and n_chars >= MIN_BLOCK_CHARS                               (length gate)
#   and n_chars >= TEXT_DENSITY_TAU * (1 + n_tags)               (text density)
# A block failing only the two length/density gates is RESCUED iff
# n_chars >= RESCUE_MIN_CHARS and both array-neighbours pass the
# primary rule (short caption sandwiched between content).
# --------------------------------------------------------------------------

LINK_DEN_NUM = 3
LINK_DEN_DEN = 10
MIN_BLOCK_CHARS = 25
TEXT_DENSITY_TAU = 8
RESCUE_MIN_CHARS = 5

#: Separator used to join kept block texts into main content.
BLOCK_JOIN = "\n"

# --------------------------------------------------------------------------
# Raster / OCR geometry (FIXTURES.md §1.2)
# Bitmaps are row-major uint8, 0 = white, 255 = ink,
# shape (n_pages, height, width); glyphs are a fixed 5x7 template font.
# --------------------------------------------------------------------------

GLYPH_W = 5
GLYPH_H = 7
CELL_W = GLYPH_W + 1  # one blank spacing column per glyph cell
CELL_H = GLYPH_H + 1  # one blank spacing row per text line
PAGE_MARGIN = 3

#: XY-cut: minimum blank-column run to cut vertically (column gutters
#: are rendered >= 18 px; intra-word gaps are <= 4 px).
MIN_GAP_X = 12
#: XY-cut: minimum blank-row run to cut horizontally (line gaps are
#: 1 px; paragraph gaps are rendered >= CELL_H px).
MIN_GAP_Y = 4
#: Rendered width of a column gutter in multi-column pages.
COLUMN_GUTTER = 18
#: Rendered blank rows between paragraphs inside one column.
PARA_GAP = CELL_H

#: OCR: blank-column run >= SPACE_GAP between two character runs within
#: a text line decodes as exactly one space (non-space inter-glyph gaps
#: are <= 4 px; a real space cell produces >= 8 px).
SPACE_GAP = 6

#: Join separators on the media side.
OCR_LINE_JOIN = "\n"    # lines within a leaf block
OCR_PAGE_JOIN = "\n\n"  # pages within a multi-page (pdf) media span

# --------------------------------------------------------------------------
# Span / table shapes (BASELINE.json:15)
# --------------------------------------------------------------------------

KIND_TEXT = "text"
KIND_MEDIA = "media"
MEDIA_KIND_IMAGE = "image"
MEDIA_KIND_PDF = "pdf"
