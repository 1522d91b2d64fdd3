"""Vectorized numpy kernel shared by the MinHash and SimHash signature
stages, the exact-set verify stage (dedup.py) and the decontamination
gram counts (decontam.py).

One batch in → doc-segmented 64-bit shingle hashes out, with zero
per-token and zero per-doc Python on the hot path:

1.  token hashes: for pure-ASCII batches, straight from the Arrow
    string buffers — byte-wise lower(), Java-\\s run splitting, and a
    rolling polynomial over the WHOLE buffer whose per-token windows
    re-base by p^-start (p odd ⇒ invertible mod 2^64). Any high byte
    routes the batch through a Python-string fallback with identical
    semantics (str.lower() / regex split), asserted bit-equal in
    tests/test_refspec_dataprep.py.
2.  shingle hashes: k consecutive token hashes combined with fixed odd
    multipliers via array slicing over the flat token-hash buffer;
    per-doc window validity is a mask, so no per-doc loop. Docs with
    0 < m < k tokens get ONE shingle of all m tokens; empty docs get
    the zero "empty shingle".
3.  a splitmix64 finisher mixes every shingle hash.

The plain-Python executable spec (tests/refspec_dataprep.py
minhash_signature/_token_hash/_mix64) replays this math with python
ints; bit-equality is the precondition for the generated VALUES
oracles in plans/driver_queries.py.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa

U64 = np.uint64
POLY_P = U64(0x100000001B3)  # FNV-1a prime (odd => invertible mod 2^64)
POLY_PINV = U64(pow(0x100000001B3, -1, 1 << 64))
_LEN_C = U64(0x9E3779B97F4A7C15)
_COMB_C = U64(0xD6E8FEB86659FD93)

# Java \s == [ \t\n\x0B\f\r] (ASCII only, unlike Python str.split)
JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")
_WS_BYTES = np.array([32, 9, 10, 11, 12, 13], dtype=np.uint8)


def mix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized (uint64 wraparound)."""
    z = z + U64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> U64(30))) * U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> U64(27))) * U64(0x94D049BB133111EB)
    return z ^ (z >> U64(31))


def comb_multipliers(k: int) -> np.ndarray:
    """Per-position shingle-combination multipliers (odd, well-mixed)."""
    return mix64(np.arange(1, k + 1, dtype=np.uint64) * _COMB_C) | U64(1)


def token_hashes(tok_lists: list[list[str]]) -> np.ndarray:
    """One flat uint64 hash per token across the whole batch (the
    Python-string fallback path)."""
    enc = [w.encode("utf-8") for ws in tok_lists for w in ws]
    if not enc:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=len(enc))
    # +1 keeps NUL bytes from hashing like absent bytes
    arr = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.uint64) + U64(1)
    L = arr.size
    ppow = np.full(L, POLY_P, dtype=np.uint64)
    ppow[0] = 1
    np.cumprod(ppow, out=ppow)  # p^0 .. p^{L-1}, wrapping
    pinv = np.full(L, POLY_PINV, dtype=np.uint64)
    pinv[0] = 1
    np.cumprod(pinv, out=pinv)
    prefix = np.zeros(L + 1, dtype=np.uint64)
    np.cumsum(arr * ppow, out=prefix[1:])
    ends = np.cumsum(lens)
    starts = ends - lens
    raw = (prefix[ends] - prefix[starts]) * pinv[starts]
    return mix64(raw ^ (lens.astype(np.uint64) * _LEN_C))


def ascii_token_hashes(arr: pa.Array):
    """(th_all, m_arr) straight from the Arrow string buffers — no
    to_pylist, no per-token Python. Only valid for pure-ASCII batches
    (where byte-wise lower()/Java-\\s split equal the Python-string
    semantics of the fallback); returns None when any byte >= 0x80.

    The polynomial prefix runs over the WHOLE buffer once; per-token
    hashes re-base by p^-start exactly as token_hashes does per
    concatenated token — positions between tokens don't leak into a
    token's (prefix[end]-prefix[start]) window, so the two paths are
    bit-identical on ASCII input."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.cast(pa.large_string())
    off = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    region = data[off[0] : off[-1]]
    if region.size == 0:
        # every doc in the batch is empty/null: zero tokens each (the
        # run-detection below would index into empty masks)
        return np.empty(0, dtype=np.uint64), np.zeros(len(arr), dtype=np.int64)
    if region.max() >= 0x80:
        return None
    bnd = (off - off[0]).astype(np.int64)  # doc boundaries into region
    low = region.copy()
    up = (low >= 65) & (low <= 90)
    low[up] += 32
    nonws = ~np.isin(low, _WS_BYTES)
    # token runs, force-broken at doc boundaries (null docs have empty
    # [bnd[i], bnd[i+1]) windows — nothing to break)
    prev = np.empty_like(nonws)
    prev[0] = False
    prev[1:] = nonws[:-1]
    nxt = np.empty_like(nonws)
    nxt[-1] = False
    nxt[:-1] = nonws[1:]
    starts_m = nonws & ~prev
    ends_m = nonws & ~nxt
    inner = bnd[1:-1]
    inner = inner[(inner > 0) & (inner < low.size)]
    if inner.size:
        starts_m[inner] |= nonws[inner]
        ends_m[inner - 1] |= nonws[inner - 1]
    tstart = np.flatnonzero(starts_m)
    tend = np.flatnonzero(ends_m) + 1
    lens = (tend - tstart).astype(np.int64)
    m_arr = np.diff(np.searchsorted(tstart, bnd)).astype(np.int64)
    if tstart.size == 0:
        return np.empty(0, dtype=np.uint64), m_arr
    L = low.size
    arr64 = low.astype(np.uint64) + U64(1)
    ppow = np.full(L, POLY_P, dtype=np.uint64)
    ppow[0] = 1
    np.cumprod(ppow, out=ppow)
    pinv = np.full(L, POLY_PINV, dtype=np.uint64)
    pinv[0] = 1
    np.cumprod(pinv, out=pinv)
    prefix = np.zeros(L + 1, dtype=np.uint64)
    np.cumsum(arr64 * ppow, out=prefix[1:])
    raw = (prefix[tend] - prefix[tstart]) * pinv[tstart]
    return mix64(raw ^ (lens.astype(np.uint64) * _LEN_C)), m_arr


def fallback_token_hashes(col: pa.Array):
    """Python-string tokenization for batches with non-ASCII bytes."""
    tok_lists = [
        [w for w in JAVA_WS.split((t or "").lower()) if w]
        for t in col.to_pylist()
    ]
    m_arr = np.fromiter(
        (len(ws) for ws in tok_lists), dtype=np.int64, count=len(tok_lists)
    )
    return token_hashes(tok_lists), m_arr


def batch_shingle_hashes(col: pa.Array, k: int):
    """Doc-segmented MIXED shingle hashes for one batch:
    (sh_mixed uint64[total], out_offs int64[ndocs+1], m_arr
    int64[ndocs]) with exactly max(m-k+1, 1) slots per doc (the
    <k-token combo / empty-shingle rules above). Segment di is
    sh_mixed[out_offs[di]:out_offs[di+1]]; m_arr is the per-doc token
    count, letting callers with a strict ≥k-token convention (decontam
    word n-grams) mask out the short-doc combo slots."""
    ndocs = len(col)
    got = ascii_token_hashes(col)
    if got is None:
        got = fallback_token_hashes(col)
    th_all, m_arr = got
    offs = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(m_arr, out=offs[1:])
    n_sh = np.where(m_arr >= k, m_arr - k + 1, 1)
    out_offs = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(n_sh, out=out_offs[1:])
    sh_flat = np.zeros(out_offs[-1], dtype=np.uint64)
    comb = comb_multipliers(k)
    L = th_all.size
    if L >= k:
        s_flat = th_all[0 : L - k + 1] * comb[0]
        for j in range(1, k):
            s_flat = s_flat + th_all[j : L - k + 1 + j] * comb[j]
        # valid shingle starts: within-doc windows only
        doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), m_arr)
        pos = np.arange(L, dtype=np.int64) - offs[doc_of]
        ok = (m_arr[doc_of] >= k) & (pos <= m_arr[doc_of] - k)
        vp = np.flatnonzero(ok)
        sh_flat[out_offs[doc_of[vp]] + pos[vp]] = s_flat[vp]
    # short docs (0 < m < k): ONE shingle of all m tokens — rare and
    # <k tokens each, the Python loop is bounded
    for di in np.flatnonzero((m_arr > 0) & (m_arr < k)):
        th = th_all[offs[di] : offs[di + 1]]
        sh_flat[out_offs[di]] = (th * comb[: m_arr[di]]).sum()
    # empty docs keep the zero "empty shingle" slot as-is
    return mix64(sh_flat), out_offs, m_arr


def first_per_doc(h: np.ndarray, doc_of: np.ndarray):
    """Distinct-within-doc with no per-doc loop: (h_s, doc_s, first) —
    the slots sorted by (doc, hash), and the mask of each (doc, hash)
    pair's first occurrence. h_s[first] lists every doc's distinct
    hashes ascending, docs in order."""
    order = np.lexsort((h, doc_of))
    h_s, doc_s = h[order], doc_of[order]
    first = np.ones(order.size, dtype=bool)
    first[1:] = (h_s[1:] != h_s[:-1]) | (doc_s[1:] != doc_s[:-1])
    return h_s, doc_s, first
