"""Executable spec for the dedup/ANN operators (plain Python, no Spark).

Companion to refspec.py (the extraction spec): per-document loops and
python ints/floats replaying, bit-for-bit, what the Spark operators in
ocr_tool_spark/dataprep/{dedup,similarity,decontam}.py compute — so the
generated VALUES oracles in plans/driver_queries.py can hash-check the
"approximate" operators too. These ops are approximate with respect to
RECALL, but their OUTPUT is a pure deterministic function of the input
(fixed hyperplanes/hash constants, no RNG at query time), so an
independent replay is a legitimate differential oracle.

Equality-critical details replicated here:
- xxh64: Spark's xxhash64 (canonical XXH64, seed 42) — verified
  against the JVM implementation in tests/test_refspec_dataprep.py.
- spark_round: Spark's Round(double, s) goes through
  BigDecimal.valueOf (the SHORTEST-decimal repr of the double), then
  HALF_UP — i.e. Decimal(repr(x)).quantize(HALF_UP), not Decimal(x).
- MinHash bucket ids only matter through EQUALITY, so the replay
  groups on the raw signature-slice tuple instead of replaying the
  bucket hash (an xxhash64 collision merging two buckets in Spark and
  not here has probability ~2^-64 per bucket pair — ignored).
- Cosine/fold order: F.aggregate is a LEFT fold over index order with
  a 0.0 double accumulator; python floats replay the identical IEEE
  sequence.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

_M = (1 << 64) - 1
_P31 = (1 << 31) - 1

# ------------------------------------------------------------ xxhash64

_P1, _P2, _P3, _P4, _P5 = (
    11400714785074694791,
    14029467366897019727,
    1609587929392839161,
    9650029242287828579,
    2870177450012600261,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Canonical XXH64 (unsigned); Spark's xxhash64 for string/binary
    columns equals signed64(xxh64(utf8_bytes, seed=42))."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = (((h ^ ((_rotl((v * _P2) & _M, 31) * _P1) & _M)) * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    return h ^ (h >> 32)


def signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


# ------------------------------------------------------- shared pieces

_JAVA_WS = "[ \t\n\x0b\f\r]"


def _collapse_ws(s: str) -> str:
    """regexp_replace(s, '\\s+', ' ') with Java's ASCII \\s class."""
    out = []
    in_ws = False
    ws = set(" \t\n\x0b\f\r")
    for ch in s:
        if ch in ws:
            if not in_ws:
                out.append(" ")
            in_ws = True
        else:
            out.append(ch)
            in_ws = False
    return "".join(out)


def normalize_text(s: str) -> str:
    """Mirror of dedup.normalize_text: lower, collapse \\s+, trim."""
    return _collapse_ws((s or "").lower()).strip(" ")


def tokens(s: str) -> list[str]:
    """Mirror of F.split(normalize_text(c), ' '): '' -> ['']."""
    return normalize_text(s).split(" ")


def spark_round(x: float, scale: int = 6) -> float:
    """Spark Round(double, s): BigDecimal.valueOf(x) (shortest-decimal
    repr) -> setScale(s, HALF_UP) -> double."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


# -------------------------------------------------------- MinHash+LSH

_POLY_P = 0x100000001B3
_LEN_C = 0x9E3779B97F4A7C15
_COMB_C = 0xD6E8FEB86659FD93


def _mix64(z: int) -> int:
    z = (z + 0x9E3779B97F4A7C15) & _M
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M
    return z ^ (z >> 31)


def _kernel_tokens(text: str) -> list[str]:
    """The Arrow kernel's own tokenization: split the LOWERED raw text
    on Java-\\s runs, drop empties (no trim/collapse normalization)."""
    import re

    return [w for w in re.split(f"{_JAVA_WS}+", (text or "").lower()) if w]


def _token_hash(tok: str) -> int:
    b = tok.encode("utf-8")
    h = 0
    pw = 1
    for byte in b:
        h = (h + (byte + 1) * pw) & _M
        pw = (pw * _POLY_P) & _M
    return _mix64(h ^ ((len(b) * _LEN_C) & _M))


def shingle_hash_set(text: str, k: int = 3) -> frozenset[int]:
    """Mirror of dedup.shingle_hash_sets for one document: the DISTINCT
    mixed 64-bit shingle hashes the Arrow kernel produces (unsigned).
    The LSH verify intersects these instead of shingle strings; Jaccard
    is identical to the string-set form absent a 2^-64 collision."""
    comb = [(_mix64(((j + 1) * _COMB_C) & _M) | 1) for j in range(k)]
    th = [_token_hash(w) for w in _kernel_tokens(text)]
    m = len(th)
    if m >= k:
        raw = [
            sum(th[i + j] * comb[j] for j in range(k)) & _M
            for i in range(m - k + 1)
        ]
    elif m > 0:
        raw = [sum(th[j] * comb[j] for j in range(m)) & _M]
    else:
        raw = [0]
    return frozenset(_mix64(s) for s in raw)


def minhash_signature(text: str, num_hashes: int = 32, k: int = 3) -> tuple[int, ...]:
    """Mirror of dedup.minhash_signatures_arrow for one document."""
    comb = [(_mix64(((j + 1) * _COMB_C) & _M) | 1) for j in range(k)]
    th = [_token_hash(w) for w in _kernel_tokens(text)]
    m = len(th)
    if m >= k:
        raw = [
            sum(th[i + j] * comb[j] for j in range(k)) & _M
            for i in range(m - k + 1)
        ]
    elif m > 0:
        raw = [sum(th[j] * comb[j] for j in range(m)) & _M]
    else:
        raw = [0]
    shingle_hashes = sorted({_mix64(s) for s in raw})
    xs = [s % _P31 for s in shingle_hashes]
    sig = []
    for i in range(num_hashes):
        a = 2 * i + 1
        b = (0x9E3779B9 * (i + 1)) & 0x7FFFFFFF
        sig.append(min((a * x + b) % _P31 for x in xs))
    return tuple(sig)


def _bucket_pairs(
    buckets: dict[object, list[int]], max_bucket: int
) -> set[tuple[int, int]]:
    """Mirror of dedup.bucket_pairs: all pairs for buckets of size
    2..max_bucket, star pairs to the min-id representative above."""
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        ms = sorted(members)
        if len(ms) <= max_bucket:
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    pairs.add((ms[i], ms[j]))
        else:
            rep = ms[0]
            for m in ms[1:]:
                pairs.add((rep, m))
    return pairs


def minhash_pairs(
    docs: list[tuple[int, str]],
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    max_bucket: int = 64,
) -> list[tuple[int, int, float]]:
    """Mirror of dedup.minhash_lsh_pairs: returns
    (id_a, id_b, round(jaccard, 6)) sorted by (id_a, id_b).

    Buckets are keyed on the raw (band, signature-slice) tuple —
    equality-equivalent to the engine's xxhash64 bucket ids."""
    rows_per_band = num_hashes // bands
    sigs = {i: minhash_signature(t, num_hashes, k) for i, t in docs}
    buckets: dict[object, list[int]] = {}
    for i, sig in sigs.items():
        for b in range(bands):
            key = (b, sig[b * rows_per_band : (b + 1) * rows_per_band])
            buckets.setdefault(key, []).append(i)
    cand = _bucket_pairs(buckets, max_bucket)
    sh = {i: shingle_hash_set(t, k) for i, t in docs}
    out = []
    for a, b in sorted(cand):
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        jac = inter / union
        if jac >= threshold:
            out.append((a, b, spark_round(jac, 6)))
    return out


# ------------------------------------------------------------- SimHash


def simhash_kernel(text: str) -> int:
    """Mirror of dedup.simhash_signatures_arrow (the r4 production
    path): Charikar votes over the minhash kernel's polynomial token
    hashes — bit_j = [2·ones_j > m]. Empty/whitespace docs vote
    nowhere: sig 0."""
    th = [_token_hash(w) for w in _kernel_tokens(text)]
    m = len(th)
    sig = 0
    for j in range(64):
        ones = sum((h >> j) & 1 for h in th)
        if 2 * ones > m:
            sig |= 1 << j
    return signed64(sig)


def simhash_pairs(
    docs: list[tuple[int, str]], max_hamming: int = 3, max_bucket: int = 64
) -> list[tuple[int, int, int]]:
    """Mirror of dedup.simhash_pairs: (id_a, id_b, hamming) sorted."""
    sigs = {i: simhash_kernel(t) for i, t in docs}

    def u64(x: int) -> int:
        return x & _M

    buckets: dict[object, list[int]] = {}
    for i, sig in sigs.items():
        for c in range(4):
            buckets.setdefault((c, (u64(sig) >> (16 * c)) & 0xFFFF), []).append(i)
    pairs = _bucket_pairs(buckets, max_bucket)
    out = []
    for a, b in sorted(pairs):
        ham = bin(u64(sigs[a]) ^ u64(sigs[b])).count("1")
        if ham <= max_hamming:
            out.append((a, b, ham))
    return out


# ------------------------------------------------------------ decontam


def contamination(
    docs: list[tuple[int, str]], evals: list[tuple[int, str]], n: int = 8
) -> list[tuple[int, int, int]]:
    """Mirror of decontam.contamination: (doc_id, n_shared_grams,
    contaminated) sorted by doc_id. Grams are distinct n-token strings
    over the kernel's tokens; a doc shorter than n tokens has none."""

    def grams(text: str) -> set[str]:
        t = _kernel_tokens(text)
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    ev = set().union(*(grams(t) for _, t in evals))
    out = []
    for i, t in sorted(docs):
        shared = len(grams(t) & ev)
        out.append((i, shared, int(shared > 0)))
    return out


# ------------------------------------------------------------- SRP kNN


def _fold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _fold_norm(a: list[float]) -> float:
    import math

    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def cosine(a: list[float], b: list[float]) -> float:
    """Mirror of similarity.cosine: dot/(norm*norm), each a LEFT fold
    in index order over float64."""
    return _fold_dot(a, b) / (_fold_norm(a) * _fold_norm(b))


def srp_buckets(
    vectors: list[list[float]],
    dim: int,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 100,
) -> list[tuple[int, ...]]:
    """Mirror of similarity.srp_signatures: per-vector int32 bucket id
    for each of n_tables deterministic Gaussian hyperplane tables."""
    import numpy as np

    planes = [
        np.random.default_rng(seed + t).standard_normal((n_bits, dim))
        for t in range(n_tables)
    ]
    pow2 = (1 << np.arange(n_bits)).astype(np.int32)
    V = np.array(vectors, dtype=np.float64)
    out = []
    for t in range(n_tables):
        bits = (V @ planes[t].T) > 0
        out.append((bits @ pow2).astype(np.int32))
    return [tuple(int(out[t][i]) for t in range(n_tables)) for i in range(len(vectors))]


def lsh_topk(
    rows: list[tuple[int, list[float]]],
    query_vec_id: int,
    k: int = 10,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 100,
) -> list[tuple[int, float]]:
    """Mirror of similarity.lsh_topk: (vec_id, round(cos,6)) rows,
    ordered by (cos_sim desc, vec_id), top k."""
    ids = [i for i, _ in rows]
    vecs = [v for _, v in rows]
    buckets = srp_buckets(vecs, dim, n_bits, n_tables, seed)
    bid = dict(zip(ids, buckets))
    vid = dict(rows)
    q = vid[query_vec_id]
    qb = bid[query_vec_id]
    cand = [
        i for i in ids
        if i != query_vec_id and any(bid[i][t] == qb[t] for t in range(n_tables))
    ]
    scored = [(i, spark_round(cosine(vid[i], q), 6)) for i in cand]
    scored.sort(key=lambda r: (-r[1], r[0]))
    return scored[:k]


# ---------------------------------------------------------- components


def pair_components(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Mirror of dedup.pair_components via union-find: (doc_id,
    component=min reachable id), sorted by doc_id. An independent
    algorithm (path-compressed union-find vs the engine's min-label
    propagation) — agreement is a real differential check, not a
    replay of the same code."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return sorted((x, find(x)) for x in parent)
