"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — all expressed with JVM-side higher-order functions (no
per-row Python). The reference has no dedup operators; these extend
the engine per the project north star (BASELINE.json).

Scale design: every variant is one scan + one (bucket) shuffle.
Candidate generation is always through LSH-style bucketing so the
pairwise work is per-bucket, never a global cross join. The "drop"
decision is the standard one-pass heuristic: a document is removed
when any bucket contains a smaller-id near-duplicate (no iterative
connected components — at 100 TB that heuristic is what production
dedup pipelines (e.g. the C4/RefinedWeb recipes) use).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import reliable_barrier
from ..util import spread_for_cpu as _spread_for_cpu_shared


def _spread_for_cpu(df: DataFrame, id_col: str) -> DataFrame:
    return _spread_for_cpu_shared(df, id_col)


def _winnow_window_mins(a, w: int):
    """Per-array winnowing kernel shared by ``containment_dedup``'s
    mapInPandas stage and its equivalence test (ADVICE r16: the test
    must pin the SHIPPED kernel, not a local copy): sliding-window min
    over ``w``-length windows of an int64 hash array, then
    first-occurrence distinct — exactly the former Catalyst
    ``array_distinct(transform(sequence, array_min(slice(...))))``
    expression, vectorized."""
    import numpy as np

    mins = np.lib.stride_tricks.sliding_window_view(a, w).min(axis=1)
    _, first = np.unique(mins, return_index=True)
    return mins[np.sort(first)]


# --- vectorized XXH64 (optimization r17, guide §4.2) ---------------------
# Bit-exact reimplementation of Spark's ``xxhash64`` (XXH64, seed 42;
# Collet's reference algorithm — public spec) as numpy uint64 lane
# arithmetic, so the per-position k-gram hashing that dominated
# ``containment_dedup``'s scan stage (one JVM substring allocation +
# one scalar hash per char position) becomes one vectorized pass.
# Pinned bit-for-bit against the Spark expression in
# tests/test_vectorized_kernels.py on an adversarial corpus (ASCII,
# multibyte, astral plane, window-straddling chars, k < 8 / 8..31 /
# >= 32 byte message lengths — every branch of the algorithm).
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_XX_SEED = 42


def _xxh64_rows(mat, length: int):
    """XXH64 (seed 42) of each row of ``mat`` — a C-contiguous (n, W)
    uint8 matrix, W a multiple of 8, zero-padded past ``length`` (the
    true message byte length, identical for every row). Returns int64
    hashes bit-identical to Spark's ``xxhash64`` over the same bytes."""
    import numpy as np

    u = np.uint64
    p1, p2, p3, p4, p5 = u(_XXP1), u(_XXP2), u(_XXP3), u(_XXP4), u(_XXP5)

    def rotl(x, r):
        return (x << u(r)) | (x >> u(64 - r))

    n = mat.shape[0]
    words = mat.view(u)  # little-endian lanes, as the spec reads them
    dwords = mat.view(np.uint32)
    off = 0
    if length >= 32:
        v1 = np.full(n, u((_XX_SEED + _XXP1 + _XXP2) % 2**64), dtype=u)
        v2 = np.full(n, u((_XX_SEED + _XXP2) % 2**64), dtype=u)
        v3 = np.full(n, u(_XX_SEED), dtype=u)
        v4 = np.full(n, u((_XX_SEED - _XXP1) % 2**64), dtype=u)
        for s in range(length // 32):
            b = 4 * s
            v1 = rotl(v1 + words[:, b] * p2, 31) * p1
            v2 = rotl(v2 + words[:, b + 1] * p2, 31) * p1
            v3 = rotl(v3 + words[:, b + 2] * p2, 31) * p1
            v4 = rotl(v4 + words[:, b + 3] * p2, 31) * p1
        h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = (h ^ (rotl(v * p2, 31) * p1)) * p1 + p4
        off = (length // 32) * 32
    else:
        h = np.full(n, u((_XX_SEED + _XXP5) % 2**64), dtype=u)
    h = h + u(length)
    while off + 8 <= length:
        h = rotl(h ^ (rotl(words[:, off // 8] * p2, 31) * p1), 27) * p1 + p4
        off += 8
    if off + 4 <= length:
        h = rotl(h ^ (dwords[:, off // 4].astype(u) * p1), 23) * p2 + p3
        off += 4
    while off < length:
        h = rotl(h ^ (mat[:, off].astype(u) * p5), 11) * p1
        off += 1
    h ^= h >> u(33)
    h *= p2
    h ^= h >> u(29)
    h *= p3
    h ^= h >> u(32)
    return h.view(np.int64)


def _kgram_xxh64(text: str, k: int):
    """int64 ``xxhash64`` (seed 42) of every char k-gram of ``text`` —
    the vectorized twin of the former Catalyst
    ``transform(sequence(0, len-k), i -> xxhash64(substring(text, i+1, k)))``
    projection. Chars are code points (Spark substring semantics);
    hashes cover the UTF-8 bytes, exactly as Spark hashes them.
    Requires len(text) >= k. Multibyte texts group windows by byte
    length so every group still hashes as one fixed-width matrix."""
    import numpy as np

    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    nchars = len(text)
    n = nchars - k + 1
    if len(b) == nchars:  # ASCII: every window is k bytes wide
        width = (k + 7) & ~7
        pad = np.zeros(len(b) + width, dtype=np.uint8)
        pad[: len(b)] = b
        mat = np.ascontiguousarray(
            pad[np.arange(n)[:, None] + np.arange(width)[None, :]]
        )
        mat[:, k:] = 0
        return _xxh64_rows(mat, k)
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    clen = 1 + (cp >= 0x80).astype(np.int64) + (cp >= 0x800) + (cp >= 0x10000)
    offs = np.concatenate(([0], np.cumsum(clen)))
    starts = offs[:n]
    lens = offs[k : k + n] - starts
    out = np.empty(n, dtype=np.int64)
    pad = np.zeros(len(b) + 4 * k + 8, dtype=np.uint8)
    pad[: len(b)] = b
    for L in np.unique(lens):
        sel = lens == L
        st = starts[sel]
        width = (int(L) + 7) & ~7
        mat = np.ascontiguousarray(pad[st[:, None] + np.arange(width)[None, :]])
        mat[:, int(L) :] = 0
        out[sel] = _xxh64_rows(mat, int(L))
    return out


def _spread_pairs(df: DataFrame, key: str) -> DataFrame:
    """Unconditional numbered repartition for compute-heavy-per-byte
    verify stages. spread_for_cpu's static partition-count guard cannot
    help here: the pair frame PLANS with 32 shuffle partitions but
    AQE's size-based coalescing folds the tiny (two-longs-per-row)
    shuffle to 1-2 partitions AT RUNTIME before the expensive HOFs run.
    An explicit numPartitions repartition is exempt from AQE
    coalescing. Only ever widens runtime parallelism: the explicit
    count equals the session's shuffle-partition setting, i.e. what a
    byte-sized stage would have gotten before coalescing."""
    spark = df.sparkSession
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return df.repartition(n, key)



def _bucket_probes(
    buckets: DataFrame, keys: list[str], id_col: str, max_probes: int | None
) -> DataFrame:
    """The K smallest-id rows per bucket — the only rows the pairwise
    join compares against.

    Skew guard for every LSH self-join: a hot bucket (boilerplate,
    near-empty docs, exact-dup floods) makes per-bucket all-pairs
    quadratic; joining each row against only the K smallest ids bounds
    the work to n*K per bucket (linear) while still catching the
    dominant case — a duplicate matching its cluster representative
    (the smallest id IS probe #1). The row_number shuffle partitions by
    the bucket key, the same partitioning the join needs, so AQE reuses
    it rather than shuffling twice.

    ``max_probes=None`` disables the cap (EXACT candidate generation:
    every bucket-sharing pair is compared). The dedup entry points
    default to a LARGE finite cap (256): on real web corpora hot
    buckets (exact-dup floods, boilerplate) are the common case, and
    an uncapped self-join is quadratic exactly there. 256 probes bound
    per-bucket work to n*256 and catch the dominant case (a
    duplicate's cluster representative — the smallest id — is probe
    #1). RECALL CAVEAT: in a polluted bucket with >K members, a
    near-dup pair whose smaller member ranks outside the K smallest
    ids is never compared and survives — the cap trades exactly that
    tail of recall for skew safety. Pass ``None`` for exact
    generation when the corpus is known skew-free, or raise K when
    bucket pollution is expected.
    """
    if max_probes is None:
        return buckets
    w = Window.partitionBy(*keys).orderBy(id_col)
    return (
        buckets.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_probes)
        .drop("_rk")
    )

# ---------------------------------------------------------------------------
# shingling helpers (JVM higher-order functions)
# ---------------------------------------------------------------------------


def words(col: Column) -> Column:
    return F.split(F.lower(col), r"\s+")


def word_shingles_of(warr: Column, n: int = 3) -> Column:
    """n-word shingles (distinct) from an ALREADY-PROJECTED word-array
    column. ``warr`` must be a plain column reference, not a `split`
    expression: the slice lambda runs once per window position, and
    Catalyst inlines whatever expression the lambda captures — a
    captured split() re-tokenizes the whole document at every window,
    turning shingling O(len²) (the staged form measured 3x faster at
    sf0.1; same trap as the winnowing helper below)."""
    k = F.size(warr) - (n - 1)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(warr, i + 1, n), " "),
    )
    return F.array_distinct(
        F.when(k > 0, shingles).otherwise(F.array(F.array_join(warr, " ")))
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """n-word shingles as an array<string> (distinct), from raw text.

    PERF: this single-expression form captures the split() inside the
    slice lambda, so Catalyst re-tokenizes the document at every
    window position — O(len²). Hot paths must project ``words(col)``
    into a column first and call :func:`word_shingles_of` on it."""
    return word_shingles_of(words(col), n)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per identical content.

    Two-phase, both scale-friendly: (1) a SLIM aggregation — column
    pruning reduces the scan to (content, id), the shuffle carries
    only (hash, id) with map-side combine, min id per 64-bit content
    hash; (2) a left-semi join of the full rows against the keep-set
    on the unique id (AQE broadcasts the keep side when it fits). No
    sort anywhere, and payload columns can be ANY type (maps/arrays —
    a min(struct(...)) formulation cannot order those, and FlowFile
    frames carry both). Collision risk at 100 TB: use sha2-256 string
    when paranoia beats speed.
    """
    keep_ids = (
        df.select(F.xxhash64(F.col(content_col)).alias("_h"), F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep_ids, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """array<bigint> MinHash signature: per seed, min over shingle
    hashes. xxhash64(shingle, seed) is the hash family.

    NOTE: higher-order functions are interpreted (no codegen) at
    ~10us/lambda-eval — this pure-Catalyst form costs ~40ms/document.
    The default pipeline path uses ``minhash_signature_pandas``
    (Arrow-batched numpy, ~100x faster); this expression form remains
    for plans that must stay UDF-free.
    """
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    return F.transform(
        seeds,
        lambda seed: F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, seed))),
    )


_MERSENNE = (1 << 61) - 1


def minhash_signature_pandas(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_words: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, _sig array<bigint>) via Arrow-batched numpy MinHash.

    Per batch: blake2b-8 each shingle once, then one (num_hashes x
    n_shingles) universal-hash matrix min-reduce — the standard
    vectorized MinHash (same construction as datasketch/text-dedup).
    Deterministic across processes (no PYTHONHASHSEED dependence).
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    A = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.uint64)
    B = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.uint64)

    def run(batches):
        import hashlib

        import pandas as pd

        n = shingle_words
        for pdf in batches:
            sigs = []
            for text in pdf[content_col]:
                ws = str(text).lower().split()
                if len(ws) >= n:
                    shingles = {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
                else:
                    shingles = {" ".join(ws)}
                hs = np.fromiter(
                    (
                        int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "little")
                        for s in shingles
                    ),
                    dtype=np.uint64,
                    count=len(shingles),
                )
                # universal hashing mod Mersenne prime, min per row
                sig = ((A[:, None] * hs[None, :] + B[:, None]) % _MERSENNE).min(axis=1)
                sigs.append(sig.astype(np.int64))
            yield pd.DataFrame({id_col: pdf[id_col], "_sig": sigs})

    out_schema = f"{id_col} long, _sig array<long>"
    return _spread_for_cpu(df.select(id_col, content_col), id_col).mapInPandas(run, out_schema)


def minhash_lsh_candidates(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """(band, band_hash) bucket table: docs sharing a bucket are
    near-dup candidates. rows = num_hashes/bands per band.
    """
    rows_per_band = num_hashes // bands
    # Signature via Arrow-batched numpy (mapInPandas is also a hard
    # materialization barrier, so `_sig` is computed exactly once per
    # row); band hashes are computed JVM-side from the materialized
    # array after exploding the band index through a Generate node,
    # which blocks projection collapse.
    sig_df = minhash_signature_pandas(df, content_col, id_col, num_hashes, shingle_words)
    exploded = sig_df.select(
        F.col(id_col), F.col("_sig"), F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    )
    return exploded.select(
        F.col(id_col),
        F.col("band"),
        F.xxhash64(
            F.array_join(
                F.transform(
                    F.slice(F.col("_sig"), F.col("band") * rows_per_band + 1, F.lit(rows_per_band)),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("band_hash"),
    )


def minhash_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup removal: drop any doc that shares an LSH
    bucket with a smaller-id doc. One shuffle to buckets, one
    aggregation back to docs, one semi-join.
    """
    from pyspark.sql import Window

    buckets = minhash_lsh_candidates(df, content_col, id_col, num_hashes, bands, shingle_words)
    # min-per-bucket as a window function: one shuffle, ONE evaluation
    # of the (mapInPandas) signature lineage. The groupBy+self-join
    # formulation evaluated the whole bucket pipeline twice.
    w = Window.partitionBy("band", "band_hash")
    doc_min = (
        buckets.withColumn("_bucket_min", F.min(id_col).over(w))
        .groupBy(id_col)
        .agg(F.min("_bucket_min").alias("_rep"))
    )
    keep = doc_min.filter(F.col("_rep") == F.col(id_col)).select(id_col)
    return df.join(keep, id_col, "left_semi")


def minhash_component_map(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """(doc, exemplar) over the TRANSITIVE closure of LSH bucket
    co-membership: chains A~B (bucket X), B~C (bucket Y) all map to
    min(A) even though A and C never share a bucket.

    :func:`minhash_dedup`'s per-doc bucket-min rep can point at a doc
    that was itself dropped (C's rep is B, B's rep is A) — fine for
    the kept set, wrong as a dedup MAP. Connected components over
    per-bucket STAR edges (each member -> its bucket min: connectivity
    preserved at O(bucket size) edges, no pairwise blowup) give every
    doc its surviving exemplar — what a removal-provenance record or a
    train/test leak check actually joins against. Returns
    ``(id_col, exemplar)`` for every input doc (singletons map to
    themselves)."""
    from .graph import connected_components

    buckets = minhash_lsh_candidates(df, content_col, id_col, num_hashes, bands, shingle_words)
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_hash")
    star = (
        buckets.withColumn("_bucket_min", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("_bucket_min"))
        .select(F.col(id_col).alias("_s"), F.col("_bucket_min").alias("_d"))
        .distinct()
    )
    comp = connected_components(star, src="_s", dst="_d")
    mapped = comp.select(F.col("node").alias(id_col), F.col("component").alias("exemplar"))
    return (
        df.select(id_col)
        .join(mapped, id_col, "left")
        .select(id_col, F.coalesce("exemplar", F.col(id_col)).alias("exemplar"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(col: Column) -> Column:
    """64-bit SimHash of whitespace tokens, fully JVM-side.

    bit_i(sig) = sign of sum over tokens of ±1 depending on bit_i of
    xxhash64(token). Folds a 64-wide counter array with aggregate +
    zip_with; no Python, no shuffle.
    """
    toks = words(col)
    bits = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: F.when(
                    F.call_function("shiftright", F.xxhash64(t), i.cast("int")).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(-1).cast("long")),
            ),
            lambda a, b: a + b,
        ),
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(63)),
            lambda cnt, i: F.when(
                cnt > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i.cast("int"))
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_signature_pandas(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, _sig long) SimHash-64 via Arrow-batched numpy.

    The default hot path: the pure-Catalyst ``simhash64`` runs 64
    interpreted lambda evals per token (~10µs each, no codegen) — the
    one per-row scale-killer in the dedup pack at 100×. Here each token
    is hashed once (blake2b-8, deterministic across processes) and the
    64 bit-counters are a single numpy popcount-style matrix reduce.
    NOTE: different hash family than ``simhash64`` (blake2b vs
    xxhash64), so signatures differ between the two forms; pick one per
    pipeline. Dedup semantics (Hamming locality) are identical.
    """
    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)

    def run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            sigs = np.zeros(len(pdf), dtype=np.uint64)
            for j, text in enumerate(pdf[content_col]):
                toks = str(text).lower().split()
                if not toks:
                    continue
                hs = np.fromiter(
                    (
                        int.from_bytes(hashlib.blake2b(t.encode(), digest_size=8).digest(), "little")
                        for t in toks
                    ),
                    dtype=np.uint64,
                    count=len(toks),
                )
                # bit_i(sig) = sign of sum over tokens of ±1 per bit_i
                ones = ((hs[:, None] >> shifts) & 1).sum(axis=0, dtype=np.int64)
                pos = (2 * ones - len(hs)) > 0
                sigs[j] = np.bitwise_or.reduce(pos.astype(np.uint64) << shifts)
            yield pd.DataFrame({id_col: pdf[id_col], "_sig": sigs.astype(np.int64)})

    return _spread_for_cpu(df.select(id_col, content_col), id_col).mapInPandas(
        run, f"{id_col} long, _sig long"
    )


def simhash_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    hamming_threshold: int = 3,
    arrow: bool = True,
    max_probes: int | None = 256,
) -> DataFrame:
    """SimHash near-dup removal. Bucket by 4 16-bit chunks: two
    signatures within Hamming distance 3 share at least one chunk
    (pigeonhole), so chunk-equality buckets are a complete candidate
    filter; exact Hamming check prunes false positives. Default is
    EXACT (every bucket-sharing pair checked); pass ``max_probes=K``
    to opt into the linear skew guard for hot-chunk corpora — that
    trades recall (a pair whose members are both outside a bucket's K
    smallest ids is missed) for bounded per-bucket work.
    """
    # sig once per row (Arrow numpy path by default), then explode
    # chunk indices (Generate blocks projection collapse — see
    # minhash_lsh_candidates)
    if arrow:
        sig_df = simhash_signature_pandas(df, content_col, id_col)
    else:
        sig_df = df.select(F.col(id_col), simhash64(F.col(content_col)).alias("_sig"))
    exploded = sig_df.select(
        F.col(id_col), F.col("_sig"), F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk_idx")
    )
    chunks = exploded.select(
        F.col(id_col),
        F.col("_sig"),
        F.col("chunk_idx"),
        F.call_function("shiftright", F.col("_sig"), (F.col("chunk_idx") * 16).cast("int"))
        .bitwiseAND(F.lit(0xFFFF))
        .alias("chunk_val"),
    ).persist()  # both join sides read this; avoids re-running the signature stage
    left = chunks.alias("l")
    right = _bucket_probes(chunks, ["chunk_idx", "chunk_val"], id_col, max_probes).alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col(f"l.{id_col}") > F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("_id"),
            F.col(f"r.{id_col}").alias("_other"),
            F.bit_count(F.col("l._sig").bitwiseXOR(F.col("r._sig"))).alias("_ham"),
        )
        .filter(F.col("_ham") <= hamming_threshold)
    )
    # materialize the (small) dropped-id set eagerly, then release the
    # cached chunk table — a long-lived session otherwise accumulates
    # one persisted intermediate per dedup call.
    # reliable_barrier: when the session has a checkpoint dir set
    # (spark.sparkContext.setCheckpointDir — the right setup on
    # preemptible/spot fleets) the barrier is a RELIABLE .checkpoint()
    # that survives executor loss; otherwise it falls back to fast
    # executor-local localCheckpoint (lineage-free, fine on stable
    # clusters / local mode).
    dropped = reliable_barrier(pairs.select(F.col("_id").alias(id_col)).distinct())
    chunks.unpersist()
    return df.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard (verified near-dup)
# ---------------------------------------------------------------------------


def ngram_jaccard_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_words: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_probes: int | None = 256,
    verify_strategy: str = "auto",
    transitive: bool = False,
) -> DataFrame:
    """LSH candidates -> exact Jaccard verification -> drop.

    ``transitive=True`` switches the drop rule from pairwise (any doc
    that is the larger side of a verified pair is dropped — a doc can
    survive because its only duplicate was itself dropped) to
    component-consistent: exactly ONE survivor per connected component
    of the verified-pair graph (analytics.graph pointer jumping).
    Star example — pairs (1,3) and (2,3): pairwise keeps {1,2},
    transitive keeps {1}. Near-duplicate similarity is not actually
    transitive, so both semantics are legitimate; SemDeDup-style
    corpus pruning wants the transitive one.

    The LSH pass bounds the pairwise work; Jaccard is computed with
    array_intersect/array_union on distinct shingle sets. Default is
    EXACT within the LSH filter: every bucket-sharing pair is Jaccard-
    verified, so any pair the banding catches IS checked (identical
    texts are always caught — identical signatures share every band).
    Hot buckets (boilerplate / near-empty docs) can opt into the skew
    guard with ``max_probes=K``: each doc is then only paired with the
    K smallest ids in its bucket (linear per bucket, bounded recall
    loss — see ``_bucket_probes``).
    """
    # persist the bucket table: it appears on BOTH sides of the
    # candidate join (full side + probes side) and Catalyst does not
    # reuse the exchange across the probes window, so without this the
    # whole mapInPandas signature lineage runs twice. The table is
    # (id, band, band_hash) ≈ 24 bytes/row x bands — a few percent of
    # the input text size, spill-safe at 100 TB.
    buckets = minhash_lsh_candidates(df, content_col, id_col, num_hashes, bands, shingle_words).persist()
    cand = (
        buckets.alias("a")
        .join(_bucket_probes(buckets, ["band", "band_hash"], id_col, max_probes).alias("b"), ["band", "band_hash"])
        .filter(F.col(f"a.{id_col}") > F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("_ida"), F.col(f"b.{id_col}").alias("_idb"))
        .distinct()
    )
    # The Jaccard verify needs each pair's shingle sets, and the
    # interpreted shingling HOF is the most expensive expression here.
    # Two regimes, chosen by MEASURED candidate density (the stats are
    # nearly free: cand is slim, persisted, and its generation cost is
    # paid by the verify either way):
    #
    # - SPARSE (pairs/doc small — the common web-corpus case): shingle
    #   INLINE on the joined pair rows; a doc re-shingles once per
    #   pair, but with few pairs per doc that beats paying an extra
    #   semi-join + two array-payload shuffles (measured 4.1s vs 14.8s
    #   at a clean 10x sf0.1).
    # - HOT (boilerplate floods, tiny vocabularies: a doc sits in up
    #   to max_probes x bands pairs): shingle ONCE per involved doc
    #   and join the precomputed sets — inline re-evaluation measured
    #   114s at a shingle-saturated 10x sf0.1 vs ~15s precomputed.
    if verify_strategy not in ("auto", "inline", "precompute"):
        raise ValueError(f"unknown verify_strategy {verify_strategy!r}")
    if verify_strategy == "auto":
        # one extra traversal to measure density; pass an explicit
        # strategy to skip it when the corpus shape is known (the
        # stats job costs roughly one candidate-generation pass)
        cand = cand.persist()
        # one aggregate over both pair ends: 2 rows a pair, and the
        # distinct ids counted as distinct() does (a null is one id)
        ends = cand.select(F.explode(F.array("_ida", "_idb")).alias("_id"))
        stats = ends.agg(
            F.count(F.lit(1)).alias("n2"),
            F.count_distinct("_id").alias("d"),
            F.max(F.col("_id").isNull().cast("int")).alias("z"),
        ).first()
        n_pairs = stats["n2"] // 2
        n_involved = stats["d"] + (stats["z"] or 0)
        hot = n_pairs > 0 and n_pairs >= 4 * n_involved
    else:
        hot = verify_strategy == "precompute"
        if hot:
            # the hot path reads cand on THREE sides (semi-join ids +
            # two pair joins) — without the barrier the LSH candidate
            # join + distinct re-runs per consumer
            cand = cand.persist()
    cand_ids = (
        cand.select(F.col("_ida").alias(id_col))
        .unionByName(cand.select(F.col("_idb").alias(id_col)))
        .distinct()
    )
    if hot:
        # explicit numbered repartition before the HOF: the slim
        # id/text frame AQE-coalesces to 1-2 runtime partitions and
        # the shingle expressions would run nearly serial
        shingled = (
            _spread_pairs(
                df.join(cand_ids, id_col, "left_semi").select(
                    id_col, F.col(content_col).alias("_t")
                ),
                id_col,
            )
            .select(id_col, words(F.col("_t")).alias("_wa"))
            .select(id_col, word_shingles_of(F.col("_wa"), shingle_words).alias("_sh"))
            .persist()
        )
        paired = cand.join(
            shingled.select(F.col(id_col).alias("_ida"), F.col("_sh").alias("_sha")), "_ida"
        ).join(
            shingled.select(F.col(id_col).alias("_idb"), F.col("_sh").alias("_shb")), "_idb"
        )
    else:
        shingled = None
        da = df.select(F.col(id_col).alias("_ida"), F.col(content_col).alias("_ta"))
        db = df.select(F.col(id_col).alias("_idb"), F.col(content_col).alias("_tb"))
        paired = (
            _spread_pairs(cand.join(da, "_ida").join(db, "_idb"), "_ida")
            .withColumn("_waa", words(F.col("_ta")))
            .withColumn("_wab", words(F.col("_tb")))
            .withColumn("_sha", word_shingles_of(F.col("_waa"), shingle_words))
            .withColumn("_shb", word_shingles_of(F.col("_wab"), shingle_words))
        )
    verified = paired.withColumn(
        "_jaccard",
        F.try_divide(
            F.size(F.array_intersect("_sha", "_shb")),
            F.size(F.array_union("_sha", "_shb")),
        ),
    ).filter(F.col("_jaccard") >= threshold)
    # eager dropped-id set, then release every cached intermediate
    # (no persisted table outlives the call)
    if transitive:
        from .graph import connected_components

        comp = connected_components(
            verified.select("_ida", "_idb"), src="_ida", dst="_idb"
        )
        dropped = reliable_barrier(
            comp.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
        )
    else:
        dropped = reliable_barrier(verified.select(F.col("_ida").alias(id_col)).distinct())
    buckets.unpersist()
    if verify_strategy == "auto" or hot:
        cand.unpersist()
    if shingled is not None:
        shingled.unpersist()
    return df.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns (JVM).

    try_divide: a zero-magnitude vector yields NULL, not a job-killing
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode.
    """
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return F.try_divide(dot, na * nb)


def embedding_dedup(
    df: DataFrame,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 8,
    seed: int = 42,
    max_probes: int | None = 256,
    multi_probe: bool = False,
) -> DataFrame:
    """Embedding near-dup removal: random-hyperplane LSH bucket ->
    exact cosine within bucket -> drop larger id.

    Hyperplanes are deterministic (seeded); the bucket key is the
    sign pattern, so the candidate join shuffles only per-bucket.
    Single-probe SRP is approximate — a near-dup pair straddling one
    hyperplane lands in different buckets. ``multi_probe=True`` also
    probes every Hamming-1 neighbor bucket (flip each sign bit on the
    probe side only: one side of the join fans out ×(num_planes+1),
    catching every pair within one hyperplane of each other at
    proportional cost). Candidate generation is exact-within-bucket by
    default; a hot bucket (a flood of identical vectors) can opt into
    the skew guard with ``max_probes=K`` (compare each vector against
    only the K smallest ids in its bucket; bounded recall loss).
    """
    import random

    import numpy as np

    rng = random.Random(seed)
    dim_row = df.select(F.size(F.col(embedding_col)).alias("d")).first()
    dim = dim_row["d"]
    planes = np.array([[rng.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)])
    weights = 1 << np.arange(num_planes, dtype=np.int64)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({id_col: [], "_bucket": []})
                continue
            E = np.array([np.asarray(e, dtype=np.float64) for e in pdf[embedding_col]])
            signs = (E @ planes.T) > 0
            yield pd.DataFrame({id_col: pdf[id_col], "_bucket": (signs * weights).sum(axis=1)})

    # bucket signs via one numpy matmul on a SLIM (id, bucket) table —
    # the former per-row hyperplane HOF ran num_planes x dim interpreted
    # lambda evals per row, twice (both join sides), and the probes
    # window shuffled+sorted the full embedding payload. Slim persist:
    # 16 bytes/row, referenced by both candidate-join sides.
    buckets = _spread_for_cpu(df.select(id_col, embedding_col), id_col).mapInPandas(
        run, f"{id_col} long, _bucket long"
    ).persist()
    probes_side = _bucket_probes(buckets, ["_bucket"], id_col, max_probes).alias("b")
    if multi_probe:
        flips = F.array(F.lit(0), *[F.lit(1 << i) for i in range(num_planes)])
        a_side = buckets.select(
            F.col(id_col),
            F.explode(F.transform(flips, lambda m: F.col("_bucket").bitwiseXOR(m))).alias("_bucket"),
        ).alias("a")
        cand = (
            a_side.join(probes_side, "_bucket")
            .filter(F.col(f"a.{id_col}") > F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("_ida"), F.col(f"b.{id_col}").alias("_idb"))
            .distinct()  # a pair may match via several flipped buckets
        )
    else:
        cand = (
            buckets.alias("a")
            .join(probes_side, "_bucket")
            .filter(F.col(f"a.{id_col}") > F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("_ida"), F.col(f"b.{id_col}").alias("_idb"))
            # no distinct: single-probe SRP gives each vector exactly ONE
            # bucket, so a pair can appear at most once
        )
    # embeddings join back ONLY for candidate pairs; exact cosine runs
    # on the (few) survivors of the bucket filter
    ea = df.select(F.col(id_col).alias("_ida"), F.col(embedding_col).alias("_ea"))
    eb = df.select(F.col(id_col).alias("_idb"), F.col(embedding_col).alias("_eb"))
    # same spread-before-verify as ngram_jaccard_dedup: the slim pair
    # table AQE-coalesces to a couple of partitions at runtime, then
    # the cosine HOF (aggregate over zip_with) runs nearly serial
    pairs = (
        _spread_pairs(cand.join(ea, "_ida").join(eb, "_idb"), "_ida")
        .withColumn("_cos", cosine(F.col("_ea"), F.col("_eb")))
        .filter(F.col("_cos") >= threshold)
    )
    # eager dropped-id set, then release the cached bucket table (see
    # simhash_dedup — no persisted intermediates outlive the call)
    dropped = reliable_barrier(pairs.select(F.col("_ida").alias(id_col)).distinct())
    buckets.unpersist()
    return df.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# streaming exact dedup (dedup-on-ingest)
# ---------------------------------------------------------------------------


def exact_dedup_stream(
    df: DataFrame,
    content_col: str = "content",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup on a STREAM: drop rows whose content hash was
    already seen within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys state by the 8-byte content
    hash and expires it once the watermark passes — bounded state, so
    ingest-time dedup (the training-pipeline "don't re-ingest the same
    document" gate) runs continuously instead of as a batch pass. The
    batch :func:`exact_dedup` remains the keep-smallest-id
    corpus-wide pass; this is its at-the-door complement (first
    arrival wins, per-stream-epoch semantics).
    """
    hashed = df.withColumn("_h", F.xxhash64(F.col(content_col)))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def semantic_dedup(
    df: DataFrame,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 0.95,
    n_clusters: int = 64,
    sample_rows: int = 100_000,
    iters: int = 10,
    seed: int = 42,
    max_cluster: int = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cluster
    the embedding space, then within each cluster keep one member of
    every epsilon-similar group.

    Spark shape: the spherical k-means quantizer trains on a BOUNDED
    driver sample (similarity.train_ivf_centroids — ~sample_rows x dim
    floats regardless of table size), assignment is a broadcast
    matmul (similarity.ivf_assign), and the within-cluster pass is one
    ``applyInPandas`` over cells — the only shuffle is the groupBy on
    the cell id. At 100 TB, pick n_clusters so the average cell fits
    an executor (the paper uses ~0.1% of corpus size).

    Keep rule (deterministic): cluster members are ranked by
    similarity-to-centroid DESC with id ASC tie-break; scanning in
    that order, a member is dropped iff it is >= eps cosine-similar to
    an already-kept member — so the most-central member of each
    duplicate group survives, and identical vectors always collapse to
    the lowest id. (The paper keeps the LOW-centroid-similarity
    extreme; centrality is chosen here so the survivor is the group's
    best exemplar — flip the sort to match the paper exactly.)

    Skew guard: only the ``max_cluster`` highest-centrality members of
    a cluster enter the O(k^2) pairwise pass; members beyond the cap
    are kept unexamined (bounded recall loss, same contract as the
    probe caps in the LSH dedups — documented, not silent: the cap is
    a parameter, not a constant).
    """
    import numpy as np
    import pandas as pd

    from .similarity import ivf_assign, train_ivf_centroids

    cent = train_ivf_centroids(
        df, n_cells=n_clusters, embedding_col=embedding_col,
        sample_rows=sample_rows, iters=iters, seed=seed,
    )
    cent = np.asarray(cent, dtype=np.float64)
    assigned = ivf_assign(df, cent, embedding_col=embedding_col, cell_col="_cell")
    slim = assigned.select(id_col, embedding_col, "_cell")

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({id_col: pdf[id_col]})
        # phase 0 — collapse BIT-EXACT duplicate vectors to the lowest
        # id first. Identity must not ride on float comparisons:
        # blocked BLAS reductions give identical vectors centroid-sims
        # differing in the last ulp depending on ROW POSITION, which
        # would make the tie-break between an original and its exact
        # copy nondeterministic (observed: the copy sorting first).
        pdf = (
            pdf.assign(
                _k=pdf[embedding_col].map(
                    lambda e: np.asarray(e, dtype=np.float64).tobytes()
                )
            )
            .sort_values(id_col)
            .drop_duplicates("_k", keep="first")
        )
        cell = int(pdf["_cell"].iloc[0])
        E = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[embedding_col]])
        norms = np.linalg.norm(E, axis=1, keepdims=True)
        E = E / np.where(norms == 0, 1.0, norms)
        simc = E @ cent[cell]
        ids = pdf[id_col].to_numpy()
        order = np.lexsort((ids, -simc))  # centrality desc, id asc
        head, tail = order[:max_cluster], order[max_cluster:]
        kept: list[int] = []
        buf = np.empty((len(head), E.shape[1]))  # preallocated kept-set matrix
        for i in head:
            if not kept or float(np.max(buf[: len(kept)] @ E[i])) < eps:
                buf[len(kept)] = E[i]
                kept.append(i)
        kept_ids = np.concatenate([ids[kept], ids[tail]]) if len(tail) else ids[kept]
        return pd.DataFrame({id_col: kept_ids})

    id_type = df.schema[id_col].dataType.simpleString()  # id-type agnostic
    kept_ids = slim.groupBy("_cell").applyInPandas(
        dedup_cell, schema=f"{id_col} {id_type}"
    )
    return df.join(kept_ids, id_col, "left_semi")


def winnowing_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_probes: int | None = 256,
    hash_fn: str = "xxhash64",
    transitive: bool = False,
) -> DataFrame:
    """Winnowing near-dup dedup (Schleimer et al. 2003, the MOSS
    pipeline; r8): documents sharing at least ``min_shared`` selected
    winnowing fingerprints are near-duplicates; the larger id of each
    qualified pair is dropped (the family's pairwise keep-smallest
    rule — see ngram_jaccard_dedup for the pairwise-vs-transitive
    discussion).

    Winnowing's guarantee makes this the CONTIGUOUS-overlap detector:
    any shared word run of length >= window+k-1 lands at least one
    shared fingerprint, so plagiarism-style passage reuse is caught
    even when the rest of the document differs completely (MinHash
    needs global set similarity; winnowing needs one shared passage).

    100 TB shape: identical to the LSH family — fingerprint generation
    is per-doc Catalyst HOFs (no shuffle), candidates come from an
    equi-join on the fingerprint value with the ``_bucket_probes``
    skew cap (a boilerplate fingerprint shared by a million docs stays
    linear), and only slim (id, fp) pairs ever shuffle. ``hash_fn``:
    'xxhash64' (default — 8-byte fingerprints) or 'md5' (hex strings,
    the oracle-reproducible choice)."""
    from .text_analysis import winnowing_fingerprint_rows

    fps = (
        winnowing_fingerprint_rows(df, id_col, content_col, k, window, hash_fn)
        .select(id_col, "fp")
        .distinct()
    )
    # persist: the (id, fp) table sits on both sides of the candidate
    # join (same rationale as the minhash bucket table)
    fps = fps.persist()
    cand = (
        fps.alias("a")
        .join(_bucket_probes(fps, ["fp"], id_col, max_probes).alias("b"), ["fp"])
        .filter(F.col(f"a.{id_col}") > F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("_ida"), F.col(f"b.{id_col}").alias("_idb"))
        .agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= min_shared)
    )
    if transitive:
        # component-consistent survivors (one per duplicate cluster),
        # same semantics switch as ngram_jaccard_dedup
        from .graph import dedup_by_components

        out = dedup_by_components(df, cand, id_col, pair_a="_ida", pair_b="_idb")
        fps.unpersist()
        return out
    drop = reliable_barrier(cand.select(F.col("_ida").alias(id_col)).distinct())
    fps.unpersist()
    return df.join(drop, id_col, "left_anti")


def containment_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    bucket_cap: int = 256,
) -> DataFrame:
    """Substring-containment dedup (r10): drop a document whose FULL
    text appears verbatim inside a LONGER document — the crawl shape
    exact dedup misses (an article re-crawled wrapped in boilerplate,
    a quote page containing the whole original). Returns the ids of
    CONTAINED documents.

    Candidate soundness: if A is a substring of B, every char-``k``-gram
    of A is a k-gram of B. A's MINIMUM k-gram hash is the min over a
    span of consecutive B k-grams, and winnowing (Schleimer et al.
    2003) always selects the minimum of every ``w``-window — so when A
    spans at least ``w`` k-grams, A's min hash is guaranteed in B's
    WINNOWED fingerprint set. Each doc therefore contributes ONE slim
    probe row (min fingerprint = array_min of its winnowed set) and
    only its winnowed fingerprints (~2/(w+1) of its length, ~12x fewer
    index rows than all positions — the every-position index probed
    7.3x at 10x data, this shape 3x) on the index side. The equi-join
    has no false negatives; the exact ``contains`` verify keeps zero
    false positives. Strictly-longer (or equal-length, larger-id)
    pairing rules out self-matches and double-drops of exact dups.

    100 TB shape: the index is slim (hash, id, length) rows with
    map-side distinct; the probe side is ONE row per doc. Hot
    fingerprints (shared boilerplate) are capped at ``bucket_cap``
    index entries per hash with deterministic ordering, the same skew
    dial as the LSH families. Text moves only for the final verify
    join on surviving candidate pairs. Docs too short for the
    guarantee (< k + w - 1 chars) fall back to a broadcast
    contains-probe (they are tiny by definition)."""
    from pyspark.sql import Window

    w = 16
    min_long = k + w - 1
    # ONE barrier up front: base feeds four branches (probe build,
    # fingerprint index, both verify sides, the short-doc fallback) —
    # the barrier avoids four recomputes of the input lineage AND works
    # around a Catalyst internal error ("key not found" in
    # AttributeMap) when a union input's subtree appears three times
    # under the window-capped join (observed Spark 4.1, r10).
    base = reliable_barrier(
        df.select(F.col(id_col), F.col(content_col).alias("_t")).select(
            id_col, "_t", F.length("_t").alias("_len")
        )
    )
    long_docs = base.where(F.col("_len") >= min_long)

    # k-gram hashing + window-min + distinct in ONE Arrow/numpy kernel
    # (optimization r16 vectorized the window-min per guide §4.2;
    # optimization r17 moves the HASHING in too): the Catalyst
    # transform(sequence, xxhash64(substring(...))) projection paid one
    # JVM substring allocation + one scalar hash call per char position
    # — the dominant remaining cost of this operator (~2.4 s of the
    # 4.3 s total at sf0.1, VERDICT r16 #3). ``_kgram_xxh64`` hashes
    # every window of a doc as one vectorized uint64-lane pass and is
    # pinned BIT-IDENTICAL to the Spark expression (seed-42 XXH64 over
    # UTF-8 bytes, code-point window semantics) by the equivalence
    # test, so the fingerprint set — and every downstream row — is
    # byte-for-byte unchanged. Text crosses the Arrow boundary once
    # here (it previously fed the same-stage Catalyst projection —
    # same scan, no extra shuffle); long_docs guarantees n >= w
    # windows per doc and no null/empty text (_len >= k+w-1).
    def _winnow(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for txt in pdf["_t"]:
                out.append(_winnow_window_mins(_kgram_xxh64(txt, k), w))
            yield pd.DataFrame({id_col: pdf[id_col], "_len": pdf["_len"], "_g": out})

    # id type from the input schema (ADVICE r16): the operator is
    # generic over id_col — a string/int id must round-trip the Arrow
    # boundary with its own type, not a hardcoded long
    _id_t = base.schema[id_col].dataType.simpleString()
    staged = reliable_barrier(
        long_docs.mapInPandas(_winnow, f"{id_col} {_id_t}, _len int, _g array<long>")
    )
    probes = staged.select(
        F.col(id_col).alias("_pid"),
        F.col("_len").alias("_plen"),
        F.array_min("_g").alias("_h"),
    )
    index = staged.select(
        F.col(id_col).alias("_iid"),
        F.col("_len").alias("_ilen"),
        F.explode("_g").alias("_h"),
    )
    # skew cap: deterministically keep <= bucket_cap index rows per hash
    index = (
        index.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_h").orderBy(F.desc("_ilen"), "_iid")),
        )
        .where(F.col("_rn") <= bucket_cap)
        .drop("_rn")
    )
    cand = probes.join(index, "_h").where(
        (F.col("_ilen") > F.col("_plen"))
        | ((F.col("_ilen") == F.col("_plen")) & (F.col("_iid") > F.col("_pid")))
    )
    cand = cand.select("_pid", "_iid").distinct()
    # two-longs-per-row pair frame: exempt it from AQE's byte-size
    # coalescing before the compute-heavy stages (same fix as the LSH
    # verifies) — on a saturated vocabulary the min-fingerprint probe
    # degenerates (most docs share one hottest min hash, the capped
    # bucket yields ~n*cap candidates) and the stages below must not
    # run on 1-2 runtime partitions
    cand = _spread_pairs(cand, "_pid")
    # sound fingerprint-set pre-filter BEFORE any text moves: when A is
    # a substring of B, every window of A's k-gram array is a window of
    # B's (the slice is contiguous), so EVERY winnowed fingerprint of A
    # appears in B's winnowed set — array_except(Wa, Wb) is empty for
    # all true containments. False candidates (which share only the one
    # probed min hash) die here on ~16-byte/elem arrays instead of
    # surviving into the full-text contains join.
    fps = staged.select(F.col(id_col), F.col("_g"))
    pre = (
        cand.join(fps.select(F.col(id_col).alias("_pid"), F.col("_g").alias("_ga")), "_pid")
        .join(fps.select(F.col(id_col).alias("_iid"), F.col("_g").alias("_gb")), "_iid")
        .where(F.size(F.array_except("_ga", "_gb")) == 0)
        .select("_pid", "_iid")
    )
    verified = (
        pre.join(base.select(F.col(id_col).alias("_pid"), F.col("_t").alias("_pt")), "_pid")
        .join(base.select(F.col(id_col).alias("_iid"), F.col("_t").alias("_it")), "_iid")
        .where(F.contains("_it", "_pt"))
        .select(F.col("_pid").alias(id_col))
        .distinct()
    )
    # short docs (< k+w-1 chars, no winnowing guarantee): by definition
    # tiny and rare — BROADCAST them against the corpus
    # (BroadcastNestedLoopJoin, never a cartesian; the broadcast side
    # is usually empty and the join collapses to nothing)
    short = base.where(F.col("_len") < min_long).select(
        F.col(id_col).alias("_sid"), F.col("_t").alias("_st")
    )
    short_hits = (
        base.join(
            F.broadcast(short),
            (F.col(id_col) != F.col("_sid")) & F.contains("_t", F.col("_st")),
        )
        .select(F.col("_sid").alias(id_col))
        .distinct()
    )
    return verified.unionAll(short_hits).distinct()


class LedgerLockError(RuntimeError):
    """Another writer holds the dedup ledger's lock file. Ingest batches
    against one ledger are serialized by design — wait for the holder to
    finish, or remove the stale ``<ledger>.lock`` file if the holder
    crashed without releasing it."""


@contextmanager
def _ledger_writer_lock(spark, ledger_path: str):
    """Best-effort single-writer guard: atomically create a sibling
    ``<ledger>.lock`` file (Hadoop ``create(overwrite=false)`` — atomic
    on HDFS/object-store committers, check-then-create on the local FS)
    and delete it on exit. Held across the ledger READ as well as the
    append: two concurrent batches that both anti-join the same ledger
    snapshot would each admit the same content and double-append its
    fingerprint, breaking the one-row-per-content invariant."""
    from ..util import hadoop_fs

    fs, lock = hadoop_fs(spark, ledger_path.rstrip("/") + ".lock")
    try:
        fs.create(lock, False).close()
    except Exception as e:
        if "FileAlreadyExists" in type(e).__name__ or "FileAlreadyExists" in str(e):
            raise LedgerLockError(f"ledger lock held: {ledger_path}.lock") from e
        raise
    try:
        yield
    finally:
        fs.delete(lock, False)


def exact_dedup_incremental(
    new_df: DataFrame,
    ledger_path: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    commit: bool = True,
) -> DataFrame:
    """Incremental exact dedup against a PERSISTED fingerprint ledger
    (r9) — the production ingest shape: a corpus is not deduplicated
    once, it grows in daily batches, and re-scanning 100 TB of history
    per batch is the anti-pattern. The ledger holds one slim
    (fingerprint, id) row per unique content ever admitted; each new
    batch (1) collapses its own internal duplicates (min id per
    xxhash64, same rule as ``exact_dedup``), (2) drops rows whose
    fingerprint already exists in the ledger (left_anti — AQE
    broadcasts whichever side is small), and (3) appends the survivors'
    fingerprints to the ledger (``commit=False`` for a dry-run score).

    Returns the admitted rows (full columns). Idempotence: re-running
    the same batch admits nothing, because its fingerprints are in the
    ledger after the first commit.

    100 TB shape: the ledger is pure 16-byte-ish (hash, id) rows —
    ~1/10^4 the corpus bytes — and the anti-join shuffles only the NEW
    batch against it (at fleet scale, bucket the ledger table by
    fingerprint via plans.bucketing.write_bucketed and the repeated
    per-batch anti-join stops re-shuffling the ledger side entirely).
    Concurrency: ingest batches against one ledger are SERIALIZED. A
    ``commit=True`` run takes a ``<ledger>.lock`` file (atomic Hadoop
    create-no-overwrite) across the ledger read AND the append — two
    writers racing the same snapshot would each admit the same content
    and double-append its fingerprint. A concurrent writer gets
    :class:`LedgerLockError` immediately (no blocking — the caller's
    scheduler owns retry policy). Delivery is at-most-once: the append
    commits BEFORE the caller consumes the admitted rows, so a
    downstream failure after this returns leaves fingerprints ledgered
    for content never persisted — a re-run will not re-admit them.

    Parity: the reference's DetectDuplicate keeps content hashes in a
    DistributedMapCache and routes duplicates out
    (extensions/standard-processors tests reference the same
    hash-cache-lookup flow); this is that operator as a table-backed
    batch primitive."""
    spark = new_df.sparkSession
    from ..util import hadoop_path_exists

    fp = F.xxhash64(F.col(content_col)).alias("_fp")
    batch = new_df.select(fp, F.col(id_col)).groupBy("_fp").agg(F.min(id_col).alias(id_col))

    def _fresh() -> DataFrame:
        # existence probed via the FS API, not try/except around the
        # read: a failed read fires every ExecutionListener (ERROR
        # stack traces on clean first-batch runs) and message-sniffing
        # is brittle; any OTHER read failure (permissions, corrupt
        # footer) still propagates from the read itself.
        if hadoop_path_exists(spark, ledger_path):
            ledger = spark.read.parquet(ledger_path).select("_fp")
            return batch.join(ledger, "_fp", "left_anti")
        return batch  # first batch: no ledger yet

    if not commit:
        return new_df.join(_fresh().select(id_col), id_col, "left_semi")
    with _ledger_writer_lock(spark, ledger_path):
        # the barrier materializes the admitted keep-set BEFORE the
        # ledger append mutates the path the anti-join read from
        fresh_rows = reliable_barrier(_fresh())
        fresh_rows.write.mode("append").parquet(ledger_path)
    return new_df.join(fresh_rows.select(id_col), id_col, "left_semi")


def source_overlap_matrix(
    df: DataFrame,
    source_col: str = "source",
    content_col: str = "text",
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Cross-source duplicate-overlap matrix (r9): for every source
    pair (a < b), how many DISTINCT contents appear in both — the
    crawl-triage diagnostic that tells you which feeds duplicate each
    other before you pay for full dedup (two mirrors of the same dump
    show near-total overlap; independent crawls show noise-level).

    100 TB shape: the corpus collapses FIRST to distinct slim
    (fingerprint, source) pairs — map-side combine, 16 bytes a row —
    and only that reduced set self-joins on the fingerprint (the join
    explodes per-fingerprint source lists, bounded by the number of
    sources, not documents). All-integer output."""
    if prefix_tokens is not None:
        # prefix-fingerprint mode: overlap of shared OPENINGS (the
        # boilerplate/template axis) instead of whole-content equality
        toks = F.filter(F.split(F.lower(F.col(content_col)), r"\s+"), lambda t: t != "")
        fp_expr = F.xxhash64(F.array_join(F.slice(toks, 1, prefix_tokens), " "))
    else:
        fp_expr = F.xxhash64(F.col(content_col))
    fp_src = df.select(fp_expr.alias("_fp"), F.col(source_col).alias("_s")).distinct()
    a, b = fp_src.alias("a"), fp_src.alias("b")
    return (
        a.join(b, (F.col("a._fp") == F.col("b._fp")) & (F.col("a._s") < F.col("b._s")))
        .groupBy(F.col("a._s").alias("source_a"), F.col("b._s").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(F.col("n_shared").desc(), "source_a", "source_b")
    )


def allpairs_jaccard_join(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    ngram: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join (r10 continuation): every pair of
    documents whose token-set Jaccard is >= ``threshold``, with NO
    false negatives — the AllPairs/PPJoin prefix-filtering principle
    (Bayardo et al., WWW 2007; Xiao et al., WWW 2008). The exact
    complement to the LSH families above: MinHash banding trades recall
    for speed; this join is exhaustive, and gets its speed from pruning
    instead of sampling.

    Prefix filter: order every doc's distinct tokens by GLOBAL rarity
    (document frequency asc, token asc). If J(x, y) >= t, the overlap
    is at least ceil(t * |x|), so x and y must share at least one token
    among each one's first ``|x| - ceil(t*|x|) + 1`` rarest tokens.
    Only those prefix tokens are indexed AND probed — and because the
    prefix holds each doc's globally RAREST tokens, posting lists are
    naturally short: the head of the Zipf curve never enters the index,
    which is what keeps the candidate join skew-free at 100 TB (no cap
    needed — unlike the LSH buckets, shortness here is a theorem of the
    frequency ordering, not a tuning knob). The ceiling is computed as
    ``ceil(t*|x| - 1e-9)``: a last-ulp-high double product can only
    LENGTHEN the prefix (safe direction), never shorten it.

    Shape: one vocab-bounded token->df count table (broadcast), one
    window rank per doc (shuffle by id), a prefix-postings equi-join on
    token, then exact verify via array_intersect on the two (bounded)
    token-set arrays. Returns (id_a, id_b, overlap, size_a, size_b,
    jaccard) with id_a < id_b."""
    # stage the word array in its own projection BEFORE the shingle
    # lambda indexes it (word_shingles_of contract — the inlined form
    # re-splits the text per window, 3x slower at sf0.1)
    staged = df.select(
        F.col(id_col).alias("_id"), words(F.col(content_col)).alias("_wa")
    )
    sets_expr = (
        word_shingles_of(F.col("_wa"), ngram)
        if ngram > 1
        else F.array_distinct(F.array_remove(F.col("_wa"), ""))
    )
    # barrier (optimization r16): toks feeds FOUR consumers (the df
    # census broadcast, the ranked prefix window, and both sides of the
    # sets verify join); without it the shingle explode + distinct
    # lineage re-runs per consumer whenever runtime exchange reuse
    # fails to canonicalize the duplicated subtrees
    toks = reliable_barrier(
        staged.select("_id", F.explode(sets_expr).alias("_w")).distinct()
    )
    freq = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        toks.join(F.broadcast(freq), "_w")
        .withColumn(
            "_rank",
            F.row_number().over(Window.partitionBy("_id").orderBy("_df", "_w")),
        )
        .withColumn("_size", F.count(F.lit(1)).over(Window.partitionBy("_id")))
    )
    prefix_len = (
        F.col("_size")
        - F.ceil(F.lit(threshold) * F.col("_size") - F.lit(1e-9))
        + F.lit(1)
    )
    prefix = ranked.where(F.col("_rank") <= prefix_len).select("_id", "_w", "_size")
    # length filter (AllPairs Fig.2): J(x,y) >= t forces
    # min(|x|,|y|) >= t * max(|x|,|y|) — overlap can never exceed the
    # smaller set. Applied IN the posting join, before the distinct and
    # long before any token array is fetched; sound for the same
    # reason as the prefix bound, so recall stays exact.
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "_w")
        .where(
            (F.col("a._id") < F.col("b._id"))
            & (
                # -1e-9: a last-ulp-high t*max may only ADMIT a
                # boundary pair (safe direction — exact verify decides)
                F.least(F.col("a._size"), F.col("b._size")).cast("double")
                >= F.lit(threshold)
                * F.greatest(F.col("a._size"), F.col("b._size")).cast("double")
                - F.lit(1e-9)
            )
        )
        .select(
            F.col("a._id").alias("_ida"),
            F.col("b._id").alias("_idb"),
        )
        .distinct()
    )
    sets = toks.groupBy("_id").agg(F.sort_array(F.collect_set("_w")).alias("_s"))
    # the candidate frame is two longs per row — AQE coalesces its
    # shuffle to 1-2 partitions by byte size, then the array_intersect
    # verify (the compute-heavy stage) runs nearly serial; the explicit
    # numbered repartition is exempt from coalescing (same fix as the
    # LSH verifies)
    cand = _spread_pairs(cand, "_ida")
    out = (
        cand.join(sets.select(F.col("_id").alias("_ida"), F.col("_s").alias("_sa")), "_ida")
        .join(sets.select(F.col("_id").alias("_idb"), F.col("_s").alias("_sb")), "_idb")
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("overlap"),
            F.size("_sa").cast("long").alias("size_a"),
            F.size("_sb").cast("long").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.col("overlap")
            / (F.col("size_a") + F.col("size_b") - F.col("overlap")).cast("double"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )
    return out


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 3,
    mask_mod: int = 8,
) -> DataFrame:
    """Content-defined chunking dedup accounting (r12; the LBFS/rsync
    primitive — Muthitacharoen, Chen & Mazières, SOSP 2001): split
    every document at positions where the rolling k-word window hash
    satisfies ``h % mask_mod == 0`` (average chunk ~= mask_mod
    windows; the last word always closes a chunk), then measure
    chunk-level redundancy per group — the storage-savings estimate a
    deduplicating store or a sub-document near-dup pass is justified
    by. Unlike winnowing (which SAMPLES fingerprints to detect
    overlap), CDC partitions the full content: boundaries are
    content-anchored, so an insertion only reshapes the chunks it
    touches — the property that makes chunk hashes stable under edits.

    Hash = first 6 hex chars of md5 over the space-joined window —
    the engine-portable construction the sketch family uses, so any
    engine reproduces identical boundaries.

    Returns one row per group: n_docs, n_chunks, n_distinct_chunks
    (within group), dup_chars_saved = sum over duplicate chunk groups
    of (count-1)*chars.

    100 TB shape: chunking is per-document staged Catalyst HOFs (no
    shuffle, no Python); only slim (group, chunk_hash, chars) rows
    shuffle into one hash aggregate. Cites the reference's content
    hashing surface (HashContent — minifi-api HashContent.cpp) as the
    whole-content special case."""
    from ..util import spread_for_cpu

    staged = spread_for_cpu(df.select(group_col, id_col, text_col), id_col).select(
        group_col, id_col, F.split(F.col(text_col), " ").alias("_w")
    )
    n = F.size("_w")
    # boundary AFTER word i (0-based): window of the k words ending at
    # i hashes to 0 mod mask_mod, or i is the last word
    bnd = staged.select(
        group_col,
        id_col,
        "_w",
        F.filter(
            F.sequence(F.lit(0), n - 1),
            lambda i: (i == n - 1)
            | (
                (i >= k - 1)
                & (
                    F.conv(
                        F.substring(
                            F.md5(F.array_join(F.slice("_w", i - (k - 2), k), " ")),
                            1,
                            6,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % mask_mod
                    == 0
                )
            ),
        ).alias("_b"),
    )
    # CollapseProject would otherwise inline the whole md5 boundary
    # scan into EVERY element_at(_b, ...) lambda reference below
    # (lambda refs bypass the expensive-expression duplication check),
    # re-running the O(words) hash pass per chunk element — measured
    # 47s -> ~2s at sf0.1. The barrier makes _w/_b real attributes.
    from ..util import reliable_barrier

    bnd = reliable_barrier(bnd)
    chunks = bnd.select(
        group_col,
        id_col,
        "_w",
        F.expr(
            "transform(sequence(1, size(_b)), j -> struct("
            "CASE WHEN j = 1 THEN 0 ELSE element_at(_b, j - 1) + 1 END AS s, "
            "element_at(_b, j) AS e))"
        ).alias("_rng"),
    )
    flat = chunks.select(
        group_col,
        id_col,
        F.explode("_rng").alias("r"),
        F.col("_w"),
    ).select(
        group_col,
        F.array_join(
            F.slice("_w", F.col("r.s") + 1, F.col("r.e") - F.col("r.s") + 1), " "
        ).alias("_c"),
    )
    hashed = flat.select(
        group_col,
        F.md5("_c").alias("ch"),
        F.length("_c").cast("long").alias("chars"),
    )
    g = hashed.groupBy(group_col, "ch", "chars").agg(F.count(F.lit(1)).alias("cnt"))
    stats = g.groupBy(group_col).agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
        F.sum((F.col("cnt") - 1) * F.col("chars")).cast("long").alias("dup_chars_saved"),
    )
    nd = df.groupBy(group_col).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return nd.join(stats, group_col).select(
        group_col, "n_docs", "n_chunks", "n_distinct_chunks", "dup_chars_saved"
    )
