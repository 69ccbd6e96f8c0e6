"""Distributed frequency sketches (r10): a count-min sketch built as a
DataFrame aggregate — the bounded-memory answer to "how often does key
X occur in 100 TB of events" when the exact distinct-key table itself
is too big to keep hot (Cormode & Muthukrishnan 2005).

Design for Spark, engine-portable:
- the d hash rows use md5 prefixes over a salted key
  (``md5(i || ':' || key)``), and the bucket IS the 3-hex-char prefix
  string — width fixed at 16^3 = 4096 per row. Staying in hex-string
  space sidesteps engine-specific hash functions entirely: any engine
  with md5 (DuckDB, Trino, Postgres) reproduces the sketch bit-for-bit,
  which is what makes the oracle able to verify it.
- BUILD is one explode(d) + groupBy (map-side partial aggregation; the
  shuffle carries at most d x 4096 rows per partition, regardless of
  input size). The sketch is MERGEABLE by construction: sketches of
  shards sum cell-wise, the property that lets 1000 executors build it
  without coordination.
- ESTIMATE probes broadcast-join the (bounded, d x 4096 row) sketch
  and take min over the d rows — the classic CMS upper-bound estimate
  (never under-counts; over-counts by collision mass at most).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def countmin_build(
    df: DataFrame, key_col: str, depth: int = 4, prefix_hex: int = 3
) -> DataFrame:
    """-> sketch table (row int, bucket string, n long); at most
    depth * 16^prefix_hex rows, regardless of input size.

    The d hash rows are computed in ONE Arrow/numpy kernel
    (optimization r17, guide §4.2): the former explode(depth) +
    per-row scalar ``md5(row || ':' || key)`` projection paid depth
    JVM hash calls per input row — the dominant cost of both sketch
    entries at sf0.1 (join_size_estimate_cm was the most expensive
    remaining query). The kernel hashes every (key, row) message
    through the vectorized RFC-1321 MD5 (``vhash.md5_hex`` — digests
    bit-identical to Spark's ``md5``, pinned in
    tests/test_vectorized_kernels.py), slices the SAME leading
    ``prefix_hex`` hex chars, and emits map-side PARTIAL CELL COUNTS:
    at most depth * 16^prefix_hex rows per Arrow batch cross back, the
    exploded (row, key) rows never exist anywhere. NULL keys keep the
    former semantics — md5 of a NULL concat was NULL, so each hash row
    carries one (row, NULL, count) cell when the input has NULL keys.
    """
    staged = df.select(F.col(key_col).cast("string").alias("_k"))

    def _partials(batches):
        import numpy as np
        import pandas as pd

        from .vhash import md5_hex

        for pdf in batches:
            ks = pdf["_k"]
            isna = ks.isna().to_numpy()
            n_null = int(isna.sum())
            vals = ks[~isna]
            rows_out: list = []
            buckets_out: list = []
            counts_out: list = []
            if len(vals):
                kb = [s.encode("utf-8") for s in vals]
                lens = np.array([len(s) for s in kb])
                blob = np.frombuffer(b"".join(kb), dtype=np.uint8)
                offs = np.concatenate(([0], np.cumsum(lens)))
                for length in np.unique(lens):
                    sel = np.where(lens == length)[0]
                    idx = offs[sel][:, None] + np.arange(int(length))[None, :]
                    keys_mat = blob[idx]
                    for row in range(1, depth + 1):
                        pre = np.frombuffer(f"{row}:".encode(), dtype=np.uint8)
                        msg_len = len(pre) + int(length)
                        mat = np.empty((len(sel), msg_len), dtype=np.uint8)
                        mat[:, : len(pre)] = pre
                        mat[:, len(pre) :] = keys_mat
                        bk = md5_hex(mat, msg_len).astype(f"S{prefix_hex}")
                        ub, cnts = np.unique(bk, return_counts=True)
                        rows_out.append(np.full(len(ub), row, dtype=np.int32))
                        buckets_out.append(ub.astype(str))
                        counts_out.append(cnts.astype(np.int64))
            if n_null:
                # one (row, NULL, count) cell per hash row, exactly as
                # md5 of the NULL concat produced before
                rows_out.append(np.arange(1, depth + 1, dtype=np.int32))
                buckets_out.append(np.full(depth, None, dtype=object))
                counts_out.append(np.full(depth, n_null, dtype=np.int64))
            if not rows_out:
                continue
            yield pd.DataFrame(
                {
                    "row": np.concatenate(rows_out),
                    "bucket": pd.array(np.concatenate(buckets_out), dtype="string"),
                    "pn": np.concatenate(counts_out),
                }
            )

    from ..util import spread_for_cpu

    parts = spread_for_cpu(staged, "_k").mapInPandas(
        _partials, "row int, bucket string, pn long"
    )
    return parts.groupBy("row", "bucket").agg(F.sum("pn").alias("n"))


def countmin_estimate(
    sketch: DataFrame, probes: DataFrame, key_col: str, depth: int = 4, prefix_hex: int = 3
) -> DataFrame:
    """Estimate each probe key's frequency: min over the d rows of its
    bucket counts. The sketch side is bounded, so it broadcasts."""
    p = probes.select(F.col(key_col).cast("string").alias("_k")).distinct()
    p = p.select(
        "_k", F.explode(F.sequence(F.lit(1), F.lit(depth))).alias("row")
    ).select(
        "_k",
        "row",
        F.substring(
            F.md5(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("_k"))),
            1,
            prefix_hex,
        ).alias("bucket"),
    )
    return (
        p.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("_k")
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("est"))
        .select(F.col("_k").alias(key_col), "est")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet et al. 2007), the same
# engine-portable md5 construction as the count-min sketch above: the
# cardinality answer to "how many distinct keys in 100 TB" in O(m)
# memory. Reference parity: the reference's metrics pipeline exposes
# per-key rollups (ProcFsMonitor / metrics counters); at corpus scale
# the distinct-user / distinct-url questions need a mergeable sketch.
#
# Construction (m = 64 registers, p = 6):
# - bucket  = first 8 md5 bits mod 64 (256/64 exact, so unbiased)
# - witness = md5 bits 33..64 as a 32-bit integer v (disjoint bits)
# - rho     = leading-zero count of v in a 32-bit window, + 1
#           = 33 - length(bin(v)) for v > 0, else 33
#   (length(bin(v)) == floor(log2(v)) + 1 exactly, in BOTH Spark and
#   DuckDB, so rho is integer-exact cross-engine — no float log2)
# - register M_j = max(rho) per bucket — mergeable by cell-wise max,
#   which is what lets 1000 executors sketch shards independently.
# - estimate = alpha_64 * m^2 / sum_j 2^(-M_j), empty buckets counting
#   2^0 = 1. Every 2^(-M_j) is a single bit in a 33-bit binary span,
#   so the 64-term sum is EXACT in double regardless of summation
#   order — the estimate is bit-deterministic across engines, which is
#   what makes a DuckDB oracle possible for a cardinality sketch.
# ---------------------------------------------------------------------------

HLL_M = 64  # registers (p = 6)
HLL_ALPHA = 0.709  # standard alpha for m = 64


def hll_registers(df: DataFrame, key_col: str, group_cols: list[str] | None = None) -> DataFrame:
    """-> register table (group_cols..., bucket int, m int): at most
    64 rows per group regardless of input size. One slim groupBy with
    map-side partial max; merge sketches by cell-wise max."""
    groups = list(group_cols or [])
    h = F.md5(F.col(key_col).cast("string"))
    bucket = (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % HLL_M).alias("bucket")
    v = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    rho = F.when(v > 0, F.lit(33) - F.length(F.bin(v))).otherwise(F.lit(33))
    return (
        df.select(*groups, bucket, rho.cast("int").alias("rho"))
        .groupBy(*groups, "bucket")
        .agg(F.max("rho").alias("m"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Fold a register table to (group_cols..., buckets_used,
    hll_estimate). The raw HLL estimator (no small/large-range
    corrections — those use ln(), whose last-ulp differs across
    engines; the raw form is exact-deterministic)."""
    groups = list(group_cols or [])
    agg = registers.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("buckets_used"),
        F.sum(F.pow(F.lit(0.5), F.col("m"))).alias("_present_inv"),
    )
    sum_inv = F.col("_present_inv") + (F.lit(HLL_M) - F.col("buckets_used"))
    est = F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / sum_inv
    return agg.select(*groups, "buckets_used", est.alias("hll_estimate"))


# ---------------------------------------------------------------------------
# Log-bucket quantile sketch — the mergeable-quantile answer next to
# HLL (cardinality) and count-min (frequency): "what is p99 of X over
# 100 TB" without a global sort. Same family as DDSketch (Masson et
# al. 2019, relative-error quantile sketch with log-width buckets),
# re-based on INTEGER arithmetic so it is bit-deterministic across
# engines: instead of ceil(log_gamma(v)) (float log, boundary-unsafe),
# the bucket key of a positive integer v is its TOP FOUR BITS plus the
# bit length — msb position via length(bin(v)), which both Spark and
# DuckDB compute exactly. Buckets are 8 per octave (gamma = 2^(1/8)
# equivalent ≈ 9% max relative error, ≤ 6.25% at the midpoint
# estimate), at most 8*60 + 8 = 488 buckets over the full BIGINT
# range — a bounded table that merges by summing counts per bucket,
# the property that lets every shard sketch independently and a
# coordinator (or a streaming window) fold them without re-scanning.
# ---------------------------------------------------------------------------


def logbucket_histogram(
    df: DataFrame, value_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """-> bounded histogram (group_cols..., bucket long, lo long,
    hi long, n long) over POSITIVE integer values (rows with v < 1 are
    the caller's to route; monetary cents and counts are positive).

    bucket id is monotone in v, so quantile extraction is a cumsum
    over at most ~488 rows per group. [lo, hi] is the exact integer
    span of the bucket: v < 8 gets width-1 buckets (exact), otherwise
    v with bit length p >= 4 lands in one of 8 sub-buckets of octave
    [2^(p-1), 2^p) with width 2^(p-4). All shifts are integer DIV —
    no float log anywhere, so ANY engine reproduces the same table.
    """
    groups = list(group_cols or [])
    v = F.col("_v")
    p = F.length(F.bin(v))  # bit length: floor(log2 v) + 1, exact
    # integer shifts, never float division: a double quotient loses
    # bits past 2^53 (and the pyspark shift wrappers demand literal
    # shift amounts — call_function takes the Column)
    shift = (p - 4).cast("int")
    scale = F.call_function("shiftleft", F.lit(1).cast("long"), shift)
    top4 = F.call_function("shiftright", v, shift)  # v DIV 2^(p-4), in [8, 15]
    small = v < 8
    bucket = F.when(small, v).otherwise((p - 4).cast("long") * 8 + top4)
    lo = F.when(small, v).otherwise(top4 * scale)
    # hi as lo + (scale - 1), NOT (top4 + 1) * scale - 1: for bit
    # length 63 with top4 = 15 the latter's intermediate is 16 * 2^59
    # = 2^63, which only lands right via two's-complement wraparound
    # in non-ANSI mode and throws ARITHMETIC_OVERFLOW under
    # spark.sql.ansi.enabled=true. No intermediate here exceeds
    # 2^63 - 1, so the full positive BIGINT range is safe either way.
    hi = F.when(small, v).otherwise(lo + (scale - 1))
    return (
        df.select(*groups, F.col(value_col).cast("long").alias("_v"))
        .filter(F.col("_v") >= 1)
        .select(
            *groups,
            bucket.alias("bucket"),
            lo.alias("lo"),
            hi.alias("hi"),
        )
        .groupBy(*groups, "bucket", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def logbucket_quantile(
    hist: DataFrame,
    q_num: int,
    q_den: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Extract the q = q_num/q_den quantile (nearest-rank definition:
    the r-th smallest with r = ceil(q * n), integer-exact) from a
    log-bucket histogram: -> (group_cols..., n_total long, est long).
    ``est`` is the integer midpoint (lo + hi) DIV 2 of the bucket
    containing rank r — within the sketch's relative-error bound of
    the true order statistic. The histogram is bounded, so the cumsum
    window and the min_by pick cost nothing at any input scale.
    """
    from pyspark.sql import Window

    groups = list(group_cols or [])
    w = (
        Window.partitionBy(*groups).orderBy("bucket")
        if groups
        else Window.partitionBy(F.lit(1)).orderBy("bucket")
    )
    cum = hist.select(
        *groups,
        "bucket",
        ((F.col("lo") + F.col("hi")) / 2).cast("long").alias("_mid"),
        F.sum("n").over(w).alias("_cum"),
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_n"),
    )
    # ceil(n * q) via integer DIV — float q * n can land a hair under
    # the true integer and pick the previous rank
    rank = F.expr(f"(_n * {int(q_num)} + {int(q_den) - 1}) DIV {int(q_den)}")
    return (
        cum.filter(F.col("_cum") >= rank)
        .groupBy(*groups)
        .agg(
            F.max("_n").alias("n_total"),
            F.min_by("_mid", "bucket").alias("est"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970), same engine-portable md5 construction:
# the decontamination primitive at corpus scale — ship a bounded
# position table (equivalently a ~64 KB bitset) to every executor
# instead of shuffle-joining 100 TB of corpus shingles against the
# benchmark shingle table. One-sided error: NEVER misses a true member
# (the decontamination guarantee), false-positives at
# (1 - e^(-kn/m))^k — flagged docs go to the exact verify join, whose
# input the filter has already shrunk by orders of magnitude.
# ---------------------------------------------------------------------------


def bloom_build(
    df: DataFrame, key_col: str, depth: int = 4, prefix_hex: int = 4
) -> DataFrame:
    """-> set-bit table (row int, pos string): the distinct md5-prefix
    positions of every key, one per hash row; at most
    depth * 16^prefix_hex rows (k=4, m=65536 by default). Mergeable by
    union+distinct — shards build independently."""
    rows = F.explode(F.sequence(F.lit(1), F.lit(depth))).alias("row")
    return (
        df.select(F.col(key_col).cast("string").alias("_k"))
        .select("_k", rows)
        .select(
            "row",
            F.substring(
                F.md5(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("_k"))),
                1,
                prefix_hex,
            ).alias("pos"),
        )
        .distinct()
    )


def bloom_maybe_contains(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    prefix_hex: int = 4,
) -> DataFrame:
    """Probe keys against a bloom position table: -> (probe columns...,
    maybe boolean). ``maybe`` is true iff ALL depth positions are set —
    false means DEFINITELY absent. The bloom side is bounded, so it
    broadcasts; the probe side never shuffles."""
    cols = probes.columns
    p = probes.select(
        *cols, F.explode(F.sequence(F.lit(1), F.lit(depth))).alias("row")
    ).select(
        *cols,
        "row",
        F.substring(
            F.md5(
                F.concat(F.col("row").cast("string"), F.lit(":"), F.col(key_col).cast("string"))
            ),
            1,
            prefix_hex,
        ).alias("pos"),
    )
    hit = p.join(F.broadcast(bloom.withColumn("_set", F.lit(1))), ["row", "pos"], "left")
    return (
        hit.groupBy(*cols)
        .agg((F.count("_set") == F.lit(depth)).alias("maybe"))
    )


#: Poisson(1) CDF at k = 0..8, scaled by 2^24 and floored — the weight
#: of a row in bootstrap replicate j is the number of thresholds its
#: 24-bit hash value clears (inverse-CDF sampling on a uniform integer;
#: residual mass above k=9 is ~1.1e-6 and is capped, identically on
#: every engine since the thresholds are shared literals).
POISSON1_CDF_24BIT = [
    6171992,
    12343985,
    15429982,
    16458647,
    16715813,
    16767247,
    16775819,
    16777044,
    16777197,
]


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    value_col: str = "value",
    id_col: str = "event_id",
    group_col: str = "event_type",
    replicates: int = 100,
    lo_rank: int = 5,
    hi_rank: int = 96,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-group mean
    (r12; Chamandy et al. 2012, "Estimating Uncertainty for Massive
    Data Streams" — the bootstrap that works in one pass over
    distributed data): instead of resampling n rows with replacement
    (which needs n to be known and the data addressable), each row
    enters each replicate with weight ~ Poisson(1), drawn
    DETERMINISTICALLY by inverse-CDF on a 24-bit hash lane against the
    shared ``POISSON1_CDF_24BIT`` literals — so both engines, any
    partitioning, and any rerun produce bit-identical replicates.

    Hash amortization: one md5 per (row, block) supplies FIVE 24-bit
    lanes (30 of its 32 hex chars), so replicate j reads lane
    (j-1) % 5 of block (j+4) // 5 — 5x fewer hashes and 5x fewer
    exploded rows than a hash-per-replicate construction (measured
    ~2x end-to-end at sf0.1); the lanes are disjoint bits of a
    cryptographic hash, so replicate weights stay independent.

    Returns per group: n rows, the exact point mean (floor millicents),
    and the [lo_rank, hi_rank]-th smallest of the ``replicates``
    replicate means — with the defaults, the empirical 90% CI.

    100 TB shape: the explode is ``replicates / 5`` slim integer rows
    per input row, partial-aggregated map-side to at most
    |groups| x blocks x 10 sums per partition BEFORE the shuffle —
    the network cost is the tiny replicate table, never a multiple of
    the data. The final percentile pick sorts a bounded
    ``replicates``-length array per group."""
    if not (1 <= lo_rank <= hi_rank <= replicates):
        raise ValueError(f"need 1 <= lo_rank <= hi_rank <= {replicates}")
    if replicates % 5 != 0:
        raise ValueError(f"replicates must be a multiple of 5, got {replicates}")
    blocks_n = replicates // 5
    cents = F.round(F.col(value_col) * 100).cast("long")
    staged = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).cast("string").alias("_id"),
        cents.alias("cents"),
    )

    # One Arrow/numpy kernel replaces the explode(blocks) + md5 + conv
    # + threshold-count projection chain (optimization r17, guide §4.2;
    # VERDICT r16 #4 — this was the most expensive query in the suite,
    # its cost the ~2M scalar JVM md5/conv calls at sf0.1). The kernel
    # hashes every (row, block) message through the vectorized RFC-1321
    # MD5 (vhash.md5_states — parity-pinned against hashlib == Spark's
    # md5), slices the SAME five 24-bit big-endian lanes off the digest
    # words, draws the same inverse-CDF Poisson weights, and emits
    # MAP-SIDE PARTIAL SUMS per (group, block): at most |groups| x
    # blocks x 10 longs per Arrow batch cross back — the exploded
    # replicate rows never exist anywhere. NULL semantics preserved:
    # a NULL id made every lane NULL before (md5 of NULL concat), so
    # those rows vanish from BOTH sums; a NULL cents row still counts
    # in nw but contributes no swc term, and a group whose batch has
    # only NULL cents emits a NULL partial (Spark's sum then ignores
    # it, keeping the all-NULL group's swc NULL — same as before).
    def _partials(batches):
        import numpy as np
        import pandas as pd

        from .vhash import md5_pad, md5_states

        thresholds = np.array(POISSON1_CDF_24BIT, dtype=np.int64)
        for pdf in batches:
            ids = pdf["_id"]
            ok = ids.notna().to_numpy()
            gs = pdf["g"][ok]
            # keep a NULL group as its own category (Spark's groupBy
            # does) instead of factorize's default -1 sentinel
            codes, uniq = pd.factorize(gs, use_na_sentinel=False)
            n_g = len(uniq)
            if n_g == 0:
                continue
            cent = pdf["cents"][ok]
            has_c = cent.notna().to_numpy()
            cv = cent.fillna(0).to_numpy(np.int64)
            idb = [s.encode("utf-8") for s in ids[ok]]
            lens = np.array([len(s) for s in idb])
            nw = np.zeros((n_g, blocks_n, 5), dtype=np.int64)
            swc = np.zeros((n_g, blocks_n, 5), dtype=np.int64)
            group_has_c = np.zeros(n_g, dtype=bool)
            np.logical_or.at(group_has_c, codes, has_c)
            for length in np.unique(lens):
                sel = lens == length
                sub_codes = codes[sel]
                sub_cv = cv[sel]
                sub_valid = has_c[sel]
                id_mat = np.frombuffer(
                    b"".join(s for s, m in zip(idb, sel) if m), dtype=np.uint8
                ).reshape(-1, int(length))
                for b in range(1, blocks_n + 1):
                    suffix = np.frombuffer(f":{b}".encode(), dtype=np.uint8)
                    msg_len = int(length) + len(suffix)
                    mat = np.empty((id_mat.shape[0], msg_len), dtype=np.uint8)
                    mat[:, : int(length)] = id_mat
                    mat[:, int(length) :] = suffix
                    a, bb, c, d = md5_states(md5_pad(mat, msg_len))
                    a, bb, c, d = (x.astype(np.int64) for x in (a, bb, c, d))
                    lanes = [
                        ((a & 0xFF) << 16) | (((a >> 8) & 0xFF) << 8) | ((a >> 16) & 0xFF),
                        ((a >> 24) << 16) | ((bb & 0xFF) << 8) | ((bb >> 8) & 0xFF),
                        (((bb >> 16) & 0xFF) << 16) | ((bb >> 24) << 8) | (c & 0xFF),
                        (((c >> 8) & 0xFF) << 16) | (((c >> 16) & 0xFF) << 8) | (c >> 24),
                        ((d & 0xFF) << 16) | (((d >> 8) & 0xFF) << 8) | ((d >> 16) & 0xFF),
                    ]
                    for lane, u in enumerate(lanes):
                        w = np.searchsorted(thresholds, u, side="right")
                        nw[:, b - 1, lane] += np.bincount(
                            sub_codes, weights=w, minlength=n_g
                        ).astype(np.int64)
                        # int64 accumulation: bincount's float64 weights
                        # are exact only below 2^53
                        np.add.at(swc[:, b - 1, lane], sub_codes, w * sub_cv * sub_valid)
            out = {
                "g": np.repeat(uniq.to_numpy() if hasattr(uniq, "to_numpy") else np.asarray(uniq), blocks_n),
                "b": np.tile(np.arange(1, blocks_n + 1), n_g),
            }
            null_swc = ~np.repeat(group_has_c, blocks_n)
            for lane in range(5):
                out[f"nw{lane}"] = nw[:, :, lane].reshape(-1)
                sc = pd.array(swc[:, :, lane].reshape(-1), dtype="Int64")
                sc[null_swc] = pd.NA
                out[f"swc{lane}"] = sc
            yield pd.DataFrame(out)

    from ..util import spread_for_cpu

    _g_t = staged.schema["g"].dataType.simpleString()
    lane_cols = ", ".join(f"nw{i} long, swc{i} long" for i in range(5))
    parts = spread_for_cpu(staged, "_id").mapInPandas(
        _partials, f"g {_g_t}, b int, {lane_cols}"
    )
    ba = parts.groupBy("g", "b").agg(
        *[F.sum(f"nw{i}").alias(f"nw{i}") for i in range(5)],
        *[F.sum(f"swc{i}").alias(f"swc{i}") for i in range(5)],
    )
    rep = ba.select(
        "g",
        F.explode(
            F.array(
                *[
                    F.struct(
                        ((F.col("b") - 1) * 5 + lane + 1).alias("j"),
                        # try_divide: a zero replicate weight-sum
                        # (possible only for near-empty groups) must
                        # yield a NULL replicate (dropped from the
                        # collect_list), not an ANSI-mode crash
                        F.floor(
                            F.try_divide(
                                1000 * F.col(f"swc{lane}"), F.col(f"nw{lane}")
                            )
                        )
                        .cast("long")
                        .alias("rm"),
                    )
                    for lane in range(5)
                ]
            )
        ).alias("r"),
    )
    ci = rep.groupBy("g").agg(F.array_sort(F.collect_list("r.rm")).alias("means"))
    point = staged.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.floor(1000 * F.sum("cents") / F.count(F.lit(1))).cast("long").alias("mean_millicents"),
    )
    # left join: a group whose ids are all NULL has no kernel partials
    # (so no ci row) but still reports its point mean, with NULL bounds;
    # a NULL group never matches in an equi-join, so it stays dropped
    return point.where(F.col("g").isNotNull()).join(ci, "g", "left").select(
        F.col("g").alias(group_col),
        "n_rows",
        "mean_millicents",
        # try_element_at: NULL replicates (zero weight-sum groups)
        # shrink the means array; out-of-range ranks must yield NULL
        # (DuckDB list-index semantics), not an ANSI-mode crash
        F.try_element_at("means", F.lit(lo_rank)).alias("boot_lo_millicents"),
        F.try_element_at("means", F.lit(hi_rank)).alias("boot_hi_millicents"),
    )


def welch_ttest_ab(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    variant_col: str = "user_id",
    crit: float = 1.96,
    escalate: bool | None = None,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test per group (r13;
    Welch 1947 — THE A/B-test statistic, the mean-difference
    significance complement of the rank-based ``roc_auc`` Mann-Whitney
    entry and the ``chi2`` independence test): variant A = even
    ``variant_col``, B = odd, the repo's standing deterministic A/B
    split. Reports the t statistic, the Welch-Satterthwaite effective
    degrees of freedom, and a significance flag against ``crit``
    (1.96 ~ two-sided 5%).

    Everything derives from six exact integer sufficient statistics
    per group (n, sum cents, sum cents^2 per variant) folded in ONE
    hash aggregate — the same mergeable-sums shape as
    ``hourly_trend_by_type``'s OLS, so the test costs one map-side
    combinable pass at any scale (no per-row state, no sort). The
    float tail (variance -> t -> df) is an identical expression tree
    in Spark and DuckDB over those integers, so IEEE doubles agree
    bit-for-bit and round(,6) is stable. Past ~1e9 rows per group the
    cents-squared sums would overflow int64: the sums run through
    ``scale.exact_sum``, which switches them to DECIMAL(38,0) when
    ``SPARK_GRAFT_EXPECTED_ROWS`` (or the ``escalate`` argument) says
    the deployment is past the threshold — bit-equal results either
    way (property-tested), oracle unchanged.

    Returns one row per group: n_a, n_b, exact integer millicent
    means, t_stat, welch_df, significant."""
    from ..scale import exact_sum

    cents = F.round(F.col(value_col) * 100).cast("long")
    is_a = (F.col(variant_col) % 2 == 0)
    agg = df.select(F.col(group_col).alias("g"), cents.alias("c"), is_a.alias("a")).groupBy(
        "g"
    ).agg(
        F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("a"), 1).otherwise(0)).alias("nb"),
        exact_sum(F.when(F.col("a"), F.col("c")).otherwise(0), escalate).alias("s1a"),
        exact_sum(F.when(~F.col("a"), F.col("c")).otherwise(0), escalate).alias("s1b"),
        exact_sum(F.when(F.col("a"), F.col("c") * F.col("c")).otherwise(0), escalate).alias("s2a"),
        exact_sum(F.when(~F.col("a"), F.col("c") * F.col("c")).otherwise(0), escalate).alias("s2b"),
    )
    na, nb = F.col("na"), F.col("nb")
    # try_divide everywhere a degenerate group (n <= 1, or two
    # constant variants making se2 = 0) would zero a denominator:
    # ANSI sessions must get NULL statistics, not a crash — the
    # poisson_bootstrap near-empty-group discipline. The oracle
    # mirrors with x / nullif(den, 0).
    #
    # The variance-numerator PRODUCTS (n*s2 and s1*s1) overflow int64
    # orders of magnitude before the SUMS do (s1 ~ n * cents, so s1^2
    # passes 2^63 around n*|cents| ~ 3e9 — r14 review finding), so
    # they are ALWAYS computed in DECIMAL(38,0) regardless of the sum
    # path: this runs per GROUP row (post-aggregation), so the decimal
    # cost is O(|groups|), not O(rows). The result is then cast to
    # double EXPLICITLY — a decimal division would apply decimal scale
    # rules instead of IEEE division and break bit-equality between
    # the int64-sum and decimal-sum paths.
    dec = "decimal(38,0)"
    va = F.try_divide(
        (na.cast(dec) * F.col("s2a").cast(dec) - F.col("s1a").cast(dec) * F.col("s1a").cast(dec)).cast("double"),
        (na * (na - F.lit(1))).cast("double"),
    )
    vb = F.try_divide(
        (nb.cast(dec) * F.col("s2b").cast(dec) - F.col("s1b").cast(dec) * F.col("s1b").cast(dec)).cast("double"),
        (nb * (nb - F.lit(1))).cast("double"),
    )
    staged = agg.select(
        "g", "na", "nb", "s1a", "s1b",
        F.try_divide(va, na).alias("sea"),
        F.try_divide(vb, nb).alias("seb"),
    )
    se2 = F.col("sea") + F.col("seb")
    # means cast to double BEFORE dividing: on the decimal-sum path
    # try_divide(decimal, long) yields decimal(38,6) — means rounded
    # at 1e-6 — which shifts t near the significance boundary
    # (r14 review finding)
    t = F.try_divide(
        F.try_divide(F.col("s1a").cast("double"), na)
        - F.try_divide(F.col("s1b").cast("double"), nb),
        F.sqrt(se2),
    )
    dfree = F.try_divide(
        se2 * se2,
        F.try_divide(F.col("sea") * F.col("sea"), na - F.lit(1))
        + F.try_divide(F.col("seb") * F.col("seb"), nb - F.lit(1)),
    )
    return staged.select(
        F.col("g").alias(group_col),
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.floor(F.try_divide((1000 * F.col("s1a")).cast("double"), na)).cast("long").alias("mean_a_millicents"),
        F.floor(F.try_divide((1000 * F.col("s1b")).cast("double"), nb)).cast("long").alias("mean_b_millicents"),
        F.round(t, 6).alias("t_stat"),
        F.round(dfree, 3).alias("welch_df"),
        (F.abs(t) > F.lit(crit)).alias("significant"),
    )
