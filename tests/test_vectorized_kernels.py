"""Equivalence tests for the r16 Arrow/numpy kernel rewrites.

Two per-row kernels moved from Catalyst HOF expressions to vectorized
numpy inside mapInPandas (optimization r16, guide §4.2): the
containment-dedup winnowing window-min and the char-entropy histogram.
Both rewrites claim BYTE-IDENTICAL (winnow) / ulps-below-rounding
(entropy) outputs; these tests pin that claim against independent
reference models on randomized corpora so a future kernel edit cannot
silently drift.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


def _random_texts(seed: int, n: int, alphabet: str, lo: int, hi: int) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        ln = rng.randint(lo, hi)
        out.append("".join(rng.choice(alphabet) for _ in range(ln)))
    return out


def test_containment_winnow_kernel_matches_catalyst_reference(spark):
    """The numpy sliding-window-min + first-occurrence-distinct kernel
    inside containment_dedup must reproduce the former Catalyst
    expression exactly (same xxhash64 inputs, min of longs, distinct
    order). Reference = the literal Catalyst form, run side by side on
    the same frame."""
    k, w = 20, 16
    # low-alphabet strings maximize repeated k-grams (duplicate mins,
    # the distinct-order edge); include one string at the exact
    # min-length boundary (k + w - 1) and repetitive/periodic bodies
    texts = _random_texts(716, 40, "abcd ", k + w - 1, 400)
    texts += ["x" * (k + w - 1), ("ab" * 200), ("tick tock " * 30)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, _t string"
    ).withColumn("_len", F.length("_t"))

    kg = df.select(
        "doc_id",
        "_len",
        F.transform(
            F.sequence(F.lit(0), F.col("_len") - k),
            lambda i: F.xxhash64(F.substring(F.col("_t"), i + 1, F.lit(k))),
        ).alias("_kg"),
    )
    reference = {
        r["doc_id"]: list(r["_g"])
        for r in kg.select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("_kg") - w),
                    lambda i: F.array_min(F.slice(F.col("_kg"), i + 1, w)),
                )
            ).alias("_g"),
        ).collect()
    }

    # the SHIPPED kernel (ADVICE r16: pin the module-level function
    # containment_dedup itself calls, so a future edit to the shipped
    # code cannot drift without failing this exact-equality assertion)
    from nifi_minifi_cpp_spark.analytics import dedup as dedup_mod
    from nifi_minifi_cpp_spark.analytics.dedup import _winnow_window_mins

    import numpy as np
    import pandas as pd

    def _winnow(batches):
        for pdf in batches:
            out = []
            for arr in pdf["_kg"]:
                out.append(_winnow_window_mins(np.asarray(arr, dtype=np.int64), w))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "_len": pdf["_len"], "_g": out}
            )

    got = {
        r["doc_id"]: list(r["_g"])
        for r in kg.mapInPandas(_winnow, "doc_id long, _len int, _g array<long>").collect()
    }
    assert got == reference  # values AND first-occurrence order

    # and the public operator end-to-end still finds the planted
    # containments on this adversarial corpus
    wrapped = spark.createDataFrame(
        [(1000 + i, f"PRE {t} POST") for i, t in enumerate(texts[:5])],
        "doc_id long, text string",
    )
    base = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    flagged = {
        r["doc_id"]
        for r in dedup_mod.containment_dedup(base.unionAll(wrapped)).collect()
    }
    assert set(range(5)) <= flagged  # every wrapped original is caught


def test_kgram_xxh64_matches_spark_expression(spark):
    """The vectorized numpy XXH64 (optimization r17) that replaced the
    per-position Catalyst projection inside containment_dedup must be
    BIT-IDENTICAL to Spark's xxhash64(substring(...)) on every
    algorithm branch: message byte lengths < 8, 8..31 and >= 32 (the
    four-lane stripe path), ASCII and multibyte (2/3/4-byte chars,
    including windows that straddle multibyte boundaries)."""
    import numpy as np

    from nifi_minifi_cpp_spark.analytics.dedup import _kgram_xxh64

    texts = _random_texts(57, 25, "abcd ", 20, 200)
    texts += _random_texts(58, 25, "abéü中文\U0001f600 x", 20, 200)
    texts += [
        "x" * 19 + "Ω" + "y" * 19,  # 2-byte char mid-window
        "日本語のテキスト" * 8,  # all 3-byte
        "\U0001f600" * 40,  # all 4-byte (astral): k=20 chars = 80 bytes
        "exactly twenty chars",  # single window per k
    ]
    for k in (5, 20, 33):  # <8-byte tail, 8..31, >=32 stripe path
        rows = [(i, t) for i, t in enumerate(texts) if len(t) >= k]
        df = spark.createDataFrame(rows, "doc_id long, t string")
        reference = {
            r["doc_id"]: list(r["h"])
            for r in df.select(
                "doc_id",
                F.transform(
                    F.sequence(F.lit(0), F.length("t") - k),
                    lambda i: F.xxhash64(F.substring(F.col("t"), i + 1, F.lit(k))),
                ).alias("h"),
            ).collect()
        }
        for i, t in rows:
            got = _kgram_xxh64(t, k)
            assert got.dtype == np.int64
            assert list(got) == reference[i], f"k={k} doc={i}"


def test_vectorized_md5_matches_hashlib():
    """vhash.md5_hex (the vectorized RFC-1321 MD5 behind the r17
    Poisson-bootstrap kernel) vs hashlib.md5 — Spark's md5 implements
    the same RFC, so hashlib is the independent reference. Lengths
    cover every padding branch: empty, < 56, the 56..63 straddle (bit
    length forces a second block), exact multiples of 64, multi-block."""
    import hashlib

    import numpy as np

    from nifi_minifi_cpp_spark.analytics.vhash import md5_hex

    rng = random.Random(7)
    for length in (0, 1, 5, 12, 31, 55, 56, 63, 64, 65, 100, 200):
        msgs = [bytes(rng.randrange(256) for _ in range(length)) for _ in range(40)]
        mat = (
            np.frombuffer(b"".join(msgs), dtype=np.uint8).reshape(40, length)
            if length
            else np.zeros((40, 0), dtype=np.uint8)
        )
        got = list(md5_hex(mat, length))
        want = [hashlib.md5(m).hexdigest().encode() for m in msgs]
        assert got == want, f"md5 mismatch at length {length}"


def test_poisson_bootstrap_kernel_matches_catalyst_reference(spark):
    """The r17 Arrow/numpy replicate kernel inside
    poisson_bootstrap_mean_ci must reproduce the former Catalyst
    explode + md5 + conv + threshold-count pipeline EXACTLY, including
    the NULL edges: NULL event_id (every lane was NULL — the row left
    both sums), NULL value (counts in nw, contributes no swc term),
    a group whose every value is NULL (swc stays NULL -> NULL
    replicates -> NULL CI bounds), a group whose every id is NULL (kept,
    with NULL bounds) and a NULL group (dropped by the equi-join).

    The "big" row's per-cell swc sum crosses 2^53 (still below
    2^63 / 1000, so the reference's 1000 * swc does not overflow): id
    10000007 draws weight 3 in 8 of the 100 replicates and never more,
    and 3 x 3002399751580335 cents is odd past 2^53, where a float64
    accumulation rounds it to even and shifts the 5th-ranked mean."""
    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.analytics.sketches import (
        POISSON1_CDF_24BIT,
        poisson_bootstrap_mean_ci,
    )

    rng = random.Random(99)
    rows = [
        (rng.choice(["a", "b", "c"]), i, round(rng.uniform(-50, 50), 2))
        for i in range(200)
    ]
    rows += [("a", 1000, None), ("b", None, 3.5), ("allnull", 2000, None)]
    rows += [("nullids", None, 1.5), ("nullids", None, 2.5), (None, 3000, 4.0)]
    rows += [("big", 10000007, 30023997515803.35)]
    df = spark.createDataFrame(rows, "event_type string, event_id long, value double")

    got = {r["event_type"]: r for r in poisson_bootstrap_mean_ci(df).collect()}

    # the literal pre-r17 pipeline, inline
    blocks_n = 20
    staged = df.select(
        F.col("event_type").alias("g"),
        F.col("event_id").cast("string").alias("_id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    blocks = staged.select(
        "g", "cents", F.explode(F.sequence(F.lit(1), F.lit(blocks_n))).alias("b"), "_id"
    ).withColumn(
        "_h", F.md5(F.concat(F.col("_id"), F.lit(":"), F.col("b").cast("string")))
    )
    v01 = F.conv(F.substring(F.col("_h"), 1, 12), 16, 10).cast("long")
    v23 = F.conv(F.substring(F.col("_h"), 13, 12), 16, 10).cast("long")
    v4 = F.conv(F.substring(F.col("_h"), 25, 6), 16, 10).cast("long")
    lanes = [
        F.shiftright(v01, 24),
        v01.bitwiseAND(F.lit(0xFFFFFF)),
        F.shiftright(v23, 24),
        v23.bitwiseAND(F.lit(0xFFFFFF)),
        v4,
    ]
    aggs = []
    for lane, u in enumerate(lanes):
        w = sum((u >= F.lit(t)).cast("long") for t in POISSON1_CDF_24BIT)
        aggs.append(F.sum(w).alias(f"nw{lane}"))
        aggs.append(F.sum(w * F.col("cents")).alias(f"swc{lane}"))
    ba = blocks.groupBy("g", "b").agg(*aggs)
    rep = ba.select(
        "g",
        F.explode(
            F.array(
                *[
                    F.struct(
                        ((F.col("b") - 1) * 5 + lane + 1).alias("j"),
                        F.floor(
                            F.try_divide(1000 * F.col(f"swc{lane}"), F.col(f"nw{lane}"))
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
        F.floor(1000 * F.sum("cents") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_millicents"),
    )
    want = {
        r["event_type"]: r
        for r in point.join(ci, "g")
        .select(
            F.col("g").alias("event_type"),
            "n_rows",
            "mean_millicents",
            F.try_element_at("means", F.lit(5)).alias("boot_lo_millicents"),
            F.try_element_at("means", F.lit(96)).alias("boot_hi_millicents"),
        )
        .collect()
    }
    assert got == want


def test_char_entropy_matches_explode_groupby_model(spark):
    """char_entropy_scores (numpy histogram) vs an independent
    explode+groupBy SQL model of H = log2(n) - sum(c*log2(c))/n, on
    randomized unicode text (ascii + accents + CJK + emoji). Agreement
    to the operator's round(4) contract."""
    from nifi_minifi_cpp_spark.analytics.text_analysis import char_entropy_scores

    alphabet = "abcdefgh 0123éü中文\U0001f600"
    texts = _random_texts(42, 60, alphabet, 1, 300) + ["a", "\U0001f600" * 7]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["char_entropy"] for r in char_entropy_scores(df).collect()}

    for i, t in enumerate(texts):
        n = len(t)
        counts: dict[str, int] = {}
        for ch in t:
            counts[ch] = counts.get(ch, 0) + 1
        h = math.log2(n) - sum(c * math.log2(c) for c in counts.values()) / n
        assert got[i] == pytest.approx(h, abs=1.1e-4), (i, t[:40])
    assert len(got) == len(texts)


def test_countmin_build_matches_catalyst_reference(spark):
    """The r17 Arrow/numpy count-min builder must reproduce the former
    explode(depth) + scalar md5 + substring + groupBy pipeline EXACTLY
    — every (row, bucket, n) cell, including the NULL-key cells (md5
    of a NULL concat was NULL, so each hash row carried one
    (row, NULL, count) cell) — on an adversarial key mix: negative and
    huge ints as strings, unicode, the empty string, and NULLs."""
    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.analytics.sketches import countmin_build

    rng = random.Random(31)
    keys = [str(rng.randrange(-10**6, 10**6)) for _ in range(400)]
    keys += ["", "café", "naïve-ключ", "🚀" * 3, str(2**63 - 1), None, None]
    df = spark.createDataFrame([(k,) for k in keys], "k string")

    for depth, prefix_hex in ((4, 3), (2, 2)):
        got = {
            (r["row"], r["bucket"]): r["n"]
            for r in countmin_build(df, "k", depth=depth, prefix_hex=prefix_hex).collect()
        }
        rows = F.explode(F.sequence(F.lit(1), F.lit(depth))).alias("row")
        want = {
            (r["row"], r["bucket"]): r["n"]
            for r in df.select(F.col("k").cast("string").alias("_k"))
            .select("_k", rows)
            .select(
                "row",
                F.substring(
                    F.md5(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("_k"))),
                    1,
                    prefix_hex,
                ).alias("bucket"),
            )
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want, (depth, prefix_hex)
