"""Scale utilities: skew handling and bucketing.

The operators stay skew-naive by design (AQE's skew-join splitting
handles most cases); these helpers cover the cases AQE can't — hot
join keys and repeated co-located joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-spreading equi-join: the classic salting pattern for when
    the BIG side's join key is hot (one user/tenant owns 30% of rows)
    and the small side is too large to broadcast outright.

    The big side gets a random salt in [0, salt_buckets); the small
    side is replicated once per bucket (explode of a literal range —
    pure codegen, no shuffle added to the small side beyond the join's
    own). The join key becomes (keys..., salt), so a hot key's rows
    spread over ``salt_buckets`` reducers instead of one straggler
    task. Row-level semantics are IDENTICAL to the plain join for
    ``inner`` and ``left``: each big row carries exactly one salt and
    the small side covers every salt value. (``right``/``full`` would
    multiply unmatched small rows — rejected.)

    Prefer AQE's skew-join splitting when it fires (it needs
    sort-merge + statistics); salting is the explicit fallback that
    also works through broadcast-hash plans and stays deterministic in
    shape.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join preserves semantics only for inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    if "_salt" in big.columns or "_salt" in small.columns:
        raise ValueError("salted_join reserves the column name '_salt'")
    b = big.withColumn("_salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return b.join(s, [*keys, "_salt"], how).drop("_salt")


def skew_diagnostic(
    df: DataFrame, key: str, top_k: int = 20, partitions: int | None = None
) -> DataFrame:
    """Pre-shuffle skew report (r10 continuation): the operational
    question before any 100 TB groupBy/join — "which keys are hot, and
    how many salt buckets would flatten them?". One slim count
    aggregate, a 1-row total broadcast, a TakeOrderedAndProject top-k.

    Returns (key value, n_rows, row_fraction, suggested_salt):
    suggested_salt = ceil(n_rows / (total / partitions)) — the number
    of buckets that splits the hot key down to an average reducer's
    share (1 for keys already at or below the mean)."""
    p = partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    counts = df.groupBy(F.col(key).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key_value",
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col("n_rows") / F.col("_total").cast("double")).alias("row_fraction"),
            F.greatest(
                F.lit(1),
                F.ceil(F.col("n_rows") * F.lit(p) / F.col("_total").cast("double")),
            )
            .cast("long")
            .alias("suggested_salt"),
        )
        .orderBy(F.desc("n_rows"), "key_value")
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# DECIMAL(38) escalation for exact-integer sufficient-statistic sums (r14,
# VERDICT r13 #6)
# ---------------------------------------------------------------------------

EXPECTED_ROWS_ENV = "SPARK_GRAFT_EXPECTED_ROWS"
DECIMAL_ESCALATION_ROWS_ENV = "SPARK_GRAFT_DECIMAL_ESCALATION_ROWS"
_DEFAULT_ESCALATION_ROWS = 50_000_000


def escalate_exact_sums(expected_rows: int | None = None) -> bool:
    """Should exact-integer sufficient-statistic sums (sum of cents,
    sum of cents squared — the Welch/OLS/ACF building blocks) run in
    DECIMAL(38,0) instead of int64?

    int64 holds ~9.2e18: a cents-squared term (~1e10 for values up to
    ~1e3 dollars) overflows the sum around 1e9 rows PER GROUP. The
    escalation threshold is the configured expected per-group row
    count: set ``SPARK_GRAFT_EXPECTED_ROWS`` at submit time on a big
    cluster (the same place shuffle partitions are sized) and every
    adopting operator switches its sums to DECIMAL(38,0) — exact to
    1e38 — while the small-scale default keeps the faster int64 hash
    aggregate. ``expected_rows`` overrides the env for direct callers.
    The switch is BIT-SAFE: tests/test_scale.py property-tests that
    both paths produce identical results on the same data."""
    import os

    rows = expected_rows
    if rows is None:
        rows = int(os.environ.get(EXPECTED_ROWS_ENV, "0"))
    threshold = int(
        os.environ.get(DECIMAL_ESCALATION_ROWS_ENV, str(_DEFAULT_ESCALATION_ROWS))
    )
    return rows > threshold


def exact_sum(term: Column, escalate: bool | None = None) -> Column:
    """SUM of an exact integer per-row term, as int64 (fast hash-agg
    path) or DECIMAL(38,0) (overflow-proof path) per
    :func:`escalate_exact_sums`. Downstream float tails must cast the
    sums (or expressions over them) to double EXPLICITLY before
    dividing — decimal division would introduce its own scale rules
    and break the bit-equality contract between the two paths."""
    if escalate is None:
        escalate = escalate_exact_sums()
    if escalate:
        return F.sum(term.cast("decimal(38,0)"))
    return F.sum(term)
