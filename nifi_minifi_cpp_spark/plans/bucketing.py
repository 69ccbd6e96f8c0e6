"""Bucketed-table utilities: pre-shuffle once, join forever.

The reference has no storage-level partitioning at all (SURVEY §4 —
"partition pruning: absent"); at 100 TB the dominant engine cost is
re-shuffling the same fact tables for every keyed join/aggregation.
Writing a table bucketed by its join key pays that shuffle ONCE at
ingest: any later equi-join or groupBy on the bucket key reads
co-located buckets and Catalyst plans it with NO Exchange on the
bucketed sides (asserted in test_plan_quality).

Local note: bucket metadata lives in the session catalog
(``saveAsTable``), which is exactly how a production deployment
registers its warehouse tables; a path-only ``spark.read.parquet``
cannot see bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 32,
    sort_cols: list[str] | str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by the join key.

    THE single bucketed-write primitive, with exactly ONE spelling of
    the bucket count, ``n_buckets``.

    ``n_buckets`` should divide evenly into the cluster's parallelism;
    sorting within buckets additionally removes the sort from
    sort-merge joins and enables binary-search-ish filters.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata comes from the catalog)."""
    return spark.table(table)


def cobucket_join(spark: SparkSession, left_table: str, right_table: str, on: list[str] | str):
    """Join two tables bucketed on the same key with the same bucket
    count: both Exchanges vanish from the plan (the pre-shuffled layout
    satisfies the join's distribution requirement)."""
    on = [on] if isinstance(on, str) else list(on)
    return spark.table(left_table).join(spark.table(right_table), on)
