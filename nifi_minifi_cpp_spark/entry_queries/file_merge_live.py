"""r15 registrations: TailFile rotated-file recovery (the reference's
hardest source semantics) and the MergeContent attribute strategies.

New registrations live in a NEW module imported LAST from
``entry_queries/__init__`` — the rotation contract treats the
registration order as append-only (tests/test_registry_contract.py
derives the never-graded queue from it), so mid-list insertions into
the thematic modules would reorder the queue.

Reference parity targets:
- /root/reference/extensions/standard-processors/processors/TailFile.cpp:504-583
  (rolling filename pattern, rotated-file lookup, the CRC resume in
  sortAndSkipMainFilePrefix) and :106-215 (CRC streams)
- /root/reference/extensions/libarchive/MergeContent.h:253-285 /
  MergeContent.cpp:349-371 (KeepOnlyCommonAttributesMerger /
  KeepAllUniqueAttributesMerger)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure, load_table
from ._shared import _pinned_shuffle, _poll_stream_rows, _register


@_register(
    "tailfile_rotation_recovery",
    """
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS poll,
             count(*) AS n_lines,
             CAST(1 AS BIGINT) AS n_files,
             min(event_id) AS min_id,
             max(event_id) AS max_id,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(sum(event_id) AS BIGINT) AS sum_ids
      FROM events WHERE event_id < 200
      UNION ALL
      SELECT CAST(2 AS BIGINT), count(*), CAST(2 AS BIGINT),
             min(event_id), max(event_id),
             CAST(count(DISTINCT event_type) AS BIGINT),
             CAST(sum(event_id) AS BIGINT)
      FROM events WHERE event_id >= 200 AND event_id < 400
    ) ORDER BY poll
    """,
)
def tailfile_rotation_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TailFile across a logrotate RENAME with CRC-resumed recovery
    (r15, VERDICT r14 #7 — TailFile.cpp:565-573): poll 1 tails 200
    lines from app.log and persists (position, crc32-of-head). 100
    more lines are appended UNREAD, the file is renamed app.log.1 and
    a fresh app.log gets the next 100 lines — the exact logrotate
    sequence. Poll 2 must (a) find the rotated sibling via the rolling
    filename pattern, (b) prove identity by matching the saved CRC at
    the saved position, (c) resume the SIBLING at that position — the
    100 pre-rename lines are emitted exactly once — and (d) read the
    new main file from 0. Any re-read (min_id/sum_ids inflate) or any
    lost tail (n_lines drops) flips the oracle red; n_files pins that
    poll 2's rows really span both the rotated and the fresh file."""
    import tempfile

    from ..sources.tail_file import TailFile

    configure(spark)
    rows = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_id") < 400)
        .select("event_id", "event_type")
        .orderBy("event_id")
        .collect()
    )
    lines = {r["event_id"]: f"{r['event_type']}|{r['event_id']}\n" for r in rows}
    d = tempfile.mkdtemp(prefix="tailrot_")
    log = os.path.join(d, "app.log")
    tail = TailFile(log, os.path.join(d, "state.json"))

    def summary(df: DataFrame, poll: int) -> DataFrame:
        parsed = df.select(
            "file",
            F.split_part(F.col("content"), F.lit("|"), F.lit(1)).alias("event_type"),
            F.split_part(F.col("content"), F.lit("|"), F.lit(2)).cast("long").alias("event_id"),
        )
        return parsed.agg(
            F.lit(poll).cast("long").alias("poll"),
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("file").alias("n_files"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.countDistinct("event_type").alias("n_types"),
            F.sum("event_id").alias("sum_ids"),
        )

    with open(log, "w") as f:
        f.writelines(lines[i] for i in range(200) if i in lines)
    p1 = summary(tail.poll(spark), 1)

    # append 100 lines the tailer has NOT seen, then rotate
    with open(log, "a") as f:
        f.writelines(lines[i] for i in range(200, 300) if i in lines)
    os.rename(log, log + ".1")
    with open(log, "w") as f:
        f.writelines(lines[i] for i in range(300, 400) if i in lines)
    p2 = summary(tail.poll(spark), 2)
    return p1.unionByName(p2).orderBy("poll")


@_register(
    "merge_attr_strategies",
    """
    WITH ff AS (
      SELECT event_id % 10 AS bin, event_id, event_type,
             CAST(event_id % 3 AS VARCHAR) AS bucket3,
             CASE WHEN event_id % 4 = 0 THEN 'hi' END AS flag
      FROM events WHERE event_id < 3000),
    kv AS (
      SELECT bin, 'source' AS key, 'events' AS value FROM ff
      UNION ALL SELECT bin, 'event_type', event_type FROM ff
      UNION ALL SELECT bin, 'bucket3', bucket3 FROM ff
      UNION ALL SELECT bin, 'flag', flag FROM ff WHERE flag IS NOT NULL),
    members AS (SELECT bin, count(*) AS n FROM ff GROUP BY bin),
    per_key AS (
      SELECT bin, key, count(DISTINCT value) AS nv, count(*) AS cnt,
             min(value) AS value
      FROM kv GROUP BY bin, key)
    SELECT * FROM (
      SELECT 'keep_only_common' AS strategy, CAST(p.bin AS BIGINT) AS bin,
             p.key, p.value
      FROM per_key p JOIN members m USING (bin)
      WHERE p.nv = 1 AND p.cnt = m.n
      UNION ALL
      SELECT 'keep_all_unique', CAST(bin AS BIGINT), key, value
      FROM per_key WHERE nv = 1
    ) ORDER BY strategy, bin, key
    """,
)
def merge_attr_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeContent attribute strategies graded end-to-end (r15,
    VERDICT r14 #7 — MergeContent.cpp:349-371): 3000 flowfiles binned
    by a correlation attribute (event_id % 10) carry four attributes —
    one identical everywhere ('source'), one conflicting within bins
    ('event_type'/'bucket3' wherever a bin sees >1 value), and one
    PARTIAL key ('flag', only on every 4th flowfile, constant value).
    KeepOnlyCommonAttributes keeps a key iff every member carries it
    with one value (set_intersection fold) — so 'flag' is dropped;
    KeepAllUniqueAttributes keeps every key that never conflicts — so
    'flag' survives. Both merged maps are exploded to rows and pinned
    against the oracle's conditional aggregation. One explode + two
    JVM-side aggregations per strategy, no UDFs — shuffles on the bin
    key exactly like the reference's per-bin merge, at any scale."""
    from ..operators.text import merged_attribute_maps

    configure(spark)
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 3000)
    ff = ev.select(
        (F.col("event_id") % 10).cast("long").alias("bin"),
        F.map_from_entries(
            F.filter(
                F.array(
                    F.struct(F.lit("source").alias("key"), F.lit("events").alias("value")),
                    F.struct(F.lit("event_type").alias("key"), F.col("event_type").alias("value")),
                    F.struct(
                        F.lit("bucket3").alias("key"),
                        (F.col("event_id") % 3).cast("string").alias("value"),
                    ),
                    F.struct(
                        F.lit("flag").alias("key"),
                        F.when(F.col("event_id") % 4 == 0, F.lit("hi")).alias("value"),
                    ),
                ),
                lambda s: s["value"].isNotNull(),
            )
        ).alias("attributes"),
    )
    outs = []
    for strategy in ("keep_only_common", "keep_all_unique"):
        merged = merged_attribute_maps(ff, "bin", strategy)
        outs.append(
            merged.select(
                F.lit(strategy).alias("strategy"),
                "bin",
                F.explode("attributes").alias("key", "value"),
            )
        )
    return outs[0].unionByName(outs[1]).orderBy("strategy", "bin", "key")


@_register(
    "tailfile_stream_rotation",
    """
    SELECT * FROM (
      SELECT 'app.log' AS file,
             count(*) AS n_lines,
             min(event_id) AS min_id,
             max(event_id) AS max_id,
             CAST(sum(event_id) AS BIGINT) AS sum_ids
      FROM events WHERE event_id < 200 OR (event_id >= 300 AND event_id < 400)
      UNION ALL
      SELECT 'app.log.1', count(*), min(event_id), max(event_id),
             CAST(sum(event_id) AS BIGINT)
      FROM events WHERE event_id >= 200 AND event_id < 300
    ) ORDER BY file
    """,
)
def tailfile_stream_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING TailFile across a live logrotate rename (r15 — the
    streaming flavor of tailfile_rotation_recovery; TailFile.cpp:565-573
    semantics inside a Python Data Source's offset state machine): the
    stream consumes 200 lines from app.log, then — while the query is
    RUNNING — 100 unread lines are appended, the file is renamed
    app.log.1 and a fresh app.log gets 100 more. The next micro-batch
    must detect the rotation (head-CRC change), recover the unread
    tail from the SIBLING at the checkpointed position via the running
    CRC identity check, and restart the main file at 0. The per-file
    attribution is the proof: app.log carries exactly the pre-rotation
    200 + fresh 100 rows (no re-read), app.log.1 exactly the 100
    recovered rows (no loss, no duplication)."""
    import tempfile
    import uuid as _uuid

    from ..sources.datasource import register_tailfile

    configure(spark)
    rows = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_id") < 400)
        .select("event_id", "event_type")
        .orderBy("event_id")
        .collect()
    )
    lines = {r["event_id"]: f"{r['event_type']}|{r['event_id']}\n" for r in rows}
    d = tempfile.mkdtemp(prefix="tailstream_")
    log = os.path.join(d, "app.log")
    register_tailfile(spark)
    with open(log, "w") as f:
        f.writelines(lines[i] for i in range(200) if i in lines)
    view = f"tfs_{_uuid.uuid4().hex[:8]}"
    stream = spark.readStream.format("tailfile").option("pattern", log).load()
    with _pinned_shuffle(spark, 2):
        q = (
            stream.writeStream.format("memory")
            .queryName(view)
            .outputMode("append")
            .start()
        )
    try:
        _poll_stream_rows(spark, q, view, expected=200)
        # live rotation: append the unread tail, rename, fresh file
        with open(log, "a") as f:
            f.writelines(lines[i] for i in range(200, 300) if i in lines)
        os.rename(log, log + ".1")
        with open(log, "w") as f:
            f.writelines(lines[i] for i in range(300, 400) if i in lines)
        _poll_stream_rows(spark, q, view, expected=400)
    finally:
        q.stop()
    return spark.sql(
        f"""
        SELECT CASE WHEN file LIKE '%.1' THEN 'app.log.1' ELSE 'app.log' END AS file,
               count(*) AS n_lines,
               min(CAST(split_part(content, '|', 2) AS BIGINT)) AS min_id,
               max(CAST(split_part(content, '|', 2) AS BIGINT)) AS max_id,
               sum(CAST(split_part(content, '|', 2) AS BIGINT)) AS sum_ids
        FROM {view} GROUP BY 1 ORDER BY 1
        """
    )
