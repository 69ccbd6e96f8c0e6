"""Shared infrastructure of the entry_queries package: the registry,
the table loader, and the helpers and oracle fragments that two or more
query families read. A helper that one family reads lives in that family.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analytics.dedup import allpairs_jaccard_join
from ..analytics.graph import connected_components
from ..analytics.similarity import quantize_embeddings_int8
from ..session import configure, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

# Registration (definition) order, captured at decoration time. The
# rotation rule is defined over this order: the grade window takes the
# never-driver-graded queue oldest-registration-first, and backfill
# slots go to the stalest previously-graded entries (oldest driver
# round first, registration order within a round). The ledger contract
# test asserts _GRADE_ORDER against this list + CORRECTNESS_r*.json.
_REGISTRATION_ORDER: list[str] = []


def _register(name: str, oracle: str | None):
    def deco(fn: QueryFn):
        if name in _REGISTRY:
            raise RuntimeError(f"duplicate query registration: {name}")
        _REGISTRY[name] = (fn, oracle)
        _REGISTRATION_ORDER.append(name)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure(spark)
    return load_table(spark, name, sf_dir)


def _cents(col) -> "F.Column":
    """Quantize a 2-decimal monetary expression to exact integer cents so
    SUMs are order-independent (Spark segment-tree vs DuckDB sequential
    float accumulation differ in ulps on boundary values)."""
    return F.round(col * 100).cast("long")


def _stream_events_stage(spark: SparkSession, sf_dir: str, table: str = "events") -> str:
    """Stage a table's parquet behind a directory for the file-stream
    source (it wants a dir, not a file). O(#files) driver work: one
    symlink per data file. A Spark-written <table>.parquet is itself a
    DIRECTORY of part files — link those individually, because the
    file-stream lister does not recurse into a linked subdirectory
    (observed: the sf1 probe's staged tables streamed 0 rows)."""
    import tempfile

    stage = tempfile.mkdtemp(prefix=f"stream-{table[:2]}-")
    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    if os.path.isdir(src):
        for i, f in enumerate(sorted(os.listdir(src))):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(src, f), f"{stage}/part-{i:05d}.parquet")
    else:
        os.symlink(src, f"{stage}/{table}.parquet")
    return stage


def _pinned_shuffle(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` while a STREAMING query is
    constructed+started, then restore. Structured Streaming bakes the
    value into the stateful-operator layout at start: a few-hundred-row
    graded fixture stream otherwise instantiates 32 state stores per
    micro-batch for a handful of groups — pure setup cost. Fixture-only
    tuning: production streams keep the session's partitioning."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return _cm()


def _poll_stream_rows(
    spark: SparkSession,
    q,
    view: str,
    expected: int,
    timeout_s: float = 180.0,
    expected_input: int | None = None,
):
    """Wait until the memory sink holds >= expected rows (or raise).

    ``processAllAvailable()`` is NOT usable here: with a stateful
    operator holding ProcessingTimeTimeout state the stream keeps
    scheduling timeout-sweep batches and the call never returns, so —
    like the reference's SingleProcessorTestController trigger loop —
    we poll the sink for the (deterministically known) result size.

    ``expected_input``: when the total INPUT row count is known, wait
    on ``q.recentProgress`` first — a driver-side dict read, no Spark
    job — so the SQL count usually runs exactly once instead of
    racing poll jobs against the micro-batches they're waiting on."""
    import time as _time

    deadline = _time.monotonic() + timeout_s
    if expected_input is not None:
        while _time.monotonic() < deadline:
            if q.exception():
                raise q.exception()
            seen = sum(int(p["numInputRows"]) for p in q.recentProgress)
            if seen >= expected_input:
                break
            _time.sleep(0.05)
    while _time.monotonic() < deadline:
        if q.exception():
            raise q.exception()
        n = spark.sql(f"SELECT count(*) AS n FROM {view}").first()["n"]
        if n >= expected:
            return
        _time.sleep(0.25)
    raise TimeoutError(f"{view}: {expected} rows not reached in {timeout_s}s")


def _drain(spark: SparkSession, writer, timeout_s: float = 120.0, partitions: int = 4) -> None:
    """Run a stream once over the input available now: start ``writer``
    (a ``DataStreamWriter``) with the availableNow trigger under
    ``partitions`` shuffle partitions, and wait for the query to stop on
    its own. Self-termination means no ``q.stop()`` interrupts an
    in-flight RocksDB state-store commit, the source of transient
    CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT retries. A query still
    running after ``timeout_s`` is stopped and raises TimeoutError,
    since its sink holds only part of the input."""
    with _pinned_shuffle(spark, partitions):
        q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream {q.name} did not drain its input in {timeout_s}s")
    if q.exception():
        raise q.exception()


def _supplier_part_edges(li, symmetric: bool = True):
    """Packed-long supplier-part bipartite edges shared by the graph
    entries (supplier -> 2k, part -> 2k+1 — 8-byte keys through every
    shuffle; decode to 's…'/'p…' labels only in final projections)."""
    fwd = li.select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    if not symmetric:
        return fwd
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _kmeans_oracle_sql(k: int, iters: int) -> str:
    """Unrolled-CTE DuckDB oracle for ``kmeans_quantized`` — long-form
    (vec_id, dim, x) joins instead of the engine's array HOFs: the
    distance is a dim-join GROUP BY sum, the argmin a row_number
    window, the centroid update a floor-divided per-(cluster, dim)
    aggregate. Exact integer arithmetic end-to-end, so summation
    order cannot flip a single assignment."""
    parts = [
        r"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
      FROM embeddings),
    e AS (SELECT vec_id, generate_subscripts(qv, 1) AS dim, unnest(qv) AS x
          FROM q),
    seeds AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c
      FROM (SELECT vec_id FROM q ORDER BY vec_id LIMIT """
        + str(k)
        + r""")),
    c0 AS (SELECT s.c, e.dim, e.x FROM e JOIN seeds s ON e.vec_id = s.vec_id)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""
    , d{i} AS (
      SELECT e.vec_id, c.c, CAST(sum((e.x - c.x) * (e.x - c.x)) AS BIGINT) AS dist
      FROM e JOIN c{i - 1} c ON e.dim = c.dim GROUP BY e.vec_id, c.c)
    , a{i} AS (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        FROM d{i}) WHERE rn = 1)
    , c{i} AS (
      SELECT a.c, e.dim,
             CAST(floor(CAST(sum(e.x) AS BIGINT) / count(*)) AS BIGINT) AS x
      FROM e JOIN a{i} a ON e.vec_id = a.vec_id GROUP BY a.c, e.dim)"""
        )
    parts.append(
        f"""
    SELECT s.cluster_id, s.n_members, ck.centroid_sum FROM
      (SELECT c AS cluster_id, CAST(count(*) AS BIGINT) AS n_members
       FROM a{iters} GROUP BY c) s
      JOIN
      (SELECT c AS cluster_id, CAST(sum(x) AS BIGINT) AS centroid_sum
       FROM c{iters} GROUP BY c) ck USING (cluster_id)
    ORDER BY cluster_id"""
    )
    return "".join(parts)


def _int8_top10(emb: DataFrame, rank_col: str) -> DataFrame:
    """Top-10 neighbours ``(query_id, nid, rank_col)`` of the queries
    vec_id < 20 by dequantized-int8 cosine, the retrieval that the int8
    recall and nDCG evals grade. Dequantized score = leftfold(sum
    (qa_i*s_i)(qb_i*s_i)) / (|ra||rb|): every term is the same IEEE
    sequence in Catalyst and DuckDB (explicit left folds, correctly
    rounded sqrt), so the ranking is deterministic. The query side is
    broadcast; ties break toward the smaller id."""
    deq = quantize_embeddings_int8(emb, return_scales=True).select(
        "vec_id",
        F.zip_with(
            F.col("qvec"), F.col("scales"), lambda qd, s: qd.cast("double") * s
        ).alias("rv"),
    )
    deq = deq.select(
        "vec_id",
        "rv",
        F.sqrt(
            F.aggregate(
                F.transform("rv", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("nrm"),
    )
    qa = F.broadcast(
        deq.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"),
            F.col("rv").alias("ra"),
            F.col("nrm").alias("na"),
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("ra"), F.col("rv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = (
        deq.crossJoin(qa)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("nid"),
            F.try_divide(dot, F.col("na") * F.col("nrm")).alias("s"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("nid"))
    return (
        scored.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= 10)
        .select("query_id", "nid", rank_col)
    )


def _int8_retrieval_ctes(qr_cols: str, ex_cols: str) -> str:
    """Oracle CTEs of the int8 retrieval evals: ``qr`` holds each query's
    top 10 by dequantized-int8 cosine (rank ``rk``), ``ex`` its exact
    float-cosine top 10; both read queries vec_id < 20 and select the
    given columns. The text ends inside the ``WITH`` list."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (SELECT i AS pos, abs(v[CAST(i + 1 AS INT)]) AS a
          FROM v, (SELECT unnest(range(64)) AS i) ix),
    sc AS (SELECT pos, CASE WHEN max(a) > 0 THEN max(a) / 127.0 ELSE 1.0 END AS s
           FROM d GROUP BY pos),
    sarr AS (SELECT list(s ORDER BY pos) AS arr FROM sc),
    r AS (SELECT vec_id,
            list_transform(range(1, 65),
              i -> CAST(greatest(-127, least(127,
                     CAST(round(v[CAST(i AS INT)] / arr[CAST(i AS INT)]) AS INT)))
                   AS DOUBLE) * arr[CAST(i AS INT)]) AS rv
          FROM v, sarr),
    rn AS (SELECT vec_id, rv,
             sqrt(list_reduce(list_transform(rv, x -> x * x), (a, b) -> a + b)) AS nrm
           FROM r),
    qp AS (SELECT a.vec_id AS query_id, b.vec_id AS nid,
             list_reduce(list_transform(range(1, 65),
               i -> a.rv[CAST(i AS INT)] * b.rv[CAST(i AS INT)]), (x, y) -> x + y)
               / (a.nrm * b.nrm) AS s
           FROM rn a JOIN rn b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
    qr AS (SELECT {qr_cols} FROM (
             SELECT query_id, nid,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY s DESC, nid) AS rk
             FROM qp) WHERE rk <= 10),
    ex AS (SELECT {ex_cols} FROM (
             SELECT a.vec_id AS query_id, b.vec_id AS nid,
                    row_number() OVER (
                      PARTITION BY a.vec_id
                      ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                                      b.embedding::DOUBLE[]) DESC,
                               b.vec_id) AS rk
             FROM embeddings a, embeddings b
             WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id) WHERE rk <= 10),
"""


def _session_stats(ev: DataFrame) -> DataFrame:
    """Per-user 30-minute session windows of an events frame, batch or
    streaming: ``(user_id, session_start, session_end, n_events,
    total_value)``. Spark's session end is exclusive (last event +
    gap), so ``_SESSION_STATS_ORACLE`` breaks a session at dt >= gap."""
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "total_value",
    )


_SESSION_STATS_ORACLE = r"""
    WITH s AS (SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                 THEN 1 ELSE 0 END AS brk
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (SELECT user_id, ts, value,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM s)
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM g GROUP BY user_id, sid
    """


def _near_dup_components(docs: DataFrame) -> DataFrame:
    """Near-duplicate clusters of ``docs``: connected components
    ``(node, component)`` over the exact AllPairs Jaccard >= 0.8 pairs
    of 3-word shingles. ``_NEAR_DUP_COMPONENTS_CTES`` is the oracle."""
    pairs = allpairs_jaccard_join(docs, threshold=0.8, ngram=3).select("id_a", "id_b")
    return connected_components(pairs, src="id_a", dst="id_b")


# Oracle CTEs of ``_near_dup_components`` on the doc_id % 4 sample: the
# quadratic Jaccard truth join, then a recursive min-label closure.
# ``comp(n, c)`` maps each clustered doc to its component; the text ends
# inside the ``WITH RECURSIVE`` list.
_NEAR_DUP_COMPONENTS_CTES = r"""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
      FROM documents WHERE doc_id % 4 = 0),
    t AS (
      SELECT doc_id,
        CASE WHEN len(l) - 2 > 0 THEN
          list_distinct(list_transform(range(1, CAST(len(l) - 2 AS BIGINT) + 1),
            i -> array_to_string(list_slice(l, i, i + 2), ' ')))
        ELSE [array_to_string(l, ' ')] END AS s
      FROM w),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) /
            CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
            >= 0.8),
    e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
    reach(n, l) AS (
      SELECT s, s FROM e
      UNION
      SELECT e.d, reach.l FROM e JOIN reach ON e.s = reach.n),
    comp AS (SELECT n, min(l) AS c FROM reach GROUP BY n),
"""


# Oracle CTEs of BM25 for the query {merge, scan, window}: tokens ``t``,
# per-doc length and term frequencies ``per``, corpus statistics ``st``.
_BM25_CTES = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
      FROM documents),
    per AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS dl,
             CAST(len(list_filter(tk, x -> x = 'merge')) AS BIGINT) AS tf0,
             CAST(len(list_filter(tk, x -> x = 'scan')) AS BIGINT) AS tf1,
             CAST(len(list_filter(tk, x -> x = 'window')) AS BIGINT) AS tf2
      FROM t),
    st AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      FROM per)"""

# BM25 score of a ``per`` row against ``st``: k1 = 1.2, b = 0.75 and the
# rational Robertson-Sparck Jones idf, summed left to right over the terms.
_BM25_SCORE_SQL = """((0.0
       + ((n - df0 + 0.5) / (df0 + 0.5)) * (CAST(tf0 AS DOUBLE) * 2.2)
           / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n)))))
       + ((n - df1 + 0.5) / (df1 + 0.5)) * (CAST(tf1 AS DOUBLE) * 2.2)
           / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n)))))
       + ((n - df2 + 0.5) / (df2 + 0.5)) * (CAST(tf2 AS DOUBLE) * 2.2)
           / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))"""


def _hourly_grid(ev: DataFrame) -> DataFrame:
    """Each user's hourly grid ``(user_id, ts)``: every hour from the
    hour of the user's first event to the hour of the last."""
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("_mn"),
        F.date_trunc("hour", F.max("ts")).alias("_mx"),
    )
    return bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("_mn"), F.col("_mx"), F.expr("interval 1 hour"))
        ).alias("ts"),
    )


# Oracle CTEs of the bigram models: lowercased whitespace tokens ``toks``,
# bigram occurrences ``p2`` and bigram counts ``big``; the text ends
# inside the ``WITH`` list.
_BIGRAM_CTES = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      FROM documents),
    p2 AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
      FROM (SELECT doc_id,
              unnest(list_transform(range(1, len(t)),
                                    i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg
            FROM toks WHERE len(t) >= 2)),
    big AS (SELECT w1, w2, count(*) AS cb FROM p2 GROUP BY w1, w2),
"""
