"""Text & content operators, dedup/similarity core, streaming stateful."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analytics import cosine_topk, knn_join_exact, quality_features
from ..el import el_string
from ..model import events_to_flowfiles
from ..session import configure, load_table
from ._shared import _drain, _register, _stream_events_stage, _t


def _stage_text_atomic(stage: str, build_df) -> None:
    """Publish a text stage under ``stage`` exactly once, race-safely,
    REPAIRING torn stages: write to a unique tmp dir, atomic-rename
    into place. If the rename fails because a previous run crashed
    mid-publish (stage exists WITHOUT _SUCCESS), the torn dir is
    removed and the rename retried — the old swallow-everything
    except-clause served incomplete data forever (review r5)."""
    import shutil
    import uuid as _uuid

    done = os.path.join(stage, "_SUCCESS")
    if os.path.exists(done):
        return
    tmp = f"{stage}.tmp-{_uuid.uuid4().hex}"
    build_df().write.mode("overwrite").text(tmp)
    try:
        os.rename(tmp, stage)
        return
    except OSError:
        pass
    if os.path.exists(done):  # lost the race to a healthy publisher
        shutil.rmtree(tmp, ignore_errors=True)
        return
    shutil.rmtree(stage, ignore_errors=True)  # torn stage: repair
    try:
        os.rename(tmp, stage)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(done):  # not a benign second race
            raise


# ===========================================================================
# Text analysis / dedup / similarity (LLM-pipeline extensions)
# ===========================================================================


@_register(
    "text_quality_features",
    r"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tokens,
           round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio
    FROM documents
    """,
)
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["punct_ratio"], 4).alias("punct_ratio"),
    )


@_register(
    "bpe_token_counts",
    r"""
    SELECT source, CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))) AS BIGINT) AS total_bpe_tokens
    FROM documents GROUP BY source
    """,
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"))).alias(
            "total_bpe_tokens"
        )
    )


@_register(
    "exact_dedup_representatives",
    """
    SELECT md5(text) AS text_md5, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def exact_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


@_register(
    "normalized_fingerprint_dedup",
    r"""
    SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
           min(doc_id) AS doc_id
    FROM documents GROUP BY 1
    """,
)
def normalized_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup with an oracle-checkable hash (md5 of the
    same normalization the xxhash fingerprint uses)."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    return docs.groupBy(fp.alias("fp")).agg(F.min("doc_id").alias("doc_id"))


@_register(
    "cosine_topk_vec0",
    """
    SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS score
    FROM embeddings, (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
    ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qv) DESC, vec_id
    LIMIT 10
    """,
)
def cosine_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    top = cosine_topk(emb, q, k=10)
    return top.select("vec_id", F.round(F.col("score"), 6).alias("score"))


@_register(
    "ivf_topk_vec0",
    """
    SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS score
    FROM embeddings, (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
    ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qv) DESC, vec_id
    LIMIT 10
    """,
)
def ivf_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path (analytics.similarity): spherical-k-means
    coarse quantizer trained on a bounded sample, distributed cell
    assignment, probe search. Run here with nprobe = n_cells, which
    must DEGRADE EXACTLY to brute force — so the whole index/assign/
    probe machinery sits behind the same DuckDB oracle as the exact
    query. (Pruned-nprobe recall is covered in test_analytics.)"""
    from ..analytics import ivf_assign, ivf_topk, train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    cent = train_ivf_centroids(emb, n_cells=16, sample_rows=2000, seed=7)
    indexed = ivf_assign(emb, cent)
    top = ivf_topk(indexed, cent, q, k=10, nprobe=16)
    return top.select("vec_id", F.round(F.col("score"), 6).alias("score"))


@_register(
    "knn_exact_10x3",
    """
    SELECT query_id, neighbor_id, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
                        b.vec_id
             ) AS rank
      FROM embeddings a, embeddings b
      WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
    ) WHERE rank <= 3
    """,
)
def knn_exact_10x3(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = knn_join_exact(queries, emb, k=3)
    return out.select("query_id", "neighbor_id", "rank")


@_register(
    "embedding_norms_by_label",
    """
    SELECT label, round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm,
           count(*) AS n
    FROM embeddings GROUP BY label
    """,
)
def embedding_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(F.transform(e, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return emb.groupBy("label").agg(
        F.round(F.avg(norm), 4).alias("avg_norm"), F.count(F.lit(1)).alias("n")
    )


@_register(
    "sessionize_users",
    """
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
    FROM (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS session_id
      FROM (
        SELECT user_id, event_id, ts_ms,
               CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
                         > 600000 OR lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events)
      )
    )
    GROUP BY user_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (DefragmentText's session shape on event time):
    10-minute-gap sessions via lag + running sum — the batch analogue
    of session_window(ts, '10 minutes')."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    is_new = F.when(
        (F.col("ts_ms") - F.lag("ts_ms").over(w) > 600000) | F.lag("ts_ms").over(w).isNull(), 1
    ).otherwise(0)
    sess = ev.withColumn("_new", is_new).withColumn("session_id", F.sum("_new").over(w))
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


@_register(
    "pivot_event_counts",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "error", "signup"]
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    for t in types:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
    return out


@_register(
    "el_encode_pack",
    """
    SELECT event_id,
           base64(encode(event_type))                          AS b64,
           replace(event_type, 'e', '3')                        AS leet,
           reverse(event_type)                                  AS rev,
           lpad(CAST(user_id AS VARCHAR), 6, '0')               AS padded_user
    FROM events
    """,
)
def el_encode_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EL encode/string functions vs SQL equivalents."""
    from ..el import promoted_columns

    ev = _t(spark, sf_dir, "events")
    ff = events_to_flowfiles(ev)
    cols = promoted_columns(ff)
    return ff.select(
        F.col("uuid").cast("long").alias("event_id"),
        el_string("${event_type:base64Encode()}", columns=cols).alias("b64"),
        el_string("${event_type:replace('e', '3')}", columns=cols).alias("leet"),
        F.reverse(el_string("${event_type}", columns=cols)).alias("rev"),
        F.lpad(el_string("${user_id}", columns=cols), 6, "0").alias("padded_user"),
    )


@_register(
    "apply_template_events",
    """
    SELECT event_id,
           concat('event=', event_type, ' user=', CAST(user_id AS VARCHAR), ' k=',
                  json_extract_string(props, '$.k')) AS rendered
    FROM events
    """,
)
def apply_template_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ApplyTemplate: Mustache-lite render of attributes into content."""
    from ..functions import apply_template
    from ..operators import evaluate_json_path

    ev = _t(spark, sf_dir, "events")
    ff = evaluate_json_path(events_to_flowfiles(ev), {"k": "$.k"})
    out = apply_template(ff, "event={{event_type}} user={{user_id}} k={{k}}")
    return out.select(F.col("uuid").cast("long").alias("event_id"), F.col("content").alias("rendered"))


@_register(
    "jolt_shift_events",
    """
    SELECT event_id,
           CAST(json_object('meta', json_object('k', json_extract_string(props, '$.k')),
                            'etype', event_type) AS VARCHAR) AS content
    FROM events
    """,
)
def jolt_shift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JoltTransformJSON-lite: shift props.k into a nested output doc."""
    from ..functions import jolt_transform

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id"),
        F.to_json(F.struct(F.get_json_object("props", "$.k").alias("k"), F.col("event_type"))).alias(
            "content"
        ),
    )
    out = jolt_transform(base, shift={"k": "meta.k", "event_type": "etype"})
    return out.select("event_id", "content")


@_register(
    "jolt_chain_events",
    """
    SELECT event_id,
           event_type                           AS etype,
           json_extract_string(props, '$.k')    AS k0,
           'events'                             AS src,
           CAST(user_id AS VARCHAR)             AS who_id
    FROM events
    """,
)
def jolt_chain_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Jolt DSL (functions.jolt — parity with the reference's
    JoltUtils.cpp interpreter): wildcard shift with & back-reference,
    default, cardinality, sort, chained. The oracle checks the scalars
    extracted from the transformed document, not the JSON text, so key
    order / whitespace conventions don't matter. r6: the content schema
    is declared, so the WHOLE chain compiles to one Catalyst expression
    (schema-specialized symbolic execution — wildcards enumerate the
    known keys at compile time); no Python at runtime, locked by a
    plan test."""
    from ..functions import jolt_transform_json

    from ..util import spread_for_cpu

    ev = _t(spark, sf_dir, "events")
    # spread BEFORE the first JSON projection: a single-file scan would
    # otherwise build every content string on one core pre-shuffle
    base = spread_for_cpu(ev.select("event_id", "event_type", "user_id", "props")).select(
        "event_id",
        F.to_json(
            F.struct(
                F.from_json("props", "k string").alias("props"),
                F.col("event_type"),
                F.col("user_id"),
            )
        ).alias("content"),
    )
    chain = [
        {
            "operation": "shift",
            "spec": {"props": {"*": "meta.&"}, "event_type": "etype", "user_id": "who.id"},
        },
        {"operation": "default", "spec": {"meta": {"src": "events"}}},
        {"operation": "cardinality", "spec": {"meta": {"k": "MANY"}}},
        {"operation": "sort"},
    ]
    out = jolt_transform_json(
        base, chain, spread=False,  # already spread above the projection
        input_schema="props struct<k:string>, event_type string, user_id bigint",
    )
    return out.select(
        "event_id",
        F.get_json_object("content", "$.etype").alias("etype"),
        F.get_json_object("content", "$.meta.k[0]").alias("k0"),
        F.get_json_object("content", "$.meta.src").alias("src"),
        F.get_json_object("content", "$.who.id").alias("who_id"),
    )


@_register(
    "invoke_http_route_counts",
    """
    SELECT CASE WHEN event_id % 10 < 5 THEN 'success'
                WHEN event_id % 10 < 7 THEN 'retry'
                WHEN event_id % 10 < 9 THEN 'no_retry'
                ELSE 'failure' END AS relationship,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def invoke_http_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InvokeHTTP (InvokeHTTP.cpp:241,382-404): executor-side requests
    through a deterministic fake transport, then the reference's 4-way
    status-class routing (2xx success / 5xx retry / 1xx,3xx,4xx
    no_retry / transport error failure). The fake maps payload ->
    status so DuckDB can replicate the routing arithmetic."""
    from ..streaming import http_relationship, invoke_http

    class _FakeResponse:
        def __init__(self, code):
            self.status_code = code
            self.text = ""

    class _FakeSession:
        def request(self, method, url, data=None, headers=None, timeout=None):
            m = int(data.decode()) % 10
            if m < 5:
                return _FakeResponse(200)
            if m < 7:
                return _FakeResponse(503)
            if m < 9:
                return _FakeResponse(404)
            raise ConnectionError("down")

    ev = _t(spark, sf_dir, "events").select(F.col("event_id").cast("string").alias("content"))
    sent = invoke_http(ev, "http://sink.test/ingest", session_factory=_FakeSession)
    return sent.groupBy(http_relationship().alias("relationship")).agg(
        F.count(F.lit(1)).alias("n")
    )


@_register(
    "incremental_scan_tail",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > (SELECT max(o_orderkey) - 50 FROM orders)
    """,
)
def incremental_scan_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryDatabaseTable: high-watermark incremental scan (watermark
    preset to max-50; the predicate pushes into the parquet scan)."""
    import tempfile

    from ..sources import IncrementalTableScan, parquet_table_reader

    configure(spark)
    max_key = load_table(spark, "orders", sf_dir).agg(F.max("o_orderkey")).first()[0]
    # private fresh dir => unique state path without mktemp's race
    state = os.path.join(tempfile.mkdtemp(prefix="incr_scan_"), "state.json")
    scan = IncrementalTableScan(
        parquet_table_reader(f"{sf_dir}/orders.parquet"),
        ["o_orderkey"],
        state_path=state,
        initial_max_values={"o_orderkey": int(max_key) - 50},
    )
    out = scan.poll(spark)
    return out.select("o_orderkey", "o_custkey", "o_totalprice")


@_register(
    "record_transform_upper",
    "SELECT upper(event_type) AS etype, count(*) AS n FROM events GROUP BY upper(event_type)",
)
def record_transform_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExecutePythonProcessor surface: Arrow-batched RecordTransform."""
    from ..functions import apply_record_transform

    ev = _t(spark, sf_dir, "events").select("event_type")

    def xform(rec):
        return {"etype": rec["event_type"].upper()}

    transformed = apply_record_transform(ev, xform, "etype string")
    return transformed.groupBy("etype").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "syslog_parse",
    r"""
    SELECT event_id,
           regexp_extract(line, '^<(\d{1,3})>', 1)  AS pri,
           regexp_extract(line, '^<\d{1,3}>([A-Z][a-z]{2}\s+\d{1,2}\s\d{2}:\d{2}:\d{2})\s+(\S+)\s+(.*)$', 1) AS sl_ts,
           regexp_extract(line, '^<\d{1,3}>([A-Z][a-z]{2}\s+\d{1,2}\s\d{2}:\d{2}:\d{2})\s+(\S+)\s+(.*)$', 2) AS sl_host
    FROM (
      SELECT event_id,
             concat('<', CAST(13 + (event_id % 8) AS VARCHAR), '>Jan  1 00:00:0', CAST(event_id % 10 AS VARCHAR),
                    ' host', CAST(user_id AS VARCHAR), ' app: ', event_type) AS line
      FROM events
    )
    """,
)
def syslog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListenSyslog parse: RFC3164 lines synthesized from events
    (FIXTURES.md 'syslog lines' fixture), parsed via the streaming
    records adapter."""
    from ..streaming import parse_syslog

    ev = _t(spark, sf_dir, "events")
    lines = ev.select(
        "event_id",
        F.concat(
            F.lit("<"),
            (13 + F.col("event_id") % 8).cast("string"),
            F.lit(">Jan  1 00:00:0"),
            (F.col("event_id") % 10).cast("string"),
            F.lit(" host"),
            F.col("user_id").cast("string"),
            F.lit(" app: "),
            F.col("event_type"),
        ).alias("content"),
    )
    parsed = parse_syslog(lines)
    return parsed.select(
        "event_id",
        F.col("attributes").getItem("syslog.priority").alias("pri"),
        F.col("attributes").getItem("syslog.timestamp").alias("sl_ts"),
        F.col("attributes").getItem("syslog.hostname").alias("sl_host"),
    )


@_register(
    "tailfile_ingest",
    "SELECT md5(text) AS line_md5 FROM documents",
)
def tailfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TailFile: stage the documents as log files, tail them with
    offset state, verify every line arrives intact.

    Staging is DISTRIBUTED (``df.write.text`` — executors write the
    log shards, no driver collect) and CACHED per sf_dir, keyed by the
    source parquet's mtime so regenerated testdata re-stages. The tail
    sweep itself is the polling TailFile (driver-side metadata + read,
    the reference's own agent model); the scale path is the native
    streaming source (``sources/datasource.py`` ``TailFileDataSource``,
    offsets = (file, position, checksum) state) — see test_tail_metrics."""
    import tempfile

    from ..sources import TailFile

    configure(spark)
    src = f"{sf_dir}/documents.parquet"
    stamp = int(os.path.getmtime(src))
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    stage = os.path.join(tempfile.gettempdir(), f"spark-graft-tailq-{sf_name}-{stamp}")
    _stage_text_atomic(
        stage,
        lambda: load_table(spark, "documents", sf_dir).select(
            F.regexp_replace("text", "\n", " ").alias("value")
        ),
    )
    # private fresh dir => unique state path without mktemp's race
    state_path = os.path.join(tempfile.mkdtemp(prefix="tailq-state-"), "state.json")
    tail = TailFile(f"{stage}/part-*", state_path)
    out = tail.poll(spark)
    return out.select(F.md5(F.col("content")).alias("line_md5"))


@_register(
    "archive_roundtrip",
    "SELECT CAST(doc_id AS VARCHAR) AS entry_name, md5(text) AS content_md5 FROM documents",
)
def archive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeContent ZIP format -> unpack: entries must hash-match the
    original documents."""
    from ..operators import merge_content_archive, unpack_archive

    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(
        F.col("doc_id").cast("string").alias("uuid"),
        F.col("text").alias("content"),
        F.create_map(F.lit("filename"), F.col("doc_id").cast("string")).alias("attributes"),
    )
    packed = merge_content_archive(ff, fmt="zip")
    unpacked = unpack_archive(packed, fmt="zip")
    return unpacked.select(
        F.col("entry_name"), F.md5(F.col("content")).alias("content_md5")
    )


@_register(
    "llm_inference_fake",
    # DuckDB mirror of deterministic_fake_generate on the rendered
    # prompt: first 5 all-alpha whitespace tokens, reversed. RE2's
    # [[:alpha:]] is ASCII vs Python's unicode isalpha — identical on
    # this corpus (verified sf0.01 + sf0.1); a unicode corpus would
    # need a unicode-letter class here.
    """
SELECT doc_id,
  'FAKE:' || array_to_string(
    list_reverse(
      list_filter(string_split_regex('Summarize: ' || text, '\\s+'),
                  w -> regexp_matches(w, '^[[:alpha:]]+$'))[1:5]),
    ' ') AS completion
FROM documents
""",
)
def llm_inference_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RunLlamaCppInference shape with the deterministic fake backend;
    oracle-graded — the mapInPandas batching, prompt templating, and
    extractive fake are all pinned by the SQL mirror."""
    from ..analytics import run_llm_inference

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = run_llm_inference(docs, "Summarize: {{text}}", batch_size=64)
    return out.select("doc_id", "completion")


@_register(
    "streaming_route_counts",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def streaming_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming in the correctness gate: the events table
    replayed through a file STREAM -> groupBy aggregation in complete
    mode -> memory sink; the final state must equal the batch answer
    (same code path the streaming operators use, SURVEY §2.10)."""
    import uuid as _uuid

    configure(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file-stream source wants a directory; stage the table file
    stage = _stream_events_stage(spark, sf_dir)
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    stream = spark.readStream.schema(schema).parquet(stage)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    view = f"stream_counts_{_uuid.uuid4().hex[:8]}"
    q = agg.writeStream.format("memory").queryName(view).outputMode("complete").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT event_type, n FROM {view}")


@_register(
    "stateful_bin_packing_merge",
    # Count-threshold flush is order-independent: every 8th row per key
    # closes a bin, the <8-row remainder stays in state (no age timeout
    # fires within the run), so per-key bin counts are exactly
    # floor(cnt/8) regardless of shuffle/micro-batch interleaving.
    """
    SELECT event_type AS correlation,
           CAST(floor(count(*) / 8) AS BIGINT)     AS n_bins,
           CAST(floor(count(*) / 8) * 8 AS BIGINT) AS merged_rows
    FROM events GROUP BY event_type
    """,
)
def stateful_bin_packing_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeContent bin-packing as a STATEFUL STREAMING operator
    (applyInPandasWithState, SURVEY §2.6 / BinFiles.h:190-229) in the
    correctness gate: events stream through the bin packer keyed by
    event_type with max_entries=8; the oracle pins per-key bin counts
    and merged-row totals. Flush-by-bytes/age are pytest-covered
    (test_streaming.py) — they are arrival-order/wallclock-dependent,
    so the graded invariant uses the count threshold only."""
    import uuid as _uuid

    from ..streaming.stateful import merge_content_bin_packing_stream

    configure(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stage = _stream_events_stage(spark, sf_dir)
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    stream = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .select(
            F.col("event_type").alias("correlation"),
            F.col("event_id").cast("string").alias("content"),
        )
    )
    merged = merge_content_bin_packing_stream(
        stream,
        correlation_col="correlation",
        max_entries=8,
        max_bytes=1 << 40,  # bytes flush disabled: count threshold only
        max_bin_age_ms=None,  # age flush off -> NoTimeout: no sweep batches
    )
    view = f"bin_pack_{_uuid.uuid4().hex[:8]}"
    # a drain, not a poll loop: none of the ~40 wasted sweep epochs a
    # poll window accumulates. The count-threshold flushes all land
    # while draining; the <8-row remainder stays in state by design.
    # ~5 correlation keys: 8 state stores, not 32.
    _drain(
        spark,
        merged.writeStream.format("memory").queryName(view).outputMode("append"),
        timeout_s=180,
        partitions=8,
    )
    return spark.sql(
        f"""
        SELECT correlation,
               count(*) AS n_bins,
               sum(merge_count) AS merged_rows
        FROM {view}
        WHERE flush_reason = 'entries' AND merge_count = 8
        GROUP BY correlation
        """
    )


@_register(
    "stateful_defragment_reassembly",
    # Fixed 20-char pieces + max_buffer_size=100 => a size flush every
    # 5 pieces exactly; the <5-piece remainder stays buffered. Message
    # counts are therefore floor(cnt/5) per key, order-independent.
    """
    SELECT event_type AS key,
           CAST(floor(count(*) / 5) AS BIGINT)     AS n_messages,
           CAST(floor(count(*) / 5) * 5 AS BIGINT) AS pieces_joined
    FROM events GROUP BY event_type
    """,
)
def stateful_defragment_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DefragmentText as a STATEFUL STREAMING operator
    (applyInPandasWithState, DefragmentText.h:37-92) in the correctness
    gate: fixed-width pieces stream through the defragmenter keyed by
    event_type with a 100-byte buffer cap (= exactly 5 pieces); the
    oracle pins per-key message counts and joined-piece totals. The
    boundary-pattern flush path is pytest-covered (order-dependent, so
    kept out of the graded invariant: start pattern here never matches)."""
    import uuid as _uuid

    from ..streaming.stateful import defragment_text_stream

    configure(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stage = _stream_events_stage(spark, sf_dir)
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    stream = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .select(
            F.col("event_type").alias("key"),
            F.lpad(F.col("event_id").cast("string"), 20, "0").alias("content"),
        )
    )
    defrag = defragment_text_stream(
        stream,
        message_start_pattern=r"\ANEVERMATCHES\Z",
        key_col="key",
        max_buffer_age_ms=None,  # age flush off -> NoTimeout: no sweep batches
        max_buffer_size=100,
    )
    view = f"defrag_{_uuid.uuid4().hex[:8]}"
    # ~5 defrag keys: 8 state stores, not 32
    _drain(
        spark,
        defrag.writeStream.format("memory").queryName(view).outputMode("append"),
        timeout_s=180,
        partitions=8,
    )
    return spark.sql(
        f"""
        SELECT key,
               count(*) AS n_messages,
               sum(n_pieces) AS pieces_joined
        FROM {view}
        WHERE flush_reason = 'size' AND n_pieces = 5
        GROUP BY key
        """
    )


# --- r5 breadth: operators previously pytest-only get oracles -----------


@_register(
    "segment_content_parity",
    """
    SELECT doc_id,
           CAST(i AS BIGINT) AS seg_index,
           md5(substr(text, CAST((i - 1) * 64 + 1 AS BIGINT), 64)) AS seg_md5
    FROM (SELECT doc_id, text,
                 UNNEST(range(1, CAST(ceil(length(text) / 64.0) AS BIGINT) + 1)) AS i
          FROM documents)
    """,
)
def segment_content_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SegmentContent (SegmentContent.cpp:54): fixed 64-byte segments,
    segment.index parity and per-segment content hash vs the oracle's
    substr reconstruction."""
    from ..operators import segment_content

    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(
        F.col("doc_id").cast("string").alias("uuid"),
        F.col("text").alias("content"),
        F.create_map(F.lit("filename"), F.col("doc_id").cast("string")).alias("attributes"),
    )
    seg = segment_content(ff, 64)
    return seg.select(
        F.col("attributes").getItem("fragment.identifier").cast("bigint").alias("doc_id"),
        F.col("attributes").getItem("segment.index").cast("bigint").alias("seg_index"),
        F.md5(F.col("content")).alias("seg_md5"),
    )


@_register(
    "split_json_elements",
    """
    SELECT event_id, CAST(1 AS BIGINT) AS frag_index, event_type AS elem FROM events
    UNION ALL
    SELECT event_id, CAST(2 AS BIGINT), CAST(event_id AS VARCHAR) FROM events
    """,
)
def split_json_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SplitJson (SplitJson.cpp:79): a JSON array in content -> one row
    per element with fragment.* attrs; oracle = the unrolled union."""
    from ..operators import split_json

    ev = _t(spark, sf_dir, "events")
    ff = ev.select(
        F.col("event_id").cast("string").alias("uuid"),
        F.to_json(F.array(F.col("event_type"), F.col("event_id").cast("string"))).alias(
            "content"
        ),
        F.create_map().cast("map<string,string>").alias("attributes"),
    )
    out = split_json(ff)
    return out.select(
        F.col("attributes").getItem("fragment.identifier").cast("bigint").alias("event_id"),
        F.col("attributes").getItem("fragment.index").cast("bigint").alias("frag_index"),
        F.col("content").alias("elem"),
    )


@_register(
    "attributes_to_json_pack",
    """
    SELECT event_id,
           '{"event_type":"' || event_type || '","user_id":"' ||
           CAST(user_id AS VARCHAR) || '"}' AS packed
    FROM events
    """,
)
def attributes_to_json_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AttributesToJSON (AttributesToJSON.cpp:116): selected attributes
    serialized in list order; oracle mirrors the exact JSON text."""
    from ..operators import attributes_to_json

    ev = _t(spark, sf_dir, "events")
    ff = events_to_flowfiles(ev)
    out = attributes_to_json(ff, attributes_list=["event_type", "user_id"])
    return out.select(
        F.col("uuid").cast("bigint").alias("event_id"), F.col("content").alias("packed")
    )


@_register(
    "compress_roundtrip_gzip",
    "SELECT doc_id, md5(text) AS text_md5 FROM documents",
)
def compress_roundtrip_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CompressContent (CompressContent.cpp:68): gzip compress ->
    magic-byte auto-detect decompress; the roundtrip must be the
    identity (oracle pins the original content hash)."""
    from ..operators import compress_content

    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(F.col("doc_id"), F.col("text").alias("content"))
    packed = compress_content(ff, mode="compress", fmt="gzip")
    unpacked = compress_content(packed, mode="decompress", fmt="auto")
    return unpacked.select("doc_id", F.md5(F.col("content")).alias("text_md5"))


@_register(
    "defragment_messages",
    # one message per 'a…'-led run of lines, plus a leading message when
    # the first line is not a marker; reassembling all messages in order
    # must reproduce the document exactly (identity md5)
    """
    WITH lines AS (
        SELECT doc_id, text,
               UNNEST(ls) AS line,
               UNNEST(range(1, len(ls) + 1)) AS idx
        FROM (SELECT doc_id, text, string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
              FROM documents)
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN line LIKE 'a%' THEN 1 ELSE 0 END)
                + max(CASE WHEN idx = 1 AND line NOT LIKE 'a%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_messages,
           md5(replace(text, ' ', chr(10))) AS full_md5
    FROM lines GROUP BY doc_id, text
    """,
)
def defragment_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DefragmentText batch flavor (DefragmentText.cpp:59): lines split
    into messages at '^a' start markers; the oracle pins the message
    count per document AND the identity property (messages rejoined in
    order reproduce the original content)."""
    from ..operators import defragment_text

    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(
        F.col("doc_id").cast("string").alias("uuid"),
        F.regexp_replace(F.col("text"), " ", "\n").alias("content"),
        F.create_map().cast("map<string,string>").alias("attributes"),
    )
    msgs = defragment_text(ff, message_start_pattern="^a")
    per_msg = msgs.select(
        F.col("parent_uuid").cast("bigint").alias("doc_id"),
        F.regexp_extract(F.col("uuid"), r"-m(\d+)$", 1).cast("int").alias("_msg"),
        F.col("content"),
    )
    return (
        per_msg.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct(F.col("_msg"), F.col("content").alias("_c")))
                        ),
                        lambda s: s.getField("_c"),
                    ),
                    "\n",
                )
            ).alias("full_md5"),
        )
    )


@_register(
    "execute_sql_rowsets",
    # the rowset->JSON-lines chunking: 500 docs ordered by id, 50 rows
    # per FlowFile -> 10 chunks whose exact JSON content the oracle
    # reconstructs (to_json renders {"doc_id":N,"h":"..."} with int64
    # as a bare number, struct-field order = select order).
    """
    WITH rows AS (
        SELECT doc_id, md5(text) AS h,
               row_number() OVER (ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT 'sql-' || CAST(CAST(floor((rn - 1) / 50) AS BIGINT) AS VARCHAR) AS uuid,
           md5(string_agg('{"doc_id":' || doc_id || ',"h":"' || h || '"}',
                          chr(10) ORDER BY rn)) AS content_md5,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM rows GROUP BY floor((rn - 1) / 50)
    """,
)
def execute_sql_rowsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExecuteSQL (ExecuteSQL.cpp:41-81): SELECT -> JSON-lines rowset
    FlowFiles honoring Max Rows Per Flow File; chunk ids, exact chunk
    content, and executesql.row.count all pinned by the oracle."""
    from ..session import register_views
    from ..sources.sql import execute_sql

    configure(spark)
    register_views(spark, sf_dir)
    out = execute_sql(
        spark,
        "SELECT doc_id, md5(text) AS h FROM documents ORDER BY doc_id",
        max_rows_per_flowfile=50,
    )
    return out.select(
        "uuid",
        F.md5(F.col("content")).alias("content_md5"),
        F.col("attributes").getItem("executesql.row.count").cast("bigint").alias("n_rows"),
    )


@_register(
    "get_put_file_roundtrip",
    "SELECT md5(replace(text, chr(10), ' ')) AS line_md5 FROM documents",
)
def get_put_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetFile -> PutFile through the FLOW COMPILER (GetFile.cpp:71,
    PutFile.cpp:75): documents staged as text files, a compiled flow
    reads them with GetFile and lands them with PutFile (parquet),
    and the landed rows must hash-match the originals."""
    import tempfile

    from ..plans import compile_flow

    configure(spark)
    src = f"{sf_dir}/documents.parquet"
    stamp = int(os.path.getmtime(src))
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    stage = os.path.join(tempfile.gettempdir(), f"spark-graft-getfileq-{sf_name}-{stamp}")
    _stage_text_atomic(
        stage,
        lambda: load_table(spark, "documents", sf_dir).select(
            F.regexp_replace("text", "\n", " ").alias("value")
        ),
    )
    out_dir = tempfile.mkdtemp(prefix="putfileq-") + "/landed"
    flow = compile_flow(
        spark,
        {
            "processors": [
                {"id": "get", "type": "GetFile", "properties": {"input_directory": stage}},
                {"id": "put", "type": "PutFile", "properties": {"directory": out_dir}},
            ],
            "connections": [{"source": "get", "destination": "put"}],
        },
    )
    flow.df("put").write.format("noop").mode("overwrite").save()  # flow ran at compile
    landed = spark.read.parquet(out_dir)
    return landed.select(F.md5(F.col("content")).alias("line_md5"))


@_register(
    "list_fetch_incremental",
    "SELECT md5(replace(text, chr(10), ' ')) AS line_md5 FROM documents",
)
def list_fetch_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListFile + FetchFile (ListFile.cpp:92-118, FetchFile.cpp:118):
    incremental listing with persisted mtime watermark, then
    executor-side content fetch of exactly the listed files.

    The INCREMENTAL contract is enforced in-run (a violation raises,
    failing the graded row): the second poll against unchanged files
    must list nothing. The fetched content then hash-matches the
    staged documents line-for-line."""
    import tempfile

    from ..sources.fetch_file import ListFileState, fetch_file, list_file

    configure(spark)
    src = f"{sf_dir}/documents.parquet"
    stamp = int(os.path.getmtime(src))
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    stage = os.path.join(tempfile.gettempdir(), f"spark-graft-getfileq-{sf_name}-{stamp}")
    _stage_text_atomic(
        stage,
        lambda: load_table(spark, "documents", sf_dir).select(
            F.regexp_replace("text", "\n", " ").alias("value")
        ),
    )
    state = ListFileState(os.path.join(tempfile.mkdtemp(prefix="listq-"), "state.json"))
    listing = list_file(spark, f"{stage}/part-*", state)
    if listing is None:
        raise RuntimeError("first ListFile poll listed nothing")
    second = list_file(spark, f"{stage}/part-*", state)
    if second is not None:
        raise RuntimeError(
            f"incremental contract violated: second poll listed {second.count()} files"
        )
    fetched = fetch_file(spark, listing)
    lines = fetched.select(F.explode(F.split(F.col("content"), "\n")).alias("line")).filter(
        F.col("line") != ""
    )
    return lines.select(F.md5(F.col("line")).alias("line_md5"))


@_register(
    "retry_flow_file_exhaustion",
    # three passes with max_retries=2: rows start at retries=0; pass 1
    # bumps to 1 (retry), pass 2 to 2 (retry), pass 3 sees 2 >= 2 ->
    # retries_exceeded with the counter UNCHANGED at 2 (the reference
    # does not bump on the exceeded route). This oracle caught the
    # off-by-one in the original operator (filter resolved against the
    # post-increment map).
    """
    SELECT CAST(count(*) AS BIGINT) AS n_exceeded,
           CAST(2 AS BIGINT)        AS final_retries
    FROM events WHERE event_type = 'error'
    """,
)
def retry_flow_file_exhaustion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RetryFlowFile (RetryFlowFile.cpp:39): the retry counter loop —
    route to retry until max_retries is exceeded; the oracle pins the
    exceeded population and the final counter value."""
    from ..operators import retry_flow_file, route_on_attribute

    ev = _t(spark, sf_dir, "events")
    ff = route_on_attribute(events_to_flowfiles(ev), {"errors": "${event_type:equals('error')}"})[
        "errors"
    ]
    for _ in range(3):  # each pass re-queues the 'retry' relationship
        routed = retry_flow_file(ff, max_retries=2)
        ff = routed["retry"]
    exceeded = routed["retries_exceeded"]
    return exceeded.agg(
        F.count(F.lit(1)).alias("n_exceeded"),
        F.max(F.col("attributes").getItem("flowfile.retries").cast("bigint")).alias(
            "final_retries"
        ),
    )


@_register(
    "funnel_merge_counts",
    """
    SELECT event_type, CAST(count(*) * 2 AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def funnel_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel (Funnel.h:27): two branches of the same source unioned —
    per-type counts double."""
    from ..operators import funnel

    ev = events_to_flowfiles(_t(spark, sf_dir, "events"))
    a = ev  # two logical branches of the flow graph
    b = ev
    merged = funnel(a, b)
    return merged.groupBy(F.col("attributes").getItem("event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )


@_register(
    "split_content_words",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_parts,
           md5(text) AS rejoin_md5
    FROM documents
    """,
)
def split_content_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SplitContent (SplitContent.cpp:204): delimiter split -> one row
    per part with fragment.*; parts rejoined on the delimiter must
    reproduce the input (identity), count pinned by the oracle."""
    from ..operators import split_content

    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(
        F.col("doc_id").cast("string").alias("uuid"),
        F.col("text").alias("content"),
        F.create_map().cast("map<string,string>").alias("attributes"),
    )
    parts = split_content(ff, " ")
    return (
        parts.select(
            F.col("attributes").getItem("fragment.identifier").cast("bigint").alias("doc_id"),
            F.col("attributes").getItem("fragment.index").cast("int").alias("_idx"),
            "content",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct(F.col("_idx"), F.col("content").alias("_c")))
                        ),
                        lambda s: s.getField("_c"),
                    ),
                    " ",
                )
            ).alias("rejoin_md5"),
        )
    )


@_register(
    "convert_record_xml_roundtrip",
    # Spark's to_xml shape is '<record>\n    <k>NN</k>\n</record>'; the
    # roundtrip back to JSON must normalize to the compact object.
    """
    SELECT event_id,
           '<record>' || chr(10) || '    <k>' ||
           CAST(json_extract(props, '$.k') AS VARCHAR) || '</k>' || chr(10) ||
           '</record>' AS xml,
           '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR) || '}' AS json_back
    FROM events
    """,
)
def convert_record_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConvertRecord (ConvertRecord.cpp:36, JSON<->XML reader/writer
    pair): props JSON -> XML -> JSON; both representations pinned by
    the oracle's text mirror."""
    from ..sources.convert_record import convert_record

    ev = _t(spark, sf_dir, "events")
    ff = ev.select("event_id", F.col("props").alias("content"))
    as_xml = convert_record(ff, "json", "xml", "k int")
    back = convert_record(
        as_xml.withColumnRenamed("content", "xml").withColumn("content", F.col("xml")),
        "xml",
        "json",
        "k int",
    )
    return back.select("event_id", "xml", F.col("content").alias("json_back"))
