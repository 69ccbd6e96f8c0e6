"""Temporal joins, invariant-graded dedup, wire protocols, LLM-pipeline pack."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics import embedding_dedup, minhash_dedup
from ..el import el_string
from ..model import events_to_flowfiles
from ..session import configure
from ..util import reliable_barrier
from ._shared import _BM25_CTES, _BM25_SCORE_SQL, _poll_stream_rows, _register, _t


# --- invariant-backed dedup grading -------------------------------------
#
# The near-dup algorithms are seeded/LSH-based, so their exact kept set
# is not SQL-expressible — but their CONTRACT is. Each graded entry
# injects exact duplicates (copies of the 100 smallest ids, shifted by
# +1_000_000) into the corpus, runs the full dedup, and returns a
# one-row invariant report whose every value a DuckDB oracle pins:
#
#   n_input            = corpus + injected copies   (pinned exactly)
#   orphans            = kept ids not in the input  (must be 0)
#   injected_survivors = injected copies kept       (must be 0: every
#                        copy shares all buckets with its smaller-id
#                        original, so the drop rule must fire)
#   dup_violations     = kept pairs w/ identical content (must be 0)
#
# Non-vacuous by construction: the corpus has no natural exact dups
# (exact_dedup keeps all 500 at sf0.01), so the 100 injected pairs are
# what the recall assertions actually exercise.

_INJECT_N = 100


_INJECT_OFFSET = 1_000_000


def _with_injected_dups(df: DataFrame, id_col: str) -> DataFrame:
    dups = df.filter(F.col(id_col) < _INJECT_N).withColumn(
        id_col, F.col(id_col) + F.lit(_INJECT_OFFSET)
    )
    return df.unionByName(dups)


def _dedup_invariant_report(inp: DataFrame, kept: DataFrame, id_col: str, content_col: str) -> DataFrame:
    # the kept set feeds THREE aggregates below; without a barrier each
    # one re-runs the whole LSH/signature lineage (mapInPandas stages
    # are not cached by Catalyst). Materialize the slim (id, content)
    # projection once.
    kept = reliable_barrier(kept.select(id_col, content_col))
    n_input = inp.agg(F.count(F.lit(1)).alias("n_input"))
    orphans = kept.join(inp.select(id_col), id_col, "left_anti").agg(
        F.count(F.lit(1)).alias("orphans")
    )
    survivors = kept.filter(F.col(id_col) >= _INJECT_OFFSET).agg(
        F.count(F.lit(1)).alias("injected_survivors")
    )
    # pair join keyed on the 64-bit content hash (8-byte shuffle key at
    # scale), equality re-checked on the content itself
    ka = kept.select(
        F.col(id_col).alias("_ida"), F.col(content_col).alias("_ca"), F.xxhash64(content_col).alias("_h")
    )
    kb = kept.select(
        F.col(id_col).alias("_idb"), F.col(content_col).alias("_cb"), F.xxhash64(content_col).alias("_h")
    )
    viol = (
        ka.join(kb, "_h")
        .filter((F.col("_ida") > F.col("_idb")) & (F.col("_ca") == F.col("_cb")))
        .agg(F.count(F.lit(1)).alias("dup_violations"))
    )
    return n_input.crossJoin(orphans).crossJoin(survivors).crossJoin(viol)


def _dedup_invariant_oracle(table: str, id_col: str) -> str:
    return f"""
SELECT (SELECT count(*) FROM {table})
       + (SELECT count(*) FROM {table} WHERE {id_col} < {_INJECT_N}) AS n_input,
       CAST(0 AS BIGINT) AS orphans,
       CAST(0 AS BIGINT) AS injected_survivors,
       CAST(0 AS BIGINT) AS dup_violations
"""


def _append_host_info_oracle() -> str:
    """The oracle is generated at registration time with THIS machine's
    hostname/IP inlined as literals — AppendHostInfo's output is
    host-deterministic, which is exactly its contract
    (AppendHostInfo.cpp:58)."""
    import socket

    host = socket.gethostname()
    try:
        ip = socket.gethostbyname(host)
    except OSError:
        ip = "127.0.0.1"
    return f"""
    SELECT event_id, '{host}' AS src_host, '{ip}' AS src_ip
    FROM events WHERE event_id < 500
    """


# --- temporal joins (operators/temporal.py) ------------------------------


@_register(
    "asof_error_prior_click",
    """
SELECT e.event_id, c.event_id AS prior_click_id,
       CAST(epoch_us(e.ts) - epoch_us(c.ts) AS DOUBLE) / 1000.0 AS gap_ms
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts >= c.ts
""",
)
def asof_error_prior_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union trick, one shuffle + sort — no non-equi
    join): each error event matched to the user's latest click at or
    before it; graded against DuckDB's native ASOF JOIN."""
    from ..operators import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(errors, clicks, on="user_id", right_prefix="prior_")
    return out.select(
        "event_id",
        F.col("prior_click_id"),
        ((F.unix_micros("ts") - F.unix_micros("prior_ts")) / 1000.0).alias("gap_ms"),
    )


@_register(
    "range_join_purchase_after_error",
    """
SELECT p.event_id AS purchase_id, e.event_id AS error_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND e.ts <= p.ts AND p.ts < e.ts + INTERVAL 30 MINUTE
""",
)
def range_join_purchase_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (explode ranges into bins -> equi hash join
    -> exact containment filter; no BroadcastNestedLoop): purchases
    landing inside a 30-minute window after an error by the same
    user."""
    from ..operators import range_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
        F.col("event_id").alias("error_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    out = range_join(purchases, errors, "ts", "start_ts", "end_ts", on="user_id")
    return out.select("purchase_id", "error_id")


@_register("minhash_dedup_kept", _dedup_invariant_oracle("documents", "doc_id"))
def minhash_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dedup, graded on its invariant contract (the
    seeded kept set itself is not SQL-expressible)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    inp = _with_injected_dups(docs, "doc_id")
    kept = minhash_dedup(inp)
    return _dedup_invariant_report(inp, kept, "doc_id", "text")


@_register("ngram_jaccard_dedup_kept", _dedup_invariant_oracle("documents", "doc_id"))
def ngram_jaccard_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dedup: MinHash-LSH candidate pruning, then
    EXACT Jaccard (array_intersect/array_union on distinct 3-word
    shingles) verification before dropping. Graded on invariants —
    identical-text pairs have Jaccard 1, so every injected copy must
    verify and drop."""
    from ..analytics import ngram_jaccard_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    inp = _with_injected_dups(docs, "doc_id")
    kept = ngram_jaccard_dedup(inp, threshold=0.5)
    return _dedup_invariant_report(inp, kept, "doc_id", "text")


@_register(
    "multimodal_features_frames",
    # DuckDB mirror of the deterministic stub codec: _stable_hash is
    # md5 bytes 8..16 LE == md5_number_lower; the frame sampler emits
    # exactly max_frames=4 frames at every_s=0.5.
    """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
  (md5_number_lower(text)::UBIGINT % 1920 + 1)::INTEGER AS width,
  (md5_number_lower(text)::UBIGINT % 1080 + 1)::INTEGER AS height,
  (md5_number_lower(text)::UBIGINT % 256) / 255.0 AS mean_luma,
  CAST(4 AS BIGINT) AS n_frames,
  CAST(1.5 AS DOUBLE) AS max_ts
FROM documents
""",
)
def multimodal_features_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end (analytics.multimodal): opaque
    binary payload + typed metadata -> Arrow-batched feature extraction
    (deterministic stub codec) -> frame-sample fan-out (UDTF shape) ->
    per-media join + aggregate. Oracle-graded: the stub features are
    md5-derived (DuckDB md5_number_lower mirror); the real cluster
    swaps the codec."""
    from ..analytics.multimodal import (
        documents_as_media,
        extract_image_features,
        sample_video_frames,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    media = documents_as_media(docs)
    feats = extract_image_features(media, fake=True)
    frames = sample_video_frames(media, every_s=0.5, max_frames=4, fake=True)
    frame_counts = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"), F.max("frame_ts_s").alias("max_ts")
    )
    return feats.join(frame_counts, "media_id").select(
        "media_id", "width", "height", "mean_luma", "n_frames", "max_ts"
    )


@_register(
    "simhash_signatures",
    f"""
SELECT (SELECT count(*) FROM documents)
       + (SELECT count(*) FROM documents WHERE doc_id < {_INJECT_N}) AS n_rows,
       (SELECT count(*) FROM documents WHERE doc_id < {_INJECT_N}) AS dup_pairs,
       CAST(0 AS BIGINT) AS sig_mismatches,
       CAST(0 AS BIGINT) AS null_sigs
""",
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit signatures via the Arrow-batched numpy path (the
    pure-Catalyst ``simhash64`` form costs 64 interpreted lambda evals
    per token — ~2.5s at sf0.1 vs <1s here, and the gap widens 100×).
    Graded on the signature contract: deterministic (identical text →
    identical signature, checked over 100 injected exact-dup pairs),
    total (no null signatures), one row per input."""
    from ..analytics import simhash_signature_pandas

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    inp = _with_injected_dups(docs, "doc_id")
    # materialize once: four aggregates below would otherwise re-run
    # the Arrow signature stage each
    sigs = (
        reliable_barrier(
            simhash_signature_pandas(inp, "text", "doc_id").withColumnRenamed("_sig", "sig")
        )
    )
    n_rows = sigs.agg(F.count(F.lit(1)).alias("n_rows"))
    orig = sigs.filter(F.col("doc_id") < _INJECT_N).select(
        F.col("doc_id").alias("_id"), F.col("sig").alias("_sig_orig")
    )
    copy = sigs.filter(F.col("doc_id") >= _INJECT_OFFSET).select(
        (F.col("doc_id") - _INJECT_OFFSET).alias("_id"), F.col("sig").alias("_sig_copy")
    )
    pairs = orig.join(copy, "_id")
    pair_stats = pairs.agg(
        F.count(F.lit(1)).alias("dup_pairs"),
        F.sum((F.col("_sig_orig") != F.col("_sig_copy")).cast("long")).alias("sig_mismatches"),
    )
    nulls = sigs.agg(F.sum(F.col("sig").isNull().cast("long")).alias("null_sigs"))
    return n_rows.crossJoin(pair_stats).crossJoin(nulls)


@_register("embedding_dedup_kept", _dedup_invariant_oracle("embeddings", "vec_id"))
def embedding_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH embedding near-dedup, graded on invariants: an injected
    copy has an identical vector → identical hyperplane sign pattern →
    same bucket as its original → cosine 1.0 ≥ threshold → dropped."""
    vecs = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    inp = _with_injected_dups(vecs, "vec_id")
    kept = embedding_dedup(inp, threshold=0.99)
    # content key for the pair check: hash the float array bit pattern
    report_inp = inp.withColumn("_ckey", F.col("embedding").cast("array<string>"))
    report_kept = kept.withColumn("_ckey", F.col("embedding").cast("array<string>"))
    return _dedup_invariant_report(
        report_inp.select("vec_id", "_ckey"), report_kept.select("vec_id", "_ckey"), "vec_id", "_ckey"
    )


@_register(
    "listen_tcp_ingest",
    """
    SELECT event_type || ':' || CAST(event_id AS VARCHAR) AS message,
           CAST(1 AS BIGINT) AS n
    FROM events WHERE event_id < 400
    """,
)
def listen_tcp_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListenTCP (ListenTCP.cpp:65) end-to-end over a REAL socket: 400
    delimited messages through one connection into the native stream
    source; TCP is lossless after accept, so the oracle pins every
    message exactly once (the UDP twin stays pytest-only — pre-bind
    datagrams are droppable by design, so its exact content is not
    deterministic)."""
    import socket as _socket
    import threading as _threading
    import uuid as _uuid

    from ..sources.datasource import ListenTCPDataSource

    configure(spark)
    spark.dataSource.register(ListenTCPDataSource)
    msgs = [
        f"{r['event_type']}:{r['event_id']}"
        for r in _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 400)
        .select("event_id", "event_type")
        .collect()
    ]
    s = _socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    view = f"tcp_{_uuid.uuid4().hex[:8]}"
    stream = spark.readStream.format("tcplisten").option("port", str(port)).load()
    q = stream.writeStream.format("memory").queryName(view).outputMode("append").start()

    def send():
        import time as _time

        deadline = _time.monotonic() + 120
        while _time.monotonic() < deadline:  # listener binds with batch 0
            try:
                tx = _socket.create_connection(("127.0.0.1", port), timeout=2)
                break
            except OSError:
                _time.sleep(0.1)
        else:  # pragma: no cover - listener never came up
            return
        with tx:
            tx.sendall(("\n".join(msgs) + "\n").encode())

    t = _threading.Thread(target=send, daemon=True)
    t.start()
    try:
        _poll_stream_rows(spark, q, view, expected=len(msgs), expected_input=len(msgs))
    finally:
        q.stop()
    return spark.sql(
        f"SELECT message, CAST(count(*) AS BIGINT) AS n FROM {view} GROUP BY message"
    )


@_register(
    "kafka_wire_consume",
    """
    SELECT 'ev-' || CAST(event_id AS VARCHAR) AS kafka_key,
           event_type || '|' || CAST(event_id AS VARCHAR) AS content,
           CAST(event_id AS VARCHAR) AS header_eid,
           CAST(1 AS BIGINT) AS n
    FROM events WHERE event_id < 300
    """,
)
def kafka_wire_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConsumeKafka EXECUTING end-to-end (r8 — first driver row for the
    operator): 300 records seeded into an in-process broker speaking
    the public Kafka binary protocol (RecordBatch v2 + CRC32C, Fetch
    v4), streamed through the stdlib ``kafkawire`` source with the
    reference property map, kafka.* attributes + headers lifted by
    kafka_records_to_flowfiles. Every key, payload, and header value is
    pinned exactly once. Real-broker interop remains a cluster action —
    this grades the wire format and the full streaming path."""
    import uuid as _uuid

    from ..sources.kafka_wire import MiniKafkaBroker
    from ..streaming.records import kafka_records_to_flowfiles
    from ..streaming.sources import kafka_wire_source

    configure(spark)
    rows = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 300)
        .select("event_id", "event_type")
        .collect()
    )
    broker = MiniKafkaBroker().start()
    try:
        topic = f"events_{_uuid.uuid4().hex[:8]}"
        broker.append(
            topic,
            0,
            [
                (
                    1_700_000_000_000 + r["event_id"],
                    b"ev-%d" % r["event_id"],
                    (r["event_type"] + "|" + str(r["event_id"])).encode(),
                    [("eid", str(r["event_id"]).encode())],
                )
                for r in rows
            ],
        )
        stream = kafka_wire_source(
            spark,
            {
                "Kafka Brokers": broker.bootstrap,
                "Topic Names": topic,
                "Offset Reset": "earliest",
            },
        )
        ff = kafka_records_to_flowfiles(stream)
        view = f"kw_{_uuid.uuid4().hex[:8]}"
        q = ff.writeStream.format("memory").queryName(view).outputMode("append").start()
        try:
            _poll_stream_rows(spark, q, view, expected=len(rows), expected_input=len(rows))
        finally:
            q.stop()
        return spark.sql(
            f"""
            SELECT attributes['kafka.key'] AS kafka_key,
                   content,
                   attributes['eid'] AS header_eid,
                   CAST(count(*) AS BIGINT) AS n
            FROM {view} GROUP BY 1, 2, 3
            """
        )
    finally:
        broker.stop()


@_register(
    "kinesis_batch_plan",
    """
    WITH numbered AS (
      SELECT event_id,
             row_number() OVER (ORDER BY event_id) - 1 AS rn
      FROM events WHERE event_id < 1250
    )
    SELECT CAST(floor(rn / 100) AS BIGINT) AS batch_idx,
           CAST(count(*) AS BIGINT) AS records
    FROM numbered GROUP BY 1
    """,
)
def kinesis_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PutKinesisStream batching (PutKinesisStream.cpp:44-76): the
    build_kinesis_batches chunker runs EXECUTOR-side over an
    Arrow-batched sorted partition; per-batch record counts are pinned
    by the oracle's row_number arithmetic (100-record cap exercised;
    the 4 MB byte soft-cap keeps its pytest)."""
    from ..streaming.adapters import build_kinesis_batches

    configure(spark)
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1250)
        .select("event_id", "event_type")
        .repartition(1)  # deterministic chunk boundaries need one sorted partition
        .sortWithinPartitions("event_id")
    )

    def chunk(batches):
        import pandas as pd

        rows = []
        for pdf in batches:
            rows.extend(
                (str(t), str(i).encode()) for i, t in zip(pdf["event_id"], pdf["event_type"])
            )
        out = []
        for bi, batch in enumerate(build_kinesis_batches(iter(rows), max_records=100)):
            out.append({"batch_idx": bi, "records": len(batch)})
        yield pd.DataFrame(out, columns=["batch_idx", "records"])

    return ev.mapInPandas(chunk, "batch_idx long, records long")


@_register(
    "duplicate_components_chains",
    """
    WITH e AS (
      SELECT doc_id AS s, doc_id + 1 AS d FROM documents
      WHERE doc_id % 50 < 9
        AND doc_id + 1 <= (SELECT max(doc_id) FROM documents)
    ), nodes AS (
      SELECT s AS n FROM e UNION SELECT d AS n FROM e
    )
    SELECT CAST(n - (n % 50) AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM nodes GROUP BY 1
    """,
)
def duplicate_components_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (analytics.graph) graded on CONSTRUCTED
    duplicate chains: edges (i, i+1) for i%50<9 build 10-node paths,
    so the pointer-jumping label propagation must traverse 9 hops
    (~4 rounds) before every node carries the chain's min id — an
    ITERATIVE algorithm pinned by an exact SQL oracle because the
    component label of a chain is derivable arithmetically. Pairwise
    dedup cannot produce these labels; this is the transitive-closure
    gap the operator exists for."""
    from ..analytics.graph import connected_components

    configure(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    edges = (
        docs.filter((F.col("doc_id") % 50 < 9) & (F.col("doc_id") + 1 <= max_id))
        .select(F.col("doc_id").alias("s"), (F.col("doc_id") + 1).alias("d"))
    )
    comp = connected_components(edges, src="s", dst="d")
    return comp.groupBy(F.col("component").cast("long").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


@_register(
    "prometheus_exposition_pack",
    """
    SELECT 'minifi_flow_files_out' AS metric,
           CAST((SELECT count(*) FROM events WHERE event_id < 800) AS BIGINT) AS value
    UNION ALL
    SELECT 'minifi_bytes_out',
           CAST((SELECT sum(length(props)) FROM events WHERE event_id < 800) AS BIGINT)
    UNION ALL SELECT 'minifi_physical_mem', CAST(16384 * 1024 AS BIGINT)
    UNION ALL SELECT 'minifi_memory_usage', CAST((16384 - 8192) * 1024 AS BIGINT)
    """,
)
def prometheus_exposition_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrometheusMetricsPublisher exposition (METRICS.md:98-181):
    TransferredFlowFiles/Bytes counted by a real Observation on the
    events frame, DeviceInfoNode gauges from a fixture /proc — the
    rendered text is parsed back and every deterministic metric value
    pinned (cpu_load_average is wall-clock state and is excluded)."""
    import os as _os
    import tempfile as _tmp

    from ..metrics import prometheus_exposition, with_transfer_metrics

    configure(spark)
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 800).select(
        F.col("props").alias("content")
    )
    observed, tm = with_transfer_metrics(ev, "events_out")
    observed.write.format("noop").mode("overwrite").save()  # the action the counters observe

    proc = _tmp.mkdtemp(prefix="procfx_")
    with open(_os.path.join(proc, "meminfo"), "w") as f:
        f.write("MemTotal:       16384 kB\nMemAvailable:    8192 kB\n")
    text = prometheus_exposition(
        transfer_metrics=[tm], agent_identifier="graded-agent", procfs_root=proc
    )
    wanted = (
        "minifi_flow_files_out",
        "minifi_bytes_out",
        "minifi_physical_mem",
        "minifi_memory_usage",
    )
    rows = []
    for line in text.splitlines():
        name = line.split("{", 1)[0]
        if name in wanted:
            rows.append((name, int(float(line.rsplit(" ", 1)[1]))))
    return spark.createDataFrame(rows, "metric string, value long")


@_register(
    "c2_operation_acks",
    """
    SELECT * FROM (VALUES
      (1, 'describe',  'manifest',      'FULLY_APPLIED'),
      (2, 'update',    'properties',    'FULLY_APPLIED'),
      (3, 'update',    'properties',    'NOT_APPLIED'),
      (4, 'update',    'properties',    'NO_OPERATION'),
      (5, 'clear',     'connection',    'NO_OPERATION'),
      (6, 'flagellate', 'self',         'NOT_APPLIED')
    ) AS t(seq, op, operand, state)
    """,
)
def c2_operation_acks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 agent protocol (C2.md; C2Agent.cpp handle_c2_server_response)
    graded as an operation/ack truth table: one heartbeat carries six
    requested operations — describe manifest, an allowed property
    update, a policy-denied one, a same-value NO_OPERATION, a no-op
    clear, and an unknown op — and every acknowledge state must match
    the reference's semantics. Fully deterministic: the injected
    transport IS the C2 server."""
    from ..plans.c2 import C2Agent
    from ..plans.pipeline import FlowController
    from ..plans.services import ControllerService

    configure(spark)
    ops = [
        {"identifier": "1", "operation": "describe", "operand": "manifest"},
        {"identifier": "2", "operation": "update", "operand": "properties",
         "args": {"nifi.c2.agent.heartbeat.period": "10"}},
        {"identifier": "3", "operation": "update", "operand": "properties",
         "args": {"nifi.locked.prop": "x"}},
        {"identifier": "4", "operation": "update", "operand": "properties",
         "args": {"nifi.c2.agent.heartbeat.period": "10"}},  # same value now
        {"identifier": "5", "operation": "clear", "operand": "connection"},
        {"identifier": "6", "operation": "flagellate", "operand": "self"},
    ]

    def transport(payload: dict) -> dict | None:
        if payload.get("operation") == "heartbeat":
            return {"requestedOperations": ops}
        return None  # acks accepted silently

    policy = ControllerService(
        "pol", "pol", "UpdatePolicyControllerService",
        {"Allowed Properties": [{"value": "nifi.c2.agent.heartbeat.period"}]},
    ).resolve()
    ctl = FlowController.__new__(FlowController)  # flowless agent fixture
    ctl.queries, ctl.flow, ctl.config = [], None, {}
    agent = C2Agent(
        ctl,
        transport=transport,
        properties={"nifi.c2.agent.heartbeat.period": "30"},
        update_policy=policy,
    )
    acks = agent.heartbeat()
    rows = [
        (
            int(op["identifier"]),
            op["operation"],
            op["operand"],
            ack["operationState"]["state"],
        )
        for op, ack in zip(ops, acks)
    ]
    return spark.createDataFrame(rows, "seq int, op string, operand string, state string")


@_register(
    "el_date_pack",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H')                         AS hour_str,
           CAST(epoch_ms(ts) AS BIGINT)                        AS ms,
           CAST(epoch_ms(date_trunc('second', ts)) AS BIGINT)  AS ms_roundtrip
    FROM events WHERE event_id < 2000
    """,
)
def el_date_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EL date surface (EXPRESSIONS.md format/toDate/toNumber over the
    reference's epoch-millis date model, Expression.cpp): format a
    millis attribute, then parse the formatted-to-seconds string back
    — the roundtrip truncates to the second exactly like the
    reference's SimpleDateFormat path. Session TZ is pinned by
    configure(), so the hostile non-UTC session must produce identical
    strings."""
    from ..el import promoted_columns

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    ff = events_to_flowfiles(ev).withColumn("ms", F.unix_millis(F.col("ts")))
    cols = promoted_columns(ff)
    return ff.select(
        F.col("uuid").cast("long").alias("event_id"),
        el_string("${ms:format('yyyy-MM-dd HH')}", columns=cols).alias("hour_str"),
        el_string("${ms:toNumber()}", columns=cols).cast("long").alias("ms"),
        el_string(
            "${ms:format('yyyy-MM-dd HH:mm:ss'):toDate('yyyy-MM-dd HH:mm:ss')}",
            columns=cols,
        )
        .cast("long")
        .alias("ms_roundtrip"),
    )


@_register(
    "get_tcp_client_ingest",
    """
    SELECT 'line:' || event_type || ':' || CAST(event_id AS VARCHAR) AS content,
           CAST(1 AS BIGINT) AS n
    FROM events WHERE event_id < 250
    """,
)
def get_tcp_client_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetTCP (GetTCP.cpp:40,127) end-to-end: the engine CONNECTS OUT
    to a server (Spark's socket source = the client-mode analog), 250
    delimited lines served over one accepted connection; every line
    pinned exactly once by the oracle."""
    import socket as _socket
    import threading as _threading
    import uuid as _uuid

    from ..streaming.sources import socket_source

    configure(spark)
    msgs = [
        f"line:{r['event_type']}:{r['event_id']}"
        for r in _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 250)
        .select("event_id", "event_type")
        .collect()
    ]
    srv = _socket.socket()
    srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(4)

    def serve():
        # serve every connection the source opens (it may reconnect)
        while True:
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            try:
                conn.sendall(("\n".join(msgs) + "\n").encode())
                # leave the socket open: the socket source treats EOF
                # as end-of-stream; the fixture closes it at the end
                import time as _time

                _time.sleep(120)
            except OSError:
                pass
            finally:
                conn.close()

    t = _threading.Thread(target=serve, daemon=True)
    t.start()
    view = f"gettcp_{_uuid.uuid4().hex[:8]}"
    stream = socket_source(spark, "127.0.0.1", port)
    q = (
        stream.select("content")
        .writeStream.format("memory")
        .queryName(view)
        .outputMode("append")
        .start()
    )
    try:
        _poll_stream_rows(spark, q, view, expected=len(msgs), expected_input=len(msgs))
    finally:
        q.stop()
        srv.close()
    return spark.sql(
        f"SELECT content, CAST(count(*) AS BIGINT) AS n FROM {view} GROUP BY content"
    )


@_register(
    "loki_batch_flush_counts",
    """
    WITH numbered AS (
      SELECT row_number() OVER (ORDER BY event_id) - 1 AS rn
      FROM events WHERE event_id < 730
    )
    SELECT CASE WHEN CAST(floor(rn / 64) AS BIGINT) < CAST(floor(730.0 / 64) AS BIGINT)
                THEN 'size' ELSE 'final' END AS reason,
           CAST(floor(rn / 64) AS BIGINT) AS batch_idx,
           CAST(count(*) AS BIGINT) AS n
    FROM numbered GROUP BY 1, 2
    """,
)
def loki_batch_flush_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PushGrafanaLoki LogBatch flush (PushGrafanaLoki.cpp:49-67):
    count-threshold batching over a sorted partition, executor-side —
    full 64-entry batches flush with reason 'size', the remainder as
    'final' (the age path keeps its injectable-clock pytest; wall
    time has no oracle)."""
    from ..streaming.adapters import batch_by_count_and_age

    configure(spark)
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 730)
        .select("event_id")
        .repartition(1)
        .sortWithinPartitions("event_id")
    )

    def run(batches):
        import pandas as pd

        rows: list[int] = []
        for pdf in batches:
            rows.extend(int(v) for v in pdf["event_id"])
        out = [
            {"reason": reason, "batch_idx": bi, "n": len(batch)}
            for bi, (batch, reason) in enumerate(
                batch_by_count_and_age(iter(rows), batch_size=64, batch_wait_ms=None)
            )
        ]
        yield pd.DataFrame(out, columns=["reason", "batch_idx", "n"])

    return ev.mapInPandas(run, "reason string, batch_idx long, n long")


@_register(
    "splunk_hec_url_pack",
    """
    SELECT event_id,
           'https://splunk:8088/services/collector/raw?sourcetype=st%20'
             || CAST(event_id % 3 AS VARCHAR)
             || '&source=events&index=main' AS url,
           CASE WHEN event_id % 4 = 0 THEN event_id ELSE NULL END AS ack_id
    FROM events WHERE event_id < 600
    """,
)
def splunk_hec_url_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PutSplunkHTTP endpoint construction + ack parsing
    (PutSplunkHTTP.cpp:47-93) executor-side: per-row HEC URLs with
    percent-encoded query params, and ackId extraction over valid /
    invalid HEC response bodies (every 4th row carries an int ackId,
    the rest a string/absent one -> None). Oracle rebuilds both by
    string arithmetic."""
    from ..streaming.adapters import parse_hec_ack, splunk_hec_url

    configure(spark)
    shaped = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 600)
        .select("event_id", (F.col("event_id") % 3).alias("st"), (F.col("event_id") % 4).alias("m"))
    )

    def run(batches):
        import json as _json

        import pandas as pd

        out = []
        for pdf in batches:
            for _, r in pdf.iterrows():
                url = splunk_hec_url(
                    "https://splunk:8088/",
                    source_type=f"st {int(r['st'])}",  # space forces %20
                    source="events",
                    index="main",
                )
                resp = (
                    _json.dumps({"ackId": int(r["event_id"])})
                    if r["m"] == 0
                    else _json.dumps({"ackId": str(int(r["event_id"]))})
                )
                out.append(
                    {"event_id": int(r["event_id"]), "url": url, "ack_id": parse_hec_ack(resp)}
                )
        yield pd.DataFrame(out, columns=["event_id", "url", "ack_id"])

    return shaped.mapInPandas(run, "event_id long, url string, ack_id long")


@_register("append_host_info_pack", _append_host_info_oracle())
def append_host_info_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AppendHostInfo over the FlowFile frame: the merged attribute
    map must carry this host's name and address on every row."""
    from ..operators import append_host_info

    configure(spark)
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    ff = events_to_flowfiles(ev)
    out = append_host_info(ff)
    return out.select(
        F.col("uuid").cast("long").alias("event_id"),  # uuid = event_id stringly
        F.col("attributes").getItem("source.hostname").alias("src_host"),
        F.col("attributes").getItem("source.ipv4").alias("src_ip"),
    )


@_register(
    "es_bulk_validation_counts",
    """
    WITH shaped AS (
      SELECT CASE event_id % 6
               WHEN 0 THEN 'index' WHEN 1 THEN 'create' WHEN 2 THEN 'delete'
               WHEN 3 THEN 'update' WHEN 4 THEN 'upsert' ELSE 'bogus' END AS action,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE 'docs' END AS idx,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_id END AS doc_id
      FROM events WHERE event_id < 1000
    ), judged AS (
      SELECT CASE
               WHEN action = 'bogus' THEN 'missing or invalid action'
               WHEN idx IS NULL THEN 'missing index'
               WHEN doc_id IS NULL AND action IN ('delete','update','upsert')
                 THEN 'identifier is required for ' || action
               ELSE 'ok:' ||
                 CASE WHEN action = 'delete' THEN '1' ELSE '2' END
             END AS verdict
      FROM shaped
    )
    SELECT verdict, CAST(count(*) AS BIGINT) AS n FROM judged GROUP BY verdict
    """,
)
def es_bulk_validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PostElasticsearch _bulk action validation
    (PostElasticsearch.cpp:80-113) graded as a truth table: rows
    engineered from event_id arithmetic hit every branch — invalid
    action, missing index, missing id for delete/update/upsert, and
    the 1-line (delete) vs 2-line (indexed/updated doc) payload shape.
    build_es_bulk_payload runs EXECUTOR-side per Arrow batch; the
    oracle mirrors the validation order exactly."""
    from ..streaming.adapters import build_es_bulk_payload

    configure(spark)
    shaped = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .select(
            F.element_at(
                F.array(*[F.lit(a) for a in ("index", "create", "delete", "update", "upsert", "bogus")]),
                (F.col("event_id") % 6 + 1).cast("int"),
            ).alias("action"),
            F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.lit("docs")).alias("idx"),
            F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("event_id")).alias("doc_id"),
        )
    )

    def judge(batches):
        import pandas as pd

        out: list[dict] = []
        for pdf in batches:
            for _, r in pdf.iterrows():
                rows = [
                    {
                        "action": r["action"],
                        "index": r["idx"],
                        "id": None if pd.isna(r["doc_id"]) else int(r["doc_id"]),
                        "doc": "{}",
                    }
                ]
                payload, errors = build_es_bulk_payload(rows)
                if errors:
                    verdict = errors[0][1]
                else:
                    verdict = f"ok:{payload.count(chr(10))}"
                out.append({"verdict": verdict})
        yield pd.DataFrame(out, columns=["verdict"])

    judged = shaped.mapInPandas(judge, "verdict string")
    return judged.groupBy("verdict").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "stratified_sample_by_source",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT source, doc_id FROM ranked WHERE rk <= 10
    """,
)
def stratified_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum quota sample: 10 docs per source,
    ranked by md5(doc_id) — any engine selects the same rows (the
    oracle mirrors the rule verbatim), the balanced-split shape a
    training pipeline uses to cap documents per source/language."""
    from ..analytics.text_analysis import deterministic_stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = deterministic_stratified_sample(docs, "source", F.col("doc_id"), per_group=10)
    return out.select("source", "doc_id")


@_register(
    "token_count_distribution",
    r"""
    WITH tc AS (
      SELECT source,
             len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(min(n) AS BIGINT) AS min_tokens,
           CAST(max(n) AS BIGINT) AS max_tokens,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS BIGINT) AS p50,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n) AS BIGINT) AS p90
    FROM tc GROUP BY source
    """,
)
def token_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-budget report per source: counts, totals, and
    discrete p50/p90 token percentiles (percentile_disc semantics
    match across engines, unlike interpolating percentile_cont on
    even counts) — the what-goes-into-the-tokenizer accounting every
    training run starts with."""
    from ..analytics.text_analysis import token_count

    docs = _t(spark, sf_dir, "documents")
    tc = docs.select("source", token_count(F.col("text")).alias("n"))
    return tc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.min("n").cast("long").alias("min_tokens"),
        F.max("n").cast("long").alias("max_tokens"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)").cast("long").alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n)").cast("long").alias("p90"),
    )


@_register(
    "span_dedup_rebuild",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sp AS (
      SELECT doc_id,
             unnest(range(CAST(ceil(len(ws) / 2.0) AS BIGINT))) AS idx,
             unnest(list_transform(range(CAST(ceil(len(ws) / 2.0) AS BIGINT)),
                    i -> array_to_string(ws[i*2+1 : i*2+2], ' '))) AS span
      FROM w),
    shared AS (
      SELECT span FROM (
        SELECT span, count(DISTINCT doc_id) AS d FROM sp GROUP BY span
      ) WHERE d >= 5),
    kept AS (SELECT doc_id, idx, span FROM sp
             WHERE span NOT IN (SELECT span FROM shared)),
    rebuilt AS (SELECT doc_id, string_agg(span, ' ' ORDER BY idx) AS text
                FROM kept GROUP BY doc_id)
    SELECT d.doc_id, coalesce(r.text, '') AS text
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def span_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact span dedup (Lee et al. 2022 / C4 repeated-
    passage rule): every 2-word chunk occurring in >=5 distinct docs is
    cut from all of them and texts are rebuilt from surviving chunks.
    The global frequency pass runs on 16-byte (xxhash64, doc_id) pairs;
    the oracle rebuilds the exact same texts chunk-by-chunk in SQL."""
    from ..analytics.text_analysis import span_dedup

    docs = _t(spark, sf_dir, "documents")
    return span_dedup(docs, span_words=2, min_docs=5)


@_register(
    "span_dedup_overlap_rebuild",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sp AS (
      SELECT doc_id,
             unnest(range(CAST(greatest(len(ws) - 3, 0) AS BIGINT))) AS idx,
             unnest(list_transform(range(CAST(greatest(len(ws) - 3, 0) AS BIGINT)),
                    i -> array_to_string(ws[i+1 : i+4], ' '))) AS span
      FROM w),
    shared AS (SELECT span FROM (
        SELECT span, count(DISTINCT doc_id) AS d FROM sp GROUP BY span
      ) WHERE d >= 3),
    hits AS (SELECT DISTINCT doc_id, idx FROM sp
             WHERE span IN (SELECT span FROM shared)),
    removed AS (SELECT DISTINCT doc_id, idx + o AS pos
                FROM hits, (SELECT unnest(range(4)) AS o) off),
    wp AS (SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS pos
           FROM w),
    tw AS (SELECT DISTINCT doc_id FROM removed),
    kept AS (SELECT wp.doc_id, wp.word, wp.pos FROM wp
             SEMI JOIN tw USING (doc_id)
             ANTI JOIN removed USING (doc_id, pos)),
    rebuilt AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text
                FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN t.doc_id IS NULL THEN d.text
                ELSE coalesce(r.text, '') END AS text
    FROM documents d LEFT JOIN tw t USING (doc_id)
                     LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def span_dedup_overlap_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-position span dedup (Lee et al. 2022's actual repeated-
    substring rule, r7 — VERDICT r6 #7): every overlapping 4-word
    window shared by >=3 distinct docs marks its word interval for
    removal; intervals merge at word granularity and texts rebuild
    from surviving words. Word-level explode happens ONLY for docs
    holding a duplicated span (left_semi first); clean docs pass
    through untouched. Oracle mirrors interval coverage in SQL."""
    from ..analytics.text_analysis import span_dedup_overlap

    docs = _t(spark, sf_dir, "documents")
    return span_dedup_overlap(docs, span_words=4, min_docs=3)


@_register(
    "contamination_flags",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(greatest(len(ws) - 2, 0)),
                    i -> array_to_string(ws[i+1 : i+3], ' '))) AS gram
      FROM w),
    dg AS (SELECT DISTINCT doc_id, gram FROM g),
    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
    hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS overlap_ngrams
      FROM dg JOIN bg USING (gram) GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(h.overlap_ngrams, 0) AS overlap_ngrams,
           coalesce(h.overlap_ngrams, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
)
def contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination flagging (the GPT-3/PaLM n-gram
    overlap rule): docs with doc_id % 50 == 0 stand in as the held-out
    benchmark; every training doc is flagged with its count of shared
    word 3-grams. Corpus side streams slim (id, hash) pairs through a
    broadcast join with the benchmark's n-gram set — the corpus text
    itself never shuffles."""
    from ..analytics.text_analysis import contamination_report

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_report(docs, bench, ngram_words=3)


@_register(
    "domain_mixture_plan",
    r"""
    WITH tc AS (
      SELECT source,
             len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n
      FROM documents),
    per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(n) AS BIGINT) AS tokens
      FROM tc GROUP BY source)
    SELECT source, docs, tokens,
           tokens / CAST((SELECT sum(tokens) FROM per) AS DOUBLE) AS token_share,
           1.0 / (SELECT count(*) FROM per) AS target_share,
           (1.0 / (SELECT count(*) FROM per))
             / (tokens / CAST((SELECT sum(tokens) FROM per) AS DOUBLE)) AS weight
    FROM per
    """,
)
def domain_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planner (DoReMi-style bookkeeping): exact per-source
    token accounting plus the resampling weight that would equalize the
    mixture — weight >1 means upsample that domain. One full-data pass
    (token counts), then window aggregates over the tiny per-source
    frame."""
    from ..analytics.text_analysis import domain_mixture_weights

    docs = _t(spark, sf_dir, "documents")
    return domain_mixture_weights(docs)


@_register(
    "sequence_packing_manifest",
    r"""
    WITH tc AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                      x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
      FROM tc)
    SELECT source, doc_id, n_tokens, start_offset,
           CAST(floor(start_offset / 512) AS BIGINT) AS first_example,
           CAST(floor((start_offset + greatest(n_tokens, 1) - 1) / 512) AS BIGINT)
             AS last_example
    FROM packed
    """,
)
def sequence_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk training-example packing manifest (r8 — the r7
    snapshot addition, now oracle-locked): docs concatenate in doc_id
    order WITHIN each source shard and cut into 512-token examples;
    per-doc placement (start_offset, first/last example) comes from a
    window cumsum PARTITIONED by source — each shard packs
    independently, no global sort."""
    from ..analytics.text_analysis import sequence_packing

    docs = _t(spark, sf_dir, "documents")
    return sequence_packing(docs, ctx_len=512)


@_register(
    "bpe_pair_merge_counts",
    r"""
    WITH words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word),
    pairs AS (
      SELECT unnest(list_transform(range(1, CAST(len(word) AS BIGINT)),
             i -> substring(word, CAST(i AS INT), 2))) AS pair, freq
      FROM words WHERE len(word) >= 2)
    SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair ASC LIMIT 20
    """,
)
def bpe_pair_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration (Sennrich et al. 2016; r8 oracle for
    the r7 snapshot addition): adjacent character-pair frequencies
    weighted by word frequency, top 20 (count desc, pair asc). The
    corpus pass is a plain word count; pair enumeration runs over the
    distinct vocabulary only."""
    from ..analytics.text_analysis import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top_k=20)


@_register(
    "winnowing_fingerprint_rows",
    r"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    hs AS (SELECT doc_id,
       list_transform(range(CAST(greatest(len(ws) - 4, 0) AS BIGINT)),
          i -> {'h': md5(array_to_string(ws[CAST(i+1 AS INT):CAST(i+5 AS INT)], ' ')),
                'np': -i}) AS hl
      FROM w),
    f AS (SELECT doc_id,
       list_transform(range(CAST(greatest(len(hl) - 4, 0) AS BIGINT) + 1),
          i -> list_sort(hl[CAST(i+1 AS INT):CAST(i+4 AS INT)])[1]) AS fps
      FROM hs WHERE len(hl) > 0)
    SELECT DISTINCT doc_id, CAST(-(u.np) AS BIGINT) AS pos, u.h AS fp
    FROM (SELECT doc_id, unnest(fps) AS u FROM f)
    """,
)
def winnowing_fingerprint_rows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm; r8 oracle for the r7 snapshot addition): hash
    every 5-word shingle (md5 — hex strings order identically in both
    engines), min per 4-wide sliding window with the rightmost-on-ties
    rule carried by struct(h, -pos) ordering, distinct selections as
    (doc_id, pos, fp) rows. The oracle reproduces the selection
    bit-for-bit via list_sort(...)[1] over the same structs."""
    from ..analytics.text_analysis import winnowing_fingerprint_rows

    docs = _t(spark, sf_dir, "documents")
    return winnowing_fingerprint_rows(docs, k=5, window=4)


@_register(
    "bm25_topk_docs",
    _BM25_CTES
    + rf"""
    SELECT doc_id,
      {_BM25_SCORE_SQL}
      AS score
    FROM per, st
    ORDER BY score DESC, doc_id ASC LIMIT 20
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval ranking (Robertson et al., TREC-3; r8) for the
    query {merge, scan, window}: per-doc term frequencies are pure
    Catalyst HOFs over the staged token array; corpus statistics
    partial-aggregate to one broadcast row; the only shuffles are that
    one-row aggregate and the final top-k. idf uses the rational
    Robertson-Sparck Jones form — no ln, so the oracle reproduces the
    doubles bit-for-bit."""
    from ..analytics.text_analysis import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, ["merge", "scan", "window"], top_k=20)


@_register(
    "embedding_quantize_int8",
    r"""
    WITH v AS (SELECT vec_id, embedding AS v FROM embeddings),
    d AS (SELECT i AS pos, abs(CAST(v[CAST(i+1 AS INT)] AS DOUBLE)) AS a
          FROM v, (SELECT unnest(range(64)) AS i) ix),
    sc AS (SELECT pos, CASE WHEN max(a) > 0 THEN max(a) / 127.0 ELSE 1.0 END AS s
           FROM d GROUP BY pos),
    sarr AS (SELECT list(s ORDER BY pos) AS arr FROM sc),
    q AS (
      SELECT vec_id,
        list_transform(range(1, CAST(len(v) AS BIGINT) + 1),
          i -> CAST(greatest(-127, least(127,
                CAST(round(CAST(v[CAST(i AS INT)] AS DOUBLE) / arr[CAST(i AS INT)]) AS INT))) AS TINYINT)) AS qvec,
        sqrt(list_reduce(list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             (a, b) -> a + b)) AS norm
      FROM v, sarr)
    SELECT vec_id, CAST(i - 1 AS INT) AS pos,
           CAST(qvec[CAST(i AS INT)] AS INT) AS q, norm
    FROM q, (SELECT unnest(range(1, 65)) AS i) ix
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension symmetric int8 quantization (FAISS-SQ8-style; r8):
    the scale pass posexplodes to slim (pos, |v|) pairs that partial-
    aggregate map-side, scales collapse to a one-row broadcast array,
    and quantization is a per-row zip_with — no full-data shuffle. The
    norm is kept for rescaled cosine search; left-fold summation
    mirrors DuckDB's list_reduce exactly. Graded exploded to (vec_id,
    pos, q, norm) scalar rows — the driver's value-hash compares
    scalar cells."""
    from ..analytics.similarity import quantize_embeddings_int8

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(emb)
    return q.select(
        "vec_id", F.posexplode("qvec").alias("pos", "_q"), "norm"
    ).select("vec_id", "pos", F.col("_q").cast("int").alias("q"), "norm")


@_register(
    "winnowing_dedup_kept",
    r"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    hs AS (SELECT doc_id,
       list_transform(range(CAST(greatest(len(ws) - 4, 0) AS BIGINT)),
          i -> {'h': md5(array_to_string(ws[CAST(i+1 AS INT):CAST(i+5 AS INT)], ' ')),
                'np': -i}) AS hl
      FROM w),
    f AS (SELECT doc_id,
       list_transform(range(CAST(greatest(len(hl) - 4, 0) AS BIGINT) + 1),
          i -> list_sort(hl[CAST(i+1 AS INT):CAST(i+4 AS INT)])[1]) AS fps
      FROM hs WHERE len(hl) > 0),
    fp AS (SELECT DISTINCT doc_id, u.h AS fp
           FROM (SELECT doc_id, unnest(fps) AS u FROM f)),
    probes AS (SELECT doc_id, fp FROM (
        SELECT doc_id, fp, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fp)
      WHERE rn <= 256),
    cand AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS shared
      FROM fp a JOIN probes b USING (fp)
      WHERE a.doc_id > b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) >= 3),
    drops AS (SELECT DISTINCT ida AS doc_id FROM cand)
    SELECT doc_id FROM documents ANTI JOIN drops USING (doc_id)
    """,
)
def winnowing_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup dedup (the MOSS pipeline; r8): docs sharing
    >=3 selected 5-word-shingle fingerprints drop their larger id —
    the CONTIGUOUS-overlap detector (a shared passage of >= window+k-1
    words always lands a shared fingerprint, unlike MinHash's global
    set similarity). Candidates come from an equi-join on the
    fingerprint value under the _bucket_probes skew cap; the oracle
    mirrors selection, cap, pair counting and anti-join verbatim
    (md5 path)."""
    from ..analytics.dedup import winnowing_dedup

    docs = _t(spark, sf_dir, "documents")
    return winnowing_dedup(
        docs, k=5, window=4, min_shared=3, max_probes=256, hash_fn="md5"
    ).select("doc_id")


@_register(
    "dataset_split_counts",
    """
    WITH b AS (
      SELECT source, doc_id,
             substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
      FROM documents)
    SELECT source,
           CASE WHEN bucket < 'e666' THEN 'train'
                WHEN bucket < 'f333' THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM b GROUP BY 1, 2
    """,
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (r8): md5('split:'||id)
    4-hex-digit buckets against cumulative weight thresholds
    (0.9/0.05/0.05 -> e666/f333) — the same ids land in the same split
    on any engine, at any partitioning, after any retry. One stateless
    projection, no shuffle, no rand(); graded as per-(source, split)
    counts + id checksum."""
    from ..analytics.text_analysis import dataset_split

    docs = _t(spark, sf_dir, "documents")
    return (
        dataset_split(docs, weights={"train": 0.9, "val": 0.05, "test": 0.05})
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


@_register(
    "vocabulary_zipf_report",
    r"""
    WITH wx AS (
      SELECT text, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                          x -> x <> '')) AS w
      FROM documents),
    v AS (SELECT w AS token, CAST(count(*) AS BIGINT) AS count,
                 CAST(count(DISTINCT text) AS BIGINT) AS doc_freq
          FROM wx GROUP BY w),
    t AS (SELECT CAST(sum(count) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS vocab,
                 CAST(sum(CASE WHEN count = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax FROM v),
    top AS (
      SELECT CAST(row_number() OVER (ORDER BY count DESC, token ASC) AS INT) AS rank,
             token, count, doc_freq, CAST(count AS DOUBLE) / tot AS share
      FROM v, t QUALIFY rank <= 25)
    SELECT rank, token, count, doc_freq, share FROM top
    UNION ALL SELECT 0, '<vocab_size>', vocab, 0, 0.0 FROM t
    UNION ALL SELECT 0, '<hapax_count>', hapax, 0, 0.0 FROM t
    UNION ALL SELECT 0, '<total_tokens>', tot, 0, 0.0 FROM t
    """,
)
def vocabulary_zipf_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary audit (r8): top-25 tokens with rank / count /
    doc-frequency / corpus share, plus vocab-size, hapax-legomena and
    total-token marker rows. One explode->count pass with map-side
    partial aggregation (each partition contributes at most |vocab|
    rows to the shuffle); doc identity travels as an 8-byte hash, the
    text never shuffles."""
    from ..analytics.text_analysis import vocabulary_report

    docs = _t(spark, sf_dir, "documents")
    return vocabulary_report(docs, top_k=25)


@_register(
    "matryoshka_energy",
    r"""
    WITH s AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sq
         FROM embeddings),
    a AS (SELECT vec_id, list_reduce(sq, (a, b) -> a + b) AS tot,
            list_reduce(sq[1:16], (a, b) -> a + b) AS p16,
            list_reduce(sq[1:32], (a, b) -> a + b) AS p32,
            list_reduce(sq[1:64], (a, b) -> a + b) AS p64 FROM s)
    SELECT vec_id, 16 AS dim, sqrt(p16) AS prefix_norm,
           CASE WHEN tot > 0 THEN p16 / tot ELSE 0.0 END AS energy FROM a
    UNION ALL SELECT vec_id, 32, sqrt(p32), CASE WHEN tot > 0 THEN p32 / tot ELSE 0.0 END FROM a
    UNION ALL SELECT vec_id, 64, sqrt(p64), CASE WHEN tot > 0 THEN p64 / tot ELSE 0.0 END FROM a
    """,
)
def matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022; r8): per
    vector and candidate prefix dim (16/32/64), prefix norm and
    retained-energy fraction — pure per-row HOF arithmetic with the
    squared array staged once (HOF-inlining rule), zero shuffle;
    left-fold sums reproduce in DuckDB's list_reduce exactly."""
    from ..analytics.similarity import matryoshka_energy_report

    emb = _t(spark, sf_dir, "embeddings")
    return matryoshka_energy_report(emb, dims=[16, 32, 64])


@_register(
    "s2s_port_roundtrip",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events WHERE event_id < 600 GROUP BY event_type
    """,
)
def s2s_port_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-to-Site storage channel end-to-end (SURVEY §2.3 /
    RemoteProcessGroup + Port semantics): two producer TRANSACTIONS
    commit through output_port's atomic-rename protocol, a batch
    input_port consumer reads everything committed, and the oracle
    pins the union exactly — torn or doubled transactions would break
    the id_sum."""
    import tempfile

    from ..plans.ports import input_port, output_port

    configure(spark)
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 600)
        .select("event_id", "event_type")
    )
    chan = tempfile.mkdtemp(prefix="s2sq-") + "/chan"
    output_port(ev.filter(F.col("event_id") < 300), chan)
    output_port(ev.filter(F.col("event_id") >= 300), chan)
    got = input_port(spark, chan, "event_id long, event_type string", streaming=False)
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )


@_register(
    "param_context_resolution",
    """
    SELECT 'hot' AS rel, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT 'big', CAST(count(*) AS BIGINT) FROM events WHERE value > 0.5
    """,
)
def param_context_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter contexts end-to-end (SURVEY §2.3 / ParameterContext.cpp
    + ProcessGroup binding): a flow whose RouteOnAttribute expressions
    take their comparison values from #{param} substitution — one
    parameter from the bound context, one INHERITED from a parent
    context — graded by the resulting route counts."""
    from ..plans import compile_flow

    configure(spark)
    cfg = {
        "parameter_contexts": [
            {"name": "common", "parameters": [{"name": "vt", "value": "0.5"}]},
            {
                "name": "app",
                "inherited_parameter_contexts": ["common"],
                "parameters": [{"name": "etype", "value": "error"}],
            },
        ],
        "parameter_context_name": "app",
        "processors": [
            {"id": "src", "type": "TableSource",
             "properties": {"table": "events", "sf_dir": sf_dir}},
            {"id": "route", "type": "RouteOnAttribute",
             "properties": {"hot": "${event_type:equals('#{etype}')}",
                            "big": "${value:gt(#{vt})}"}},
        ],
        "connections": [{"source": "src", "destination": "route"}],
    }
    flow = compile_flow(spark, cfg)
    hot = flow.df("route", "hot").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("hot").alias("rel"), F.col("n").cast("long")
    )
    big = flow.df("route", "big").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("big").alias("rel"), F.col("n").cast("long")
    )
    return hot.unionByName(big)


@_register(
    "connection_edge_semantics",
    """
    SELECT 'ttl_keep' AS rel, CAST(count(*) AS BIGINT) AS n FROM events
    UNION ALL
    SELECT 'ttl_expired', 0
    UNION ALL
    SELECT 'drop_empty', CAST(count(*) AS BIGINT)
    FROM events WHERE event_type <> 'error'
    """,
)
def connection_edge_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connection queue-edge semantics end-to-end (Connection.cpp:153-158
    TTL-at-poll + drop-empty, SURVEY §2.3): ApplyTemplate renders
    content = event_type, ReplaceText blanks the 'error' rows, and the
    output fans out over three connections — a 10-year TTL (all
    FlowFiles survive: the table's entry timestamps are historical), a
    1-hour TTL (all expired), and drop-empty (only the blanked rows
    drop). Counts per edge are the oracle."""
    from ..plans import compile_flow

    configure(spark)
    cfg = {
        "processors": [
            {"id": "src", "type": "TableSource",
             "properties": {"table": "events", "sf_dir": sf_dir}},
            {"id": "tmpl", "type": "ApplyTemplate",
             "properties": {"template": "{{event_type}}"}},
            {"id": "blank", "type": "ReplaceText",
             "properties": {"replacement_strategy": "regex_replace",
                            "search_value": "^error$",
                            "replacement_value": "",
                            "evaluation_mode": "entire_text"}},
            {"id": "log_keep", "type": "LogAttribute"},
            {"id": "log_expired", "type": "LogAttribute"},
            {"id": "log_nonempty", "type": "LogAttribute"},
        ],
        "connections": [
            {"source": "src", "destination": "tmpl"},
            {"source": "tmpl", "destination": "blank"},
            {"source": "blank", "destination": "log_keep",
             "flowfile expiration": "87600 hours"},
            {"source": "blank", "destination": "log_expired",
             "flowfile expiration": "1 hours"},
            {"source": "blank", "destination": "log_nonempty",
             "drop empty": "true"},
        ],
    }
    flow = compile_flow(spark, cfg)

    def counted(pid: str, rel: str) -> DataFrame:
        return flow.df(pid).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(rel).alias("rel"), F.col("n").cast("long")
        )

    return (
        counted("log_keep", "ttl_keep")
        .unionByName(counted("log_expired", "ttl_expired"))
        .unionByName(counted("log_nonempty", "drop_empty"))
    )


@_register(
    "listen_http_ingest",
    """
    SELECT 'http:' || event_type || ':' || CAST(event_id AS VARCHAR) AS message,
           CAST(1 AS BIGINT) AS n
    FROM events WHERE event_id < 200
    """,
)
def listen_http_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListenHTTP (ListenHTTP.cpp:138) end-to-end: 200 real POST
    requests into the native httplisten stream source; HTTP is
    request/response-reliable, so the oracle pins every body exactly
    once."""
    import threading as _threading
    import uuid as _uuid

    from ..sources.datasource import ListenHTTPDataSource

    configure(spark)
    spark.dataSource.register(ListenHTTPDataSource)
    msgs = [
        f"http:{r['event_type']}:{r['event_id']}"
        for r in _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 200)
        .select("event_id", "event_type")
        .collect()
    ]
    import socket as _socket

    s = _socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    view = f"http_{_uuid.uuid4().hex[:8]}"
    stream = spark.readStream.format("httplisten").option("port", str(port)).load()
    q = stream.writeStream.format("memory").queryName(view).outputMode("append").start()

    def send():
        import time as _time
        import urllib.request as _rq

        deadline = _time.monotonic() + 120
        sent = 0
        while sent < len(msgs) and _time.monotonic() < deadline:
            try:
                _rq.urlopen(  # noqa: S310 - fixed localhost fixture endpoint
                    f"http://127.0.0.1:{port}/contentListener",
                    data=msgs[sent].encode(),
                    timeout=5,
                ).read()
                sent += 1
            except OSError:
                _time.sleep(0.1)  # server binds with batch 0

    t = _threading.Thread(target=send, daemon=True)
    t.start()
    try:
        _poll_stream_rows(spark, q, view, expected=len(msgs), expected_input=len(msgs))
    finally:
        q.stop()
    # message is the request envelope (body + headers + path JSON,
    # ListenHTTP's headers->attributes parity); the body is the payload
    return spark.sql(
        f"""
        SELECT get_json_object(message, '$.body') AS message,
               CAST(count(*) AS BIGINT) AS n
        FROM {view} GROUP BY 1
        """
    )


@_register(
    "put_tcp_roundtrip",
    """
    SELECT 'tcp:' || event_type || ':' || CAST(event_id AS VARCHAR) AS message,
           CAST(1 AS BIGINT) AS n
    FROM events WHERE event_id < 300
    """,
)
def put_tcp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PutTCP (PutTCP.cpp:83) end-to-end: executor-side
    foreachPartition socket writes into a local collector server, the
    collected wire bytes read back as a frame — every delimited
    message pinned exactly once by the oracle. Proves the sink writes
    from EXECUTORS (local mode shares the host, a cluster points at a
    real endpoint) with no driver funnel."""
    import socket as _socket
    import threading as _threading

    from ..streaming.sinks import put_tcp_handler

    configure(spark)
    received: list[bytes] = []
    done = _threading.Event()
    srv = _socket.socket()
    srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(64)

    def collect():
        while not done.is_set():
            try:
                srv.settimeout(0.5)
                conn, _ = srv.accept()
            except TimeoutError:
                continue
            except OSError:
                return
            with conn:
                buf = b""
                while True:
                    chunk = conn.recv(65536)
                    if not chunk:
                        break
                    buf += chunk
                received.append(buf)

    t = _threading.Thread(target=collect, daemon=True)
    t.start()
    try:
        ev = (
            _t(spark, sf_dir, "events")
            .filter(F.col("event_id") < 300)
            .select(
                F.concat(
                    F.lit("tcp:"), F.col("event_type"), F.lit(":"), F.col("event_id").cast("string")
                ).alias("content")
            )
        )
        put_tcp_handler("127.0.0.1", port)(ev, 0)
        # all partitions connected+closed synchronously in the action
        # above; drain any still-open accept loop iteration
        import time as _time

        deadline = _time.monotonic() + 30
        while _time.monotonic() < deadline:
            lines = b"".join(received).split(b"\n")
            if sum(1 for ln in lines if ln) >= 300:
                break
            _time.sleep(0.1)
    finally:
        done.set()
        srv.close()
    msgs = [ln.decode() for ln in b"".join(received).split(b"\n") if ln]
    out = spark.createDataFrame([(m,) for m in msgs], "message string")
    return out.groupBy("message").agg(F.count(F.lit(1)).cast("long").alias("n"))


@_register("semantic_dedup_kept", _dedup_invariant_oracle("embeddings", "vec_id"))
def semantic_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) graded on invariants: an injected
    copy has an identical vector -> identical centroid argmax -> same
    cluster as its original -> cosine 1.0 >= eps -> the greedy pass
    (centrality desc, id asc) keeps the original and drops the copy —
    regardless of what the sampled k-means converged to."""
    from ..analytics import semantic_dedup

    vecs = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    inp = _with_injected_dups(vecs, "vec_id")
    kept = semantic_dedup(inp, eps=0.95, n_clusters=8)
    report_inp = inp.withColumn("_ckey", F.col("embedding").cast("array<string>"))
    report_kept = kept.withColumn("_ckey", F.col("embedding").cast("array<string>"))
    return _dedup_invariant_report(
        report_inp.select("vec_id", "_ckey"), report_kept.select("vec_id", "_ckey"), "vec_id", "_ckey"
    )
