"""Routing / EL / wire sources & sinks over events."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..el import el_bool, el_string
from ..model import events_to_flowfiles
from ..operators import (
    attribute_rolling_window_count,
    evaluate_json_path,
    extract_text,
    funnel,
    hash_content,
    merge_content_defragment,
    replace_text,
    route_on_attribute,
    split_text,
    tumbling_window_agg,
)
from ..session import configure
from ._shared import _pinned_shuffle, _poll_stream_rows, _register, _t


_PROCFS_FIXTURE = {
    "meminfo": "MemTotal:       16384000 kB\nMemFree:         4096000 kB\nMemAvailable:    8192000 kB\n",
    "stat": "cpu  100 20 300 4000 50 0 6 0 0 0\ncpu0 50 10 150 2000 25 0 3 0 0 0\n",
    "diskstats": "   8       0 sda 500 0 10000 400 200 0 8000 300 0 600 700\n",
    "net/dev": (
        "Inter-|   Receive                                                |  Transmit\n"
        " face |bytes    packets errs drop fifo frame compressed multicast|bytes    "
        "packets errs drop fifo colls carrier compressed\n"
        "  eth0: 1000000    2000    0    0    0     0          0         0  500000    "
        "1500    0    0    0     0       0          0\n"
    ),
}


class _FakeOpcServer:
    """Deterministic OPC-UA address space: 50 variable nodes under the
    browsed root, values/timestamps a pure function of the index."""

    def traverse(self, node_id, max_depth):
        from ..sources.industrial import OpcNode

        for i in range(50):
            yield OpcNode(
                node_id=f"ns=2;i={i}",
                browsename=f"var{i}",
                path=f"{node_id}/var{i}",
                datatype="Int32",
                source_timestamp=f"t{i // 10}",
                value=i * 3,
                is_variable=True,
                attributes={},
            )
        yield OpcNode(  # folder nodes are skipped by FetchOPC
            node_id="ns=2;folder",
            browsename="folder",
            path=f"{node_id}/folder",
            datatype="",
            source_timestamp="",
            value=None,
            is_variable=False,
            attributes={},
        )


class _FakeKvStore:
    """GetCouchbaseKey fixture: even-user keys resolve, odd are
    missing — both relationships exercised deterministically."""

    def get(self, key):
        uid = int(key.rsplit(":", 1)[1])
        if uid % 2 == 0:
            return f"profile-of-{uid}"
        raise KeyError(key)


class _FakeRemoteFs:
    """ListSFTP/FetchSFTP fixture: a two-level tree of 20 files with
    deterministic sizes/mtimes/contents."""

    def listdir(self, path):
        from ..sources.remote_fs import RemoteEntry

        if path == "/data":
            yield RemoteEntry(path="/data/sub", size=0, mtime=0.0, is_dir=True)
            for i in range(10):
                yield RemoteEntry(path=f"/data/f{i}.log", size=100 + i, mtime=1000.0 + i, is_dir=False)
        elif path == "/data/sub":
            for i in range(10, 20):
                yield RemoteEntry(path=f"/data/sub/f{i}.log", size=100 + i, mtime=1000.0 + i, is_dir=False)

    def read(self, path):
        return f"content-of-{path}".encode()


class _FakeModbusDevice:
    """Deterministic register map for the graded Modbus entry: value =
    f(kind, address) so the oracle can pin the exact record. Module
    level -> picklable into the executor-side client factory."""

    def read(self, kind, address, count, unit_id):
        if kind == "coil":
            return [(address + i) % 2 == 0 for i in range(count)]
        return [(address + i) * 2 for i in range(count)]


# ===========================================================================
# Routing / EL / attribute operators over events
# ===========================================================================


@_register(
    "route_error_events",
    "SELECT event_id, user_id, round(value, 2) AS value FROM events WHERE event_type = 'error'",
)
def route_error_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RouteOnAttribute with a compiled-EL predicate over the
    canonical FlowFile frame."""
    ev = _t(spark, sf_dir, "events")
    ff = events_to_flowfiles(ev)
    routed = route_on_attribute(ff, {"errors": "${event_type:equals('error')}"})
    out = routed["errors"]
    return out.select(
        F.col("uuid").cast("long").alias("event_id"),
        F.col("attributes").getItem("user_id").cast("long").alias("user_id"),
        F.round(F.col("attributes").getItem("value").cast("double"), 2).alias("value"),
    )


@_register(
    "route_relationship_counts",
    """
    SELECT 'errors' AS route, count(*) AS n FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT 'hot' AS route, count(*) AS n FROM events WHERE value > 150 AND event_type <> 'error'
    UNION ALL
    SELECT 'unmatched' AS route, count(*) AS n FROM events
      WHERE NOT (event_type = 'error') AND NOT (value > 150 AND event_type <> 'error')
    """,
)
def route_relationship_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-relationship routing + funnel: per-route row counts."""
    ev = _t(spark, sf_dir, "events")
    ff = events_to_flowfiles(ev)
    routed = route_on_attribute(
        ff,
        {
            "errors": "${event_type:equals('error')}",
            "hot": "${value:gt(150):and(${event_type:equals('error'):not()})}",
        },
    )
    frames = [
        routed[name].groupBy().agg(F.count(F.lit(1)).alias("n")).select(F.lit(name).alias("route"), "n")
        for name in ("errors", "hot", "unmatched")
    ]
    return funnel(*frames)


@_register(
    "dialect_flow_route_counts",
    """
    SELECT 'errors' AS route, count(*) AS n FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT 'hot' AS route, count(*) AS n FROM events WHERE value > 150 AND event_type <> 'error'
    UNION ALL
    SELECT 'unmatched' AS route, count(*) AS n FROM events
      WHERE NOT (event_type = 'error') AND NOT (value > 150 AND event_type <> 'error')
    """,
)
def dialect_flow_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference config.yml dialect end-to-end: a FlowSchema-shaped
    YAML string (capitalized sections, namespaced class names,
    'source id' + 'source relationship names' connections, group-level
    Funnels) compiles through normalize_flow_config -> compile_flow and
    must produce the exact same routed counts as the direct operator
    call (route_relationship_counts' oracle)."""
    from ..plans.pipeline import compile_flow

    configure(spark)
    flow_yaml = f"""
Flow Controller:
  name: dialect-gate
Processors:
- id: src
  name: events
  class: org.apache.nifi.minifi.processors.TableSource
  Properties:
    Table: events
    Sf Dir: {sf_dir}
- id: route
  name: router
  class: org.apache.nifi.minifi.processors.RouteOnAttribute
  Properties:
    errors: ${{event_type:equals('error')}}
    hot: ${{value:gt(150):and(${{event_type:equals('error'):not()}})}}
Connections:
- source id: src
  destination id: route
  source relationship names:
  - success
"""
    flow = compile_flow(spark, flow_yaml)
    frames = [
        flow.df("route", rel)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(rel).alias("route"), "n")
        for rel in ("errors", "hot", "unmatched")
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@_register(
    "el_scalar_pack",
    """
    SELECT event_id,
           upper(event_type)                                   AS etype_u,
           substr(event_type, 1, 3)                            AS etype_3,
           concat('u', CAST(user_id AS VARCHAR))               AS user_tag,
           round(value + 100, 2)                               AS value_plus,
           CASE WHEN value > 100 THEN 'high' ELSE 'low' END    AS band,
           length(event_type)                                  AS etype_len
    FROM events
    """,
)
def el_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-language scalar surface compiled to Catalyst."""
    from ..el import promoted_columns

    ev = _t(spark, sf_dir, "events")
    ff = events_to_flowfiles(ev)
    cols = promoted_columns(ff)
    return ff.select(
        F.col("uuid").cast("long").alias("event_id"),
        el_string("${event_type:toUpper()}", columns=cols).alias("etype_u"),
        el_string("${event_type:substring(0, 3)}", columns=cols).alias("etype_3"),
        el_string("u${user_id}", columns=cols).alias("user_tag"),
        F.round(el_string("${value:plus(100)}", columns=cols).cast("double"), 2).alias("value_plus"),
        el_string("${value:gt(100):ifElse('high', 'low')}", columns=cols).alias("band"),
        el_string("${event_type:length()}", columns=cols).cast("long").alias("etype_len"),
    )


@_register(
    "el_multiattr_pack",
    """
    SELECT event_id,
           event_type || '|' || CAST(user_id AS VARCHAR)        AS joined,
           CAST(CASE WHEN event_type LIKE '%e%' THEN 1 ELSE 0 END
                AS BIGINT)                                   AS n_event_attrs,
           (event_type = 'error')                               AS any_err
    FROM events
    """,
)
def el_multiattr_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EL multi-attribute combinators (Expression.cpp:1051-1336):
    allAttributes(...):join, allMatchingAttributes(regex) with a
    chained predicate into count() (truthy-only,
    Expression.cpp:1324-1333), anyAttribute(...):equals — compiled to
    Catalyst higher-order expressions over the attributes map."""
    ev = _t(spark, sf_dir, "events")
    ff = events_to_flowfiles(ev)
    return ff.select(
        F.col("uuid").cast("long").alias("event_id"),
        el_string("${allAttributes('event_type', 'user_id'):join('|')}").alias("joined"),
        el_string("${allMatchingAttributes('event.*'):contains('e'):count()}")
        .cast("bigint")
        .alias("n_event_attrs"),
        el_bool("${anyAttribute('event_type', 'user_id'):equals('error')}").alias("any_err"),
    )


@_register(
    "replace_text_line_modes",
    # line-mode truth table expressed with string algebra: first_line
    # prepend touches the string head, last_line append the tail,
    # line_by_line regex == global regex (the pattern cannot span
    # lines), except_first_line prepend marks every newline boundary.
    """
    WITH c AS (SELECT doc_id, replace(text, ' ', chr(10)) AS body FROM documents)
    SELECT doc_id,
           md5('X: ' || body)                                   AS first_prepend_md5,
           md5(body || '!')                                     AS last_append_md5,
           md5(regexp_replace(body, 'a', '4', 'g'))             AS lbl_regex_md5,
           md5(replace(body, chr(10), chr(10) || '> '))         AS except_first_md5
    FROM c
    """,
)
def replace_text_line_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplaceText evaluation-mode matrix (ReplaceText.h:37-60;
    feature truth table replace_text.feature:34-41): first_line /
    last_line / line_by_line / except_first_line each applied with a
    different strategy and pinned via content hashes."""
    from ..operators import replace_text

    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(
        "doc_id", F.regexp_replace(F.col("text"), " ", "\n").alias("content")
    )

    def mode(df_, strategy, search, repl, mode_):
        return replace_text(df_, strategy=strategy, search=search, replacement=repl, mode=mode_)

    fp = mode(ff, "prepend", None, "X: ", "first_line").select(
        "doc_id", F.md5("content").alias("first_prepend_md5")
    )
    la = mode(ff, "append", None, "!", "last_line").select(
        "doc_id", F.md5("content").alias("last_append_md5")
    )
    lb = mode(ff, "regex_replace", "a", "4", "line_by_line").select(
        "doc_id", F.md5("content").alias("lbl_regex_md5")
    )
    ef = mode(ff, "prepend", None, "> ", "except_first_line").select(
        "doc_id", F.md5("content").alias("except_first_md5")
    )
    return fp.join(la, "doc_id").join(lb, "doc_id").join(ef, "doc_id")


@_register(
    "object_store_crud_roundtrip",
    """
    SELECT CAST(doc_id AS VARCHAR) || '.txt' AS filename,
           md5(replace(text, chr(10), ' ') || chr(10)) AS content_md5
    FROM documents WHERE doc_id < 50
    """,
)
def object_store_crud_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The object-store engine behind all 16 Fetch/List/Put/Delete x
    S3/Azure/ADLS/GCS names (one Hadoop-FS implementation,
    sources/objectstore.py; file:// here, cloud schemes via fs.* conf):
    Put writes one object per document (partitionBy), List sees
    exactly them (metadata-only scan), Fetch reads the bytes back,
    Delete removes the prefix and a second List must raise. Content
    hash-matches the source documents."""
    import tempfile

    from ..sources.objectstore import (
        delete_object_store,
        fetch_object_store,
        list_object_store,
        put_object_store,
    )

    # 50 objects: one dynamic-partition dir per object is the
    # reference's FlowFile-per-object layout, and the per-partition
    # commit is driver-side file renames — 500 objects cost 64s of
    # committer churn at sf0.1 for zero extra semantic coverage
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(
            F.concat(F.col("doc_id").cast("string"), F.lit(".txt")).alias("filename"),
            F.regexp_replace("text", "\n", " ").alias("value"),
        )
    )
    url = "file://" + os.path.join(tempfile.mkdtemp(prefix="objq-"), "bucket")
    put_object_store(docs, url, fmt="text", mode="overwrite", partition_by=["filename"])
    n_docs = docs.count()
    n_listed = list_object_store(spark, url, glob_filter="*.txt").count()
    if n_listed < n_docs:  # one object dir per filename, >=1 shard each
        raise RuntimeError(f"List saw {n_listed} objects for {n_docs} documents")
    fetched = fetch_object_store(spark, url)
    out = fetched.select(
        F.regexp_extract("path", r"filename=([^/]+)/", 1).alias("filename"),
        F.md5(F.col("content")).alias("content_md5"),
    )
    out = out.localCheckpoint(eager=True)  # materialize before delete
    if not delete_object_store(spark, url, recursive=True):
        raise RuntimeError("Delete removed nothing")
    # deterministic post-delete check: the prefix must be GONE at the
    # FS level (catching a broad exception from a relisting would
    # also swallow unrelated transient errors as success)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(url)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        raise RuntimeError("prefix still exists after Delete")
    return out


@_register(
    "mqtt_wire_consume",
    """
    SELECT 'tele/' || event_type AS topic,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events WHERE event_id < 250 GROUP BY event_type
    """,
)
def mqtt_wire_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConsumeMQTT EXECUTING over the real MQTT 3.1.1 wire (r8): 250
    messages published with QoS 1 through the stdlib client into the
    in-process broker, consumed by the mqttlisten source on
    transport=wire; per-topic counts AND payload (event_id) checksums
    pinned. Real-broker interop remains cluster-side — this grades the
    packet format and the full streaming path."""
    import time as _time
    import uuid as _uuid

    from ..sources.datasource import ConsumeMQTTDataSource
    from ..sources.mqtt_wire import MiniMqttBroker, MqttWireClient

    configure(spark)
    spark.dataSource.register(ConsumeMQTTDataSource)
    msgs = [
        (f"tele/{r['event_type']}", str(r["event_id"]))
        for r in _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 250)
        .select("event_id", "event_type")
        .collect()
    ]
    broker = MiniMqttBroker().start()
    view = f"mqttw_{_uuid.uuid4().hex[:8]}"
    try:
        with _pinned_shuffle(spark, 2):
            stream = (
                spark.readStream.format("mqttlisten")
                .option("topic", "tele/#")
                .option("broker", broker.address)
                .option("transport", "wire")
                .load()
            )
            q = (
                stream.groupBy(F.col("sender").alias("topic"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("message").cast("long")).alias("id_sum"),
                )
                .writeStream.format("memory")
                .queryName(view)
                .outputMode("complete")
                .start()
            )
        try:
            deadline = _time.monotonic() + 60
            while _time.monotonic() < deadline and not broker.subscription_filters:
                _time.sleep(0.1)
            pub = MqttWireClient(broker.address, "seed")
            for topic, payload in msgs:
                pub.publish(topic, payload.encode(), qos=1)
            pub.disconnect()
            _poll_stream_rows(
                spark,
                q,
                view,
                expected=len({t for t, _ in msgs}),
                expected_input=len(msgs),
            )
        finally:
            q.stop()
        return spark.sql(f"SELECT topic, n, id_sum FROM {view}")
    finally:
        broker.stop()


@_register(
    "mqtt_consume_counts",
    """
    SELECT 'sensors/' || event_type AS topic, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_id < 500 GROUP BY event_type
    """,
)
def mqtt_consume_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConsumeMQTT (ConsumeMQTT.cpp:149) as a native Python Data
    Source STREAM: 500 messages through the fake transport (one row
    per message, topic -> sender), per-topic counts pinned by the
    oracle. The real paho transport shares this exact reader."""
    import json as _json
    import uuid as _uuid

    from ..sources.datasource import ConsumeMQTTDataSource

    configure(spark)
    spark.dataSource.register(ConsumeMQTTDataSource)
    # BOUNDED fixture collect (<= 500 rows regardless of sf): builds
    # the fake transport's message feed, not a data path
    msgs = [
        (f"sensors/{r['event_type']}", str(r["event_id"]))
        for r in _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 500)
        .select("event_id", "event_type")
        .collect()
    ]
    view = f"mqtt_{_uuid.uuid4().hex[:8]}"
    with _pinned_shuffle(spark, 2):  # 500-row fixture stream: 2 state stores, not 32
        stream = (
            spark.readStream.format("mqttlisten")
            .option("topic", "sensors/#")
            .option("transport", "fake")
            .option("fake.messages", _json.dumps(msgs))
            .load()
        )
        q = (
            stream.groupBy(F.col("sender").alias("topic"))
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName(view)
            .outputMode("complete")
            .start()
        )
    try:
        # job-free drain on progress totals, then one SQL readback
        _poll_stream_rows(
            spark,
            q,
            view,
            expected=len({t for t, _ in msgs}),
            expected_input=len(msgs),
        )
        total = spark.sql(f"SELECT sum(n) AS s FROM {view}").first()["s"]
        if total != len(msgs):  # over/under = duplicate or torn batch replay
            raise RuntimeError(f"mqtt stream delivered {total}/{len(msgs)} messages")
    finally:
        q.stop()
    return spark.sql(f"SELECT topic, n FROM {view}")


@_register(
    "journald_consume_syslog",
    """
    SELECT event_id,
           'h' || CAST(user_id % 5 AS VARCHAR) || ' app[' || CAST(user_id AS VARCHAR)
               || ']: ' || event_type || ':' || CAST(event_id AS VARCHAR) AS payload
    FROM events WHERE event_id < 300
    """,
)
def journald_consume_syslog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConsumeJournald (ConsumeJournald.cpp:96): a journalctl-export
    stream consumed through the cursor-as-offset data source with the
    Syslog payload format (formatSyslogMessage parity) — every line
    reconstructed exactly by the oracle."""
    import tempfile
    import uuid as _uuid

    from ..sources.datasource import ConsumeJournaldDataSource

    configure(spark)
    spark.dataSource.register(ConsumeJournaldDataSource)
    # BOUNDED fixture collect (<= 300 rows regardless of sf): builds
    # the journal export file the source consumes
    rows = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 300)
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")
        .collect()
    )
    export = "".join(
        f"MESSAGE={r['event_type']}:{r['event_id']}\n"
        f"_HOSTNAME=h{r['user_id'] % 5}\n"
        f"SYSLOG_IDENTIFIER=app\n"
        f"_PID={r['user_id']}\n"
        f"EVENT_ID={r['event_id']}\n\n"
        for r in rows
    )
    path = os.path.join(tempfile.mkdtemp(prefix="journalq-"), "export.txt")
    with open(path, "w") as fh:
        fh.write(export)
    stream = (
        spark.readStream.format("journald")
        .option("file", path)
        .option("payload.format", "syslog")
        .load()
    )
    view = f"journal_{_uuid.uuid4().hex[:8]}"
    q = stream.writeStream.format("memory").queryName(view).outputMode("append").start()
    try:
        _poll_stream_rows(spark, q, view, expected=len(rows), expected_input=len(rows))
    finally:
        q.stop()
    return spark.sql(
        f"""
        SELECT CAST(get_json_object(fields, '$.EVENT_ID') AS BIGINT) AS event_id,
               message AS payload
        FROM {view}
        """
    )


@_register(
    "execute_process_batched",
    """
    SELECT CAST(r.range // 10 AS BIGINT) AS batch_index,
           md5(string_agg(CAST(r.range + 1 AS VARCHAR), chr(10) ORDER BY r.range))
               AS chunk_md5,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM range(100) r GROUP BY r.range // 10
    """,
)
def execute_process_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExecuteProcess (ExecuteProcess.cpp:211): run a command, batch
    stdout into FlowFiles of 10 lines with batch.index attributes —
    exact chunk contents pinned by the oracle."""
    from ..sources.process import execute_process

    configure(spark)
    out = execute_process(spark, "seq", ["1", "100"], batch_lines=10)
    if out.filter(F.col("attributes").getItem("execution.status") != "0").count() > 0:
        raise RuntimeError("seq exited non-zero")
    lines = out.select(
        F.col("attributes").getItem("batch.index").cast("bigint").alias("batch_index"),
        F.md5(F.col("content")).alias("chunk_md5"),
        (F.size(F.split(F.col("content"), "\n"))).cast("bigint").alias("n_lines"),
    )
    return lines


@_register(
    "put_sql_roundtrip",
    """
    SELECT event_id, event_type, CAST(user_id AS BIGINT) AS user_id FROM events
    """,
)
def put_sql_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PutSQL (PutSQL.cpp:37): batch DML as a table write (parquet
    target via writer options), read back and hash-match the source —
    the write actually landed every row."""
    import tempfile

    from ..sources.sql import put_sql

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    target = os.path.join(tempfile.mkdtemp(prefix="putsqlq-"), "landed")
    put_sql(ev, "", mode="overwrite", format="parquet", path=target)
    return spark.read.parquet(target).select(
        "event_id", "event_type", F.col("user_id").cast("bigint").alias("user_id")
    )


@_register(
    "procfs_metrics_parse",
    """
    SELECT * FROM (VALUES
        ('Memory', 'MemTotal',     CAST(16384000 AS BIGINT)),
        ('Memory', 'MemAvailable', CAST(8192000 AS BIGINT)),
        ('CPU',    'cpu.user',     CAST(100 AS BIGINT)),
        ('CPU',    'cpu.idle',     CAST(4000 AS BIGINT)),
        ('Network','eth0.rx_bytes',CAST(1000000 AS BIGINT)),
        ('Network','eth0.tx_bytes',CAST(500000 AS BIGINT))
    ) AS t(section, metric, value)
    """,
)
def procfs_metrics_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProcFsMonitor (procfs.py vs the reference's ProcFs parser): a
    fixture /proc tree with known counters; the parsed gauges must
    match the oracle's literal table."""
    import tempfile

    from ..sources.procfs import ProcFs

    configure(spark)
    root = tempfile.mkdtemp(prefix="procq-")
    os.makedirs(os.path.join(root, "net"), exist_ok=True)
    for rel, text in _PROCFS_FIXTURE.items():
        with open(os.path.join(root, rel), "w") as fh:
            fh.write(text)
    snap = ProcFs(root).snapshot()
    rows = [
        ("Memory", "MemTotal", snap["Memory"]["MemTotal"]),
        ("Memory", "MemAvailable", snap["Memory"]["MemAvailable"]),
        ("CPU", "cpu.user", snap["CPU"]["cpu"]["user"]),
        ("CPU", "cpu.idle", snap["CPU"]["cpu"]["idle"]),
        ("Network", "eth0.rx_bytes", snap["Network"]["eth0"]["rx_bytes"]),
        ("Network", "eth0.tx_bytes", snap["Network"]["eth0"]["tx_bytes"]),
    ]
    return spark.createDataFrame(rows, "section string, metric string, value long")


@_register(
    "opc_browse_lazy",
    """
    SELECT 'ns=2;i=' || CAST(r.range AS VARCHAR)  AS node_id,
           CAST(r.range * 3 AS VARCHAR)           AS value,
           'root/var' || CAST(r.range AS VARCHAR) AS full_path,
           't' || CAST(r.range // 10 AS VARCHAR)  AS ts
    FROM range(50) r
    """,
)
def opc_browse_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FetchOPC (fetchopc.cpp:60): browse-and-read of the variable
    nodes under a root, folder nodes skipped, OPC attributes attached.
    The LAZY contract is enforced in-run: a second poll with unchanged
    Sourcetimestamps must emit nothing (state-backed, raises on
    violation -> red graded row)."""
    import tempfile

    from ..sources.industrial import OpcLazyState, fetch_opc

    configure(spark)
    client = _FakeOpcServer()
    state = OpcLazyState(os.path.join(tempfile.mkdtemp(prefix="opcq-"), "state.json"))
    first = fetch_opc(spark, client, "root", lazy="on", state=state)
    if first is None:
        raise RuntimeError("first OPC browse emitted nothing")
    second = fetch_opc(spark, client, "root", lazy="on", state=state)
    if second is not None:
        raise RuntimeError("lazy contract violated: unchanged timestamps re-emitted")
    return first.select(
        F.col("uuid").alias("node_id"),
        F.col("content").alias("value"),
        F.col("attributes").getItem("Full path").alias("full_path"),
        F.col("attributes").getItem("Sourcetimestamp").alias("ts"),
    )


@_register(
    "kv_enrichment_route",
    """
    SELECT event_id,
           CASE WHEN user_id % 2 = 0 THEN 'profile-of-' || CAST(user_id AS VARCHAR) END
               AS profile,
           CASE WHEN user_id % 2 = 0 THEN 'success' ELSE 'not.found' END AS kv_status
    FROM events
    """,
)
def kv_enrichment_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetCouchbaseKey (GetCouchbaseKey.cpp:32): executor-side KV
    lookup per event with success / not.found routing — values and
    statuses pinned per row by the oracle."""
    from ..sources.kv import get_kv_key

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("key")
    )
    out = get_kv_key(ev, _FakeKvStore, key_col="key", value_col="profile")
    return out.select("event_id", "profile", "kv_status")


@_register(
    "remote_list_fetch",
    """
    SELECT CASE WHEN r.range < 10 THEN '/data/f' || CAST(r.range AS VARCHAR) || '.log'
                ELSE '/data/sub/f' || CAST(r.range AS VARCHAR) || '.log' END AS path,
           CAST(100 + r.range AS BIGINT) AS size,
           md5('content-of-' ||
               CASE WHEN r.range < 10 THEN '/data/f' || CAST(r.range AS VARCHAR) || '.log'
                    ELSE '/data/sub/f' || CAST(r.range AS VARCHAR) || '.log' END) AS content_md5
    FROM range(20) r
    """,
)
def remote_list_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListSFTP -> FetchSFTP (ListSFTP.cpp:781, FetchSFTP.cpp:57):
    recursive watermark listing over the injected remote FS, then
    executor-side fetch of exactly the listed paths. Incremental
    contract enforced in-run (second poll must list nothing)."""
    import tempfile

    from ..sources.fetch_file import ListFileState
    from ..sources.remote_fs import fetch_remote, list_remote

    configure(spark)
    client = _FakeRemoteFs()
    state = ListFileState(os.path.join(tempfile.mkdtemp(prefix="sftpq-"), "state.json"))
    listing = list_remote(spark, client, "/data", state=state, name_filter=r"\.log$")
    if listing is None:
        raise RuntimeError("first remote listing emitted nothing")
    if list_remote(spark, client, "/data", state=state) is not None:
        raise RuntimeError("incremental contract violated on second remote poll")
    fetched = fetch_remote(listing, _FakeRemoteFs)
    return fetched.select("path", "size", F.md5(F.col("content")).alias("content_md5"))


@_register(
    "modbus_read_registers",
    # one device, one poll per row: record is the same deterministic
    # JSON for every event (json.dumps sort_keys, ', '/': ' separators)
    """
    SELECT event_id,
           '{"flag": true, "flow": 82, "temp": [20, 22]}' AS record,
           'success' AS status
    FROM events
    """,
)
def modbus_read_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FetchModbusTcp (FetchModbusTcp.cpp:152) through BOTH reference
    address grammars (ReadModbusFunctions.cpp:192-230): long form
    holding-register:10:INT[2], classic 4x00042 (1-based) and coil
    100017 — executor-side reads via the injected client, success
    routing, JSON record pinned exactly by the oracle."""
    from ..sources.industrial import fetch_modbus_tcp

    ev = _t(spark, sf_dir, "events").select("event_id")
    routed = fetch_modbus_tcp(
        ev,
        _FakeModbusDevice,
        {"temp": "holding-register:10:INT[2]", "flow": "4x00042", "flag": "100017"},
    )
    return routed["success"].select(
        "event_id",
        F.col("modbus_record").alias("record"),
        F.col("modbus_status").alias("status"),
    )


@_register(
    "k8s_pod_metrics_quantities",
    # the Kubernetes quantity grammar: cpu 'Nm' -> N*1e6 nanocores,
    # memory 'NKi' -> N*1024 bytes
    """
    SELECT 'ns-' || CAST(user_id % 3 AS VARCHAR)           AS namespace,
           'pod-' || CAST(event_id AS VARCHAR)             AS pod,
           'main'                                          AS container,
           CAST(round(value) * 1000000 AS BIGINT)          AS cpu_nanocores,
           CAST(user_id * 1024 AS BIGINT)                  AS memory_bytes
    FROM events
    """,
)
def k8s_pod_metrics_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollectKubernetesPodMetrics relational lift
    (CollectKubernetesPodMetrics.cpp:34 + the quantity parser):
    podMetricsList JSON built per event -> pod_metrics_table explodes
    containers and parses cpu/memory quantities — the oracle mirrors
    the n/u/m and Ki/Mi arithmetic exactly."""
    from ..sources.k8s import pod_metrics_table

    ev = _t(spark, sf_dir, "events")
    metrics_json = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.struct(
                        F.concat(F.lit("ns-"), (F.col("user_id") % 3).cast("string")).alias(
                            "namespace"
                        ),
                        F.concat(F.lit("pod-"), F.col("event_id").cast("string")).alias("name"),
                    ).alias("metadata"),
                    F.array(
                        F.struct(
                            F.lit("main").alias("name"),
                            F.struct(
                                F.concat(
                                    F.round(F.col("value")).cast("long").cast("string"),
                                    F.lit("m"),
                                ).alias("cpu"),
                                F.concat(F.col("user_id").cast("string"), F.lit("Ki")).alias(
                                    "memory"
                                ),
                            ).alias("usage"),
                        )
                    ).alias("containers"),
                )
            ).alias("items")
        )
    )
    frames = ev.select(metrics_json.alias("content"))
    return pod_metrics_table(frames)


@_register(
    "el_delineated_pack",
    # the delineated-value combinators over a synthetic csv attribute
    # 'e,<type>,<uid>': join of per-value toUpper, count of values
    # containing 'e', any-value equality
    """
    SELECT event_id,
           upper('e,' || event_type || ',' || CAST(user_id AS VARCHAR)) AS all_upper,
           CAST(1 + (CASE WHEN event_type LIKE '%e%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_e,
           (event_type = 'error') AS any_is_error
    FROM events
    """,
)
def el_delineated_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EL delineated-value combinators (Expression.cpp:1247-1309:
    allDelineatedValues / anyDelineatedValue): per-value function
    chains, join/count aggregates, any-value predicates — all over a
    csv-valued attribute, compiled to Catalyst array expressions."""
    ev = _t(spark, sf_dir, "events")
    ff = events_to_flowfiles(ev).withColumn(
        "attributes",
        F.map_concat(
            F.col("attributes"),
            F.create_map(
                F.lit("csv"),
                F.concat_ws(
                    ",", F.lit("e"), F.col("attributes")["event_type"], F.col("attributes")["user_id"]
                ),
            ),
        ),
    )
    return ff.select(
        F.col("uuid").cast("long").alias("event_id"),
        el_string("${allDelineatedValues(${csv}, ','):toUpper():join(',')}").alias("all_upper"),
        el_string("${allDelineatedValues(${csv}, ','):contains('e'):count()}")
        .cast("bigint")
        .alias("n_with_e"),
        el_bool("${anyDelineatedValue(${csv}, ','):equals('error')}").alias("any_is_error"),
    )


@_register(
    "json_path_extract",
    """
    SELECT event_id, json_extract_string(props, '$.k') AS k_val FROM events
    """,
)
def json_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EvaluateJsonPath: props JSON -> attribute."""
    ev = _t(spark, sf_dir, "events")
    ff = events_to_flowfiles(ev)
    out = evaluate_json_path(ff, {"k_val": "$.k"})
    return out.select(
        F.col("uuid").cast("long").alias("event_id"),
        F.col("attributes").getItem("k_val").alias("k_val"),
    )


@_register(
    "rolling_window_count10",
    """
    SELECT event_id,
           cnt                                                        AS w_count,
           CAST(s AS BIGINT)                                          AS w_sum_cents,
           round(CAST(s AS DOUBLE) / cnt / 100, 6)                    AS w_mean,
           round(CAST(med AS DOUBLE) / 100, 6)                        AS w_median,
           round((sq - CAST(s AS DOUBLE) * s / cnt) / cnt / 10000, 6) AS w_variance,
           mn                                                         AS w_min_cents,
           mx                                                         AS w_max_cents
    FROM (
      SELECT event_id,
             count(*)                                   OVER w AS cnt,
             sum(cents)                                 OVER w AS s,
             sum(cents * cents)                         OVER w AS sq,
             CAST(quantile_cont(cents, 0.5) OVER w AS DOUBLE)  AS med,
             min(cents)                                 OVER w AS mn,
             max(cents)                                 OVER w AS mx
      FROM (SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    """,
)
def rolling_window_count10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AttributeRollingWindow, count flavor (SURVEY §2.7): the
    reference's rolling aggregates per record.

    Values are quantized to integer cents BEFORE aggregating: the
    driver hash-compares against DuckDB, whose sliding-window segment
    trees accumulate doubles in a different order than Spark — with
    cents-quantized inputs every sum is exact, so both engines produce
    bit-identical results (no rounding knife-edges). Variance is
    computed explicitly from (sum, sumsq) rather than var_pop so both
    sides share one formula (Spark's Welford path differs in ulps).
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    out = attribute_rolling_window_count(
        ev, "cents", order_col="event_id", window_length=10, partition_by="user_id"
    )
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-9, 0)
    sumsq = F.sum(F.col("cents") * F.col("cents")).over(w)
    cnt = F.col("`rolling.window.count`")
    s = F.col("`rolling.window.value`").cast("long")
    return out.withColumn("_sq", sumsq).select(
        "event_id",
        cnt.cast("long").alias("w_count"),
        s.alias("w_sum_cents"),
        F.round(s.cast("double") / cnt / 100, 6).alias("w_mean"),
        F.round(F.col("`rolling.window.median`").cast("double") / 100, 6).alias("w_median"),
        F.round((F.col("_sq") - s.cast("double") * s / cnt) / cnt / 10000, 6).alias("w_variance"),
        F.col("`rolling.window.min`").cast("long").alias("w_min_cents"),
        F.col("`rolling.window.max`").cast("long").alias("w_max_cents"),
    )


@_register(
    "tumbling_hourly_by_type",
    """
    SELECT date_trunc('hour', ts) AS wstart, event_type,
           count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (streaming-identical shape)."""
    ev = _t(spark, sf_dir, "events")
    agg = tumbling_window_agg(
        ev,
        ts_col="ts",
        duration="1 hour",
        group_by=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")],
    )
    return agg.select(F.col("window.start").alias("wstart"), "event_type", "n", "total")


# ===========================================================================
# Text / content operators over documents
# ===========================================================================


@_register(
    "extract_first_word",
    r"SELECT doc_id, regexp_extract(text, '^(\w+)', 1) AS first_word FROM documents",
)
def extract_first_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExtractText: regex capture group -> attribute."""
    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(
        F.col("doc_id").cast("string").alias("uuid"),
        F.col("text").alias("content"),
        F.create_map().cast("map<string,string>").alias("attributes"),
    )
    out = extract_text(ff, "fw", r"^(\w+)", include_capture_group_zero=False)
    return out.select(
        F.col("uuid").cast("long").alias("doc_id"),
        F.coalesce(F.col("attributes").getItem("fw.1"), F.lit("")).alias("first_word"),
    )


@_register(
    "replace_text_hashed",
    """
    SELECT doc_id, md5(regexp_replace(text, 'merge', 'MERGE', 'g')) AS h FROM documents
    """,
)
def replace_text_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplaceText regex mode, md5-compressed for the oracle compare."""
    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(F.col("doc_id"), F.col("text").alias("content"))
    out = replace_text(ff, "regex_replace", "merge", "MERGE")
    return out.select("doc_id", F.md5(F.col("content")).alias("h"))


@_register(
    "split_fragment_counts",
    """
    SELECT doc_id,
           CAST(ceil(len(string_split(text, ' ')) / 20.0) AS BIGINT) AS n_fragments
    FROM documents
    """,
)
def split_fragment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SplitText fan-out: fragments per document at 20 words/line
    (word-per-line rewrite, then 20-line fragments)."""
    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(F.col("doc_id"), F.col("text").alias("content"), F.col("doc_id").cast("string").alias("uuid"), F.create_map().cast("map<string,string>").alias("attributes"))
    word_lines = replace_text(ff, "regex_replace", " ", "\n")
    frags = split_text(word_lines, line_split_count=20)
    return frags.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fragments"))


@_register(
    "split_record_fragments",
    """
    WITH l AS (SELECT user_id, event_id,
        '{"event_id":' || CAST(event_id AS VARCHAR) || ',"event_type":"'
          || event_type || '"}' AS line
      FROM events),
    d AS (SELECT user_id, string_agg(line, chr(10) ORDER BY event_id) AS content
          FROM l GROUP BY user_id),
    s AS (SELECT user_id, string_split(content, chr(10)) AS ls FROM d),
    fr AS (SELECT user_id,
        CAST(i + 1 AS INT) AS frag_index,
        CAST(len(ls[CAST(3*i+1 AS INT):CAST(3*i+3 AS INT)]) AS INT) AS record_count,
        md5(array_to_string(ls[CAST(3*i+1 AS INT):CAST(3*i+3 AS INT)], chr(10)))
          AS frag_md5
      FROM s, LATERAL (SELECT unnest(range(CAST(ceil(len(ls) / 3.0) AS BIGINT))) AS i) ix)
    SELECT user_id, frag_index, record_count, frag_md5 FROM fr
    """,
)
def split_record_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SplitRecord (r8 — first oracle row for the operator): per-user
    JSON-lines record sets re-chunked into <=3 records per fragment;
    fragment.index (1-based), text.line.count and exact fragment
    content (md5) graded chunk-by-chunk. JSON lines are built with
    explicit concat in BOTH engines so the text is byte-identical."""
    from ..operators import split_record

    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit('{"event_id":'),
        F.col("event_id").cast("string"),
        F.lit(',"event_type":"'),
        F.col("event_type"),
        F.lit('"}'),
    )
    per_user = (
        ev.select("user_id", F.struct("event_id", line.alias("line")).alias("_s"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "\n", F.array_sort(F.collect_list("_s")).getField("line")
            ).alias("content")
        )
    )
    ff = per_user.select(
        F.col("user_id").cast("string").alias("uuid"),
        "content",
        F.create_map().cast("map<string,string>").alias("attributes"),
        F.col("user_id"),
    )
    frags = split_record(ff, records_per_split=3)
    return frags.select(
        "user_id",
        F.col("attributes").getItem("fragment.index").cast("int").alias("frag_index"),
        F.col("attributes").getItem("text.line.count").cast("int").alias("record_count"),
        F.md5(F.col("content")).alias("frag_md5"),
    )


@_register(
    "split_merge_roundtrip",
    "SELECT doc_id, md5(text) AS content_md5 FROM documents",
)
def split_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split -> defragment roundtrip; the oracle hashes the ORIGINAL
    text, so any reassembly corruption fails the gate."""
    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(
        F.col("doc_id").cast("string").alias("uuid"),
        F.col("text").alias("content"),
        F.create_map().cast("map<string,string>").alias("attributes"),
    )
    word_lines = replace_text(ff, "regex_replace", " ", "\n")
    frags = split_text(word_lines, line_split_count=7)
    merged = merge_content_defragment(frags)
    restored = replace_text(merged, "regex_replace", "\n", " ")
    return restored.select(
        F.col("uuid").cast("long").alias("doc_id"), F.md5(F.col("content")).alias("content_md5")
    )


@_register(
    "hash_content_sha256",
    "SELECT doc_id, upper(sha256(text)) AS content_hash FROM documents",
)
def hash_content_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(F.col("doc_id"), F.col("text").alias("content"), F.create_map().cast("map<string,string>").alias("attributes"))
    out = hash_content(ff, "hash.value", "SHA256")
    return out.select("doc_id", F.col("attributes").getItem("hash.value").alias("content_hash"))


@_register(
    "route_text_merge_lines",
    """
    SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x LIKE '%merge%')) AS n_merge
    FROM documents
    WHERE len(list_filter(string_split(text, ' '), x -> x LIKE '%merge%')) > 0
    """,
)
def route_text_merge_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RouteText: word-per-line routing, 'contains merge' relationship;
    output = matched-line count per source document."""
    from ..operators import route_text

    docs = _t(spark, sf_dir, "documents")
    ff = docs.select(
        F.col("doc_id").cast("string").alias("uuid"),
        F.regexp_replace(F.col("text"), " ", "\n").alias("content"),
        F.create_map().cast("map<string,string>").alias("attributes"),
    )
    routed = route_text(ff, {"merge": "merge"}, matching="contains", trim_whitespace=False)
    return routed["merge"].select(
        F.col("uuid").cast("long").alias("doc_id"),
        F.size(F.split(F.col("content"), "\n")).cast("long").alias("n_merge"),
    )
