"""Streaming-layer tests: file streams driving the operator pack,
stateful bin-packing/defragment, wire-format adapters.

Memory sink + processAllAvailable makes these synchronous (the
reference's SingleProcessorTestController trigger(), streaming flavor).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nifi_minifi_cpp_spark import streaming as st
from nifi_minifi_cpp_spark.model import FLOWFILE_SCHEMA


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="mnf-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_events_parquet(spark, sf_dir, outdir):
    from nifi_minifi_cpp_spark.session import load_table

    load_table(spark, "events", sf_dir).limit(200).write.mode("overwrite").parquet(outdir)


def _run_to_memory(df, name, output_mode="append"):
    q = df.writeStream.format("memory").queryName(name).outputMode(output_mode).start()
    q.processAllAvailable()
    q.stop()


def test_file_stream_route_and_window(spark, sf_dir, tmpdir):
    """GetFile -> RouteOnAttribute -> tumbling window agg, streaming."""
    from nifi_minifi_cpp_spark.session import load_table

    data_dir = os.path.join(tmpdir, "in")
    _write_events_parquet(spark, sf_dir, data_dir)
    schema = load_table(spark, "events", sf_dir).schema

    stream = st.file_stream(spark, data_dir, schema, "parquet")
    errors = stream.filter(F.col("event_type") == "error")
    agg = (
        errors.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_to_memory(agg.select(F.col("window.start").alias("ws"), "n"), "stream_agg", "append")
    got = spark.sql("SELECT sum(n) AS total FROM stream_agg").first()
    batch_total = (
        spark.read.parquet(data_dir).filter(F.col("event_type") == "error").count()
    )
    # append mode + watermark withholds the last open window; allow it
    assert got["total"] is None or got["total"] <= batch_total
    # complete-mode run must equal the batch result exactly
    stream2 = st.file_stream(spark, data_dir, schema, "parquet")
    agg2 = stream2.filter(F.col("event_type") == "error").groupBy().agg(F.count(F.lit(1)).alias("n"))
    _run_to_memory(agg2, "stream_total", "complete")
    assert spark.sql("SELECT n FROM stream_total").first()["n"] == batch_total


def test_generate_flowfiles_schema(spark):
    df = st.generate_flowfiles(spark, rows_per_second=5)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [f.name for f in FLOWFILE_SCHEMA.fields]


def _poll_rows(spark, q, view: str, expected: int, timeout_s: float = 90.0) -> list:
    """Stateful queries with ProcessingTimeTimeout never quiesce for
    processAllAvailable (the engine keeps scheduling state-cleanup
    batches) — poll the memory sink instead."""
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if q.exception():
            raise AssertionError(str(q.exception()))
        rows = spark.sql(f"SELECT * FROM {view}").collect()
        if len(rows) >= expected:
            return rows
        time.sleep(1.0)
    return spark.sql(f"SELECT * FROM {view}").collect()


def test_bin_packing_stream_entry_and_age_flush(spark, tmpdir):
    """MergeContent bin-packing: 10 rows per key with max_entries=4 ->
    two full 'entries' flushes per key, then the remainder 2 flushed
    by the 5s bin-age timeout (BinFiles.h Max Bin Age semantics)."""
    src_dir = os.path.join(tmpdir, "src")
    rows = [(f"k{i % 2}", f"m{i:02d}") for i in range(20)]
    spark.createDataFrame(rows, "correlation string, content string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)

    stream = st.file_stream(spark, src_dir, "correlation string, content string", "parquet")
    merged = st.merge_content_bin_packing_stream(stream, max_entries=4, max_bin_age_ms=5_000)
    q = (
        merged.writeStream.format("memory")
        .queryName("bins")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .start()
    )
    try:
        out = _poll_rows(spark, q, "bins", expected=6)
    finally:
        q.stop()
    by_reason = {}
    for r in out:
        by_reason.setdefault(r["flush_reason"], []).append(r)
    assert len(by_reason.get("entries", [])) == 4
    assert all(r["merge_count"] == 4 for r in by_reason["entries"])
    assert len(by_reason.get("age", [])) == 2
    assert all(r["merge_count"] == 2 for r in by_reason["age"])


def test_rocksdb_state_store_provider_configured(spark, tmpdir):
    """The session must run stateful queries on the RocksDB state
    store (VERDICT r7 #2): the default HDFS-backed store keeps every
    key in executor heap — an OOM risk for long-lived correlation keys
    at scale; the reference keeps flowfile state in RocksDB
    (extensions/rocksdb-repos/FlowFileRepository.cpp). Asserts the
    conf AND that a stateful aggregation actually materializes RocksDB
    working directories under the checkpoint."""
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
        == "true"
    )
    src_dir = os.path.join(tmpdir, "src")
    spark.createDataFrame(
        [("k0", "a"), ("k1", "b"), ("k0", "c")], "correlation string, content string"
    ).coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = st.file_stream(spark, src_dir, "correlation string, content string", "parquet")
    counts = stream.groupBy("correlation").count()
    ckpt = os.path.join(tmpdir, "ckpt")
    q = (
        counts.writeStream.format("memory")
        .queryName("rocks_counts")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        out = _poll_rows(spark, q, "rocks_counts", expected=2)
    finally:
        q.stop()
    assert {r["correlation"]: r["count"] for r in out} == {"k0": 2, "k1": 1}
    # RocksDB leaves changelog/snapshot files (.changelog or .zip) in
    # the state directory — the HDFS provider writes .delta files
    state_files = []
    for root, _dirs, files in os.walk(os.path.join(ckpt, "state")):
        state_files.extend(files)
    assert any(f.endswith(".changelog") or f.endswith(".zip") for f in state_files), state_files
    assert not any(f.endswith(".delta") for f in state_files), state_files


def test_bin_packer_age_flush_direct(spark):
    """Age-based flush path driven directly (timeout injection)."""
    import pandas as pd

    func, _, _ = st.make_bin_packer(max_entries=100, max_bin_age_ms=10)

    class FakeState:
        hasTimedOut = True
        exists = True
        get = (["a", "b"], 2, 123)

        def remove(self):
            self.removed = True

    state = FakeState()
    out = list(func(("key1",), iter([]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["content"] == "a\nb"
    assert row["flush_reason"] == "age"
    assert getattr(state, "removed", False)


def test_defragment_stream_boundaries(spark, tmpdir):
    """DefragmentText: start-pattern boundaries split messages."""
    src_dir = os.path.join(tmpdir, "src")
    pieces = [
        ("s1", 1, "<start> hello"),
        ("s1", 2, "cont-a"),
        ("s1", 3, "<start> world"),
        ("s1", 4, "cont-b"),
        ("s1", 5, "<start> third"),
    ]
    spark.createDataFrame(pieces, "key string, seq int, content string").coalesce(1).orderBy(
        "seq"
    ).write.mode("overwrite").parquet(src_dir)

    stream = st.file_stream(spark, src_dir, "key string, seq int, content string", "parquet")
    out = st.defragment_text_stream(stream, r"^<start>", key_col="key", max_buffer_age_ms=5_000)
    q = (
        out.writeStream.format("memory")
        .queryName("defrag")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ck2"))
        .start()
    )
    try:
        rows = _poll_rows(spark, q, "defrag", expected=3)
    finally:
        q.stop()
    contents = sorted(r["content"] for r in rows)
    # first two flushed on boundary, third by buffer age
    assert contents == ["<start> hello\ncont-a", "<start> third", "<start> world\ncont-b"]
    reasons = {r["content"]: r["flush_reason"] for r in rows}
    assert reasons["<start> third"] == "age"


def test_kafka_records_roundtrip(spark):
    """FIXTURES.md kafka-shaped records <-> FlowFiles."""
    ts = dt.datetime(2024, 1, 1)
    rows = [
        (b"key1", b"payload-1", [("h1", b"v1"), ("h2", b"v2")], "events", 0, 100, ts),
        (None, b"payload-2", None, "events", 1, 200, ts),
    ]
    kafka = spark.createDataFrame(
        rows,
        "key binary, value binary, headers array<struct<key string, value binary>>, "
        "topic string, partition int, offset long, timestamp timestamp",
    )
    ff = st.kafka_records_to_flowfiles(kafka)
    got = {r["uuid"]: r for r in ff.collect()}
    a = dict(got["events-0-100"]["attributes"])
    assert a["kafka.topic"] == "events"
    assert a["kafka.partition"] == "0"
    assert a["kafka.offset"] == "100"
    assert a["kafka.key"] == "key1"
    assert a["h1"] == "v1" and a["h2"] == "v2"
    assert got["events-0-100"]["content"] == "payload-1"

    back = st.flowfiles_to_kafka_records(ff, "out-topic", attributes_as_headers_regex=r"kafka\..*")
    r0 = back.collect()[0]
    assert r0["topic"] == "out-topic"
    assert bytes(r0["value"]).decode() in ("payload-1", "payload-2")
    assert {h["key"] for h in r0["headers"]} >= {"kafka.topic", "kafka.offset"}


def test_parse_syslog_rfc5424_and_3164(spark):
    rows = [
        ("1", '<165>1 2024-01-01T10:00:00Z myhost myapp 1234 MSGID [x y="1"] something happened'),
        ("2", "<34>Oct 11 22:14:15 otherhost su: auth failure"),
        ("3", "not syslog at all"),
    ]
    df = spark.createDataFrame(rows, "uuid string, content string")
    out = {r["uuid"]: dict(r["attributes"]) for r in st.parse_syslog(df).collect()}
    a = out["1"]
    assert a["syslog.valid"] == "true"
    assert a["syslog.priority"] == "165"
    assert a["syslog.severity"] == "5" and a["syslog.facility"] == "20"
    assert a["syslog.hostname"] == "myhost"
    assert a["syslog.app_name"] == "myapp"
    assert a["syslog.msg"] == "something happened"
    b = out["2"]
    assert b["syslog.valid"] == "true"
    assert b["syslog.hostname"] == "otherhost"
    assert b["syslog.timestamp"] == "Oct 11 22:14:15"
    assert out["3"]["syslog.valid"] == "false"


def _fake_http_session():
    """Deterministic fake transport: status derived from the payload.
    Defined INSIDE a function so cloudpickle serializes it by value —
    executors cannot import the test module. Assertions go through the
    returned status columns, not driver-side side effects."""

    class FakeResponse:
        def __init__(self, code):
            self.status_code = code
            self.text = f"resp-{code}"

    class FakeHttpSession:
        def request(self, method, url, data=None, headers=None, timeout=None):
            m = int(data.decode().lstrip("c")) % 10
            if m < 5:
                return FakeResponse(200)
            if m < 7:
                return FakeResponse(503)
            if m < 9:
                return FakeResponse(404)
            raise ConnectionError("transport down")

    return FakeHttpSession


def test_invoke_http_executor_side_routing(spark):
    """InvokeHTTP: per-row status comes back as columns (executor-side
    mapInPandas, no driver collect) and routes 4 ways by status class
    (InvokeHTTP.cpp:382-404)."""
    batch = spark.createDataFrame([(f"c{i}",) for i in range(100)], "content string")
    sent = st.invoke_http(batch, "http://sink.test/ingest", session_factory=_fake_http_session())
    plan = sent._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # executor-side, not a driver loop
    routed = st.route_invoke_http(sent)
    counts = {k: v.count() for k, v in routed.items()}
    assert counts == {"success": 50, "retry": 20, "no_retry": 20, "failure": 10}
    # response body survives for the success relationship
    ok = routed["success"].select("invokehttp_response_body").first()
    assert ok[0] == "resp-200"


def test_invoke_http_posts_exactly_once_per_row(spark, tmp_path):
    """Regression (round 3 localCheckpoint barrier): consuming all four
    relationships must NOT re-run the HTTP map — each row is POSTed
    exactly once. The fake transport appends one line per request to a
    shared file (O_APPEND, atomic for short writes), so a re-executed
    lineage shows up as extra lines."""
    log = str(tmp_path / "posts.log")

    class FakeResponse:
        def __init__(self, code):
            self.status_code = code
            self.text = f"resp-{code}"

    class CountingSession:
        def request(self, method, url, data=None, headers=None, timeout=None):
            with open(log, "a") as f:
                f.write(data.decode() + "\n")
            m = int(data.decode().lstrip("c")) % 4
            return FakeResponse([200, 503, 404, 200][m])

    batch = spark.createDataFrame([(f"c{i}",) for i in range(40)], "content string")
    sent = st.invoke_http(batch, "http://sink.test/ingest", session_factory=CountingSession)
    routed = st.route_invoke_http(sent)
    counts = {k: v.count() for k, v in routed.items()}  # consume ALL relationships
    assert sum(counts.values()) == 40
    with open(log) as f:
        posts = f.read().splitlines()
    assert len(posts) == 40, f"duplicate delivery: {len(posts)} POSTs for 40 rows"
    assert sorted(posts) == sorted(f"c{i}" for i in range(40))


def test_route_invoke_http_streaming_frame_no_checkpoint(spark):
    """Regression (round 4): localCheckpoint raises on streaming
    DataFrames — route_invoke_http must route them lazily instead
    (the foreachBatch micro-batch is the exactly-once barrier there)."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .withColumn("invokehttp_status_code", F.lit(200))
    )
    # duplicate-delivery risk is opt-in now (ADVICE r4): lazy streaming
    # routing must be requested explicitly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="allow_streaming"):
        st.route_invoke_http(stream)
    routed = st.route_invoke_http(stream, allow_streaming=True)
    assert set(routed) == {"success", "retry", "no_retry", "failure"}
    assert all(v.isStreaming for v in routed.values())


def test_foreach_batch_http_handler_routes(spark):
    """The foreachBatch adapter hands the routed frames to on_routed."""
    seen = {}

    def on_routed(routed, epoch_id):
        seen["epoch"] = epoch_id
        seen.update({k: v.count() for k, v in routed.items()})

    handler = st.http_post_handler(
        "http://sink.test/ingest", session_factory=_fake_http_session(), on_routed=on_routed
    )
    batch = spark.createDataFrame([(f"c{i}",) for i in range(20)], "content string")
    handler(batch, epoch_id=7)
    assert seen == {"epoch": 7, "success": 10, "retry": 4, "no_retry": 4, "failure": 2}


def test_streaming_operators_compose(spark, sf_dir, tmpdir):
    """The batch operator pack works unchanged on a stream (same
    DataFrame API — SURVEY's 'same operators under readStream')."""
    from nifi_minifi_cpp_spark import operators as ops
    from nifi_minifi_cpp_spark.model import events_to_flowfiles
    from nifi_minifi_cpp_spark.session import load_table

    data_dir = os.path.join(tmpdir, "in")
    _write_events_parquet(spark, sf_dir, data_dir)
    schema = load_table(spark, "events", sf_dir).schema

    stream = st.file_stream(spark, data_dir, schema, "parquet")
    ff = events_to_flowfiles(stream)
    updated = ops.update_attribute(ff, {"flag": "${value:gt(100):ifElse('hi','lo')}"})
    tagged = ops.attributes_to_json(updated, attributes_list=["event_type", "flag"])
    _run_to_memory(tagged.select("uuid", "content"), "composed")
    rows = spark.sql("SELECT * FROM composed").collect()
    assert len(rows) == 200
    assert all(r["content"].startswith('{"event_type"') for r in rows)


def test_watermark_drops_late_data(spark, tmpdir):
    """Late-data semantics (FIXTURES.md rate-limited replay): rows
    older than the watermark are dropped from closed windows."""
    import datetime as dt

    src_dir = os.path.join(tmpdir, "late1")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch 1: on-time data through 02:00
    rows1 = [(base + dt.timedelta(hours=h), 1.0) for h in (0, 0, 1, 2)]
    spark.createDataFrame(rows1, "ts timestamp, v double").write.parquet(src_dir)

    stream = st.file_stream(spark, src_dir, "ts timestamp, v double", "parquet")
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory").queryName("late_out").outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ck_late")).start()
    )
    q.processAllAvailable()
    # batch 2: a LATE row for hour 0 (watermark is now 01:30) + fresh hour 3
    rows2 = [(base + dt.timedelta(minutes=5), 99.0), (base + dt.timedelta(hours=3), 1.0)]
    spark.createDataFrame(rows2, "ts timestamp, v double").write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()
    got = {r["ws"].hour: r["n"] for r in spark.sql("SELECT * FROM late_out").collect()}
    # hour-0 window emitted with the ON-TIME count only; late row dropped
    assert got.get(0) == 2
    assert 99 not in got.values()


def test_put_udp_tcp_handlers(spark, tmp_path):
    """PutUDP/PutTCP foreachBatch handlers: executor-side socket
    writes, verified against loopback receivers."""
    import socket
    import threading
    import time

    from nifi_minifi_cpp_spark.streaming import put_tcp_handler, put_udp_handler

    # --- receivers ---------------------------------------------------------
    urx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    urx.bind(("127.0.0.1", 0))
    urx.settimeout(30)
    uport = urx.getsockname()[1]
    udp_got = []

    def drain_udp():
        while len(udp_got) < 3:
            try:
                data, _ = urx.recvfrom(65535)
                udp_got.append(data.decode())
            except OSError:
                return

    trx = socket.socket()
    trx.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    trx.bind(("127.0.0.1", 0))
    trx.listen()
    trx.settimeout(30)
    tport = trx.getsockname()[1]
    tcp_got = []

    def drain_tcp():
        buf = b""
        while len(tcp_got) < 3:
            try:
                conn, _ = trx.accept()
            except OSError:
                return
            with conn:
                while True:
                    chunk = conn.recv(65536)
                    if not chunk:
                        break
                    buf += chunk
                    while b"\n" in buf:
                        line, buf = buf.split(b"\n", 1)
                        tcp_got.append(line.decode())

    t1 = threading.Thread(target=drain_udp, daemon=True)
    t2 = threading.Thread(target=drain_tcp, daemon=True)
    t1.start()
    t2.start()

    batch = spark.createDataFrame([("m1",), ("m2",), ("m3",)], "content string")
    put_udp_handler("127.0.0.1", uport)(batch, 0)
    put_tcp_handler("127.0.0.1", tport)(batch, 0)

    deadline = time.time() + 30
    while time.time() < deadline and (len(udp_got) < 3 or len(tcp_got) < 3):
        time.sleep(0.2)
    urx.close()
    trx.close()
    assert sorted(udp_got) == ["m1", "m2", "m3"]
    assert sorted(tcp_got) == ["m1", "m2", "m3"]


def test_exact_dedup_stream_drops_reingested_content(spark, tmpdir):
    """Dedup-on-ingest: re-delivered content within the watermark
    horizon is dropped with bounded state (dropDuplicatesWithinWatermark
    keyed by the 64-bit content hash)."""
    import datetime as _dt
    import os as _os

    from nifi_minifi_cpp_spark.analytics.dedup import exact_dedup_stream

    src_dir = _os.path.join(str(tmpdir), "dedup_in")
    base = _dt.datetime(2024, 1, 1)
    rows1 = [(base, "doc-A"), (base + _dt.timedelta(minutes=1), "doc-B")]
    spark.createDataFrame(rows1, "ts timestamp, content string").write.parquet(src_dir)

    stream = st.file_stream(spark, src_dir, "ts timestamp, content string", "parquet")
    deduped = exact_dedup_stream(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out").outputMode("append")
        .option("checkpointLocation", _os.path.join(str(tmpdir), "ck_dedup")).start()
    )
    try:
        q.processAllAvailable()
        # batch 2: doc-A re-delivered (duplicate) + fresh doc-C
        rows2 = [(base + _dt.timedelta(minutes=2), "doc-A"),
                 (base + _dt.timedelta(minutes=3), "doc-C")]
        spark.createDataFrame(rows2, "ts timestamp, content string").write.mode("append").parquet(src_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["content"] for r in spark.sql("SELECT content FROM dedup_out").collect())
    assert got == ["doc-A", "doc-B", "doc-C"]  # the duplicate doc-A dropped


def test_bin_packer_property_random_vs_model():
    """Property test for the MergeContent bin-packing core
    (BinFiles.h:190-229 flush conditions): drive the
    applyInPandasWithState function DIRECTLY with random payload
    streams split into random micro-batches, and compare every flush
    (content, count, reason) plus the carried state against a
    straightforward Python model of entries/bytes thresholds."""
    import random

    import pandas as pd

    class FakeState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None
            self.removed = False

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

        def setTimeoutDuration(self, ms):
            pass

        def remove(self):
            self.exists, self._v, self.removed = False, None, True

    def model(payloads, max_entries, max_bytes):
        """Expected flushes + final buffer."""
        flushes, buf, total = [], [], 0
        for p in payloads:
            buf.append(p)
            total += len(p)
            if len(buf) >= max_entries or total >= max_bytes:
                reason = "entries" if len(buf) >= max_entries else "bytes"
                flushes.append(("|".join(buf), len(buf), reason))
                buf, total = [], 0
        return flushes, buf

    rng = random.Random(4242)
    for trial in range(25):
        max_entries = rng.randint(2, 6)
        max_bytes = rng.randint(5, 40)
        payloads = ["x" * rng.randint(1, 12) for _ in range(rng.randint(0, 30))]
        func, _, _ = st.make_bin_packer(
            min_entries=1,
            max_entries=max_entries,
            max_bytes=max_bytes,
            max_bin_age_ms=10_000_000,
            demarcator="|",
        )
        state = FakeState()
        got = []
        i = 0
        while i < len(payloads):  # random micro-batch boundaries
            j = rng.randint(i + 1, len(payloads))
            pdf = pd.DataFrame({"content": payloads[i:j]})
            for out in func(("k",), iter([pdf]), state):
                got += list(
                    zip(out["content"], out["merge_count"], out["flush_reason"])
                )
            i = j
        want_flushes, want_buf = model(payloads, max_entries, max_bytes)
        assert [(c, n, r) for c, n, r in got] == want_flushes, trial
        if want_buf:
            assert state.exists and list(state.get[0]) == want_buf, trial
        else:
            assert not state.exists, trial


def test_streaming_hll_registers_match_batch(spark, tmpdir):
    """r10 continuation: the HLL registers are a plain max-aggregate,
    so the SAME sketch builds under Structured Streaming (complete
    mode) as in batch — streaming distinct-count estimation without
    keeping the distinct set in state."""
    from nifi_minifi_cpp_spark.analytics.sketches import hll_estimate, hll_registers

    src = os.path.join(tmpdir, "hll_in")
    rows = [(i, f"user-{i % 300}") for i in range(2000)]
    batch_df = spark.createDataFrame(rows, "id long, user string")
    batch_df.coalesce(2).write.parquet(src)

    stream = st.file_stream(spark, src, "id long, user string", "parquet")
    q = (
        hll_registers(stream, "user")
        .writeStream.format("memory")
        .queryName("hll_regs_stream")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(tmpdir, "ck_hll"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql("SELECT bucket, m FROM hll_regs_stream")
    ref = hll_registers(batch_df, "user")
    assert streamed.exceptAll(ref).count() == 0
    assert ref.exceptAll(streamed).count() == 0
    s_est = hll_estimate(streamed).collect()[0]["hll_estimate"]
    b_est = hll_estimate(ref).collect()[0]["hll_estimate"]
    assert s_est == b_est
    assert abs(s_est - 300) / 300 < 0.4


def test_streaming_upsert_processes_two_microbatches(spark, tmp_path):
    """The upsert entry's contract: maxFilesPerTrigger=1 over two
    staged files yields TWO micro-batches, and the foreachBatch merge
    leaves the snapshot at the doubled totals (update-mode rows are
    running totals, so the second batch OVERRIDES the first's keys)."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "one"))
    part = [f for f in os.listdir(str(tmp_path / "one")) if f.endswith(".parquet")][0]
    os.symlink(str(tmp_path / "one" / part), f"{src}/f1.parquet")
    os.symlink(str(tmp_path / "one" / part), f"{src}/f2.parquet")

    state_dir = str(tmp_path / "state" / "snapshot")
    os.makedirs(os.path.dirname(state_dir))
    batches: list[int] = []

    def upsert(batch_df, batch_id):
        batches.append(batch_id)
        batch_df = batch_df.persist()
        try:
            if os.path.exists(state_dir):
                cur = batch_df.sparkSession.read.parquet(state_dir)
                kept = cur.join(batch_df.select("k"), "k", "left_anti")
                merged = kept.unionByName(batch_df)
            else:
                merged = batch_df
            tmp = f"{state_dir}.tmp-{batch_id}"
            merged.write.mode("overwrite").parquet(tmp)
            if os.path.exists(state_dir):
                shutil.rmtree(state_dir)
            os.rename(tmp, state_dir)
        finally:
            batch_df.unpersist()

    stream = spark.readStream.schema("k string").option("maxFilesPerTrigger", 1).parquet(src)
    agg = stream.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n"))
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    assert len(batches) == 2, batches
    got = {r["k"]: r["n"] for r in spark.read.parquet(state_dir).collect()}
    assert got == {"a": 4, "b": 2}


def test_partitioned_upsert_leaves_untouched_partitions_alone(spark, tmp_path):
    """VERDICT r10 #6: the MERGE-INTO stand-in must be partition-
    pruned — a batch touching one bucket may not rewrite (or even
    read) the others. Pinned physically: untouched partition files
    keep their names, sizes, and mtimes across the merge."""
    import os

    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.streaming.upsert import (
        merge_upsert_partitioned,
        partition_bucket,
    )

    snap = str(tmp_path / "snapshot")
    base = spark.createDataFrame(
        [("alpha", 1), ("beta", 2), ("gamma", 3), ("delta", 4)], "k string, n int"
    ).withColumn("part", partition_bucket(F.col("k"), 4))
    merge_upsert_partitioned(base, snap, ["k"], "part")
    parts = {r["k"]: r["part"] for r in base.collect()}

    # pick a key and a partition that no other key shares
    from collections import Counter

    counts = Counter(parts.values())
    solo = [k for k, p in parts.items() if counts[p] == 1]
    assert solo, f"fixture needs a solo bucket, got {parts}"
    target = solo[0]
    untouched_dirs = [
        d
        for d in os.listdir(snap)
        if d.startswith("part=") and d != f"part={parts[target]}"
    ]
    assert untouched_dirs

    def fingerprint(d):
        out = {}
        for f in os.listdir(os.path.join(snap, d)):
            st = os.stat(os.path.join(snap, d, f))
            out[f] = (st.st_size, st.st_mtime_ns)
        return out

    before = {d: fingerprint(d) for d in untouched_dirs}

    batch = spark.createDataFrame(
        [(target, 99), ("epsilon", 50)], "k string, n int"
    ).withColumn("part", partition_bucket(F.col("k"), 4))
    merge_upsert_partitioned(batch, snap, ["k"], "part")

    after = {d: fingerprint(d) for d in untouched_dirs if d in os.listdir(snap)}
    # files in partitions the batch didn't touch are PHYSICALLY the
    # same files — not rewritten copies (unless epsilon landed there)
    eps_part = f"part={batch.collect()[1]['part']}"
    for d in untouched_dirs:
        if d == eps_part:
            continue
        assert after[d] == before[d], f"partition {d} was rewritten"

    got = {
        (r["k"], r["n"])
        for r in spark.read.parquet(snap).select("k", "n").collect()
    }
    expected = {("alpha", 1), ("beta", 2), ("gamma", 3), ("delta", 4)}
    expected = {(k, n) for k, n in expected if k != target}
    expected |= {(target, 99), ("epsilon", 50)}
    assert got == expected


def test_streaming_ewma_state_carries_across_batches(spark, tmp_path):
    """Two micro-batches in timeline order: the numeric state triple
    must carry across the batch boundary so the final totals equal
    the batch fold over the full sequence (10,10,200,10 with
    threshold 50 -> 1 anomaly, final 45.625 — the hand-computed
    ewma_anomaly_scores case split across two files)."""
    import datetime as dt

    from nifi_minifi_cpp_spark.streaming.stateful import ewma_scores_stream

    base = dt.datetime(2026, 1, 1)
    rows = [
        (1, base + dt.timedelta(minutes=i), i, x)
        for i, x in enumerate([10.0, 10.0, 200.0, 10.0])
    ]
    schema = "user_id long, ts timestamp, event_id long, value double"
    stage = tmp_path / "stage"
    stage.mkdir()
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.parquet(
        str(stage / "a")
    )
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.parquet(
        str(stage / "b")
    )
    import os
    import shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    import time as _time

    now = _time.time()
    for i, sub in enumerate(["a", "b"]):
        for f in os.listdir(stage / sub):
            if f.endswith(".parquet"):
                dst = flat / f"{sub}-{f}"
                shutil.copy(stage / sub / f, dst)
                # FileStreamSource orders batches by modification time:
                # pin mtimes so batch a precedes batch b
                os.utime(dst, (now - 100 + i * 50, now - 100 + i * 50))
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    scored = ewma_scores_stream(raw, key_col="user_id", threshold=50.0)
    import uuid

    view = f"ewma_t_{uuid.uuid4().hex[:8]}"
    q = (
        scored.writeStream.format("memory")
        .queryName(view)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    rows_out = spark.sql(
        f"SELECT * FROM {view} ORDER BY n_events"
    ).collect()
    # two emissions for user 1 (one per batch); the last carries the
    # cross-batch totals
    assert [r["n_events"] for r in rows_out] == [2, 4]
    last = rows_out[-1]
    assert (last["n_anomalies"], round(last["final_ewma"], 6)) == (1, 45.625)


def test_streaming_reservoir_merges_across_micro_batches(spark, tmp_path):
    """r14 streaming reservoir: the per-key bottom-k state must merge
    across REAL micro-batch boundaries — two file drops processed in
    separate batches yield exactly the batch bottom-k of their union
    (the deterministic-selection contract that lets the graded entry
    use plain batch SQL as its oracle)."""
    import hashlib

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.streaming.stateful import reservoir_sample_stream

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [("a", i) for i in range(0, 20)] + [("b", i) for i in range(100, 110)]
    rows2 = [("a", i) for i in range(20, 40)] + [("b", i) for i in range(110, 120)]
    spark.createDataFrame(rows1, "source string, doc_id long").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    stream = spark.readStream.schema("source string, doc_id long").parquet(str(src))
    sampled = reservoir_sample_stream(stream, "source", "doc_id", k=3)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            sampled.writeStream.format("memory")
            .queryName("rsv_merge")
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            spark.createDataFrame(rows2, "source string, doc_id long").coalesce(
                1
            ).write.mode("append").parquet(str(src))
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    emitted = spark.table("rsv_merge")
    final = (
        emitted.withColumn("_mx", F.max("n_seen").over(Window.partitionBy("key")))
        .where(F.col("n_seen") == F.col("_mx"))
        .select("key", "member")
    )
    got = {(r["key"], int(r["member"])) for r in final.collect()}

    def bottom_k(key, ids, k=3):
        ranked = sorted((hashlib.md5(str(i).encode()).hexdigest(), i) for i in ids)
        return {(key, i) for _, i in ranked[:k]}

    want = bottom_k("a", range(0, 40)) | bottom_k("b", range(100, 120))
    assert got == want
    # and the seen-counter is the full union count per key
    seen = {r["key"]: r["n_seen"] for r in emitted.groupBy("key").agg(F.max("n_seen").alias("n_seen")).collect()}
    assert seen == {"a": 40, "b": 20}


def test_drain_timeout_raises_and_stops_query(spark, tmp_path):
    """An availableNow drain that has not finished within its timeout
    raises TimeoutError and leaves no running query behind: returning
    would hand the caller a memory table holding only part of the
    input."""
    from nifi_minifi_cpp_spark.entry_queries._shared import _drain

    src = str(tmp_path / "in")
    spark.range(400).repartition(4).write.parquet(src)
    stream = spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
    view = "drain_timeout_probe"
    with pytest.raises(TimeoutError):
        _drain(
            spark,
            stream.writeStream.format("memory").queryName(view).outputMode("append"),
            timeout_s=0.001,
        )
    assert view not in {q.name for q in spark.streams.active}
