"""Real-PostgreSQL interop for the SQL processors (r13).

The container ships actual PostgreSQL server binaries (initdb /
pg_ctl / postgres — discovered in the same r13 probe that found the
zstd and lz4 CLIs) but no Python driver and no JDBC jar, so the engine
speaks the public v3 frontend/backend protocol directly
(sources/pg_wire.py), the kafka_wire/mqtt_wire pattern. These tests
run against a REAL server the fixture boots: nothing here is an
in-process fake — this is the reference implementation of the
protocol, so the circularity the golden-frame suites address for
Kafka/MQTT does not exist for this client at all.

postgres refuses to run as root: the fixture runs initdb/pg_ctl as a
dedicated non-root user (created if absent) and skips when that is
impossible.
"""

from __future__ import annotations

import shutil
import socket
import subprocess
import sys
import time
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from nifi_minifi_cpp_spark.sources.pg_wire import (
    PgWireClient,
    PgWireError,
    pg_literal,
    put_sql_pg,
    query_to_df,
)

_PG_USER = "pgtest"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


@pytest.fixture(scope="module")
def pg_server():
    if shutil.which("initdb") is None or shutil.which("pg_ctl") is None:
        pytest.skip("no PostgreSQL binaries on PATH")
    subprocess.run(["useradd", "-m", _PG_USER], capture_output=True)
    if subprocess.run(["id", _PG_USER], capture_output=True).returncode != 0:
        pytest.skip("cannot create a non-root user for postgres")
    datadir = f"/tmp/pgwire-{uuid.uuid4().hex[:8]}"
    port = _free_port()

    def as_pg(cmd: str) -> subprocess.CompletedProcess:
        return subprocess.run(["su", _PG_USER, "-c", cmd], capture_output=True, text=True)

    r = as_pg(f"initdb -D {datadir} -A trust")
    if r.returncode != 0:
        pytest.skip(f"initdb failed: {r.stderr[-200:]}")
    r = as_pg(
        f"pg_ctl -D {datadir} -l {datadir}/log -o '-p {port} -k /tmp -c listen_addresses=127.0.0.1' start"
    )
    if r.returncode != 0:
        pytest.skip(f"pg_ctl start failed: {r.stderr[-200:]}")
    deadline = time.time() + 20
    while time.time() < deadline:
        try:
            socket.create_connection(("127.0.0.1", port), timeout=1).close()
            break
        except OSError:
            time.sleep(0.3)
    try:
        yield {"port": port, "user": _PG_USER, "database": "postgres"}
    finally:
        as_pg(f"pg_ctl -D {datadir} -m fast stop")
        shutil.rmtree(datadir, ignore_errors=True)


def _client(pg_server) -> PgWireClient:
    return PgWireClient(
        port=pg_server["port"], user=pg_server["user"], database=pg_server["database"]
    )


def test_wire_client_ddl_dml_select_and_typed_errors(pg_server):
    c = _client(pg_server)
    try:
        c.execute(
            "DROP TABLE IF EXISTS t1; "
            "CREATE TABLE t1 (id bigint, name text, v double precision, ok boolean)"
        )
        tag = c.execute(
            "INSERT INTO t1 VALUES (1, 'a''b', 1.5, true), (2, NULL, NULL, false)"
        )
        assert tag == "INSERT 0 2"
        cols, oids, rows = c.query("SELECT id, name, v, ok FROM t1 ORDER BY id")
        assert cols == ["id", "name", "v", "ok"]
        assert rows == [(1, "a'b", 1.5, True), (2, None, None, False)]
        with pytest.raises(PgWireError, match="42703"):
            c.query("SELECT nope FROM t1")
        # the connection survives a server error (ReadyForQuery resync)
        assert c.query("SELECT count(*) AS n FROM t1")[2] == [(1 + 1,)]
    finally:
        c.close()


def test_pg_literal_quoting(pg_server):
    c = _client(pg_server)
    try:
        c.execute("DROP TABLE IF EXISTS t2; CREATE TABLE t2 (s text)")
        evil = "Robert'); DROP TABLE t2;--"
        c.execute(f"INSERT INTO t2 VALUES ({pg_literal(evil)})")
        assert c.query("SELECT s FROM t2")[2] == [(evil,)]
        assert pg_literal(None) == "NULL" and pg_literal(True) == "TRUE"
    finally:
        c.close()


def test_pg_literal_non_finite_floats(pg_server):
    """r14 advice fix: repr() renders bare ``nan``/``inf`` which is a
    server-side syntax error — the quoted spellings are the only valid
    PostgreSQL literals for non-finite float8. Round-trip all three
    through the REAL server."""
    import math

    assert pg_literal(float("nan")) == "'NaN'"
    assert pg_literal(float("inf")) == "'Infinity'"
    assert pg_literal(float("-inf")) == "'-Infinity'"
    c = _client(pg_server)
    try:
        c.execute("DROP TABLE IF EXISTS t3; CREATE TABLE t3 (id bigint, v double precision)")
        vals = [(1, float("nan")), (2, float("inf")), (3, float("-inf")), (4, 2.5)]
        body = ", ".join(f"({i}, {pg_literal(v)})" for i, v in vals)
        c.execute(f"INSERT INTO t3 VALUES {body}")
        got = dict(c.query("SELECT id, v FROM t3 ORDER BY id")[2])
        assert math.isnan(got[1])
        assert got[2] == float("inf") and got[3] == float("-inf") and got[4] == 2.5
    finally:
        c.close()


def _msg(t: bytes, payload: bytes) -> bytes:
    import struct

    return t + struct.pack(">i", len(payload) + 4) + payload


def _preloaded_client(server_bytes: bytes) -> PgWireClient:
    """A client whose socket is one end of a socketpair pre-loaded with
    raw server bytes — lets the parser see MALFORMED frames a real
    server would never emit (the error-path complement of the live
    fixture above)."""
    import socket as socket_mod

    a, b = socket_mod.socketpair()
    b.sendall(server_bytes)
    client = object.__new__(PgWireClient)
    client._sock = a
    client._test_far_end = b  # keep the far end alive so sends don't EPIPE
    return client


def test_malformed_data_row_raises_typed_error():
    """r14 advice fix: malformed server bytes must surface as
    PgWireError (the single-typed-error contract kafka_wire's codec
    path follows), not a raw UnicodeDecodeError/struct.error."""
    import struct

    rowdesc = struct.pack(">h", 1) + b"col\x00" + struct.pack(">ihihih", 0, 0, 25, -1, -1, 0)
    bad_utf8_row = struct.pack(">h", 1) + struct.pack(">i", 2) + b"\xff\xfe"
    c = _preloaded_client(_msg(b"T", rowdesc) + _msg(b"D", bad_utf8_row) + _msg(b"Z", b"I"))
    with pytest.raises(PgWireError, match="DataRow"):
        c.query("SELECT 1")

    # short RowDescription payload (struct.error path)
    c = _preloaded_client(_msg(b"T", struct.pack(">h", 2) + b"c\x00") + _msg(b"Z", b"I"))
    with pytest.raises(PgWireError, match="RowDescription"):
        c.query("SELECT 1")


def test_malformed_error_response_raises_typed_error():
    # ErrorResponse whose field lacks its NUL terminator: bytes.index
    # raises ValueError; the guard re-types it
    with pytest.raises(PgWireError, match="ErrorResponse"):
        PgWireClient._error_text(b"Mno terminator here")


def test_pg_incremental_scan_state_persists_across_scans(pg_server, spark, tmp_path):
    """QueryDatabaseTable contract against the REAL server
    (QueryDatabaseTable.cpp:35-166): the max-value watermark persists
    across SCAN OBJECTS (the reference's StateManager survives
    processor restarts), the watermark predicate lands in the SERVER's
    WHERE clause (asserted on the rendered SQL — only new rows cross
    the wire), and each batch carries the maxvalue.<col> attribute."""
    from nifi_minifi_cpp_spark.sources.pg_wire import pg_incremental_scan, query_to_df

    c = _client(pg_server)
    try:
        c.execute("DROP TABLE IF EXISTS inc_t; CREATE TABLE inc_t (id bigint, v text)")
        c.execute("INSERT INTO inc_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    finally:
        c.close()
    port, user, db = pg_server["port"], pg_server["user"], pg_server["database"]
    factory = lambda: PgWireClient(port=port, user=user, database=db)  # noqa: E731
    state = str(tmp_path / "state.json")
    sent_sql = []

    def make_scan():
        scan = pg_incremental_scan(factory, "inc_t", ["id"], state)
        inner = scan.query_fn

        def recording(spark_, where_sql):
            sent_sql.append(where_sql)
            return inner(spark_, where_sql)

        scan.query_fn = recording
        return scan

    p1 = make_scan().poll(spark)
    rows1 = {r["id"] for r in p1.collect()}
    assert rows1 == {1, 2, 3}
    assert sent_sql[-1] == ""  # first poll: no watermark yet
    assert p1.select("`maxvalue.id`").distinct().collect()[0][0] == "3"

    c = _client(pg_server)
    try:
        c.execute("INSERT INTO inc_t VALUES (4, 'd'), (5, 'e')")
    finally:
        c.close()

    # a FRESH scan object (processor restart) resumes from the file state
    p2 = make_scan().poll(spark)
    assert {r["id"] for r in p2.collect()} == {4, 5}
    assert sent_sql[-1] == ' WHERE "id" > 3'  # predicate shipped to the server
    assert p2.select("`maxvalue.id`").distinct().collect()[0][0] == "5"

    # third poll with no new rows: None, state unchanged
    assert make_scan().poll(spark) is None
    import json

    assert json.load(open(state)) == {"id": 5}


def test_query_to_df_and_put_sql_pg_roundtrip(pg_server, spark, tables):
    """ExecuteSQL ingest (wire rowset -> DataFrame) and PutSQL egress
    (executor-side per-partition INSERT batches) against the REAL
    server, fed from the driver testdata."""
    c = _client(pg_server)
    try:
        c.execute(
            "DROP TABLE IF EXISTS events_sink; "
            "CREATE TABLE events_sink (event_id bigint, event_type text, value double precision)"
        )
    finally:
        c.close()

    ev = tables["events"].select("event_id", "event_type", "value").limit(500)
    expected = {(r["event_id"], r["event_type"], round(r["value"], 6)) for r in ev.collect()}
    port, user, db = pg_server["port"], pg_server["user"], pg_server["database"]
    put_sql_pg(
        ev.repartition(4),
        lambda: PgWireClient(port=port, user=user, database=db),
        "events_sink",
        batch_rows=100,
    )

    c = _client(pg_server)
    try:
        df = query_to_df(
            spark, c, "SELECT event_id, event_type, value FROM events_sink"
        )
        got = {(r["event_id"], r["event_type"], round(r["value"], 6)) for r in df.collect()}
        assert got == expected
        assert dict(df.dtypes) == {
            "event_id": "bigint",
            "event_type": "string",
            "value": "double",
        }
        # and the reference's ExecuteSQL rowset aggregate shape runs on it
        n = c.query("SELECT count(*) AS n FROM events_sink")[2][0][0]
        assert n == len(expected)
    finally:
        c.close()


def test_pgcdc_stream_reader_polls_and_replays(pg_server, spark):
    """The pgcdc streaming source (r14): each read() is one
    server-side incremental watermark poll; the checkpointed offset is
    the watermark value, and readBetweenOffsets replays exactly the
    (start, end] range — the crash-recovery contract."""
    from nifi_minifi_cpp_spark.sources.pg_wire import _register_pgcdc_impl

    c = _client(pg_server)
    try:
        c.execute(
            "DROP TABLE IF EXISTS cdc_t; "
            "CREATE TABLE cdc_t (id bigint, v double precision, ver bigint)"
        )
        c.execute("INSERT INTO cdc_t VALUES (1, 1.5, 1), (2, 2.5, 1)")
    finally:
        c.close()

    reader = _register_pgcdc_impl()(
        {
            "port": str(pg_server["port"]),
            "user": pg_server["user"],
            "table": "cdc_t",
            "watermark": "ver",
            "columns": "id,v,ver",
            "schema": "id long, v double, ver long",
        }
    ).simpleStreamReader(None)

    start = reader.initialOffset()
    rows1, off1 = reader.read(start)
    assert sorted(rows1) == [(1, 1.5, 1), (2, 2.5, 1)]
    # idle poll: no watermark movement, offset unchanged
    rows_idle, off_idle = reader.read(off1)
    assert list(rows_idle) == [] and off_idle == off1

    c = _client(pg_server)
    try:
        c.execute("UPDATE cdc_t SET ver = 2, v = v + 1 WHERE id = 1")
    finally:
        c.close()
    rows2, off2 = reader.read(off1)
    assert sorted(rows2) == [(1, 2.5, 2)]  # only the updated row

    # crash replay of batch 2: exactly the (off1, off2] range again
    assert sorted(reader.readBetweenOffsets(off1, off2)) == [(1, 2.5, 2)]
    # replay of batch 1 AFTER the update pins the documented poll-CDC
    # caveat: row 1 now lives at ver=2, outside (null, 1], so only the
    # un-updated row re-materializes — a replayed row updated past the
    # range's end is seen at its newer version in that later range
    # (inherent to poll-based CDC; the reference's model is the same)
    assert sorted(reader.readBetweenOffsets(start, off1)) == [(2, 2.5, 1)]
