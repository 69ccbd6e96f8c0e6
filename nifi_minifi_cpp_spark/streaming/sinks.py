"""Push-style sinks (SURVEY §2.2): InvokeHTTP and the foreachBatch
handlers for HTTP POST, PutTCP and PutUDP.

``invoke_http`` sends one request per row executor-side,
``route_invoke_http`` splits the result by status class
(``http_relationship``), and ``build_http_session_factory`` wires
declared SSL Context / Proxy Configuration services into the transport.
``http_post_handler``, ``put_tcp_handler`` and ``put_udp_handler``
return ``(batch_df, epoch_id)`` handlers; under ``foreachBatch`` the
epoch id gives idempotency keys for the reference's session-commit
exactly-once analogue (ProcessSession.cpp:855-985 -> checkpoint +
idempotent sink). The flow's sinks are defined in ``plans/pipeline.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def build_http_session_factory(ssl_conf: dict | None = None, proxy_conf: dict | None = None):
    """Session factory wiring resolved SSLContextService /
    ProxyConfigurationService configs (plans.services) into the
    executor-side requests transport: client cert+key -> ``cert``,
    CA -> ``verify``, proxy URL -> ``proxies``. Returns None when
    neither service is configured (caller falls back to a plain
    session). The factory is pickled to executors; requests imports
    lazily there."""
    ssl_conf = ssl_conf or {}
    proxy_conf = proxy_conf or {}
    cert, key, ca = ssl_conf.get("cert"), ssl_conf.get("key"), ssl_conf.get("ca")
    proxy_url = proxy_conf.get("proxy_url")
    if not (cert or ca or proxy_url):
        return None

    def factory():
        import requests

        s = requests.Session()
        if proxy_url:
            s.proxies = {"http": proxy_url, "https": proxy_url}
        if ca:
            s.verify = str(ca)
        if cert:
            s.cert = (str(cert), str(key)) if key else str(cert)
        return s

    return factory


def invoke_http(
    df: DataFrame,
    url: str,
    method: str = "POST",
    content_col: str = "content",
    headers: dict[str, str] | None = None,
    session_factory=None,
    timeout: float = 30.0,
) -> DataFrame:
    """InvokeHTTP (InvokeHTTP.cpp:241,270): issue one request per row
    on the EXECUTORS and append per-row result columns.

    Arrow-batched ``mapInPandas``: each partition opens one session and
    streams its rows through it — no driver collect, no row cap,
    parallel across the cluster. Output adds
    ``invokehttp_status_code`` (0 = transport error, the reference's
    ``failure`` relationship) and ``invokehttp_response_body``; feed it
    to :func:`route_invoke_http` for the reference's 4-way relationship
    split. ``session_factory`` injects a fake transport for tests (it
    is pickled to executors, so it must be importable or closure-only).
    """
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    hdrs = dict(headers or {})
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("invokehttp_status_code", IntegerType()),
            StructField("invokehttp_response_body", StringType()),
        ]
    )

    def run(batches):
        if session_factory is not None:
            session = session_factory()
        else:  # pragma: no cover - requires network
            import requests

            session = requests.Session()
        for pdf in batches:
            codes: list[int] = []
            bodies: list[str | None] = []
            for content in pdf[content_col]:
                data = content if isinstance(content, (bytes, bytearray)) else str(content).encode()
                try:
                    resp = session.request(method, url, data=data, headers=hdrs, timeout=timeout)
                    codes.append(int(resp.status_code))
                    bodies.append(resp.text if hasattr(resp, "text") else None)
                except Exception:
                    # transport-level error -> status 0 -> failure
                    codes.append(0)
                    bodies.append(None)
            out = pdf.copy()
            out["invokehttp_status_code"] = codes
            out["invokehttp_response_body"] = bodies
            yield out

    from ..util import spread_for_cpu

    return spread_for_cpu(df).mapInPandas(run, out_schema)


def http_relationship(status_col: str = "invokehttp_status_code"):
    """Status class -> relationship name (InvokeHTTP.cpp:382-404):
    2xx -> success, 5xx -> retry, 1xx/3xx/4xx -> no_retry, transport
    error (status <= 0) -> failure."""
    from pyspark.sql import functions as F

    s = F.col(status_col)
    return (
        F.when((s >= 200) & (s < 300), "success")
        .when((s >= 500) & (s < 600), "retry")
        .when(s <= 0, "failure")
        .otherwise("no_retry")
    )


def route_invoke_http(
    df: DataFrame,
    status_col: str = "invokehttp_status_code",
    allow_streaming: bool = False,
) -> dict[str, DataFrame]:
    """Relationship split by status class (InvokeHTTP.cpp:382-404).
    Same dict-of-frames contract as RouteOnAttribute.

    The input lineage contains the side-effecting HTTP map, and each
    returned relationship is typically consumed by its own action —
    without a materialization barrier every action would re-run the
    map and re-POST every row (duplicate delivery). ``localCheckpoint``
    executes the requests exactly once here and the four filters read
    the materialized result.

    Streaming frames can't be checkpointed (AnalysisException) and are
    routed lazily — consuming two or more relationships in separate
    sinks would re-execute the HTTP map per sink (duplicate delivery).
    That hazard must be OPTED INTO with ``allow_streaming=True``; the
    recommended streaming shape is :func:`http_post_handler` inside
    ``foreachBatch``, whose ``batch_df`` is already materialized by
    the streaming engine (per-micro-batch exactly-once barrier)."""
    if df.isStreaming:
        if not allow_streaming:
            raise ValueError(
                "route_invoke_http on a STREAMING frame returns lazy filters: "
                "each consuming sink re-runs the HTTP map (duplicate "
                "delivery). Pass allow_streaming=True to accept that (single "
                "sink), or use http_post_handler inside foreachBatch."
            )
        sent = df
    else:
        sent = df.localCheckpoint(eager=True)
    rel = http_relationship(status_col)
    return {name: sent.filter(rel == name) for name in ("success", "retry", "no_retry", "failure")}


def http_post_handler(
    url: str,
    content_col: str = "content",
    session_factory=None,
    on_routed=None,
):
    """InvokeHTTP foreachBatch handler: executor-side POSTs via
    :func:`invoke_http` (no driver collect, no row cap), then the
    reference's 4-way status routing. ``on_routed(routed, epoch_id)``
    receives the relationship->DataFrame dict (dead-letter the
    ``retry``/``failure`` frames, log counts, ...); by default the
    batch is forced with a noop write so the requests actually fire.
    """

    def handler(batch_df: DataFrame, epoch_id: int) -> None:
        import pyspark.sql.functions as F

        sent = invoke_http(
            batch_df,
            url,
            content_col=content_col,
            headers={"X-Epoch": str(epoch_id)},
            session_factory=session_factory,
        )
        if on_routed is not None:
            on_routed(route_invoke_http(sent), epoch_id)
        else:
            sent.select(F.col("invokehttp_status_code")).write.format("noop").mode("overwrite").save()

    return handler


def put_udp_handler(host: str, port: int, content_col: str = "content"):
    """PutUDP (PutUDP.cpp:54): one datagram per row. Runs
    per-partition on the EXECUTORS (foreachPartition inside
    foreachBatch) — no driver collect, each task opens one socket."""

    def handler(batch_df: DataFrame, epoch_id: int) -> None:
        def send(rows) -> None:
            import socket

            sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            try:
                for row in rows:
                    payload = row[content_col]
                    if payload is None:
                        continue
                    data = payload if isinstance(payload, (bytes, bytearray)) else str(payload).encode()
                    sock.sendto(data, (host, port))
            finally:
                sock.close()

        batch_df.select(content_col).foreachPartition(send)

    return handler


def put_tcp_handler(
    host: str, port: int, content_col: str = "content", delimiter: str = "\n"
):
    """PutTCP (PutTCP.cpp:83): delimited messages over one connection
    per partition per batch, executor-side."""

    def handler(batch_df: DataFrame, epoch_id: int) -> None:
        def send(rows) -> None:
            import socket

            sock = socket.create_connection((host, port), timeout=30)
            try:
                for row in rows:
                    payload = row[content_col]
                    if payload is None:
                        continue
                    data = payload if isinstance(payload, (bytes, bytearray)) else str(payload).encode()
                    sock.sendall(data + delimiter.encode())
            finally:
                sock.close()

        batch_df.select(content_col).foreachPartition(send)

    return handler
