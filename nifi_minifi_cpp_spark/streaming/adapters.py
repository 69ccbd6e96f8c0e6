"""Concrete push-sink adapters (SURVEY §2.2): Splunk HEC, Grafana Loki,
Kinesis, Elasticsearch.

Each adapter separates the NiFi-parity content — batching boundaries,
payload shapes, ack bookkeeping — into PURE functions that need no
network and no Spark, with thin executor-side handlers on top
(``foreachBatch`` handlers, or ``mapInPandas`` like ``invoke_http``).
Clients are injected via factories so every semantic is testable with
fakes; the real clients (requests/boto3/elasticsearch) import lazily.

Reference parity:
- PutSplunkHTTP.cpp:47-93 (HEC endpoint params, ackId capture),
  QuerySplunkIndexingStatus.cpp:77-101 (ack polling).
- PushGrafanaLoki.cpp:30-67 (count/age batch flush),
  PushGrafanaLokiREST.cpp:100-143 (stream labels + values payload).
- PutKinesisStream.cpp:44-52 (500-record batch, 4 MB soft cap).
- PostElasticsearch.cpp:80-135 (_bulk action lines, per-action
  validation).
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# Splunk HEC (PutSplunkHTTP + QuerySplunkIndexingStatus)
# ---------------------------------------------------------------------------


def splunk_hec_url(
    base_url: str,
    source_type: str | None = None,
    source: str | None = None,
    host: str | None = None,
    index: str | None = None,
) -> str:
    """HEC endpoint with the reference's query parameters
    (PutSplunkHTTP.cpp:47-56)."""
    from urllib.parse import quote

    params = []
    if source_type:
        params.append("sourcetype=" + quote(source_type, safe=""))
    if source:
        params.append("source=" + quote(source, safe=""))
    if host:
        params.append("host=" + quote(host, safe=""))
    if index:
        params.append("index=" + quote(index, safe=""))
    url = base_url.rstrip("/") + "/services/collector/raw"
    return url + ("?" + "&".join(params) if params else "")


def parse_hec_ack(response_text: str) -> int | None:
    """ackId from a HEC response, None when absent/invalid
    (PutSplunkHTTP.cpp:90-93)."""
    try:
        doc = json.loads(response_text)
    except (ValueError, TypeError):
        return None
    ack = doc.get("ackId")
    return int(ack) if isinstance(ack, int) and not isinstance(ack, bool) else None


def put_splunk_http(
    df: DataFrame,
    base_url: str,
    token: str,
    content_col: str = "content",
    source_type: str | None = None,
    source: str | None = None,
    host: str | None = None,
    index: str | None = None,
    session_factory=None,
    timeout: float = 30.0,
) -> DataFrame:
    """PutSplunkHTTP: send each row's content to the HEC raw endpoint
    executor-side; append ``splunk_status_code`` and ``splunk_ack_id``
    columns (ack id -> the SPLUNK_ACK_ID attribute of the reference).
    """
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    url = splunk_hec_url(base_url, source_type, source, host, index)
    headers = {"Authorization": f"Splunk {token}"}
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("splunk_status_code", IntegerType()), StructField("splunk_ack_id", LongType())]
    )

    def run(batches):
        if session_factory is not None:
            session = session_factory()
        else:  # pragma: no cover - requires network
            import requests

            session = requests.Session()
        for pdf in batches:
            codes, acks = [], []
            for content in pdf[content_col]:
                data = content if isinstance(content, (bytes, bytearray)) else str(content).encode()
                try:
                    resp = session.request("POST", url, data=data, headers=headers, timeout=timeout)
                    codes.append(int(resp.status_code))
                    acks.append(parse_hec_ack(getattr(resp, "text", "") or ""))
                except Exception:
                    codes.append(0)
                    acks.append(None)
            out = pdf.copy()
            out["splunk_status_code"] = codes
            out["splunk_ack_id"] = acks
            yield out

    from ..util import spread_for_cpu

    return spread_for_cpu(df).mapInPandas(run, out_schema)


def build_splunk_ack_request(ack_ids: Iterable[int]) -> str:
    """{"acks": [...]} poll body (QuerySplunkIndexingStatus.cpp:77-79)."""
    return json.dumps({"acks": sorted(set(int(a) for a in ack_ids))})


def parse_splunk_ack_response(response_text: str) -> dict[int, bool]:
    """ack id -> indexed? from {"acks": {"<id>": bool}}
    (QuerySplunkIndexingStatus.cpp:95-101). Missing/invalid -> {}."""
    try:
        doc = json.loads(response_text)
    except (ValueError, TypeError):
        return {}
    acks = doc.get("acks")
    if not isinstance(acks, dict):
        return {}
    out: dict[int, bool] = {}
    for k, v in acks.items():
        if isinstance(v, bool):
            try:
                out[int(k)] = v
            except ValueError:
                continue
    return out


def query_splunk_indexing_status(
    df: DataFrame,
    base_url: str,
    token: str,
    ack_col: str = "splunk_ack_id",
    session_factory=None,
    timeout: float = 30.0,
) -> DataFrame:
    """QuerySplunkIndexingStatus: poll HEC ack status per partition
    (one request per Arrow batch, not per row) and append
    ``splunk_acknowledged``. Route unacknowledged rows back to retry —
    the reference's undetermined set stays queued the same way."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    url = base_url.rstrip("/") + "/services/collector/ack"
    headers = {"Authorization": f"Splunk {token}"}
    out_schema = StructType(list(df.schema.fields) + [StructField("splunk_acknowledged", BooleanType())])

    def run(batches):
        if session_factory is not None:
            session = session_factory()
        else:  # pragma: no cover - requires network
            import requests

            session = requests.Session()
        for pdf in batches:
            ids = [int(a) for a in pdf[ack_col] if a is not None]
            status: dict[int, bool] = {}
            if ids:
                try:
                    resp = session.request(
                        "POST", url, data=build_splunk_ack_request(ids), headers=headers, timeout=timeout
                    )
                    status = parse_splunk_ack_response(getattr(resp, "text", "") or "")
                except Exception:
                    status = {}
            out = pdf.copy()
            out["splunk_acknowledged"] = [
                bool(status.get(int(a), False)) if a is not None else False for a in pdf[ack_col]
            ]
            yield out

    from ..util import spread_for_cpu

    return spread_for_cpu(df).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Grafana Loki (PushGrafanaLokiREST)
# ---------------------------------------------------------------------------


def build_loki_payload(
    lines: list[tuple[int, str] | tuple[int, str, dict[str, str]]],
    stream_labels: dict[str, str],
) -> str:
    """One Loki push payload: {"streams": [{"stream": labels,
    "values": [[ts_ns_str, line, metadata?], ...]}]}
    (PushGrafanaLokiREST.cpp:118-143; per-line metadata :100-115)."""
    values = []
    for item in lines:
        ts_ns, line = item[0], item[1]
        entry: list = [str(int(ts_ns)), str(line)]
        if len(item) > 2 and item[2]:
            entry.append({str(k): str(v) for k, v in item[2].items()})
        values.append(entry)
    return json.dumps({"streams": [{"stream": dict(stream_labels), "values": values}]})


def batch_by_count_and_age(
    rows: Iterable,
    batch_size: int | None,
    batch_wait_ms: int | None,
    now_ms=None,
) -> Iterator[tuple[list, str]]:
    """The reference's LogBatch flush rule (PushGrafanaLoki.cpp:49-67):
    emit when the batch reaches ``batch_size`` entries OR when
    ``batch_wait_ms`` elapsed since the first entry. With neither set,
    everything flushes as one final batch (the reference sends each
    trigger's flowfiles immediately). Yields (rows, reason) with reason
    in {"size", "age", "final"}. ``now_ms`` is injectable for tests."""
    import time as _time

    clock = now_ms if now_ms is not None else (lambda: int(_time.time() * 1000))
    batch: list = []
    start = None
    for row in rows:
        if not batch:
            start = clock()
        batch.append(row)
        if batch_size is not None and len(batch) >= batch_size:
            yield batch, "size"
            batch = []
            continue
        if batch_wait_ms is not None and clock() - start >= batch_wait_ms:
            yield batch, "age"
            batch = []
    if batch:
        yield batch, "final"


def push_grafana_loki_handler(
    url: str,
    stream_labels: dict[str, str],
    content_col: str = "content",
    ts_col: str | None = None,
    batch_size: int | None = 100,
    batch_wait_ms: int | None = None,
    session_factory=None,
    timeout: float = 30.0,
):
    """PushGrafanaLokiREST foreachBatch handler: per partition, rows
    are grouped by the count/age rule and each group POSTs one payload
    (executor-side; one session per partition)."""

    def handler(batch_df: DataFrame, epoch_id: int) -> None:
        cols = [content_col] + ([ts_col] if ts_col else [])

        def send(rows) -> None:
            if session_factory is not None:
                session = session_factory()
            else:  # pragma: no cover - requires network
                import requests

                session = requests.Session()
            import time as _time

            def to_line(row):
                ts_ns = int(row[ts_col].timestamp() * 1e9) if ts_col else int(_time.time() * 1e9)
                return (ts_ns, row[content_col])

            for group, _reason in batch_by_count_and_age(map(to_line, rows), batch_size, batch_wait_ms):
                payload = build_loki_payload(group, stream_labels)
                session.request(
                    "POST", url, data=payload.encode(),
                    headers={"Content-Type": "application/json"}, timeout=timeout,
                )

        batch_df.select(*cols).foreachPartition(send)

    return handler


# ---------------------------------------------------------------------------
# MQTT publisher (PublishMQTT)
# ---------------------------------------------------------------------------


def publish_mqtt_handler(
    broker: str,
    topic: str,
    content_col: str = "content",
    topic_col: str | None = None,
    qos: int = 0,
    retain: bool = False,
    client_factory=None,
):
    """PublishMQTT (extensions/mqtt/processors/PublishMQTT.cpp:58):
    per partition, one client publishes each row's content with the
    configured QoS/retain; a ``topic_col`` overrides the static topic
    per row (the reference evaluates the Topic property per FlowFile).
    ``client_factory`` must build a paho-shaped client
    (``publish(topic, payload, qos, retain)``); the real client is
    import-gated via ``sources.datasource.connect_paho_client``."""

    def handler(batch_df: DataFrame, epoch_id: int) -> None:
        cols = [content_col] + ([topic_col] if topic_col else [])

        def send(rows) -> None:
            if client_factory is not None:
                client = client_factory()
            else:  # pragma: no cover - requires broker + paho
                from ..sources.datasource import connect_paho_client

                client = connect_paho_client(broker, "nifi-minifi-cpp-spark-pub")
            for row in rows:
                payload = row[content_col]
                if payload is None:
                    continue
                data = payload if isinstance(payload, (bytes, bytearray)) else str(payload).encode()
                client.publish(row[topic_col] if topic_col else topic, data, qos=qos, retain=retain)

        batch_df.select(*cols).foreachPartition(send)

    return handler


# ---------------------------------------------------------------------------
# Kinesis (PutKinesisStream)
# ---------------------------------------------------------------------------

KINESIS_MAX_BATCH_RECORDS = 500
KINESIS_MAX_BATCH_BYTES = 4 * 1024 * 1024


def build_kinesis_batches(
    records: Iterable[tuple[str, bytes]],
    max_records: int = KINESIS_MAX_BATCH_RECORDS,
    max_bytes: int = KINESIS_MAX_BATCH_BYTES,
) -> Iterator[list[tuple[str, bytes]]]:
    """Chunk (partition_key, data) records into PutRecords calls: at
    most 500 records and a 4 MB soft cap per call — the data size cap
    is checked after adding, matching the reference's soft-cap
    semantics (PutKinesisStream.cpp:44-52,74-76)."""
    max_records = min(max_records, KINESIS_MAX_BATCH_RECORDS)
    max_bytes = min(max_bytes, KINESIS_MAX_BATCH_BYTES)
    batch: list[tuple[str, bytes]] = []
    size = 0
    for key, data in records:
        batch.append((key, data))
        size += len(data) + len(key.encode())
        if len(batch) >= max_records or size >= max_bytes:
            yield batch
            batch, size = [], 0
    if batch:
        yield batch


def put_kinesis_handler(
    stream_name: str,
    content_col: str = "content",
    partition_key_col: str | None = None,
    max_records: int = KINESIS_MAX_BATCH_RECORDS,
    max_bytes: int = KINESIS_MAX_BATCH_BYTES,
    client_factory=None,
):
    """PutKinesisStream foreachBatch handler: per partition, records
    chunk into PutRecords batches (500 / 4 MB) and ship executor-side.
    ``client_factory`` must build a boto3-shaped client
    (``put_records(StreamName=..., Records=[{Data, PartitionKey}])``).
    """

    def handler(batch_df: DataFrame, epoch_id: int) -> None:
        cols = [content_col] + ([partition_key_col] if partition_key_col else [])

        def send(rows) -> None:
            if client_factory is not None:
                client = client_factory()
            else:  # pragma: no cover - requires boto3 + network
                import boto3

                client = boto3.client("kinesis")

            def to_record(row):
                data = row[content_col]
                data = data if isinstance(data, (bytes, bytearray)) else str(data).encode()
                key = str(row[partition_key_col]) if partition_key_col else str(hash(bytes(data)) % 2**31)
                return (key, bytes(data))

            for batch in build_kinesis_batches(map(to_record, rows), max_records, max_bytes):
                client.put_records(
                    StreamName=stream_name,
                    Records=[{"Data": d, "PartitionKey": k} for k, d in batch],
                )

        batch_df.select(*cols).foreachPartition(send)

    return handler


# ---------------------------------------------------------------------------
# Elasticsearch (PostElasticsearch)
# ---------------------------------------------------------------------------

_ES_ACTIONS = {"index", "create", "delete", "update", "upsert"}


def build_es_bulk_payload(rows: Iterable[dict]) -> tuple[str, list[tuple[int, str]]]:
    """NDJSON ``_bulk`` body from rows of {action, index, id?, doc?}.

    Per-action validation mirrors PostElasticsearch.cpp:80-113: action
    must be one of index/create/delete/update/upsert; index required;
    id required for delete/update/upsert; upsert becomes an update with
    ``doc_as_upsert``. Returns (payload, errors) where errors is
    [(row_ordinal, reason)] for rows routed to failure.
    """
    lines: list[str] = []
    errors: list[tuple[int, str]] = []
    for i, row in enumerate(rows):
        action = row.get("action")
        index = row.get("index")
        doc_id = row.get("id")
        doc = row.get("doc")
        if action not in _ES_ACTIONS:
            errors.append((i, "missing or invalid action"))
            continue
        if not index:
            errors.append((i, "missing index"))
            continue
        if doc_id is None and action in ("delete", "update", "upsert"):
            errors.append((i, f"identifier is required for {action}"))
            continue
        op = "update" if action == "upsert" else action
        header: dict = {op: {"_index": index}}
        if doc_id is not None:
            header[op]["_id"] = str(doc_id)
        lines.append(json.dumps(header))
        if action in ("index", "create"):
            lines.append(doc if isinstance(doc, str) else json.dumps(doc or {}))
        elif action in ("update", "upsert"):
            body = {"doc": json.loads(doc) if isinstance(doc, str) else (doc or {})}
            if action == "upsert":
                body["doc_as_upsert"] = True
            lines.append(json.dumps(body))
        # delete: header line only
    payload = "\n".join(lines) + ("\n" if lines else "")
    return payload, errors


def post_elasticsearch_handler(
    hosts: str,
    action_col: str = "action",
    index_col: str = "index",
    id_col: str | None = "id",
    doc_col: str = "doc",
    session_factory=None,
    timeout: float = 30.0,
):
    """PostElasticsearch foreachBatch handler: per partition, rows
    become one ``_bulk`` NDJSON request (PostElasticsearch.cpp:59)."""

    def handler(batch_df: DataFrame, epoch_id: int) -> None:
        cols = [action_col, index_col, doc_col] + ([id_col] if id_col else [])
        url = hosts.rstrip("/") + "/_bulk"

        def send(rows) -> None:
            if session_factory is not None:
                session = session_factory()
            else:  # pragma: no cover - requires network
                import requests

                session = requests.Session()
            dicts = (
                {
                    "action": row[action_col],
                    "index": row[index_col],
                    "id": row[id_col] if id_col else None,
                    "doc": row[doc_col],
                }
                for row in rows
            )
            payload, _errors = build_es_bulk_payload(dicts)
            if payload:
                session.request(
                    "POST", url, data=payload.encode(),
                    headers={"Content-Type": "application/x-ndjson"}, timeout=timeout,
                )

        batch_df.select(*cols).foreachPartition(send)

    return handler
