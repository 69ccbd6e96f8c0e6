"""Metrics parity: per-operator transfer counters + streaming progress.

The reference tracks per-processor TransferredFlowFiles /
TransferredBytes and onTrigger runtimes
(/root/reference/METRICS.md:238-278, increment site
/root/reference/libminifi/src/core/ProcessSession.cpp:953-960).

Spark-first equivalents:
- batch: the Observation API — metrics piggyback on the job that
  computes the result, zero extra passes;
- code generation: ``codegen_compiles``, the JVM's Janino compile
  count and time, read by the tests and by ``bench.py`` per query;
- streaming: the query's per-batch progress dicts
  (``StreamingQuery.recentProgress``: rows/sec, batch durations, state
  store sizes) held in a ``FlowMetricsLog`` — the QueryMetrics /
  RepositoryMetrics analogue.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class TransferMetrics:
    """Handle for one observed operator edge."""

    name: str
    observation: Observation

    @property
    def ready(self) -> bool:
        """True once the observed frame's first action has completed.
        Checked via the JVM Observation's non-blocking getRowOrEmpty —
        ``Observation.get`` itself BLOCKS until the first action, which
        would hang a metrics scrape that fires before the flow runs."""
        jo = self.observation._jo
        return jo is not None and not jo.getRowOrEmpty().isEmpty()

    @property
    def values(self) -> dict:
        if not self.ready:
            return {"transferred_flowfiles": None, "transferred_bytes": None}
        got = dict(self.observation.get)  # non-blocking now: metrics exist
        return {
            "transferred_flowfiles": got.get("transferred_flowfiles"),
            "transferred_bytes": got.get("transferred_bytes"),
        }


def with_transfer_metrics(
    df: DataFrame, name: str, content_col: str = "content"
) -> tuple[DataFrame, TransferMetrics]:
    """Attach TransferredFlowFiles/TransferredBytes counters to an
    operator output. Returns (df, handle); the handle's values are
    available after any action on the returned frame.
    """
    obs = Observation(name)
    size = (
        F.sum(F.coalesce(F.length(F.col(content_col).cast("string")), F.lit(0)))
        if content_col in df.columns
        else F.lit(0)
    )
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("transferred_flowfiles"),
        size.alias("transferred_bytes"),
    )
    return observed, TransferMetrics(name, obs)


def codegen_compiles(spark) -> tuple[int, float]:
    """Janino compiles so far in this JVM: ``(count, total_ms)``.

    Spark counts a compile only on a miss of its generated-class cache
    (``spark.sql.codegen.cache.maxEntries``, sized in ``session.py``), so
    the difference of two reads is the classes compiled in between, by
    the driver and, in local mode, by the executors that share its JVM.
    Both counters are JVM-wide: another query running at the same time
    adds its compiles too."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    total_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), total_ns / 1e6


@dataclass
class FlowMetricsLog:
    """Collected streaming progress dicts, as ``recentProgress`` returns
    them (LogMetricsPublisher analogue)."""

    progress: list[dict] = field(default_factory=list)

    def totals(self) -> dict:
        rows = sum(p.get("numInputRows", 0) for p in self.progress)
        return {"batches": len(self.progress), "input_rows": rows}


# ---------------------------------------------------------------------------
# Prometheus exposition (PrometheusMetricsPublisher parity, METRICS.md:98-130)
# ---------------------------------------------------------------------------


def prometheus_exposition(
    transfer_metrics: list[TransferMetrics] | None = None,
    flow_log: FlowMetricsLog | None = None,
    agent_identifier: str | None = None,
    procfs_root: str = "/proc",
) -> str:
    """Render current metrics in the Prometheus text exposition format.

    Parity with PrometheusMetricsPublisher (/root/reference/METRICS.md:
    98-130): every metric carries the ``minifi_`` domain prefix plus
    the generic ``metric_class`` and ``agent_identifier`` labels; the
    FlowInformation processor counters (flow_files_out / bytes_out /
    invocations / processing_nanos) come from the Observation handles
    and the streaming progress log; DeviceInfoNode gauges
    (physical_mem / memory_usage / cpu_load_average) read /proc via the
    ProcFsMonitor source.
    """
    import socket as _socket

    agent = agent_identifier or _socket.gethostname()

    def esc(v: str) -> str:
        return str(v).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")

    lines: list[str] = []

    def emit(name: str, value, metric_class: str, **labels):
        if value is None:
            return
        lbl = {"metric_class": metric_class, "agent_identifier": agent, **labels}
        body = ",".join(f'{k}="{esc(v)}"' for k, v in lbl.items())
        lines.append(f"minifi_{name}{{{body}}} {value}")

    for tm in transfer_metrics or []:
        vals = tm.values
        emit("flow_files_out", vals["transferred_flowfiles"], "FlowInformation", processor_name=tm.name)
        emit("bytes_out", vals["transferred_bytes"], "FlowInformation", processor_name=tm.name)

    if flow_log is not None:
        per_query: dict[str, dict] = {}
        for p in flow_log.progress:
            agg = per_query.setdefault(p["id"], {"rows": 0, "batches": 0, "ms": 0})
            agg["rows"] += p.get("numInputRows", 0)
            agg["batches"] += 1
            # triggerExecution is the umbrella timer containing
            # addBatch/getBatch/walCommit/... — summing every component
            # would double-count; fall back to the sum only when the
            # umbrella key is absent
            dur = p.get("durationMs") or {}
            agg["ms"] += dur.get("triggerExecution", sum(dur.values()))
        for qid, agg in per_query.items():
            emit("flow_files_in", agg["rows"], "QueueMetrics", connection_uuid=qid)
            emit("invocations", agg["batches"], "FlowInformation", processor_uuid=qid)
            emit("processing_nanos", agg["ms"] * 1_000_000, "FlowInformation", processor_uuid=qid)

    # DeviceInfoNode gauges via the ProcFsMonitor source (METRICS.md:174-181)
    try:
        from .sources.procfs import ProcFs

        mem = ProcFs(procfs_root).mem_info()
        total_kb, avail_kb = mem.get("MemTotal"), mem.get("MemAvailable")
        if total_kb is not None:
            emit("physical_mem", total_kb * 1024, "DeviceInfoNode")
            if avail_kb is not None:
                emit("memory_usage", (total_kb - avail_kb) * 1024, "DeviceInfoNode")
    except (OSError, KeyError):
        pass
    try:
        emit("cpu_load_average", round(os.getloadavg()[0], 4), "DeviceInfoNode")
    except OSError:
        pass

    return "\n".join(lines) + "\n"


def serve_prometheus(
    port: int,
    transfer_metrics: list[TransferMetrics] | None = None,
    flow_log: FlowMetricsLog | None = None,
    agent_identifier: str | None = None,
):
    """Start the scrape endpoint (PrometheusMetricsPublisher's port
    property): a stdlib HTTP server on a daemon thread serving the
    exposition at every path. Returns the server; ``.shutdown()`` stops
    it. SSL termination is left to a fronting proxy (the reference's
    cert options are out of scope for the engine)."""
    import http.server
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 - stdlib API name
            body = prometheus_exposition(
                transfer_metrics, flow_log, agent_identifier
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
