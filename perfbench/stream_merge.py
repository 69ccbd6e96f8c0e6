"""``stream_merge``: open-loop file stream into stateful MergeContent.

The generator (the benchmark's main thread, while Spark runs the stream
on its own threads) drops parquet files on a fixed schedule at ``RATE``
rows/s, each row carrying its *scheduled* creation time. The query chain

    streaming.sources.file_stream -> model.events_to_flowfiles
      -> operators.update_attribute -> streaming.stateful.merge_content_bin_packing_stream

feeds a ``foreachBatch`` sink that stamps each bundle's emission time.
Latency runs from the scheduled creation of a bundle's last event to its
emission. After the open-loop phase, a fixed backlog is dropped and
drained, several times, to measure capacity. This is the workload of the
micro-batch machinery, the Arrow/Python boundary of
``applyInPandasWithState`` and RocksDB state commits.
"""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from harness import median, percentile, python_metrics

RATE = 400  # rows/s offered in the open-loop phase, well below capacity
FILE_INTERVAL_S = 0.25
KEYS = 10  # correlation keys; event i goes to key i % KEYS
BIN_ENTRIES = 20  # a bundle flushes at this many entries
BACKLOG_ROWS = 9_000
BACKLOG_FILES = 4
DRAINS = 5
QUIESCE_TIMEOUT_S = 60


def _whole_bins(rows: int) -> int:
    """Round up to whole bins on every key, so no entry waits for ever."""
    unit = KEYS * BIN_ENTRIES
    return -(-rows // unit) * unit


class StreamMerge:
    name = "stream_merge"

    def __init__(self, tiny: bool):
        self.tiny = tiny

    def generate(self, seed: int, inputs_dir: Path) -> None:
        # rows are written while the stream runs; set-up only fixes the
        # directories and the seed
        self.seed = seed
        self.dir = inputs_dir
        self.landing = inputs_dir / "landing"
        self.staging = inputs_dir / "staging"
        for d in (self.landing, self.staging):
            d.mkdir(parents=True, exist_ok=True)

    # -- generator -----------------------------------------------------------

    def _stage(self, name: str, rows: int, sched_ms: float) -> str:
        """Write the next ``rows`` events to the staging directory."""
        first = self.generated
        table = inputs.events_table(self.seed * 1_000_003 + first, rows, None,
                                    first_id=first, sched_ms=sched_ms)
        keys = pa.array([i % KEYS for i in range(first, first + rows)], type=pa.int64())
        table = table.set_column(table.schema.get_field_index("user_id"), "user_id", keys)
        pq.write_table(table, self.staging / name)
        self.generated += rows
        return name

    def _land(self, *names: str) -> None:
        # rename is atomic: the source never lists a partial file
        for name in names:
            os.rename(self.staging / name, self.landing / name)

    def _open_loop(self, seconds: float) -> tuple[list[range], float]:
        """Drop a file every FILE_INTERVAL_S on a fixed schedule, whatever
        the stream is doing; returns (id range of each file, worst lateness
        of a drop in ms)."""
        per_file = int(RATE * FILE_INTERVAL_S)
        files = _whole_bins(int(seconds * RATE)) // per_file
        start = time.time() + FILE_INTERVAL_S
        lag_max, ranges = 0.0, []
        for k in range(files):
            due = start + k * FILE_INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            ranges.append(range(self.generated, self.generated + per_file))
            self._land(self._stage(f"open-{k:05d}.parquet", per_file, due * 1000))
            lag_max = max(lag_max, (time.time() - due) * 1000)
        return ranges, lag_max

    # -- measurement ---------------------------------------------------------

    def measure(self, ctx) -> dict:
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import from_arrow_schema

        from nifi_minifi_cpp_spark.model import attr, events_to_flowfiles
        from nifi_minifi_cpp_spark.operators import update_attribute
        from nifi_minifi_cpp_spark.streaming.sources import file_stream
        from nifi_minifi_cpp_spark.streaming.stateful import merge_content_bin_packing_stream

        spark, tracer = ctx.spark, ctx.tracer
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        self.generated = 0
        bundles: list[tuple[float, list[int], float]] = []  # (emit ms, ids, last sched ms)
        delivered: dict[int, int] = {}
        sink_ms: list[float] = []
        sink_errors: list[str] = []
        py_by_batch: dict[int, dict[str, float]] = {}
        started: list = []  # the running query, once start() has returned
        lock = threading.Lock()

        def sink(batch_df, batch_id):
            t0 = time.perf_counter()
            try:
                with tracer.span("sink.foreachBatch", trace=f"batch-{batch_id}"):
                    rows = batch_df.select("content").collect()
                    emit = time.time() * 1000
                    if ctx.trace and started:
                        # the micro-batch ran inside collect(); its plan, and
                        # so its Python-worker metrics, is the query's last
                        # execution until the next batch starts
                        plan = started[0]._jsq.streamingQuery().lastExecution().executedPlan()
                        py_by_batch[batch_id] = python_metrics(plan)
                    got = []
                    for r in rows:
                        events = [json.loads(line) for line in r.content.split("\n")]
                        got.append((emit, [int(e["id"]) for e in events],
                                    max(float(e["t"]) for e in events)))
                with lock:
                    bundles.extend(got)
                    for _, ids, _ in got:
                        for i in ids:
                            delivered[i] = delivered.get(i, 0) + 1
                    sink_ms.append((time.perf_counter() - t0) * 1000)
            except Exception as exc:  # reported as a failed batch, then re-raised
                sink_errors.append(f"batch {batch_id}: {type(exc).__name__}: {exc}")
                raise

        schema = from_arrow_schema(inputs.events_table(0, 1, None, sched_ms=0).schema)
        flows = update_attribute(
            events_to_flowfiles(file_stream(spark, str(self.landing), schema)),
            {"bin": f"${{user_id:mod({KEYS}):prepend('bin-')}}"},
        )
        merged = merge_content_bin_packing_stream(
            flows.select(attr("bin").alias("correlation"), F.col("content")),
            max_bin_age_ms=None,  # every bin fills, so no timeout sweeps are needed
            max_entries=BIN_ENTRIES,
        )
        query = (
            merged.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(self.dir / "checkpoint"))
            .start()
        )
        started.append(query)

        def emitted() -> int:
            with lock:
                return len(delivered)

        def wait_all() -> bool:
            end = time.time() + QUIESCE_TIMEOUT_S
            while time.time() < end and not sink_errors and query.exception() is None:
                if emitted() >= self.generated:
                    return True
                time.sleep(0.005)
            return False

        drains, traced_drains = [], []
        backlog = _whole_bins(400 if self.tiny else BACKLOG_ROWS)
        try:
            # warm the fresh JVM and the query (its Python workers and state
            # store) with one drop, timed as the warm-up
            t0 = time.perf_counter()
            with tracer.span("session.warmup", trace="warmup"):
                self._land(self._stage("warm.parquet", _whole_bins(400), time.time() * 1000))
                wait_all()
            warmup_s = time.perf_counter() - t0
            warm_bundles = len(bundles)
            first_progress = len(query.recentProgress)

            with tracer.span("open_loop", trace="open-loop"):
                ranges, lag_max = self._open_loop(2.0 if self.tiny else ctx.seconds)
                with lock:
                    pending_files = sum(1 for r in ranges if any(i not in delivered for i in r))
                wait_all()
            open_bundles = bundles[warm_bundles:]
            open_progress = [p for p in query.recentProgress[first_progress:] if p["numInputRows"] > 0]

            # capacity: drop a fixed backlog at once and time until every
            # row is emitted; a traced run alternates tracing off and on
            for d in range(DRAINS + (1 if ctx.trace else 0)):
                tracer.enabled = ctx.trace and d % 2 == 1
                names = [self._stage(f"backlog-{d}-{f}.parquet", backlog // BACKLOG_FILES, 0)
                         for f in range(BACKLOG_FILES)]
                t0 = time.time()
                with tracer.span("drain", trace=f"drain-{d}"):
                    self._land(*names)
                    ok = wait_all()
                if ok:
                    (traced_drains if tracer.enabled else drains).append(time.time() - t0)
                ctx.log(f"drain {d}: {time.time() - t0:.2f}s")
            tracer.enabled = ctx.trace
        finally:
            query.stop()

        wrong = sum(1 for i in range(self.generated) if delivered.get(i) != 1)
        wrong += sum(1 for i in delivered if not 0 <= i < self.generated)
        for e in sink_errors:
            ctx.log(e)
        if wrong:
            ctx.log(f"{wrong} events not delivered exactly once")

        latencies = [(emit - last) / 1000 for emit, _, last in open_bundles]
        if not drains or not latencies:
            raise RuntimeError("the stream stopped before the backlog drained")
        result = {
            "attempted": self.generated,
            "failed": wrong,
            "warmup_s": warmup_s,
            "wall_s": median(drains),
            "latency_p50_ms": median(latencies) * 1000,
            "latency_p95_ms": percentile(latencies, 95) * 1000,
            "layers": {},
        }
        if ctx.trace:
            layers = {
                "stream.batches": float(len(open_progress)),
                "stream.rows_per_batch": median(p["numInputRows"] for p in open_progress),
                "sink.write_ms": median(sink_ms),
                "source.backlog_files": float(pending_files),
                "generator.lag_max_ms": lag_max,
                "capacity_rows_per_s": backlog / median(drains),
                "trace.overhead_ratio": median(traced_drains) / median(drains) - 1,
            }
            for key, name in (("triggerExecution", "trigger"), ("addBatch", "addBatch"),
                              ("latestOffset", "latestOffset"), ("queryPlanning", "queryPlanning"),
                              ("walCommit", "walCommit"), ("commitOffsets", "commitOffsets")):
                layers[f"stream.{name}_ms"] = median(p["durationMs"].get(key, 0) for p in open_progress)
            state = [p["stateOperators"][0] for p in open_progress if p.get("stateOperators")]
            layers["state.rows_total"] = median(s["numRowsTotal"] for s in state)
            layers["state.memory_bytes"] = median(s["memoryUsedBytes"] for s in state)
            layers["state.commit_ms"] = median(s["commitTimeMs"] for s in state)
            # Python-boundary traffic per open-loop micro-batch
            py = [py_by_batch[p["batchId"]] for p in open_progress if p["batchId"] in py_by_batch]
            layers.update({f"execute.{k}": median(b[k] for b in py) for k in py[0]} if py else {})
            result["layers"] = layers
        return result
