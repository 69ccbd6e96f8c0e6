"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced with the noop writer — count() would let Catalyst
prune the computed columns and measure nothing.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nifi_minifi_cpp_spark.session import get_spark


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    import __spark_entry__ as entry

    spark = get_spark("bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup so the first query isn't charged session
    # startup (touches no benchmark data)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Arrow/Python-worker pool warmup: without this the first
    # mapInPandas query is charged ~2-4s of worker spawn across all
    # cores — a per-session cost, not that query's cost
    spark.range(cpus * 4).repartition(cpus).mapInPandas(lambda it: it, "id long").count()
    # Parquet-reader + codegen warmup on the smallest table (8 rows):
    # vectorized-reader class loading and whole-stage-codegen compiler
    # startup otherwise land on whichever query runs first (observed
    # as a one-off ~7s spike on the first complex expression)
    spark.read.parquet(f"{sf_dir}/region.parquet").selectExpr("md5(r_name)").collect()
    # Structured-streaming + Python-data-source machinery warmup: the
    # first streaming query's empty batch 0 pays memory-sink /
    # streaming-planner class loading plus the Python data-source
    # runner spawn (observed: 3.4s addBatch on an EMPTY batch in
    # listen_tcp_ingest). Run one batch of an idle tcplisten stream so
    # the socket-fixture queries measure ingest, not session startup.
    try:
        import socket as _socket

        from nifi_minifi_cpp_spark.sources.datasource import ListenTCPDataSource

        spark.dataSource.register(ListenTCPDataSource)
        _s = _socket.socket()
        _s.bind(("127.0.0.1", 0))
        _port = _s.getsockname()[1]
        _s.close()
        from pyspark.sql import functions as F

        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            # complete-mode agg so the STATEFUL machinery (state store
            # provider classes) warms too, not just the append path
            wq = (
                spark.readStream.format("tcplisten")
                .option("port", str(_port))
                .load()
                .groupBy("sender")
                .agg(F.count(F.lit(1)).alias("n"))
                .writeStream.format("memory")
                .queryName("bench_warmup_stream")
                .outputMode("complete")
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        _deadline = time.time() + 30
        while time.time() < _deadline and not wq.recentProgress:
            time.sleep(0.1)
        wq.stop()
    except Exception as exc:  # noqa: BLE001 — warmup must never fail the bench
        print(f"# stream warmup skipped: {type(exc).__name__}: {exc}", file=sys.stderr)

    # File-stream + watermark machinery warmup (r12): the tcplisten
    # warmup above covers the streaming planner and the stateful-agg
    # state store, but NOT the parquet file-stream source, watermark
    # tracking, or dropDuplicatesWithinWatermark. In the r11 bench the
    # first file-stream entry in the run order
    # (streaming_dedup_counts) absorbed that one-time init and was
    # flagged as a 3.3x regression on byte-identical code (solo A/B:
    # warm floor unchanged at ~2.4s vs the 2.39s prior —
    # BENCH_DRIFT_r12.md). Warm it with a 3-row availableNow stream so
    # whichever file-stream query runs first measures its own work.
    try:
        import shutil as _shutil
        import tempfile as _tempfile

        from pyspark.sql import functions as F

        _wdir = _tempfile.mkdtemp(prefix="bench-warm-fs-")
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00")], "id long, ts_s string"
        ).selectExpr("id", "CAST(ts_s AS timestamp) AS ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(_wdir)
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            fq = (
                spark.readStream.schema("id long, ts timestamp")
                .parquet(_wdir)
                .withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["id"])
                .groupBy("id")
                .agg(F.count(F.lit(1)).alias("n"))
                .writeStream.format("memory")
                .queryName("bench_warmup_filestream")
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            fq.awaitTermination(60)
        finally:
            try:
                fq.stop()  # awaitTermination(60) may time out: never rmtree under a live query
            except Exception:  # noqa: BLE001
                pass
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            _shutil.rmtree(_wdir, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001 — warmup must never fail the bench
        print(f"# file-stream warmup skipped: {type(exc).__name__}: {exc}", file=sys.stderr)

    # Python-Data-Source NONEMPTY-batch warmup (r14, VERDICT r13 #5):
    # the tcplisten warmup above never receives a row, so it warms the
    # streaming planner but NOT the data-source partition-read path —
    # the first Python data source that actually DELIVERS rows still
    # pays worker/serializer spawn (measured: mqtt_consume_counts solo
    # run1 13.1 s -> run2 3.0 s in one session; in-bench that cost
    # lands on whichever Data-Source entry runs first and reads as
    # drift — r12->r13 mqtt_consume_counts 3.44->5.23 s with zero code
    # change, BENCH_DRIFT_r14.md). One 2-message fake-transport stream
    # pre-pays it for everyone.
    try:
        import json as _json

        from nifi_minifi_cpp_spark.sources.datasource import ConsumeMQTTDataSource

        spark.dataSource.register(ConsumeMQTTDataSource)
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        wq = None
        try:
            wq = (
                spark.readStream.format("mqttlisten")
                .option("topic", "warm/#")
                .option("transport", "fake")
                .option("fake.messages", _json.dumps([("warm/a", "1"), ("warm/b", "2")]))
                .load()
                .groupBy("sender")
                .count()
                .writeStream.format("memory")
                .queryName("bench_warmup_pyds")
                .outputMode("complete")
                .start()
            )
            _deadline = time.time() + 60
            while time.time() < _deadline:
                if spark.sql("SELECT coalesce(sum(count), 0) FROM bench_warmup_pyds").first()[0] >= 2:
                    break
                time.sleep(0.2)
        finally:
            if wq is not None:
                wq.stop()
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    except Exception as exc:  # noqa: BLE001 — warmup must never fail the bench
        print(f"# python-datasource warmup skipped: {type(exc).__name__}: {exc}", file=sys.stderr)

    qs = entry.queries()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    raw_runs: dict[str, list[float]] = {}
    regressed: dict[str, dict] = {}
    total = 0.0

    # Per-query MEDIAN-of-N discipline (r15, VERDICT r14 #1): the rig
    # has a ±15% day band and single-shot timings additionally carry
    # positional inflation — accumulated JVM/GC pressure landing on
    # whoever runs after a heavy block (r6: retry_flow_file_exhaustion
    # clocked 6.0s in-sequence vs 1.0-1.7s isolated; r14: the committed
    # single-shot detail was the slowest of four same-code runs and
    # manufactured a false 1.23x headline that judge retimes disproved).
    # The N samples (default 3, $SPARK_GRAFT_BENCH_RUNS) are taken in
    # SEPARATE FULL SWEEPS of the query list, not back-to-back: the
    # r15 shakedown showed the rig's noise is a ROAMING multi-minute
    # load window (run 1 inflated the f-block 3-9x across all three
    # back-to-back samples, run 2 the h-block — solo retimes clean
    # both times), so back-to-back repeats all land inside the
    # disturbance while sweep-spaced samples (~10 min apart) put at
    # most ONE sample per query inside it and the median filters it.
    # The PUBLISHED number is the per-query median; the raw per-sweep
    # samples ship alongside in `runs` so any round-over-round
    # comparison can recompute its own statistic.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    # Prior round's per-query medians (if present) drive the
    # `regressed` flag: median > 2x prior-median at >=1s.
    prior: dict[str, float] = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")) as f:
            _p = json.load(f)
        # only a same-SF prior is comparable (an sf0.001 smoke run must
        # not flag "regressions" against the sf0.1 round artifact)
        if _p.get("sf") == sf:
            prior = _p.get("queries", {}) or {}
    except Exception:
        pass

    def run_once(fn) -> float:
        start = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - start, 3)

    def median(vals: list[float]) -> float:
        import statistics

        return round(statistics.median(vals), 3)

    # FIXED alphabetical order, independent of the grading rotation:
    # queries() order follows _GRADE_ORDER, which rotates per round, so
    # iterating it aliased whichever queries moved to the front with
    # residual warm-up cost and broke round-over-round comparisons
    # (r4->r5: q1 0.48s->2.31s purely from moving to position 0).
    # Local-iteration filter: SPARK_GRAFT_BENCH_ONLY=a,b,c times just
    # those queries (and skips writing the detail file, so a partial
    # sweep can never masquerade as the round artifact).
    only = {s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s}
    names = [n for n in sorted(qs) if not only or n in only]
    for sweep in range(n_runs):
        for name in names:
            if name in errors:
                continue
            fn = qs[name]
            # Fault-isolate each query: one regression must not destroy
            # the round's entire bench artifact (round 3 lost every
            # timing to a single AnalysisException). Sweep-2+ failures
            # are best-effort: a fixture that can't re-run in the same
            # session degrades the entry to fewer samples.
            try:
                elapsed = run_once(fn)
            except Exception as exc:  # noqa: BLE001 — record and continue
                if sweep == 0:
                    errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                    print(f"# {name}: FAILED {type(exc).__name__}", file=sys.stderr)
                else:
                    print(
                        f"# {name}: sweep-{sweep + 1} sample skipped "
                        f"{type(exc).__name__}",
                        file=sys.stderr,
                    )
                continue
            raw_runs.setdefault(name, []).append(elapsed)
        print(f"# --- sweep {sweep + 1}/{n_runs} complete ---", file=sys.stderr)

    for name, runs in raw_runs.items():
        elapsed = median(runs)
        if name in prior and elapsed >= 1.0 and elapsed > 2.0 * prior[name]:
            regressed[name] = {"prior": prior[name], "median": elapsed, "runs": runs}
        timings[name] = elapsed
        total += elapsed
        print(f"# {name}: {elapsed}s (median of {runs})", file=sys.stderr)

    detail = {
        "metric": "engine_queries_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "aggregation": f"per-query median of {n_runs} sweep-spaced samples",
        "queries": timings,
        "runs": raw_runs,
        "regressed": regressed,
        "errors": errors,
        "sf": sf,
    }
    # Per-query timings go to a file — a ~2KB stdout tail capture
    # truncates one long JSON line (BENCH_r01 "parsed": null). The LAST
    # stdout line is a minimal summary so any tail-capture parser wins.
    # Each run writes its own stamped file under the ignored .bench_out/,
    # so a run never overwrites the committed BENCH_DETAIL.json (the
    # `regressed` prior read above).
    if not only:
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
        detail_path = os.path.join(out_dir, f"BENCH_DETAIL-{stamp}.json")
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
        print(f"# detail: {detail_path}", file=sys.stderr)
    print(json.dumps(detail), file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "engine_queries_total_runtime",
                "value": round(total, 3),
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "n_failed": len(errors),
            }
        )
    )


if __name__ == "__main__":
    main()
