"""Solo A/B harness for the streaming_dedup_counts regression
(VERDICT r11 #1: r10 bench 2.39s -> r11 bench 7.29s settled, on
byte-identical code — the entry, _stream_events_stage, session.py and
util.py all diff clean between 8541f82c and HEAD).

Times the entry K times in ONE fresh session (first reading = cold
machinery, later readings = warm floor) and prints per-run wall time
plus the stream's own micro-batch telemetry (numBatches, per-batch
durationMs) so a time delta can be attributed to batch COUNT vs
batch COST. Run it from any checkout:

    python tools/ab_streaming_dedup.py [sf_dir] [repeats]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nifi_minifi_cpp_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPEATS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def main() -> None:
    from nifi_minifi_cpp_spark import entry_queries as eq

    spark = get_spark("ab-streaming-dedup", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    fn = eq.queries()["streaming_dedup_counts"]
    for i in range(REPEATS):
        # capture the stream's progress via the listener-free route:
        # the entry stops its query, so hook recentProgress through a
        # monkeypatched awaitTermination is overkill — instead re-run
        # and read active query progress is impossible post-stop.
        # Wall time + row count is the headline; batch telemetry comes
        # from the side-channel run below.
        t0 = time.perf_counter()
        rows = fn(spark, SF_DIR).collect()
        dt = time.perf_counter() - t0
        print(json.dumps({"run": i, "sec": round(dt, 3), "rows": len(rows)}))

    # side-channel: same plan, instrumented, to count micro-batches
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.entry_queries._shared import (
        _pinned_shuffle,
        _stream_events_stage,
    )

    stage = _stream_events_stage(spark, SF_DIR)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def leg():
        raw = spark.readStream.schema(schema).parquet(stage)
        return raw.select("event_id", "event_type", F.col("ts").alias("ts_ts"))

    doubled = leg().unionAll(leg())
    deduped = doubled.withWatermark("ts_ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    view = f"ab_dedup_{uuid.uuid4().hex[:8]}"
    with _pinned_shuffle(spark, 4):
        q = (
            agg.writeStream.format("memory")
            .queryName(view)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
    try:
        q.awaitTermination(120)
        prog = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
        shutil.rmtree(stage, ignore_errors=True)
    print(
        json.dumps(
            {
                "num_batches": len(prog),
                "batches": [
                    {
                        "rows": p.get("numInputRows"),
                        "durationMs": p.get("durationMs"),
                        "stateOperators": [
                            {
                                k: so.get(k)
                                for k in (
                                    "operatorName",
                                    "numRowsTotal",
                                    "commitTimeMs",
                                    "numStateStoreInstances",
                                )
                            }
                            for so in p.get("stateOperators", [])
                        ],
                    }
                    for p in prog
                ],
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
