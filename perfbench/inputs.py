"""Seeded generator of ``events`` rows, the input of the flow and of the
stream. The same seed gives the same rows."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["error", "purchase", "signup", "view", "click"])
HOSTS = np.array([f"h{i:02d}" for i in range(16)])
MESSAGES = np.array(
    ["disk full", "request served", "cache miss", "timeout upstream", "user login", "queue drained"]
)
STATUSES = np.array(["200", "201", "302", "404", "500", "503"])


def events_table(seed: int, n: int, path: Path, first_id: int = 0, sched_ms=None) -> pa.Table:
    """``n`` rows of the engine's ``events`` schema. ``props`` is a JSON
    object of string attributes (host, msg, status, plus the scheduled
    creation time ``t`` when ``sched_ms`` is given) and becomes the
    FlowFile's attribute map and content."""
    rng = np.random.default_rng(seed)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    host = HOSTS[rng.integers(0, len(HOSTS), size=n)]
    msg = MESSAGES[rng.integers(0, len(MESSAGES), size=n)]
    status = STATUSES[rng.integers(0, len(STATUSES), size=n)]
    value = np.round(rng.uniform(0, 1000, size=n), 2)
    if sched_ms is None:
        props = [
            json.dumps({"host": h, "msg": m, "status": s})
            for h, m, s in zip(host.tolist(), msg.tolist(), status.tolist())
        ]
    else:
        props = [
            json.dumps({"host": h, "msg": m, "status": s, "id": str(i), "t": str(int(sched_ms))})
            for h, m, s, i in zip(host.tolist(), msg.tolist(), status.tolist(), ids.tolist())
        ]
    ts = (1_704_067_200_000_000 + ids * 1_000_000).astype("datetime64[us]")
    table = pa.table(
        {
            "event_id": ids,
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, 500, size=n, dtype=np.int64),
            "event_type": etype,
            "value": value,
            "props": props,
        }
    )
    if path is not None:
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, path)
    return table
