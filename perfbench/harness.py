"""Measurement harness shared by the benchmark workloads.

Everything here observes the engine from outside: the benchmark times and
tags its own calls into the package's public functions, reads Spark's
status stores after the timed region, and samples process memory from
``/proc``. Nothing in the package is patched.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: scratch space of one run; removed when the run ends
WORK_BASE = ROOT / ".perfbench_work"
#: the only place a run leaves files behind (span dumps)
OUT_DIR = ROOT / ".perfbench_out"


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return float(ordered[int(rank) - 1])


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id) recorded around
    the benchmark's calls into each layer. Disabled tracers record nothing,
    so untraced runs pay only a context-manager entry per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent or {}).get("trace"),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        doc = {"spans": self.spans, "self_s": self.self_times()}
        path.write_text(json.dumps(doc, indent=1))


# ---------------------------------------------------------------------------
# Spark status-store ledger
# ---------------------------------------------------------------------------

#: display names of the Python-worker SQL metrics of a physical plan node
_PY_METRICS = {
    "data returned from Python workers": "python_returned_bytes",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
}


def python_metrics(plan) -> dict[str, float]:
    """Python-worker SQL metrics summed over the nodes of an executed
    physical plan (a JVM ``SparkPlan``), read from the plan's own metric
    accumulators, so they must be read while the plan is alive."""
    out = dict.fromkeys(_PY_METRICS.values(), 0.0)
    todo = [plan]
    while todo:
        node = todo.pop()
        metrics = node.metrics().values().iterator()
        while metrics.hasNext():
            m = metrics.next()
            key = _PY_METRICS.get(m.name().get()) if m.name().isDefined() else None
            if key is not None:
                scale = 1e-6 if m.metricType() == "nsTiming" else 1.0  # ns -> ms
                out[key] += float(m.value()) * scale
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


class Ledger:
    """Job and stage accounting read from Spark's status store. Work is
    attributed by job group (``sc.setJobGroup``) of the calls made on the
    benchmark's thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._seq = 0

    @contextmanager
    def group(self, label: str):
        self._seq += 1
        gid = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, gid: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(gid))

    def job_stats(self, job_ids) -> dict[str, float]:
        """Jobs, busy time (union of job intervals), stages, tasks, task
        CPU and bytes moved by the given jobs."""
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("jobs", "job_s", "stages", "tasks", "task_cpu_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "input_bytes", "output_bytes"),
            0.0,
        )
        intervals, seen = [], set()
        for jid in job_ids:
            job = store.job(int(jid))
            out["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime(), end.get().getTime()))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
        busy_ms, last_end = 0, None
        for start, end in sorted(intervals):
            if last_end is not None and start < last_end:
                start = last_end
            if end > start:
                busy_ms += end - start
            last_end = end if last_end is None else max(last_end, end)
        out["job_s"] = busy_ms / 1000.0
        return out


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _running(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each shared page split
    among the processes mapping it, so forked Python workers are not
    counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak summed PSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _pss_kb(me) + sum(_pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# session lifetime and scratch space
# ---------------------------------------------------------------------------


class WorkDir:
    """Per-run scratch directory inside the checkout. Temp files of the
    interpreter, the JVM and Spark's block manager all land here, and the
    whole tree is removed on exit."""

    def __init__(self):
        self.path = WORK_BASE / f"run-{os.getpid()}"

    def __enter__(self) -> Path:
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse"):
            (self.path / sub).mkdir(parents=True)
        return self.path

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            WORK_BASE.rmdir()
        except OSError:
            pass


def prepare_environment(work: Path) -> None:
    """Point every temp-file writer at ``work`` and make the package
    importable by Python workers, before the JVM is launched."""
    import tempfile

    tmp = str(work / "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )


def start_session(cores: int):
    from nifi_minifi_cpp_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process
    this run started (the JVM and its Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone; waiting below still applies
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass
