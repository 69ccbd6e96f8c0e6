"""``iterative_builders``: closed loop over registered batch entries.

One caller runs, in turn, four graph entry queries (each forced with the
noop writer) over the repository's reference test data at sf 0.01, and
the ``flow_etl`` YAML flow. The graph queries' wall time
is mostly the eager barrier and dial jobs their builders fire before
returning a DataFrame (the *build* layer), so this is the workload a
build-layer change should move. Two entries are controls that a
build-layer change should leave mostly alone: ``label_propagation_communities``
fires 5 build jobs and spends about half its time in *execute*, and the
flow has no build-time jobs
at all (its time is the ``plans`` compile and the eager ``PutFile`` writes).
"""

from __future__ import annotations

import hashlib
import importlib.util
import pickle
import time
from contextlib import nullcontext
from pathlib import Path

import duckdb

from flow_etl import FlowEntry
from harness import OUT_DIR, ROOT, median, percentile

QUERIES = (
    "hits_hub_authority",
    "bfs_hop_histogram",
    "kcore_supplier_parts",
    "label_propagation_communities",
)
FLOW = "flow_etl"
TABLES = ("orders", "lineitem")
#: verbatim copies of ``orders`` and ``lineitem`` of the repository's
#: reference test data at sf 0.01 (TPC-H-shaped, generated with seed 42),
#: shipped here because a run reads only inside its checkout. The data is
#: fixed: ``--seed`` changes only the flow's events.
DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"
_EXEC_KEYS = ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "input_bytes", "output_bytes")


def _canon():
    """The order-insensitive, type-tagged row canonicalisation of the
    repository's correctness checker."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_correctness", ROOT / "tools" / "check_correctness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


class IterativeBuilders:
    name = "iterative_builders"

    def __init__(self, tiny: bool):
        self.dir = DATA_DIR
        self.flow = FlowEntry(tiny)

    def generate(self, seed: int, inputs_dir: Path) -> None:
        self.flow.generate(seed, inputs_dir)

    def _oracle(self) -> dict[str, tuple]:
        """Each query's canonical DuckDB answer. It depends only on the
        data and the oracle SQL, so it is cached under ``.perfbench_out/``
        keyed by both."""
        from nifi_minifi_cpp_spark import entry_queries

        sql = {q: entry_queries.oracle_sql()[q] for q in QUERIES}
        key = hashlib.sha256(repr(sorted(sql.items())).encode())
        for t in TABLES:
            key.update((self.dir / f"{t}.parquet").read_bytes())
        cache = OUT_DIR / f"oracle-{key.hexdigest()[:16]}.pickle"
        if cache.is_file():
            return pickle.loads(cache.read_bytes())
        canon = _canon()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir / t}.parquet'")
            expected = {q: canon(con.sql(sql[q]).df()) for q in QUERIES}
        finally:
            con.close()
        OUT_DIR.mkdir(parents=True, exist_ok=True)
        cache.write_bytes(pickle.dumps(expected))
        return expected

    def measure(self, ctx) -> dict:
        from nifi_minifi_cpp_spark import entry_queries

        fns = entry_queries.queries()
        sf_dir = str(self.dir)
        attempted = failed = 0

        # checked pass: every query's full result against its DuckDB oracle
        # and the flow's output against DuckDB. It is also the warm-up of the
        # fresh JVM for the timed passes, timed as such.
        canon, expected = _canon(), self._oracle()
        def check_flow() -> bool:
            self.flow.run(ctx.spark)
            return self.flow.check()

        checks = {q: (lambda q=q: canon(fns[q](ctx.spark, sf_dir).toPandas()) == expected[q])
                  for q in QUERIES}
        checks[FLOW] = check_flow
        t0 = time.perf_counter()
        with ctx.tracer.span("session.warmup", "warmup"):
            for entry, check in checks.items():
                attempted += 1
                try:
                    ok = check()
                except Exception as exc:  # counted as a failed operation
                    ctx.log(f"{entry}: {type(exc).__name__}: {exc}")
                    ok = False
                else:
                    if not ok:
                        ctx.log(f"{entry}: output differs from DuckDB's")
                failed += not ok
        warmup_s = time.perf_counter() - t0

        plain, latencies, layer_passes, traced_walls = [], [], [], []
        deadline = time.perf_counter() + ctx.seconds
        n = 0
        # closed loop: whole passes until the time is up, at least two so
        # the medians have more than one sample. A traced run alternates
        # untraced and traced passes and needs at least untraced, traced,
        # untraced, so warm-up drift cancels out of the tracing overhead.
        while n < (3 if ctx.trace else 2) or time.perf_counter() < deadline:
            traced = ctx.trace and n % 2 == 1
            t0 = time.perf_counter()
            rec = self._pass(ctx, fns, sf_dir, n, traced, [] if traced else latencies)
            wall = time.perf_counter() - t0
            if rec[FLOW].get("ok") and not self.flow.check():
                rec[FLOW].update(ok=False, error="output differs from DuckDB's")
            attempted += len(rec)
            for e, r in rec.items():
                if not r.get("ok"):
                    failed += 1
                    ctx.log(f"pass {n}: {e}: {r.get('error')}")
            ctx.log(f"pass {n}{' (traced)' if traced else ''}: {wall:.2f}s")
            if traced:
                traced_walls.append(wall)
                layer_passes.append(self._layers(rec, ctx.ledger))
            else:
                plain.append(wall)
            n += 1

        result = {
            "attempted": attempted,
            "failed": failed,
            "warmup_s": warmup_s,
            "wall_s": median(plain),
            "latency_p50_ms": median(latencies) * 1000,
            "latency_p95_ms": percentile(latencies, 95) * 1000,
            "layers": {},
        }
        if ctx.trace:
            layers = {k: median(p[k] for p in layer_passes) for k in layer_passes[0]}
            layers["trace.overhead_ratio"] = median(traced_walls) / median(plain) - 1
            result["layers"] = layers
        return result

    def _pass(self, ctx, fns, sf_dir, n, traced, latencies) -> dict[str, dict]:
        """One pass over the entries; returns a record per entry."""
        tracer = ctx.tracer if traced else None
        ledger = ctx.ledger if traced else None

        def span(name, trace=None):
            return tracer.span(name, trace) if tracer else nullcontext()

        def group(label):
            return ledger.group(label) if ledger else nullcontext()

        rec: dict[str, dict] = {}
        with span("pass", f"pass-{n}"):
            for q in QUERIES:
                r = rec[q] = {}
                try:
                    with span(f"query:{q}"):
                        t0 = time.perf_counter()
                        with span("build"), group("build") as r["build_group"]:
                            df = fns[q](ctx.spark, sf_dir)
                        t1 = time.perf_counter()
                        if traced:
                            with span("catalyst"):
                                r["catalyst"] = _catalyst_ms(df)
                        t2 = time.perf_counter()
                        with span("execute"), group("execute") as r["execute_group"]:
                            df.write.format("noop").mode("overwrite").save()
                        t3 = time.perf_counter()
                except Exception as exc:  # counted by the caller as a failed operation
                    r["error"] = f"{type(exc).__name__}: {exc}"
                    continue
                r.update(ok=True, build_s=t1 - t0, execute_s=t3 - t2)
                latencies.append(t1 - t0 + t3 - t2)

            r = rec[FLOW] = {}
            try:
                with span(f"query:{FLOW}"), span("plans.compile_flow"), group("flow") as r["group"]:
                    t0 = time.perf_counter()
                    self.flow.run(ctx.spark)
                    r["compile_s"] = time.perf_counter() - t0
            except Exception as exc:  # counted by the caller as a failed operation
                r["error"] = f"{type(exc).__name__}: {exc}"
                return rec
            latencies.append(r["compile_s"])
            r["ok"] = True
        return rec

    def _layers(self, rec, ledger) -> dict[str, float]:
        out: dict[str, float] = {}
        build_jobs, exec_jobs = [], []
        for q in QUERIES:
            r = rec[q]
            jobs = ledger.job_ids(r["build_group"]) if r.get("ok") else []
            build_jobs += jobs
            exec_jobs += ledger.job_ids(r["execute_group"]) if r.get("ok") else []
            out[f"build.s.{q}"] = r.get("build_s", 0.0)
            out[f"build.jobs.{q}"] = float(len(jobs))
            out[f"execute.s.{q}"] = r.get("execute_s", 0.0)
            for phase in ("analysis", "optimization", "planning"):
                out[f"catalyst.{phase}_ms"] = (out.get(f"catalyst.{phase}_ms", 0.0)
                                               + r.get("catalyst", {}).get(phase, 0.0))
        b = ledger.job_stats(build_jobs)
        out["build.s"] = sum(rec[q].get("build_s", 0.0) for q in QUERIES)
        out["build.jobs"] = b["jobs"]
        out["build.exec_s"] = b["job_s"]
        out["build.driver_s"] = out["build.s"] - b["job_s"]

        # the flow's PutFile writes run eagerly inside compile_flow: they are
        # the plans layer's jobs and also the flow's execute work
        flow = rec[FLOW]
        flow_jobs = ledger.job_ids(flow["group"]) if "compile_s" in flow else []
        f = ledger.job_stats(flow_jobs)
        out["plans.compile_s"] = flow.get("compile_s", 0.0)
        out["plans.jobs"] = f["jobs"]
        out["plans.driver_s"] = out["plans.compile_s"] - f["job_s"]
        out["flowfiles_per_s"] = self.flow.rows / flow["compile_s"] if "compile_s" in flow else 0.0

        e = ledger.job_stats(exec_jobs + flow_jobs)
        out["execute.s"] = sum(rec[q].get("execute_s", 0.0) for q in QUERIES) + f["job_s"]
        out.update({f"execute.{k}": e[k] for k in _EXEC_KEYS})
        return out


def _catalyst_ms(df) -> dict[str, float]:
    """Force the physical plan, then read the QueryExecution's phase
    tracker. A noop save builds its own QueryExecution, so without this the
    frame's tracker holds only ``analysis``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        p: float(phases.apply(p).durationMs())
        for p in ("analysis", "optimization", "planning")
        if phases.contains(p)
    }
