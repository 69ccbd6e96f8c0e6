"""Repo-wide physical-plan audit (r8): every registered query's
executed plan is checked for the two anti-patterns the engine bans —

- ``CartesianProduct``: an unbroadcast cross join is quadratic at any
  scale (broadcast nested-loop joins of one-row/bounded frames are
  allowed — that is how scalar subqueries and the documented
  ground-truth kNN plan).
- ``BatchEvalPython``: row-at-a-time Python UDF in the plan; every
  Python crossing must be Arrow-batched (ArrowEvalPython / MapInPandas
  / FlatMapGroupsInPandas are allowed).

Writes ``.plan_out/PLAN_AUDIT-<UTC stamp>.json`` ({query: {cartesian,
row_python, exchanges, python_nodes}}), prints its path, and exits
non-zero on any violation. A run never overwrites the committed
PLAN_AUDIT.json that the plan-quality tests read; to commit a new
audit, copy the stamped file over it. Queries whose
construction needs live fixtures (sockets, subprocesses) still build —
the audit only PLANS (no .collect()), so it stays cheap.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nifi_minifi_cpp_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    import __spark_entry__ as entry

    spark = get_spark("plan-audit", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    report: dict[str, dict] = {}
    violations: list[str] = []
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — record and continue
            report[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            violations.append(name)
            print(f"ERROR {name}: {type(exc).__name__}")
            continue
        cartesian = "CartesianProduct" in plan
        row_python = "BatchEvalPython" in plan
        report[name] = {
            "cartesian": cartesian,
            "row_python": row_python,
            "exchanges": plan.count("Exchange"),
            "python_nodes": plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas"),
        }
        if cartesian or row_python:
            violations.append(name)
            print(f"VIOLATION {name}: cartesian={cartesian} row_python={row_python}")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".plan_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"PLAN_AUDIT-{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}.json")
    with open(out, "w") as f:
        json.dump({"sf_dir": SF_DIR, "violations": violations, "queries": report}, f, indent=1)
    print(f"# audit: {out}")
    ok = len(report) - len(violations)
    print(f"\n{ok}/{len(report)} clean; violations: {violations or 'none'}")
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
