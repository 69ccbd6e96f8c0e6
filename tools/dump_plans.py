"""Dump ``explain("formatted")`` for a set of registered queries to
``plans/$SPARK_GRAFT_PLAN_DIR/<query>_<tag>.txt``, the before/after plan
artifacts that back a plan claim. With ``SPARK_GRAFT_PLAN_DIR`` unset
the files go to the ignored ``.plan_out/plans/`` (before and after
side by side), so a run never overwrites a committed plan directory.

Usage: python tools/dump_plans.py <tag> <query1,query2,...> [sf_dir]
       python tools/dump_plans.py before all   # every registered query
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nifi_minifi_cpp_spark.session import get_spark


def main() -> None:
    import __spark_entry__ as entry

    tag = sys.argv[1]
    names_arg = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
    qs = entry.queries()
    names = sorted(qs) if names_arg == "all" else [n for n in names_arg.split(",") if n]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plan_dir = os.environ.get("SPARK_GRAFT_PLAN_DIR")
    out_dir = os.path.join(root, "plans", plan_dir) if plan_dir else os.path.join(root, ".plan_out", "plans")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, sf_dir)
            formatted = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — fixture queries may need live sockets
            formatted = f"ERROR {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(formatted)
        print(f"wrote {name}_{tag}.txt")


if __name__ == "__main__":
    main()
