"""Dump ``explain("formatted")`` of named gates to plans/r13/<gate>_<tag>.txt
without running them (plan-only — no jobs beyond what query CONSTRUCTION
itself triggers, e.g. approxQuantile-based gates are skipped here).

Usage: python tools/dump_gate_plan.py <tag> <gate> [gate ...]
       PROFILE_SF_DIR=/root/testdata/sf0.1 (default)
       PLANS_OUT=<repo>/plans/r13          (default)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ftm_lakehouse_spark.queries.inventory import query_map
from ftm_lakehouse_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("PROFILE_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get("PLANS_OUT", os.path.join(REPO, "plans", "r13"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-gate-plan")
    qmap = query_map()
    for name in names:
        df = qmap[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
