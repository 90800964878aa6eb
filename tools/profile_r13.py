"""Round-12 optimization profiler: time named gates (cold + warm
medians through the bench's exact noop-sink methodology) and dump
``explain("formatted")`` to ``plans/r13/<gate>_<tag>.txt``.

Usage:
    python tools/profile_r13.py <tag> <gate> [gate ...]   # e.g. tag=before
    PROFILE_SF_DIR=/root/testdata/sf0.1  (default)
    PROFILE_WARM=3                       (default)

Prints one line per gate: ``<gate> cold=<s> warm=[..] median=<s>`` and
a final JSON dict. Plans are written only when a tag is given (use
``-`` to skip plan dumps).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ftm_lakehouse_spark.queries.inventory import query_map
from ftm_lakehouse_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("PROFILE_SF_DIR", "/root/testdata/sf0.1")
    n_warm = int(os.environ.get("PROFILE_WARM", "3"))
    spark = get_spark("profile-r13")
    qmap = query_map()

    # same warmup the bench uses
    qmap["q1_pricing_summary"](spark, sf_dir).collect()

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    out = {}
    plans_dir = os.path.join(REPO, "plans", "r13")
    os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"r13:{name}")
        if tag != "-":
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan)
        cold = run_once(fn)
        reps = sorted(run_once(fn) for _ in range(n_warm))
        med = reps[len(reps) // 2]
        out[name] = {"cold": cold, "warm": reps, "median": med}
        print(f"{name} cold={cold} warm={reps} median={med}", flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
