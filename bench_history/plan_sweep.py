"""Sweep every registered query's executed plan for scale
anti-patterns (CartesianProduct / BroadcastNestedLoopJoin /
BatchEvalPython / SinglePartition exchanges) at sf0.01 and write the
per-query counts to bench_history/plan_sweep_r{N}.json.

The r8 sweep established the baseline: zero CartesianProduct anywhere,
BNLJ only for one-row scalar broadcasts and the flagship's deliberate
broadcast strategy, one BatchEvalPython (the Python-UDTF showcase).
Re-run each round to keep the invariant pinned.

Usage: python bench_history/plan_sweep.py [round]
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NODES = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
    "SinglePartition",
)


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "9"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from data_finder_comparator_spark.plans.catalog import (
        QUERIES,
        release_caches,
    )
    from data_finder_comparator_spark.session import get_spark

    spark = get_spark(app_name="plan-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            hits = {n: plan.count(n) for n in NODES if plan.count(n)}
            out[name] = hits
        except Exception:
            out[name] = {"error": traceback.format_exc(limit=1).splitlines()[-1]}
        finally:
            release_caches()
            spark.catalog.clearCache()
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"plan_sweep_r{rnd}.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    cart = [n for n, h in out.items() if h.get("CartesianProduct")]
    errs = [n for n, h in out.items() if "error" in h]
    print(
        json.dumps(
            {
                "queries": len(out),
                "cartesian": cart,
                "errors": errs,
                "bnlj_queries": sum(
                    1 for h in out.values() if h.get("BroadcastNestedLoopJoin")
                ),
                "batch_eval_python": sum(
                    1 for h in out.values() if h.get("BatchEvalPython")
                ),
                "out": path,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
