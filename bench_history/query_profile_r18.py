"""Per-query cost profile for the r18 optimization round: for every
registered query, measure (a) DataFrame BUILD time (the Python call —
includes any eager jobs: writes, streams, escalation stats), (b) the
count() ACTION time, and (c) the number of Spark jobs each phase
launched. Job counts and plan shapes are exact (host-noise-free) —
they locate per-query fixed overhead, which dominates at sf0.1 where
most inputs are KB-to-MB sized.

Also dumps .explain("formatted") per query to plans/r18/ as the
*_before.txt / *_after.txt evidence files (pass before|after).

Usage: python bench_history/query_profile_r18.py [before|after] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    from data_finder_comparator_spark.plans.catalog import (
        QUERIES,
        driver_names,
        release_caches,
    )
    from data_finder_comparator_spark.session import get_spark

    spark = get_spark(app_name=f"query-profile-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    tracker = spark.sparkContext.statusTracker

    plans_dir = os.path.join(REPO, "plans", "r18")
    os.makedirs(plans_dir, exist_ok=True)

    def n_jobs() -> int:
        return len(tracker().getJobIdsForGroup())

    # warmup to JIT the stack so the first profiled query isn't billed
    # for class loading
    names = [n for n in driver_names() if only is None or n in only]
    try:
        QUERIES[names[0]](spark, "/root/testdata/sf0.001").count()
        release_caches()
        spark.catalog.clearCache()
    except Exception:
        pass

    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        j0 = n_jobs()
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            j1 = n_jobs()
            plan = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan)
            t2 = time.perf_counter()
            df.count()
            t3 = time.perf_counter()
            j2 = n_jobs()
            out[name] = {
                "build_s": round(t1 - t0, 3),
                "plan_s": round(t2 - t1, 3),
                "action_s": round(t3 - t2, 3),
                "jobs_build": j1 - j0,
                "jobs_action": j2 - j1,
                "exchanges": plan.count("Exchange"),
                "aqe_reads": plan.count("AQEShuffleRead"),
                "python_evals": plan.count("EvalPython")
                + plan.count("MapInPandas")
                + plan.count("MapInArrow"),
            }
        except Exception as ex:  # noqa: BLE001 - record, keep sweeping
            out[name] = {"error": repr(ex)[:300]}
        finally:
            release_caches()
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"query_profile_r18_{tag}.json"
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    ok = {n: d for n, d in out.items() if "error" not in d}
    print(
        json.dumps(
            {
                "queries": len(out),
                "errors": [n for n, d in out.items() if "error" in d],
                "total_build_s": round(sum(d["build_s"] for d in ok.values()), 1),
                "total_action_s": round(sum(d["action_s"] for d in ok.values()), 1),
                "total_jobs": sum(
                    d["jobs_build"] + d["jobs_action"] for d in ok.values()
                ),
                "out": path,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
