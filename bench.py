#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count() action — full plan runs,
nothing collected to the driver). A warmup pass on the smallest SF
primes the JVM so measured numbers are steady-state.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_finder_comparator_spark.plans.catalog import (  # noqa: E402
    QUERIES,
    driver_names,
)
from data_finder_comparator_spark.session import get_spark  # noqa: E402

# The bench times exactly the queries the driver runs.
HEADLINE = driver_names()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    spark = get_spark(app_name="bench")
    names = list(HEADLINE)

    # Warmup: run the first query once on the smoke SF to JIT the stack.
    try:
        QUERIES[names[0]](spark, "/root/testdata/sf0.001").count()
    except Exception:
        pass

    # Steady-state timing: best of three warm runs per query — the host
    # is shared, and single-shot timings swing 2-4x on interference
    # (measured: identical code, back-to-back full-suite runs 50.9s vs
    # 65.1s); min of three is the steady-state estimator and stays
    # honest (every run executes the full plan; nothing is cached
    # between runs).
    #
    # r18 measurement fix (documented in OPTIMIZATION_r18.md): the three
    # runs are three INTERLEAVED PASSES over the whole query list, not
    # three back-to-back runs per query. Host interference on this box
    # arrives in multi-minute windows (measured: the same row read
    # 73.0 s min-of-3 consecutive in one full run and 1.9 s in the
    # next; two same-code runs spiked DIFFERENT registry neighborhoods
    # by 3-40x), so three consecutive runs all land inside one window
    # and the min cannot filter it — and the first few queries of a run
    # additionally pay JVM JIT warmup. Interleaving decorrelates both:
    # each query's three timings come from three separate points in the
    # session, and passes 2-3 are fully warm. The timed action, the
    # number of executions per query (3), and the cache isolation
    # (clearCache after every run — nothing carries between runs) are
    # unchanged.
    # r19 harness hardening (documented in OPTIMIZATION_r19.md): the
    # sandbox's page-cache-pressure regime can kill a FRESH Python
    # worker fork past the JVM's hardcoded 10 s connect-back accept —
    # "Python worker failed to connect back" — which aborts the whole
    # bench with rc=1 on an environmental strike (it crashed an 8-core
    # full run this round at pass 3 of 3). A run that dies with exactly
    # that signature is retried once and the RETRY's full execution is
    # what gets timed (it computes everything from parquet — nothing is
    # cached across the attempts, clearCache below still runs every
    # attempt). Any other exception aborts as before.
    timings: dict[str, float] = {}
    for _pass in range(3):
        for name in names:
            for attempt in (0, 1):
                t0 = time.perf_counter()
                try:
                    QUERIES[name](spark, sf_dir).count()
                except Exception as e:
                    spark.catalog.clearCache()
                    if attempt == 0 and "Python worker failed to connect back" in str(e):
                        print(
                            f"[bench] worker-spawn timeout killed {name} "
                            f"(pass {_pass}); retrying once",
                            file=sys.stderr,
                        )
                        continue
                    raise
                dt = time.perf_counter() - t0
                break
            prev = timings.get(name)
            timings[name] = dt if prev is None else min(prev, dt)
            # operators persist() intermediates consumed twice within one
            # query; drop them so runs are independent and no query is
            # billed for a predecessor's cached state
            spark.catalog.clearCache()
    timings = {name: round(t, 3) for name, t in timings.items()}

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    print(json.dumps(payload))
    _archive(payload)
    # The driver captures only a 2000-char TAIL of stdout; with 99
    # queries the full contract line is ~3.5 KB, so its head (the
    # metric/value fields) gets cut and the driver records
    # parsed:null (observed in BENCH_r08/BENCH_r09). Emit a LAST line
    # that always fits: same contract shape, slowest queries inline
    # while they fit, the rest in the self-archive the line points to.
    print(json.dumps(_compact_payload(payload), separators=(",", ":")))
    spark.stop()


def _compact_payload(payload: dict, budget: int = 1800) -> dict:
    timings = payload["queries"]
    out = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        "n_queries": len(timings),
        "queries_full": "bench_history/ (self-archived per-query timings)",
        "queries": {},
    }
    for name in sorted(timings, key=lambda n: -timings[n]):
        out["queries"][name] = timings[name]
        if len(json.dumps(out, separators=(",", ":"))) > budget:
            del out["queries"][name]
            break
    return out


def _archive(payload: dict, here: str | None = None) -> None:
    """Self-archive the per-query dict to bench_history/r{N}.json —
    the driver's BENCH_r{N}.json capture has truncated the stdout JSON
    line before (r4 recorded only trailing log noise), which made
    round-over-round per-query regression diffs unrecoverable. The
    round number comes from $SPARK_GRAFT_ROUND when set, else one past
    the newest BENCH_r*.json the driver has recorded here. ``here``
    overrides the repo root (tests)."""
    import re

    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is None:
        seen = [
            int(m.group(1))
            for f in os.listdir(here)
            if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        rnd = str(max(seen, default=0) + 1)
    hist = os.path.join(here, "bench_history")
    os.makedirs(hist, exist_ok=True)
    # non-default scale factors archive under a suffixed name so a
    # cross-SF sweep can't clobber the round's headline sf0.1 archive
    sf = payload.get("sf")
    suffix = "" if sf in (None, 0.1) else f"_sf{sf}"
    with open(os.path.join(hist, f"r{int(rnd)}{suffix}.json"), "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
