"""The traced run: one op composed from the package's public calls into
spans (see ``Workload.traced_op``), with Spark's own counters read
around each span, reduced to the per-layer metrics of BENCHMARK.json.

The traced op runs after the untraced timed ops of the same process,
so ``trace.overhead_ms`` is the traced op's wall time minus the median
untraced op. The full span list is written to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from . import oracle
from .layers import SparkCounters, Tracer, stream_progress_listener
from .workloads import dir_bytes


def _sum(spans, layers, key):
    return sum(s["counters"][key] for s in spans if s["layer"] in layers)


def _ms(spans, layers):
    return sum((s["end"] - s["start"]) * 1000 for s in spans if s["layer"] in layers)


def _tier_stats(tiers_frames):
    """(tier rows, poor-only probes, probes, replace decisions), read
    from the traced op's cached tier frames after its spans closed."""
    from pyspark.sql import functions as F

    from data_finder_comparator_spark.operators.curation import curation_decisions

    rows = poor_only = probes = replaced = 0
    for tiers in tiers_frames:
        per_probe = tiers.groupBy("probe_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("tier") != "poor", 1).otherwise(0)).alias("matched"),
        )
        n, p, po = per_probe.agg(
            F.sum("n"), F.count(F.lit(1)), F.sum(1 - F.col("matched"))
        ).first()
        rows, probes, poor_only = rows + (n or 0), probes + p, poor_only + (po or 0)
        replaced += curation_decisions(tiers).filter(F.col("action") == "replace").count()
    return rows, poor_only, probes, replaced


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def traced_run(spark, wl, cpus, session_start_s, first_job_s, untraced_op_ms, input_hash):
    """Run one traced op of ``wl``; returns (metrics, sink digest, batch).
    The span dump also records the content hash of every input file."""
    counters = SparkCounters(spark)
    T = Tracer(counters)
    listener, progress = stream_progress_listener(spark)
    wl.reset(spark)
    batch = wl.current_batch()
    in_bytes = wl.batch_bytes()
    t = time.perf_counter()
    with T.span("op", "op") as root:
        tiers_frames = wl.traced_op(spark, T)
        traced_op_ms = (time.perf_counter() - t) * 1000
        with T.span("readback", "sink.readback"):
            wl.readback(spark)
    spark.streams.removeListener(listener)
    rows = oracle.read_rows(wl.sink)
    written = dir_bytes(wl.sink)
    files = sum(1 for f in os.listdir(wl.sink) if not f.startswith(("_", ".")))
    tier_rows, poor_only, probes, replaced = _tier_stats(tiers_frames)

    spans = T.dump()
    eng = root["counters"]
    fj = ("fuzzy_join.build", "fuzzy_join.action")
    n_batches = sum(1 for s in spans if s["layer"] == "stream.batch")
    stream_jobs = sum(s["counters"]["jobs"] for s in spans if s["layer"] == "stream")
    visited = _sum(spans, fj, "nl_pairs_in")
    values = {
        "session.start_s": (session_start_s, "s"),
        "session.first_job_s": (first_job_s, "s"),
        "sources.files": (_sum(spans, ("sources",), "scan_files"), "count"),
        "sources.rows": (_sum(spans, ("sources",), "scan_rows"), "count"),
        "sources.scan_ms": (_ms(spans, ("sources",)), "ms"),
        "sources.jobs": (_sum(spans, ("sources",), "jobs"), "count"),
        "fuzzy_join.build_ms": (_ms(spans, ("fuzzy_join.build",)), "ms"),
        "fuzzy_join.build_jobs": (_sum(spans, ("fuzzy_join.build",), "jobs"), "count"),
        "fuzzy_join.action_ms": (_ms(spans, ("fuzzy_join.action",)), "ms"),
        "fuzzy_join.action_jobs": (_sum(spans, ("fuzzy_join.action",), "jobs"), "count"),
        "fuzzy_join.exchanges": (_sum(spans, fj, "exchanges"), "count"),
        "fuzzy_join.nl_joins": (_sum(spans, fj, "nl_joins"), "count"),
        "fuzzy_join.shuffle_bytes": (_sum(spans, fj, "shuffle_write_bytes"), "bytes"),
        "fuzzy_join.tier_rows": (tier_rows, "count"),
        "fuzzy_join.fallback_share": (poor_only / probes if probes else 0.0, "ratio"),
        "fuzzy_join.pair_yield": (
            _sum(spans, fj, "nl_pairs_out") / visited if visited else 0.0, "ratio"),
        "curation.ms": (_ms(spans, ("curation",)), "ms"),
        "curation.jobs": (_sum(spans, ("curation",), "jobs"), "count"),
        "curation.replace_share": (replaced / probes if probes else 0.0, "ratio"),
        "sink.write_ms": (_ms(spans, ("sink.write",)), "ms"),
        "sink.bytes_written": (written, "bytes"),
        "sink.write_amp": (written / in_bytes, "ratio"),
        "sink.files": (files, "count"),
        "sink.readback_jobs": (_sum(spans, ("sink.readback",), "jobs"), "count"),
        "stream.batches": (n_batches, "count"),
        "stream.batch_ms_p50": (_p50([p.get("triggerExecution", 0) for p in progress]), "ms"),
        "stream.add_batch_ms_p50": (_p50([p.get("addBatch", 0) for p in progress]), "ms"),
        "stream.overhead_ms_p50": (
            _p50([p.get("triggerExecution", 0) - p.get("addBatch", 0) for p in progress]), "ms"),
        "stream.jobs_per_batch": (stream_jobs / n_batches if n_batches else 0.0, "count"),
        "spark.jobs": (eng["jobs"], "count"),
        "spark.stages": (eng["stages"], "count"),
        "spark.tasks": (eng["tasks"], "count"),
        "spark.shuffle_write_bytes": (eng["shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": (eng["spill_bytes"], "bytes"),
        "spark.executor_cpu_s": (eng["executor_cpu_s"], "s"),
        "spark.cpu_busy_share": (eng["executor_cpu_s"] / (eng["wall_s"] * cpus), "ratio"),
        "jvm.gc_ms": (eng["gc_ms"], "ms"),
        "trace.overhead_ms": (traced_op_ms - untraced_op_ms, "ms"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    path = os.path.join(os.path.dirname(wl.work), f"trace-{os.path.basename(wl.work)}.json")
    with open(path, "w") as fh:
        json.dump({"workload": wl.name, "inputs_sha256": input_hash, "spans": spans,
                   "stream_progress": progress, "metrics": metrics}, fh, indent=1, default=str)
    return metrics, oracle.rows_digest(rows), batch
