"""Layer counters read from outside the package: spans timed by the
benchmark around public calls, and Spark's own bookkeeping diffed
around each span.

Jobs are found by id range, never by job group: streaming micro-batch
jobs run under the query's own group, so a group filter would miss
them. Everything here reads Spark's status stores after draining the
listener bus, so the numbers are final when a span closes.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

NODE_EXCHANGES = ("Exchange", "BroadcastExchange")
NODE_NL_JOIN = "BroadcastNestedLoopJoin"


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _metric_number(text: str | None) -> float:
    """SQL metric values arrive as display strings ("1,225", "2.0 KiB");
    only plain counts are read here."""
    if not text:
        return 0.0
    m = re.match(r"^\s*([\d,]+)\s*$", text)
    return float(m.group(1).replace(",", "")) if m else 0.0


class SparkCounters:
    """Snapshots of the JVM's status stores; ``delta(since)`` returns
    the work done between a snapshot and now."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = mf.getGarbageCollectorMXBeans()
        self._seen_nodes: set[int] = set()

    def gc_ms(self) -> int:
        return sum(self._gcs.get(i).getCollectionTime() for i in range(self._gcs.size()))

    def _last_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _last_execution(self) -> int:
        execs = self._sql.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def _jobs_after(self, job_id: int) -> list:
        """Jobs with a larger id; the store lists jobs newest first."""
        jobs, out = self._store.jobsList(None), []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                break
            out.append(j)
        return out

    def _executions_after(self, execution_id: int) -> list[int]:
        """SQL execution ids above ``execution_id``; the store lists
        executions oldest first."""
        execs, out = self._sql.executionsList(), []
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i).executionId()
            if e <= execution_id:
                break
            out.append(e)
        return out

    def snapshot(self) -> dict:
        self._bus.waitUntilEmpty()
        return {
            "job": self._last_job(),
            "execution": self._last_execution(),
            "gc_ms": self.gc_ms(),
            "seen": frozenset(self._seen_nodes),
            "t": time.perf_counter(),
        }

    def delta(self, since: dict) -> dict:
        self._bus.waitUntilEmpty()
        wall = time.perf_counter() - since["t"]
        jobs = self._jobs_after(since["job"])
        stage_ids = {s for j in jobs for s in _seq(j.stageIds())}
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "executor_cpu_s": 0.0,
            "gc_ms": self.gc_ms() - since["gc_ms"],
            "exchanges": 0,
            "nl_joins": 0,
            "nl_pairs_out": 0.0,
            "nl_pairs_in": 0.0,
            "scan_files": 0.0,
            "scan_rows": 0.0,
            "wall_s": wall,
        }
        for sid in sorted(stage_ids):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        nodes: dict[int, dict] = {}
        for e in sorted(self._executions_after(since["execution"])):
            self._plan_nodes(e, nodes)
        for key, n in nodes.items():
            if key in since["seen"]:
                continue  # counted in an earlier span
            if n["kind"] == "exchange":
                out["exchanges"] += 1
            elif n["kind"] == "nl_join":
                out["nl_joins"] += 1
                out["nl_pairs_out"] += n["rows"]
                out["nl_pairs_in"] += n["pairs_in"]
            else:
                out["scan_files"] += n["files"]
                out["scan_rows"] += n["rows"]
        self._seen_nodes |= nodes.keys()
        return out

    def _plan_nodes(self, execution_id: int, nodes: dict[int, dict]) -> None:
        """Exchange, nested-loop join and parquet scan nodes of one SQL
        execution's final plan, keyed by their first metric accumulator.
        A cached frame's plan reappears under every InMemoryTableScan
        that reads it, with the same accumulators but no new values, so
        a node is one key and keeps the largest values seen for it."""
        graph = self._sql.planGraph(execution_id)
        values = self._sql.executionMetrics(execution_id)
        by_id = {n.id(): n for n in _seq(graph.allNodes())}
        children: dict[int, list[int]] = {}
        for e in _seq(graph.edges()):
            children.setdefault(e.toId(), []).append(e.fromId())

        def metric(node_id: int, name: str) -> float | None:
            for m in _seq(by_id[node_id].metrics()):
                if m.name() == name:
                    v = values.get(m.accumulatorId())
                    return _metric_number(v.get() if v.isDefined() else None)
            return None

        def input_rows(node_id: int) -> float:
            """Rows of the nearest descendant that counts its output."""
            r = metric(node_id, "number of output rows")
            if r is not None:
                return r
            kids = children.get(node_id, [])
            return input_rows(kids[0]) if len(kids) == 1 else 0.0

        for i, node in by_id.items():
            name = node.name()
            if name in NODE_EXCHANGES:
                kind = "exchange"
            elif name == NODE_NL_JOIN:
                kind = "nl_join"
            elif name.startswith("Scan parquet"):
                kind = "scan"
            else:
                continue
            accums = [m.accumulatorId() for m in _seq(node.metrics())]
            if not accums:
                continue
            rec = nodes.setdefault(
                min(accums), {"kind": kind, "rows": 0.0, "files": 0.0, "pairs_in": 0.0}
            )
            rec["rows"] = max(rec["rows"], metric(i, "number of output rows") or 0.0)
            rec["files"] = max(rec["files"], metric(i, "number of files read") or 0.0)
            if kind == "nl_join":
                sides = [input_rows(c) for c in children.get(i, [])]
                if len(sides) == 2:
                    rec["pairs_in"] = max(rec["pairs_in"], sides[0] * sides[1])


class Tracer:
    """Spans at layer boundaries: name, layer, start, end, parent, and
    the Spark counter delta over the span. Kept in memory; ``dump``
    returns them with self times (duration minus the time covered by
    child spans)."""

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str):
        snap = self.counters.snapshot() if self.counters else None
        rec = {
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            if snap is not None:
                rec["counters"] = self.counters.delta(snap)

    def dump(self) -> list[dict]:
        out = []
        for i, s in enumerate(self.spans):
            kids = [c for c in self.spans if c["parent"] == i]
            covered = _union_length([(c["start"], c["end"]) for c in kids])
            out.append(dict(s, id=i, self_s=(s["end"] - s["start"]) - covered))
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stream_progress_listener(spark):
    """Register a StreamingQueryListener that keeps every progress
    event's ``durationMs`` and batch size; returns (listener, records).
    Events arrive through the listener bus, so they are all in
    ``records`` once the bus has drained."""
    from pyspark.sql.streaming import StreamingQueryListener

    records: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            records.append({"batch": p.batchId, "rows": p.numInputRows, **dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener, records


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from the kernel's VmHWM."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
