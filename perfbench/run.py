"""Benchmark of the find/compare/curate pipeline.

    python3 perfbench/run.py --workload stream_match --seed 1 --seconds 8 --trace 0

Run from the repository root. One run is one fresh process: it writes
the workload's inputs from ``--seed`` (pyarrow only), starts Spark,
sets up and warms up, then repeats the workload's op for ``--seconds``
and checks every op's output against a DuckDB oracle. The last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_finder_comparator_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DEFAULT_DRIVER_MEM = "2g"
DEFAULT_CPUS = 4
# a run whose first timed op is slow must not report that op alone
MIN_TIMED_OPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_settings() -> tuple[int, str]:
    """Spark cores and driver heap. The package defaults (32 cores, a
    48g heap) must not leak in: cores are capped at the host's CPU
    count and the heap has a small default."""
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)), os.cpu_count() or 1)
    return max(cpus, 1), os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)


def _spark_jars() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.path.join(_find_spark_home(), "jars")


def warm_page_cache() -> None:
    """Read the Spark jars and the JDK into the page cache, so every run
    starts its JVM from the same cache state. The first run in a
    checkout also makes one untimed JVM start that loads Spark."""
    java = shutil.which("java")
    roots = [_spark_jars()]
    if java:
        roots.append(os.path.dirname(os.path.dirname(os.path.realpath(java))))
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for name in files:
                try:
                    with open(os.path.join(dirpath, name), "rb") as fh:
                        while fh.read(1 << 22):
                            pass
                except OSError:
                    pass
    marker = os.path.join(WORK_ROOT, "jvm-started")
    if java and not os.path.exists(marker):
        subprocess.run(
            [java, "-cp", os.path.join(_spark_jars(), "*"),
             "org.apache.spark.deploy.SparkSubmit", "--version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120, check=False,
        )
        open(marker, "w").close()


def start_spark(work: str, cpus: int):
    from data_finder_comparator_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        _fail(f"package {PACKAGE!r} not found under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from perfbench import oracle
    from perfbench.inputs import hash_tree
    from perfbench.layers import vm_hwm_mb
    from perfbench.workloads import THRESHOLD, WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cpus, mem = host_settings()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem

    # every file the run writes stays in its work dir, JVM temp and perf
    # data included
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    # -- inputs: the benchmark's own work, excluded from setup_s --------
    t_gen = time.monotonic()
    wl = WORKLOADS[args.workload](work, args.seed)
    wl.generate()
    input_hash = hash_tree(wl.inputs)
    warm_page_cache()
    gen_s = time.monotonic() - t_gen

    # -- setup: session, static side, warm-up ---------------------------
    t0 = time.monotonic()
    spark = start_spark(work, cpus)
    session_start_s = time.monotonic() - t0
    t0 = time.monotonic()
    spark.range(1).count()
    first_job_s = time.monotonic() - t0

    checked: list[tuple[int, str, bool]] = []  # (batch, sink digest, readback ok)

    def checked_op(readbacks: int):
        """reset (untimed), op, readbacks, then record the sink for the
        outside-in check; returns (op_s, readback times, items)"""
        wl.reset(spark)
        batch = wl.current_batch()
        t = time.perf_counter()
        try:
            items = wl.op(spark)
        except Exception:  # a failed op is counted, and the run goes on
            traceback.print_exc()
            checked.append((batch, "", False))
            return time.perf_counter() - t, [], 0
        finally:
            wl.op_count += 1
        op_s = time.perf_counter() - t
        rb_s, reads = [], set()
        for _ in range(readbacks):
            t = time.perf_counter()
            reads.add(wl.readback(spark))
            rb_s.append(time.perf_counter() - t)
        rows = oracle.read_rows(wl.sink)
        keys = set(wl.lookup)
        ok = reads == {(len(rows), sum(1 for r in rows if r[1] in keys))}
        if wl.unique_keys:
            ok = ok and len({r[1] for r in rows}) == len(rows)
        checked.append((batch, oracle.rows_digest(rows), ok))
        return op_s, rb_s, items

    wl.setup(spark)
    for _ in range(wl.warmup_ops):
        checked_op(1)
    setup_s = (time.monotonic() - T_PROCESS) - gen_s

    # -- timed phase ------------------------------------------------------
    n_warm = len(checked)
    op_s, rb_s, items = [], [], 0
    t_phase = time.monotonic()
    while time.monotonic() - t_phase < args.seconds or len(op_s) < MIN_TIMED_OPS:
        o, r, n = checked_op(wl.readbacks)
        op_s.append(o)
        rb_s += r
        items += n
    peak_rss_mb = vm_hwm_mb(jvm_pid()) + vm_hwm_mb(os.getpid())

    metrics = {}
    if args.trace:
        from perfbench.trace import traced_run

        metrics, trace_digest, trace_batch = traced_run(
            spark, wl, cpus, session_start_s, first_job_s, statistics.median(op_s) * 1000,
            input_hash,
        )
        # the traced composition must write exactly what the op writes
        checked.append((trace_batch, trace_digest, True))
    stop_spark(spark)

    # -- outside-in correctness -------------------------------------------
    want = wl.expected_digests(
        oracle.expected_curation(wl.probe_files(), wl.catalog_files_list(), THRESHOLD)
    )
    failed = oracle.count_failed(checked[n_warm:n_warm + len(op_s)], want)
    correct = oracle.count_failed(checked, want) == 0

    if not args.trace:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_ms": {"value": statistics.median(op_s) * 1000, "unit": "ms"},
            "items_per_s": {"value": items / sum(op_s), "unit": "1/s"},
            "readback_p50_ms": {"value": statistics.median(rb_s or [0.0]) * 1000, "unit": "ms"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    print(f"perfbench: inputs sha256 {input_hash['*']} ({len(input_hash) - 1} files); "
          f"{len(op_s)} timed ops (s: {' '.join(f'{o:.3f}' for o in op_s)}); "
          f"inputs {gen_s:.1f} s; cpus={cpus} driver_mem={mem}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": len(op_s),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
