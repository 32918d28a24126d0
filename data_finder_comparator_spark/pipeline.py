"""The reference's end-to-end workflow as one composed, deterministic
pipeline (SURVEY.md §3.1 — /root/reference/main.py:556-592 and its
setup at :688-704):

  load search table → folder-scan + union candidates → within-threshold
  matches of the distinct probe keys → keep/replace decisions per key →
  point-update the key column → sink.

The GUI verdict loop (main.py:563-581) is replaced by the deterministic
policy ``operators.curation.replaces`` (SURVEY.md §3.4), computed from
only what it reads: the exact and best match counts and the best
candidate, never the ``potential`` and ``poor`` tiers. The O(n²)
re-read-per-append xlsx sink becomes parquet append / keyed upsert, and
the two-thread bounded-queue pipeline (main.py:501-518) Spark's own
pipelined execution, or, when probes arrive as files of a live feed,
``_drain_stream``: one micro-batch drain with replay-safe epochs, each
running the same plan as a batch call.
"""

from __future__ import annotations

import hashlib
import tempfile
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import EngineConfig
from .functions.normalize import norm_key
from .operators.curation import append_sink, replaces, upsert_sink
from .operators.fuzzy_join import within_pairs
from .sources.union import ParquetFooters, hadoop_ls, union_by_name
from .streaming.pipeline import _run_to_completion


def read_folder(spark: SparkSession, folder: str) -> DataFrame:
    """S2/U1: read every parquet table in a folder and union by column
    name, null-filling columns missing from any file — the pandas
    concat semantics of /root/reference/main.py:690-696 without the
    driver-side loop. Listing via the shared Hadoop-FS helper
    (``sources.union.hadoop_ls``) — one listing path for the engine.
    Each table's schema comes from its footers on the driver
    (``sources.union.ParquetFooters``), so the read launches no Spark
    job."""
    paths = hadoop_ls(spark, folder)
    if not paths:
        raise ValueError(f"no tables under {folder}")
    footers = ParquetFooters(spark)
    return union_by_name([footers.frame(p) for p in paths])


def _curate(search: DataFrame, data: DataFrame, cfg: EngineConfig) -> DataFrame:
    """One find/compare/curate pass of a search table against the
    catalog table, computing only what the keep/replace policy reads.
    A decision depends only on the probe's key, so the plan runs on
    keys: the distinct probe keys, normalized once, against the catalog
    grouped by raw key with its row count (``n_best`` counts catalog
    rows, as the reference's scan does). The within-threshold pairs
    come from ``within_pairs``, the tier join's phase 1, blocked by
    ``cfg.strategy``. One window gives each probe key its smallest
    positive distance, and one aggregate its exact and best row counts,
    its best candidate and its smallest distance. ``replaces`` turns
    those into new keys, broadcast-joined back to the search rows on
    the key. The rows keep ``search.columns`` in order, plus
    ``match_dist`` (long: the exact or best distance, null without
    either) last when ``cfg.output_distances`` is set."""
    key = search[cfg.search_key_col]
    probes = search.select(key.alias("probe")).distinct().withColumn("_nq", norm_key("probe"))
    cands = (
        data.groupBy(data[cfg.data_key_col].alias("cand"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_nc", norm_key("cand"))
    )
    pairs = within_pairs(
        probes, cands, cfg.threshold, cfg.strategy, probe_key="probe", cand_key="cand"
    )
    dist = F.col("dist")
    best = dist == F.col("min_pos")
    decided = (
        pairs.withColumn("min_pos", F.min(F.when(dist > 0, dist)).over(Window.partitionBy("probe")))
        .groupBy("probe")
        .agg(
            F.sum(F.when(dist == 0, F.col("n")).otherwise(0)).alias("n_exact"),
            F.sum(F.when(best, F.col("n")).otherwise(0)).alias("n_best"),
            F.max(F.when(best, F.col("cand"))).alias("best_cand"),
            F.min(dist).alias("match_dist"),
        )
    )
    # reserved names for the decision columns: the search table may
    # carry columns of any other name
    d = decided.select(
        F.col("probe").alias("__curation_key"),
        F.when(replaces(F.col("n_exact"), F.col("n_best")), F.col("best_cand")).alias(
            "__curation_new"
        ),
        *([F.col("match_dist")] if cfg.output_distances else []),
    )
    return (
        search.join(F.broadcast(d), key == d["__curation_key"], "left")
        .withColumn(cfg.search_key_col, F.coalesce(d["__curation_new"], key))
        .drop("__curation_key", "__curation_new")
    )


def _write_epoch(rows: DataFrame, sink: str, token: str, epoch_id: int) -> None:
    """Write one micro-batch's rows into the flat parquet ``sink`` so
    that a replay of the epoch replaces them instead of adding a second
    copy. foreachBatch is at-least-once: a failure after this write and
    before the checkpoint commit runs the same epoch again. The rows
    are written to a hidden ``_stage-<token>-e<epoch>`` directory in the
    sink, the sink files an earlier run of this epoch left (prefix
    ``<token>-e<epoch>-``, found by a glob on that prefix, so the cost
    does not grow with the sink) are deleted, and the staged files are
    renamed into the sink under that prefix. The deletes and renames
    are driver-side FileSystem calls, not Spark jobs, and parquet
    readers skip a staging directory a failure leaves, as they skip
    every ``_``-prefixed name."""
    spark = rows.sparkSession
    prefix = f"{token}-e{epoch_id}-"
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    root = hpath(sink)
    stage = hpath(root, f"_stage-{prefix[:-1]}").toString()
    rows.write.mode("overwrite").parquet(stage)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.globStatus(hpath(root, prefix + "*")) or []:
        fs.delete(st.getPath(), False)
    for f in hadoop_ls(spark, stage):
        fs.rename(hpath(f), hpath(root, prefix + f.rsplit("/", 1)[1]))
    fs.delete(hpath(stage), True)


def _drain_stream(
    spark: SparkSession,
    search_path: str,
    sink: str,
    epoch_rows: Callable[[DataFrame, list], DataFrame],
    checkpoint: str | None = None,
) -> None:
    """Run ``epoch_rows`` over the parquet probe files under
    ``search_path`` in micro-batches, and write each epoch's rows to
    the parquet ``sink``; returns when every file available at start
    has been processed. Each epoch takes every file available, Spark's
    default. ``epoch_rows(batch, cache_registry)`` returns an epoch's
    rows and appends what it persists to ``cache_registry``, released
    once the epoch is written: ``run_find_compare`` passes ``_curate``,
    the ``streaming_fuzzy_tiers`` query the tier join over its own
    static catalog.

    The stream's schema comes from the probe files' footers, read on
    the driver without a Spark job (the first file's, or all merged
    under ``spark.sql.parquet.mergeSchema``, as inference gives it).

    Epochs are replay-safe (``_write_epoch``), so the query runs through
    ``streaming.pipeline._run_to_completion`` and its one retry on the
    worker-spawn failure. It checkpoints to ``checkpoint``, and a
    restart from the same checkpoint processes only the files it has
    not committed. Without one it checkpoints to a temporary directory
    that is deleted when the drain ends, so a session-wide
    ``spark.sql.streaming.checkpointLocation`` collects nothing."""
    if checkpoint is None:
        with tempfile.TemporaryDirectory(prefix="find-compare-stream-") as ckpt:
            return _drain_stream(spark, search_path, sink, epoch_rows, Path(ckpt).as_uri())
    schema = ParquetFooters(spark).frame(search_path).schema
    stream = spark.readStream.schema(schema).parquet(search_path)
    # the sink-file prefix: stable across restarts from this checkpoint,
    # different for every other checkpoint writing to the same sink
    ckpt = spark._jvm.org.apache.hadoop.fs.Path(checkpoint)
    qualified = ckpt.getFileSystem(spark._jsc.hadoopConfiguration()).makeQualified(ckpt)
    token = hashlib.sha1(qualified.toString().encode()).hexdigest()[:12]

    def run_batch(batch_df: DataFrame, epoch_id: int) -> None:
        reg: list = []
        try:
            _write_epoch(epoch_rows(batch_df, reg), sink, token, epoch_id)
        finally:
            for cached in reg:
                cached.unpersist()

    _run_to_completion(
        stream.writeStream.foreachBatch(run_batch).option("checkpointLocation", checkpoint)
    )


def run_find_compare(
    spark: SparkSession, cfg: EngineConfig, upsert: bool = False
) -> DataFrame:
    """Execute the full find/compare/curate workflow per ``cfg`` and
    return the curated search table (written to ``cfg.output_path``
    when set). ``upsert=True`` uses the keyed-merge sink (Replace
    updates rows in place); otherwise rows append. Both modes run
    ``_curate``: decisions per distinct probe key, from the
    within-threshold pairs alone, with no row ids and no tier table.

    ``cfg.streaming=True`` (the reference's multithreading pipeline,
    T1) processes the search path as a file stream instead, whole probe
    files per micro-batch, added to the sink; requires
    ``cfg.output_path``, checked before any Spark job. Each epoch takes
    every file available and runs the batch plan over it against the
    catalog folder, so the sink holds the rows that batch runs of each
    file would write, once each: epochs are replay-safe, and the drain
    retries once on the worker-spawn failure (``_drain_stream``). Every
    parquet read on the way (catalog folder, search path, returned
    sink) takes its schema from footers on the driver, not from an
    inference job. ``cfg.spark_conf`` entries are applied as runtime
    session confs for the duration of the run and restored
    afterwards."""
    if cfg.streaming and not cfg.output_path:
        raise ValueError("streaming mode requires output_path (sink)")
    prior_conf = {k: spark.conf.get(k, None) for k in cfg.spark_conf}
    for k, v in cfg.spark_conf.items():
        spark.conf.set(k, v)
    try:
        data = read_folder(spark, cfg.data_folder)
        if cfg.streaming:
            _drain_stream(
                spark,
                cfg.search_path,
                cfg.output_path,
                lambda search, _: _curate(search, data, cfg),
            )
            return ParquetFooters(spark).frame(cfg.output_path)

        search = ParquetFooters(spark).frame(cfg.search_path)
        curated = _curate(search, data, cfg)
        if cfg.output_path:
            if cfg.output_path.endswith(".xlsx"):
                # the reference's own sink format (output.xlsx,
                # /root/reference/main.py:521-535): a driver-side
                # workbook write via the vendored codec — small curated
                # outputs only, exactly the reference's regime
                from .sources.excel import write_excel

                write_excel(curated, cfg.output_path)
            elif upsert:
                upsert_sink(curated, cfg.output_path, cfg.search_key_col)
            else:
                append_sink(curated, cfg.output_path)
        return curated
    finally:
        for k, prev in prior_conf.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)
