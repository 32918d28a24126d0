"""The reference's end-to-end workflow as one composed, deterministic
pipeline (SURVEY.md §3.1 — /root/reference/main.py:556-592 and its
setup at :688-704):

  load search table → folder-scan + union candidates → tiered fuzzy
  join → keep/replace decisions → point-update the key column → sink.

The GUI verdict loop (main.py:563-581) is replaced by the deterministic
policy in ``curation_decisions`` (SURVEY.md §3.4), the O(n²)
re-read-per-append xlsx sink by parquet append / keyed upsert, and the
two-thread bounded-queue pipeline (main.py:501-518) by Spark's own
pipelined execution (or the streaming wrapper in streaming/pipeline.py
when probes arrive as a live feed).
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import EngineConfig
from .operators.curation import (
    append_sink,
    apply_curation,
    curation_decisions,
    upsert_sink,
    with_row_ids,
)
from .operators.fuzzy_join import (
    PreparedCandidates,
    prepare_candidates,
    tiered_fuzzy_join,
)
from .sources.union import ParquetFooters, hadoop_ls, union_by_name


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


def _prep_cands(data: DataFrame, cfg: EngineConfig) -> DataFrame:
    return with_row_ids(data, [cfg.data_key_col, *data.columns]).select(
        F.col("row_id").alias("cand_id"), F.col(cfg.data_key_col).alias("cand")
    )


def _curate(
    spark: SparkSession,
    search: DataFrame,
    cands: DataFrame,
    cfg: EngineConfig,
    cache_registry: list | None = None,
    prepared: PreparedCandidates | None = None,
) -> DataFrame:
    """One find/compare/curate pass of a search table against the
    candidate table (``_prep_cands`` output). Streaming mode passes
    ``prepared`` (``prepare_candidates`` run once before the stream
    starts) while its epochs are small (see ``_drain_stream``): each
    epoch then skips the candidate normalization and stats job, and
    takes the dense one-pass tier path while ``prepared.n_cand`` is
    within ``SPARK_GRAFT_DENSE_CANDS`` (strategy "broadcast" only);
    above it the banded plan runs. Without ``prepared`` (batch mode,
    and streams of large files) the banded plan runs, since the dense
    path loses once the probe count is large. Row ids only join each
    probe's decision back to its row and are dropped before the
    return, so curating several files together writes the rows that
    curating each file alone writes."""
    # deterministic row identity for the probe side (P4 — Spark has no
    # positional rows; impose a total order on (key, payload order))
    search_ids = with_row_ids(search, [cfg.search_key_col, *search.columns])
    probes = search_ids.select(
        F.col("row_id").alias("probe_id"), F.col(cfg.search_key_col).alias("probe")
    )
    tiers = tiered_fuzzy_join(
        probes,
        cands,
        threshold=cfg.threshold,
        strategy=cfg.strategy,
        cache_registry=cache_registry,
        prepared=prepared,
    )
    decisions = curation_decisions(tiers)
    curated = apply_curation(search_ids, decisions, "row_id", cfg.search_key_col)
    if cfg.output_distances:
        # config.ini's output-distance flag (/root/reference/config.ini:6-8):
        # carry each probe's best match distance into the output
        best_d = (
            tiers.filter(F.col("tier").isin("best", "exact"))
            .groupBy("probe_id")
            .agg(F.min("dist").alias("match_dist"))
            .withColumnRenamed("probe_id", "row_id")
        )
        curated = curated.join(F.broadcast(best_d), "row_id", "left")
    return curated.drop("row_id")


# Pair budget of one streamed epoch: the prepared catalog is reused
# only while the largest probe file times the catalog size stays within
# it, and then each epoch packs as many whole files as fit in it. The
# dense one-pass path (what a prepared catalog within
# SPARK_GRAFT_DENSE_CANDS takes) scores and windows the full
# |epoch| x n_cand product, while the banded plan costs mostly a fixed
# set of jobs, so the dense path only wins on small epochs. Measured on
# a 4-core host, 2 files against 2000 SKU-like keys, dense vs batch-mode
# epochs: 0.53x at 64k pairs per epoch, 0.75x at 256k, 0.97x at 512k,
# 1.20x at 1M, 1.93x at 2M. The cap sits below that crossover; longer
# keys (the DP is quadratic in key length) move it lower.
_DENSE_EPOCH_PAIRS = 1 << 18


def _drain_stream(spark: SparkSession, cfg: EngineConfig, prepared: PreparedCandidates) -> None:
    """Curate the probe files under ``cfg.search_path`` in micro-batches
    against the prepared catalog and append each to the sink; returns
    when every file available at start has been processed.

    One pass over the footers of the probe files present at start, on
    the driver and without a Spark job, gives the stream's schema (the
    first file's, or all merged under ``spark.sql.parquet.mergeSchema``,
    as inference gives it) and each file's row count. The epoch plan
    and size are chosen once, from those counts. When the largest file
    times ``n_cand`` is within ``_DENSE_EPOCH_PAIRS``, every epoch passes
    ``prepared`` to the tier join and packs as many whole files as
    that budget holds at the largest file's size; otherwise each epoch
    is one file and runs the batch-mode plan over the prepared
    (persisted) catalog frame. A file that lands after this listing is
    not counted. The query checkpoints to a temporary directory that is
    deleted when the drain ends, so a session-wide
    ``spark.sql.streaming.checkpointLocation`` collects nothing."""
    footers = ParquetFooters(spark)
    files = footers.files(cfg.search_path)
    if files:
        probe_footers = footers.read(files)
        schema = footers.schema(probe_footers)
    else:  # partitioned or empty: Spark's inference (and its error)
        search = spark.read.parquet(cfg.search_path)
        schema, probe_footers = search.schema, footers.read(search.inputFiles())
    largest = max((rows for _, rows in probe_footers), default=0)
    files_per_epoch = _DENSE_EPOCH_PAIRS // max(1, largest * prepared.n_cand)  # 0 above the gate
    epoch_prepared = prepared if files_per_epoch else None
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max(1, files_per_epoch))
        .parquet(cfg.search_path)
    )

    def run_batch(batch_df: DataFrame, epoch_id: int) -> None:
        reg: list = []
        try:
            append_sink(
                _curate(
                    spark, batch_df, prepared.c, cfg, cache_registry=reg, prepared=epoch_prepared
                ),
                cfg.output_path,
            )
        finally:
            for cached in reg:
                cached.unpersist()

    with tempfile.TemporaryDirectory(prefix="find-compare-stream-") as ckpt:
        q = (
            stream.writeStream.foreachBatch(run_batch)
            .option("checkpointLocation", Path(ckpt).as_uri())
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()


def run_find_compare(
    spark: SparkSession, cfg: EngineConfig, upsert: bool = False
) -> DataFrame:
    """Execute the full find/compare/curate workflow per ``cfg`` and
    return the curated search table (written to ``cfg.output_path``
    when set). ``upsert=True`` uses the keyed-merge sink (Replace
    updates rows in place); otherwise rows append.

    ``cfg.streaming=True`` (the reference's multithreading pipeline,
    T1) processes the search path as a file stream instead, whole probe
    files per micro-batch, appended to the sink; requires
    ``cfg.output_path``, checked before any Spark job. The static
    catalog is prepared ONCE before the stream starts
    (``prepare_candidates``: normalized, persisted, and its count /
    max-length stats taken). When the largest probe file present at
    start times ``n_cand`` is within ``_DENSE_EPOCH_PAIRS``, every
    epoch reuses those stats and packs as many files as fit in that
    pair budget: with ``n_cand`` within ``SPARK_GRAFT_DENSE_CANDS``
    (4096) and the broadcast strategy an epoch is one broadcast
    nested-loop pass plus one window, otherwise the banded plan without
    the candidate stats job. Larger files run the batch-mode plan, one
    file per epoch. The prepared frames are released when the call
    returns or raises. The sink holds the rows that batch runs of each
    file would write. Every parquet read on the way (catalog folder,
    search path, returned sink) takes its schema from footers on the
    driver, not from an inference job, so a streamed call over a small
    catalog launches the catalog preparation's jobs plus 4 per epoch.
    ``cfg.spark_conf`` entries are applied as runtime
    session confs for the duration of the run and restored
    afterwards."""
    if cfg.streaming and not cfg.output_path:
        raise ValueError("streaming mode requires output_path (sink)")
    prior_conf = {k: spark.conf.get(k, None) for k in cfg.spark_conf}
    for k, v in cfg.spark_conf.items():
        spark.conf.set(k, v)
    try:
        data = read_folder(spark, cfg.data_folder)
        cands = _prep_cands(data, cfg)

        if cfg.streaming:
            static: list = []
            try:
                # static side: normalized, persisted and measured once
                prepared = prepare_candidates(cands, cache_registry=static)
                _drain_stream(spark, cfg, prepared)
            finally:
                for cached in static:
                    cached.unpersist()
            return ParquetFooters(spark).frame(cfg.output_path)

        search = ParquetFooters(spark).frame(cfg.search_path)
        curated = _curate(spark, search, cands, cfg)
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
