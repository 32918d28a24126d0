"""Structured Streaming wrappers (SURVEY.md §2.9 T1/T2).

The reference's only concurrency is a two-thread producer/consumer
pipeline over a bounded Queue(maxsize=3) (/root/reference/main.py:
501-518) — backpressure between match computation and consumption. The
Spark-native equivalents:

* batch: nothing to do — Spark's lazy pipelined execution already
  overlaps scan/compute/sink stages.
* streaming: ``readStream`` micro-batches. Backpressure is
  ``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` (bounded in-flight
  work, the Queue(3) analogue); ordered completion is micro-batch
  ordering (T2). The flagship tiered fuzzy join runs per micro-batch of
  probe files in ``pipeline._drain_stream`` (``run_find_compare`` with
  ``streaming=True``, and the ``streaming_fuzzy_tiers`` query) — the
  reference's threaded matcher loop (main.py:473-478), distributed. It
  drains through this module's ``_run_to_completion``.

Event-time analytics the reference lacks (but a stream engine needs)
ride on the same machinery: ``windowed_event_counts`` is a tumbling
event-time window aggregation (complete mode, since without a watermark
every window stays open — results land in a foreachBatch parquet sink,
never the driver); ``watermarked_event_counts`` is the production shape
(``withWatermark`` bounding state, append mode, file sink). Every
registered streaming query in this module returns a distributed scan of
its sink; the only memory-sink use left is the stream/batch equivalence
harness inside tests.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Stateful-operator partition count for the local harness. Each state
# partition is a full state-store instance paying per-micro-batch
# checkpoint/snapshot file I/O — with the harness's KB-sized state, 32
# instances are pure overhead (measured 5-10x the query time of 8). On
# a cluster this is the one knob sized UP with state volume (state
# partitioning is fixed at checkpoint creation), so it is scoped to
# the streaming query rather than baked into the session.
STREAM_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))


# Conf the events file-stream needs while its micro-batches execute:
# the test parquet stores TIMESTAMP(NANOS), which Spark reads as a raw
# long only under the legacy conf (the batch loader keeps it
# session-lifetime by intent — its scans execute lazily after return;
# a streaming query instead runs to completion INSIDE the wrapper, so
# it can and does restore the caller's value on exit).
_NANOS_CONF = {"spark.sql.legacy.parquet.nanosAsLong": "true"}


@contextmanager
def _stream_confs(spark: SparkSession, extra: dict[str, str] | None = None):
    """Scoped conf overrides for a streaming query: shuffle partitions
    (always) plus any ``extra`` entries, set at plan time (stream
    planning reads them at ``start()``), restored — or unset, if they
    had no prior value — after the query stops. Nothing leaks into the
    caller's *subsequent* batch plans.

    NOT thread-safe: the override mutates the shared session conf, so a
    batch query planned CONCURRENTLY on the same SparkSession (from
    another thread) would silently plan with the streaming partition
    count. The single-threaded driver/test loop never does this; a
    concurrent harness should run streaming queries on
    ``spark.newSession()`` so the conf override is isolated."""
    confs = {
        "spark.sql.shuffle.partitions": str(STREAM_SHUFFLE_PARTITIONS),
        # The windowed streaming queries cast NTZ event times to
        # TIMESTAMP for watermarking and cast window bounds back to NTZ
        # on output; those casts are wall-clock-identical ONLY in a UTC
        # session. Driver/test/bench sessions all run UTC already, so
        # this pin closes the latent dependency on ambient session TZ
        # rather than changing any current result.
        "spark.sql.session.timeZone": "UTC",
        **(extra or {}),
    }
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prior in old.items():
            if prior is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prior)



# Environmental worker-spawn failure: under page-cache pressure a
# FRESH Python worker fork can stall past the JVM's HARDCODED 10 s
# connect-back accept (PythonWorkerFactory — no conf raises it in
# Spark 4.1.2), and the query dies with it, at start or in any epoch
# whose jobs fork a worker. One retry is semantically free for every
# drain that runs through ``_run_to_completion``: the checkpointed
# availableNow restart skips committed epochs, and every such sink makes
# a replayed epoch idempotent (the file sink's commit log, overwrite or
# epoch-keyed foreachBatch writes, the register-max merge, lakehouse
# txn markers), so a retried drain delivers the identical sink state.
# Only this exact environmental signature retries — genuine query
# errors (schema, refusal probes, user code) surface unchanged on the
# first strike.
_WORKER_SPAWN_SIGNATURE = "Python worker failed to connect back"


def _run_to_completion(writer) -> None:
    """Start a one-shot drain (availableNow trigger: process everything
    available, then terminate — no idle trigger polling) and block
    until it finishes. A caller that needs streaming confs scopes them
    with ``_stream_confs``. Retries ONCE from the same checkpoint when the host's worker-spawn
    timeout kills the query, whichever epoch it was in: committed
    epochs are skipped and the failed one is replayed (see
    _WORKER_SPAWN_SIGNATURE)."""
    import sys

    for attempt in (0, 1):
        q = writer.trigger(availableNow=True).start()
        try:
            q.awaitTermination()
            return
        except Exception as e:
            if attempt == 0 and _WORKER_SPAWN_SIGNATURE in str(e):
                sys.stderr.write(
                    "[streaming] host worker-spawn timeout killed the "
                    "drain; retrying once from the same checkpoint "
                    "(committed epochs skipped, the failed one replayed)\n"
                )
                continue
            raise
        finally:
            q.stop()


def _drain_to_parquet_sink(
    spark: SparkSession,
    out: DataFrame,
    out_path: str,
    ckpt: str,
    extra_confs: dict[str, str] | None = None,
) -> None:
    """Run an APPEND-mode streaming plan to completion into a parquet
    file sink — the shared production drain every windowed/joined
    streaming query in this module uses (checkpointed, distributed
    write, nothing through the driver)."""
    confs = dict(_NANOS_CONF)
    confs.update(extra_confs or {})
    with _stream_confs(spark, confs):
        _run_to_completion(
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
        )


def events_stream_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """Declared stream schema for the events table, derived from the
    parquet FOOTER — a file-stream source must declare its schema up
    front, and a unit mismatch (reading a timestamp[us] file through a
    long-nanos schema) silently compresses the whole timeline by 1000×.
    Returns (schema, nanos_long): when ``nanos_long`` the ``ts`` column
    arrives as a raw long of nanoseconds and needs the shared
    ``ns_long_to_ntz`` rebuild; otherwise it is a native TIMESTAMP_NTZ
    and is used as-is (same guard the batch loader applies via observed
    dtype, ``sources/parquet.py``)."""
    from ..sources.parquet import stores_nanos_long

    nanos = stores_nanos_long(sf_dir, "events", "ts")
    ts_type = T.LongType() if nanos else T.TimestampNTZType()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, nanos


def _events_stream(spark: SparkSession, sf_dir: str, max_files: int = 1) -> DataFrame:
    """Plan-only: builds the streaming scan; the nanosAsLong conf the
    scan needs at EXECUTION time is scoped by the caller's
    ``_stream_confs(spark, _NANOS_CONF)`` around start()/await."""
    from ..sources.parquet import ns_long_to_ntz

    schema, nanos = events_stream_schema(sf_dir)
    # file-stream sources take a directory; select just the events file
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)  # bounded in-flight work
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.expr(ns_long_to_ntz("ts")))
    return raw


def _windowed_counts_agg(
    spark: SparkSession, sf_dir: str, window: str, slide: str | None
) -> DataFrame:
    """The streaming tumbling/sliding window aggregation plan, shared by
    the production file-sink query and the memory-sink equivalence
    harness in tests."""
    ev = _events_stream(spark, sf_dir)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        ev.groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_event_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    query_name: str = "windowed_event_counts",
    slide: str | None = None,
    sink_dir: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding/hopping) event-time window
    counts per event_type, driven to completion synchronously against
    the static events table.

    Without a watermark every window stays open, so the query runs in
    COMPLETE mode — but the complete result never flows through the
    driver: ``foreachBatch`` rewrites a parquet sink with each epoch's
    full table (distributed write, mode("overwrite") keeps epochs
    idempotent), and the returned DataFrame is a scan of the final
    epoch's sink. The old memory-sink + collect() shape survives only
    inside tests as the stream/batch equivalence harness
    (tests/test_stream_schema.py)."""
    from ..util import fresh_run_dir

    if sink_dir is None:
        sink_dir = fresh_run_dir("windowed_counts", f"{sf_dir}|{window}|{slide}")
    out_path = os.path.join(sink_dir, "out")
    ckpt = os.path.join(sink_dir, "ckpt")
    agg = _windowed_counts_agg(spark, sf_dir, window, slide)

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_path)

    with _stream_confs(spark, _NANOS_CONF):
        _run_to_completion(
            agg.writeStream.outputMode("complete")
            .foreachBatch(write_epoch)
            .queryName(query_name)
            .option("checkpointLocation", ckpt)
        )
    return spark.read.schema(WINDOW_COUNTS_SCHEMA).parquet(out_path)


WINDOW_COUNTS_SCHEMA = (
    "win_start timestamp_ntz, win_end timestamp_ntz, "
    "event_type string, n_events long, sum_value double"
)


def watermarked_event_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    delay: str = "1 hour",
    sink_dir: str | None = None,
) -> DataFrame:
    """Production-shape event-time aggregation: ``withWatermark`` +
    tumbling window in APPEND mode writing a parquet file sink — state
    is bounded by the watermark, each window is emitted exactly once
    after the watermark passes its end, and results never flow through
    the driver (the returned DataFrame is a distributed scan of the
    sink directory). Complete-mode + memory sink (above) stays only as
    the stream/batch-equivalence harness."""
    from ..util import fresh_run_dir

    if sink_dir is None:
        sink_dir = fresh_run_dir("wm_event_counts", f"{sf_dir}|{window}|{delay}")
    base = sink_dir
    out_path = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    # withWatermark requires TIMESTAMP (not NTZ); the session runs UTC,
    # so the cast is wall-clock-identical, and the window bounds cast
    # back to NTZ to keep one output schema across streaming queries
    ev = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        ev.withWatermark("ts", delay)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("win_start"),
            F.col("window.end").cast("timestamp_ntz").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    _drain_to_parquet_sink(spark, agg, out_path, ckpt)
    # explicit schema: the sink may be empty when no window has closed
    return spark.read.schema(WINDOW_COUNTS_SCHEMA).parquet(out_path)


SESSION_COUNTS_SCHEMA = (
    "user_id long, sess_start timestamp_ntz, sess_end timestamp_ntz, "
    "n_events long, sum_value double"
)


def session_windowed_counts(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    delay: str = "1 hour",
    sink_dir: str | None = None,
) -> DataFrame:
    """Event-time SESSION windows per user (``F.session_window``):
    events merge into one session while each starts within ``gap`` of
    the session's current end (a gap of exactly ``gap`` still merges;
    the session breaks only when the inactivity gap strictly exceeds
    it), and the emitted window is [first ts, last ts + gap). Completes
    the window family next to tumbling/sliding (`windowed_event_counts`)
    and the batch `sessionize_events`.

    Production shape throughout: watermark-bounded session state,
    APPEND mode (a session row is emitted exactly once, after the
    watermark passes its end), distributed parquet file sink — results
    never flow through the driver."""
    from ..util import fresh_run_dir

    if sink_dir is None:
        sink_dir = fresh_run_dir("session_event_counts", f"{sf_dir}|{gap}|{delay}")
    out_path = os.path.join(sink_dir, "out")
    ckpt = os.path.join(sink_dir, "ckpt")
    # watermark requires TIMESTAMP; the session runs UTC so the cast is
    # wall-clock-identical, and the bounds cast back to NTZ on output
    ev = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        ev.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("sess_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )
    _drain_to_parquet_sink(spark, agg, out_path, ckpt)
    return spark.read.schema(SESSION_COUNTS_SCHEMA).parquet(out_path)


SEGMENT_COUNTS_SCHEMA = (
    "win_start timestamp_ntz, win_end timestamp_ntz, "
    "c_mktsegment string, n_events long, sum_value double"
)


def enriched_segment_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    delay: str = "1 hour",
    sink_dir: str | None = None,
) -> DataFrame:
    """Stream-STATIC join: the events stream enriched by the static
    customer dimension, then watermarked tumbling counts per market
    segment. Stream-static joins are STATELESS — each micro-batch hash
    joins against the (broadcast) static side, no join state store, no
    watermark needed for the join itself — which is why this is the
    standard enrichment shape at scale: a 100 TB event stream joined to
    a dimension table costs one broadcast per executor, not a shuffle
    of the stream. Windowed agg state stays watermark-bounded; append
    mode + parquet file sink as in the other production-shape queries."""
    from ..sources.parquet import load_table
    from ..util import fresh_run_dir

    if sink_dir is None:
        sink_dir = fresh_run_dir("enriched_segment_counts", f"{sf_dir}|{window}|{delay}")
    out_path = os.path.join(sink_dir, "out")
    ckpt = os.path.join(sink_dir, "ckpt")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    ev = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        ev.join(F.broadcast(dim), "user_id")  # stateless per-batch hash join
        .withWatermark("ts", delay)
        .groupBy(F.window("ts", window), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("win_start"),
            F.col("window.end").cast("timestamp_ntz").alias("win_end"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    _drain_to_parquet_sink(spark, agg, out_path, ckpt)
    return spark.read.schema(SEGMENT_COUNTS_SCHEMA).parquet(out_path)


FIRST_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ]
)

_FIRST_SEEN_STATE = T.StructType([T.StructField("seen", T.IntegerType())])


def first_seen_stream(docs_stream: DataFrame, id_col: str, hash_col: str):
    """Cross-micro-batch stateful dedup: emits each content hash exactly
    once — the first (min id within the arriving batch) document that
    carries it — suppressing re-arrivals in later micro-batches via
    per-key state. The custom-stateful-operator pattern
    (``applyInPandasWithState``): state is one flag per key, so memory
    is O(distinct keys), and at cluster scale the store is RocksDB-backed
    and checkpointed; here it pins the API shape and semantics.

    Returns a streaming DataFrame (caller attaches the sink)."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        best = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf[id_col].min())
                best = m if best is None else min(best, m)
        if state.exists or best is None:
            yield pd.DataFrame({"content_hash": [], "doc_id": []})
        else:
            state.update((1,))
            yield pd.DataFrame({"content_hash": [key[0]], "doc_id": [best]})

    return (
        docs_stream.groupBy(hash_col)
        .applyInPandasWithState(
            fn,
            FIRST_SEEN_SCHEMA,
            _FIRST_SEEN_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def first_seen_to_parquet(
    spark: SparkSession, out_stream: DataFrame, sink_dir: str
) -> DataFrame:
    """Drive a ``first_seen_stream`` output to completion with each
    micro-batch's emissions written to an EPOCH-KEYED parquet subdir
    via foreachBatch — a distributed write per epoch, nothing through
    the driver. foreachBatch delivery is AT-LEAST-ONCE: after a crash
    between the sink write and the checkpoint commit, the whole epoch
    replays with the SAME epoch_id — and the replay re-runs against the
    PRE-epoch state version, re-emitting the same first-seen keys. A
    blind append would duplicate them; mode("overwrite")
    into ``out/e<epoch_id>`` makes the replay rewrite its own directory
    instead — idempotent sink, exactly-once results. At 100 TB the
    emission set is corpus-sized (one row per distinct content hash);
    the epoch-dir layout adds one directory per micro-batch, compacted
    like any streaming sink."""
    out_path = os.path.join(sink_dir, "out")
    ckpt = os.path.join(sink_dir, "ckpt")
    # foreachBatch creates out/ only when an epoch actually runs; a
    # source with nothing to deliver (already-drained checkpoint, empty
    # folder) would otherwise make the final explicit-schema read crash
    # PATH_NOT_FOUND instead of returning the correct empty frame —
    # the format('parquet') sinks get this for free because start()
    # creates their directory
    os.makedirs(out_path, exist_ok=True)

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_path, f"e{int(epoch_id):09d}")
        )

    with _stream_confs(spark):
        _run_to_completion(
            out_stream.writeStream.outputMode("update")
            .foreachBatch(write_epoch)
            .option("checkpointLocation", ckpt)
        )
    return (
        spark.read.schema(FIRST_SEEN_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(out_path)
    )


STREAM_JOIN_SCHEMA = "purchase_id long, user_id long, click_id long, gap_us long"


def _attribution_join(
    spark: SparkSession, sf_dir: str, lookback_minutes: int, how: str
) -> DataFrame:
    """The shared stream-stream attribution join plan: purchases
    equi-keyed to the same user's clicks within the preceding lookback
    window, BOTH sides watermarked so the state store evicts a buffered
    row as soon as the other stream's watermark passes the end of its
    match window — bounded state on an unbounded stream. The inner and
    leftOuter variants differ only in join type and output projection."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").cast("timestamp").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {lookback_minutes} MINUTE")
        )
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    )


def purchase_click_attribution(
    spark: SparkSession,
    sf_dir: str,
    lookback_minutes: int = 60,
    sink_dir: str | None = None,
) -> DataFrame:
    """Stream-stream inner join — the attribution shape: each purchase
    joined to the same user's clicks in the preceding ``lookback``
    window. Two independent file-stream sources over the same events
    table, equi-keyed on user_id with an event-time range condition;
    BOTH sides carry watermarks, so the state store evicts a buffered
    row as soon as the other stream's watermark passes the end of its
    match window — bounded state, the property that lets this run
    forever on an unbounded stream. Append mode + parquet file sink:
    matches never flow through the driver; the returned DataFrame is a
    distributed scan of the sink.

    No native analogue in the reference (its pipeline is a two-thread
    queue, /root/reference/main.py:501-518); this is the Spark-first
    extension of that producer/consumer shape to joined streams.
    """
    from ..util import fresh_run_dir

    if sink_dir is None:
        sink_dir = fresh_run_dir("purchase_click_join", f"{sf_dir}|{lookback_minutes}")
    out_path = os.path.join(sink_dir, "out")
    ckpt = os.path.join(sink_dir, "ckpt")
    out = _attribution_join(spark, sf_dir, lookback_minutes, "inner").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "click_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    # INNER join emits matches on arrival; the trailing no-data
    # micro-batch only advances the watermark for state EVICTION, never
    # output — yet costs a full state-commit cycle across every shuffle
    # partition (profiled: ~1.0s of a 2.5s run at sf0.1; disabling it
    # measures 1.61s min-of-3 with an identical row set, SCALE.md §10).
    # Scoped HERE only: append-mode windowed aggs need no-data batches
    # to emit closed windows, and the OUTER variant needs them to
    # late-release unmatched rows.
    _drain_to_parquet_sink(
        spark,
        out,
        out_path,
        ckpt,
        extra_confs={"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
    )
    return spark.read.schema(STREAM_JOIN_SCHEMA).parquet(out_path)


DEDUP_EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, event_type string, value double"
)


def dedup_events_stream(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "1 hour",
    sink_dir: str | None = None,
) -> DataFrame:
    """Streaming exactly-once repair for an at-least-once source:
    ``dropDuplicatesWithinWatermark`` on the event key over a stream
    that delivers every event TWICE (each row fanned out through a
    2-element explode — the redelivery pattern a replayed Kafka offset
    or a retried producer actually produces). The first arrival of each
    event_id is emitted immediately in APPEND mode; the duplicate is
    suppressed by keyed state, and the watermark bounds that state:
    a key's tombstone is dropped once the watermark passes its event
    time + delay, so state never grows with the stream's lifetime —
    the property that makes this run forever at 100 TB/day. Emissions
    go straight to a parquet file sink (distributed write, nothing
    through the driver); the returned DataFrame scans the sink."""
    from ..util import fresh_run_dir

    if sink_dir is None:
        sink_dir = fresh_run_dir("dedup_events", f"{sf_dir}|{delay}")
    out_path = os.path.join(sink_dir, "out")
    ckpt = os.path.join(sink_dir, "ckpt")
    ev = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    # at-least-once simulation: every event arrives twice in-stream
    doubled = ev.withColumn(
        "delivery", F.explode(F.array(F.lit(0), F.lit(1)))
    ).drop("delivery")
    out = (
        doubled.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "event_type",
            "value",
        )
    )
    _drain_to_parquet_sink(spark, out, out_path, ckpt)
    return spark.read.schema(DEDUP_EVENTS_SCHEMA).parquet(out_path)


def hll_register_stream(
    spark: SparkSession, sf_dir: str, run_tag: str, base_dir: str | None = None
) -> DataFrame:
    """Streaming HLL: the distinct-text sketch maintained over a
    document STREAM — per micro-batch, compute the batch's register
    partials (<=256 tiny rows) and append them to a parquet sink; the
    final sketch is the register-wise max over everything the stream
    ever appended, finalized identically to the batch sketch.

    Because register-max is associative and commutative, the merged
    result is INDEPENDENT of how the stream happened to micro-batch the
    corpus — so the streaming sketch must equal `hll_distinct_sketch`'s
    batch answer exactly, and the same DuckDB oracle checks both
    (stream/batch equivalence, extended to sketch state). State per
    epoch through the sink is kilobytes regardless of corpus size: the
    shape that lets a 100 TB ingest keep a live cardinality estimate
    without ever rescanning.
    """
    from ..plans.queries_dedup import _hll_finalize, _hll_rho_rows
    from ..util import fresh_run_dir

    # ``base_dir`` lets tests/harnesses place (and inspect) the sink —
    # e.g. the plan-shape test asserts the sink stays sketch-sized —
    # without duplicating fresh_run_dir's private path scheme
    base = base_dir if base_dir is not None else fresh_run_dir("hll_stream", run_tag)
    docs_dir = os.path.join(base, "docs")
    sink = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    from ..sources.parquet import load_table

    load_table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        4
    ).write.parquet(docs_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        # blind append is REPLAY-SAFE here by algebra, unlike the tier/
        # first-seen sinks: a crash-replayed epoch appends duplicate
        # register partials, and the read-side register-wise MAX merge
        # absorbs duplicates without changing the sketch
        (
            _hll_rho_rows(batch_df.select("text"))
            .groupBy("register_id")
            .agg(F.max("rho").cast("long").alias("rho"))
            .write.mode("append")
            .parquet(sink)
        )

    with _stream_confs(spark):
        _run_to_completion(
            stream.writeStream.foreachBatch(write_epoch)
            .option("checkpointLocation", ckpt)
        )
    reg = (
        spark.read.schema("register_id long, rho long")
        .parquet(sink)
        .groupBy("register_id")
        .agg(F.max("rho").cast("long").alias("max_rho"))
    )
    return _hll_finalize(reg)


OUTER_JOIN_SCHEMA = (
    "purchase_id long, user_id long, click_id long, gap_us long, attributed boolean"
)


def purchase_click_attribution_outer(
    spark: SparkSession,
    sf_dir: str,
    lookback_minutes: int = 60,
    sink_dir: str | None = None,
) -> DataFrame:
    """LEFT OUTER stream-stream join — the attribution shape extended
    with the rows the inner join can never show: purchases with NO
    click in the lookback window, emitted with null click columns once
    the click-side watermark passes the end of their match window.
    That late emission is the semantics that makes outer stream joins
    a different operator, not a join-type flag: the state store must
    HOLD each unmatched purchase exactly until the watermark proves no
    matching click can still arrive, then release it — bounded state
    AND complete output.

    Stream/batch equivalence caveat the dress test handles: rows near
    the end of a bounded run are only released if the final watermark
    passes their window, so an exact batch comparison appends a
    far-future sentinel event to both sides (filtered from the output)
    to sweep the watermark past every real row.
    """
    from ..util import fresh_run_dir

    if sink_dir is None:
        sink_dir = fresh_run_dir(
            "purchase_click_outer", f"{sf_dir}|{lookback_minutes}"
        )
    out_path = os.path.join(sink_dir, "out")
    ckpt = os.path.join(sink_dir, "ckpt")
    out = _attribution_join(spark, sf_dir, lookback_minutes, "leftOuter").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "click_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
        F.col("click_id").isNotNull().alias("attributed"),
    )
    _drain_to_parquet_sink(spark, out, out_path, ckpt)
    return spark.read.schema(OUTER_JOIN_SCHEMA).parquet(out_path)


def stream_merge_into_table(
    stream_df: DataFrame,
    table_path: str,
    key_col: str,
    txn_app: str,
    checkpoint: str,
    auto_optimize_every: int | None = None,
    auto_optimize_small_bytes: int = 8 << 20,
    table_kwargs: dict | None = None,
):
    """Exactly-once streaming upsert into the transactional lakehouse
    table. foreachBatch delivery is AT-LEAST-ONCE: after a
    crash between the sink's side effect and the checkpoint commit,
    Structured Streaming replays the whole micro-batch with the SAME
    epoch_id. Each epoch therefore merges with a (txn_app, epoch_id)
    commit marker, and ``TransactionalTable``'s Delta-style txn check
    turns the replay into a no-op — at-least-once delivery composed
    with an idempotent commit is exactly-once table state, with no
    two-phase coordination between the checkpoint and the table.

    Runs the stream to completion with availableNow semantics and
    returns the ``TransactionalTable``; the per-epoch merge work is
    bounded by the table's footer-stats file skipping, so a day of
    micro-batches costs reads proportional to the keys it touched,
    not the table.

    ``auto_optimize_every=N`` compacts small files after every Nth
    epoch: each micro-batch commits its own txn files, so
    an unattended stream accretes one small file per epoch and dies
    by open() overhead long before data volume — the auto-compaction
    every streaming table sink ends up needing. The optimize commit is
    row-preserving and races safely (its optimistic loop recomputes
    against any interleaved merge), and replayed epochs skip their
    merge via the txn marker but may re-trigger a harmless optimize
    (idempotent: a second pass finds nothing small to pack)."""
    from ..sinks.lakehouse import TransactionalTable

    spark = stream_df.sparkSession
    # table_kwargs passes table policies through (partition_by,
    # cluster_by, bloom_col...) for a FRESH table; an existing table
    # inherits its committed policies anyway, so this only matters on
    # the first epoch that bootstraps the table
    table = TransactionalTable(spark, table_path, **(table_kwargs or {}))

    def commit_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        table.merge(
            batch_df, key_col, txn_app=txn_app, txn_version=int(epoch_id)
        )
        # falsy (None or 0) disables — 0 is a natural spelling of
        # "never", and modulo-zero inside foreachBatch would kill the
        # whole stream after its first merge commit
        if auto_optimize_every and (int(epoch_id) + 1) % auto_optimize_every == 0:
            table.optimize(small_bytes=auto_optimize_small_bytes)

    # deliberately NOT under _stream_confs: this sink has no stateful
    # streaming operator, so the small stream shuffle-partition count
    # (sized for state-store instance overhead) would only throttle the
    # per-epoch merge/optimize jobs' parallelism on the table's hot
    # path — those run as ordinary batch jobs inside foreachBatch and
    # should keep the session's width
    _run_to_completion(
        stream_df.writeStream.foreachBatch(commit_epoch)
        .option("checkpointLocation", checkpoint)
    )
    return table
