"""Tests for the scale-path extensions with no (or weaker) SQL oracle:
LSH ANN recall vs brute force, curation sink round-trip, streaming
foreachBatch pipeline, multimodal batch shapes, union-by-name folder
reads, excel gating."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE, _jobs_launched


def test_lsh_topk_subset_and_recall(spark):
    """LSH-bucketed top-k must (a) only return pairs the brute force
    also scores, with identical cosine values, and (b) keep rank-1
    recall above a floor on this corpus."""
    from data_finder_comparator_spark.plans.catalog import QUERIES

    brute = {
        (r.probe_id, r.cand_id): r.cos_sim
        for r in QUERIES["ann_cosine_topk"](spark, SF_ORACLE).collect()
    }
    lsh_rows = QUERIES["ann_lsh_topk"](spark, SF_ORACLE).collect()
    assert lsh_rows, "LSH query returned nothing"
    # cosine values must agree exactly where pairs overlap
    for r in lsh_rows:
        if (r.probe_id, r.cand_id) in brute:
            assert brute[(r.probe_id, r.cand_id)] == r.cos_sim
    # rank-1 recall: of probes where LSH found anything, its top hit
    # should frequently be the true top-5 (recall<1 is expected)
    top1 = {r.probe_id: r.cand_id for r in lsh_rows if r.rnk == 1}
    hits = sum(1 for p, c in top1.items() if (p, c) in brute)
    assert hits >= len(top1) * 0.3


def test_curation_sink_roundtrip(spark):
    """keep/replace applied + parquet append sink (S3/S4): the curated
    table reflects replacements; appending twice doubles the rows."""
    from data_finder_comparator_spark.operators.curation import (
        append_sink,
        apply_curation,
        curation_decisions,
    )
    from data_finder_comparator_spark.operators.fuzzy_join import tiered_fuzzy_join

    probe = spark.createDataFrame(
        [(1, "cold widgetx", 5.0), (2, "zzz999", 7.0)],
        "probe_id long, sku string, price double",
    )
    cand = spark.createDataFrame(
        [(10, "cold widget"), (11, "teal widget")], "cand_id long, cand string"
    )
    tiers = tiered_fuzzy_join(
        probe.select("probe_id", F.col("sku").alias("probe")), cand, threshold=3
    )
    decisions = curation_decisions(tiers)
    curated = apply_curation(probe, decisions, "probe_id", "sku")
    got = {r.probe_id: r.sku for r in curated.collect()}
    assert got[1] == "cold widget"  # unique best -> replaced
    assert got[2] == "zzz999"  # poor tier only -> kept
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "sink")
        append_sink(curated, path)
        append_sink(curated, path)
        back = spark.read.parquet(path)
        assert back.count() == 2 * curated.count()
        assert set(back.columns) == set(curated.columns)


def _drain_tiers(spark, probes_dir, cand, sink, checkpoint=None) -> None:
    """The streamed tier join: ``run_find_compare``'s drain with
    ``tiered_fuzzy_join`` (threshold 3) as each epoch's rows, over a
    catalog prepared once and released when the drain ends."""
    from functools import partial

    from data_finder_comparator_spark.operators.fuzzy_join import (
        prepare_candidates,
        tiered_fuzzy_join,
    )
    from data_finder_comparator_spark.pipeline import _drain_stream

    reg: list = []
    try:
        prepared = prepare_candidates(cand, cache_registry=reg)
        _drain_stream(
            spark,
            str(probes_dir),
            sink,
            prepared,
            partial(tiered_fuzzy_join, threshold=3),
            checkpoint=checkpoint,
        )
    finally:
        for df in reg:
            df.unpersist()


def test_streaming_fuzzy_pipeline(spark, tmp_path):
    """T1 micro-batch pipeline: stream probe keys from files, fuzzy-join
    each batch against a static candidate table, write to a sink."""
    probes_dir = tmp_path / "probes"
    spark.createDataFrame(
        [(1, "cold widgetx"), (2, "old widget")], "probe_id long, probe string"
    ).write.parquet(str(probes_dir))
    cand = spark.createDataFrame(
        [(10, "cold widget"), (11, "old widget")], "cand_id long, cand string"
    )
    sink = str(tmp_path / "sink")
    _drain_tiers(spark, probes_dir, cand, sink)
    out = spark.read.parquet(sink).collect()
    tiers = {(r.probe_id, r.cand_id, r.tier) for r in out}
    assert (2, 11, "exact") in tiers
    assert (1, 10, "best") in tiers


def test_upsert_sink_merge_semantics(spark, tmp_path):
    """upsert_sink: existing keys are replaced, new keys appended, and
    untouched rows survive the rewrite."""
    from data_finder_comparator_spark.operators.curation import upsert_sink

    path = str(tmp_path / "merge_sink")
    v1 = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "sku string, price double"
    )
    upsert_sink(v1, path, "sku")
    v2 = spark.createDataFrame(
        [("b", 20.0), ("d", 4.0)], "sku string, price double"
    )
    upsert_sink(v2, path, "sku")
    got = {r.sku: r.price for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1.0, "b": 20.0, "c": 3.0, "d": 4.0}
    assert not os.path.exists(path + ".staging")
    assert not os.path.exists(path + ".old")


def test_upsert_sink_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames leaves path missing with
    the complete merge in .staging and the old sink in .old; the next
    call must promote the staged merge, not resurrect the old data or
    lose the sink."""
    import shutil

    from data_finder_comparator_spark.operators.curation import upsert_sink

    path = str(tmp_path / "crash_sink")
    upsert_sink(
        spark.createDataFrame([("a", 1.0)], "sku string, price double"), path, "sku"
    )
    # simulate: staged merge {a: 10.0} complete, first rename done,
    # second rename never happened
    staged = spark.createDataFrame([("a", 10.0)], "sku string, price double")
    staged.write.mode("overwrite").parquet(path + ".staging")
    shutil.move(path, path + ".old")
    upsert_sink(
        spark.createDataFrame([("b", 2.0)], "sku string, price double"), path, "sku"
    )
    got = {r.sku: r.price for r in spark.read.parquet(path).collect()}
    assert got == {"a": 10.0, "b": 2.0}  # staged merge won, then b merged
    assert not os.path.exists(path + ".staging")
    assert not os.path.exists(path + ".old")


def test_upsert_sink_incomplete_staging_rolls_back(spark, tmp_path):
    """An INCOMPLETE .staging (no _SUCCESS marker: crash mid-staging
    after path was moved aside) must be discarded and the old sink
    restored."""
    import shutil

    from data_finder_comparator_spark.operators.curation import upsert_sink

    path = str(tmp_path / "rb_sink")
    upsert_sink(
        spark.createDataFrame([("a", 1.0)], "sku string, price double"), path, "sku"
    )
    staged = spark.createDataFrame([("a", 99.0)], "sku string, price double")
    staged.write.mode("overwrite").parquet(path + ".staging")
    os.remove(path + ".staging/_SUCCESS")
    shutil.move(path, path + ".old")
    upsert_sink(
        spark.createDataFrame([("b", 2.0)], "sku string, price double"), path, "sku"
    )
    got = {r.sku: r.price for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1.0, "b": 2.0}  # old sink restored, 99.0 discarded


def test_partition_pruning(spark, tmp_path):
    """Hive-style partitioned writes must prune at plan time: a filter
    on the partition column appears as a PartitionFilter (not a data
    filter) and non-matching partition directories are never scanned."""
    src = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("shard"),
        (F.col("id") * 2.0).alias("v"),
    )
    path = str(tmp_path / "parted")
    src.write.partitionBy("shard").parquet(path)
    df = spark.read.parquet(path).filter(F.col("shard") == "2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the shard predicate is a PARTITION filter (directory-level prune),
    # not a data filter evaluated per row group
    assert "PartitionFilters: [isnotnull(shard" in plan and "= 2" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert "PushedFilters: []" in plan
    assert df.count() == 250


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketed tables with matching bucket counts must join with NO
    Exchange in the physical plan (the shuffle was paid at write time),
    and produce the same rows as the plain join."""
    from data_finder_comparator_spark.sources.bucketed import (
        bucketed_join,
        write_bucketed,
    )

    orders = spark.createDataFrame(
        [(i, f"c{i % 7}", float(i)) for i in range(200)],
        "o_key long, cust string, total double",
    )
    items = spark.createDataFrame(
        [(i % 150, j, float(i * j)) for i in range(300) for j in range(2)],
        "o_key long, line long, price double",
    )
    write_bucketed(orders, "b_orders_t", "o_key", 4, sort_col="o_key")
    write_bucketed(items, "b_items_t", "o_key", 4, sort_col="o_key")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force the shuffle-join path (tiny test tables would broadcast):
    # the point is that bucketing removes the Exchange a SortMergeJoin
    # would otherwise need on both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders_t", "b_items_t", "o_key")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        got = sorted((r.o_key, r.line) for r in joined.collect())
        want = sorted((r.o_key, r.line) for r in orders.join(items, "o_key").collect())
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders_t")
        spark.sql("DROP TABLE IF EXISTS b_items_t")


def test_engine_config_roundtrip():
    from data_finder_comparator_spark.config import EngineConfig

    import pytest as _pytest

    cfg = EngineConfig(threshold=0, strategy="qgram", data_folder="")
    back = EngineConfig.from_json(cfg.to_json())
    assert back == cfg
    assert back.threshold == 0  # '0' is a value, not unset (§2.11 bug 3)
    assert back.search_path == ""  # empty data_folder doesn't clear it
    with _pytest.raises(ValueError):
        EngineConfig(threshold=-1)
    with _pytest.raises(ValueError):
        EngineConfig(strategy="nested-loop")
    with _pytest.raises(ValueError):
        EngineConfig.from_json('{"no_such_field": 1}')


def test_salted_ops_match_unsalted(spark):
    from data_finder_comparator_spark.operators.skew import (
        salted_aggregate,
        salted_join,
    )

    # skewed: key 'hot' dominates; nulls included (count(col) must
    # count non-null values only, like the unsalted aggregate)
    rows = [
        (("hot" if i % 10 else f"k{i}"), None if i % 7 == 0 else i, float(i))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "k string, v long, x double")
    got = {
        (r.k, r.n, r.s, r.mn)
        for r in salted_aggregate(
            df, ["k"], {"n": ("v", "count"), "s": ("v", "sum"), "mn": ("v", "min")}, 8
        ).collect()
    }
    want = {
        (r.k, r.n, r.s, r.mn)
        for r in df.groupBy("k")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"), F.min("v").alias("mn"))
        .collect()
    }
    assert got == want
    with pytest.raises(ValueError):
        salted_join(df, df.limit(1), ["k"], 4, how="full")
    dim = spark.createDataFrame([("hot", 1), ("k1", 2)], "k string, tag long")
    key = lambda t: tuple((v is None, v if v is not None else 0) for v in t)  # noqa: E731
    got_j = sorted(
        ((r.k, r.v, r.tag) for r in salted_join(df, dim, ["k"], 8).collect()), key=key
    )
    want_j = sorted(((r.k, r.v, r.tag) for r in df.join(dim, "k").collect()), key=key)
    assert got_j == want_j


def test_watermarked_append_windows(spark, tmp_path):
    """withWatermark + tumbling window in APPEND mode: a window is
    emitted exactly once, only after the watermark passes its end, and
    events later than the watermark are dropped from already-final
    windows — the bounded-state contract for late data."""
    from datetime import datetime

    def ev(evid, hh, mm):
        return (evid, datetime(2026, 1, 1, hh, mm), "click", 1.0)

    d = tmp_path / "wmev"
    d.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"
    # batch 1: two hour-0 events + one at 02:30 -> watermark 01:30,
    # which FINALIZES the hour-0 window (end 01:00 < 01:30)
    spark.createDataFrame(
        [ev(1, 0, 10), ev(2, 0, 20), ev(3, 2, 30)], schema
    ).coalesce(1).write.parquet(str(d / "f0"))
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(d / "*"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_append_t")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 completes; watermark -> 01:30
        # batch 2 (written only after batch 1 drained): advance to
        # 05:00 + a LATE hour-0 event, behind the 01:30 watermark and
        # aimed at the already-final window -> dropped
        spark.createDataFrame(
            [ev(4, 5, 0), ev(5, 0, 40)], schema
        ).coalesce(1).write.parquet(str(d / "f1"))
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [(r.ws.hour, r.n) for r in spark.table("wm_append_t").collect()]
    # hour-0 window finalized with the 2 on-time events only (event 5,
    # behind the watermark, is dropped); hour-2 emitted once after the
    # watermark reaches 04:00; hour-5 still open -> absent
    assert sorted(rows) == [(0, 2), (2, 1)]
    """minhash_lsh_bands must equal minhash_signatures->lsh_bands even
    when rows_per_band does not divide n_hashes (partial tail band)."""
    from data_finder_comparator_spark.operators.dedup import (
        char_shingles,
        lsh_bands,
        minhash_lsh_bands,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumped"),
         (3, "entirely different text here")],
        "doc_id long, text string",
    )
    sh = char_shingles(docs, "doc_id", "text", k=5, distinct=False)
    fused = {(r.doc_id, r.band, r.sig) for r in minhash_lsh_bands(sh, 13, 3).collect()}
    unfused = {
        (r.doc_id, r.band, r.sig)
        for r in lsh_bands(minhash_signatures(sh, 13), 3).collect()
    }
    assert fused == unfused
    assert {b for _, b, _ in fused} == {0, 1, 2, 3, 4}  # 13 seeds -> 5 bands


def test_stateful_first_seen_dedup(spark, tmp_path):
    """applyInPandasWithState: per-key state suppresses re-arrivals
    across micro-batches — a duplicate hash in a LATER file must not be
    re-emitted, and the batch-1 winner is its min doc_id."""
    from data_finder_comparator_spark.streaming.pipeline import first_seen_stream

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    # hash "b" recurs in the SECOND micro-batch (written only after the
    # first is fully drained, so batch separation is guaranteed) and
    # must be suppressed there by the per-key state
    spark.createDataFrame(
        [(3, "a"), (1, "b"), (2, "b")], "doc_id long, content_hash string"
    ).coalesce(1).write.parquet(str(docs_dir / "f0"))
    stream = (
        spark.readStream.schema("doc_id long, content_hash string")
        .parquet(str(docs_dir / "*"))
    )
    out = first_seen_stream(stream, "doc_id", "content_hash")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("first_seen_t")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(9, "b"), (4, "c")], "doc_id long, content_hash string"
        ).coalesce(1).write.parquet(str(docs_dir / "f1"))
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r.content_hash, r.doc_id)
        for r in spark.table("first_seen_t").collect()
        if r.content_hash is not None
    }
    assert ("b", 1) in rows  # batch-1 winner (min id), re-arrival suppressed
    assert sum(1 for h, _ in rows if h == "b") == 1
    assert ("a", 3) in rows and ("c", 4) in rows


def test_multimodal_batch_shape(spark):
    """mapInPandas plumbing: stable schema, deterministic features,
    payload md5 matches the text md5 (utf-8 fabricated payload)."""
    from data_finder_comparator_spark.operators.multimodal import (
        FEATURE_DIM,
        attach_binary_payload,
        binary_features,
        decode_media,
    )

    df = spark.createDataFrame([(1, "hello"), (2, "wörld")], "doc_id long, text string")
    feats = binary_features(attach_binary_payload(df, "doc_id", "text")).collect()
    by_id = {r.doc_id: r for r in feats}
    assert by_id[1].payload_md5 == __import__("hashlib").md5(b"hello").hexdigest()
    assert by_id[2].n_bytes == len("wörld".encode())
    for r in feats:
        assert len(r.feat) == FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r.feat)
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG", "image/png")


def test_read_folder_union_by_name(spark, tmp_path):
    """Heterogeneous folder: falls back to unionByName with null fill;
    homogeneous folder: single multi-file scan. Neither launches a job
    to build the frame."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    het = tmp_path / "het"
    spark.createDataFrame([(1, "a")], "id long, x string").write.parquet(
        str(het / "f1.parquet")
    )
    spark.createDataFrame([(2, 3.5)], "id long, y double").write.parquet(
        str(het / "f2.parquet")
    )
    def read_without_jobs(folder):
        # parquet schemas come from footers on the driver: no Spark job
        out = []
        assert _jobs_launched(spark, lambda: out.append(read_folder_union_by_name(spark, folder))) == 0
        return out[0]

    df = read_without_jobs(str(het))
    assert set(df.columns) == {"id", "x", "y"}
    rows = {r.id: (r.x, r.y) for r in df.collect()}
    assert rows[1] == ("a", None) and rows[2] == (None, 3.5)

    hom = tmp_path / "hom"
    for i in (1, 2):
        spark.createDataFrame([(i, "v")], "id long, x string").write.parquet(
            str(hom / f"f{i}.parquet")
        )
    assert read_without_jobs(str(hom)).count() == 2


def test_read_folder_csv_headers_and_types(spark, tmp_path):
    """Ad-hoc csv folder probe reads the header row as HEADER (not
    data) and infers types — the r13-deferred union.py fix: the probe
    previously set neither option, so headers ingested as data rows
    and every column arrived as string."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    d = tmp_path / "csvs"
    d.mkdir()
    (d / "a.csv").write_text("id,score\n1,1.5\n2,2.5\n")
    (d / "b.csv").write_text("id,score\n3,3.5\n")
    df = read_folder_union_by_name(spark, str(d), fmt="csv")
    assert df.count() == 3  # header rows are NOT data rows
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {"id": "int", "score": "double"}
    assert {r.id for r in df.collect()} == {1, 2, 3}


def test_csv_folder_probe_cost_is_bounded(spark, tmp_path):
    """r14 verdict item 3: the ad-hoc folder probe must not pay one
    schema-inference SCAN per file. A homogeneous csv folder groups by
    first-line header signature (driver-side bounded reads, zero
    Spark jobs) and runs ONE representative inference scan — so the
    eager job count during the read call is independent of the file
    count: a 10-file folder issues exactly as many jobs as a 2-file
    folder, not five times as many."""
    from data_finder_comparator_spark.sources.union import (
        read_folder_union_by_name,
    )

    sc = spark.sparkContext

    def _eager_jobs(n_files: int, tag: str) -> int:
        d = tmp_path / tag
        d.mkdir()
        for i in range(n_files):
            (d / f"f{i:02d}.csv").write_text(f"id,score\n{i},{i}.5\n")
        sc.setJobGroup(tag, "bounded folder probe")
        try:
            df = read_folder_union_by_name(spark, str(d), fmt="csv")
        finally:
            sc.setJobGroup("idle", "idle")
        jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
        assert df.count() == n_files
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert types == {"id": "int", "score": "double"}
        return jobs

    small, big = _eager_jobs(2, "csv2"), _eager_jobs(10, "csv10")
    assert big == small, f"probe jobs must not scale with files: {small} vs {big}"
    assert big <= 3, f"expected ~one inference scan, saw {big} jobs"

    # heterogeneous folder: one probe per SIGNATURE (two groups), and
    # the union still null-fills by name
    het = tmp_path / "het"
    het.mkdir()
    (het / "a.csv").write_text("id,score\n1,1.5\n")
    (het / "b.csv").write_text("id,label\n2,x\n")
    df = read_folder_union_by_name(spark, str(het), fmt="csv")
    rows = {r.id: (r.score, r.label) for r in df.collect()}
    assert rows == {1: (1.5, None), 2: (None, "x")}

    # within-folder heterogeneous JSON: first-record key signatures
    # split the files into two groups (6 files -> 2 inference scans,
    # not 6), each group multi-file-scans under its probed schema
    jhet = tmp_path / "jhet"
    jhet.mkdir()
    for i in range(3):
        (jhet / f"a{i}.jsonl").write_text(f'{{"id": {i}, "x": "a{i}"}}\n')
        (jhet / f"b{i}.jsonl").write_text(f'{{"id": {10 + i}, "y": {i}.5}}\n')
    sc.setJobGroup("jhet", "het json probe")
    try:
        jdf = read_folder_union_by_name(spark, str(jhet), fmt="jsonl")
    finally:
        sc.setJobGroup("idle", "idle")
    jjobs = len(sc.statusTracker().getJobIdsForGroup("jhet"))
    assert jjobs <= 4, f"expected one inference scan per signature, saw {jjobs}"
    jrows = {r.id: (r.x, r.y) for r in jdf.collect()}
    assert jrows == {
        0: ("a0", None), 1: ("a1", None), 2: ("a2", None),
        10: (None, 0.5), 11: (None, 1.5), 12: (None, 2.5),
    }


def test_json_group_inference_preserves_later_record_keys(spark, tmp_path):
    """The grouped-probe column-loss hole (r15 verdict item 1): files
    whose FIRST records share a key signature but whose LATER records
    carry extra keys — sparse/optional fields, the norm in scraped
    JSONL — must surface those keys as null-filled columns. The r15
    representative-file schema silently dropped them (PERMISSIVE mode
    discards unknown keys); the group-wide inference read preserves
    them, still in ONE eager inference job for the group."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    d = tmp_path / "drift"
    d.mkdir()
    (d / "a.jsonl").write_text('{"id": 1, "x": "a"}\n{"id": 2, "x": "b"}\n')
    (d / "b.jsonl").write_text(
        '{"id": 3, "x": "c"}\n{"id": 4, "x": "d", "extra": 7}\n'
    )
    sc = spark.sparkContext
    sc.setJobGroup("jdrift", "group inference probe")
    try:
        df = read_folder_union_by_name(spark, str(d), fmt="jsonl")
    finally:
        sc.setJobGroup("idle", "idle")
    jobs = len(sc.statusTracker().getJobIdsForGroup("jdrift"))
    assert jobs <= 2, f"one group -> one eager inference job, saw {jobs}"
    assert "extra" in df.columns, "later-record key must not be dropped"
    rows = sorted((r.id, r.x, r.extra) for r in df.collect())
    assert rows == [(1, "a", None), (2, "b", None), (3, "c", None), (4, "d", 7)]


def test_json_group_inference_widens_later_record_type_drift(spark, tmp_path):
    """Same-key type drift visible only in LATER records (first records
    agree, so the files share a group): the group-wide inference widens
    the column to string and every value survives — the r15 forced
    representative schema read the drifted records as silent PERMISSIVE
    nulls instead."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    d = tmp_path / "tdrift"
    d.mkdir()
    (d / "a.jsonl").write_text('{"id": 1, "v": 1}\n')
    (d / "b.jsonl").write_text('{"id": 2, "v": 2}\n{"id": 3, "v": "x"}\n')
    df = read_folder_union_by_name(spark, str(d), fmt="jsonl")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["v"] == "string", "conflicting value types must widen, not null"
    assert sorted((r.id, r.v) for r in df.collect()) == [
        (1, "1"), (2, "2"), (3, "x"),
    ]


def test_json_null_first_record_is_a_type_wildcard(spark, tmp_path):
    """A null first-record value carries no type evidence, so it must
    NOT split the file into its own signature group (r16 review: the
    split routed widen-able drift into separate groups whose union
    then crashed with CAST_INVALID_INPUT). The null-bearing file joins
    the compatible key-set group; the group-wide inference resolves
    the real type loss-free."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    d = tmp_path / "nullsig"
    d.mkdir()
    (d / "a.jsonl").write_text('{"id": 1, "v": null}\n{"id": 2, "v": "abc"}\n')
    (d / "b.jsonl").write_text('{"id": 3, "v": 5}\n')
    df = read_folder_union_by_name(spark, str(d), fmt="jsonl")
    # one merged group -> inference over all records widens v to
    # string, every value preserved (the pre-fix split crashed here)
    assert sorted((r.id, r.v) for r in df.collect()) == [
        (1, None), (2, "abc"), (3, "5"),
    ]
    # the bridge case: a null-bearing file can merge two otherwise-
    # conflicting groups — widened stringly instead of crashing,
    # consistent with the later-record-drift contract
    d2 = tmp_path / "bridge"
    d2.mkdir()
    (d2 / "a.jsonl").write_text('{"id": 1, "v": null}\n')
    (d2 / "b.jsonl").write_text('{"id": 2, "v": "x"}\n')
    (d2 / "c.jsonl").write_text('{"id": 3, "v": 7}\n')
    df2 = read_folder_union_by_name(spark, str(d2), fmt="jsonl")
    assert sorted((r.id, r.v) for r in df2.collect()) == [
        (1, None), (2, "x"), (3, "7"),
    ]


def test_merge_null_wildcard_groups_properties():
    """Pure-python properties of the signature-merge pass: every file
    survives exactly once, merges never cross key sets, null-free
    conflicting signatures never merge, and any two signatures that
    end up together are connected through a chain of
    null-compatible pairs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_finder_comparator_spark.sources.union import (
        _merge_null_wildcard_groups,
    )

    keysets = [("a",), ("a", "b"), ("b", "c")]
    classes = st.sampled_from(["num", "str", "bool", "null"])

    @st.composite
    def sig(draw):
        ks = draw(st.sampled_from(keysets))
        return ("json", tuple((k, draw(classes)) for k in ks))

    @settings(max_examples=200, deadline=None)
    @given(sigs=st.lists(sig(), min_size=1, max_size=6, unique=True))
    def check(sigs):
        groups = {s: [f"f{i}"] for i, s in enumerate(sigs)}
        merged = _merge_null_wildcard_groups(groups)
        # conservation: every file exactly once
        flat = sorted(f for fs in merged.values() for f in fs)
        assert flat == sorted(f for fs in groups.values() for f in fs)
        # reconstruct membership: which original sigs merged together
        by_file = {fs[0]: s for s, fs in groups.items()}
        clusters = [
            [by_file[f] for f in fs] for fs in merged.values()
        ]

        def keyset(s):
            return tuple(k for k, _ in s[1])

        def pair_ok(x, y):
            return keyset(x) == keyset(y) and all(
                cx == cy or "null" in (cx, cy)
                for (_, cx), (_, cy) in zip(x[1], y[1])
            )

        for cl in clusters:
            # no cross-keyset merges
            assert len({keyset(s) for s in cl}) == 1
            # connectivity through null-compatible edges (union-find
            # semantics: transitive closure of pairwise compatibility)
            if len(cl) > 1:
                reached = {0}
                frontier = [0]
                while frontier:
                    i = frontier.pop()
                    for j in range(len(cl)):
                        if j not in reached and pair_ok(cl[i], cl[j]):
                            reached.add(j)
                            frontier.append(j)
                assert reached == set(range(len(cl))), cl
        # null-free conflicting sigs must stay apart unless a null
        # bridge connects them (covered by connectivity above); the
        # direct check: two sigs with no null anywhere and different
        # classes are never in the same cluster
        for cl in clusters:
            pure = [
                s for s in cl if all(c != "null" for _, c in s[1])
            ]
            assert len({s[1] for s in pure}) <= 1 or any(
                any(c == "null" for _, c in s[1]) for s in cl
            )

    check()


def test_json_first_record_type_conflict_fails_loudly(spark, tmp_path):
    """Files whose FIRST records already disagree on a shared key's
    primitive type land in different signature groups, and the union
    refuses the conflict STRUCTURALLY at plan time (r16 ADVICE: the
    previous reliance on Spark's union coercion was data-dependent —
    a numeric-parseable string like "123" coerced silently and only
    non-castable values raised, at action time) — never a silent
    PERMISSIVE null, and never a value-dependent pass."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    d = tmp_path / "conflict"
    d.mkdir()
    (d / "a.jsonl").write_text('{"id": 1, "v": 1}\n')
    (d / "b.jsonl").write_text('{"id": 2, "v": "not-a-number"}\n')
    with pytest.raises(ValueError, match="folder schema conflict on column 'v'"):
        read_folder_union_by_name(spark, str(d), fmt="jsonl")

    # the data-dependent hole the structural check closes: a
    # numeric-PARSEABLE string previously coerced to bigint silently
    d2 = tmp_path / "parseable"
    d2.mkdir()
    (d2 / "a.jsonl").write_text('{"id": 1, "v": 1}\n')
    (d2 / "b.jsonl").write_text('{"id": 2, "v": "123"}\n')
    with pytest.raises(ValueError, match="folder schema conflict on column 'v'"):
        read_folder_union_by_name(spark, str(d2), fmt="jsonl")

    # review finding: names must key CASE-INSENSITIVELY like the
    # union's own resolution (spark.sql.caseSensitive=false) — "V" vs
    # "v" previously bypassed the check and hit the action-time cast
    d3 = tmp_path / "case"
    d3.mkdir()
    (d3 / "a.jsonl").write_text('{"id": 1, "V": "not-a-number"}\n')
    (d3 / "b.jsonl").write_text('{"id": 2, "x": 1, "v": 5}\n')
    with pytest.raises(ValueError, match="folder schema conflict on column 'v'"):
        read_folder_union_by_name(spark, str(d3), fmt="jsonl")


def test_struct_field_superset_unions_loss_free(spark, tmp_path):
    """Review finding: the structural check must NOT refuse what the
    union reconciles loss-free — same-name STRUCT columns whose field
    sets differ are nested null-fill (allowMissingColumns semantics),
    and numeric widening inside nested types passes too. Only a
    genuinely unsafe leaf (string vs numeric) refuses."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    d = tmp_path / "nested"
    d.mkdir()
    (d / "a.jsonl").write_text('{"id": 1, "meta": {"a": 1}}\n')
    (d / "b.jsonl").write_text('{"id": 2, "x": 5, "meta": {"a": 2, "b": 3}}\n')
    df = read_folder_union_by_name(spark, str(d), fmt="jsonl")
    got = sorted(
        (r.id, r.meta.a, r.meta.b if r.meta else None, r.x) for r in df.collect()
    )
    assert got == [(1, 1, None, None), (2, 2, 3, 5)]

    # unsafe LEAF inside the struct still refuses
    d2 = tmp_path / "nested_bad"
    d2.mkdir()
    (d2 / "a.jsonl").write_text('{"id": 1, "meta": {"a": 1}}\n')
    (d2 / "b.jsonl").write_text('{"id": 2, "x": 5, "meta": {"a": "oops"}}\n')
    with pytest.raises(ValueError, match="folder schema conflict on column 'meta'"):
        read_folder_union_by_name(spark, str(d2), fmt="jsonl")


def test_folder_schema_escape_hatch(spark, tmp_path):
    """r16 ADVICE: schema= skips the inference pass (each byte read
    once) while keeping folder semantics — json null-fills missing
    keys under the declared schema, the declared types make the
    conflict-coercion DELIBERATE, csv maps positionally, and the
    unsupported fmts refuse."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    d = tmp_path / "jf"
    d.mkdir()
    (d / "a.jsonl").write_text('{"id": 1, "v": 1}\n{"id": 2}\n')
    (d / "b.jsonl").write_text('{"id": 3, "v": "123", "extra": true}\n')
    df = read_folder_union_by_name(
        spark, str(d), fmt="jsonl", schema="id long, v string, extra boolean"
    )
    assert sorted((r.id, r.v, r.extra) for r in df.collect()) == [
        (1, "1", None),
        (2, None, None),
        (3, "123", True),
    ]

    c = tmp_path / "cf"
    c.mkdir()
    (c / "a.csv").write_text("id,v\n1,10\n")
    (c / "b.csv").write_text("id,v\n2,20\n")
    cdf = read_folder_union_by_name(spark, str(c), fmt="csv", schema="id long, v long")
    assert {f.name: f.dataType.simpleString() for f in cdf.schema.fields} == {
        "id": "bigint",
        "v": "bigint",
    }
    assert sorted((r.id, r.v) for r in cdf.collect()) == [(1, 10), (2, 20)]

    with pytest.raises(ValueError, match="not supported"):
        read_folder_union_by_name(spark, str(d), fmt="any", schema="id long")
    with pytest.raises(ValueError, match="not supported"):
        read_folder_union_by_name(spark, str(d), fmt="xlsx", schema="id long")


def test_csv_cross_group_numeric_widening_still_allowed(spark, tmp_path):
    """The structural conflict check refuses only unsafe coercions:
    int-vs-double on the same name ACROSS header groups is loss-free
    numeric widening and must keep working (the union's historical
    behavior)."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    d = tmp_path / "wf"
    d.mkdir()
    (d / "a.csv").write_text("a,b\n1,2\n")
    (d / "b.csv").write_text("b,a\n1.5,3\n")  # different header order
    df = read_folder_union_by_name(spark, str(d), fmt="csv")
    assert {f.name: f.dataType.simpleString() for f in df.schema.fields} == {
        "a": "int",
        "b": "double",
    }
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, 2.0), (3, 1.5)]


def test_csv_group_inference_merges_types_across_files(spark, tmp_path):
    """CSV value-type conflicts within a header group (the header IS
    the full column set, so key loss cannot happen — but the r15
    representative schema read conflicting values as silent nulls):
    the group-wide inference widens the column and preserves every
    value."""
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    d = tmp_path / "cdrift"
    d.mkdir()
    (d / "a.csv").write_text("id,v\n1,10\n")
    (d / "b.csv").write_text("id,v\nnope,2.5\n")
    df = read_folder_union_by_name(spark, str(d), fmt="csv")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {"id": "string", "v": "double"}
    assert sorted((r.id, r.v) for r in df.collect()) == [("1", 10.0), ("nope", 2.5)]


def test_json_folder_ingestion_is_loss_free_property(spark, tmp_path):
    """Property harness for the grouped-probe rewrite: random sparse
    JSONL folders — every file a random subset of records, every
    record a random subset of keys (types fixed per key, so widening
    never triggers) — must read back EXACTLY the records written:
    same row count, the column set is the union of every record's
    keys (not just first records'), and every record's values survive
    with None-fill elsewhere. This is the invariant the r15
    representative-schema probe broke."""
    import itertools
    import json as _json

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    KEY_VALS = {
        "a": st.integers(min_value=-100, max_value=100),
        "b": st.text(alphabet="xyz", min_size=0, max_size=3),
        "c": st.floats(allow_nan=False, allow_infinity=False, width=32),
    }
    record = st.fixed_dictionaries(
        {},
        optional={k: v for k, v in KEY_VALS.items()},
    ).filter(lambda r: r)  # at least one key, so every line signatures
    file_strategy = st.lists(record, min_size=1, max_size=5)
    counter = itertools.count()

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(files=st.lists(file_strategy, min_size=1, max_size=4))
    def check(files):
        d = tmp_path / f"prop{next(counter)}"
        d.mkdir()
        expected = []
        for i, records in enumerate(files):
            with open(d / f"f{i}.jsonl", "w") as fh:
                for rec in records:
                    fh.write(_json.dumps(rec) + "\n")
                    expected.append(rec)
        df = read_folder_union_by_name(spark, str(d), fmt="jsonl")
        want_cols = sorted({k for rec in expected for k in rec})
        assert sorted(df.columns) == want_cols, "keys lost or invented"
        got = sorted(
            (tuple((c, str(row[c])) for c in want_cols if row[c] is not None))
            for row in (r.asDict() for r in df.collect())
        )
        want = sorted(
            tuple((k, _norm(rec[k])) for k in want_cols if k in rec)
            for rec in expected
        )
        assert got == want

    def _norm(v):
        # json floats arrive as double; ints as bigint — stringify the
        # way Spark's Row does for the comparison
        return str(float(v)) if isinstance(v, float) else str(v)

    check()


def test_read_folder_jsonl_and_xlsx_fmt_alias(spark, tmp_path):
    """fmt='jsonl' aliases to the json reader and fmt='xlsx' routes
    through the stdlib codec — both previously crashed in
    spark.read.format(fmt) (r13-deferred union.py fix)."""
    from data_finder_comparator_spark.sources.excel import write_excel
    from data_finder_comparator_spark.sources.union import read_folder_union_by_name

    jd = tmp_path / "jl"
    jd.mkdir()
    (jd / "a.jsonl").write_text('{"id": 1, "x": "a"}\n{"id": 2, "x": "b"}\n')
    (jd / "b.jsonl").write_text('{"id": 3, "x": "c"}\n')
    df = read_folder_union_by_name(spark, str(jd), fmt="jsonl")
    assert {r.id for r in df.collect()} == {1, 2, 3}

    xd = tmp_path / "xl"
    xd.mkdir()
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, x string")
    write_excel(src.filter("id = 1"), str(xd / "f1.xlsx"))
    write_excel(src.filter("id = 2"), str(xd / "f2.xlsx"))
    back = read_folder_union_by_name(spark, str(xd), fmt="xlsx")
    assert sorted((r.id, r.x) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_excel_roundtrip_types_and_values(spark, tmp_path):
    """Vendored xlsx codec: schema (long/double/boolean/string) and
    values — including XML metacharacters, unicode, nulls, and exact
    float round-trip — survive write -> read."""
    from data_finder_comparator_spark.sources.excel import read_excel, write_excel

    df = spark.createDataFrame(
        [
            (1, "plain", 1.25, True),
            (2, "<&> \"quoted\" 'text'", -0.5, False),
            (3, None, None, None),
            (4, "ünïcodé ✓ space  preserved ", 0.1 + 0.2, True),
        ],
        "id long, name string, score double, ok boolean",
    )
    p = str(tmp_path / "t.xlsx")
    write_excel(df, p)
    back = read_excel(spark, p)
    assert back.schema.simpleString() == df.schema.simpleString()
    assert sorted(map(tuple, back.collect()), key=repr) == sorted(
        map(tuple, df.collect()), key=repr
    )


def test_excel_integral_column_is_long(spark, tmp_path):
    """A numeric column whose values are all integral reads back as
    long (xlsx stores every number as a float)."""
    from data_finder_comparator_spark.sources.excel import read_excel, write_excel

    df = spark.createDataFrame([(10, 3.0), (20, 4.0)], "k long, v double")
    p = str(tmp_path / "ints.xlsx")
    write_excel(df, p)
    back = read_excel(spark, p)
    assert [f.dataType.simpleString() for f in back.schema.fields] == ["bigint", "bigint"]
    assert sorted(map(tuple, back.collect())) == [(10, 3), (20, 4)]


def test_frame_sample_boundaries(spark):
    """Frame fan-out: payloads shorter than the width emit no frames,
    an exact-width payload emits one, and frame hashes match the byte
    slices."""
    import hashlib

    from data_finder_comparator_spark.operators.multimodal import (
        attach_binary_payload,
        frame_sample,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 3), (2, "y" * 8), (3, "z" * 21)], "doc_id long, text string"
    )
    out = frame_sample(
        attach_binary_payload(docs, "doc_id", "text"), width=8, stride=8
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc  # too short
    assert [r.frame_idx for r in sorted(by_doc[2], key=lambda r: r.frame_idx)] == [0]
    assert [r.frame_idx for r in sorted(by_doc[3], key=lambda r: r.frame_idx)] == [0, 1]
    assert by_doc[2][0].frame_md5 == hashlib.md5(b"y" * 8).hexdigest()


def test_excel_error_cells_read_as_missing(spark, tmp_path):
    """Formula error cells (t=\"e\") in externally-produced workbooks
    must read as nulls, not crash the numeric fallback."""
    import zipfile

    from data_finder_comparator_spark.sources.excel import read_excel, write_excel

    p = str(tmp_path / "err.xlsx")
    write_excel(spark.createDataFrame([(1.5,), (2.5,)], "v double"), p)
    # splice an error cell into row 3 of the generated sheet
    with zipfile.ZipFile(p) as zf:
        parts = {n: zf.read(n) for n in zf.namelist()}
    sheet = parts["xl/worksheets/sheet1.xml"].decode()
    sheet = sheet.replace(
        "</sheetData>",
        '<row r="4"><c r="A4" t="e"><v>#DIV/0!</v></c></row></sheetData>',
    )
    parts["xl/worksheets/sheet1.xml"] = sheet.encode()
    with zipfile.ZipFile(p, "w") as zf:
        for n, data in parts.items():
            zf.writestr(n, data)
    got = [r.v for r in read_excel(spark, p).collect()]
    assert sorted(x for x in got if x is not None) == [1.5, 2.5]
    assert None in got


def test_excel_sheet_selection(spark, tmp_path):
    from data_finder_comparator_spark.sources.excel import read_excel, write_excel
    from data_finder_comparator_spark.sources.xlsx_lite import read_grid

    df = spark.createDataFrame([(1, "a")], "id long, x string")
    p = str(tmp_path / "s.xlsx")
    write_excel(df, p, sheet_name="curated")
    assert read_excel(spark, p, sheet="curated").count() == 1
    with pytest.raises(KeyError):
        read_grid(p, "nope")


def test_connected_components_chain_and_singleton(spark):
    """Min-label propagation must close transitive chains (A-B, B-C in
    one cluster even though A-C never paired) and keep isolated nodes as
    singletons — the semantics the recursive-CTE oracle pins at sf0.01."""
    from data_finder_comparator_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 9]], ["doc_id"])
    caches = []
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges, nodes=nodes, cache_registry=caches).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5, 7: 7}
    for df in caches:
        df.unpersist()


def test_connected_components_long_chain_converges(spark):
    """A worst-case path graph (diameter = n-1) still converges within
    max_iter and labels everything with the chain minimum."""
    from data_finder_comparator_spark.operators.dedup import connected_components

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    caches = []
    out = connected_components(edges, cache_registry=caches).collect()
    assert {r["cluster_id"] for r in out} == {0}
    assert len(out) == n
    for df in caches:
        df.unpersist()


def test_interval_point_join_semantics(spark):
    """Half-open containment, boundary exactness, multi-chunk windows,
    and zero-length-interval pruning — with a chunk deliberately
    smaller than the window so every interval fans out over cells."""
    from data_finder_comparator_spark.operators.range_join import interval_point_join

    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
         (2, "2024-01-01 00:30:00", "2024-01-01 00:30:00"),   # empty
         (3, "2024-01-02 10:15:00", "2024-01-02 10:45:00")],
        "win_id long, s string, e string",
    ).select("win_id", F.col("s").cast("timestamp_ntz").alias("s"),
             F.col("e").cast("timestamp_ntz").alias("e"))
    pt = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00"),   # == start: included
         (11, "2024-01-01 00:59:59"),
         (12, "2024-01-01 01:00:00"),   # == end: excluded (half-open)
         (13, "2024-01-02 10:44:59"),
         (14, "2024-01-02 10:45:00")],  # == end of win 3: excluded
        "pt_id long, t string",
    ).select("pt_id", F.col("t").cast("timestamp_ntz").alias("t"))
    got = sorted(
        (r.win_id, r.pt_id)
        for r in interval_point_join(iv, pt, "s", "e", "t", chunk_seconds=600).collect()
    )
    assert got == [(1, 10), (1, 11), (3, 13)]
    with pytest.raises(ValueError):
        interval_point_join(iv, iv.withColumnRenamed("win_id", "w2"), "s", "e", "t")


def test_kmeans_lloyd_two_rounds(spark):
    """Two Lloyd rounds on a 2-D toy set: seeds are the two lowest ids
    (both in the left blob), round 1 pulls centroid 1 toward the right
    blob, round 2 settles on the exact blob means — deterministically."""
    from data_finder_comparator_spark.operators.clustering import (
        flatten_vectors,
        kmeans_lloyd,
    )

    vecs = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 1.0]), (2, [10.0, 10.0]), (3, [10.0, 11.0])],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_lloyd(flatten_vectors(vecs, "vec_id", "embedding"), k=2, iterations=2)
    got = {(r.cluster_id, r.dim): (r.centroid_val, r.n_vectors) for r in out.collect()}
    assert got == {
        (0, 1): (0.0, 2), (0, 2): (0.5, 2),
        (1, 1): (10.0, 2), (1, 2): (10.5, 2),
    }


def test_kmeans_dense_matches_flattened(spark):
    """The array-native Lloyd path (one exchange per round) must equal
    the flattened-row path EXACTLY — values, tie-breaks, and the
    empty-cluster dropout — on a case exercising ties (identical seed
    vectors), asymmetric blobs, and a no-capture centroid. The decimal
    fold's exactness argument (kmeans_lloyd_dense docstring) is what
    this pins."""
    from data_finder_comparator_spark.operators.clustering import (
        flatten_vectors,
        kmeans_lloyd,
        kmeans_lloyd_dense,
    )

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 1.0, 0.25]),
            (1, [1.0, 1.0, 0.25]),  # exact tie with seed 0 on round 1
            (2, [5.0, 5.0, -0.125]),
            (3, [5.0, 5.25, -0.125]),
            (4, [0.0, 9.0, 3.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    old = sorted(
        tuple(r)
        for r in kmeans_lloyd(
            flatten_vectors(vecs, "vec_id", "embedding"), k=2, iterations=2
        ).collect()
    )
    new = sorted(
        tuple(r)
        for r in kmeans_lloyd_dense(
            vecs, "vec_id", "embedding", k=2, dims=3, iterations=2
        ).collect()
    )
    assert old == new


def test_kmeans_dense_rejects_zero_iterations(spark):
    """No Lloyd round means no centroids to return: a clear ValueError,
    not a crash on the unset round result."""
    from data_finder_comparator_spark.operators.clustering import kmeans_lloyd_dense

    vecs = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<float>")
    for iterations in (0, -1):
        with pytest.raises(ValueError, match="iterations must be >= 1"):
            kmeans_lloyd_dense(vecs, "vec_id", "embedding", k=1, dims=2, iterations=iterations)


def test_connected_components_paths_agree(spark):
    """The single-task union-find fast path and the iterative
    label-propagation scale path must produce identical labels —
    including on a long chain (diameter 10) plus a separate clique and
    an isolated node."""
    from data_finder_comparator_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 30)]  # chain 20..30
        + [(1, 2), (2, 3), (1, 3)],  # clique {1,2,3}
        ["doc_a", "doc_b"],
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 40] + list(range(20, 31))], ["doc_id"]
    )
    caches: list = []
    local = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            edges, nodes=nodes, cache_registry=caches
        ).collect()
    }
    # local_edge_cap=-1 forces the iterative loop even for this tiny graph
    iterative = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            edges, nodes=nodes, cache_registry=caches, local_edge_cap=-1
        ).collect()
    }
    for df in caches:
        df.unpersist()
    assert local == iterative
    assert local[30] == 20 and local[3] == 1 and local[40] == 40


def test_connected_components_no_edges(spark):
    """Empty edge list: every node is its own singleton cluster and the
    loop exits after one no-change round."""
    from data_finder_comparator_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {i: i for i in range(5)}


def test_kmeans_empty_cluster_drops(spark):
    """Identical seed vectors: every point ties to the lower centroid
    id, the other centroid captures nothing and drops out (standard
    Lloyd behavior, documented)."""
    from data_finder_comparator_spark.operators.clustering import (
        flatten_vectors,
        kmeans_lloyd,
    )

    vecs = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [5.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_lloyd(flatten_vectors(vecs, "vec_id", "embedding"), k=2, iterations=2)
    rows = out.collect()
    assert {r.cluster_id for r in rows} == {0}
    got = {r.dim: (r.centroid_val, r.n_vectors) for r in rows}
    assert got == {1: (7.0 / 3.0, 3), 2: (7.0 / 3.0, 3)}


def test_wav_decode_golden():
    """decode_media really parses RIFF/WAVE: golden fields from a
    hand-built file, cross-checked against the stdlib wave reader, and
    chunk-walking verified with an extra chunk before fmt."""
    import io
    import struct
    import wave as wave_mod

    from data_finder_comparator_spark.operators.multimodal import (
        decode_media,
        synth_wav_payload,
    )

    pcm = struct.pack("<4h", -3, 7, 32000, -32768)
    payload = synth_wav_payload(pcm, sample_rate=8000)
    meta = decode_media(payload, "audio/wav")
    assert meta == {
        "kind": "audio",
        "n_channels": 1,
        "sample_rate_hz": 8000,
        "bits_per_sample": 16,
        "n_samples": 4,
        "duration_s": 4 / 8000,
        "first_sample": -3,
    }
    # the synthesized container is a spec-valid file: stdlib agrees
    with wave_mod.open(io.BytesIO(payload)) as w:
        assert (w.getnchannels(), w.getframerate(), w.getsampwidth(), w.getnframes()) == (1, 8000, 2, 4)
        assert w.readframes(4) == pcm

    # chunk walk: a LIST chunk (odd size -> word-aligned) before fmt
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    reordered = payload[:12] + extra + payload[12:]
    reordered = b"RIFF" + struct.pack("<I", len(reordered) - 8) + reordered[8:]
    assert decode_media(reordered, "audio/x-wav")["n_samples"] == 4

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff", "image/jpeg")  # codec formats still stubbed
    with _pytest.raises(ValueError):
        decode_media(b"RIFFxxxxAVI ", "audio/wav")


def test_wav_decode_truncated_raises():
    """A truncated payload (or a chunk declaring more bytes than
    remain) must raise, never silently under-count samples from a short
    body slice (advisor finding r4)."""
    import struct

    import pytest as _pytest

    from data_finder_comparator_spark.operators.multimodal import (
        decode_media,
        synth_wav_payload,
    )

    payload = synth_wav_payload(struct.pack("<4h", 1, 2, 3, 4), sample_rate=8000)
    with _pytest.raises(ValueError, match="truncated RIFF chunk"):
        decode_media(payload[:-3], "audio/wav")  # cut mid-data-chunk
    # a lying data-chunk size (declares 4 extra bytes) must also raise
    lying = bytearray(payload)
    data_off = payload.index(b"data")
    (size,) = struct.unpack_from("<I", payload, data_off + 4)
    struct.pack_into("<I", lying, data_off + 4, size + 4)
    with _pytest.raises(ValueError, match="truncated RIFF chunk"):
        decode_media(bytes(lying), "audio/wav")


def test_ppm_decode_golden():
    """P6 PPM decode: header with comment, exact dims and first pixel."""
    from data_finder_comparator_spark.operators.multimodal import decode_media

    raster = bytes([10, 20, 30, 200, 201, 202, 0, 0, 0, 255, 255, 255, 1, 2, 3, 4, 5, 6])
    payload = b"P6\n# synthetic fixture\n3 2\n255\n" + raster
    meta = decode_media(payload, "image/x-portable-pixmap")
    assert meta == {
        "kind": "image",
        "width": 3,
        "height": 2,
        "maxval": 255,
        "n_pixels": 6,
        "first_px": (10, 20, 30),
    }


def test_wav_decode_features_distributed(spark):
    """The mapInPandas decode path: synthesize-from-text, decode, and
    check the decoded fields row-by-row (including the first-sample
    little-endian read and the odd-length truncation)."""
    from data_finder_comparator_spark.operators.multimodal import (
        attach_binary_payload,
        wav_decode_features,
    )

    df = spark.createDataFrame(
        [(1, "AB"), (2, "hello"), (3, "x"), (4, "")],  # odd length truncates; <2 bytes drops
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in wav_decode_features(
        attach_binary_payload(df, "doc_id", "text")
    ).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_samples == 1 and out[1].first_sample == ord("A") + 256 * ord("B")
    assert out[2].n_samples == 2 and out[2].first_sample == ord("h") + 256 * ord("e")
    assert out[2].duration_s == 2 / 8000


def test_session_windows_merge_across_microbatches(spark, tmp_path):
    """F.session_window state semantics across micro-batches: a session
    open at the end of batch 1 must MERGE with batch-2 events that fall
    within the gap, and only emit (append mode) once the watermark
    passes its extended end — the stateful property a batch rewrite
    can't fake."""
    from datetime import datetime

    def ev(evid, hh, mm, uid=1):
        return (evid, datetime(2026, 1, 1, hh, mm), uid, 1.0)

    d = tmp_path / "sessev"
    d.mkdir()
    schema = "event_id long, ts timestamp, user_id long, value double"
    # batch 1: events at 00:00 and 00:20 (one session, gap 30m)
    spark.createDataFrame([ev(1, 0, 0), ev(2, 0, 20)], schema).coalesce(
        1
    ).write.parquet(str(d / "f0"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("session_window.start").alias("ss"),
            F.col("session_window.end").alias("se"),
            "user_id",
            "n",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_merge_t")
        .start()
    )
    try:
        q.processAllAvailable()  # session [00:00, 00:50) open in state
        # batch 2: 00:40 extends the SAME session (within 30m of 00:20);
        # 05:00 advances the watermark to 04:00, closing it
        spark.createDataFrame([ev(3, 0, 40), ev(4, 5, 0)], schema).coalesce(
            1
        ).write.parquet(str(d / "f1"))
        q.processAllAvailable()
        rows = {
            (r.ss.strftime("%H:%M"), r.se.strftime("%H:%M"), r.n)
            for r in spark.table("sess_merge_t").collect()
        }
    finally:
        q.stop()
        spark.catalog.dropTempView("sess_merge_t")
    # ONE merged session across both batches: [00:00, 01:10) with 3
    # events (00:40 + 30m gap). The 05:00 session stays open (no later
    # watermark) and must NOT have been emitted.
    assert rows == {("00:00", "01:10", 3)}


def test_capped_per_group_matches_direct_window(spark):
    """The skew-split cap plan (under-cap groups skip the ranking
    window entirely) must keep exactly the rows a direct global
    row_number window keeps — including on a heavy-hitter group far
    over the cap and a group exactly AT the cap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_finder_comparator_spark.plans.queries_text import capped_per_group

    rows = (
        [(i, "big", "en", f"t{i:03d}") for i in range(40)]  # 5x over cap
        + [(100 + i, "atcap", "en", f"a{i}") for i in range(8)]  # exactly cap
        + [(200 + i, "small", "de", f"s{i}") for i in range(3)]  # under cap
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, lang string, text string")
    got = capped_per_group(df, ["source", "lang"], F.md5("text"), 8)

    w = Window.partitionBy("source", "lang").orderBy(F.md5("text"), "doc_id")
    want = (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 8)
        .drop("_rk")
    )
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    # per-group cap is enforced
    per = {
        (r.source, r.lang): r.n
        for r in got.groupBy("source", "lang").agg(F.count("*").alias("n")).collect()
    }
    assert per == {("big", "en"): 8, ("atcap", "en"): 8, ("small", "de"): 3}


def test_streaming_dedup_cross_batch_suppression(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a redelivery in a LATER
    micro-batch (arriving before the watermark passes the event's time
    + delay) must be suppressed by the keyed state, while new keys
    still flow through."""
    from datetime import datetime

    ev_dir = tmp_path / "ev"
    ev_dir.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    t1 = datetime(2024, 1, 1, 12, 30, 0)
    spark.createDataFrame(
        [(1, t0, "click", 1.0), (2, t0, "view", 2.0)], schema
    ).coalesce(1).write.parquet(str(ev_dir / "f0"))
    stream = spark.readStream.schema(schema).parquet(str(ev_dir / "*"))
    out = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_t")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event 1 redelivered (same event time, watermark has
        # not yet passed ts+delay) plus a genuinely new event
        spark.createDataFrame(
            [(1, t0, "click", 1.0), (3, t1, "purchase", 3.0)], schema
        ).coalesce(1).write.parquet(str(ev_dir / "f1"))
        q.processAllAvailable()
    finally:
        q.stop()
    ids = [r.event_id for r in spark.table("dedup_stream_t").collect()]
    assert sorted(ids) == [1, 2, 3]  # each exactly once; redelivery dropped


def test_streaming_dedup_post_watermark_state_eviction(spark, tmp_path):
    """The watermark must actually BOUND the dedup state: once the
    watermark passes a key's event time + delay, its tombstone is
    dropped, so a later redelivery of the same key (with an in-horizon
    timestamp) is emitted AGAIN. This is the state-eviction half of the
    dropDuplicatesWithinWatermark contract — without it the suppression
    test above would also pass with unbounded keep-forever state."""
    from datetime import datetime

    ev_dir = tmp_path / "ev"
    ev_dir.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = datetime(2024, 1, 1, 12, 0, 0)    # first arrival of key 1
    t_adv = datetime(2024, 1, 1, 14, 30, 0)  # advances watermark to 13:30
    t_re = datetime(2024, 1, 1, 14, 0, 0)   # redelivery, not late (>= wm)
    spark.createDataFrame([(1, t0, "click", 1.0)], schema).coalesce(1).write.parquet(
        str(ev_dir / "f0")
    )
    stream = spark.readStream.schema(schema).parquet(str(ev_dir / "*"))
    out = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts")
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_evict_t")
        .start()
    )
    try:
        q.processAllAvailable()  # b1: emit key 1, wm -> 11:00
        spark.createDataFrame(
            [(9, t_adv, "view", 2.0)], schema
        ).coalesce(1).write.parquet(str(ev_dir / "f1"))
        q.processAllAvailable()  # b2: wm -> 13:30 > 12:00+1h, key 1 evicted
        spark.createDataFrame(
            [(1, t_re, "click", 1.0)], schema
        ).coalesce(1).write.parquet(str(ev_dir / "f2"))
        q.processAllAvailable()  # b3: key 1 state is gone -> emitted again
    finally:
        q.stop()
    ids = sorted(r.event_id for r in spark.table("dedup_evict_t").collect())
    assert ids == [1, 1, 9], ids


def test_event_funnel_ties_never_advance_later_stage(spark, tmp_path):
    """A click sharing the first view's timestamp (or a purchase
    sharing the click's) must NOT advance the funnel — stages require
    strictly-later events, matching the oracle's t > prev join."""
    from datetime import datetime

    from data_finder_comparator_spark.plans.queries_relational import event_funnel

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    t1 = datetime(2024, 1, 1, 13, 0, 0)
    t2 = datetime(2024, 1, 1, 14, 0, 0)
    rows = [
        # user 1: click tied with the first view never fires, so the
        # later purchase has no stage-2 to build on -> stuck at stage 1
        (1, t0, "view"), (1, t0, "click"), (1, t2, "purchase"),
        # user 2: clean strict progression -> stage 3
        (2, t0, "view"), (2, t1, "click"), (2, t2, "purchase"),
        # user 3: purchase tied with the click -> stage 2
        (3, t0, "view"), (3, t1, "click"), (3, t1, "purchase"),
        # user 4: click before any view -> stage 1 only
        (4, t1, "view"), (4, t0, "click"),
        # user 5: no view at all -> stage 0
        (5, t0, "click"), (5, t1, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_type string")
    d = tmp_path / "ev"
    df.write.parquet(str(d / "events.parquet"))
    out = {r.user_id: r.funnel_stage for r in event_funnel(spark, str(d)).collect()}
    assert out == {1: 1, 2: 3, 3: 2, 4: 1, 5: 0}


def test_histogram_quantiles_degenerate_and_empty(spark, tmp_path):
    """All-equal values must land in bin 0 with approx == the value on
    BOTH engines (width-0 guard); an empty table yields zero rows."""
    import duckdb

    from data_finder_comparator_spark.plans.catalog import ORACLES, QUERIES

    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    d1 = tmp_path / "flat"
    from datetime import datetime

    t = datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, t, 1, "view", 7.25, "{}") for i in range(10)], schema
    ).write.parquet(str(d1 / "events.parquet"))
    out = QUERIES["histogram_quantiles"](spark, str(d1)).collect()
    assert len(out) == 5
    assert all(r.bin == 0 and r.approx_value == 7.25 for r in out)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d1}/events.parquet/*.parquet')"
    )
    oracle = con.execute(ORACLES["histogram_quantiles"]).fetchall()
    assert sorted((q, b, v) for q, b, v in oracle) == sorted(
        (r.q, r.bin, r.approx_value) for r in out
    )

    d2 = tmp_path / "empty"
    spark.createDataFrame([], schema).write.parquet(str(d2 / "events.parquet"))
    assert QUERIES["histogram_quantiles"](spark, str(d2)).count() == 0
    assert QUERIES["hourly_gapfill"](spark, str(d2)).count() == 0


def test_connected_components_cap_boundary_routing(spark, monkeypatch):
    """At exactly the local-edge cap the one-task union-find runs; one
    edge past it the propagation loop takes over — both with correct
    labels. Pins the routing arithmetic (cap is compared against the
    SYMMETRIC distinct edge count, <= keeps local)."""
    from data_finder_comparator_spark.operators import dedup as dd

    # path graph 0-1-2-3 plus isolated pair 10-11: 5 undirected edges
    # -> 10 symmetric rows
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (3, 0)],
        "doc_a long, doc_b long",
    )
    want = {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10}

    calls: list[str] = []
    real_local = dd._local_union_find

    def spy(sym):
        calls.append("local")
        return real_local(sym)

    monkeypatch.setattr(dd, "_local_union_find", spy)

    for cap, expect_local in [(10, True), (9, False)]:
        calls.clear()
        reg: list = []
        out = dd.connected_components(
            edges, cache_registry=reg, local_edge_cap=cap
        )
        got = {r.doc_id: r.cluster_id for r in out.collect()}
        for df in reg:
            df.unpersist()
        assert got == want, (cap, got)
        assert (len(calls) > 0) == expect_local, (cap, calls)


def test_scrub_hot_spans_reference_semantics(spark):
    """C4-style span scrub vs a pure-Python restatement: a token is
    removed iff any hot 3-gram (>= min_docs distinct docs) covers it;
    cleaned_md5 fingerprints the surviving tokens joined by spaces."""
    import hashlib

    from data_finder_comparator_spark.operators.textops import scrub_hot_spans

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown fox sat still"),
        (3, "quick brown fox again and again"),
        (4, "totally unrelated words here"),
        (5, "xy"),           # single token, no grams
        (6, "quick brown"),  # too short for a 3-gram
    ]
    min_docs, span = 3, 3

    # reference
    docs = {i: [t for t in txt.split() if t] for i, txt in rows}
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for i, toks in docs.items():
        for j in range(len(toks) - span + 1):
            gram_docs[" ".join(toks[j : j + span])].add(i)
    hot = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}
    want = {}
    for i, toks in docs.items():
        covered = set()
        for j in range(len(toks) - span + 1):
            if " ".join(toks[j : j + span]) in hot:
                covered.update(range(j, j + span))
        kept = [t for k, t in enumerate(toks) if k not in covered]
        want[i] = (
            len(toks),
            len(covered),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )

    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_md5)
        for r in scrub_hot_spans(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_docs=min_docs,
            span=span,
        ).collect()
    }
    assert got == want
    # sanity: "quick brown fox" occurs in docs 1-3 -> hot; doc 4 untouched
    assert got[4][1] == 0 and got[1][1] >= 3


def test_cluster_canonical_longest_then_min_id(spark):
    """Survivor per duplicate cluster: longest text wins, ties break to
    the smallest doc id; singletons are their own canonical."""
    from data_finder_comparator_spark.operators.dedup import cluster_canonical

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9), (10, 9)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [
            (1, "aaaa"),       # len 4
            (2, "bbbbbb"),     # len 6  -> canonical of cluster 1
            (3, "cccc"),       # len 4
            (7, "x"),          # singleton
            (9, "tie"),        # len 3, tie with 10 -> min id 9 wins
            (10, "eit"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.cluster_id: (r.canonical_id, r.n_members)
        for r in cluster_canonical(labels, docs).collect()
    }
    assert got == {1: (2, 3), 7: (7, 1), 9: (9, 2)}


def test_scrub_hot_spans_cache_registry_contract(spark):
    """The scrub operator persists exactly its two shared subtrees
    (tokenized base + gram explode) via the caller's registry, and
    skips persisting entirely when no registry is passed. (Value
    correctness is driver-gated: scrub_hot_spans is a registered query
    whose oracle test_oracle_parity hash-checks every run.)"""
    from data_finder_comparator_spark.operators.textops import scrub_hot_spans
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    reg: list = []
    try:
        out = scrub_hot_spans(docs, min_docs=3, span=3, cache_registry=reg)
        assert out.count() == docs.count()  # left join keeps every doc
    finally:
        for frame in reg:
            frame.unpersist()
    assert len(reg) == 2  # base + grams persisted via the registry


def test_event_funnel_null_ts_view_grants_stage_one(spark, tmp_path):
    """A user whose only view has a NULL timestamp still reaches stage
    1 (the oracle's v CTE emits the user on row EXISTENCE; min(ts) is
    null so later stages can never anchor on it) — review finding from
    the window-min rewrite, which originally keyed stage 1 on t1
    being non-null."""
    from data_finder_comparator_spark.plans.queries_relational import event_funnel

    from datetime import datetime

    t1 = datetime(2024, 1, 1, 13, 0, 0)
    rows = [
        (1, None, "view"),       # null-ts view -> stage 1, nothing more
        (1, t1, "click"),        # cannot fire: t1 anchor is null
        (2, None, "click"),      # null-ts click, no view -> stage 0
        (3, None, "view"),       # null + real view: real min anchors
        (3, datetime(2024, 1, 1, 12, 0, 0), "view"),
        (3, t1, "click"),
    ]
    d = tmp_path / "fnull"
    spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string"
    ).write.parquet(str(d / "events.parquet"))
    got = {r.user_id: r.funnel_stage for r in event_funnel(spark, str(d)).collect()}
    assert got == {1: 1, 2: 0, 3: 2}


def test_pcm_resample_matches_pure_python_reference(spark):
    """Linear-interp resampling vs an index-by-index pure-Python
    reference (no numpy), covering upsample (8k->16k), downsample
    (8k->6k), and the 2-sample minimum. Pins grid construction
    (never extrapolates), half-to-even rounding, and int16 clamping."""
    import hashlib
    import struct

    from data_finder_comparator_spark.operators.multimodal import (
        attach_binary_payload,
        pcm_resample_features,
    )

    texts = [
        (0, "abcdefgh123"),   # odd byte tail dropped
        (1, "zz"),            # exactly one int16 sample -> skipped
        (2, "The quick brown fox jumps over the lazy dog!"),
        (3, "ab"),            # one sample -> skipped
        (4, "abcd"),          # exactly two samples
    ]
    df = attach_binary_payload(
        spark.createDataFrame(texts, "doc_id long, text string"), "doc_id", "text"
    )

    def ref(data: bytes, rate_in: int, rate_out: int):
        n_in = len(data) // 2
        if n_in < 2:
            return None
        x = [
            struct.unpack("<h", data[2 * i : 2 * i + 2])[0] for i in range(n_in)
        ]
        n_out = (n_in - 1) * rate_out // rate_in + 1
        out = []
        for j in range(n_out):
            p = j * rate_in / rate_out
            lo = int(p)
            hi = min(lo + 1, n_in - 1)
            v = x[lo] + (x[hi] - x[lo]) * (p - lo)
            # numpy rint = round half to even; Python round() matches
            r = round(v)
            out.append(max(-32768, min(32767, r)))
        blob = b"".join(struct.pack("<h", v) for v in out)
        return n_out, out[0], out[-1], hashlib.md5(blob).hexdigest()

    payloads = {r.doc_id: bytes(r.payload) for r in df.collect()}
    for rate_out in (16000, 6000):
        got = {
            r.doc_id: (r.n_out, r.out_first, r.out_last, r.out_md5)
            for r in pcm_resample_features(df, rate_out=rate_out).collect()
        }
        want = {
            i: ref(p, 8000, rate_out)
            for i, p in payloads.items()
            if ref(p, 8000, rate_out) is not None
        }
        assert got == want, rate_out


def test_bench_archive_round_inference(tmp_path, monkeypatch):
    """bench.py's history archive: $SPARK_GRAFT_ROUND wins when set;
    otherwise the round is one past the newest driver BENCH_r*.json —
    so the archive lands beside the round the driver is ABOUT to
    record, whatever its stdout capture does."""
    import json

    import bench

    payload = {"value": 1.0, "queries": {"q": 1.0}}
    (tmp_path / "BENCH_r03.json").write_text("{}")
    (tmp_path / "BENCH_r11.json").write_text("{}")
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    bench._archive(payload, here=str(tmp_path))
    assert json.load(open(tmp_path / "bench_history" / "r12.json")) == payload

    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    bench._archive(payload, here=str(tmp_path))
    assert (tmp_path / "bench_history" / "r7.json").exists()


def test_bench_compact_payload_fits_driver_tail():
    """The driver keeps only a 2000-char stdout tail; the final bench
    line must parse from it whole. Contract shape preserved, slowest
    queries inline, never over budget, small payloads unsplit."""
    import json

    import bench

    big = {
        "metric": "headline_queries_total",
        "value": 69.3,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"query_name_number_{i:03d}": round(0.1 * i, 3) for i in range(99)},
    }
    c = bench._compact_payload(big)
    line = json.dumps(c, separators=(",", ":"))
    assert len(line) <= 2000
    assert c["value"] == 69.3 and c["n_queries"] == 99
    # slowest-first inclusion: the slowest query always makes the cut
    assert "query_name_number_098" in c["queries"]
    assert len(c["queries"]) < 99  # something was spilled to the archive
    small = dict(big, queries={"a": 1.0, "b": 2.0})
    assert bench._compact_payload(small)["queries"] == {"a": 1.0, "b": 2.0}


def test_sketch_merge_family_registered_with_oracles():
    """Round 7 completes the mergeable-sketch family: HLL (register
    max), CMS (cell sum), Bloom (bit union), histogram (cell sum) all
    exist as registered queries WITH oracles, so the merge algebra of
    each is hash-checked against DuckDB rather than docstring-asserted. The
    former inline dress-rehearsal tests folded into these
    registrations (tests share the plans implementation via
    test_oracle_parity)."""
    from data_finder_comparator_spark.plans.catalog import ORACLES, QUERIES

    for name in (
        "hll_merge_shards",
        "cms_merge_shards",
        "bloom_merge_shards",
        "histogram_merge_shards",
        "grouped_hll_by_lang",
        "grouped_histogram_quantiles",
        "inverted_index",
        "scrub_hot_spans",
        "cluster_canonical",
        "pcm_resample_layout",
    ):
        assert name in QUERIES and name in ORACLES, name


def test_hll_estimate_grows_past_former_saturation(spark):
    """Round-5 advisor: the 2^25 integer scale saturated the HLL
    estimate around ~6.2e9 because registers with rho > 25 all
    contributed the same floor term. The 2^50 rescale fixes the
    arithmetic, but no corpus test feeds rho anywhere near 50 — so
    drive _hll_finalize directly with synthetic saturated register
    tables and assert the estimate keeps growing up to the new rho=50
    cap (and only then plateaus), with DuckDB computing the identical
    closed form on the same synthetic registers."""
    import duckdb

    from data_finder_comparator_spark.plans.queries_dedup import (
        _HLL_C,
        _HLL_EMPTY,
        _hll_finalize,
    )

    def estimate(rho: int) -> float:
        reg = spark.createDataFrame(
            [(i, rho) for i in range(256)], "register_id long, max_rho long"
        )
        return _hll_finalize(reg).select("est_distinct").first()[0]

    got = {rho: estimate(rho) for rho in (20, 30, 40, 48, 50, 53)}

    # past the former 2^25 ceiling the estimate must keep growing...
    assert got[30] > 6.5e9, got  # above the old ~6.2e9 plateau
    assert got[40] > 900 * got[30] and got[48] > 200 * got[40], got
    assert got[50] > 3 * got[48], got
    # ...and plateau only at the rho=50 arithmetic cap (~2e17, far
    # above any 100 TB corpus cardinality)
    assert got[53] == got[50] > 1e17, got

    # DuckDB parity on the same synthetic registers, same closed form
    con = duckdb.connect()
    for rho, want in got.items():
        d = con.execute(
            f"""
WITH reg AS (SELECT unnest(range(0, 256)) AS register_id, {rho} AS max_rho),
s AS (SELECT count(*) AS n_present,
             sum(CAST(1 AS BIGINT) << (50 - least(max_rho, 50))) AS ssum
      FROM reg),
e AS (SELECT 256 - n_present AS n_zeros,
             {_HLL_C} / (ssum + (256 - n_present) * {_HLL_EMPTY}) AS raw
      FROM s)
SELECT round(CASE WHEN n_zeros > 0 AND raw < 640.0
                  THEN 256 * ln(256.0 / n_zeros) ELSE raw END, 4)
FROM e
"""
        ).fetchone()[0]
        assert d == pytest.approx(want, rel=1e-12), (rho, d, want)
    con.close()


def test_weighted_reservoir_sample_oracle_ready(spark):
    """Registered round-8 query (dress rehearsal kept as the direct
    operator-level gate): deterministic Efraimidis-Spirakis weighted
    sampling (k per language, weight = n_chars) — the md5-derived
    uniform replaces the RNG, so the DuckDB restatement reproduces the
    EXACT sample, keys and all."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.textops import (
        weighted_reservoir_sample,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    got = weighted_reservoir_sample(docs, "lang", "n_chars", k=5)
    sql = """
WITH keyed AS (
  SELECT lang, doc_id,
         ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) + 1) / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE) AS sk
  FROM documents WHERE n_chars > 0
),
ranked AS (
  SELECT lang, doc_id, sk,
         row_number() OVER (PARTITION BY lang ORDER BY sk DESC, doc_id) AS rk
  FROM keyed
)
SELECT lang, doc_id, CAST(round(sk, 10) AS DOUBLE) AS sample_key,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 5
"""
    ok, msg = compare(got, sql, SF_ORACLE)
    assert ok, msg


def test_token_entropy_oracle_ready(spark):
    """Pytest-gated (COVERAGE.md): per-document token-distribution Shannon
    entropy (nats) with decimal-stabilized c*ln(c) sums so the double
    arithmetic restates exactly in SQL."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.textops import token_entropy
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    sql = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
  FROM documents
),
per_tok AS (
  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
  FROM toks WHERE tok <> '' GROUP BY doc_id, tok
),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         sum(CAST(round(c * ln(c), 6) AS DECIMAL(28,6))) AS clogc
  FROM per_tok GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       CAST(round(ln(CAST(n_tokens AS DOUBLE)) - CAST(clogc AS DOUBLE) / n_tokens,
                  6) AS DOUBLE) AS entropy_nats
FROM agg
"""
    ok, msg = compare(token_entropy(docs), sql, SF_ORACLE)
    assert ok, msg
    # degenerate shapes: one repeated token -> 0; all distinct -> ln(n)
    import math

    tiny = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in token_entropy(tiny).collect()}
    assert got[1].entropy_nats == 0.0 and got[1].n_distinct == 1
    assert got[2].entropy_nats == round(math.log(4), 6)


def test_lsh_recall_audit_oracle_ready(spark):
    """Staged (pytest-gated) query: the MinHash-LSH recall curve vs
    exact shingle-Jaccard ground truth, per Jaccard decile — the audit
    that justifies (or re-tunes) the LSH band parameters. Oracle
    recomputes both the exact pair set and the banded candidate set in
    DuckDB; the per-bucket counts and hit rates must hash-match."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.dedup import lsh_recall_audit
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    sql = r"""
WITH shingles AS (
  SELECT DISTINCT doc_id, substr(n, unnest(range(1, len(n) - 3)), 5) AS shingle
  FROM (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS n
        FROM documents)
  WHERE len(n) >= 5
),
probe_sh AS (SELECT * FROM shingles WHERE doc_id % 10 = 0),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.doc_id AS doc_a, c.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter_n
  FROM probe_sh p JOIN shingles c
    ON p.shingle = c.shingle AND p.doc_id <> c.doc_id
  GROUP BY p.doc_id, c.doc_id
),
truth AS (
  SELECT DISTINCT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi,
         inter_n, CAST(sa.n + sb.n - inter_n AS BIGINT) AS union_n
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter_n * 10 >= (sa.n + sb.n - inter_n) * 1
),
halves AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 12)) AS BIGINT) AS h1,
         CAST(concat('0x', substr(md5(shingle), 13, 12)) AS BIGINT) AS h2
  FROM shingles
),
sigs AS (
  SELECT doc_id, s.seed,
         min((h1 + s.seed * h2) % 281474976710656) AS minh
  FROM halves CROSS JOIN (SELECT unnest(range(0, 12)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, CAST(seed // 3 AS BIGINT) AS band,
         md5(string_agg(CAST(minh AS VARCHAR), '|' ORDER BY seed)) AS sig
  FROM sigs GROUP BY doc_id, seed // 3
),
lsh AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
flagged AS (
  SELECT t.inter_n, t.union_n,
         CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END AS found
  FROM truth t LEFT JOIN lsh l ON l.doc_a = t.lo AND l.doc_b = t.hi
)
SELECT CAST(least(9, (inter_n * 10) // union_n) AS INTEGER) AS jaccard_bucket,
       CAST(count(*) AS BIGINT) AS truth_pairs,
       CAST(sum(found) AS BIGINT) AS lsh_found,
       CAST(round(CAST(sum(found) AS DOUBLE) / count(*), 4) AS DOUBLE) AS recall
FROM flagged GROUP BY 1
"""
    caches: list = []
    try:
        audit = lsh_recall_audit(docs, cache_registry=caches)
        ok, msg = compare(audit, sql, SF_ORACLE)
        assert ok, msg
        rows = {r.jaccard_bucket: r for r in audit.collect()}
        assert rows, "audit returned no buckets"
        # the S-curve property on this corpus: the top populated decile
        # must recall at least as well as the bottom populated one
        lo_b, hi_b = min(rows), max(rows)
        assert rows[hi_b].recall >= rows[lo_b].recall
    finally:
        for df in caches:
            df.unpersist()


def test_unigram_logprob_oracle_ready(spark):
    """Pytest-gated (COVERAGE.md): per-document mean unigram log-probability
    under the corpus's own unigram model (the cheap LM quality score),
    decimal-stabilized term sums."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.textops import unigram_logprob
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    sql = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
  FROM documents
),
filtered AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
model AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM filtered GROUP BY tok),
total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM model),
scored AS (
  SELECT f.doc_id,
         CAST(round(ln(CAST(m.c AS DOUBLE) / t.n), 6) AS DECIMAL(28,6)) AS term
  FROM filtered f JOIN model m USING (tok) CROSS JOIN total t
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(round(CAST(sum(term) AS DOUBLE) / count(*), 6) AS DOUBLE)
         AS mean_logprob
FROM scored GROUP BY doc_id
"""
    ok, msg = compare(unigram_logprob(docs), sql, SF_ORACLE)
    assert ok, msg


def test_winsorized_event_stats_oracle_ready(spark):
    """Pytest-gated (COVERAGE.md): per-event-type winsorized mean — values
    clamped to histogram-derived [p01, p99] thresholds (identical
    arithmetic to grouped_histogram_quantiles), decimal-stabilized
    sums."""
    from tests.oracle import compare

    from data_finder_comparator_spark.plans.queries_relational import (
        winsorized_event_stats,
    )

    sql = """
WITH bounds AS (SELECT event_type, min(value) AS mn, max(value) AS mx,
                       CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY event_type),
bins AS (
  SELECT e.event_type,
         CASE WHEN b.mx = b.mn THEN 0
              ELSE least(CAST(floor((e.value - b.mn) / ((b.mx - b.mn) / 4096)) AS BIGINT),
                         4095) END AS bin
  FROM events e JOIN bounds b USING (event_type)
),
hist AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
         FROM bins GROUP BY event_type, bin),
cum AS (SELECT event_type, bin,
               sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cc
        FROM hist),
qs AS (SELECT unnest([0.01, 0.99]) AS q),
sel AS (
  SELECT c.event_type, q, min(bin) AS bin
  FROM cum c CROSS JOIN qs JOIN bounds b USING (event_type)
  WHERE cc >= ceil(q * b.n) GROUP BY c.event_type, q
),
thr AS (
  SELECT sel.event_type,
         min(CASE WHEN q = 0.01
                  THEN b.mn + (sel.bin + 1) * ((b.mx - b.mn) / 4096) END) AS lo,
         min(CASE WHEN q = 0.99
                  THEN b.mn + (sel.bin + 1) * ((b.mx - b.mn) / 4096) END) AS hi
  FROM sel JOIN bounds b USING (event_type) GROUP BY sel.event_type
),
clamped AS (
  SELECT e.event_type,
         CAST(least(greatest(e.value, t.lo), t.hi) AS DECIMAL(28,6)) AS v
  FROM events e JOIN thr t USING (event_type)
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS DOUBLE)
         AS winsorized_mean,
       CAST(min(v) AS DOUBLE) AS clamped_min,
       CAST(max(v) AS DOUBLE) AS clamped_max
FROM clamped GROUP BY event_type
"""
    ok, msg = compare(winsorized_event_stats(spark, SF_ORACLE), sql, SF_ORACLE)
    assert ok, msg


def test_streaming_hll_matches_batch_oracle(spark):
    """Registered round-8 query (dress rehearsal kept as the direct
    operator-level gate): the streaming HLL sketch (per-micro-batch
    register partials appended to a sink, merged by register-max at
    read time) must equal the BATCH sketch exactly — register-max is
    associative/commutative, so the merged state is independent of how
    the stream micro-batched the corpus. Checked against the same
    DuckDB oracle the batch hll_distinct_sketch uses."""
    from tests.oracle import compare

    from data_finder_comparator_spark.plans.queries_dedup import _HLL_ORACLE
    from data_finder_comparator_spark.streaming.pipeline import hll_register_stream

    got = hll_register_stream(spark, SF_ORACLE, "hll_stream_test")
    ok, msg = compare(got, _HLL_ORACLE, SF_ORACLE)
    assert ok, msg


def test_gram_tfidf_cosine_topk_oracle_ready(spark):
    """Registered round-8 query (dress rehearsal kept as the direct
    operator-level gate): sparse TF-IDF cosine top-k document
    similarity over the df-capped 3-gram vocabulary — the text-side
    ANN counterpart. Decimal-exact dot products / norms make the DuckDB
    restatement bit-faithful."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.textops import (
        gram_tfidf_cosine_topk,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    got = gram_tfidf_cosine_topk(docs, k=5, probe_mod=20, df_cap=32)
    sql = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
),
tf AS (
  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
  FROM grams GROUP BY doc_id, gram
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
dfreq AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS df
  FROM tf GROUP BY gram HAVING count(*) <= 32
),
w AS (
  SELECT tf.doc_id, tf.gram,
         CAST(round(tf.tf * ln(n.n / dfreq.df), 6) AS DECIMAL(18,6)) AS w
  FROM tf JOIN dfreq USING (gram) CROSS JOIN n
),
norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS probe_id, b.doc_id AS cand_id, sum(a.w * b.w) AS dot
  FROM w a JOIN w b USING (gram)
  WHERE a.doc_id % 20 = 0 AND b.doc_id % 20 <> 0
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT d.probe_id, d.cand_id,
         CAST(round(CAST(d.dot AS DOUBLE)
                    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                    6) AS DOUBLE) AS cos_sim
  FROM dots d
  JOIN norms na ON na.doc_id = d.probe_id
  JOIN norms nb ON nb.doc_id = d.cand_id
)
SELECT probe_id, cand_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, cand_id) AS rnk
  FROM scored
) WHERE rnk <= 5
"""
    ok, msg = compare(got, sql, SF_ORACLE)
    assert ok, msg


def test_staged_float_reductions_are_partition_invariant(spark):
    """The staged operators' decimal-stabilization claim, tested
    directly: identical results whatever the partitioning — double
    addition is not associative, so a raw-double formulation would let
    repartitioning change the last ulp (and, post-rounding, sometimes
    the emitted value). One partition vs 13 must agree EXACTLY."""
    from data_finder_comparator_spark.operators.textops import (
        gram_tfidf_cosine_topk,
        token_entropy,
        unigram_logprob,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for op in (token_entropy, unigram_logprob):
        a = rows(op(docs.repartition(1)))
        b = rows(op(docs.repartition(13)))
        assert a == b, op.__name__
    a = rows(gram_tfidf_cosine_topk(docs.repartition(1), k=5))
    b = rows(gram_tfidf_cosine_topk(docs.repartition(13), k=5))
    assert a == b


def test_gzipped_jsonl_source_roundtrip(spark, tmp_path):
    """Training corpora ship as .jsonl.gz; Spark's text-source codec
    handling must decompress transparently and the result must match
    the uncompressed read row-for-row (schema included). Pins the
    ingest path a 100 TB pipeline actually uses — one .gz file is one
    non-splittable partition, so production layouts shard into many
    small gz files exactly like this folder."""
    import gzip
    import json

    d = tmp_path / "gz_src"
    d.mkdir()
    rows = [
        {"doc_id": i, "text": f"doc {i} text", "lang": ["en", "de"][i % 2]}
        for i in range(20)
    ]
    for shard in range(4):
        with gzip.open(d / f"part-{shard}.json.gz", "wt") as fh:
            for r in rows[shard::4]:
                fh.write(json.dumps(r) + "\n")
    got = spark.read.json(str(d))
    assert got.count() == 20
    back = sorted(
        (r.doc_id, r.text, r.lang) for r in got.collect()
    )
    assert back == sorted((r["doc_id"], r["text"], r["lang"]) for r in rows)
    # and the scan parallelizes across the gz shards (each file is a
    # partition — non-splittable, but four files give four tasks)
    assert got.rdd.getNumPartitions() >= 4
    # the folder reader's extension filter must also surface the
    # compressed shard names (.json accepts .json.gz): a .gz-sharded
    # corpus folder read as fmt="json" returns every row
    from data_finder_comparator_spark.sources.union import (
        hadoop_ls,
        read_folder_union_by_name,
    )

    assert len(hadoop_ls(spark, str(d), ".json")) == 4
    assert read_folder_union_by_name(spark, str(d), fmt="json").count() == 20
    # ...but ONLY for text formats: gzip wraps the whole container for
    # binary formats (parquet/orc footer seeks break), so a .parquet.gz
    # must stay invisible to a parquet folder listing instead of
    # surfacing as a corrupt-footer read failure
    (d / "archived.parquet.gz").write_bytes(b"\x1f\x8b not a real shard")
    assert hadoop_ls(spark, str(d), ".parquet") == []


def test_streaming_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Checkpointed restart semantics: drain a 2-file probe stream with
    availableNow (epochs commit to the checkpoint), add 2 more files,
    restart the SAME stream/checkpoint/sink — only the new files may
    produce output. A broken checkpoint contract would re-emit the
    first files' tiers as duplicates; each probe must appear exactly
    once per matched candidate."""
    probes_dir = tmp_path / "probes_ckpt"
    probes_dir.mkdir()
    cand = spark.createDataFrame(
        [(10, "cold widget"), (11, "old widget")], "cand_id long, cand string"
    )
    sink = str(tmp_path / "sink_ckpt")
    ckpt = str(tmp_path / "ckpt")

    def write_probe_file(name: str, rows):
        spark.createDataFrame(rows, "probe_id long, probe string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / f"stage_{name}"))
        import glob
        import shutil

        src = glob.glob(str(tmp_path / f"stage_{name}" / "*.parquet"))[0]
        shutil.copy(src, str(probes_dir / f"{name}.parquet"))

    def run_once():
        _drain_tiers(spark, probes_dir, cand, sink, checkpoint=ckpt)

    write_probe_file("a", [(1, "cold widgetx")])
    write_probe_file("b", [(2, "old widget")])
    run_once()
    first = spark.read.parquet(sink).count()
    assert first > 0
    write_probe_file("c", [(3, "cold widget")])
    write_probe_file("d", [(4, "bold widget")])
    run_once()
    rows = spark.read.parquet(sink).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append((r.cand_id, r.tier))
    # every probe from BOTH runs present...
    assert set(by_probe) == {1, 2, 3, 4}
    # ...and no (probe, cand, tier) emitted twice — committed epochs
    # were not replayed on restart
    for pid, matches in by_probe.items():
        assert len(matches) == len(set(matches)), (pid, matches)


def test_label_centroid_outliers_oracle_ready(spark):
    """Pytest-gated (COVERAGE.md): per-label embedding centroids + each
    label's 5 most-outlying vectors by cosine-to-centroid (the
    mislabeled-sample sweep). Decimal dimension sums + the module's
    left-to-right fold make the DuckDB restatement bitwise."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.similarity import (
        label_centroid_outliers,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    sql = """
WITH vecs AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
dims AS (
  SELECT label, i - 1 AS dim, CAST(v[i] AS DECIMAL(28,10)) AS x
  FROM vecs, unnest(range(1, len(v) + 1)) AS r(i)
),
means AS (
  SELECT label, dim, CAST(sum(x) AS DOUBLE) / count(*) AS m
  FROM dims GROUP BY label, dim
),
centroids AS (
  SELECT label, list(m ORDER BY dim) AS c FROM means GROUP BY label
),
scored AS (
  SELECT v.label, v.vec_id,
         round(list_dot_product(v.v, ct.c)
               / sqrt(list_dot_product(v.v, v.v) * list_dot_product(ct.c, ct.c)),
               6) AS cos_centroid
  FROM vecs v JOIN centroids ct USING (label)
  WHERE list_dot_product(v.v, v.v) > 0 AND list_dot_product(ct.c, ct.c) > 0
)
SELECT label, vec_id, CAST(cos_centroid AS DOUBLE) AS cos_centroid,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY label
                               ORDER BY cos_centroid, vec_id) AS rnk
  FROM scored
) WHERE rnk <= 5
"""
    ok, msg = compare(label_centroid_outliers(emb, k=5), sql, SF_ORACLE)
    assert ok, msg


def test_zorder_layout_stats_oracle_ready(spark):
    """Pytest-gated (COVERAGE.md): z-order (Morton) layout statistics over
    events (user_id x value) — per-z-bucket row counts and min/max of
    BOTH grid coordinates, integer-exact vs DuckDB. The locality
    assertion is the point of z-ordering: with 8-bit grids and 6
    leading bucket bits every bucket is a 32x32 tile, so BOTH
    dimensions' per-bucket ranges are bounded — the file-statistics
    property that lets either-column filters prune a z-ordered
    layout."""
    from tests.oracle import compare

    from data_finder_comparator_spark.partitioning import zorder_layout_stats
    from data_finder_comparator_spark.sources.parquet import load_table

    ev = load_table(spark, SF_ORACLE, "events").select("user_id", "value")
    got = zorder_layout_stats(ev, "user_id", "value", bits=8, bucket_bits=6)

    interleave = " + ".join(
        f"(((ga >> {i}) & 1) << {2 * i}) + (((gb >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )
    sql = f"""
WITH bounds AS (
  SELECT min(user_id) AS a_mn, max(user_id) AS a_mx,
         min(value) AS b_mn, max(value) AS b_mx
  FROM events
),
gridded AS (
  SELECT
    CASE WHEN a_mx = a_mn THEN 0
         ELSE least(CAST(floor(((user_id - a_mn) / (a_mx - a_mn)) * 256) AS BIGINT),
                    255) END AS ga,
    CASE WHEN b_mx = b_mn THEN 0
         ELSE least(CAST(floor(((value - b_mn) / (b_mx - b_mn)) * 256) AS BIGINT),
                    255) END AS gb
  FROM events, bounds
),
z AS (SELECT ga, gb, {interleave} AS zk FROM gridded)
SELECT zk >> 10 AS bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(min(ga) AS BIGINT) AS a_lo, CAST(max(ga) AS BIGINT) AS a_hi,
       CAST(min(gb) AS BIGINT) AS b_lo, CAST(max(gb) AS BIGINT) AS b_hi
FROM z GROUP BY bucket
"""
    ok, msg = compare(got, sql, SF_ORACLE)
    assert ok, msg
    # the locality property itself
    for r in got.collect():
        assert r.a_hi - r.a_lo <= 31 and r.b_hi - r.b_lo <= 31, r


def test_streaming_outer_attribution_matches_batch(spark, tmp_path):
    """Pytest-gated (COVERAGE.md): LEFT OUTER stream-stream attribution —
    unattributed purchases must surface with null click columns once
    the watermark closes their window, and the attributed subset must
    equal the inner join. Exact stream/batch equivalence via a
    far-future sentinel event on both sides (swept out of the output)
    so the final watermark releases every real unmatched row."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE
    from tests.oracle import TABLES, compare

    from data_finder_comparator_spark.streaming.pipeline import (
        purchase_click_attribution_outer,
    )

    d = tmp_path / "outer_sf"
    d.mkdir()
    base = pq.read_table(f"{SF_SMOKE}/events.parquet")
    import datetime

    far = datetime.datetime(2030, 1, 1)
    sentinel = pa.table(
        {
            "event_id": pa.array([-1, -2], pa.int64()),
            "ts": pa.array([far, far], base.schema.field("ts").type),
            "user_id": pa.array([-1, -1], pa.int64()),
            "event_type": pa.array(["purchase", "click"], pa.string()),
            "value": pa.array([0.0, 0.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(
        pa.concat_tables([base.select(sentinel.column_names), sentinel]),
        str(d / "events.parquet"),
    )
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", str(d / f"{t}.parquet"))

    got = purchase_click_attribution_outer(
        spark, str(d), sink_dir=str(tmp_path / "outer_sink")
    ).filter("user_id >= 0")
    sql = """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase' AND user_id >= 0),
c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click')
SELECT p.purchase_id, p.user_id, c.click_id,
       CAST(CASE WHEN c.click_id IS NULL THEN NULL
                 ELSE epoch_us(p.p_ts) - epoch_us(c.c_ts) END AS BIGINT) AS gap_us,
       c.click_id IS NOT NULL AS attributed
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 60 MINUTE
 AND c.c_ts <= p.p_ts
"""
    ok, msg = compare(got, sql, str(d))
    assert ok, msg
    rows = got.collect()
    assert any(not r.attributed for r in rows)  # unmatched rows surfaced
    assert any(r.attributed for r in rows)


def test_hll_sketch_persists_and_merges_across_sessions(spark, tmp_path):
    """The operational property behind the sketch family: register
    tables are ordinary parquet TABLES — persist today's shard sketch,
    reload it later, merge with tomorrow's by register-max, and the
    estimate equals the sketch built over both corpora at once. This
    is the fold-in-yesterday workflow a 100 TB pipeline runs daily
    without rescanning yesterday's corpus."""
    from pyspark.sql import functions as F

    from data_finder_comparator_spark.plans.queries_dedup import (
        _hll_finalize,
        _hll_rho_rows,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    day1 = docs.filter(F.col("doc_id") % 2 == 0).select("text")
    day2 = docs.filter(F.col("doc_id") % 2 == 1).select("text")

    def registers(df):
        return (
            _hll_rho_rows(df)
            .groupBy("register_id")
            .agg(F.max("rho").cast("long").alias("max_rho"))
        )

    # day 1: build, persist to parquet, DROP the source
    registers(day1).write.parquet(str(tmp_path / "day1_sketch"))
    # day 2: reload yesterday's STATE (not data), merge with today's
    merged = (
        spark.read.parquet(str(tmp_path / "day1_sketch"))
        .unionByName(registers(day2))
        .groupBy("register_id")
        .agg(F.max("max_rho").cast("long").alias("max_rho"))
    )
    direct = registers(docs.select("text"))
    got = {
        r.register_id: r.max_rho
        for r in merged.collect()
    }
    want = {r.register_id: r.max_rho for r in direct.collect()}
    assert got == want
    # and the finalized estimates agree exactly
    e_m = _hll_finalize(merged).select("est_distinct").first()[0]
    e_d = _hll_finalize(direct).select("est_distinct").first()[0]
    assert e_m == e_d


def test_user_state_versions_oracle_ready(spark):
    """Pytest-gated (COVERAGE.md): SCD2-style temporal versioning of each
    user's event stream (gaps-and-islands — consecutive same-state runs
    collapse into versions with validity intervals and a current
    flag). Hash-matched against the DuckDB lag/running-sum
    restatement."""
    from tests.oracle import compare

    from data_finder_comparator_spark.plans.queries_relational import (
        user_state_versions,
    )

    sql = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type AS state,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
marked AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ver
  FROM ordered
),
versions AS (
  SELECT user_id, ver, min(state) AS state, min(ts) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_events
  FROM marked GROUP BY user_id, ver
)
SELECT user_id, CAST(ver AS BIGINT) AS version, state,
       valid_from,
       lead(valid_from) OVER wv AS valid_to,
       lead(valid_from) OVER wv IS NULL AS is_current,
       n_events
FROM versions
WINDOW wv AS (PARTITION BY user_id ORDER BY ver)
"""
    ok, msg = compare(user_state_versions(spark, SF_ORACLE), sql, SF_ORACLE)
    assert ok, msg


def test_source_contamination_matrix_oracle_ready(spark):
    """Pytest-gated (COVERAGE.md): pairwise cross-source 3-gram overlap with
    integer containment ppm — the corpus-granularity leakage report.
    Integer-exact vs DuckDB."""
    from tests.oracle import compare

    from data_finder_comparator_spark.plans.catalog import release_caches
    from data_finder_comparator_spark.plans.queries_text import (
        source_contamination_matrix,
    )

    sql = r"""
WITH toks AS (
  SELECT source, string_split_regex(text, '\s+') AS t FROM documents
),
sg AS (
  SELECT DISTINCT source, array_to_string(t[i : i + 2], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
          FROM sg GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS shared_grams
  FROM sg a JOIN sg b USING (gram)
  WHERE a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.src_a, s.src_b, s.shared_grams,
       za.n_grams AS a_grams, zb.n_grams AS b_grams,
       (1000000 * s.shared_grams) // za.n_grams AS a_contained_ppm,
       (1000000 * s.shared_grams) // zb.n_grams AS b_contained_ppm
FROM shared s
JOIN sizes za ON za.source = s.src_a
JOIN sizes zb ON zb.source = s.src_b
"""
    try:
        ok, msg = compare(
            source_contamination_matrix(spark, SF_ORACLE), sql, SF_ORACLE
        )
    finally:
        release_caches()
    assert ok, msg


def test_ppm_resize_oracle_ready(spark):
    """Pytest-gated (COVERAGE.md):
    nearest-neighbor P6 image resize — the fixed-resolution
    standardization pass of a vision pipeline. The synthetic pixel
    function and the integer source-index arithmetic restate exactly in
    SQL over a generated coordinate grid, so the resized pixel SUM is
    hash-checked against DuckDB; the raster md5 is golden-tested
    separately (bytes are not SQL-expressible)."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.multimodal import (
        attach_ppm_payload,
        ppm_resize_features,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    got = ppm_resize_features(attach_ppm_payload(docs), out_w=8, out_h=6).drop(
        "resized_md5"
    )
    sql = """
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 7 AS in_w, 12 + doc_id % 5 AS in_h FROM documents
),
grid AS (
  SELECT doc_id, in_w, in_h, x, y, c
  FROM dims, range(8) r1(x), range(6) r2(y), range(3) r3(c)
),
sampled AS (
  SELECT doc_id, in_w, in_h,
         (doc_id + ((x * in_w) // 8) * 7 + ((y * in_h) // 6) * 13 + c * 29) % 256 AS v
  FROM grid
)
SELECT doc_id,
       CAST(in_w AS BIGINT) AS in_w, CAST(in_h AS BIGINT) AS in_h,
       CAST(8 AS BIGINT) AS out_w, CAST(6 AS BIGINT) AS out_h,
       CAST(144 AS BIGINT) AS n_pixel_bytes,
       CAST(sum(v) AS BIGINT) AS pixel_sum
FROM sampled GROUP BY 1, 2, 3
"""
    ok, msg = compare(got, sql, SF_ORACLE)
    assert ok, msg


def test_ppm_resize_matches_pure_python_reference(spark):
    """The resize kernel (and its md5 fingerprint) vs an independent
    pure-Python per-pixel loop over the same synthetic payloads, plus
    partition invariance of the whole mapInPandas pipeline."""
    import hashlib

    from data_finder_comparator_spark.operators.multimodal import (
        attach_ppm_payload,
        ppm_resize_features,
        synth_ppm_payload,
    )

    ids = [0, 1, 5, 12, 33]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = {
        r.doc_id: r
        for r in ppm_resize_features(attach_ppm_payload(docs), out_w=8, out_h=6).collect()
    }
    for i in ids:
        in_w, in_h = 16 + i % 7, 12 + i % 5
        payload = synth_ppm_payload(i, in_w, in_h)
        header_len = len(f"P6\n{in_w} {in_h}\n255\n")
        raster = payload[header_len:]
        out = bytearray()
        for y in range(6):
            sy = (y * in_h) // 6
            for x in range(8):
                sx = (x * in_w) // 8
                for c in range(3):
                    out.append(raster[(sy * in_w + sx) * 3 + c])
        r = rows[i]
        assert (r.in_w, r.in_h, r.n_pixel_bytes) == (in_w, in_h, 144)
        assert r.pixel_sum == sum(out)
        assert r.resized_md5 == hashlib.md5(bytes(out)).hexdigest()
    # partition invariance: 1 vs 7 partitions, identical full output
    a = sorted(
        tuple(r)
        for r in ppm_resize_features(attach_ppm_payload(docs.repartition(1))).collect()
    )
    b = sorted(
        tuple(r)
        for r in ppm_resize_features(attach_ppm_payload(docs.repartition(7))).collect()
    )
    assert a == b


def test_ann_recall_audit_oracle_ready(spark):
    """Pytest-gated (COVERAGE.md):
    recall@5 of the IVF and hyperplane-LSH ANN paths against the exact
    brute-force top-5 — measured, not assumed, at the registered
    parameters. The oracle embeds the three per-method SQL restatements
    that already hash-match their registered queries, so the recall
    arithmetic is pinned end to end."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.similarity import ann_recall_audit
    from data_finder_comparator_spark.plans.queries_similarity import (
        _ANN_ORACLE,
        _IVF_ORACLE,
        _IVF_PQ_ORACLE,
        _LSH_ORACLE,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("long").alias("probe_id"),
        F.col("embedding").alias("vec_p"),
    )
    cands = emb.select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("embedding").alias("vec_c"),
    )
    got = ann_recall_audit(probes, cands, k=5)
    sql = f"""
WITH truth AS ({_ANN_ORACLE}),
ivf AS ({_IVF_ORACLE}),
lsh AS ({_LSH_ORACLE}),
ivf_pq AS ({_IVF_PQ_ORACLE}),
stats AS (
  SELECT 'ivf' AS method,
         (SELECT count(*) FROM truth) AS truth_pairs,
         (SELECT count(*) FROM truth t JOIN ivf a
            ON t.probe_id = a.probe_id AND t.cand_id = a.cand_id) AS hits
  UNION ALL
  SELECT 'lsh',
         (SELECT count(*) FROM truth),
         (SELECT count(*) FROM truth t JOIN lsh a
            ON t.probe_id = a.probe_id AND t.cand_id = a.cand_id)
  UNION ALL
  SELECT 'ivf_pq',
         (SELECT count(*) FROM truth),
         (SELECT count(*) FROM truth t JOIN ivf_pq a
            ON t.probe_id = a.probe_id AND t.cand_id = a.cand_id)
)
SELECT method, CAST(truth_pairs AS BIGINT) AS truth_pairs,
       CAST(hits AS BIGINT) AS hits,
       CAST(round(hits * 1.0 / truth_pairs, 4) AS DOUBLE) AS recall
FROM stats
"""
    ok, msg = compare(got, sql, SF_ORACLE)
    assert ok, msg
    vals = {r.method: r.recall for r in got.collect()}
    # recall is deterministic (md5 hyperplanes, stride centroids, 6-dp
    # rounded ranking), so the swept parameters pin EXACTLY: ivf
    # stride=50/n_assign=2 with the r11 nprobe=8 routing bump
    # (bench_history/ivf_centroid_sweep_r11.json: 0.79 -> 0.86 @ sf0.1
    # for 1.55x scored pairs; trained k-means centroids re-measured as
    # a clear negative there, confound-controlled) and lsh 6 planes x
    # 8 tables + Hamming-1 multiprobe (ann_sweep_r9.json).
    # ivf_pq shares ivf's router, so 1.0 - 0.96 = what product
    # quantization itself gives up at pq_stride=10 x rerank=120 (the
    # r11 rerank sweep: 60 -> 120 reads +0.043 recall @ sf0.1 for
    # negligible wall — re-rank cost is a sliver of the encode).
    # History: nprobe=5/rerank=60 pinned ivf 0.98 / ivf_pq 0.87;
    # nprobe=8/rerank=60 pinned ivf 1.0 / ivf_pq 0.88.
    assert vals == {"ivf": 1.0, "lsh": 0.94, "ivf_pq": 0.96}, vals


def test_ivf_trained_centroids_composition(spark):
    """The trained-quantizer hook: ivf_topk(centroids=...) quantizes
    with a kmeans_lloyd codebook rolled back into vectors. Pins the
    composition (flatten -> train -> centroid_vectors -> search) end to
    end: valid ranked top-k output, deterministic across partitionings,
    and every emitted pair scored with the true cosine. The recall
    COMPARISON vs stride-sampled centroids is recorded in SCALE.md §10
    — a measured negative on this synthetic corpus (see there), which
    is exactly why the codebook is a parameter, not the default."""
    from data_finder_comparator_spark.operators.clustering import (
        flatten_vectors,
        kmeans_lloyd,
    )
    from data_finder_comparator_spark.operators.similarity import (
        centroid_vectors,
        ivf_topk,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("long").alias("probe_id"),
        F.col("embedding").alias("vec_p"),
    )
    cands = emb.select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("embedding").alias("vec_c"),
    )
    cents = centroid_vectors(
        kmeans_lloyd(flatten_vectors(cands, "cand_id", "vec_c"), k=10, iterations=2)
    )
    got = ivf_topk(probes, cands, k=5, centroids=cents)
    rows = got.collect()
    assert len(rows) > 0
    per_probe: dict = {}
    for r in rows:
        assert 1 <= r.rnk <= 5 and -1.0 <= r.cos_sim <= 1.0
        per_probe.setdefault(r.probe_id, []).append((r.rnk, r.cos_sim))
    for ranked in per_probe.values():
        ranked.sort()
        sims = [s for _, s in ranked]
        assert sims == sorted(sims, reverse=True)  # rank order = sim order
    a = sorted(tuple(r) for r in rows)
    b = sorted(
        tuple(r)
        for r in ivf_topk(
            probes.repartition(7), cands.repartition(5), k=5, centroids=cents
        ).collect()
    )
    assert a == b


def test_embedding_neardup_recall_oracle_ready(spark):
    """Round 9: the registered embedding_neardup_pairs runs the
    LSH-candidates + exact-verify plan; the O(n^2) broadcast crossJoin
    survives ONLY here, as the ground-truth baseline its completeness
    is measured against. Both sides are deterministic (md5 hyperplanes,
    6-dp cosine), so the recall pins exactly: at the synthetic corpus's
    0.35 threshold — barely above the random-pair cosine, the hardest
    possible regime for LSH — the Hamming<=1 multiprobe candidates
    recover 253 of 271 true pairs (0.9336). Every pair the hybrid DOES
    emit must carry the identical exact cosine as brute force."""
    from data_finder_comparator_spark.operators.similarity import dot
    from data_finder_comparator_spark.plans.catalog import QUERIES
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    a = emb.select(
        F.col("vec_id").cast("long").alias("vec_a"), F.col("embedding").alias("vec_p")
    ).withColumn("_na", dot("vec_p", "vec_p"))
    b = emb.select(
        F.col("vec_id").cast("long").alias("vec_b"), F.col("embedding").alias("vec_c")
    ).withColumn("_nb", dot("vec_c", "vec_c"))
    brute = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in (
            a.crossJoin(F.broadcast(b))
            .filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn(
                "cos_sim",
                F.round(dot("vec_p", "vec_c") / F.sqrt(F.col("_na") * F.col("_nb")), 6),
            )
            .filter(F.col("cos_sim") >= 0.35)
            .select("vec_a", "vec_b", "cos_sim")
        ).collect()
    }
    hybrid = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in QUERIES["embedding_neardup_pairs"](spark, SF_ORACLE).collect()
    }
    # subset semantics with exact values on the overlap
    for pair, sim in hybrid.items():
        assert brute[pair] == sim, pair
    assert len(brute) == 271 and len(hybrid) == 253, (len(brute), len(hybrid))


def test_maximal_repeated_spans_oracle_ready(spark):
    """Round 9, pytest-gated (registry saturated): variable-length
    substring dedup — per-doc maximal islands of hot-gram coverage
    (gaps-and-islands windows over gram positions) vs a full DuckDB
    restatement, plus the cross-doc exact-text report."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.textops import (
        maximal_repeated_spans,
        repeated_span_report,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    caches: list = []
    try:
        got = maximal_repeated_spans(docs, min_docs=3, span=3, cache_registry=caches)
        sql = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS start, array_to_string(t[i : i + 2], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
),
hot AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 3
),
hs AS (SELECT g.doc_id, g.start FROM grams g JOIN hot USING (gram)),
marked AS (
  SELECT doc_id, start,
         CASE WHEN lag(start) OVER w IS NULL
                OR start - lag(start) OVER w > 3 THEN 1 ELSE 0 END AS nw
  FROM hs WINDOW w AS (PARTITION BY doc_id ORDER BY start)
),
numbered AS (
  SELECT doc_id, start,
         sum(nw) OVER (PARTITION BY doc_id ORDER BY start) AS island
  FROM marked
),
agg AS (
  SELECT doc_id, island, min(start) AS span_start,
         max(start) - min(start) + 3 AS span_len,
         count(*) AS n_grams
  FROM numbered GROUP BY 1, 2
)
SELECT a.doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(span_len AS BIGINT) AS span_len,
       CAST(n_grams AS BIGINT) AS n_grams,
       array_to_string(t[span_start + 1 : span_start + span_len], ' ') AS span_text
FROM agg a JOIN toks USING (doc_id)
"""
        ok, msg = compare(got, sql, SF_ORACLE)
        assert ok, msg

        report = repeated_span_report(docs, min_docs=3, span=3)
        report_sql = f"""
WITH spans AS ({sql})
SELECT span_text, span_len,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM spans GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3
"""
        ok, msg = compare(report, report_sql, SF_ORACLE)
        assert ok, msg
        # the report must contain spans LONGER than the fixed width —
        # otherwise the coalescing added nothing over duplicate_spans
        assert report.filter(F.col("span_len") > 3).count() > 0
    finally:
        for c in caches:
            c.unpersist()


def test_maximal_spans_subsume_fixed_width(spark):
    """Property (VERDICT r8 item 5): every hot fixed-width gram
    occurrence the duplicate_spans pass detects lies inside EXACTLY ONE
    maximal island of its doc; islands are maximal (inter-island gap >
    span) and their text matches the token slice — recomputed against
    an independent brute-force in plain Python."""
    from collections import defaultdict

    from data_finder_comparator_spark.operators.textops import maximal_repeated_spans
    from data_finder_comparator_spark.sources.parquet import load_table

    span, min_docs = 3, 3
    docs = load_table(spark, SF_SMOKE, "documents")
    raw = {r.doc_id: [t for t in r.text.split() if t] for r in docs.collect()}
    gram_docs = defaultdict(set)
    for d, t in raw.items():
        for j in range(len(t) - span + 1):
            gram_docs[" ".join(t[j : j + span])].add(d)
    hot = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}
    hot_starts = {
        d: [j for j in range(len(t) - span + 1) if " ".join(t[j : j + span]) in hot]
        for d, t in raw.items()
    }
    got = defaultdict(list)
    for r in maximal_repeated_spans(docs, min_docs=min_docs, span=span).collect():
        got[r.doc_id].append((r.span_start, r.span_len, r.n_grams, r.span_text))
    for d, starts in hot_starts.items():
        islands = sorted(got.get(d, []))
        # maximality: islands never chain (gap between coverage > 0)
        for (s1, l1, _, _), (s2, _, _, _) in zip(islands, islands[1:]):
            assert s2 > s1 + l1 - span + span, (d, islands)  # s2 - prev_start > span
        covered = 0
        for j in starts:
            inside = [
                (s, l) for s, l, _, _ in islands if s <= j and j + span <= s + l
            ]
            assert len(inside) == 1, (d, j, islands)
            covered += 1
        # island gram counts account for every hot start exactly once
        assert covered == sum(n for _, _, n, _ in islands), d
        # island text == token slice
        for s, l, _, text in islands:
            assert text == " ".join(raw[d][s : s + l]), (d, s, l)
    # and no islands in docs with no hot grams
    assert all(d in hot_starts and hot_starts[d] for d in got), "phantom islands"


def test_semantic_dedup_oracle_ready(spark):
    """Round 9, pytest-gated (registry saturated): SemDeDup-style
    embedding dedup — coarse-quantizer cells partition the corpus, a
    vector is dropped iff a lower-id cell-mate matches at >= threshold
    (the published implementation's keep-rule) — vs a full DuckDB
    restatement of cells, in-cell pairs, and the greedy drop."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.similarity import semantic_dedup
    from data_finder_comparator_spark.plans.queries_similarity import (
        _CENT_COS,
        _DUCK_COS,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    caches: list = []
    got = semantic_dedup(emb, threshold=0.3, stride=50, cache_registry=caches)
    sql = f"""
WITH cents AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
cell AS (
  SELECT vec_id, cent_id AS cell_id FROM (
    SELECT v.vec_id, ct.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_CENT_COS} DESC, ct.cent_id) AS rn
    FROM embeddings v CROSS JOIN cents ct
  ) WHERE rn = 1
),
pairs AS (
  SELECT * FROM (
    SELECT ca.vec_id AS vec_a, cb.vec_id AS vec_b, {_DUCK_COS} AS cos_sim
    FROM cell ca JOIN cell cb ON ca.cell_id = cb.cell_id AND ca.vec_id < cb.vec_id
    JOIN embeddings p ON p.vec_id = ca.vec_id
    JOIN embeddings c ON c.vec_id = cb.vec_id
  ) WHERE cos_sim >= 0.3
),
dups AS (
  SELECT vec_b AS vec_id, vec_a AS dup_of, cos_sim AS dup_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_b
                                 ORDER BY cos_sim DESC, vec_a) AS rn
    FROM pairs
  ) WHERE rn = 1
)
SELECT c.vec_id, c.cell_id, d.vec_id IS NULL AS is_kept, d.dup_of, d.dup_sim
FROM cell c LEFT JOIN dups d USING (vec_id)
"""
    ok, msg = compare(got, sql, SF_ORACLE)
    assert ok, msg
    rows = got.collect()
    assert len(rows) == emb.count()  # one verdict per vector
    dropped = [r for r in rows if not r.is_kept]
    kept = {r.vec_id for r in rows if r.is_kept}
    assert dropped, "threshold produced no drops — test corpus regressed"
    # the keep-rule's invariants: dup_of is always a lower id in the
    # SAME cell, and every cell's lowest id always survives
    cell_of = {r.vec_id: r.cell_id for r in rows}
    assert all(r.dup_of < r.vec_id for r in dropped)
    assert all(cell_of[r.dup_of] == r.cell_id for r in dropped)
    lowest_per_cell = {}
    for r in rows:
        lowest_per_cell[r.cell_id] = min(
            lowest_per_cell.get(r.cell_id, r.vec_id), r.vec_id
        )
    assert set(lowest_per_cell.values()) <= kept
    for frame in caches:
        frame.unpersist()
    # an id space with no multiple of stride must FAIL LOUDLY, not
    # silently drop every vector
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no centroids"):
        semantic_dedup(
            emb.filter(F.col("vec_id") % 50 != 0), threshold=0.3, stride=50
        )


def test_semantic_dedup_no_global_cross_join(spark):
    """Plan shape: the only cross join is the broadcast CENTROID
    assignment (tiny side); the pair join is a cell-keyed equi-join —
    never an all-pairs product over the corpus."""
    from data_finder_comparator_spark.operators.similarity import semantic_dedup
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    plan = (
        semantic_dedup(emb, threshold=0.3, stride=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_incremental_lsh_pairs_equals_one_shot(spark, tmp_path):
    """Round 9, pytest-gated: incremental near-dup over a persistent
    band index. Processing the corpus in three ingest batches reports,
    in union, EXACTLY the one-shot lsh_candidate_pairs set; replaying
    a batch returns the same pairs and leaves the index version
    unchanged (idempotent output AND state)."""
    from data_finder_comparator_spark.operators.dedup import (
        char_shingles,
        incremental_lsh_pairs,
        lsh_candidate_pairs,
        minhash_lsh_bands,
    )
    from data_finder_comparator_spark.sinks.lakehouse import TransactionalTable
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    caches: list = []
    try:
        one_shot = {
            (r.doc_a, r.doc_b)
            for r in lsh_candidate_pairs(
                minhash_lsh_bands(
                    char_shingles(docs, "doc_id", "text", k=5, distinct=False), 12, 3
                ),
                cache_registry=caches,
            ).collect()
        }
        index = TransactionalTable(spark, str(tmp_path / "band_index"))
        reported: set = set()
        per_batch: list[set] = []
        for i in range(3):
            batch = docs.filter(F.col("doc_id") % 3 == i)
            got = {
                (r.doc_a, r.doc_b)
                for r in incremental_lsh_pairs(
                    index,
                    batch,
                    txn_app="ingest",
                    txn_version=i,
                    cache_registry=caches,
                ).collect()
            }
            per_batch.append(got)
            reported |= got
        assert reported == one_shot
        # batches overlap only through shared endpoints, never pairs:
        # each pair is reported exactly once (by the batch of its
        # later-ingested endpoint)
        assert sum(len(s) for s in per_batch) == len(one_shot)
        # crash-replay of batch 1: index state unchanged; output is
        # idempotent UNDER UNION — the original batch's pairs plus
        # already-reported cross pairs against later-ingested docs,
        # never a pair outside the one-shot set
        v = index.current_version()
        replay = {
            (r.doc_a, r.doc_b)
            for r in incremental_lsh_pairs(
                index,
                docs.filter(F.col("doc_id") % 3 == 1),
                txn_app="ingest",
                txn_version=1,
                cache_registry=caches,
            ).collect()
        }
        assert per_batch[1] <= replay <= one_shot
        assert index.current_version() == v
        assert reported | replay == one_shot
    finally:
        for frame in caches:
            frame.unpersist()


def test_ivf_pq_topk_oracle_ready(spark):
    """Round 10, pytest-gated (registry saturated): FAISS-style IVF-PQ
    — coarse-cell routing prunes the pairs, product-quantized ADC
    scores them from m-byte codes, exact cosine re-ranks the short
    list — vs a full DuckDB restatement of every stage (routing,
    subspace codebooks, argmin encoding, decimal-stabilized ADC sums,
    re-rank). The decimal round-then-sum on the ADC accumulations is
    what makes the group-by addition order engine-independent."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.similarity import ivf_pq_topk
    from data_finder_comparator_spark.plans.queries_similarity import (
        _IVF_PQ_ORACLE,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("long").alias("probe_id"),
        F.col("embedding").alias("vec_p"),
    )
    cands = emb.select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("embedding").alias("vec_c"),
    )
    got = ivf_pq_topk(probes, cands, k=5)
    sql = _IVF_PQ_ORACLE
    ok, msg = compare(got, sql, SF_ORACLE)
    assert ok, msg
    rows = got.collect()
    n_probes = emb.filter(F.col("vec_id") % 25 == 0).count()
    assert len(rows) == n_probes * 5
    assert all(1 <= r.rnk <= 5 for r in rows)


def test_corpus_profile_oracle_ready(spark):
    """Round 10, pytest-gated (registry saturated): the per-(source,
    lang) dataset card — doc/token volumes, exact length quantiles,
    exact-dup rate — vs the full DuckDB restatement using the
    module-wide token and normalization conventions."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.textops import corpus_profile
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    got = corpus_profile(docs)
    sql = """
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                t -> t <> ''))) AS BIGINT) AS total_tokens,
       round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.95), 6) AS p95_chars,
       CAST(count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))
            AS BIGINT) AS distinct_texts,
       round(1.0 - count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))
                   * 1.0 / count(*), 6) AS dup_rate
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""
    ok, msg = compare(got, sql, SF_ORACLE)
    assert ok, msg
    rows = got.collect()
    assert rows and all(r.n_docs >= r.distinct_texts for r in rows)
    assert all(0.0 <= r.dup_rate < 1.0 for r in rows)
    # volumes reconcile with the raw table
    assert sum(r.n_docs for r in rows) == docs.count()


def test_excel_folder_write_distributed_roundtrip(spark, tmp_path):
    """r11 (r10 verdict "missing" #3): the DISTRIBUTED xlsx sink —
    each partition writes its own part workbook executor-side (no
    driver collect; a workbook is one zip, so the scalable export
    shape is a folder of parts), every part carries the header row,
    and the folder unions back to the exact input."""
    import glob

    from data_finder_comparator_spark.sources.excel import (
        read_excel,
        write_excel_folder,
    )

    df = spark.createDataFrame(
        [(i, f"name-{i}", i * 0.5, i % 2 == 0) for i in range(200)],
        "id long, name string, score double, ok boolean",
    ).repartition(4)
    out = str(tmp_path / "xlsx_folder")
    n = write_excel_folder(df, out)
    parts = sorted(glob.glob(out + "/part-*.xlsx"))
    assert n == len(parts) and 1 <= n <= 4  # empty partitions write nothing
    backs = [read_excel(spark, p) for p in parts]
    got = backs[0]
    for b in backs[1:]:
        assert b.schema.simpleString() == got.schema.simpleString()
        got = got.unionByName(b)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
    # a partition larger than max_rows_per_file re-splits into numbered
    # chunks so no workbook ever approaches the SpreadsheetML row cap
    out2 = str(tmp_path / "xlsx_chunked")
    n2 = write_excel_folder(df.coalesce(1), out2, max_rows_per_file=90)
    assert n2 == 3 == len(glob.glob(out2 + "/part-*.xlsx"))
    total = 0
    for p in sorted(glob.glob(out2 + "/part-*.xlsx")):
        total += read_excel(spark, p).count()
    assert total == 200
    # scheme'd paths refuse loudly (same contract as the lakehouse)
    with pytest.raises(ValueError, match="local or file:"):
        write_excel_folder(df, "s3a://bucket/xlsx")


def test_ivf_pq_prebuilt_oracle_ready(spark, tmp_path):
    """r12 (r11 verdict item 3): the persisted-index serve path.
    build_ivf_pq_index persists coarse centroids, PQ codebooks, the
    cent_id-clustered inverted lists and the per-candidate code arrays
    as TransactionalTables; ivf_pq_search reads them and NEVER encodes
    a candidate. The search must hash-match ivf_pq_topk's own DuckDB
    oracle — bit-identical to the in-query-build form, proving the
    split changed the lifecycle, not the answer."""
    from tests.oracle import compare

    from data_finder_comparator_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_search,
    )
    from data_finder_comparator_spark.plans.queries_similarity import (
        _IVF_PQ_ORACLE,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("long").alias("probe_id"),
        F.col("embedding").alias("vec_p"),
    )
    cands = emb.select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("embedding").alias("vec_c"),
    )
    index = build_ivf_pq_index(spark, str(tmp_path / "idx"), cands)
    got = ivf_pq_search(index, probes, cands, k=5)
    ok, msg = compare(got, _IVF_PQ_ORACLE, SF_ORACLE)
    assert ok, msg
    # structural pin: the index tables hold what they should
    assert index.codes.read().count() == cands.count()
    m = index.params()["m"]
    assert index.codes.read().select(F.size("codes")).distinct().first()[0] == m
    assert index.cells.read().count() == cands.count() * 2  # n_assign=2


def test_ivf_pq_index_incremental_append_equivalence(spark, tmp_path):
    """r12: incremental index maintenance — bootstrap on a prefix,
    append the rest in two batches under the FROZEN codebooks, and the
    search must equal a one-shot encode over the full corpus using the
    SAME quantizers (the incremental_lsh_pairs equivalence, transposed
    to IVF-PQ). Replayed appends (same txn marker) are no-ops."""
    from data_finder_comparator_spark.operators.similarity import (
        IvfPqIndex,
        build_ivf_pq_index,
        ivf_pq_index_append,
        ivf_pq_search,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("long").alias("probe_id"),
        F.col("embedding").alias("vec_p"),
    )
    cands = emb.select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("embedding").alias("vec_c"),
    )
    n = cands.count()
    cut1, cut2 = int(n * 0.6), int(n * 0.8)
    boot = cands.filter(F.col("cand_id") < cut1)
    # quantizers must come from the BOOTSTRAP corpus in both builds for
    # the equivalence to be exact (the frozen-codebook contract)
    coarse = boot.filter(F.col("cand_id") % 50 == 0).select(
        F.col("cand_id").alias("cent_id"), F.col("vec_c").alias("vec_cent")
    )
    inc = build_ivf_pq_index(
        spark, str(tmp_path / "inc"), boot, centroids=coarse
    )
    # ... except the PQ codebook also samples from cands: rebuild the
    # one-shot reference with the SAME bootstrap-derived codebook by
    # building from boot and appending the rest as ONE batch
    oneshot = build_ivf_pq_index(
        spark, str(tmp_path / "one"), boot, centroids=coarse
    )
    b2 = cands.filter((F.col("cand_id") >= cut1) & (F.col("cand_id") < cut2))
    b3 = cands.filter(F.col("cand_id") >= cut2)
    ivf_pq_index_append(inc, b2, txn_app="ing", txn_version=1)
    ivf_pq_index_append(inc, b3, txn_app="ing", txn_version=2)
    rest = cands.filter(F.col("cand_id") >= cut1)
    ivf_pq_index_append(oneshot, rest, txn_app="ing", txn_version=1)
    a = sorted(map(tuple, ivf_pq_search(inc, probes, cands, k=5).collect()))
    b = sorted(map(tuple, ivf_pq_search(oneshot, probes, cands, k=5).collect()))
    assert a == b and len(a) > 0
    # replay: same txn marker commits nothing
    v_codes = inc.codes.current_version()
    v_cells = inc.cells.current_version()
    ivf_pq_index_append(inc, b3, txn_app="ing", txn_version=2)
    assert inc.codes.current_version() == v_codes
    assert inc.cells.current_version() == v_cells
    # the membership invariant: every routable candidate is scoreable
    cell_ids = {r.cand_id for r in inc.cells.read().select("cand_id").distinct().collect()}
    code_ids = {r.cand_id for r in inc.codes.read().select("cand_id").collect()}
    assert cell_ids <= code_ids


def test_prebuilt_serve_paths_match_build_in_query(spark, tmp_path):
    """r12 (verdict item 5): the prepare/search split extends to plain
    IVF (served from the SAME persisted index as ivf_pq — centroids +
    inverted lists) and to hyperplane LSH (persisted bucket table,
    probe-side-only bucketing at search). Each serve path must equal
    its build-in-query registered form row-for-row, and LSH appends
    must be replay-idempotent."""
    from data_finder_comparator_spark.operators.similarity import (
        build_ivf_pq_index,
        build_lsh_index,
        ivf_search,
        ivf_topk,
        lsh_bucketed_topk,
        lsh_index_append,
        lsh_search,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("long").alias("probe_id"),
        F.col("embedding").alias("vec_p"),
    )
    cands = emb.select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("embedding").alias("vec_c"),
    )
    # IVF: one index, two serving modes
    index = build_ivf_pq_index(spark, str(tmp_path / "idx"), cands)
    served = sorted(
        map(tuple, ivf_search(index, probes, cands, k=5, nprobe=8).collect())
    )
    inquery = sorted(
        map(
            tuple,
            ivf_topk(probes, cands, k=5, nprobe=8, n_assign=2).collect(),
        )
    )
    assert served == inquery and len(served) > 0
    # LSH: split build, then serve; registered defaults. Appends take
    # NO hyperplane parameters — they come from the index's meta table
    # (r12 review findings 1/3: free defaults could silently write
    # buckets invisible to every probe)
    half = cands.filter(F.col("cand_id") % 2 == 0)
    rest = cands.filter(F.col("cand_id") % 2 == 1)
    lsh = build_lsh_index(spark, str(tmp_path / "lsh"), half)
    lsh_index_append(lsh, rest, txn_app="lsh-ing", txn_version=1)
    v = lsh.buckets.current_version()
    lsh_index_append(lsh, rest, txn_app="lsh-ing", txn_version=1)  # replay
    assert lsh.buckets.current_version() == v
    served = sorted(map(tuple, lsh_search(lsh, probes, cands, k=5).collect()))
    inquery = sorted(
        map(
            tuple,
            lsh_bucketed_topk(
                probes, cands, k=5, n_planes=6, n_tables=8, dim=64, multiprobe=1
            ).collect(),
        )
    )
    assert served == inquery and len(served) > 0


def test_index_handles_refuse_loudly_when_incomplete(spark, tmp_path):
    """r12 review findings 4/5: an absent or half-built index must
    refuse with a named error at the handle, not crash with a bare
    TypeError deep in a plan — meta is committed LAST by both builds,
    so its absence also covers a build that crashed mid-way."""
    from data_finder_comparator_spark.operators.similarity import (
        IvfPqIndex,
        LshIndex,
        ivf_pq_index_append,
        lsh_index_append,
    )

    empty = IvfPqIndex(spark, str(tmp_path / "missing"))
    with pytest.raises(ValueError, match="no complete IVF-PQ index"):
        empty.params()
    one = spark.createDataFrame(
        [(1, [0.1] * 64)], "cand_id long, vec_c array<double>"
    )
    with pytest.raises(ValueError, match="no complete IVF-PQ index"):
        ivf_pq_index_append(empty, one)
    lsh = LshIndex(spark, str(tmp_path / "missing-lsh"))
    with pytest.raises(ValueError, match="no complete LSH index"):
        lsh.params()
    with pytest.raises(ValueError, match="no complete LSH index"):
        lsh_index_append(lsh, one)


def test_ivf_pq_index_on_memory_store_with_compaction(spark, tmp_path):
    """r12 composition: the persisted ANN index is just transactional
    tables, so it inherits BOTH new capabilities for free — (a) the
    whole build/append/serve lifecycle runs on MemoryStore with zero
    os-path IO under the index root, and (b) optimize() compacting the
    append-accreted cells/codes files must not change a single search
    result (compaction is rewrite-only by contract)."""
    import os

    from data_finder_comparator_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_append,
        ivf_pq_search,
    )
    from data_finder_comparator_spark.sinks.storage import MemoryStore
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("long").alias("probe_id"),
        F.col("embedding").alias("vec_p"),
    )
    cands = emb.select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("embedding").alias("vec_c"),
    )
    n = cands.count()
    cut = int(n * 0.7)
    boot = cands.filter(F.col("cand_id") < cut)
    rest = cands.filter(F.col("cand_id") >= cut)
    label = str(tmp_path / "never-on-disk-idx")
    stores = {k: MemoryStore() for k in ("centroids", "codebook", "cells", "codes", "meta")}
    idx = build_ivf_pq_index(spark, label, boot, stores=stores)
    ivf_pq_index_append(idx, rest, txn_app="mem-ing", txn_version=1)
    before = sorted(map(tuple, ivf_pq_search(idx, probes, cands, k=5).collect()))
    assert len(before) > 0
    # compact the append-accreted small files; results must not move
    idx.cells.optimize(small_bytes=1 << 30)
    idx.codes.optimize(small_bytes=1 << 30)
    after = sorted(map(tuple, ivf_pq_search(idx, probes, cands, k=5).collect()))
    assert before == after
    assert not os.path.exists(label)


def test_index_rebuild_and_misrooted_store_refuse(spark, tmp_path):
    """r12 review (second pass): layering a second build on an
    existing index root would mix codebooks/hyperplane families and
    make params() ambiguous — builds refuse; and a spark-io store not
    rooted at its table's path would commit manifests referencing zero
    files — the table refuses at construction."""
    from data_finder_comparator_spark.operators.similarity import (
        build_ivf_pq_index,
        build_lsh_index,
    )
    from data_finder_comparator_spark.sinks.lakehouse import (
        TransactionalTable,
    )
    from data_finder_comparator_spark.sinks.storage import LocalStore

    cands = spark.createDataFrame(
        [
            (i, [float((i + j) % 7) + 1.0 for j in range(64)])
            for i in range(0, 200, 1)
        ],
        "cand_id long, vec_c array<double>",
    )
    build_ivf_pq_index(spark, str(tmp_path / "pq"), cands)
    with pytest.raises(ValueError, match="already exists"):
        build_ivf_pq_index(spark, str(tmp_path / "pq"), cands)
    build_lsh_index(spark, str(tmp_path / "lsh"), cands)
    with pytest.raises(ValueError, match="already exists"):
        build_lsh_index(spark, str(tmp_path / "lsh"), cands)
    with pytest.raises(ValueError, match="does not match the table path"):
        TransactionalTable(
            spark,
            str(tmp_path / "tbl-a"),
            store=LocalStore(str(tmp_path / "tbl-b")),
        )


def test_fuzzy_stream_sink_idempotent_under_epoch_replay(spark, tmp_path):
    """foreachBatch is at-least-once — a crash between the sink write
    and the checkpoint commit replays the whole epoch with the same
    epoch_id. The drain's replay-safe epoch write must make that replay
    a rewrite, not a duplicate append. Simulated by deleting the newest
    checkpoint commit marker after a clean run and restarting:
    Structured Streaming re-executes the uncommitted epoch."""
    import glob
    import os

    probes_dir = tmp_path / "probes"
    probes_dir.mkdir()
    spark.createDataFrame(
        [(1, "cold widgetx")], "probe_id long, probe string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "s1"))
    spark.createDataFrame(
        [(2, "old widget")], "probe_id long, probe string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "s2"))
    for i, stage in enumerate(("s1", "s2")):
        src = glob.glob(str(tmp_path / stage / "*.parquet"))[0]
        os.rename(src, str(probes_dir / f"p{i}.parquet"))
    cand = spark.createDataFrame(
        [(10, "cold widget"), (11, "old widget")], "cand_id long, cand string"
    )
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        _drain_tiers(spark, probes_dir, cand, sink, checkpoint=ckpt)

    run_once()
    read = lambda: sorted(
        map(
            tuple,
            spark.read.parquet(sink).select("probe_id", "cand_id", "tier").collect(),
        )
    )
    clean = read()
    assert len(clean) > 0
    # crash simulation: the newest epoch's sink write survived but its
    # checkpoint commit did not
    commits = sorted(
        c
        for c in glob.glob(os.path.join(ckpt, "commits", "*"))
        if not c.endswith(".tmp") and not os.path.basename(c).startswith(".")
    )
    os.remove(commits[-1])
    # also drop the Hadoop local-FS checksum sidecar: a stale .crc
    # makes the replay's commit re-write fail the atomic-create check
    # (misreported as a concurrent query on the checkpoint)
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    run_once()  # replays the uncommitted epoch
    assert read() == clean  # rewrite, not duplicate


def test_crashed_index_build_refuses_retry_on_same_root(spark, tmp_path):
    """r13 (r12 ADVICE, medium): the rebuild guard used to check only
    meta.current_version() — but meta is committed LAST, so a build
    that crashed before its meta commit passed the guard on retry and
    the retry layered duplicate centroid/codebook/code rows onto the
    half-built tables (duplicated codes double the ADC sums → qsim
    inflated ~sqrt(2); duplicate centroids eat nprobe slots). The
    guard now trips on ANY constituent table, and params()'s error
    sends crashed-build recovery to a FRESH root, not back into the
    build."""
    from data_finder_comparator_spark.operators.similarity import (
        IvfPqIndex,
        LshIndex,
        build_ivf_pq_index,
        build_lsh_index,
    )

    cands = spark.createDataFrame(
        [
            (i, [float((i + j) % 7) + 1.0 for j in range(64)])
            for i in range(0, 200)
        ],
        "cand_id long, vec_c array<double>",
    )
    # simulate the crash point the ADVICE names: centroids committed,
    # everything after (incl. meta) lost
    crashed = IvfPqIndex(spark, str(tmp_path / "pq"))
    crashed.centroids.append(
        cands.filter(F.col("cand_id") % 50 == 0).select(
            F.col("cand_id").alias("cent_id"),
            F.col("vec_c").alias("vec_cent"),
        )
    )
    with pytest.raises(ValueError, match="crashed mid-build"):
        build_ivf_pq_index(spark, str(tmp_path / "pq"), cands)
    with pytest.raises(ValueError, match="FRESH root"):
        crashed.params()
    # same crash shape for LSH: buckets committed, meta lost
    crashed_lsh = LshIndex(spark, str(tmp_path / "lsh"))
    crashed_lsh.buckets.append(
        spark.createDataFrame(
            [(0, "000000", 1)], "table_id int, bucket string, cand_id long"
        )
    )
    with pytest.raises(ValueError, match="crashed mid-build"):
        build_lsh_index(spark, str(tmp_path / "lsh"), cands)
    with pytest.raises(ValueError, match="FRESH root"):
        crashed_lsh.params()


def test_index_serve_and_append_refuse_dim_mismatch(spark, tmp_path):
    """r13 (r12 ADVICE #3): searches and appends over a prebuilt index
    never validated probe/candidate vector width against the frozen
    params()['dim'] — a mismatched batch silently yielded null-padded
    zip_with projections and garbage/empty routing. All five entry
    points now refuse loudly."""
    from data_finder_comparator_spark.operators.similarity import (
        build_ivf_pq_index,
        build_lsh_index,
        ivf_pq_index_append,
        ivf_pq_search,
        ivf_search,
        lsh_index_append,
        lsh_search,
    )

    cands = spark.createDataFrame(
        [
            (i, [float((i + j) % 7) + 1.0 for j in range(64)])
            for i in range(0, 200)
        ],
        "cand_id long, vec_c array<double>",
    )
    probes_bad = spark.createDataFrame(
        [(1, [1.0] * 32)], "probe_id long, vec_p array<double>"
    )
    cands_bad = spark.createDataFrame(
        [(9001, [1.0] * 32)], "cand_id long, vec_c array<double>"
    )
    probes_ok = spark.createDataFrame(
        [(1, [1.0] * 64)], "probe_id long, vec_p array<double>"
    )
    pq = build_ivf_pq_index(spark, str(tmp_path / "pq"), cands)
    lsh = build_lsh_index(spark, str(tmp_path / "lsh"), cands)
    for search, idx in ((ivf_pq_search, pq), (ivf_search, pq), (lsh_search, lsh)):
        with pytest.raises(ValueError, match="dimension 32"):
            search(idx, probes_bad, cands, k=3)
        with pytest.raises(ValueError, match="dimension 32"):
            search(idx, probes_ok, cands_bad, k=3)
    with pytest.raises(ValueError, match="dimension 32"):
        ivf_pq_index_append(pq, cands_bad)
    with pytest.raises(ValueError, match="dimension 32"):
        lsh_index_append(lsh, cands_bad)
    # the BUILD entry refuses too (r13 review finding 1): an unguarded
    # mismatched build corpus would freeze null-padded quantizers that
    # every later (guarded, dim-matching) serve call happily trusts
    with pytest.raises(ValueError, match="dimension 32"):
        build_ivf_pq_index(spark, str(tmp_path / "pq-bad"), cands_bad)
    with pytest.raises(ValueError, match="dimension 32"):
        build_lsh_index(spark, str(tmp_path / "lsh-bad"), cands_bad)
    # the guard is a guard, not a filter: well-formed batches still work
    assert ivf_search(pq, probes_ok, cands, k=3).count() > 0


def test_ppm_decode_hardening_r13(spark):
    """r13 review findings on the P6 parser/resizer: spec-tolerated
    trailing bytes after the raster must not shift pixels (forward
    slice from the header end, not a negative slice from the payload
    end); 16-bit PPM (maxval > 255) refuses loudly instead of silently
    halving every sample."""
    import hashlib as _hashlib

    from data_finder_comparator_spark.operators.multimodal import (
        _decode_ppm,
        ppm_resize_features,
    )

    raster = bytes(range(10, 10 + 3 * 2 * 3))
    clean = b"P6\n3 2\n255\n" + raster
    trailing = clean + b"\n\n"  # text-mode writers append newlines
    assert _decode_ppm(trailing)["first_px"] == (10, 11, 12)
    docs = spark.createDataFrame(
        [(1, bytearray(clean)), (2, bytearray(trailing))],
        "doc_id long, payload binary",
    )
    got = {
        r.doc_id: (r.pixel_sum, r.resized_md5)
        for r in ppm_resize_features(docs, out_w=3, out_h=2).collect()
    }
    assert got[1] == got[2]  # trailing bytes change nothing
    want_md5 = _hashlib.md5(raster).hexdigest()
    assert got[1][1] == want_md5  # identity resize = the raster itself
    with pytest.raises(NotImplementedError, match="maxval"):
        _decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)


def test_wav_decode_malformed_fmt_raises_value_error():
    """Corrupt-but-well-formed fmt values (zero block_align/rate, short
    fmt chunk) raise the parser's ValueError, not ZeroDivisionError or
    struct.error — callers catching ValueError for bad payloads see
    them."""
    import struct as _struct

    from data_finder_comparator_spark.operators.multimodal import (
        _decode_wav,
        synth_wav_payload,
    )

    good = synth_wav_payload(b"\x01\x00\x02\x00")

    def patch_fmt(payload: bytes, block_align: int, rate: int) -> bytes:
        fmt = _struct.pack(
            "<IHHIIHH", 16, 1, 1, rate, rate * 2, block_align, 16
        )
        i = payload.index(b"fmt ")
        return payload[:i] + b"fmt " + fmt + payload[i + 4 + len(fmt):]

    with pytest.raises(ValueError, match="block_align"):
        _decode_wav(patch_fmt(good, 0, 8000))
    with pytest.raises(ValueError, match="sample_rate"):
        _decode_wav(patch_fmt(good, 2, 0))
    short = good.replace(
        b"fmt " + _struct.pack("<I", 16), b"fmt " + _struct.pack("<I", 8)
    )
    # shrink declared fmt size AND cut the body so the chunk walk stays
    # aligned: 8 bytes of fmt is too short for PCM
    i = short.index(b"fmt ") + 8
    short = short[:i + 8] + short[i + 16:]
    with pytest.raises(ValueError, match="fmt chunk"):
        _decode_wav(short)


def test_multimodal_null_payload_rows_drop_not_crash(spark):
    """A null payload OR a null meta struct (null source cells) drops
    the row instead of TypeError-ing the task (r13 review finding +
    r13 ADVICE #3) — one bad row in a large corpus must not kill the
    job. Covers all four extractors, including frame_sample (the
    sibling that missed the r13 guard, deferred to r14 by the
    rotation rule)."""
    from data_finder_comparator_spark.operators.multimodal import (
        binary_features,
        frame_sample,
        pcm_resample_features,
        wav_decode_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"payload-bytes"), {"mime": "text/plain", "n_bytes": 13}),
         (2, None, {"mime": "text/plain", "n_bytes": 0}),
         (3, bytearray(b"meta-is-null"), None)],
        "doc_id long, payload binary, meta struct<mime string, n_bytes long>",
    )
    # binary_features reads meta.mime, so the null-meta row drops too
    assert [r.doc_id for r in binary_features(df).collect()] == [1]
    # the byte-level extractors never touch meta: only null payload drops
    assert sorted({r.doc_id for r in wav_decode_features(df).collect()}) == [1, 3]
    assert sorted({r.doc_id for r in pcm_resample_features(df).collect()}) == [1, 3]
    frames = frame_sample(df, width=4, stride=4).collect()
    assert sorted({r.doc_id for r in frames}) == [1, 3]


def test_apply_curation_tolerates_action_column_collision(spark):
    """A probe table legitimately carrying its own 'action'/'final_key'
    columns must survive apply_curation unscathed (the decision columns
    join under reserved names — r13 review finding)."""
    from data_finder_comparator_spark.operators.curation import apply_curation

    probe = spark.createDataFrame(
        [(1, "alpha", "audit-keep", "user-final"),
         (2, "beta", "audit-drop", "user-final2")],
        "pid long, key string, action string, final_key string",
    )
    decisions = spark.createDataFrame(
        [(1, "replace", "ALPHA")], "probe_id long, action string, final_key string"
    )
    got = {r.pid: (r.key, r.action, r.final_key)
           for r in apply_curation(probe, decisions, "pid", "key").collect()}
    assert got[1] == ("ALPHA", "audit-keep", "user-final")
    assert got[2] == ("beta", "audit-drop", "user-final2")


def test_index_health_audit_gates_rebuild_on_drifted_corpus(spark, tmp_path):
    """The audit-based rebuild trigger (r14, r13 verdict item 4),
    reproducing SCALE.md's freshness-rung scenario B at the rung's own
    geometry (sf0.1 embeddings: bootstrap 1000, then 1000 antipodal
    reversed-vector rows appended; probes every 25th id, unreversed).
    Every number is deterministic (stride sampling + md5, no RNG), so
    the rung's measurements are pinned exactly:

    * the build-time pin is 0.8425; after the 50% OOD append the
      served recall is 0.8175 — drop 0.025 > the 2-point threshold, so
      the append's opt-in audit fires its rebuild-candidate warning;
    * the same-budget rebuild over the bimodal corpus measures 0.725 —
      WORSE than the aged index (the rung's reversal of the naive
      FAISS retrain-on-gap rule: a bimodal corpus splits the rebuild's
      quantizer budget across both modes);
    * should_swap_rebuild therefore correctly KEEPS the aged index."""
    from data_finder_comparator_spark.operators.similarity import (
        build_ivf_pq_index,
        index_health_audit,
        ivf_pq_index_append,
        should_swap_rebuild,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    cands = emb.select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("embedding").alias("vec_c"),
    )
    boot = cands.filter(F.col("cand_id") < 1000)
    probes = emb.filter(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2000)
    ).select(
        F.col("vec_id").cast("long").alias("probe_id"),
        F.col("embedding").alias("vec_p"),
    )
    aged = build_ivf_pq_index(
        spark, str(tmp_path / "aged"), boot, pin_probes=probes
    )
    assert aged.params()["pin_recall"] == 0.8425
    assert aged.params()["pin_k"] == 5 and aged.params()["pin_nprobe"] == 8

    ood = cands.filter(
        (F.col("cand_id") >= 1000) & (F.col("cand_id") < 2000)
    ).withColumn("vec_c", F.reverse("vec_c"))  # norm-preserving drift
    corpus = boot.unionByName(ood)
    # the drop (0.025) exceeds the default 2-point threshold, so the
    # opt-in post-append audit warns at its DEFAULTS — no forcing
    with pytest.warns(UserWarning, match="post-append audit"):
        ivf_pq_index_append(aged, ood, audit_probes=probes, audit_corpus=corpus)

    aged_audit = index_health_audit(aged, probes, corpus)
    assert aged_audit == {
        "recall": 0.8175,
        "pin_recall": 0.8425,
        "drop": 0.025,
        "rebuild_recommended": True,
        "k": 5,
        "nprobe": 8,
    }

    # same-budget candidate rebuild over the drifted corpus
    candidate = build_ivf_pq_index(spark, str(tmp_path / "cand"), corpus)
    cand_audit = index_health_audit(candidate, probes, corpus)
    assert cand_audit["pin_recall"] is None  # built without a pin
    assert not cand_audit["rebuild_recommended"]
    # the rung's finding: the rebuild LOSES on this corpus (0.725), so
    # the gate keeps the aged index
    assert cand_audit["recall"] == 0.725
    assert not should_swap_rebuild(aged_audit, cand_audit)


def test_memoized_builds_recover_from_torn_or_deleted_roots(spark):
    """The per-process build memos (lakehouse trio, ANN roundtrips)
    trust nothing but each artifact's own completeness marker: deleting
    the recorded table/index out from under the memo must trigger a
    fresh rebuild that still hash-serves correctly — the validation
    branch the happy path never exercises."""
    import shutil

    from data_finder_comparator_spark.plans import queries_lakehouse as ql
    from data_finder_comparator_spark.plans import queries_similarity as qs

    sf = SF_SMOKE
    # lakehouse trio memo (rebuilds into the same deterministic run dir,
    # which fresh_run_dir clears first)
    n1 = ql.lakehouse_merge_roundtrip(spark, sf).count()
    path = ql._MERGE_TABLES[sf]
    shutil.rmtree(path)
    assert ql.lakehouse_merge_roundtrip(spark, sf).count() == n1
    from data_finder_comparator_spark.sinks.lakehouse import TransactionalTable

    assert TransactionalTable(spark, ql._MERGE_TABLES[sf]).current_version() == 3

    # manifests intact but DATA gone (r14 ADVICE #3): the head-only
    # revalidation passed this and the sibling rows then failed at
    # collect time with a raw FileNotFound; the memo now probes one
    # live data file and degrades to a rebuild
    import os

    path = ql._MERGE_TABLES[sf]
    shutil.rmtree(os.path.join(path, "data"))
    assert ql.lakehouse_merge_roundtrip(spark, sf).count() == n1

    # maintenance-plane memo (r15): same head+data-probe validation
    n3 = ql.lakehouse_maintenance_roundtrip(spark, sf).count()
    mpath = ql._MAINT_TABLES[sf]
    shutil.rmtree(os.path.join(mpath, "data"))
    assert ql.lakehouse_maintenance_roundtrip(spark, sf).count() == n3

    # ANN index memo
    n2 = qs.ivf_pq_build_serve_roundtrip(spark, sf).count()
    root = qs._INDEX_ROOTS[("ivfpq-roundtrip", sf)]
    shutil.rmtree(root)
    assert qs.ivf_pq_build_serve_roundtrip(spark, sf).count() == n2
    assert qs._INDEX_ROOTS[("ivfpq-roundtrip", sf)] != root


def test_lakehouse_stream_ingest_driver_row(spark):
    """The r16 exactly-once ingest row: epoch 0 bootstraps the < 1200
    band, epoch 1 updates the < 400 slice, and the in-row crash-replay
    of epoch 0 must leave the update in place (the txn marker no-ops
    the redelivery — the hash-visible half of exactly-once). This twin
    re-checks the semantics the driver hash pins: update-wins state,
    no duplicates, bands intact."""
    from data_finder_comparator_spark.plans.queries_lakehouse import (
        lakehouse_stream_ingest,
    )

    df = lakehouse_stream_ingest(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == 1200
    assert len({r.o_orderkey for r in rows}) == 1200  # replay added no dups
    updated = [r for r in rows if r.o_orderkey < 400]
    assert len(updated) == 400
    assert all(r.o_orderstatus == "S" for r in updated)
    assert all(r.o_orderstatus != "S" for r in rows if r.o_orderkey >= 400)


def test_lakehouse_clustered_compaction_driver_row(spark):
    """The r16 clustered-compaction row: the in-row RuntimeErrors carry
    the planned-files proof (band plans strictly fewer files after the
    sorted rewrite, at unchanged width); this twin re-checks the rows
    the driver hash pins — compaction lost and duplicated nothing."""
    from data_finder_comparator_spark.plans.queries_lakehouse import (
        lakehouse_clustered_compaction,
    )

    df = lakehouse_clustered_compaction(spark, SF_SMOKE)
    keys = [r.o_orderkey for r in df.collect()]
    assert len(keys) == 1200
    assert sorted(keys) == list(range(1200))


def test_ann_audit_lifecycle_driver_row(spark):
    """The r15 driver row behind the GOLDEN _AUDIT_ORACLE: its pinned
    constants must satisfy the lifecycle's own arithmetic (drop = pin −
    recall, recommendation = drop > 2 points, swap gate = candidate
    beats aged) — so the oracle literals are re-derivable from the
    operators, never free-floating numbers — and the sf0.01 golden
    values themselves are asserted here the same way the freshness-rung
    test pins 0.8425/0.8175/0.7250 at sf0.1 geometry."""
    from data_finder_comparator_spark.plans.queries_similarity import (
        ann_audit_lifecycle,
    )

    rows = {r.stage: r for r in ann_audit_lifecycle(spark, SF_ORACLE).collect()}
    aged, cand = rows["aged"], rows["candidate"]
    assert aged.drop_pts == round(aged.pin_recall - aged.recall, 4)
    assert aged.drop_pts > 0.02 and aged.rebuild_recommended is True
    assert cand.pin_recall is None and cand.drop_pts is None
    assert cand.rebuild_recommended is False
    # the rung's decision: the same-budget rebuild over the bimodal
    # corpus LOSES, so the gate keeps the aged index
    assert cand.recall < aged.recall
    assert aged.swap_to_candidate is False and cand.swap_to_candidate is False
    assert (aged.pin_recall, aged.recall, cand.recall) == (0.948, 0.912, 0.816)


def test_read_media_folder_binaryfile_connector(spark, tmp_path):
    """The real-media connector (r16): a folder of actual container
    files — spec-valid RIFF/WAVE and P6 PPM bytes on disk — scans
    through ``binaryFile`` into the engine's multimodal shape
    (doc_id/path/payload/meta), mime mapped from the extension
    JVM-side, unknown extensions flowing as octet-stream (refusal
    belongs to the DECODE stage), glob pruning at listing time, and
    ``media_decode`` parsing the REAL file bytes per Arrow batch."""
    import gzip
    import json as _json

    from data_finder_comparator_spark.operators.multimodal import (
        synth_ppm_payload,
        synth_wav_payload,
    )
    from data_finder_comparator_spark.sources.media import (
        media_decode,
        read_media_folder,
    )

    d = tmp_path / "media"
    d.mkdir()
    wav = synth_wav_payload(b"hello world payload bytes")
    ppm = synth_ppm_payload(7, 4, 3)
    (d / "a.wav").write_bytes(wav)
    (d / "b.ppm").write_bytes(ppm)
    (d / "notes.txt").write_text("not media\n")

    from data_finder_comparator_spark.sources.media import MEDIA_SCHEMA

    df = read_media_folder(spark, str(d))
    # the documented shape constant IS the output schema (names +
    # types; nullability differs — struct() marks derived fields
    # non-null where the DDL default is nullable)
    assert (
        df.schema.simpleString()
        == spark.createDataFrame([], MEDIA_SCHEMA).schema.simpleString()
    )
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert rows["a.wav"].meta.mime == "audio/wav"
    assert rows["a.wav"].meta.n_bytes == len(wav)
    assert bytes(rows["a.wav"].payload) == wav  # real file bytes
    assert rows["b.ppm"].meta.mime == "image/x-portable-pixmap"
    assert rows["notes.txt"].meta.mime == "application/octet-stream"
    assert len({r.doc_id for r in rows.values()}) == 3  # distinct ids

    # decode the REAL container bytes; undecodable rows refuse loudly
    # by default, drop only under the explicit opt-in
    with pytest.raises(Exception, match="codec libraries|NotImplemented"):
        media_decode(df).collect()
    dec = {
        r.mime: _json.loads(r.decoded)
        for r in media_decode(df, on_unsupported="skip").collect()
    }
    assert dec["audio/wav"]["n_samples"] == len(b"hello world payload bytes") // 2
    assert dec["audio/wav"]["sample_rate_hz"] == 8000
    assert dec["image/x-portable-pixmap"]["width"] == 4
    assert dec["image/x-portable-pixmap"]["height"] == 3
    assert dec["image/x-portable-pixmap"]["first_px"] == [7, 36, 65]

    # listing-time pruning: the glob never opens excluded files
    assert read_media_folder(spark, str(d), glob="*.wav").count() == 1
    with pytest.raises(ValueError, match="error|skip"):
        media_decode(df, on_unsupported="maybe")

    # txt alias in the folder reader: plain-text corpus folders read
    # through the text source (one `value` column, static schema — no
    # inference scan), .txt.gz shards decompress transparently
    from data_finder_comparator_spark.sources.union import (
        read_folder_union_by_name,
    )

    t = tmp_path / "txt"
    t.mkdir()
    (t / "x.txt").write_text("line1\nline2\n")
    with gzip.open(t / "y.txt.gz", "wt") as fh:
        fh.write("line3\n")
    tdf = read_folder_union_by_name(spark, str(t), fmt="txt")
    assert tdf.columns == ["value"]
    assert sorted(r.value for r in tdf.collect()) == ["line1", "line2", "line3"]

    # ...and fmt="any" routes txt shards through the same text scan,
    # null-filling `value` against the other formats' columns
    (t / "z.json").write_text('{"id": 1}\n')
    mixed = read_folder_union_by_name(spark, str(t), fmt="any")
    assert sorted(mixed.columns) == ["id", "value"]
    assert mixed.count() == 4


@pytest.mark.parametrize("entry", ["features", "wav", "frames", "pcm", "ppm"])
def test_multimodal_entry_points_drop_null_rows(spark, entry):
    """r14 verdict item 6: the null-struct/null-payload class that bit
    binary_features (r13), swept across EVERY multimodal mapInPandas
    entry point. Each gets a batch mixing good rows with null payloads
    (and, where the entry reads a struct, a null meta struct): the bad
    rows must DROP — one unguarded row would TypeError the Arrow task
    and kill the whole job — and the good rows must come through
    untouched."""
    from pyspark.sql import types as T

    from data_finder_comparator_spark.operators.multimodal import (
        binary_features,
        frame_sample,
        pcm_resample_features,
        ppm_resize_features,
        synth_ppm_payload,
        wav_decode_features,
    )

    payload = b"payload-bytes-long-enough-to-sample" * 16
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("mime", T.StringType()),
                        T.StructField("n_bytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )
    good_payload = (
        synth_ppm_payload(1, 16, 12) if entry == "ppm" else payload
    )
    df = spark.createDataFrame(
        [
            (1, good_payload, ("text/plain", len(good_payload))),
            (2, None, ("text/plain", 0)),  # null payload, live struct
            (3, good_payload, None),  # null meta struct
            (4, None, None),  # both null
        ],
        schema,
    )
    fn = {
        "features": binary_features,
        "wav": wav_decode_features,
        "frames": frame_sample,
        "pcm": pcm_resample_features,
        "ppm": ppm_resize_features,
    }[entry]
    rows = fn(df).collect()  # must not raise
    ids = {r.doc_id for r in rows}
    assert 2 not in ids and 4 not in ids, "null payloads must drop"
    if entry == "features":
        assert ids == {1}, "null meta structs must drop too"
    else:
        # these entries read only (doc_id, payload): row 3 is good
        assert ids == {1, 3}


def test_stream_media_folder_decodes_each_file_exactly_once(spark, tmp_path):
    """r17: the streaming twin of the media connector — a drop folder
    consumed through Structured Streaming's binaryFile source with
    listing-time glob pruning and per-file exactly-once across
    restarts (the checkpoint tracks processed files: re-running after
    a new drop decodes ONLY the new file, never yesterday's corpus).
    maxFilesPerTrigger=1 forces multi-micro-batch catch-up, the
    backpressure shape a 100-TB first run needs."""
    import json as _json

    from data_finder_comparator_spark.operators.multimodal import (
        synth_ppm_payload,
        synth_wav_payload,
    )
    from data_finder_comparator_spark.sources.media import (
        media_decode,
        stream_media_folder,
    )

    src = tmp_path / "drop"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (src / "a.wav").write_bytes(synth_wav_payload(b"hello world!"))
    (src / "b.ppm").write_bytes(synth_ppm_payload(7, 4, 3))
    (src / "ignore.bin").write_bytes(b"\0" * 16)  # glob-pruned decoy

    def run():
        dec = media_decode(
            stream_media_folder(
                spark, str(src), glob="*.{wav,ppm}", max_files_per_trigger=1
            )
        )
        q = (
            dec.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    got = {r.mime: _json.loads(r.decoded) for r in spark.read.parquet(out).collect()}
    assert spark.read.parquet(out).count() == 2  # decoy never decoded
    assert got["audio/wav"]["n_samples"] == len(b"hello world!") // 2
    assert got["image/x-portable-pixmap"]["width"] == 4
    assert got["image/x-portable-pixmap"]["first_px"] == [7, 36, 65]

    # a later drop: the SAME checkpoint decodes only the new file
    (src / "c.wav").write_bytes(synth_wav_payload(b"abcd"))
    run()
    df = spark.read.parquet(out)
    assert df.count() == 3
    assert df.filter("mime = 'audio/wav'").count() == 2


def test_bmp_decode_and_recursive_media_folder(spark, tmp_path):
    """r17: (1) the third real container parser — uncompressed 24-bit
    BMP through the same decode registry, synth cross-checked against
    its deterministic pixel function, compressed/palette depths refuse
    loudly; (2) recursiveFileLookup scans the nested layouts real
    corpora use, with the glob still pruning leaf names."""
    import json as _json
    import struct as _struct

    from data_finder_comparator_spark.operators.multimodal import (
        _decode_bmp,
        decode_media,
        synth_bmp_payload,
        synth_wav_payload,
    )
    from data_finder_comparator_spark.sources.media import (
        media_decode,
        read_media_folder,
    )

    bmp = synth_bmp_payload(9, 5, 4)  # odd width exercises row padding
    d = decode_media(bmp, "image/bmp")
    assert (d["width"], d["height"], d["bits_per_pixel"]) == (5, 4, 24)
    assert d["n_pixels"] == 20 and d["top_down"] is False
    # first stored pixel = (x=0, stored row 0, c over BGR): doc_id + c*29
    assert d["first_px_bgr"] == [9 % 256, (9 + 29) % 256, (9 + 58) % 256] or d[
        "first_px_bgr"
    ] == (9 % 256, (9 + 29) % 256, (9 + 58) % 256)
    # compressed and palette depths refuse loudly
    comp = bytearray(bmp)
    _struct.pack_into("<I", comp, 30, 1)  # BI_RLE8
    with pytest.raises(NotImplementedError, match="compression"):
        _decode_bmp(bytes(comp))
    with pytest.raises(ValueError, match="not a BMP"):
        _decode_bmp(b"nope")

    # nested corpus layout: files two levels down, decoys pruned by glob
    root = tmp_path / "corpus"
    (root / "2024" / "01").mkdir(parents=True)
    (root / "2024" / "02").mkdir(parents=True)
    (root / "2024" / "01" / "a.bmp").write_bytes(bmp)
    (root / "2024" / "02" / "b.wav").write_bytes(synth_wav_payload(b"abcdef"))
    (root / "2024" / "02" / "skip.bin").write_bytes(b"\0" * 8)
    # non-recursive: nested leaves are invisible (the glob filters
    # FILES; the subdirectories carry none at the top level)
    assert read_media_folder(spark, str(root), glob="*.{bmp,wav}").count() == 0
    df = read_media_folder(spark, str(root), glob="*.{bmp,wav}", recursive=True)
    rows = {r.mime: r for r in media_decode(df).collect()}
    assert set(rows) == {"image/bmp", "audio/wav"}
    got = _json.loads(rows["image/bmp"].decoded)
    assert got["width"] == 5 and got["first_px_bgr"] == [9, 38, 67]
    assert _json.loads(rows["audio/wav"].decoded)["n_samples"] == 3


def test_html_block_text_extraction_rules():
    """r18: the stdlib HTML block-text kernel — script/style subtrees
    and comments dropped, title captured separately, inline tags do
    NOT split blocks, block tags do, char references decode, ASCII
    whitespace collapses per block, empty blocks drop, and tag soup
    (a stray </script>) never underflows into skipping real text."""
    from data_finder_comparator_spark.operators.html_extract import (
        html_block_text,
    )

    title, text, n = html_block_text(
        "<html><head><title>A &amp; B</title>"
        "<style>p { color: red }</style></head>"
        "<body><script>if (1 < 2) { boiler(); }</script>"
        "<p>Hello   <b>wor</b>ld</p>"
        "<!-- navigation boilerplate -->"
        "<div>  \t\n </div>"
        "<ul><li>first</li><li>a &lt; b</li></ul>"
        "line one<br/>line two"
        "</body></html>"
    )
    assert title == "A & B"
    assert text == "Hello world\nfirst\na < b\nline one\nline two"
    assert n == 5

    # stray closer must not swallow the document
    _, text2, _ = html_block_text("</script><p>still here</p>")
    assert text2 == "still here"

    # nested script-in-script and style content never leak
    _, text3, n3 = html_block_text(
        "<style>.x{}</style><p>keep</p><script>var a = '<p>no</p>';</script>"
    )
    assert text3 == "keep" and n3 == 1


def test_extract_html_text_passthrough_nulls_and_plan(spark):
    """r18: the distributed wrapper — passthrough columns survive,
    NULL html rows drop (never fabricate an empty page), and the plan
    is pure map-side: no Exchange, no shuffle anywhere."""
    from data_finder_comparator_spark.operators.html_extract import (
        extract_html_text,
    )

    df = spark.createDataFrame(
        [
            (1, "web", "<p>alpha</p><div>beta</div>"),
            (2, "web", None),
            (3, "crawl", "<title>t3</title>no tags at all"),
        ],
        "doc_id long, source string, html string",
    )
    out = extract_html_text(df, html_col="html")
    assert out.columns == ["doc_id", "source", "title", "text", "n_blocks"]
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 3}, "null html must drop"
    assert rows[1].source == "web"
    assert rows[1].text == "alpha\nbeta" and rows[1].n_blocks == 2
    assert rows[3].title == "t3" and rows[3].text == "no tags at all"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    with pytest.raises(ValueError, match="not in"):
        extract_html_text(df, html_col="nope")


def test_extract_html_text_refuses_output_column_clash(spark):
    """r18 self-review: a documents-shaped input already carrying a
    `text` column must refuse loudly — passthrough + extraction output
    would otherwise produce duplicate column names, unselectable
    downstream."""
    from data_finder_comparator_spark.operators.html_extract import (
        extract_html_text,
    )

    df = spark.createDataFrame(
        [(1, "old", "<p>x</p>")], "doc_id long, text string, html string"
    )
    with pytest.raises(ValueError, match="collide"):
        extract_html_text(df, html_col="html")


def test_datasource_worker_import_path_skips_pandas():
    """r18 optimization pin: the lakehouse Python DataSource's
    worker-side import path (sources/__init__ -> media ->
    lakehouse_source, the chain every cold create_data_source /
    plan_data_source_read / streaming-runner fork re-imports) must NOT
    pull pandas — a module-level pandas in any of these modules adds
    0.3 s (warm page cache) to ~7 s (pressure-evicted cache) to every
    cold Python worker fork of the DSv2 rows (measured r18; see
    OPTIMIZATION_r18.md). pandas belongs inside the mapInPandas
    closures, where the Arrow-eval worker has it loaded anyway."""
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys\n"
            "import data_finder_comparator_spark.sources.lakehouse_source\n"
            "print('pandas' in sys.modules,\n"
            "      'data_finder_comparator_spark.sinks.lakehouse' in sys.modules)",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    # r19 extends the same pin to the full sinks.lakehouse module: the
    # data source needs only the two lakehouse_ops constants, and the
    # ~3700-line driver-side sink module (measured ~250 ms warm, the
    # multi-second page-fault path under the r18-documented cache
    # pressure) must stay out of the fork. The sinks package re-export
    # is lazy (PEP 562) for exactly this reason.
    assert out.stdout.split() == ["False", "False"], out.stdout + out.stderr
