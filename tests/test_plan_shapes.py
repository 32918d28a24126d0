"""Plan-shape regression tests: pin the physical-plan properties the
100 TB design depends on, so a refactor that silently reintroduces a
full scan, drops a broadcast, or un-prunes a column fails CI — not a
cluster bill. (`.explain`-auditing made executable.)"""

from __future__ import annotations

import pytest

from data_finder_comparator_spark.plans.catalog import QUERIES

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _executed_plan(QUERIES["pricing_summary"](spark, SF))
    # the shipdate predicate reaches the parquet reader...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the scan reads only the needed columns (no l_comment etc.)
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in scan and "l_comment" not in scan and "l_tax" not in scan


def test_revenue_star_join_broadcasts_dims(spark):
    plan = _executed_plan(QUERIES["revenue_by_nation"](spark, SF))
    # every dimension joins as a broadcast — the fact table is never
    # shuffled for a dim lookup
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    # region filter applied at its scan, not after the join
    assert "r_name" in plan.split("PushedFilters")[-1].splitlines()[0] or "In(r_name" in plan


def test_fuzzy_flagship_no_cartesian(spark):
    plan = _executed_plan(QUERIES["fuzzy_join_tiers"](spark, SF))
    # the length-band predicate must keep the pairing out of
    # CartesianProduct territory (BroadcastNestedLoopJoin with the band
    # condition is the expected shape for the broadcast strategy)
    assert "CartesianProduct" not in plan


def test_poor_fallback_never_cartesian(spark):
    """Adversarial probe set (disjoint catalog: every probe falls
    through to the poor fallback) must resolve via escalating band
    equi-joins — no CartesianProduct and no nested-loop join anywhere
    in the executed plan for the non-broadcast strategy."""
    from data_finder_comparator_spark.operators.fuzzy_join import tiered_fuzzy_join

    probe = spark.createDataFrame(
        [(i, f"xq{i:02d}wvzzkjhp") for i in range(20)], "probe_id long, probe string"
    )
    cand = spark.createDataFrame(
        [(i, f"aa{i % 7}bbbbcccc") for i in range(50)], "cand_id long, cand string"
    )
    out = tiered_fuzzy_join(probe, cand, threshold=3, strategy="band")
    rows = out.collect()
    # every probe resolved with a poor tier (global argmin found)
    assert {r.probe_id for r in rows if r.tier == "poor"} == set(range(20))
    plan = _executed_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_query_joins_without_exchange(spark):
    """bucketed_order_revenue must join the two bucketed tables with no
    shuffle: both scans read Bucketed: true and no Exchange exists
    below the SortMergeJoin (the only exchange is the post-join
    aggregation)."""
    plan = _executed_plan(QUERIES["bucketed_order_revenue"](spark, SF))
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan, plan
    below_join = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, plan


def test_salted_query_shows_salted_exchange(spark):
    """salted_segment_stats must actually exercise the skew tooling:
    the join exchange partitions on (user_id, _salt) — hot keys spread
    across reducers — and the join is a shuffle join, not a broadcast
    (the regime salting exists for)."""
    import re

    plan = _executed_plan(QUERIES["salted_segment_stats"](spark, SF))
    assert re.search(r"hashpartitioning\([^)]*_salt", plan), plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_aggregates_are_partial_before_exchange(spark):
    plan = _executed_plan(QUERIES["suppliers_by_nation"](spark, SF))
    # map-side combine: a HashAggregate must appear below the Exchange
    pre_exchange = plan.split("Exchange hashpartitioning")[-1]
    assert "HashAggregate" in pre_exchange


@pytest.mark.parametrize("name", ["doc_fingerprints", "text_quality_signals"])
def test_map_side_ops_have_no_shuffle(spark, name):
    plan = _executed_plan(QUERIES[name](spark, SF))
    assert "Exchange" not in plan, plan


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The chunked interval join must execute as a hash equi-join on
    the grid cell — the whole point of the operator is avoiding the
    nested-loop plan the naive BETWEEN join produces."""
    plan = _executed_plan(QUERIES["purchase_window_stats"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_round_is_banded_equi_join(spark):
    """fuzzy_topk's per-round pairing must execute as a hash equi-join
    on the length bucket — not the CartesianProduct/unpruned cross join
    of the naive rank() formulation. (The operator's returned DataFrame
    is localCheckpoint-ed, so the shape is pinned on the round join
    itself.)"""
    from data_finder_comparator_spark.operators.fuzzy_join import (
        _bucketed_band_pairs,
        _prep,
    )

    p = _prep(
        spark.createDataFrame([(1, "almond blue")], "probe_id long, probe string"),
        "probe_id", "probe", "probe_id", "probe", "_nq",
    )
    c = _prep(
        spark.createDataFrame([(10, "almond blues")], "cand_id long, cand string"),
        "cand_id", "cand", "cand_id", "cand", "_nc",
    )
    for broadcast_cand, expect in ((True, "BroadcastHashJoin"), (False, "Join")):
        plan = _executed_plan(_bucketed_band_pairs(p, c, 8, broadcast_cand))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert expect in plan, plan


def test_deterministic_shuffle_has_no_global_data_sort(spark):
    """The corpus-shuffle global index must come from the bucketed
    two-pass pattern: the data-sized ranking window partitions on the
    bucket (hashpartitioning(_bkt...)), and the only SinglePartition
    exchange feeds the 256-row offset prefix-sum — never the corpus
    itself. A refactor back to row_number() over a global ORDER BY
    would plan rangepartitioning over doc rows and fail here."""
    import re

    plan = _executed_plan(QUERIES["deterministic_shuffle"](spark, SF))
    assert re.search(r"hashpartitioning\(_bkt", plan), plan
    # the single-partition exchange exists (offset prefix sum) but must
    # sit above the bucket AGGREGATE, not above a corpus-wide sort:
    # no range partitioning of the full row set anywhere
    assert "rangepartitioning" not in plan, plan


def test_sequence_packing_has_no_global_data_sort(spark):
    """Same contract as deterministic_shuffle: the corpus-wide running
    sum must come from the bucketed two-pass pattern — data windows
    partition on _bkt, no range partitioning of the row set."""
    import re

    plan = _executed_plan(QUERIES["sequence_packing"](spark, SF))
    assert re.search(r"hashpartitioning\(_bkt", plan), plan
    assert "rangepartitioning" not in plan, plan


def test_source_caps_window_is_skew_split(spark):
    """source_domain_caps must rank ONLY the over-cap branch: exactly
    one Window node in the plan (the heavy-hitter side), both group
    pass-through joins executed as broadcasts, and no range
    partitioning of the document rows anywhere — a refactor back to a
    single global row_number window over every row fails here."""
    plan = _executed_plan(QUERIES["source_domain_caps"](spark, SF))
    # one ranking Window (over-cap branch only); WindowGroupLimit nodes
    # are Spark's partial top-k pushdown around it — a bonus, not a rank
    assert plan.count("Window [") == 1, plan
    assert "WindowGroupLimit" in plan, plan  # rank-limit pushed below the exchange
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "rangepartitioning" not in plan, plan


def test_duplicate_spans_salted_topk_prunes_before_global_rank(spark):
    """duplicate_spans' global top-k must be two-stage: the data-sized
    ranking window partitions on the salt (hashpartitioning(_salt...))
    and only the pruned sliver crosses the SinglePartition exchange for
    the final rank. A refactor to one global ORDER BY window over the
    full gram table would range-partition the gram rows and fail."""
    import re

    plan = _executed_plan(QUERIES["duplicate_spans"](spark, SF))
    assert re.search(r"hashpartitioning\(_salt", plan), plan
    assert plan.count("Window [") == 2, plan
    assert "rangepartitioning" not in plan, plan


def test_mixture_budget_total_is_broadcast(spark):
    """The corpus-total token budget joins in as a broadcast 1-row
    aggregate — never a shuffled join, never a driver-side scalar."""
    plan = _executed_plan(QUERIES["mixture_token_budget"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_partitioned_roundtrip_prunes_partitions(spark):
    # the lang filter must hit the scan as a PARTITION filter (directory
    # pruning), not a data filter evaluated after reading every file
    plan = _executed_plan(QUERIES["partitioned_lang_roundtrip"](spark, SF))
    part = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "lang" in part and ("IN" in part.upper() or "in(" in part)


def test_event_funnel_single_shuffle_no_join(spark):
    # the funnel is ONE groupBy fold, never the three-self-join plan the
    # oracle restates — no join operator and exactly one data exchange
    plan = _executed_plan(QUERIES["event_funnel"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_gapfill_scans_fact_table_once(spark):
    # bounds/types/grid all derive from the persisted hourly aggregate:
    # every appearance of the raw events FileScan is INSIDE a cached
    # InMemoryRelation's build plan (printed once per consumer), so the
    # parquet is physically read once — the three consumers read the
    # cache (InMemoryTableScan), never the file
    plan = _executed_plan(QUERIES["hourly_gapfill"](spark, SF))
    assert plan.count("FileScan parquet") == plan.count("InMemoryRelation"), plan
    assert plan.count("InMemoryTableScan") == 3, plan


def test_grouping_sets_single_expand_pass(spark):
    # all three levels aggregate in one Expand+HashAggregate pass —
    # never one job per set unioned together
    plan = _executed_plan(QUERIES["orders_grouping_sets"](spark, SF))
    assert plan.count("Expand") >= 1
    assert "Union" not in plan


def test_hll_sketch_shuffles_registers_not_values(spark):
    # the register max is partially aggregated BEFORE the exchange (the
    # shuffle carries <=256 merged rows per partition, never raw
    # values), and the summary attaches by broadcast, not a sorted join
    plan = _executed_plan(QUERIES["hll_distinct_sketch"](spark, SF))
    pre_exchange = plan.split("Exchange hashpartitioning")[1]
    assert "partial_max" in pre_exchange, plan
    assert "SortMergeJoin" not in plan, plan


def test_cms_estimates_join_broadcast_counters(spark):
    # r18: the 4 estimate lookups resolve against ONE single-row
    # broadcast map of the 4x1024 counter matrix (element_at) — a
    # bounded one-row BroadcastNestedLoopJoin, never a sorted shuffle
    # join of the vocabulary per hash row (and no per-row hash join
    # builds re-running the counter aggregation, the pre-r18 shape)
    plan = _executed_plan(QUERIES["cms_heavy_hitters"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bloom_membership_is_broadcast_bitmask(spark):
    # r18: membership is an O(1) bit test against the 2^16-bit mask
    # (1024 longs) riding ONE single-row broadcast — the corpus grams
    # never shuffle for the membership test (pre-r18: four broadcast
    # LEFT SEMI joins, each build re-running the bit-table pipeline)
    plan = _executed_plan(QUERIES["bloom_decontaminate"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the four bit tests are inlined filters on the gram stream, not
    # joins: exactly one nested-loop attach of the one-row mask frame
    assert plan.count("BroadcastHashJoin") == 0, plan


def test_histogram_quantiles_aggregates_before_exchange(spark):
    # the 4096-cell histogram must partially aggregate map-side — the
    # shuffle carries merged cells, never raw value rows — and the
    # cumulative walk's single-partition window sees only the histogram
    plan = _executed_plan(QUERIES["histogram_quantiles"](spark, SF))
    pre = plan.split("Exchange hashpartitioning")[-1]
    assert "HashAggregate" in pre, plan
    assert "SortMergeJoin" not in plan, plan


def test_dense_fuzzy_path_minimal_plan(spark):
    """The dense prepared-candidates tier path (the streaming
    micro-batch plan) must stay at its latency floor: ONE broadcast of
    the candidate side feeding a nested-loop cross product, ONE hash
    exchange (the probe_id window), and no extra aggregation/join
    machinery from the banded two-phase plan."""
    from pyspark.sql import functions as F

    from data_finder_comparator_spark.operators.fuzzy_join import (
        prepare_candidates,
        tiered_fuzzy_join,
    )

    probe = spark.range(0, 64).select(
        F.col("id").alias("probe_id"), F.concat(F.lit("k"), "id").alias("probe")
    )
    cand = spark.range(0, 32).select(
        F.col("id").alias("cand_id"), F.concat(F.lit("k"), "id").alias("cand")
    )
    reg: list = []
    prepared = prepare_candidates(cand, cache_registry=reg)
    try:
        out = tiered_fuzzy_join(probe, cand, threshold=3, prepared=prepared)
        out.count()  # finalize the adaptive plan before reading it
        plan = _executed_plan(out)
    finally:
        for df in reg:
            df.unpersist()
    assert "BroadcastNestedLoopJoin" in plan  # the dense cross product
    assert plan.count("Exchange hashpartitioning") <= 1, plan  # window only
    # none of the banded plan's phase machinery leaked in
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") == 1


def test_cluster_canonical_survivor_is_agg_not_window(spark):
    """The survivor per duplicate cluster rides a max(struct) hash
    aggregation — combinable map-side, one struct of state per cluster
    — never a per-cluster window (whose partition buffer scales with
    cluster size; a pathological giant cluster would hold one
    executor's memory hostage)."""
    from data_finder_comparator_spark.operators.dedup import cluster_canonical
    from data_finder_comparator_spark.sources.parquet import load_table

    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    labels = docs.select("doc_id", (F.col("doc_id") % 10).alias("cluster_id"))
    plan = _executed_plan(cluster_canonical(labels, docs))
    assert "Window" not in plan, plan
    # struct-max compiles to SortAggregate (not hash-aggregable), but
    # the property that matters survives: a PARTIAL max combines
    # map-side before the exchange, so per-cluster state through the
    # shuffle is one struct regardless of cluster size
    assert "partial_max(struct" in plan, plan


def test_grouped_hll_never_single_partitions(spark):
    """The grouped sketch's scaling property: every stage keys on lang,
    so no Exchange SinglePartition appears anywhere — unlike the global
    sketch, whose final 256-register fold is a deliberate one-row
    summary. A refactor that computes a global summary and joins it
    back would reintroduce the serial stage this variant exists to
    avoid."""
    plan = _executed_plan(QUERIES["grouped_hll_by_lang"](spark, SF))
    assert "Exchange SinglePartition" not in plan, plan


def test_inverted_index_postings_window_is_on_pairs(spark):
    """The per-token postings cap windows over the DEDUPLICATED
    (token, doc_id) pairs — partition size bounded by document
    frequency — never over the raw token stream (where a stopword's
    partition would be occurrence-count-sized). Pinned by requiring the
    aggregation to come BEFORE the window in the executed plan."""
    plan = _executed_plan(QUERIES["inverted_index"](spark, SF))
    win = plan.find("Window")
    assert win != -1
    # a HashAggregate (the per-(token, doc_id) occ count) must sit
    # BELOW the window operator in the tree — i.e. appear after it in
    # the top-down plan string
    assert "HashAggregate" in plan[win:], plan


def test_weighted_reservoir_sample_single_window_pass(spark):
    """The weighted sample is one map-side key computation plus one
    per-group top-k window: exactly one data exchange (the group
    hashpartitioning the window needs), no join, no single-partition
    funnel — the plan that parallelizes in the number of groups at any
    corpus size."""
    plan = _executed_plan(QUERIES["weighted_reservoir_sample"](spark, SF))
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan, plan


def test_gram_tfidf_topk_bounded_joins(spark):
    """The sparse TF-IDF dot-product join must stay bounded: no
    cartesian anywhere, the corpus-size scalar rides a one-row
    broadcast (not a collected literal or a shuffled join), and the
    final top-k window ranks the AGGREGATED per-pair dots — never the
    raw gram-match stream."""
    plan = _executed_plan(QUERIES["gram_tfidf_cosine_topk"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    # the one-row n_docs summary may legitimately fold through a
    # single-partition exchange + broadcast; anything more means a
    # corpus-sized serial stage crept in. The plan STRING prints a
    # reused exchange once per consumer subtree, so count distinct
    # exchange NODES (plan_id), not occurrences.
    import re

    sp_ids = {
        m.group(1)
        for m in re.finditer(
            r"Exchange SinglePartition[^\[]*\[plan_id=(\d+)\]", plan
        )
    }
    assert len(sp_ids) <= 1, (sp_ids, plan)
    win = plan.find("Window")
    assert win != -1, plan
    assert "HashAggregate" in plan[win:], plan


def test_hll_register_stream_sink_is_sketch_sized(spark, tmp_path):
    """The streaming HLL's scale property, pinned on the sink itself:
    every micro-batch appends only its register partials, so the sink
    holds at most 256 rows per epoch (4 one-file triggers here) — the
    'live cardinality estimate without rescanning' claim is only true
    if per-epoch state through the sink stays sketch-sized, not
    corpus-sized."""
    import os

    from data_finder_comparator_spark.streaming.pipeline import hll_register_stream

    base = os.path.join(str(tmp_path), "hll_sink_probe")
    out = hll_register_stream(spark, SF, "plan_shape_sink_probe", base_dir=base)
    assert out.count() >= 1
    sink_rows = spark.read.schema("register_id long, rho long").parquet(
        os.path.join(base, "out")
    )
    n_files = 4  # the docs stage repartitions to 4 one-file triggers
    assert 0 < sink_rows.count() <= 256 * n_files
    # and each epoch's partial table is register-keyed (<=256 distinct)
    assert sink_rows.select("register_id").distinct().count() <= 256


def test_embedding_neardup_no_cross_join(spark):
    """Round 9: embedding_neardup_pairs moved off the O(n^2) broadcast
    crossJoin onto LSH candidates + exact verify. Pin the scale shape:
    no CartesianProduct and no nested-loop join anywhere — the
    candidate step must be the (table_id, bucket) equi-join and the
    verify step id-keyed joins."""
    plan = _executed_plan(QUERIES["embedding_neardup_pairs"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ann_cosine_topk_guard_scale_path_no_cartesian(spark):
    """r11: the registered exact-ANN query is scale-guarded — past the
    broadcast cap the plan must be the LSH bucketed equi-join, never an
    unconditional all-pairs crossJoin (the r10 verdict's 'one plan that
    cannot survive an un-broadcastable candidate side')."""
    from pyspark.sql import functions as F

    from data_finder_comparator_spark.operators.similarity import (
        exact_topk_guarded,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    emb = load_table(spark, SF, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("long").alias("probe_id"),
        F.col("embedding").alias("vec_p"),
    )
    cands = emb.select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col("embedding").alias("vec_c"),
    )
    # force the over-cap branch: the plan must contain no cartesian or
    # nested-loop join anywhere — and the switch to the approximate
    # plan must be LOUD (r12, r11 ADVICE: at a larger SF the brute
    # oracle legitimately stops hash-matching here, and the warning is
    # what distinguishes the intended guard branch from a regression)
    import pytest as _pytest

    with _pytest.warns(UserWarning, match="switching from the exact"):
        big = exact_topk_guarded(probes, cands, k=5, max_broadcast_cands=1)
    plan = _executed_plan(big)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # under the cap the guard returns the exact brute plan (oracle-
    # bit-identical), whose results the registered query is hashed on
    small = exact_topk_guarded(probes, cands, k=5)
    exact = {(r.probe_id, r.cand_id, r.cos_sim, r.rnk) for r in small.collect()}
    assert len(exact) > 0
    # and the registered query (which routes through the guard) agrees
    reg = {
        (r.probe_id, r.cand_id, r.cos_sim, r.rnk)
        for r in QUERIES["ann_cosine_topk"](spark, SF).collect()
    }
    assert reg == exact


def test_ivf_pq_roundtrip_serves_without_candidate_encode(spark):
    """r13 (verdict item 2 'Done' criterion): the registered
    ``ivf_pq_build_serve_roundtrip`` must SERVE — after its in-query
    index build commits, the returned DataFrame's plan may contain no
    candidate-encode stage. The encode's unmistakable signature is a
    window partitioned by the CANDIDATE key (cell assignment's
    (cand_id, _csim) argmax and PQ coding's (cand_id, j) argmin);
    serving computes only probe-side windows (routing, ADC shortlist,
    final rerank — all partitioned by probe_id). Same pin for the LSH
    roundtrip: candidate bucketing happens at build, so the served
    plan carries no candidate-side hyperplane projection."""
    import re

    df = QUERIES["ivf_pq_build_serve_roundtrip"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"windowspecdefinition\(cand_id#", plan), (
        "serve plan re-encodes candidates (cand_id-partitioned window)"
    )
    # and it actually answers (routing over the persisted cells works)
    assert df.count() > 0
    lsh = QUERIES["ann_lsh_build_serve_roundtrip"](spark, SF)
    lplan = lsh._jdf.queryExecution().optimizedPlan().toString()
    # probe-side bucketing projects vec_p; the candidate side must
    # arrive pre-bucketed from the index scan (no vec_c hyperplane
    # math — vec_c appears only in the exact rerank's dot products)
    assert not re.search(r"windowspecdefinition\(cand_id#", lplan)
    assert lsh.count() > 0
