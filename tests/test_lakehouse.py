"""Transactional lakehouse sink (sinks/lakehouse.py): commit-log
semantics the staged-swap ``upsert_sink`` cannot give — concurrent
writers with no lost rows, file-level merge pruning, time travel,
orphan vacuum. Reference semantics: Keep/Replace at dataset scale
(/root/reference/main.py:521-553) == MERGE by key."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_finder_comparator_spark.sinks.lakehouse import (
    CommitConflict,
    TransactionalTable,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lakehouse_merge_bootstrap_and_upsert(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, k string, v double"
    )
    assert t.merge(base, "id") == 1
    assert _rows(t.read()) == _rows(base)

    up = spark.createDataFrame([(2, "B", 99.0), (4, "d", 40.0)], "id long, k string, v double")
    assert t.merge(up, "id") == 2
    expect = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, k string, v double",
    )
    assert _rows(t.read()) == _rows(expect)
    # time travel: version 1 still reads the pre-merge table
    assert _rows(t.read(version=1)) == _rows(base)


def test_lakehouse_merge_rewrites_only_affected_files(spark, tmp_path):
    """The 100-TB property: a merge touching keys in ONE data file
    carries every other file into the new manifest BY REFERENCE."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    # two appends => two txn dirs; the second holds only ids 100..104
    a = spark.createDataFrame([(i, f"r{i}") for i in range(5)], "id long, k string")
    b = spark.createDataFrame([(100 + i, f"s{i}") for i in range(5)], "id long, k string")
    t.merge(a, "id")
    t.append(b)
    v2 = t.snapshot()[1]["files"]
    up = spark.createDataFrame([(102, "S2!")], "id long, k string")
    t.merge(up, "id")
    v3 = t.snapshot()[1]["files"]
    # every file NOT containing id 102 must appear verbatim in v3
    carried = set(v2) & set(v3)
    assert carried, "merge rewrote every file — pruning is broken"
    # the file(s) holding id 102 must NOT carry over
    rewritten = set(v2) - set(v3)
    assert rewritten, "no file was rewritten for the matched key"
    got = {(r.id, r.k) for r in t.read().collect()}
    assert (102, "S2!") in got and (102, "s2") not in got
    assert len(got) == 10


def test_lakehouse_concurrent_merges_no_lost_rows(spark, tmp_path):
    """Two interleaved merges (VERDICT r8 item 4): writer B commits
    BETWEEN writer A's data-file write and A's commit attempt. A's
    first claim must fail, and its retry must re-merge against B's
    snapshot — both writers' rows survive."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, "base", float(i)) for i in range(10)], "id long, src string, v double"
    )
    t.merge(base, "id")

    b_df = spark.createDataFrame([(3, "B", -3.0), (50, "B", 50.0)], "id long, src string, v double")
    a_df = spark.createDataFrame([(7, "A", -7.0), (60, "A", 60.0)], "id long, src string, v double")

    fired = {"n": 0}

    def sneak_in_writer_b():
        if fired["n"] == 0:  # only before A's FIRST commit attempt
            t.merge(b_df, "id")
        fired["n"] += 1

    v = t.merge(a_df, "id", before_commit=sneak_in_writer_b)
    # A needed two attempts: B took v2, A landed v3
    assert v == 3 and fired["n"] == 2
    got = {(r.id, r.src) for r in t.read().collect()}
    assert (3, "B") in got and (50, "B") in got   # B's merge survived
    assert (7, "A") in got and (60, "A") in got   # A's merge applied
    assert (3, "base") not in got and (7, "base") not in got
    assert len(got) == 12  # 8 untouched base + 2 B + 2 A


def test_lakehouse_conflict_exhaustion_raises(spark, tmp_path):
    """A writer that loses every race surfaces CommitConflict instead
    of spinning or silently dropping the write."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.merge(spark.createDataFrame([(1, "x")], "id long, k string"), "id")

    def always_steal():
        # steal the next version slot directly in the commit log
        v, man = t.snapshot()
        with open(t._strip_scheme(t._manifest_path(v + 1)), "w") as f:
            json.dump({"version": v + 1, "parent": v, "op": "steal",
                       "files": man["files"], "schema": man["schema"]}, f)

    with pytest.raises(CommitConflict):
        t.merge(
            spark.createDataFrame([(2, "y")], "id long, k string"),
            "id",
            max_retries=3,
            before_commit=always_steal,
        )


def test_lakehouse_vacuum_removes_only_orphans(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.merge(spark.createDataFrame([(1, "a")], "id long, k string"), "id")
    t.merge(spark.createDataFrame([(1, "A2")], "id long, k string"), "id")
    # plant an orphan txn dir (a crashed writer's data files)
    orphan_dir = tmp_path / "tbl" / "data" / "txn-orphan"
    os.makedirs(orphan_dir)
    (orphan_dir / "part-000.parquet").write_bytes(b"bogus")
    removed = t.vacuum(retention_seconds=0)
    # the planted orphan goes; so do Spark's zero-row part files, which
    # commits deliberately leave unreferenced (nothing else)
    assert "txn-orphan/part-000.parquet" in removed
    referenced = {rel for man in t.history() for rel in man["files"]}
    assert not referenced & set(removed)
    # both snapshots still read (historical files kept for time travel)
    assert [r.k for r in t.read(version=1).collect()] == ["a"]
    assert [r.k for r in t.read(version=2).collect()] == ["A2"]


def test_lakehouse_append_only_commit(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    a = spark.createDataFrame([(1, "a")], "id long, k string")
    b = spark.createDataFrame([(2, "b")], "id long, k string")
    t.append(a)
    t.append(b)
    assert t.current_version() == 2
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    # append never rewrites: v1's file set is a strict subset of v2's
    f1 = t.snapshot(1)[1]["files"]
    f2 = t.snapshot(2)[1]["files"]
    assert set(f1) < set(f2)


def test_lakehouse_footer_stats_recorded(spark, tmp_path):
    """Every committed data file carries footer-derived {rows, bytes,
    min, max} in the manifest — no data scan, read straight off the
    parquet footer."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.merge(
        spark.createDataFrame(
            [(5, "m", 1.5), (9, "z", -2.0), (7, "a", 0.0)],
            "id long, k string, v double",
        ),
        "id",
    )
    man = t.snapshot()[1]
    assert set(man["stats"]) == set(man["files"])
    agg_rows = sum(s["rows"] for s in man["stats"].values())
    assert agg_rows == 3
    ids_min = min(s["min"]["id"] for s in man["stats"].values())
    ids_max = max(s["max"]["id"] for s in man["stats"].values())
    assert (ids_min, ids_max) == (5, 9)
    ks = [s for s in man["stats"].values() if "k" in s["min"]]
    assert min(s["min"]["k"] for s in ks) == "a"
    assert all(s["bytes"] > 0 for s in man["stats"].values())


def test_lakehouse_merge_skips_files_by_key_range(spark, tmp_path):
    """Files whose footer key range cannot overlap the incoming keys
    are carried WITHOUT BEING OPENED. Proof: delete the out-of-range
    file from disk — a merge that needed to open it would die, the
    stats-skipping merge succeeds."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    lo = spark.createDataFrame([(i, f"lo{i}") for i in range(5)], "id long, k string")
    hi = spark.createDataFrame(
        [(1000 + i, f"hi{i}") for i in range(5)], "id long, k string"
    )
    t.merge(lo, "id")
    t.append(hi)
    man = t.snapshot()[1]
    hi_rels = [rel for rel in man["files"] if man["stats"][rel]["min"]["id"] >= 1000]
    assert hi_rels
    for rel in hi_rels:
        os.remove(os.path.join(str(tmp_path / "tbl"), "data", *rel.split("/")))
    # incoming range [2, 3] cannot overlap [1000, 1004]: hi never opened
    up = spark.createDataFrame([(2, "LO2!"), (3, "LO3!")], "id long, k string")
    v = t.merge(up, "id")
    new_files = t.snapshot(v)[1]["files"]
    assert set(hi_rels) <= set(new_files)  # carried by reference
    # and the low-range rows really merged
    live = [
        f"{t.path}/data/{rel}" for rel in new_files if rel not in set(hi_rels)
    ]
    got = {(r.id, r.k) for r in spark.read.parquet(*live).collect()}
    assert {(2, "LO2!"), (3, "LO3!"), (0, "lo0")} <= got
    assert (2, "lo2") not in got


def test_lakehouse_optimize_compacts_small_files(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    for i in range(4):  # four commits => >= 4 small files
        t.append(
            spark.createDataFrame([(10 * i + j, f"r{i}") for j in range(3)],
                                  "id long, k string")
        )
    before = t.snapshot()[1]["files"]
    assert len(before) >= 4
    rows_before = _rows(t.read())
    v = t.optimize(small_bytes=1 << 20, target_bytes=1 << 30)
    assert v == 5
    man = t.snapshot()[1]
    assert man["op"] == "optimize"
    assert len(man["files"]) == 1  # everything fit one target bin
    assert _rows(t.read()) == rows_before  # contents identical
    assert _rows(t.read(version=4)) == rows_before  # time travel intact
    assert set(man["stats"]) == set(man["files"])
    # nothing left to do: second optimize is a no-op
    assert t.optimize(small_bytes=1 << 20) is None
    # compacted-away files are still referenced by history => not
    # orphans; vacuum may only collect unreferenced zero-row parts
    referenced = {rel for m in t.history() for rel in m["files"]}
    assert not referenced & set(t.vacuum(retention_seconds=0))
    assert _rows(t.read(version=2)) != rows_before  # history still reads
    assert _rows(t.read(version=5)) == rows_before


def test_lakehouse_optimize_loses_race_to_merge(spark, tmp_path):
    """A merge commits between optimize's file write and its commit:
    optimize must recompute from the WINNER's snapshot, or it would
    resurrect the pre-merge row it had already compacted."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, k string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, k string"))

    fired = {"n": 0}

    def sneak_in_merge():
        if fired["n"] == 0:
            t.merge(
                spark.createDataFrame([(2, "B!")], "id long, k string"), "id"
            )
        fired["n"] += 1

    v = t.optimize(small_bytes=1 << 20, before_commit=sneak_in_merge)
    assert v == 4 and fired["n"] == 2  # merge took v3, optimize retried
    got = {(r.id, r.k) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B!")}


def test_lakehouse_schema_evolution_additive(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.merge(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string"), "id"
    )
    wide = spark.createDataFrame(
        [(2, "B", 0.9), (3, "c", 0.1)], "id long, k string, score double"
    )
    # without evolution the widened frame is refused by the union
    with pytest.raises(Exception):
        t.merge(wide, "id")
    v = t.merge(wide, "id", evolve_schema=True)
    got = {(r.id, r.k, r.score) for r in t.read(v).collect()}
    assert got == {(1, "a", None), (2, "B", 0.9), (3, "c", 0.1)}
    # a type CHANGE is refused loudly, not coerced
    bad = spark.createDataFrame([(4, 7, 1.0)], "id long, k long, score double")
    with pytest.raises(ValueError, match="cannot change column 'k'"):
        t.merge(bad, "id", evolve_schema=True)


def test_lakehouse_delete_rewrites_only_hit_files(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    lo = spark.createDataFrame([(i, f"lo{i}") for i in range(5)], "id long, k string")
    hi = spark.createDataFrame(
        [(1000 + i, f"hi{i}") for i in range(5)], "id long, k string"
    )
    t.merge(lo, "id")
    t.append(hi)
    before = t.snapshot()[1]
    hi_rels = {
        rel for rel in before["files"] if before["stats"][rel]["min"]["id"] >= 1000
    }
    v = t.delete(spark.createDataFrame([(3,)], "id long"), "id")
    assert v == 3
    man = t.snapshot()[1]
    assert man["op"] == "delete"
    assert hi_rels <= set(man["files"])  # untouched range carried
    got = {(r.id, r.k) for r in t.read().collect()}
    assert len(got) == 9 and (3, "lo3") not in got and (1000, "hi0") in got
    # no-match delete: table untouched, current version returned
    assert t.delete(spark.createDataFrame([(777,)], "id long"), "id") == 3
    assert t.current_version() == 3


def test_lakehouse_changes_between_versions(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.merge(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(5)], "id long, k string"
        ),
        "id",
    )  # v1
    t.merge(
        spark.createDataFrame([(2, "R2!"), (7, "new7")], "id long, k string"), "id"
    )  # v2: update 2, insert 7
    t.delete(spark.createDataFrame([(0,)], "id long"), "id")  # v3: delete 0

    def by_type(df):
        out = {}
        for r in df.collect():
            out.setdefault(r._change_type, set()).add((r.id, r.k))
        return out

    c12 = by_type(t.changes("id", 1, 2))
    assert c12 == {
        "insert": {(7, "new7")},
        "update_post": {(2, "R2!")},
        "update_pre": {(2, "r2")},
    }
    c23 = by_type(t.changes("id", 2, 3))
    assert c23 == {"delete": {(0, "r0")}}
    c13 = by_type(t.changes("id", 1, 3))
    assert c13 == {
        "insert": {(7, "new7")},
        "update_post": {(2, "R2!")},
        "update_pre": {(2, "r2")},
        "delete": {(0, "r0")},
    }
    # optimize moves rows between files but changes() reports nothing
    v = t.optimize(small_bytes=1 << 20)
    assert v == 4
    assert t.changes("id", 3, 4).count() == 0
    # changes() never opens files carried between the two versions:
    # rows whose file is untouched between v1 and v2 do not appear,
    # proven by the bounded file-set diff (removed/added only)
    assert t.changes("id", 0, 1).count() == 5  # bootstrap: all inserts


def test_lakehouse_changes_skips_carried_files(spark, tmp_path):
    """The incremental read opens CHANGED files only: carry a file
    between versions, delete it from disk, changes() still answers."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    lo = spark.createDataFrame([(i, f"lo{i}") for i in range(5)], "id long, k string")
    hi = spark.createDataFrame(
        [(1000 + i, f"hi{i}") for i in range(5)], "id long, k string"
    )
    t.merge(lo, "id")   # v1
    t.append(hi)        # v2
    t.merge(spark.createDataFrame([(2, "LO2!")], "id long, k string"), "id")  # v3
    man = t.snapshot()[1]
    hi_rels = [rel for rel in man["files"] if man["stats"][rel]["min"]["id"] >= 1000]
    for rel in hi_rels:
        os.remove(os.path.join(str(tmp_path / "tbl"), "data", *rel.split("/")))
    got = {(r.id, r.k, r._change_type) for r in t.changes("id", 2, 3).collect()}
    assert got == {(2, "LO2!", "update_post"), (2, "lo2", "update_pre")}


def test_lakehouse_idempotent_txn_commits(spark, tmp_path):
    """Delta-style (app, version) commit markers: replaying an
    already-committed transaction is a no-op, a NEWER version for the
    same app proceeds, and other apps are unaffected."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    df0 = spark.createDataFrame([(1, "a")], "id long, k string")
    df1 = spark.createDataFrame([(1, "A!"), (2, "b")], "id long, k string")
    v = t.merge(df0, "id", txn_app="job", txn_version=0)
    assert v == 1
    # exact replay of batch 0: no new commit, same version returned
    assert t.merge(df0, "id", txn_app="job", txn_version=0) == 1
    assert t.current_version() == 1
    # next batch proceeds; replaying batch 0 AFTER batch 1 is still a
    # no-op (the newest marker for the app decides)
    assert t.merge(df1, "id", txn_app="job", txn_version=1) == 2
    assert t.merge(df0, "id", txn_app="job", txn_version=0) == 2
    assert t.current_version() == 2
    assert {(r.id, r.k) for r in t.read().collect()} == {(1, "A!"), (2, "b")}
    # a different app's version counter is independent
    assert t.append(
        spark.createDataFrame([(9, "z")], "id long, k string"),
        txn_app="other", txn_version=0,
    ) == 3


def test_lakehouse_stream_merge_exactly_once(spark, tmp_path):
    """End-to-end: a 2-file stream (maxFilesPerTrigger=1) upserts into
    the table via foreachBatch; simulating the restart-replay of every
    epoch leaves the table byte-identical."""
    from data_finder_comparator_spark.streaming.pipeline import (
        stream_merge_into_table,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "v1"), (2, "v1")], "id long, k string"
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(2, "v2"), (3, "v2")], "id long, k string"
    ).coalesce(1).write.parquet(str(src / "f1"))
    stream = (
        spark.readStream.schema("id long, k string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    t = stream_merge_into_table(
        stream, str(tmp_path / "tbl"), "id", "evt-job", str(tmp_path / "ckpt")
    )
    v_final = t.current_version()
    assert v_final == 2  # one commit per micro-batch
    state = {(r.id, r.k) for r in t.read().collect()}
    assert state == {(1, "v1"), (2, "v2"), (3, "v2")}
    # crash-replay simulation: re-deliver BOTH epochs (at-least-once)
    for epoch, rows in ((0, [(1, "v1"), (2, "v1")]), (1, [(2, "v2"), (3, "v2")])):
        t.merge(
            spark.createDataFrame(rows, "id long, k string"),
            "id", txn_app="evt-job", txn_version=epoch,
        )
    assert t.current_version() == v_final  # no new commits
    assert {(r.id, r.k) for r in t.read().collect()} == state


def test_lakehouse_optimize_zorder_tightens_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER BY: after z-ordered compaction every output
    file's footer bounding box covers a small patch of the (x, y)
    plane, so stats skipping prunes on EITHER column — where the
    incoming layout (and a lexicographic sort) leaves one dimension
    spanning everything."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    pts = [(x, y) for x in range(32) for y in range(32)]
    # four appends, each a stripe of x but ALL of y: per-file y-span
    # starts out maximal
    for s in range(4):
        t.append(
            spark.createDataFrame(
                [p for p in pts if p[0] % 4 == s], "x long, y long"
            )
        )
    rows_before = _rows(t.read())
    v = t.optimize(
        small_bytes=1 << 20, target_bytes=2048, zorder_by=("x", "y")
    )
    assert v == 5
    man = t.snapshot()[1]
    assert len(man["files"]) >= 3  # actually bin-packed into several
    assert _rows(t.read()) == rows_before  # layout change only
    # every file's bounding box, from the committed footer stats
    area = 0.0
    for s in man["stats"].values():
        sx = s["max"]["x"] - s["min"]["x"] + 1
        sy = s["max"]["y"] - s["min"]["y"] + 1
        area += sx * sy
    # un-clustered files each cover ~the whole 32x32 plane; z-ordered
    # patches must cover well under half of files x full-plane
    assert area <= 0.5 * len(man["files"]) * 32 * 32, area


def test_lakehouse_optimize_sort_by_shrinks_band_plan(spark, tmp_path):
    """optimize(sort_by=...): clustered compaction for a table with NO
    standing cluster_by policy. Four modulus stripes each span the full
    key range, so a band predicate plans every file; after the sorted
    rewrite — at the SAME output file count, pinned via target_bytes —
    the band plans strictly fewer files from the committed footer
    stats. Content is layout-invariant."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    for s in range(4):
        t.append(
            spark.createDataFrame(
                [(k, k * 10) for k in range(400) if k % 4 == s], "k long, v long"
            ).coalesce(1)
        )
    rows_before = _rows(t.read())

    def planned(lo, hi):
        man = t.snapshot()[1]
        stats = man.get("stats") or {}
        return [
            rel
            for rel in man["files"]
            if t._range_overlap(stats.get(rel), "k", lo, hi)
        ]

    n_before = len(t.snapshot()[1]["files"])
    assert len(planned(100, 150)) == n_before == 4  # stripes span everything
    total = sum(s["bytes"] for s in t.snapshot()[1]["stats"].values())
    v = t.optimize(
        small_bytes=1 << 30, target_bytes=max(1, -(-total // 4)), sort_by="k"
    )
    assert v == 5
    man = t.snapshot()[1]
    assert len(man["files"]) >= 3  # width preserved, not a 1-file collapse
    assert _rows(t.read()) == rows_before
    hits = planned(100, 150)
    assert len(hits) < 4, f"sorted layout must shrink the band plan: {hits}"
    # disjoint tight ranges: every file's span is a fraction of the axis
    spans = [
        s["max"]["k"] - s["min"]["k"] + 1 for s in man["stats"].values()
    ]
    assert all(sp <= 200 for sp in spans), spans


def test_lakehouse_optimize_sort_by_rebuilds_bloom_sidecars(spark, tmp_path):
    """Clustered compaction on a bloom_col table: every rewritten file
    gets a fresh Bloom sidecar (the write path builds them for all new
    rels), so point-lookup skipping keeps working on the compacted
    layout — compaction must never degrade the index stack."""
    t = TransactionalTable(
        spark, str(tmp_path / "tbl"), bloom_col="k"
    )
    for s in range(4):
        t.append(
            spark.createDataFrame(
                [(k, k * 2) for k in range(200) if k % 4 == s], "k long, v long"
            ).coalesce(1)
        )
    total = sum(s["bytes"] for s in t.snapshot()[1]["stats"].values())
    assert t.optimize(
        small_bytes=1 << 30, target_bytes=max(1, -(-total // 4)), sort_by="k"
    ) == 5
    man = t.snapshot()[1]
    assert len(man["files"]) >= 3
    for rel in man["files"]:
        assert man["stats"][rel].get("bloom"), f"missing bloom sidecar: {rel}"
    # skipping still prunes: a single-key delete rewrites few files
    before = set(man["files"])
    t.delete(spark.createDataFrame([(7,)], "k long"), "k")
    after = set(t.snapshot()[1]["files"])
    assert len(before - after) <= 1, "point delete must rewrite at most one file"
    assert (7, 14) not in {tuple(r) for r in t.read().collect()}


def test_lakehouse_optimize_sort_by_overrides_cluster_policy(spark, tmp_path):
    """optimize(sort_by=...) on a table WITH a standing cluster_by
    policy: the explicit sort wins (pre_clustered stands the policy's
    re-range-partition down, same as zorder) — the compacted files
    carry tight disjoint ranges on the sort_by column even when it
    differs from the policy column."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), cluster_by=["v"])
    # v-clustered appends whose k spans everything per file
    for s in range(4):
        t.append(
            spark.createDataFrame(
                [(k, (k * 37) % 200) for k in range(200) if k % 4 == s],
                "k long, v long",
            ).coalesce(1)
        )
    rows_before = _rows(t.read())
    total = sum(s["bytes"] for s in t.snapshot()[1]["stats"].values())
    assert (
        t.optimize(
            small_bytes=1 << 30,
            target_bytes=max(1, -(-total // 4)),
            sort_by="k",
        )
        is not None
    )
    man = t.snapshot()[1]
    assert len(man["files"]) >= 3
    assert _rows(t.read()) == rows_before
    spans = [s["max"]["k"] - s["min"]["k"] + 1 for s in man["stats"].values()]
    assert all(sp <= 100 for sp in spans), spans


def test_lakehouse_optimize_sort_by_validation(spark, tmp_path):
    """sort_by refuses unknown columns and combination with zorder_by
    — loud, like every layout-column contract here."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, 2)], "k long, v long"))
    t.append(spark.createDataFrame([(3, 4)], "k long, v long"))
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.optimize(sort_by="k", zorder_by=("k", "v"))
    with pytest.raises(ValueError, match="not in schema"):
        t.optimize(small_bytes=1 << 30, sort_by="nope")
    # validation fires even when no compaction would proceed (r16
    # review: the early-outs previously swallowed the typo as a silent
    # None on an already-compact table), and an explicit empty list is
    # a refused no-op, not a silent size-only bin-pack
    t2 = TransactionalTable(spark, str(tmp_path / "one"))
    t2.append(spark.createDataFrame([(1, 2)], "k long, v long"))
    with pytest.raises(ValueError, match="not in schema"):
        t2.optimize(sort_by="nope")  # 1 small file: would return None
    with pytest.raises(ValueError, match="at least one column"):
        t2.optimize(sort_by=[])
    # the same early-out hole existed for zorder_by (r16 review):
    # a typo'd column must refuse even when no compaction would run
    with pytest.raises(ValueError, match="not in schema"):
        t2.optimize(zorder_by=("nope", "k"))
    # the one unvalidatable boundary (r16 ADVICE): a table that has
    # never committed (v0) has NO schema to check names against — the
    # call is the documented no-op; validation fires the moment a
    # schema exists (covered above on the 1-commit table)
    t3 = TransactionalTable(spark, str(tmp_path / "empty"))
    assert t3.optimize(sort_by="anything") is None


def test_lakehouse_zorder_survives_cluster_by_policy(spark, tmp_path):
    """On a cluster_by table, optimize(zorder_by=...) must keep the
    Morton layout it just computed: the write path's cluster_by
    range-repartition standing down (pre_clustered) is what prevents
    a plain lexicographic sort on x from silently replacing the
    z-order — which would leave every file's y footer spanning the
    whole axis and kill pruning on the second column."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), cluster_by=["x"])
    pts = [(x, y) for x in range(32) for y in range(32)]
    for s in range(4):
        t.append(
            spark.createDataFrame(
                [p for p in pts if p[0] % 4 == s], "x long, y long"
            )
        )
    rows_before = _rows(t.read())
    assert (
        t.optimize(small_bytes=1 << 20, target_bytes=2048, zorder_by=("x", "y"))
        is not None
    )
    man = t.snapshot()[1]
    assert len(man["files"]) >= 3
    assert _rows(t.read()) == rows_before
    # z-ordered patches: total bounding-box area well under files x
    # full plane. A lexicographic x-sort (the cluster_by layout) gives
    # tight x but FULL y per file — area ~= files x (x_span x 32),
    # which fails this bound.
    area = 0.0
    ys_tight = 0
    for s in man["stats"].values():
        sx = s["max"]["x"] - s["min"]["x"] + 1
        sy = s["max"]["y"] - s["min"]["y"] + 1
        area += sx * sy
        ys_tight += sy < 32
    assert area <= 0.5 * len(man["files"]) * 32 * 32, area
    assert ys_tight >= 1  # at least one file's y-span is genuinely narrow


def test_lakehouse_cluster_by_typo_refused(spark, tmp_path):
    """A misnamed cluster_by column is refused loudly (write-time for
    a fresh table, construction-time once a schema is committed) —
    silently skipping the layout would be an unreported perf cliff."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), cluster_by=["ID"])
    with pytest.raises(ValueError, match="cluster_by"):
        t.append(spark.createDataFrame([(1, "a")], "id long, k string"))
    ok = TransactionalTable(spark, str(tmp_path / "tbl2"), cluster_by=["id"])
    ok.append(spark.createDataFrame([(1, "a")], "id long, k string"))
    with pytest.raises(ValueError, match="cluster_by"):
        TransactionalTable(spark, str(tmp_path / "tbl2"), cluster_by=["ID"])


def test_lakehouse_changes_append_of_existing_key_not_insert(spark, tmp_path):
    """An append that duplicates a key living in a CARRIED file must
    not be classified 'insert' — the existence check consults the
    snapshots (stats-bounded), not just the changed files."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string"), "id")
    t.append(spark.createDataFrame([(1, "a2")], "id long, k string"))
    got = {(r.id, r.k, r._change_type) for r in t.changes("id", 1, 2).collect()}
    # key 1 existed at v1 (in a carried file): update_post, and the old
    # row is still live so no update_pre is reported
    assert got == {(1, "a2", "update_post")}


def test_lakehouse_optimize_zorder_handles_nulls(spark, tmp_path):
    """NULL z-order values bin to cell 0 (F.least skips nulls, which
    would otherwise bin them to the TOP cell): rows survive compaction
    and every file's non-null footer range stays narrow."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(x, x) for x in range(64)], "x long, y long"))
    t.append(
        spark.createDataFrame(
            [(None, 0), (0, None), (None, None)],
            "x long, y long",
        )
    )
    v = t.optimize(small_bytes=1 << 20, target_bytes=512, zorder_by=("x", "y"))
    assert v == 3
    rows = t.read().collect()
    assert len(rows) == 67
    assert sum(1 for r in rows if r.x is None) == 2
    # null rows cluster with the LOW cells: the file holding the
    # nulls must not carry a top-of-range x footer
    man = t.snapshot()[1]
    null_files = set()
    for rel in man["files"]:
        part = spark.read.schema("x long, y long").parquet(
            f"{t.path}/data/{rel}"
        )
        if part.filter(F.col("x").isNull() | F.col("y").isNull()).count():
            null_files.add(rel)
    assert null_files
    for rel in null_files:
        s = man["stats"][rel]
        assert s["min"].get("x", 0) <= 8, s  # low-cell neighborhood


def test_lakehouse_expire_snapshots_enables_real_erasure(spark, tmp_path):
    """delete() removes a key from the LIVE table; its bytes survive in
    historical files until expire_snapshots + vacuum. After both, no
    parquet file on disk contains the erased row — the full GDPR walk."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.merge(
        spark.createDataFrame(
            [(1, "keepme"), (2, "ERASEME"), (3, "also-keep")],
            "id long, k string",
        ),
        "id",
    )
    t.delete(spark.createDataFrame([(2,)], "id long"), "id")
    # pre-expiry: time travel still reads the erased row (by design)
    assert (2, "ERASEME") in {(r.id, r.k) for r in t.read(version=1).collect()}
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1]
    removed = t.vacuum(retention_seconds=0)
    assert removed  # v1's rewritten file was only referenced by v1
    with pytest.raises(FileNotFoundError):
        t.read(version=1)
    # the erased row's bytes are GONE from every remaining data file
    data_dir = tmp_path / "tbl" / "data"
    leftovers = [
        str(p) for p in data_dir.rglob("*.parquet")
    ]
    assert leftovers
    survivors = {
        (r.id, r.k)
        for r in spark.read.schema("id long, k string")
        .parquet(*leftovers)
        .collect()
    }
    assert (2, "ERASEME") not in survivors
    assert {(1, "keepme"), (3, "also-keep")} <= survivors
    # live table unaffected; expiry is idempotent
    assert {(r.id, r.k) for r in t.read().collect()} == {
        (1, "keepme"), (3, "also-keep")
    }
    assert t.expire_snapshots(keep_last=1) == []


def test_lakehouse_vacuum_retention_spares_inflight_files(spark, tmp_path):
    """Writers create data files BEFORE committing, so a fresh orphan
    may belong to an in-flight, about-to-win commit. Default-retention
    vacuum must leave it alone; only a quiesced (retention=0) vacuum,
    or one whose window the orphan has aged out of, may reclaim it."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, k string"))
    orphan_dir = tmp_path / "tbl" / "data" / "txn-inflight"
    os.makedirs(orphan_dir)
    orphan = orphan_dir / "part-000.parquet"
    orphan.write_bytes(b"about-to-be-committed")
    assert t.vacuum() == []  # default 24h retention: untouched
    assert orphan.exists()
    # age the file past a 1-second window -> now reclaimable
    old = os.path.getmtime(orphan) - 3600
    os.utime(orphan, (old, old))
    assert t.vacuum(retention_seconds=1800) == [
        "txn-inflight/part-000.parquet"
    ]
    assert not orphan.exists()


def test_lakehouse_append_schema_mismatch_raises(spark, tmp_path):
    """A mismatched append must fail loudly, not commit files whose
    divergent columns would read back as silent nulls."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, k string"))
    with pytest.raises(ValueError, match="extra=\\['extra'\\]"):
        t.append(
            spark.createDataFrame(
                [(2, "b", 9.5)], "id long, k string, extra double"
            )
        )
    with pytest.raises(ValueError, match="changed="):
        t.append(spark.createDataFrame([("2", "b")], "id string, k string"))
    # column ORDER is irrelevant (parquet projects by name)
    t.append(spark.createDataFrame([("c", 3)], "k string, id long"))
    got = {(r.id, r.k) for r in t.read().collect()}
    assert got == {(1, "a"), (3, "c")}


def test_lakehouse_append_evolve_schema_additive(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, k string"))
    v = t.append(
        spark.createDataFrame(
            [(2, "b", 9.5)], "id long, k string, score double"
        ),
        evolve_schema=True,
    )
    got = {(r.id, r.k, r.score) for r in t.read(version=v).collect()}
    assert got == {(1, "a", None), (2, "b", 9.5)}
    # type change still refuses, even under evolve
    with pytest.raises(ValueError, match="cannot change column"):
        t.append(
            spark.createDataFrame([("3", "c")], "id string, k string"),
            evolve_schema=True,
        )


def test_lakehouse_schemed_path_refused(spark, tmp_path):
    """All manifest/maintenance IO is os-level; an object-store URI
    must refuse loudly in __init__ rather than half-work (a silent
    current_version()==0 forever)."""
    with pytest.raises(ValueError, match="local or file:"):
        TransactionalTable(spark, "s3a://bucket/tbl")
    with pytest.raises(ValueError, match="local or file:"):
        TransactionalTable(spark, "hdfs://nn/tbl")
    # file: and plain local paths are both fine
    TransactionalTable(spark, f"file:{tmp_path}/tbl")


def test_lakehouse_commit_slot_never_partial(spark, tmp_path):
    """The manifest slot is claimed by os.link of a fully-fsynced temp
    file, so the slot can only ever hold complete JSON; losing a race
    leaves no temp debris behind; and a crashed writer's stray temp
    file neither counts as a version nor breaks later commits."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, k string"))
    commits = tmp_path / "tbl" / "_commits"
    # stray temp from a "crashed" writer: invisible to versioning
    (commits / ".tmp-deadbeef.json").write_bytes(b'{"version"')  # truncated
    assert t.current_version() == 1
    # a conflicting commit attempt returns False and cleans its temp
    assert t._try_commit(1, {"version": 1, "bogus": True}) is False
    leftovers = [p.name for p in commits.iterdir() if p.name.startswith(".tmp-")]
    assert leftovers == [".tmp-deadbeef.json"]  # only the planted one
    # every committed slot parses as complete JSON
    v2 = t.append(spark.createDataFrame([(2, "b")], "id long, k string"))
    for v in range(1, v2 + 1):
        with open(commits / f"v{v:08d}.json") as f:
            assert json.load(f)["version"] == v
    assert t.current_version() == v2


def test_lakehouse_bloom_skips_inrange_absent_key(spark, tmp_path):
    """uuid-ish keys defeat min/max skipping (every file's range spans
    ~the whole key space); the per-file Bloom sidecar still proves a
    point key absent. Proven the hard way: the file the Bloom rules
    out is DELETED from disk, so touching it would throw."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), bloom_col="k")
    t.append(
        spark.createDataFrame([("a", 1), ("z", 1)], "k string, n long").coalesce(1)
    )
    t.append(
        spark.createDataFrame([("b", 2), ("y", 2)], "k string, n long").coalesce(1)
    )
    _, man = t.snapshot()
    assert len(man["files"]) == 2
    for rel in man["files"]:
        desc = man["stats"][rel]["bloom"]
        assert desc["n"] == 2
        assert os.path.exists(t._bloom_sidecar_path(rel))
    # file 1 spans [a, z] — "y" is inside its RANGE but not its Bloom
    file_a = next(
        rel for rel in man["files"] if man["stats"][rel]["min"]["k"] == "a"
    )
    os.remove(tmp_path / "tbl" / "data" / file_a)
    v = t.merge(spark.createDataFrame([("y", 99)], "k string, n long"), "k")
    # restore so read() can see the carried file again
    got = {
        (r.k, r.n)
        for rel in t.snapshot(v)[1]["files"]
        if os.path.exists(tmp_path / "tbl" / "data" / rel)
        for r in spark.read.parquet(str(tmp_path / "tbl" / "data" / rel)).collect()
    }
    assert ("y", 99) in got and ("y", 2) not in got
    assert ("b", 2) in got  # survivor of the rewritten file


def test_lakehouse_bloom_never_excludes_present_key(spark, tmp_path):
    """No false negatives, by construction: every key actually inside
    a file must survive that file's Bloom test."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), bloom_col="id")
    rows = [(i * 37 % 1000, f"v{i}") for i in range(200)]
    t.append(spark.createDataFrame(rows, "id long, v string"))
    _, man = t.snapshot()
    for rel in man["files"]:
        st = man["stats"][rel]
        if "bloom" not in st:
            continue
        present = [
            r.id
            for r in spark.read.parquet(
                str(tmp_path / "tbl" / "data" / rel)
            ).collect()
        ]
        for key in present:
            assert not t._bloom_excludes(st, [key], "id")


def test_lakehouse_bloom_probe_cap_disables_skipping(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"), bloom_col="id")
    t._BLOOM_PROBE_CAP = 3  # shrink the cap for the test
    t.append(spark.createDataFrame([(i, "x") for i in range(4)], "id long, v string"))
    keys = spark.createDataFrame([(i,) for i in range(10, 14)], "id long")
    assert t._collect_probe_keys(keys.distinct(), "id") is None  # over cap
    small = spark.createDataFrame([(10,)], "id long")
    assert t._collect_probe_keys(small, "id") == [10]


def test_lakehouse_read_prune_by_stats(spark, tmp_path):
    """Manifest-level file skipping for readers: files whose footer
    range cannot meet the prune bounds are never handed to Spark."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    for base in (0, 100, 1000):
        t.append(
            spark.createDataFrame(
                [(base + i, f"g{base}") for i in range(10)], "id long, g string"
            ).coalesce(1)
        )
    mid = t.read(prune={"id": (100, 200)})
    assert sorted(r.id for r in mid.collect()) == list(range(100, 110))
    low = t.read(prune={"id": (None, 50)})
    assert sorted(r.id for r in low.collect()) == list(range(0, 10))
    high = t.read(prune={"id": (999, None)})
    assert sorted(r.id for r in high.collect()) == list(range(1000, 1010))
    # column without stats -> conservative: everything survives
    assert t.read(prune={"nope": (1, 2)}).count() == 30
    assert t.read(prune={"id": (5000, None)}).count() == 0


def test_lakehouse_bloom_sidecars_follow_vacuum(spark, tmp_path):
    """A sidecar lives exactly as long as its data file: once vacuum
    reclaims the file (post-expiry), the next vacuum sweep drops the
    orphaned sidecar too."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), bloom_col="id")
    t.merge(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string").coalesce(1),
        "id",
    )
    t.merge(spark.createDataFrame([(1, "a2")], "id long, k string"), "id")
    idx = tmp_path / "tbl" / "_index"
    n_sidecars = len(list(idx.glob("*.bloom")))
    assert n_sidecars >= 2
    t.expire_snapshots(keep_last=1)
    t.vacuum(retention_seconds=0)
    live = {rel for rel in t.snapshot()[1]["files"]}
    remaining = {p.name for p in idx.glob("*.bloom")}
    assert remaining == {t._bloom_sidecar_rel(rel) for rel in live}


def test_lakehouse_consumer_incremental_loop(spark, tmp_path):
    """Poll → process → ack: each poll sees exactly the delta since
    the last ack; an unacked poll repeats (at-least-once); a stale ack
    can never rewind the cursor."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string"))
    b1 = t.consume_changes("job", "id")
    got1 = {(r.id, r.k, r._change_type) for r in b1["frame"].collect()}
    assert got1 == {(1, "a", "insert"), (2, "b", "insert")}
    assert not b1["full_resync"]
    # crash before ack: the same delta comes again
    again = t.consume_changes("job", "id")
    assert (again["from_version"], again["to_version"]) == (
        b1["from_version"],
        b1["to_version"],
    )
    t.ack("job", b1["to_version"])
    # nothing new -> no frame
    idle = t.consume_changes("job", "id")
    assert idle["frame"] is None and idle["to_version"] == b1["to_version"]
    # an upsert of key 1 only -> next poll is just that key's images
    t.merge(spark.createDataFrame([(1, "a9")], "id long, k string"), "id")
    b2 = t.consume_changes("job", "id")
    got2 = {(r.id, r.k, r._change_type) for r in b2["frame"].collect()}
    assert got2 == {(1, "a", "update_pre"), (1, "a9", "update_post")}
    # stale ack is a no-op
    t.ack("job", b1["to_version"])
    assert t.consumer_cursor("job") == b1["to_version"]
    t.ack("job", b2["to_version"])
    assert t.consumer_cursor("job") == b2["to_version"]
    # two consumers have independent cursors
    other = t.consume_changes("audit", "id")
    assert other["from_version"] == 0
    assert other["frame"].count() == 2  # full current state as inserts


def test_lakehouse_consumer_full_resync_after_expiry(spark, tmp_path):
    """A consumer that lags past snapshot retention cannot diff —
    it must receive the whole current snapshot as a rebuild."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, k string"))
    b1 = t.consume_changes("slow", "id")
    t.ack("slow", b1["to_version"])          # cursor = 1
    t.merge(spark.createDataFrame([(1, "a2")], "id long, k string"), "id")
    t.merge(spark.createDataFrame([(2, "b")], "id long, k string"), "id")
    t.expire_snapshots(keep_last=1)          # v1 (the cursor base) retired
    b = t.consume_changes("slow", "id")
    assert b["full_resync"]
    got = {(r.id, r.k, r._change_type) for r in b["frame"].collect()}
    assert got == {(1, "a2", "insert"), (2, "b", "insert")}
    t.ack("slow", b["to_version"])
    assert t.consume_changes("slow", "id")["frame"] is None


def test_lakehouse_merge_into_conditional_update(spark, tmp_path):
    """WHEN MATCHED THEN UPDATE with an expression over both sides,
    gated by a condition; unmatched source rows insert. Oracle: the
    same MERGE restated as a DuckDB FULL OUTER JOIN + CASE."""
    import duckdb

    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    target = [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]
    source = [(2, 5, "B2"), (3, 100, "C2"), (4, 7, "d")]
    t.append(spark.createDataFrame(target, "id long, qty long, tag string"))
    t.merge_into(
        spark.createDataFrame(source, "id long, qty long, tag string"),
        on="id",
        when_matched_update={"qty": "qty + src_qty", "tag": "src_tag"},
        when_matched_condition="src_qty < 50",  # id=3's src_qty=100 fails the gate
    )
    got = _rows(t.read())
    con = duckdb.connect()
    con.execute("CREATE TABLE tgt(id BIGINT, qty BIGINT, tag VARCHAR)")
    con.execute("CREATE TABLE src(id BIGINT, qty BIGINT, tag VARCHAR)")
    con.executemany("INSERT INTO tgt VALUES (?,?,?)", target)
    con.executemany("INSERT INTO src VALUES (?,?,?)", source)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT coalesce(t.id, s.id) AS id,
                   CASE WHEN t.id IS NULL THEN s.qty
                        WHEN s.id IS NOT NULL AND s.qty < 50 THEN t.qty + s.qty
                        ELSE t.qty END AS qty,
                   CASE WHEN t.id IS NULL THEN s.tag
                        WHEN s.id IS NOT NULL AND s.qty < 50 THEN s.tag
                        ELSE t.tag END AS tag
            FROM tgt t FULL OUTER JOIN src s USING (id)
            """
        ).fetchall()
    )
    assert got == want
    assert (3, 30, "c") in set(got)  # gate held the original row


def test_lakehouse_merge_into_matched_delete(spark, tmp_path):
    """Delete clause evaluated first (Delta ordering): matched rows
    flagged op='D' are removed, remaining matches updated, the rest
    inserted."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
    )
    src = spark.createDataFrame(
        [(1, "A", "U"), (2, "x", "D"), (4, "d", "U")],
        "id long, v string, op string",
    )
    t.merge_into(
        src,
        on="id",
        when_matched_update={"v": "src_v"},
        when_matched_delete="src_op = 'D'",
        when_not_matched_insert=False,  # src carries an extra op column
    )
    assert _rows(t.read()) == [(1, "A"), (3, "c")]


def test_lakehouse_merge_into_composite_key(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(
            [("us", 1, 10), ("us", 2, 20), ("eu", 1, 30)],
            "region string, id long, n long",
        )
    )
    t.merge_into(
        spark.createDataFrame(
            [("us", 2, 99), ("eu", 2, 40)], "region string, id long, n long"
        ),
        on=["region", "id"],
    )  # default: update all + insert
    assert _rows(t.read()) == [
        ("eu", 1, 30),
        ("eu", 2, 40),
        ("us", 1, 10),
        ("us", 2, 99),
    ]


def test_lakehouse_merge_into_duplicate_source_rows_refused(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="multiple source rows"):
        t.merge_into(
            spark.createDataFrame(
                [(1, "x"), (1, "y")], "id long, v string"
            ),
            on="id",
        )


def test_lakehouse_merge_into_rewrites_only_hit_files(spark, tmp_path):
    """Composite-range file skipping: the file whose ranges cannot
    overlap the source keys is carried by reference — proven by
    deleting it from disk before the merge."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(
            [(i, f"lo{i}") for i in range(10)], "id long, v string"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(i, f"hi{i}") for i in range(1000, 1010)], "id long, v string"
        ).coalesce(1)
    )
    _, man = t.snapshot()
    lo_file = next(
        rel for rel in man["files"] if man["stats"][rel]["min"]["id"] == 0
    )
    os.remove(tmp_path / "tbl" / "data" / lo_file)
    v = t.merge_into(
        spark.createDataFrame([(1005, "HI")], "id long, v string"), on="id"
    )
    new_man = t.snapshot(v)[1]
    assert lo_file in new_man["files"]  # carried untouched
    live = [
        rel
        for rel in new_man["files"]
        if os.path.exists(tmp_path / "tbl" / "data" / rel)
    ]
    got = {
        (r.id, r.v)
        for rel in live
        for r in spark.read.parquet(str(tmp_path / "tbl" / "data" / rel)).collect()
    }
    assert (1005, "HI") in got and (1005, "hi1005") not in got


def test_lakehouse_merge_into_no_op_makes_no_commit(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    v1 = t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    v = t.merge_into(
        spark.createDataFrame([(9, "z")], "id long, v string"),
        on="id",
        when_not_matched_insert=False,
    )
    assert v == v1  # nothing matched, nothing inserted, no empty commit


def test_lakehouse_check_constraints(spark, tmp_path):
    """Delta-style CHECK constraints: validated against existing data
    on add, enforced on every write path, NULL passes (SQL unknown),
    persist across unrelated commits, droppable."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame([(1, 10), (2, None)], "id long, qty long")
    )
    # existing NULL passes; a constraint existing data violates refuses
    t.add_constraint("qty_pos", "qty > 0")
    with pytest.raises(ValueError, match="violated"):
        t.add_constraint("qty_small", "qty < 5")
    # append of a violating row refuses; valid + NULL rows pass
    with pytest.raises(ValueError, match="qty_pos"):
        t.append(spark.createDataFrame([(3, -1)], "id long, qty long"))
    t.append(spark.createDataFrame([(3, None)], "id long, qty long"))
    # merge enforces on incoming rows
    with pytest.raises(ValueError, match="qty_pos"):
        t.merge(spark.createDataFrame([(1, 0)], "id long, qty long"), "id")
    # merge_into enforces on COMPUTED update values
    with pytest.raises(ValueError, match="qty_pos"):
        t.merge_into(
            spark.createDataFrame([(1, 100)], "id long, qty long"),
            on="id",
            when_matched_update={"qty": "qty - src_qty"},  # 10-100 < 0
        )
    # constraint survives an unrelated commit (delete) and still bites
    t.delete(spark.createDataFrame([(3,)], "id long"), "id")
    with pytest.raises(ValueError, match="qty_pos"):
        t.append(spark.createDataFrame([(4, -7)], "id long, qty long"))
    t.drop_constraint("qty_pos")
    t.append(spark.createDataFrame([(4, -7)], "id long, qty long"))
    assert (4, -7) in {tuple(r) for r in t.read().collect()}
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("qty_pos")


def test_lakehouse_binary_media_payload_roundtrip(spark, tmp_path):
    """Multimodal lakehouse integration: real media files ingested via
    the binaryFile connector land in a TransactionalTable with their
    binary payload and meta struct intact — append, point-MERGE an
    updated payload (footer stats skip the binary/struct columns by
    design, the long key still prunes), read back, and decode the
    stored container bytes. Pins that the commit/write/read path is
    byte-faithful for binary columns, not just scalar tables."""
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
    wav = synth_wav_payload(b"0123456789abcdef")
    (d / "a.wav").write_bytes(wav)
    (d / "b.ppm").write_bytes(synth_ppm_payload(3, 5, 2))
    src = read_media_folder(spark, str(d))

    t = TransactionalTable(spark, str(tmp_path / "tbl"), bloom_col="doc_id")
    t.append(src)
    back = {r.path.rsplit("/", 1)[-1]: r for r in t.read().collect()}
    assert bytes(back["a.wav"].payload) == wav  # byte-faithful storage
    assert back["b.ppm"].meta.mime == "image/x-portable-pixmap"

    # point-merge a re-encoded payload for one doc: binary + struct
    # columns ride through the rewrite, the untouched doc carries over
    wav2 = synth_wav_payload(b"zzzz9999zzzz9999zzzz")
    delta = src.filter(F.col("path").endswith("a.wav")).withColumn(
        "payload", F.lit(wav2)
    )
    t.merge(delta, "doc_id")
    back2 = {r.path.rsplit("/", 1)[-1]: r for r in t.read().collect()}
    assert bytes(back2["a.wav"].payload) == wav2
    assert bytes(back2["b.ppm"].payload) == bytes(back["b.ppm"].payload)

    # the stored bytes still decode as real containers
    dec = {
        r.mime: _json.loads(r.decoded)
        for r in media_decode(t.read(), on_unsupported="skip").collect()
    }
    assert dec["audio/wav"]["n_samples"] == len(b"zzzz9999zzzz9999zzzz") // 2
    assert dec["image/x-portable-pixmap"]["n_pixels"] == 10  # 5x2 raster


def test_lakehouse_stream_merge_survives_commit_marker_crash(spark, tmp_path):
    """The REAL at-least-once window: the job dies AFTER the table
    merge committed but BEFORE Structured Streaming wrote the epoch's
    checkpoint commit marker. Simulated faithfully — run one epoch,
    delete ``<ckpt>/commits/0`` (the marker the crash would have
    lost, together with its local-FS checksum sidecar — leaving the
    .crc behind makes the re-write trip FileAlreadyExists instead of
    recovering), add a second file, restart on the SAME checkpoint.
    Spark re-executes epoch 0 with the same epoch_id; the table's
    ``(txn_app, 0)`` marker must no-op the replayed merge (no new
    version, no duplicate rows) and epoch 1 must then apply
    normally."""
    import glob
    import os

    from data_finder_comparator_spark.streaming.pipeline import (
        stream_merge_into_table,
    )

    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"

    def stream():
        return (
            spark.readStream.schema("id long, k string")
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )

    spark.createDataFrame(
        [(1, "v1"), (2, "v1")], "id long, k string"
    ).coalesce(1).write.parquet(str(src / "e0"))
    t = stream_merge_into_table(
        stream(), str(tmp_path / "tbl"), "id", "evt-job", str(ckpt)
    )
    assert t.current_version() == 1

    # the crash: epoch 0's sink side effect is durable in the table,
    # but its checkpoint commit marker is gone
    markers = glob.glob(str(ckpt / "commits" / "0"))
    assert markers, "expected epoch 0's commit marker"
    os.remove(markers[0])
    # the local FS keeps a Hadoop checksum sidecar; leaving it behind
    # makes the marker's re-write trip FileAlreadyExists on the .crc
    # (surfaced as a bogus concurrent-queries error) instead of
    # exercising the recovery path
    crc = ckpt / "commits" / ".0.crc"
    if crc.exists():
        os.remove(str(crc))

    spark.createDataFrame(
        [(2, "v2"), (3, "v2")], "id long, k string"
    ).coalesce(1).write.parquet(str(src / "e1"))
    t = stream_merge_into_table(
        stream(), str(tmp_path / "tbl"), "id", "evt-job", str(ckpt)
    )
    # replayed epoch 0 no-ops via the txn marker; epoch 1 commits v2
    assert t.current_version() == 2
    ops = [m["op"] for m in t.history()]
    assert ops == ["merge", "merge"]
    assert {(r.id, r.k) for r in t.read().collect()} == {
        (1, "v1"), (2, "v2"), (3, "v2"),
    }


def test_lakehouse_stream_merge_auto_optimize(spark, tmp_path):
    """auto_optimize_every=2 compacts after every 2nd epoch: the
    4-epoch stream ends with optimize commits interleaved, fewer live
    files than epochs, identical table contents — and replays still
    skip their merges via the txn markers."""
    from data_finder_comparator_spark.streaming.pipeline import (
        stream_merge_into_table,
    )

    src = tmp_path / "src"
    epochs = [
        [(1, "a0"), (2, "b0")],
        [(2, "b1"), (3, "c1")],
        [(4, "d2")],
        [(1, "a3"), (5, "e3")],
    ]
    for i, rows in enumerate(epochs):
        spark.createDataFrame(rows, "id long, k string").coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = (
        spark.readStream.schema("id long, k string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    t = stream_merge_into_table(
        stream,
        str(tmp_path / "tbl"),
        "id",
        "evt-job",
        str(tmp_path / "ckpt"),
        auto_optimize_every=2,
        auto_optimize_small_bytes=1 << 20,
    )
    ops = [m["op"] for m in t.history()]
    assert ops.count("merge") == 4
    assert "optimize" in ops  # compaction interleaved with the stream
    state = {(r.id, r.k) for r in t.read().collect()}
    assert state == {(1, "a3"), (2, "b1"), (3, "c1"), (4, "d2"), (5, "e3")}
    # compaction bounded the live file count below one-per-epoch
    assert len(t.snapshot()[1]["files"]) < 4
    # replay of an already-applied epoch is still a no-op
    v = t.current_version()
    t.merge(
        spark.createDataFrame(epochs[1], "id long, k string"),
        "id", txn_app="evt-job", txn_version=1,
    )
    assert t.current_version() == v


def test_lakehouse_merge_into_null_condition_never_fires(spark, tmp_path):
    """SQL three-valued logic: a WHEN MATCHED clause whose condition
    evaluates to NULL must neither delete nor update (review finding —
    an unguarded filter silently DELETED null-condition rows)."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame([(1, None), (2, 5)], "id long, qty long")
    )
    t.merge_into(
        spark.createDataFrame([(1, 3), (2, 3)], "id long, qty long"),
        on="id",
        when_matched_update=None,
        when_matched_delete="qty > src_qty",  # NULL for id=1, TRUE for id=2
        when_not_matched_insert=False,
    )
    assert _rows(t.read()) == [(1, None)]  # id=1 kept, id=2 deleted
    # same for the update gate: NULL condition -> target value kept
    t.merge_into(
        spark.createDataFrame([(1, 9)], "id long, qty long"),
        on="id",
        when_matched_update={"qty": "src_qty"},
        when_matched_condition="qty > 0",  # NULL for the (1, NULL) row
        when_not_matched_insert=False,
    )
    assert _rows(t.read()) == [(1, None)]


def test_lakehouse_merge_into_insert_only_carries_hit_files(spark, tmp_path):
    """insert-if-not-exists (no matched clause): matched rows are
    untouched by definition, so files containing matched keys must be
    CARRIED, not rewritten byte-identically — proven by deleting the
    hit file from disk; and an all-matched source makes no commit."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    v1 = t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string").coalesce(1)
    )
    the_file = t.snapshot()[1]["files"][0]
    mtime_before = os.path.getmtime(tmp_path / "tbl" / "data" / the_file)
    v2 = t.merge_into(
        spark.createDataFrame([(1, "IGNORED"), (3, "c")], "id long, k string"),
        on="id",
        when_matched_update=None,
    )
    man = t.snapshot(v2)[1]
    # the hit file is carried BY REFERENCE (same rel, bytes untouched),
    # and exactly one new file holds the single true insert
    assert the_file in man["files"]
    assert os.path.getmtime(tmp_path / "tbl" / "data" / the_file) == mtime_before
    new_files = [rel for rel in man["files"] if rel != the_file]
    assert len(new_files) == 1
    inserted = {
        (r.id, r.k)
        for r in spark.read.parquet(
            str(tmp_path / "tbl" / "data" / new_files[0])
        ).collect()
    }
    assert inserted == {(3, "c")}
    # matched row untouched: no IGNORED update leaked through
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    # all-matched source: nothing to insert, no empty commit
    v3 = t.merge_into(
        spark.createDataFrame([(3, "zzz")], "id long, k string"),
        on="id",
        when_matched_update=None,
    )
    assert v3 == v2


def test_lakehouse_stream_merge_auto_optimize_zero_disables(spark, tmp_path):
    """auto_optimize_every=0 must mean 'never', not ZeroDivisionError
    inside foreachBatch (which would kill the stream)."""
    from data_finder_comparator_spark.streaming.pipeline import (
        stream_merge_into_table,
    )

    src = tmp_path / "src"
    spark.createDataFrame([(1, "a")], "id long, k string").coalesce(1).write.parquet(
        str(src / "f0")
    )
    stream = (
        spark.readStream.schema("id long, k string")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    t = stream_merge_into_table(
        stream, str(tmp_path / "tbl"), "id", "job", str(tmp_path / "ckpt"),
        auto_optimize_every=0,
    )
    assert {(r.id, r.k) for r in t.read().collect()} == {(1, "a")}
    assert [m["op"] for m in t.history()] == ["merge"]


def test_lakehouse_cluster_by_tightens_file_ranges(spark, tmp_path):
    """cluster_by range-clusters every write, so data files carry
    tight disjoint footer ranges and read(prune) / merge skipping
    actually bites — vs the unclustered layout where every file spans
    the whole key space."""
    rows = [(i * 37 % 1000, f"v{i}") for i in range(300)]  # shuffled ids
    df = spark.createDataFrame(rows, "id long, v string").repartition(4)

    plain = TransactionalTable(spark, str(tmp_path / "plain"))
    plain.append(df)
    clustered = TransactionalTable(
        spark, str(tmp_path / "clus"), cluster_by=["id"]
    )
    clustered.append(df)

    def ranges(t):
        _, man = t.snapshot()
        return [
            (man["stats"][rel]["min"]["id"], man["stats"][rel]["max"]["id"])
            for rel in man["files"]
        ]

    r_plain, r_clus = ranges(plain), ranges(clustered)
    assert len(r_clus) == 4
    # clustered: pairwise disjoint; plain (hash layout): overlapping
    r_clus.sort()
    assert all(a[1] < b[0] for a, b in zip(r_clus, r_clus[1:]))
    r_plain.sort()
    assert any(a[1] >= b[0] for a, b in zip(r_plain, r_plain[1:]))
    # and pruned reads open a strict subset of files
    lo, hi = r_clus[0]
    assert clustered.read(prune={"id": (lo, hi)}).count() < 300
    # contents identical either way
    assert _rows(clustered.read()) == _rows(plain.read())
    # merge rewrites preserve the policy: the rewritten file is still
    # internally ordered (tight range)
    clustered.merge(
        spark.createDataFrame([(r_clus[0][0], "UP")], "id long, v string"), "id"
    )
    assert _rows(clustered.read()) != _rows(plain.read())
    # compaction re-establishes disjoint ranges (the write path
    # range-repartitions every written frame, compaction included).
    # target_bytes small enough to force >= 2 output files — with a
    # single output file the pairwise-disjoint check is vacuous and
    # would pass even if compaction stopped clustering entirely
    assert clustered.optimize(small_bytes=1 << 20, target_bytes=4096) is not None
    r_opt = sorted(ranges(clustered))
    assert len(r_opt) >= 2
    assert all(a[1] < b[0] for a, b in zip(r_opt, r_opt[1:]))


def test_lakehouse_end_to_end_incremental_pipeline(spark, tmp_path):
    """The composed story, end to end: a stream upserts into an
    upstream table exactly-once (txn markers); a checkpointed consumer
    drains its CDC deltas; a downstream job merges each batch into its
    own table idempotently. Crash-replays on BOTH sides (epoch replay
    upstream, poll-after-crash downstream) leave both tables exactly
    as a single clean run would — end-to-end exactly-once from
    at-least-once parts."""
    from data_finder_comparator_spark.streaming.pipeline import (
        stream_merge_into_table,
    )

    src = tmp_path / "src"
    epochs = [
        [(1, "a0"), (2, "b0")],
        [(2, "b1"), (3, "c1")],
    ]
    for i, rows in enumerate(epochs):
        spark.createDataFrame(rows, "id long, k string").coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = (
        spark.readStream.schema("id long, k string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    upstream = stream_merge_into_table(
        stream, str(tmp_path / "up"), "id", "ingest", str(tmp_path / "ckpt")
    )
    downstream = TransactionalTable(spark, str(tmp_path / "down"))

    def drain(consumer_crashes_before_ack: bool) -> None:
        batch = upstream.consume_changes("derive", "id")
        if batch["frame"] is None:
            return
        rows = batch["frame"].filter(
            F.col("_change_type").isin("insert", "update_post")
        ).drop("_change_type")
        # idempotent downstream commit keyed by the upstream version
        downstream.merge(
            rows, "id", txn_app="derive", txn_version=batch["to_version"]
        )
        if not consumer_crashes_before_ack:
            upstream.ack("derive", batch["to_version"])

    drain(consumer_crashes_before_ack=True)   # crash: no ack
    drain(consumer_crashes_before_ack=False)  # replay, then ack
    down_v = downstream.current_version()
    assert {(r.id, r.k) for r in downstream.read().collect()} == {
        (1, "a0"), (2, "b1"), (3, "c1"),
    }
    # upstream epoch replay (at-least-once restart) is a no-op...
    up_v = upstream.current_version()
    for epoch, rows in enumerate(epochs):
        upstream.merge(
            spark.createDataFrame(rows, "id long, k string"),
            "id", txn_app="ingest", txn_version=epoch,
        )
    assert upstream.current_version() == up_v
    # ...so the consumer sees nothing new and downstream is untouched
    drain(consumer_crashes_before_ack=False)
    assert downstream.current_version() == down_v
    # one more upstream change flows through incrementally
    upstream.merge(
        spark.createDataFrame([(4, "d")], "id long, k string"),
        "id", txn_app="ingest", txn_version=2,
    )
    drain(consumer_crashes_before_ack=False)
    assert (4, "d") in {(r.id, r.k) for r in downstream.read().collect()}


def test_lakehouse_merge_into_randomized_vs_reference(spark, tmp_path):
    """Randomized MERGE INTO scenarios (seeded) against a pure-Python
    reference implementing SQL three-valued clause logic: nullable
    values, clause combinations, and null-key source rows (which must
    never match and, when inserting, land as plain inserts)."""
    import random

    def ref_merge(target, source, upd, upd_cond, del_cond, insert):
        # target/source: list of dicts with id, qty, tag
        src_by_id = {}
        for srow in source:
            if srow["id"] is not None:
                src_by_id[srow["id"]] = srow
        out = []
        for trow in target:
            s = src_by_id.get(trow["id"]) if trow["id"] is not None else None
            if s is None:
                out.append(dict(trow))
                continue
            # delete clause first; NULL condition -> not taken
            dq, sq = trow["qty"], s["qty"]
            if del_cond and (dq is not None and sq is not None and dq > sq):
                continue
            row = dict(trow)
            gate = True
            if upd_cond:
                gate = sq is not None and sq >= 3  # src_qty >= 3
            if upd and gate:
                if "qty" in upd:  # qty := qty + src_qty (NULL-propagating)
                    row["qty"] = (
                        None if dq is None or sq is None else dq + sq
                    )
                if "tag" in upd:
                    row["tag"] = s["tag"]
            out.append(row)
        if insert:
            matched = {t["id"] for t in target if t["id"] is not None}
            for srow in source:
                if srow["id"] is None or srow["id"] not in matched:
                    out.append(dict(srow))
        return sorted(
            ((r["id"], r["qty"], r["tag"]) for r in out),
            key=lambda x: (x[0] is None, x[0] or 0, x[2] or ""),
        )

    schema = "id long, qty long, tag string"
    for i in range(6):
        rng = random.Random(100 + i)

        def mk_rows(n, tagp):
            rows, used = [], set()
            for j in range(n):
                rid = rng.choice([None] + [k for k in range(10) if k not in used])
                if rid is not None:
                    used.add(rid)
                rows.append(
                    {
                        "id": rid,
                        "qty": rng.choice([None, 0, 1, 2, 3, 5, 8]),
                        "tag": f"{tagp}{j}",
                    }
                )
            return rows

        target = [r for r in mk_rows(7, "t") if r["id"] is not None]
        source = mk_rows(5, "s")
        upd = rng.choice([None, {"qty": "qty + src_qty", "tag": "src_tag"}])
        upd_cond = rng.choice([None, "src_qty >= 3"]) if upd else None
        del_cond = rng.choice([None, "qty > src_qty"])
        insert = rng.choice([True, False])
        if upd is None and del_cond is None and not insert:
            insert = True  # skip the no-op combination

        t = TransactionalTable(spark, str(tmp_path / f"tbl{i}"))
        t.append(
            spark.createDataFrame([tuple(r.values()) for r in target], schema)
        )
        t.merge_into(
            spark.createDataFrame([tuple(r.values()) for r in source], schema),
            on="id",
            when_matched_update=upd,
            when_matched_condition=upd_cond,
            when_matched_delete=del_cond,
            when_not_matched_insert=insert,
        )
        got = sorted(
            ((r.id, r.qty, r.tag) for r in t.read().collect()),
            key=lambda x: (x[0] is None, x[0] or 0, x[2] or ""),
        )
        want = ref_merge(target, source, upd, upd_cond, del_cond, insert)
        assert got == want, (
            f"scenario {i}: upd={upd} upd_cond={upd_cond} "
            f"del={del_cond} ins={insert}\n got={got}\nwant={want}"
        )


# -- hive-style partitioning -------------------------------------------


def test_lakehouse_partition_by_layout_pruning_and_order(spark, tmp_path):
    """partition_by writes hive col=val directories; the partition
    value rides the manifest stats as an exact min==max range, so
    read(prune) skips whole partitions WITHOUT opening them — proven
    by deleting the other partitions' files from disk. Reads return
    the logical column order (partition columns are NOT last)."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), partition_by=["lang"])
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], f"v{i}") for i in range(30)],
        "id long, lang string, v string",
    )
    t.append(df)
    _, man = t.snapshot()
    assert all("lang=" in rel for rel in man["files"])
    for rel in man["files"]:
        s = man["stats"][rel]
        val = s["partition"]["lang"]
        assert s["min"]["lang"] == s["max"]["lang"] == val
    # logical order preserved (Spark would otherwise append lang last)
    assert t.read().columns == ["id", "lang", "v"]
    assert _rows(t.read()) == _rows(df)
    # destroy everything but lang=de: a pruned read must not notice
    for rel in man["files"]:
        if "lang=de" not in rel:
            os.remove(tmp_path / "tbl" / "data" / rel)
    got = t.read(prune={"lang": ("de", "de")})
    assert got.count() == 10
    assert {r.lang for r in got.collect()} == {"de"}


def test_lakehouse_partition_by_merge_prunes_partitions(spark, tmp_path):
    """A composite-key merge_into whose source sits in one partition
    must not open the other partitions' files (conjunctive range skip
    on the injected partition stats) — proven by deleting them."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), partition_by=["lang"])
    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], f"v{i}") for i in range(20)],
        "id long, lang string, v string",
    )
    t.append(df)
    _, man = t.snapshot()
    for rel in man["files"]:
        if "lang=en" not in rel:
            os.remove(tmp_path / "tbl" / "data" / rel)
    src = spark.createDataFrame(
        [(0, "en", "UP"), (98, "en", "NEW")], "id long, lang string, v string"
    )
    t.merge_into(
        src,
        on=["lang", "id"],
        when_matched_update="all",
        when_not_matched_insert=True,
    )
    got = t.read(prune={"lang": ("en", "en")})
    rows = {(r.id, r.v) for r in got.collect()}
    assert (0, "UP") in rows and (98, "NEW") in rows
    assert len(rows) == 11


def test_lakehouse_partition_policy_is_table_metadata(spark, tmp_path):
    """The partition policy is fixed at creation: reopening without it
    inherits the committed value; a different value, retrofitting onto
    a flat table, overlap with cluster_by, and a partition bloom_col
    are all refused loudly."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), partition_by=["lang"])
    t.append(
        spark.createDataFrame([(1, "en", "a")], "id long, lang string, v string")
    )
    assert TransactionalTable(spark, str(tmp_path / "tbl")).partition_by == ["lang"]
    with pytest.raises(ValueError, match="partitioned by"):
        TransactionalTable(spark, str(tmp_path / "tbl"), partition_by=["v"])
    flat = TransactionalTable(spark, str(tmp_path / "flat"))
    flat.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="retrofitted"):
        TransactionalTable(spark, str(tmp_path / "flat"), partition_by=["v"])
    with pytest.raises(ValueError, match="both partition_by and"):
        TransactionalTable(
            spark, str(tmp_path / "x"), partition_by=["a"], cluster_by=["a"]
        )
    with pytest.raises(ValueError, match="bloom_col"):
        TransactionalTable(
            spark, str(tmp_path / "y"), partition_by=["a"], bloom_col="a"
        )


def test_lakehouse_partition_typed_and_null_values(spark, tmp_path):
    """Integer partition values parse back typed (min==max ints in the
    stats); NULL partition values land in the hive default directory,
    survive reads, and are never range-pruned away (no range signal =>
    conservative keep)."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), partition_by=["day"])
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, None, "c")], "id long, day long, v string"
    )
    t.append(df)
    _, man = t.snapshot()
    null_rel = [r for r in man["files"] if "__HIVE_DEFAULT_PARTITION__" in r]
    assert null_rel
    assert man["stats"][null_rel[0]]["partition"]["day"] is None
    assert "day" not in man["stats"][null_rel[0]].get("min", {})
    typed = [r for r in man["files"] if "day=10" in r]
    assert man["stats"][typed[0]]["min"]["day"] == 10  # int, not "10"
    assert _rows(t.read()) == _rows(df)
    # pruning keeps the null partition no matter the bounds
    got = t.read(prune={"day": (15, 25)})
    assert {r.id for r in got.collect()} == {2, 3}


def test_lakehouse_partition_composes_with_cluster_by(spark, tmp_path):
    """partition_by (coarse, exact) + cluster_by (fine, in-file
    ranges): within every partition the files carry tight disjoint id
    ranges, and compaction preserves both layers."""
    t = TransactionalTable(
        spark, str(tmp_path / "tbl"), partition_by=["lang"], cluster_by=["id"]
    )
    rows = [(i * 37 % 1000, ["en", "de"][i % 2], f"v{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, lang string, v string").repartition(4)
    t.append(df)

    def ranges_by_lang(man):
        out = {}
        for rel in man["files"]:
            s = man["stats"][rel]
            out.setdefault(s["partition"]["lang"], []).append(
                (s["min"]["id"], s["max"]["id"])
            )
        return out

    _, man = t.snapshot()
    for lang, rs in ranges_by_lang(man).items():
        rs.sort()
        assert all(a[1] < b[0] for a, b in zip(rs, rs[1:])), (lang, rs)
    assert _rows(t.read()) == _rows(df)
    # compaction: still hive-partitioned, still clustered inside
    assert t.optimize(small_bytes=1 << 20, target_bytes=2048) is not None
    _, man2 = t.snapshot()
    assert all("lang=" in rel for rel in man2["files"])
    by_lang = ranges_by_lang(man2)
    assert any(len(rs) >= 2 for rs in by_lang.values())
    for lang, rs in by_lang.items():
        rs.sort()
        assert all(a[1] < b[0] for a, b in zip(rs, rs[1:])), (lang, rs)
    assert _rows(t.read()) == _rows(df)


def test_lakehouse_partition_vacuum_handles_nested_dirs(spark, tmp_path):
    """Vacuum reclaims orphaned files INSIDE partition directories and
    removes the emptied col=val/txn dirs bottom-up, never touching
    referenced files."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), partition_by=["lang"])
    t.append(
        spark.createDataFrame(
            [(1, "en", "a"), (2, "de", "b")], "id long, lang string, v string"
        )
    )
    # merge creates a losing-style orphan txn by hand: copy the layout
    data = tmp_path / "tbl" / "data"
    orphan = data / "txn-orphan" / "lang=xx"
    orphan.mkdir(parents=True)
    f = orphan / "part-00000-dead.snappy.parquet"
    f.write_bytes(b"not really parquet")
    removed = t.vacuum(retention_seconds=0)
    assert removed == ["txn-orphan/lang=xx/part-00000-dead.snappy.parquet"]
    assert not (data / "txn-orphan").exists()
    assert _rows(t.read()) == [(1, "en", "a"), (2, "de", "b")]


def test_lakehouse_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE: a bad merge is undone by a new commit referencing the
    old version's files — no data copied, history append-only, time
    travel to the bad version still works, txn markers survive, and
    CDC sees the rollback as changes."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.merge(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        "id",
        txn_app="job",
        txn_version=7,
    )
    t.merge(spark.createDataFrame([(2, "BAD"), (3, "x")], "id long, v string"), "id")
    assert t.restore(1) == 3
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    # referenced, not copied: exactly v1's files
    assert t.snapshot(3)[1]["files"] == t.snapshot(1)[1]["files"]
    assert [m["op"] for m in t.history()] == ["merge", "merge", "restore"]
    assert t.snapshot(3)[1]["restored_from"] == 1
    # the bad version is still inspectable
    assert (2, "BAD") in _rows(t.read(version=2))
    # exactly-once bookkeeping survives the rollback: replaying the
    # old epoch is still a no-op
    assert t.merge(
        spark.createDataFrame([(9, "dup")], "id long, v string"),
        "id",
        txn_app="job",
        txn_version=7,
    ) == 3
    # CDC across the restore reports the rollback as row changes
    got = {(r.id, r.v, r._change_type) for r in t.changes("id", 2, 3).collect()}
    assert got == {
        (2, "b", "update_post"),
        (2, "BAD", "update_pre"),
        (3, "x", "delete"),
    }
    # restoring to an expired snapshot refuses loudly
    t.merge(spark.createDataFrame([(5, "e")], "id long, v string"), "id")
    t.expire_snapshots(keep_last=2)
    with pytest.raises(FileNotFoundError):
        t.restore(1)


def test_lakehouse_randomized_concurrent_writers_serialize(spark, tmp_path):
    """Randomized concurrency: two writers interleave merges, deletes
    and compactions on DISJOINT keyspaces from separate table handles.
    Disjoint-key ops commute, so whatever order the commit races
    resolve to, the final table must equal each writer's local replay
    — plus the structural invariants every history must satisfy (a
    gapless parent chain, referenced files on disk, stats only for
    listed files). Seeded RNG: failures reproduce."""
    import random
    import threading

    t0 = TransactionalTable(spark, str(tmp_path / "tbl"))
    t0.append(
        spark.createDataFrame(
            [(k, -1, "init") for k in range(200)], "id long, src int, v string"
        )
    )
    expected = [
        {k: (-1, "init") for k in range(w * 100, w * 100 + 100)} for w in (0, 1)
    ]
    errors = []

    def writer(w: int) -> None:
        rng = random.Random(1234 + w)
        t = TransactionalTable(spark, str(tmp_path / "tbl"))
        try:
            for step in range(10):
                op = rng.choice(["merge", "merge", "delete", "optimize"])
                ks = rng.sample(
                    range(w * 100, w * 100 + 100), rng.randint(1, 8)
                )
                if op == "merge":
                    rows = [(k, w, f"w{w}s{step}") for k in ks]
                    t.merge(
                        spark.createDataFrame(
                            rows, "id long, src int, v string"
                        ),
                        "id",
                    )
                    for k in ks:
                        expected[w][k] = (w, f"w{w}s{step}")
                elif op == "delete":
                    t.delete(
                        spark.createDataFrame([(k,) for k in ks], "id long"),
                        "id",
                    )
                    for k in ks:
                        expected[w].pop(k, None)
                else:
                    t.optimize(small_bytes=1 << 20)
        except Exception as e:  # surfaced below with the writer id
            errors.append((w, repr(e)))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    got = {r.id: (r.src, r.v) for r in t0.read().collect()}
    assert got == {**expected[0], **expected[1]}
    mans = t0.history()
    assert [m["version"] for m in mans] == list(
        range(1, t0.current_version() + 1)
    )
    assert all(m["parent"] == m["version"] - 1 for m in mans)
    _, man = t0.snapshot()
    for rel in man["files"]:
        assert (tmp_path / "tbl" / "data" / rel).exists(), rel
    assert set(man.get("stats") or {}) <= set(man["files"])


def test_lakehouse_randomized_concurrent_writers_serialize_on_http_store(
    spark, tmp_path, monkeypatch
):
    """The randomized two-writer serialization test run over the
    WIRE — both writers race their conditional-PUT commit claims
    through the real loopback HTTP server — with faults injected into
    the driver-side control plane: every 7th request 503s before
    reaching the server (the retry path), and the writers' first
    conditional PUT, then every 11th after it, is APPLIED server-side
    with its response dropped (the S3 ambiguity: the retry sees 412
    against the writer's own bytes and must resolve the claim WON by
    read-back, mid-race against the other writer's genuine claims).
    Claims are counted from the first one a writer thread makes, so
    the drop fires however the threads interleave.
    Disjoint-key ops commute, so the final table must still equal each
    writer's local replay, with a gapless parent chain — the
    serialization invariant is store-independent."""
    import io
    import itertools
    import random
    import threading
    import urllib.error
    import urllib.request

    from data_finder_comparator_spark.sinks.storage import (
        HttpStore,
        MemoryStore,
        serve_store_http,
    )

    backing = MemoryStore()
    server, base = serve_store_http(backing)
    real_build = urllib.request.build_opener
    counter = itertools.count(1)
    claims = itertools.count()  # the writer threads' conditional PUTs
    writers_started = threading.Event()
    lock = threading.Lock()
    injected = {"dropped": 0, "throttled": 0}

    class Flaky:
        def __init__(self, real):
            self.real = real

        def open(self, req, timeout=None):
            method = req.get_method() if hasattr(req, "get_method") else "GET"
            claim = (
                method == "PUT"
                and req.has_header("If-none-match")
                and writers_started.is_set()
            )
            with lock:
                n = next(counter)
                c = next(claims) if claim else 0
            if claim and c % 11 == 0:
                # applied server-side, response dropped: the retry must
                # read back and recognize its own winning claim
                self.real.open(req, timeout=timeout).read()
                injected["dropped"] += 1
                raise ConnectionResetError("injected: response dropped")
            if n % 7 == 0:
                injected["throttled"] += 1
                raise urllib.error.HTTPError(
                    getattr(req, "full_url", base), 503, "throttled",
                    {}, io.BytesIO(b""),
                )
            return self.real.open(req, timeout=timeout)

    monkeypatch.setattr(
        urllib.request, "build_opener", lambda *h: Flaky(real_build(*h))
    )
    try:
        label = str(tmp_path / "never-on-disk-http-race")

        def handle() -> TransactionalTable:
            st = HttpStore(base)
            st._BACKOFF_S = 0.001
            return TransactionalTable(spark, label, store=st)

        t0 = handle()
        t0.append(
            spark.createDataFrame(
                [(k, -1, "init") for k in range(200)],
                "id long, src int, v string",
            )
        )
        expected = [
            {k: (-1, "init") for k in range(w * 100, w * 100 + 100)}
            for w in (0, 1)
        ]
        errors = []

        def writer(w: int) -> None:
            rng = random.Random(4321 + w)
            t = handle()
            try:
                for step in range(8):
                    op = rng.choice(["merge", "merge", "delete", "optimize"])
                    ks = rng.sample(
                        range(w * 100, w * 100 + 100), rng.randint(1, 8)
                    )
                    if op == "merge":
                        rows = [(k, w, f"w{w}s{step}") for k in ks]
                        t.merge(
                            spark.createDataFrame(
                                rows, "id long, src int, v string"
                            ),
                            "id",
                        )
                        for k in ks:
                            expected[w][k] = (w, f"w{w}s{step}")
                    elif op == "delete":
                        t.delete(
                            spark.createDataFrame(
                                [(k,) for k in ks], "id long"
                            ),
                            "id",
                        )
                        for k in ks:
                            expected[w].pop(k, None)
                    else:
                        t.optimize(small_bytes=1 << 20)
            except Exception as e:  # surfaced below with the writer id
                errors.append((w, repr(e)))

        threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
        writers_started.set()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        got = {r.id: (r.src, r.v) for r in t0.read().collect()}
        assert got == {**expected[0], **expected[1]}
        mans = t0.history()
        assert [m["version"] for m in mans] == list(
            range(1, t0.current_version() + 1)
        )
        assert all(m["parent"] == m["version"] - 1 for m in mans)
        # every referenced file lives in the HTTP store's backing, and
        # the fault schedule actually exercised both injection modes
        _, man = t0.snapshot()
        live = set(t0.store.list("data"))
        for rel in man["files"]:
            assert rel in live, rel
        assert injected["throttled"] > 0
        assert injected["dropped"] > 0, "no conditional PUT hit the drop slot"
    finally:
        server.shutdown()


def test_lakehouse_drop_columns(spark, tmp_path):
    """DROP COLUMN is a manifest-only commit: files carried by
    reference, readers stop projecting the name, old snapshots still
    see it; layout/index/constraint-referenced columns refuse; the
    dropped physical name joins the ghost list, so a later re-add
    (r11 column mapping) gets a fresh physical and old bytes stay
    dead."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), cluster_by=["id"])
    t.append(
        spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", 2.5)], "id long, v string, score double"
        )
    )
    t.add_constraint("pos_score", "score >= 0")
    with pytest.raises(ValueError, match="pos_score"):
        t.drop_columns("score")
    t.drop_constraint("pos_score")
    with pytest.raises(ValueError, match="cluster_by"):
        t.drop_columns(["id"])
    with pytest.raises(ValueError, match="not in schema"):
        t.drop_columns("nope")
    files_before = t.snapshot()[1]["files"]
    v = t.drop_columns("score")
    _, man = t.snapshot()
    assert man["files"] == files_before  # nothing rewritten
    assert t.read().columns == ["id", "v"]
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    assert all(
        "score" not in s.get("min", {}) for s in man["stats"].values()
    )
    # time travel still sees the column
    assert t.read(version=v - 1).columns == ["id", "v", "score"]
    # appends no longer need (or accept) the column
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    with pytest.raises(ValueError, match="mismatch"):
        t.append(
            spark.createDataFrame([(4, "d", 9.0)], "id long, v string, score double")
        )
    # r11 column mapping: re-adding the dropped name is now SAFE — the
    # newcomer gets a fresh physical name, so pre-drop 'score' bytes in
    # old files stay dead (null) instead of resurrecting
    t.append(
        spark.createDataFrame(
            [(4, "d", 9.0)], "id long, v string, score double"
        ),
        evolve_schema=True,
    )
    by_id = {r.id: r.score for r in t.read().collect()}
    assert by_id[4] == 9.0
    assert all(by_id[i] is None for i in by_id if i != 4)
    # but a FRESH name still evolves fine (score stays from the re-add)
    t.merge(
        spark.createDataFrame([(5, "e", 7)], "id long, v string, rank long"),
        "id",
        evolve_schema=True,
    )
    assert t.read().columns == ["id", "v", "score", "rank"]


def test_lakehouse_stream_merge_into_partitioned_table(spark, tmp_path):
    """Composition: a stream upserts exactly-once into a PARTITIONED
    table (policy passed via table_kwargs for the bootstrapping epoch,
    inherited thereafter) — hive layout on every epoch's files,
    partition stats injected, replay still a no-op."""
    from data_finder_comparator_spark.streaming.pipeline import (
        stream_merge_into_table,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "en", "v1"), (2, "de", "v1")], "id long, lang string, k string"
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(2, "de", "v2"), (3, "fr", "v2")], "id long, lang string, k string"
    ).coalesce(1).write.parquet(str(src / "f1"))
    stream = (
        spark.readStream.schema("id long, lang string, k string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    t = stream_merge_into_table(
        stream,
        str(tmp_path / "tbl"),
        "id",
        "evt-job",
        str(tmp_path / "ckpt"),
        table_kwargs={"partition_by": ["lang"]},
    )
    assert t.partition_by == ["lang"]
    _, man = t.snapshot()
    assert all("lang=" in rel for rel in man["files"])
    state = {(r.id, r.lang, r.k) for r in t.read().collect()}
    assert state == {(1, "en", "v1"), (2, "de", "v2"), (3, "fr", "v2")}
    # replay of epoch 1 is still a no-op on the partitioned table
    v = t.current_version()
    t.merge(
        spark.createDataFrame(
            [(2, "de", "v2"), (3, "fr", "v2")], "id long, lang string, k string"
        ),
        "id",
        txn_app="evt-job",
        txn_version=1,
    )
    assert t.current_version() == v
    # pruned read after streaming: only the de partition
    assert {r.id for r in t.read(prune={"lang": ("de", "de")}).collect()} >= {2}


def test_lakehouse_partition_filter_pushes_into_scan(spark, tmp_path):
    """A plain .filter on a partition column of read() reaches the
    scan as a PartitionFilter (directory-level pruning inside Spark,
    on top of read(prune)'s manifest-level skip) and the column is
    pruned from ReadSchema — Catalyst treats the reconstructed hive
    column as a true partition column, which is the point of reading
    per-txn with basePath instead of withColumn(lit) patches."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), partition_by=["lang"])
    t.append(
        spark.createDataFrame(
            [(i, ["en", "de", "fr"][i % 3], f"v{i}") for i in range(30)],
            "id long, lang string, v string",
        )
    )
    df = t.read().filter(F.col("lang") == "de")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "PartitionFilters: [isnotnull(lang" in scan and "= de)" in scan
    assert "lang" not in scan.split("ReadSchema:")[1]
    assert df.count() == 10


def test_lakehouse_detail(spark, tmp_path):
    """DESCRIBE DETAIL: the one-manifest table card."""
    t = TransactionalTable(
        spark, str(tmp_path / "tbl"), partition_by=["lang"], bloom_col="v"
    )
    t.append(
        spark.createDataFrame(
            [(1, "en", "a"), (2, "de", "b")], "id long, lang string, v string"
        )
    )
    t.add_constraint("id_pos", "id > 0")
    d = t.detail()
    assert d["version"] == 2 and d["num_files"] == 2
    assert d["num_rows"] == 2 and d["size_bytes"] > 0
    assert d["partition_by"] == ["lang"] and d["bloom_col"] == "v"
    assert d["constraints"] == {"id_pos": "id > 0"}
    assert d["dropped_columns"] == []


def test_lakehouse_timestamp_as_of(spark, tmp_path):
    """TIMESTAMP AS OF: read(timestamp=) resolves to the newest commit
    at or before the instant; before-the-table refuses; version and
    timestamp together refuse."""
    import time as _time

    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    before = _time.time() - 1.0
    t.merge(spark.createDataFrame([(1, "a")], "id long, v string"), "id")
    mid = _time.time()
    _time.sleep(0.01)
    t.merge(spark.createDataFrame([(1, "A2"), (2, "b")], "id long, v string"), "id")
    assert t.version_at(mid) == 1
    assert _rows(t.read(timestamp=mid)) == [(1, "a")]
    assert _rows(t.read(timestamp=_time.time())) == [(1, "A2"), (2, "b")]
    with pytest.raises(ValueError, match="no snapshot"):
        t.read(timestamp=before)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, timestamp=mid)


def test_lakehouse_multi_column_partitioning(spark, tmp_path):
    """Two partition columns nest as source=<s>/lang=<l> directories;
    both values ride the stats, conjunctive pruning composes, CDC
    works across the nested layout, and merge respects both levels."""
    t = TransactionalTable(
        spark, str(tmp_path / "tbl"), partition_by=["source", "lang"]
    )
    rows = [
        (i, ["web", "pdf"][i % 2], ["en", "de"][(i // 2) % 2], f"v{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, source string, lang string, v string")
    t.append(df)
    _, man = t.snapshot()
    assert all("source=" in r and "lang=" in r for r in man["files"])
    s = man["stats"][man["files"][0]]
    assert set(s["partition"]) == {"source", "lang"}
    assert _rows(t.read()) == _rows(df)
    # conjunctive partition prune: exactly one (source, lang) cell
    got = t.read(prune={"source": ("web", "web"), "lang": ("de", "de")})
    assert {(r.source, r.lang) for r in got.collect()} == {("web", "de")}
    assert got.count() == 10
    # merge keyed on id still lands rows in the right directories
    t.merge(
        spark.createDataFrame(
            [(2, "web", "de", "UP")], "id long, source string, lang string, v string"
        ),
        "id",
    )
    assert (2, "web", "de", "UP") in _rows(t.read())
    ch = {(r.id, r._change_type) for r in t.changes("id", 1, 2).collect()}
    assert ch == {(2, "update_pre"), (2, "update_post")}


def test_lakehouse_partition_values_needing_uri_escape(spark, tmp_path):
    """Partition values with spaces survive the whole verb set:
    input_file_name() returns URI-encoded paths ('New%20York') while
    the manifest rels hold raw directory names — hit detection decodes
    before matching, or merges duplicate the key and deletes no-op."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), partition_by=["city"])
    t.append(
        spark.createDataFrame(
            [(1, "New York", "a"), (2, "Sao Paulo", "b"), (3, "Paris", "c")],
            "id long, city string, v string",
        )
    )
    t.merge(
        spark.createDataFrame([(1, "New York", "UP")], "id long, city string, v string"),
        "id",
    )
    rows = _rows(t.read())
    assert rows == [(1, "New York", "UP"), (2, "Sao Paulo", "b"), (3, "Paris", "c")]
    assert t.delete(
        spark.createDataFrame([(2,)], "id long"), "id"
    ) == t.current_version()
    assert _rows(t.read()) == [(1, "New York", "UP"), (3, "Paris", "c")]


def test_lakehouse_bootstrap_policy_race_refused(spark, tmp_path):
    """A handle constructed while the table was EMPTY must not commit
    over a concurrent bootstrapper's different partition policy — it
    would flip the committed partition_by and read the winner's hive
    files with NULL partition columns. Refused loudly instead."""
    path = str(tmp_path / "tbl")
    stale = TransactionalTable(spark, path)  # table does not exist yet
    winner = TransactionalTable(spark, path, partition_by=["lang"])
    winner.append(
        spark.createDataFrame([(1, "en", "a")], "id long, lang string, v string")
    )
    with pytest.raises(ValueError, match="partition policy conflict"):
        stale.merge(
            spark.createDataFrame(
                [(2, "de", "b")], "id long, lang string, v string"
            ),
            "id",
        )
    # table intact, policy intact
    assert TransactionalTable(spark, path).partition_by == ["lang"]
    assert _rows(winner.read()) == [(1, "en", "a")]


def test_lakehouse_restore_refuses_orphaned_constraint(spark, tmp_path):
    """Restoring to a schema that predates a column a CURRENT CHECK
    constraint references is refused with the fix spelled out —
    otherwise every later write dies in an AnalysisException."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.merge(
        spark.createDataFrame([(1, 5.0)], "id long, score double"),
        "id",
        evolve_schema=True,
    )
    t.add_constraint("score_pos", "score >= 0")
    with pytest.raises(ValueError, match="score_pos"):
        t.restore(1)
    t.drop_constraint("score_pos")
    assert t.restore(1) > 0
    assert t.read().columns == ["id"]


def test_lakehouse_vacuum_spares_fresh_staging_dirs(spark, tmp_path):
    """Directory removal honors the retention window like file removal
    does: a just-created (empty) staging dir of an in-flight writer
    survives a retention-window vacuum; an OLD empty dir is reclaimed."""
    import os as _os
    import time as _time

    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    data = tmp_path / "tbl" / "data"
    fresh = data / "txn-inflight" / "_temporary"
    fresh.mkdir(parents=True)
    old = data / "txn-stale" / "lang=xx"
    old.mkdir(parents=True)
    past = _time.time() - 7 * 24 * 3600
    _os.utime(old, (past, past))
    _os.utime(old.parent, (past, past))
    t.vacuum(retention_seconds=3600)
    assert fresh.exists()  # in-flight writer's staging dir untouched
    assert not old.exists()  # stale empty leaf reclaimed
    # removing the leaf refreshed the parent's mtime, so the parent
    # waits for a LATER vacuum's window — lazy but safe; prove a
    # zero-retention pass (quiesced-writers mode) finishes the job
    t.vacuum(retention_seconds=0)
    assert not old.parent.exists()
    assert _rows(t.read()) == [(1, "a")]


def test_lakehouse_sidecar_sweep_survives_dunder_names(spark, tmp_path):
    """Sidecar garbage collection forward-maps data files to sidecar
    names (no ambiguous inverse): live sidecars survive vacuum even
    when a partition COLUMN NAME contains the '__' join separator."""
    t = TransactionalTable(
        spark,
        str(tmp_path / "tbl"),
        partition_by=["event__day"],
        bloom_col="k",
    )
    t.append(
        spark.createDataFrame(
            [(5, "k1", "a"), (6, "k2", "b")], "event__day long, k string, v string"
        )
    )
    idx = tmp_path / "tbl" / "_index"
    before = sorted(p.name for p in idx.glob("*.bloom"))
    assert before, "bloom sidecars expected"
    t.vacuum(retention_seconds=0)
    assert sorted(p.name for p in idx.glob("*.bloom")) == before
    # and the bloom layer still answers (skip probes don't error)
    _, man = t.snapshot()
    assert any("bloom" in s for s in man["stats"].values())


def test_lakehouse_bloom_descriptor_records_indexed_column(spark, tmp_path):
    """r10 ADVICE finding 1: a sidecar built on column A must never be
    probed with column-B values (false definitely-absent -> merge
    duplicates keys). The descriptor records its column; probes on any
    other column conservatively keep the file."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), bloom_col="k")
    t.append(
        spark.createDataFrame([("a", "x", 1), ("b", "y", 2)], "k string, v string, n long")
    )
    _, man = t.snapshot()
    rel = man["files"][0]
    desc = man["stats"][rel]["bloom"]
    assert desc["col"] == "k"
    st = man["stats"][rel]
    # probing the WRONG column never excludes, even for absent values
    assert not t._bloom_excludes(st, ["zzz-not-here"], "v")
    # probing the right column still proves absence
    assert t._bloom_excludes(st, ["zzz-not-here"], "k")
    # end-to-end: a handle switched to bloom_col="v" must not lose the
    # ("b","y") row to a stale col-"k" sidecar when merging on v
    t2 = TransactionalTable(spark, str(tmp_path / "tbl"), bloom_col="v")
    t2.merge(
        spark.createDataFrame([("b2", "y", 99)], "k string, v string, n long"), "v"
    )
    rows = {(r.k, r.v, r.n) for r in t2.read().collect()}
    assert rows == {("a", "x", 1), ("b2", "y", 99)}


def test_lakehouse_bloom_col_inherited_and_validated(spark, tmp_path):
    """r10 ADVICE finding 2: bloom_col persists in the manifest (a
    reopened handle passing none inherits it instead of silently
    dropping the index), and a typo'd bloom_col fails loudly at open
    instead of disabling sidecar builds forever."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"), bloom_col="k")
    t.append(spark.createDataFrame([("a", 1)], "k string, n long"))
    _, man = t.snapshot()
    assert man["bloom_col"] == "k"
    t2 = TransactionalTable(spark, str(tmp_path / "tbl"))
    assert t2.bloom_col == "k"  # inherited
    t2.append(spark.createDataFrame([("b", 2)], "k string, n long"))
    _, man2 = t2.snapshot()
    assert all("bloom" in s for s in man2["stats"].values())
    with pytest.raises(ValueError, match="bloom_col"):
        TransactionalTable(spark, str(tmp_path / "tbl"), bloom_col="nope")


def test_lakehouse_all_null_merge_keys_skip_stats_files(spark, tmp_path):
    """r10 ADVICE finding 4: an all-NULL incoming key set is a definite
    'nothing equi-matches' signal — every stats-bearing file is skipped
    (no exact scan), distinct from the no-signal unaggregatable case
    which keeps every candidate."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").coalesce(1)
    )
    v, man = t.snapshot()
    schema = t.read().schema
    null_keys = spark.createDataFrame([(None,)], "id long")
    assert t._hit_files_on(man, schema, null_keys, ["id"]) == []
    # unaggregatable key type (map): agg throws -> no signal -> every
    # candidate kept (conservative), not skipped
    kmin, kmax, has_signal = t._key_range(
        spark.createDataFrame([({"a": 1},)], "m map<string,int>"), "m"
    )
    assert (kmin, kmax, has_signal) == (None, None, False)


def test_lakehouse_ack_monotonic_under_lock(spark, tmp_path):
    """r10 ADVICE finding 3: ack's read-check-replace is serialized, so
    a delayed low-version retry can never rewind the cursor."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.ack("app", 5)
    t.ack("app", 3)  # stale retry: no-op
    assert t.consumer_cursor("app") == 5
    # concurrent acks from threads settle at the max, never rewind
    import threading

    def _ack(v):
        t.ack("app", v)

    threads = [threading.Thread(target=_ack, args=(v,)) for v in (7, 9, 8, 6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert t.consumer_cursor("app") == 9


def test_lakehouse_rename_column_mapping(spark, tmp_path):
    """r11 column mapping (Delta name-mode): RENAME COLUMN is a
    manifest-only commit — the field keeps its physical name, old and
    new files both read correctly, writes after the rename land under
    the stable physical name, time travel shows each version's own
    logical name, and CDC across the rename commit reports no row
    changes."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    v_rename = t.rename_column("v", "label")
    assert v_rename == 2
    got = t.read()
    assert got.columns == ["id", "label"]
    assert sorted((r.id, r.label) for r in got.collect()) == [(1, "a"), (2, "b")]
    # time travel: version 1 still reads under its own logical name
    assert t.read(version=1).columns == ["id", "v"]
    # writes after the rename: append + merge use the logical name but
    # store the pinned physical, so every file in the table stays
    # consistent
    t.append(spark.createDataFrame([(3, "c")], "id long, label string"))
    t.merge(spark.createDataFrame([(2, "B")], "id long, label string"), "id")
    rows = sorted((r.id, r.label) for r in t.read().collect())
    assert rows == [(1, "a"), (2, "B"), (3, "c")]
    # physical name pinned in the manifest schema metadata
    _, man = t.snapshot()
    fields = {f["name"]: f for f in json.loads(man["schema"])["fields"]}
    assert fields["label"]["metadata"]["physical"] == "v"
    # the rename commit itself changes no rows
    assert t.changes("id", from_version=1, to_version=v_rename).count() == 0
    # refusals
    with pytest.raises(ValueError, match="column exists"):
        t.rename_column("id", "label")
    with pytest.raises(ValueError, match="not in schema"):
        t.rename_column("nope", "x")
    t.add_constraint("pos_id", "id > 0")
    with pytest.raises(ValueError, match="constraint"):
        t.rename_column("id", "ident")
    t2 = TransactionalTable(spark, str(tmp_path / "tbl2"), cluster_by=["id"])
    t2.append(spark.createDataFrame([(1, "x")], "id long, v string"))
    with pytest.raises(ValueError, match="cluster_by"):
        t2.rename_column("id", "key")


def test_lakehouse_drop_then_readd_never_resurrects(spark, tmp_path):
    """r11: with column mapping, re-adding a dropped name is ALLOWED
    and safe — the new field gets a fresh physical name, so the old
    files' stale bytes (proven to still exist by reading a pre-drop
    parquet file directly) can never resurrect as live data."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(
            [(1, "OLD-1"), (2, "OLD-2")], "id long, secret string"
        ).coalesce(1)
    )
    _, man1 = t.snapshot()
    assert len(man1["files"]) == 1
    old_rel = man1["files"][0]
    t.drop_columns("secret")
    # re-add the SAME logical name via additive evolution
    t.append(
        spark.createDataFrame([(3, "NEW-3")], "id long, secret string"),
        evolve_schema=True,
    )
    rows = {r.id: r.secret for r in t.read().collect()}
    # old rows read NULL (their physical 'secret' is a ghost), never 'OLD'
    assert rows == {1: None, 2: None, 3: "NEW-3"}
    # the stale bytes really are still in the old file — mapping is
    # what keeps them dead, not their absence
    raw = spark.read.parquet(str(tmp_path / "tbl" / "data" / old_rel))
    assert "secret" in raw.columns
    assert sorted(r.secret for r in raw.collect()) == ["OLD-1", "OLD-2"]
    # and the re-added field's physical name is fresh
    _, man = t.snapshot()
    fields = {f["name"]: f for f in json.loads(man["schema"])["fields"]}
    phys = fields["secret"]["metadata"]["physical"]
    assert phys != "secret" and phys.startswith("secret-")
    # merge on the re-added column's table still works end to end
    t.merge(
        spark.createDataFrame([(3, "NEW-3b")], "id long, secret string"), "id"
    )
    assert {r.secret for r in t.read().filter(F.col("id") == 3).collect()} == {
        "NEW-3b"
    }


def test_lakehouse_rename_then_readd_old_name(spark, tmp_path):
    """r11: renaming a->b then evolve-adding a NEW column named 'a'
    must give the newcomer a fresh physical name (the live field b
    still owns physical 'a') — b keeps reading the original bytes and
    the new 'a' reads NULL for pre-evolution rows."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, 10.0)], "id long, a double"))
    t.rename_column("a", "b")
    t.append(
        spark.createDataFrame([(2, 20.0, 99.0)], "id long, b double, a double"),
        evolve_schema=True,
    )
    rows = {r.id: (r.b, r.a) for r in t.read().collect()}
    assert rows == {1: (10.0, None), 2: (20.0, 99.0)}
    _, man = t.snapshot()
    fields = {f["name"]: f for f in json.loads(man["schema"])["fields"]}
    assert fields["b"]["metadata"]["physical"] == "a"
    assert fields["a"]["metadata"]["physical"].startswith("a-")


def _register_lakehouse_source(spark):
    from data_finder_comparator_spark.sources.lakehouse_source import (
        LakehouseDataSource,
    )

    spark.dataSource.register(LakehouseDataSource)


def test_lakehouse_datasource_batch_snapshot(spark, tmp_path):
    """r11 Python Data Source: spark.read.format('lakehouse') plans one
    input partition per manifest file, honors time travel, hive
    partition values, and column mapping — all through Spark's own
    DSv2 path, matching TransactionalTable.read row-for-row."""
    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    t = TransactionalTable(spark, p, partition_by=["lang"])
    t.append(
        spark.createDataFrame(
            [(1, "en", 1.5), (2, "de", 2.5)], "id long, lang string, v double"
        )
    )
    t.append(spark.createDataFrame([(3, "en", 3.5)], "id long, lang string, v double"))
    t.rename_column("v", "score")
    t.append(
        spark.createDataFrame([(4, "fr", 4.5)], "id long, lang string, score double")
    )
    for _ in range(3):  # deterministic across replans
        df = spark.read.format("lakehouse").load(p)
        assert df.columns == ["id", "lang", "score", "_version", "_commit_op"]
        got = sorted((r.id, r.lang, r.score) for r in df.collect())
        assert got == [(1, "en", 1.5), (2, "de", 2.5), (3, "en", 3.5), (4, "fr", 4.5)]
    # row-for-row against the handle's own reader
    via_handle = sorted(map(tuple, t.read().collect()))
    via_source = sorted(
        map(tuple, spark.read.format("lakehouse").load(p).drop("_version", "_commit_op").collect())
    )
    assert via_source == via_handle
    # time travel reads that version's schema and rows
    old = spark.read.format("lakehouse").option("version", 1).load(p)
    assert old.columns == ["id", "lang", "v", "_version", "_commit_op"]
    assert sorted((r.id, r.v) for r in old.collect()) == [(1, 1.5), (2, 2.5)]


def test_lakehouse_datasource_stream_appends_exactly_once(spark, tmp_path):
    """r11 Python Data Source streaming: offsets are committed
    versions, append commits stream their new rows exactly once
    (checkpoint restart resumes, no re-delivery), optimize commits are
    skipped (rewrite-only), and a merge commit REFUSES without
    ignoreChanges, then streams its added files with it."""
    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    t = TransactionalTable(spark, p)
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))

    def run_stream(**opts):
        reader = spark.readStream.format("lakehouse")
        for k, val in opts.items():
            reader = reader.option(k, val)
        q = (
            reader.load(p)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()
    first = sorted((r.id, r._version) for r in spark.read.parquet(out).collect())
    assert first == [(1, 1), (2, 2)]
    # append + compaction while the stream is down; restart resumes
    # from the checkpointed version: new row once, optimize skipped
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    assert t.optimize(small_bytes=10**9) is not None
    run_stream()
    second = sorted((r.id, r._version) for r in spark.read.parquet(out).collect())
    assert second == [(1, 1), (2, 2), (3, 3)]
    # a merge commit: loud refusal without ignoreChanges...
    t.merge(spark.createDataFrame([(2, "B"), (9, "z")], "id long, v string"), "id")
    q = (
        spark.readStream.format("lakehouse")
        .load(p)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ignoreChanges"):
        q.awaitTermination()
    # ...and at-least-once delivery of the rewritten file with it:
    # v4's optimize packed everything into ONE file, so the merge
    # rewrote that file — its added files re-deliver the carried rows
    # alongside the changed ones (exactly the duplication the option
    # name warns about; Delta's ignoreChanges contract)
    run_stream(ignoreChanges="true")
    v5 = {(r.id, r.v) for r in spark.read.parquet(out).collect()
          if r._version == 5}
    assert {(2, "B"), (9, "z")} <= v5
    assert v5 == {(1, "a"), (2, "B"), (3, "c"), (9, "z")}


def test_lakehouse_datasource_batch_writer(spark, tmp_path):
    """r11 Python Data Source write side: df.write.format('lakehouse')
    bootstraps, appends (schema-checked), and INSERT OVERWRITEs as an
    atomic commit with time travel intact; layout-policy and
    constraint-bearing tables refuse (they need the engine's shuffle /
    a SparkSession) — TransactionalTable.append remains their path."""
    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.format(
        "lakehouse"
    ).mode("append").save(p)
    spark.createDataFrame([(3, "c")], "id long, v string").write.format(
        "lakehouse"
    ).mode("append").save(p)
    t = TransactionalTable(spark, p)
    assert t.current_version() == 2
    assert sorted(map(tuple, t.read().collect())) == [(1, "a"), (2, "b"), (3, "c")]
    with pytest.raises(Exception, match="mismatch"):
        spark.createDataFrame([(5,)], "id long").write.format("lakehouse").mode(
            "append"
        ).save(p)
    # atomic INSERT OVERWRITE: new schema, old snapshots intact
    spark.createDataFrame([(9, 1.5)], "id long, w double").write.format(
        "lakehouse"
    ).mode("overwrite").save(p)
    assert sorted(map(tuple, t.read().collect())) == [(9, 1.5)]
    assert sorted(map(tuple, t.read(version=2).collect())) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    # refusals: layout policy / constraints need the engine
    tp = TransactionalTable(spark, str(tmp_path / "part"), partition_by=["g"])
    tp.append(spark.createDataFrame([(1, "x")], "g string, v string"))
    with pytest.raises(Exception, match="partitioned"):
        spark.createDataFrame([(2, "y")], "g string, v string").write.format(
            "lakehouse"
        ).mode("append").save(str(tmp_path / "part"))
    tc = TransactionalTable(spark, str(tmp_path / "con"))
    tc.append(spark.createDataFrame([(1,)], "id long"))
    tc.add_constraint("pos", "id > 0")
    with pytest.raises(Exception, match="constraint"):
        spark.createDataFrame([(2,)], "id long").write.format("lakehouse").mode(
            "append"
        ).save(str(tmp_path / "con"))


def test_lakehouse_datasource_stream_writer_exactly_once(spark, tmp_path):
    """r11: writeStream.format('lakehouse') — each epoch commits under
    a (streamAppId, batchId) txn marker, so a full checkpoint-replay
    re-run commits nothing new (exactly-once table state, zero
    foreachBatch glue)."""
    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    src = tmp_path / "src"
    for i, rows in enumerate([[(1, "a")], [(2, "b")]]):
        spark.createDataFrame(rows, "id long, v string").coalesce(1).write.parquet(
            str(src / f"f{i}")
        )

    def run(ck):
        stream = (
            spark.readStream.schema("id long, v string")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src))
        )
        q = (
            stream.writeStream.format("lakehouse")
            .option("streamAppId", "ing")
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start(p)
        )
        q.awaitTermination()

    run("ck1")
    t = TransactionalTable(spark, p)
    v_after = t.current_version()
    rows = sorted(map(tuple, t.read().collect()))
    assert rows == [(1, "a"), (2, "b")]
    assert t.snapshot()[1]["txns"] == {"ing": 1}  # epochs 0 and 1
    # full replay from a FRESH checkpoint: same app id, same epoch ids
    # -> every commit is a recognized no-op
    run("ck2")
    assert t.current_version() == v_after
    assert sorted(map(tuple, t.read().collect())) == rows


def test_lakehouse_cluster_by_inherited_and_writer_refuses(spark, tmp_path):
    """r11: cluster_by rides the manifest like bloom_col — a reopened
    handle passing none inherits the policy (writes keep tight
    disjoint footer ranges instead of silently degrading the skipping
    stack), and the session-less external writer refuses clustered
    tables (range layout needs the engine's shuffle)."""
    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    t = TransactionalTable(spark, p, cluster_by=["id"])
    t.append(
        spark.createDataFrame([(i, "x") for i in range(100)], "id long, v string"),
        n_out=4,
    )
    t2 = TransactionalTable(spark, p)
    assert t2.cluster_by == ["id"]  # inherited
    t2.append(
        spark.createDataFrame(
            [(i, "y") for i in range(100, 200)], "id long, v string"
        ),
        n_out=4,
    )
    # the inherited policy kept the second write range-clustered:
    # its files carry disjoint id ranges
    _, man = t2.snapshot()
    stats = man["stats"]
    second = [r for r in man["files"] if stats[r]["min"]["id"] >= 100]
    spans = sorted((stats[r]["min"]["id"], stats[r]["max"]["id"]) for r in second)
    assert len(spans) >= 2
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo  # disjoint
    with pytest.raises(Exception, match="cluster_by"):
        spark.createDataFrame([(999, "z")], "id long, v string").write.format(
            "lakehouse"
        ).mode("append").save(p)


def test_lakehouse_overwrite_drops_orphaned_policies(spark, tmp_path):
    """r11 review finding 1: an external-writer overwrite whose schema
    lacks the bloom/cluster column must DROP that policy from the
    manifest instead of bricking the table (every later open would
    fail the policy-column typo check)."""
    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    t = TransactionalTable(spark, p, bloom_col="k", cluster_by=["k"])
    t.append(spark.createDataFrame([("a", 1)], "k string, n long"))
    spark.createDataFrame([(9, 1.5)], "id long, w double").write.format(
        "lakehouse"
    ).mode("overwrite").save(p)
    t2 = TransactionalTable(spark, p)  # must open cleanly
    assert t2.bloom_col is None and t2.cluster_by is None
    assert sorted(map(tuple, t2.read().collect())) == [(9, 1.5)]
    # time travel to the bloom era still works
    assert sorted(map(tuple, t2.read(version=1).collect())) == [("a", 1)]


def test_lakehouse_stream_writer_requires_app_id(spark, tmp_path):
    """r11 review finding 2: epoch batch ids restart at 0 per
    checkpoint, so with a shared default app id a SECOND pipeline's
    early epochs would silently no-op against the first's markers —
    the sink refuses to start without an explicit streamAppId."""
    _register_lakehouse_source(spark)
    src = tmp_path / "src"
    spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1).write.parquet(
        str(src / "f0")
    )
    stream = (
        spark.readStream.schema("id long, v string")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.format("lakehouse")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start(str(tmp_path / "tbl"))
    )
    with pytest.raises(Exception, match="streamAppId"):
        q.awaitTermination()


def test_lakehouse_datasource_stream_delete_only_commit_refuses(spark, tmp_path):
    """r11 review finding 3: a delete that removes whole files while
    adding none is still a data change — the stream must refuse it
    without ignoreChanges instead of silently skipping it."""
    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    t = TransactionalTable(spark, p)
    t.append(spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1))
    t.append(spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1))
    # delete EVERY row of file 2 -> survivors empty -> zero files added
    v = t.delete(spark.createDataFrame([(2,)], "id long"), "id")
    _, man = t.snapshot()
    assert man["op"] == "delete" and len(man["files"]) == 1
    q = (
        spark.readStream.format("lakehouse")
        .load(p)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ignoreChanges"):
        q.awaitTermination()
    # with the opt-in the stream proceeds (the removal itself has no
    # rows to emit; later commits flow again)
    q2 = (
        spark.readStream.format("lakehouse")
        .option("ignoreChanges", "true")
        .load(p)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out2"))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    # the opt-in stream emits each row at its APPEND version (1 and 2)
    # and nothing for the delete — removals are not representable in an
    # append-only stream, which is exactly why the default refuses
    got = sorted(r.id for r in spark.read.parquet(str(tmp_path / "out2")).collect())
    assert got == [1, 2]


def test_lakehouse_datasource_stream_starting_points(spark, tmp_path):
    """r11: startingVersion skips history; startingTimestamp is
    Delta-compatible (r12, r11 ADVICE): every commit at-or-AFTER the
    instant is included — a commit at exactly the instant streams —
    and a pre-history instant streams from the beginning instead of
    raising."""
    import time as _time

    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    t = TransactionalTable(spark, p)
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    cut = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))

    def run(tag, **opts):
        reader = spark.readStream.format("lakehouse")
        for k, val in opts.items():
            reader = reader.option(k, val)
        q = (
            reader.load(p)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out{tag}"))
            .option("checkpointLocation", str(tmp_path / f"ck{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            r.id for r in spark.read.parquet(str(tmp_path / f"out{tag}")).collect()
        )

    assert run("v", startingVersion="2") == [3]
    assert run("t", startingTimestamp=str(cut)) == [3]
    # Delta boundary semantics: an instant equal to a commit's own
    # timestamp INCLUDES that commit (exclusive start resolves to the
    # newest version strictly before it) ...
    ts3 = t.history()[-1]["ts"]
    assert run("eq", startingTimestamp=str(ts3)) == [3]
    # ... and a pre-history instant streams from the beginning rather
    # than raising (version_at would raise here)
    ts1 = t.history()[0]["ts"]
    assert run("pre", startingTimestamp=str(ts1 - 3600)) == [1, 2, 3]
    with pytest.raises(Exception, match="not both"):
        run("both", startingVersion="1", startingTimestamp=str(cut))


def test_lakehouse_datasource_history_metadata_table(spark, tmp_path):
    """r11: DESCRIBE HISTORY through the source —
    .option('metadata', 'history') reads one row per live manifest
    with op / file-count / txn-marker provenance, and expired
    snapshots drop out."""
    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    t = TransactionalTable(spark, p)
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.merge(
        spark.createDataFrame([(2, "b")], "id long, v string"),
        "id",
        txn_app="job",
        txn_version=7,
    )
    t.delete(spark.createDataFrame([(1,)], "id long"), "id")
    hist = spark.read.format("lakehouse").option("metadata", "history").load(p)
    rows = {r.version: r for r in hist.collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[1].op == "append" and rows[2].op == "merge"
    assert rows[2].txn_app == "job" and rows[2].txn_version == 7
    assert rows[3].op == "delete" and rows[3].parent == 2
    assert all(r.n_files >= 1 for r in rows.values())
    t.expire_snapshots(keep_last=1)
    left = [r.version for r in
            spark.read.format("lakehouse").option("metadata", "history").load(p).collect()]
    assert left == [3]


def test_lakehouse_datasource_writer_refuses_on_mapping_race(spark, tmp_path):
    """r12 (r11 ADVICE, medium): a drop-then-re-add of a column BETWEEN
    write planning and commit keeps the logical schema identical (same
    names/types — the compatibility check passes) while retiring the
    physical name the staged files were written under; committing them
    would read that column back as all-NULL. The engine's append()
    restages on this race; the session-less external writer cannot, so
    the commit must refuse and leave the staged files as vacuum
    orphans."""
    import pyarrow as pa

    from data_finder_comparator_spark.sources.lakehouse_source import (
        _BatchWriter,
    )

    p = str(tmp_path / "tbl")
    t = TransactionalTable(spark, p)
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    inc = spark.createDataFrame([(2, "b")], "id long, v string").schema
    w = _BatchWriter(p, inc, overwrite=False)  # plans under physical 'v'
    msg = w.write(
        iter([pa.record_batch([pa.array([2], pa.int64()), pa.array(["b"])],
                              names=["id", "v"])])
    )
    # the race: same logical name + type, fresh physical name
    t.drop_columns("v")
    t.append(
        spark.createDataFrame([(3, "c")], "id long, v string"),
        evolve_schema=True,
    )
    with pytest.raises(ValueError, match="column mapping changed"):
        w.commit([msg])
    # refused commit left table state untouched: row 1's v was dropped
    # (reads null), row 3 carries the re-added column, row 2 never landed
    assert sorted(map(tuple, t.read().collect())) == [(1, None), (3, "c")]
    # sanity: absent the race, the same staged-write path commits fine
    w2 = _BatchWriter(p, inc, overwrite=False)
    msg2 = w2.write(
        iter([pa.record_batch([pa.array([4], pa.int64()), pa.array(["d"])],
                              names=["id", "v"])])
    )
    w2.commit([msg2])
    assert sorted(map(tuple, t.read().collect())) == [
        (1, None),
        (3, "c"),
        (4, "d"),
    ]


def test_lakehouse_full_lifecycle_on_memory_store(spark, tmp_path):
    """r12 (r11 verdict item 2): the FULL table lifecycle — clustered +
    Bloom bootstrap, schema-evolved append, point merge, keyed delete,
    CDC checkpointed consumer, time travel, optimize, expire + vacuum,
    exactly-once streaming upsert — end to end against MemoryStore with
    ZERO os-path IO under the table path. The data plane (parquet
    encode/decode, footer stats, Bloom builds) routes through the
    storage seam exactly like the control plane has since r11; the
    table 'path' is a pure label whose directory must never exist."""
    import os

    from data_finder_comparator_spark.sinks.storage import MemoryStore
    from data_finder_comparator_spark.streaming.pipeline import (
        stream_merge_into_table,
    )

    store = MemoryStore()
    label = str(tmp_path / "never-on-disk")
    t = TransactionalTable(
        spark, label, store=store, cluster_by=["id"], bloom_col="id"
    )
    base = spark.range(0, 400).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    t.append(base, n_out=4)
    assert t.read().count() == 400
    _, man = t.snapshot()
    # footer stats AND Bloom sidecars were built from store bytes; the
    # clustered write produced multiple files with tight ranges
    assert len(man["files"]) == 4
    assert all("bloom" in s for s in man["stats"].values())
    assert all(
        s["min"]["id"] <= s["max"]["id"] for s in man["stats"].values()
    )
    # schema evolution: new column, old files read back as null
    t.append(
        spark.createDataFrame(
            [(1000, 1, "x", 9.5)], "id long, grp long, v string, w double"
        ),
        evolve_schema=True,
    )
    got = {r.id: r.w for r in t.read().collect()}
    assert got[1000] == 9.5 and got[3] is None
    # point merge (update + insert) — Bloom/footer skipping consults
    # store bytes; then a keyed band delete
    t.merge(
        spark.createDataFrame(
            [(5, 99, "upd", 1.0), (2000, 0, "new", 2.0)],
            "id long, grp long, v string, w double",
        ),
        "id",
    )
    rows = {r.id: (r.grp, r.v) for r in t.read().collect()}
    assert rows[5] == (99, "upd") and rows[2000] == (0, "new")
    assert t.read().count() == 400 + 2  # the merge did NOT duplicate key 5
    # CDC consumer bootstraps (cursor 0 -> full snapshot as inserts)...
    poll = t.consume_changes("mem-lifecycle", "id")
    kinds = {
        r["_change_type"] for r in poll["frame"].select("_change_type").collect()
    }
    assert kinds == {"insert"}
    t.ack("mem-lifecycle", poll["to_version"])
    # ... then a keyed band delete, whose incremental poll carries
    # delete rows (hit detection over store bytes)
    t.delete(
        t.read().filter(F.col("id").between(100, 199)).select("id"), "id"
    )
    assert t.read().filter(F.col("id").between(100, 199)).count() == 0
    n_live = t.read().count()
    assert n_live == 400 + 1 + 1 - 100
    poll = t.consume_changes("mem-lifecycle", "id")
    kinds = {
        r["_change_type"] for r in poll["frame"].select("_change_type").collect()
    }
    assert kinds == {"delete"}
    t.ack("mem-lifecycle", poll["to_version"])
    assert t.consume_changes("mem-lifecycle", "id")["frame"] is None
    # time travel
    assert t.read(version=1).count() == 400
    # optimize: compact everything small into the clustered layout
    v_before_opt = t.current_version()
    t.optimize(small_bytes=1 << 30)
    assert t.current_version() == v_before_opt + 1
    assert t.read().count() == n_live
    # expire + vacuum actually remove retired OBJECTS from the store
    n_objects_before = len(store._objects)
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum(retention_seconds=0)
    assert removed and len(store._objects) < n_objects_before
    assert t.read().count() == n_live
    # exactly-once streaming upsert into the same store-backed table
    src = tmp_path / "stream_src"
    spark.createDataFrame(
        [(3000, 3, "s1", 0.5), (5, 5, "s-upd", 0.7)],
        "id long, grp long, v string, w double",
    ).write.parquet(str(src))
    stream = spark.readStream.schema(
        "id long, grp long, v string, w double"
    ).parquet(str(src))
    stream_merge_into_table(
        stream,
        label,
        "id",
        txn_app="mem-stream",
        checkpoint=str(tmp_path / "ck"),
        table_kwargs={"store": store},
    )
    final = {r.id: r.v for r in t.read().collect()}
    assert final[3000] == "s1" and final[5] == "s-upd"
    # THE claim: nothing under the table label ever touched a filesystem
    assert not os.path.exists(label)


def test_lakehouse_full_lifecycle_on_http_store(spark, tmp_path, monkeypatch):
    """r13 (r12 verdict item 3): the full-lifecycle twin of the
    MemoryStore test, against a store that speaks an ACTUAL network
    protocol — a loopback HTTP object server with ranged GET and
    If-None-Match PUT. supports_spark_io is False (no JVM connector),
    but the store is worker-addressable via its picklable spec(), so
    the data plane runs parquet encode/decode + store IO in EXECUTOR
    tasks: the driver relay is asserted NEVER taken (zero driver-side
    data bytes), and zero os-path IO happens under the table label.
    'Table on S3/GCS' is hereby demonstrated, not argued."""
    import os

    from data_finder_comparator_spark.sinks.storage import (
        HttpStore,
        MemoryStore,
        serve_store_http,
    )
    from data_finder_comparator_spark.streaming.pipeline import (
        stream_merge_into_table,
    )

    def _no_relay(*a, **k):
        raise AssertionError(
            "driver relay route taken on a worker-addressable store"
        )

    monkeypatch.setattr(
        TransactionalTable, "_relay_write_data_files", _no_relay
    )
    monkeypatch.setattr(TransactionalTable, "_relay_read_rels", _no_relay)

    backing = MemoryStore()
    server, base = serve_store_http(backing)
    try:
        store = HttpStore(base)
        label = str(tmp_path / "never-on-disk-http")
        t = TransactionalTable(
            spark, label, store=store, cluster_by=["id"], bloom_col="id"
        )
        base_df = spark.range(0, 400).select(
            F.col("id"),
            (F.col("id") % 7).alias("grp"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
        )
        t.append(base_df, n_out=4)
        assert t.read().count() == 400
        _, man = t.snapshot()
        assert len(man["files"]) == 4
        assert all("bloom" in s for s in man["stats"].values())
        # schema evolution: new column, old files read back as null
        t.append(
            spark.createDataFrame(
                [(1000, 1, "x", 9.5)], "id long, grp long, v string, w double"
            ),
            evolve_schema=True,
        )
        got = {r.id: r.w for r in t.read().collect()}
        assert got[1000] == 9.5 and got[3] is None
        # point merge — hit detection's exact scan runs the
        # distributed store read (provenance column from executors)
        t.merge(
            spark.createDataFrame(
                [(5, 99, "upd", 1.0), (2000, 0, "new", 2.0)],
                "id long, grp long, v string, w double",
            ),
            "id",
        )
        rows = {r.id: (r.grp, r.v) for r in t.read().collect()}
        assert rows[5] == (99, "upd") and rows[2000] == (0, "new")
        assert t.read().count() == 400 + 2
        # CDC consumer (cursor writes = unconditional PUTs over the
        # wire, serialized under the conditional-PUT spin lock)
        poll = t.consume_changes("http-lifecycle", "id")
        kinds = {
            r["_change_type"]
            for r in poll["frame"].select("_change_type").collect()
        }
        assert kinds == {"insert"}
        t.ack("http-lifecycle", poll["to_version"])
        t.delete(
            t.read().filter(F.col("id").between(100, 199)).select("id"), "id"
        )
        n_live = t.read().count()
        assert n_live == 400 + 1 + 1 - 100
        poll = t.consume_changes("http-lifecycle", "id")
        kinds = {
            r["_change_type"]
            for r in poll["frame"].select("_change_type").collect()
        }
        assert kinds == {"delete"}
        t.ack("http-lifecycle", poll["to_version"])
        # time travel + optimize + expire/vacuum over the wire
        assert t.read(version=1).count() == 400
        v_before_opt = t.current_version()
        t.optimize(small_bytes=1 << 30)
        assert t.current_version() == v_before_opt + 1
        assert t.read().count() == n_live
        n_objects_before = len(backing._objects)
        t.expire_snapshots(keep_last=1)
        removed = t.vacuum(retention_seconds=0)
        assert removed and len(backing._objects) < n_objects_before
        assert t.read().count() == n_live
        # exactly-once streaming upsert into the network-store table
        src = tmp_path / "stream_src_http"
        spark.createDataFrame(
            [(3000, 3, "s1", 0.5), (5, 5, "s-upd", 0.7)],
            "id long, grp long, v string, w double",
        ).write.parquet(str(src))
        stream = spark.readStream.schema(
            "id long, grp long, v string, w double"
        ).parquet(str(src))
        stream_merge_into_table(
            stream,
            label,
            "id",
            txn_app="http-stream",
            checkpoint=str(tmp_path / "ck_http"),
            table_kwargs={"store": store},
        )
        final = {r.id: r.v for r in t.read().collect()}
        assert final[3000] == "s1" and final[5] == "s-upd"
        # THE claims: no filesystem under the label, no relay taken
        # (monkeypatched to raise), and reads are genuinely RANGED —
        # a tail probe on a 100 KB object crosses the wire as 8 bytes,
        # not the object (the table's own files here are footer-sized,
        # so they can't discriminate ranged from full GETs)
        assert not os.path.exists(label)
        backing.put("probe/ranged.bin", bytes(100_000))
        fh = store.open_read("probe/ranged.bin")
        fh.seek(-8, 2)
        assert fh.read() == bytes(8)
        assert fh.bytes_fetched == 8
        # and a parquet footer probe works over the ranged reader
        import pyarrow.parquet as pq

        pf = store.open_read(f"data/{sorted(backing.list('data'))[0]}")
        assert pq.ParquetFile(pf).metadata.num_rows > 0
    finally:
        server.shutdown()


def test_lakehouse_datasource_on_http_store(spark, tmp_path):
    """r13: the DSv2 surface against the network store —
    .option('storeSpec', <json>) rebuilds the store client at planning
    time, workers dial it from the shipped spec, and batch read /
    batch write / streaming read all run with zero os-path IO under
    the table label. 'Table on S3' through spark.read, demonstrated."""
    import json as _json
    import os

    from data_finder_comparator_spark.sinks.storage import (
        HttpStore,
        MemoryStore,
        serve_store_http,
    )

    _register_lakehouse_source(spark)
    backing = MemoryStore()
    server, base = serve_store_http(backing)
    try:
        store = HttpStore(base)
        spec_json = _json.dumps(store.spec())
        label = str(tmp_path / "http-dsv2")
        t = TransactionalTable(spark, label, store=store)
        t.append(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        )
        # batch read through Spark's planner: one partition per
        # manifest file, workers GET over the wire
        df = (
            spark.read.format("lakehouse")
            .option("storeSpec", spec_json)
            .load(label)
        )
        assert sorted(
            (r.id, r.v) for r in df.drop("_version", "_commit_op").collect()
        ) == [(1, "a"), (2, "b")]
        # batch write: tasks PUT their own staged files; driver commits
        spark.createDataFrame([(3, "c")], "id long, v string").write.format(
            "lakehouse"
        ).option("storeSpec", spec_json).mode("append").save(label)
        assert sorted(map(tuple, t.read().collect())) == [
            (1, "a"),
            (2, "b"),
            (3, "c"),
        ]
        # streaming read over the wire: both committed versions arrive
        out = str(tmp_path / "http-stream-out")
        q = (
            spark.readStream.format("lakehouse")
            .option("storeSpec", spec_json)
            .load(label)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "http-ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert sorted((r.id, r.v) for r in got.select("id", "v").collect()) == [
            (1, "a"),
            (2, "b"),
            (3, "c"),
        ]
        assert not os.path.exists(label)
    finally:
        server.shutdown()


def test_lakehouse_datasource_filter_pushdown_prunes_files(spark, tmp_path):
    """The DSv2 reader's opt-in file-skipping pushdown (r13): with
    spark.sql.python.filterPushdown.enabled and
    .option('filterPushdown','true'), null-rejecting filters prune the
    planned file list by manifest footer ranges — a point/band read of
    a range-clustered table opens 1-2 of 16 files — while every pushed
    filter is re-applied by Spark, so results are identical to the
    unpruned read. IsNull and no-stats columns never prune."""
    from data_finder_comparator_spark.sources.lakehouse_source import (
        LakehouseDataSource,
        _PruningSnapshotReader,
    )
    from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNull, LessThan

    spark.dataSource.register(LakehouseDataSource)
    path = str(tmp_path / "tbl")
    t = TransactionalTable(spark, path, cluster_by=["id"])
    t.append(
        spark.range(0, 1600).select(
            F.col("id"), (F.col("id") % 7).alias("grp")
        ),
        n_out=16,
    )
    n_files = len(t.snapshot()[1]["files"])
    assert n_files == 16

    # unit level: pushFilters -> bounds -> pruned partitions
    r = _PruningSnapshotReader(path, None)
    returned = r.pushFilters([EqualTo(("id",), 500)])
    assert len(list(returned)) == 1  # everything back: Spark re-applies
    assert len(r.partitions()) <= 2
    r.pushFilters([GreaterThan(("id",), 1500)])
    assert len(r.partitions()) <= 2
    r.pushFilters([LessThan(("id",), -5)])
    assert len(r.partitions()) == 0  # nothing can match
    r.pushFilters([In(("id",), (3, 5, None))])  # NULL never matches IN
    assert len(r.partitions()) <= 2
    r.pushFilters([IsNull(("id",))])  # stats exclude nulls: no pruning
    assert len(r.partitions()) == n_files
    r.pushFilters([EqualTo(("grp",), 3)])  # every file holds every grp
    assert len(r.partitions()) == n_files

    # e2e: Spark plans through pushFilters and answers identically
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        base = spark.read.format("lakehouse").load(path)
        want = sorted(
            (x.id, x.grp)
            for x in base.filter("id between 495 and 505").collect()
        )
        pruned = (
            spark.read.format("lakehouse")
            .option("filterPushdown", "true")
            .load(path)
            .filter("id between 495 and 505")
        )
        assert sorted((x.id, x.grp) for x in pruned.collect()) == want
        assert len(want) == 11
        # an impossible predicate reads zero files, zero rows
        assert (
            spark.read.format("lakehouse")
            .option("filterPushdown", "true")
            .load(path)
            .filter("id = -1")
            .count()
            == 0
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def test_lakehouse_datasource_reads_empty_snapshot(spark, tmp_path):
    """An all-rows-deleted snapshot has an empty file list, which
    Spark's planner represents as one None partition — the read must
    yield zero rows with the committed schema, not crash (latent until
    the pruning reader made empty plans routine)."""
    from data_finder_comparator_spark.sources.lakehouse_source import (
        LakehouseDataSource,
    )

    spark.dataSource.register(LakehouseDataSource)
    path = str(tmp_path / "tbl")
    t = TransactionalTable(spark, path)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.delete(spark.createDataFrame([(1,), (2,)], "id long"), "id")
    assert t.snapshot()[1]["files"] == []
    df = spark.read.format("lakehouse").load(path)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields][:2] == ["id", "v"]


def test_lakehouse_datasource_pushdown_bloom_layer(spark, tmp_path):
    """Under the footer ranges sits the Bloom sidecar layer: a pushed
    point probe (=, IN) on the table's bloom_col drops files whose
    sidecar proves every probed key absent — the case ranges cannot
    see (an even-keys file's range covers every odd key). Probes on
    other columns or sidecar-less files never prune."""
    from data_finder_comparator_spark.sources.lakehouse_source import (
        LakehouseDataSource,
        _PruningSnapshotReader,
    )
    from pyspark.sql.datasource import EqualTo, In

    spark.dataSource.register(LakehouseDataSource)
    path = str(tmp_path / "tbl")
    t = TransactionalTable(spark, path, cluster_by=["id"], bloom_col="id")
    t.append(  # even keys only: every odd key is in-range but absent
        spark.range(0, 1600).select(
            (F.col("id") * 2).alias("id"), (F.col("id") % 7).alias("grp")
        ),
        n_out=8,
    )
    r = _PruningSnapshotReader(path, None)
    r.pushFilters([EqualTo(("id",), 501)])  # odd: range hits, Bloom kills
    assert len(r.partitions()) == 0
    r.pushFilters([EqualTo(("id",), 500)])  # even: present, 1 file
    assert len(r.partitions()) == 1
    r.pushFilters([In(("id",), (501, 777))])  # all absent -> 0
    assert len(r.partitions()) == 0
    r.pushFilters([In(("id",), (501, 500))])  # one present -> keep
    assert len(r.partitions()) == 1
    r.pushFilters([EqualTo(("grp",), 3)])  # not the bloom col: no prune
    assert len(r.partitions()) == 8
    # e2e answer with the Bloom-killed plan is a correct empty result
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format("lakehouse")
            .option("filterPushdown", "true")
            .load(path)
            .filter("id = 501")
            .count()
        )
        assert got == 0
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def test_lakehouse_merge_no_hit_schema_mismatch_refuses(spark, tmp_path):
    """A merge whose keys hit NO existing file previously wrote the
    incoming frame as-is: a column typo committed files whose data
    read back as silent NULLs. merge now runs append's schema check
    (exact columns, order/nullability-insensitive) unless
    evolve_schema opts into additive evolution."""
    t = TransactionalTable(spark, str(tmp_path / "tbl"))
    t.merge(
        spark.createDataFrame([(1, "a")], "id long, val string"), "id"
    )
    bad = spark.createDataFrame([(9, "x")], "id long, vall string")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge(bad, "id")
    # order difference alone stays fine; evolution path unaffected
    t.merge(
        spark.createDataFrame([("b", 2)], "val string, id long"), "id"
    )
    t.merge(
        spark.createDataFrame([(3, "c", 1.5)], "id long, val string, w double"),
        "id",
        evolve_schema=True,
    )
    got = {(r.id, r.val) for r in t.read().select("id", "val").collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_lakehouse_vacuum_spares_checkpoint_referenced_files(spark, tmp_path):
    """A retained manifest checkpoint is a reader: files its entries
    name must survive vacuum even when no live manifest references
    them, or the checkpoint-served catch-up below the expiry cutoff
    reads deleted files."""
    t = TransactionalTable(
        spark, str(tmp_path / "tbl"), checkpoint_interval=2
    )
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"r{i}")], "id long, v string"))
    # merge rewrites every file AFTER the v4 checkpoint froze its list
    t.merge(
        spark.createDataFrame([(i, "new") for i in range(4)], "id long, v string"),
        "id",
    )
    ck = t.latest_checkpoint()
    assert ck["version"] == 4 and ck.get("entries") is not None
    ck_files = {rel for rel, _v, _op in ck["entries"]}
    live = set(t.snapshot()[1]["files"])
    assert ck_files - live  # the rewritten files are checkpoint-only
    t.expire_snapshots(keep_last=5)  # every manifest stays live
    removed = t.vacuum(retention_seconds=0)
    assert not (ck_files & set(removed))
    for rel in ck_files:  # every checkpoint-referenced file survives
        t.store.size(f"data/{rel}")  # raises FileNotFoundError if vacuumed


def test_version_ts_cap_falls_back_to_manifest_walk(spark, tmp_path, monkeypatch):
    """r14 ADVICE #1: on a never-expired table whose commit count
    exceeds _VERSION_TS_CAP, an instant older than the retained
    (version, ts) window must NOT be answered definitively from the
    truncated list — version_at break-raised on answerable TIMESTAMP
    AS OF reads and the stream's startingTimestamp silently resolved
    to 0 (replaying pre-instant commits). The checkpoint now records
    that live pairs were cap-dropped and _checkpoint_ts_candidates
    returns None for instants predating the retained range, so both
    resolvers fall back to the manifest walk — which answers exactly,
    because every manifest is still live."""
    import time

    import data_finder_comparator_spark.sinks.lakehouse as lh
    from data_finder_comparator_spark.sources.lakehouse_source import (
        _exclusive_start_for_timestamp,
    )

    monkeypatch.setattr(lh, "_VERSION_TS_CAP", 3)
    t = lh.TransactionalTable(spark, str(tmp_path / "tbl"))
    for i in range(8):
        t.append(spark.createDataFrame([(i,)], "k long"))
        time.sleep(0.02)  # distinct commit timestamps
    assert t.write_checkpoint() == 8
    ck = t._load_checkpoint(8)
    assert ck["version_ts_capped"] is True
    assert [v for v, _ts in ck["version_ts"]] == [6, 7, 8]

    ts2 = t._read_manifest(2)["ts"]
    ts3 = t._read_manifest(3)["ts"]
    instant = (ts2 + ts3) / 2  # between commits 2 and 3, below the cap window
    assert t.version_at(instant) == 2  # pre-fix: ValueError
    assert _exclusive_start_for_timestamp(t, instant) == 2  # pre-fix: 0

    # instants the retained range CAN answer still come from the
    # checkpoint's binary search (no behavior change at the head)
    ts7 = t._read_manifest(7)["ts"]
    ts8 = t._read_manifest(8)["ts"]
    assert t.version_at((ts7 + ts8) / 2) == 7

    # pre-history instants keep their contracts: stream start clamps
    # to 0, TIMESTAMP AS OF refuses
    ts1 = t._read_manifest(1)["ts"]
    assert _exclusive_start_for_timestamp(t, ts1 - 10.0) == 0
    with pytest.raises(ValueError, match="no snapshot at or before"):
        t.version_at(ts1 - 10.0)

    # expiry-pruned (floor-dropped) pairs stay definitive: after
    # expiring below the head the same old instant is genuinely
    # unanswerable and version_at must still refuse
    t.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="no snapshot at or before"):
        t.version_at(instant)


@pytest.mark.parametrize("cap,keep_last", [(3, None), (3, 4), (2, 2), (100, 3)])
def test_timestamp_resolvers_match_brute_walk_under_cap_and_expiry(
    spark, tmp_path, cap, keep_last, monkeypatch
):
    """Property form of the r14 ADVICE #1 fix: across cap/expiry
    interleavings, probe an instant at every commit boundary (between
    each consecutive pair, exactly at each commit, before history,
    after head) and check both resolvers against brute-force oracles
    over the manifests:

    * ``version_at`` must return exactly the newest LIVE manifest at or
      before the instant, and refuse when none is — never a
      cap-truncation artifact in either direction;
    * ``_exclusive_start_for_timestamp`` must never SKIP a commit (its
      answer is <= the true boundary — the newest version, live or
      expired, strictly before the instant) and never under-resolve
      below what the live manifests alone prove (>= the newest LIVE
      version strictly before; replaying expired-boundary commits is
      the documented tolerance, skipping is a bug)."""
    import time

    import data_finder_comparator_spark.sinks.lakehouse as lh
    from data_finder_comparator_spark.sources.lakehouse_source import (
        _exclusive_start_for_timestamp,
    )

    monkeypatch.setattr(lh, "_VERSION_TS_CAP", cap)
    t = lh.TransactionalTable(spark, str(tmp_path / "tbl"), checkpoint_interval=3)
    n = 7
    for i in range(n):
        t.append(spark.createDataFrame([(i,)], "k long"))
        time.sleep(0.02)
    if keep_last is not None:
        t.expire_snapshots(keep_last=keep_last)
    else:
        t.write_checkpoint()

    ts = {v: t._read_manifest(v)["ts"] for v in range(1, n + 1)
          if t._object_exists(t._manifest_rel(v))}
    all_ts = dict(ts)
    # expired manifests' commit times, reconstructed for the oracle
    # from the strictly increasing slot order (expiry only removes a
    # PREFIX, so any missing version is below every surviving one)
    live = sorted(ts)
    instants = [min(all_ts.values()) - 5.0, max(all_ts.values()) + 5.0]
    for v in live:
        instants.append(ts[v])  # exactly at a commit
        instants.append(ts[v] + 0.005)  # just after it

    for instant in instants:
        want = [v for v in live if ts[v] <= instant]
        if want:
            assert t.version_at(instant) == max(want), instant
        else:
            with pytest.raises(ValueError, match="no snapshot at or before"):
                t.version_at(instant)
        got = _exclusive_start_for_timestamp(t, instant)
        live_floor = max((v for v in live if ts[v] < instant), default=0)
        if live_floor:
            # expiry removes only a PREFIX, so every expired version is
            # below every live one: with a live boundary the exact
            # answer is forced — anything above skips a commit,
            # anything below needlessly replays a live one
            assert got == live_floor, (instant, got, live_floor)
        else:
            # instant predates every live commit: the walk proves 0,
            # the checkpoint may prove an exact expired boundary —
            # both must stay strictly below the oldest live version
            # (never skip it)
            assert 0 <= got < min(live), (instant, got)


def test_lakehouse_datasource_batch_timestamp_as_of(spark, tmp_path):
    """r17 (r16 verdict item 3): batch DSv2 time travel by TIMESTAMP —
    .option("timestampAsOf", <unix ts>) resolves through version_at's
    at-or-before rule at PLAN time (schema and rows both come from the
    resolved snapshot), pre-history instants refuse, and combining it
    with an explicit version refuses."""
    import time as _time

    _register_lakehouse_source(spark)
    p = str(tmp_path / "tbl")
    t = TransactionalTable(spark, p)
    before = _time.time() - 1.0
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    mid = _time.time()
    _time.sleep(0.01)
    t.rename_column("v", "w")
    t.append(spark.createDataFrame([(2, "b")], "id long, w string"))

    old = spark.read.format("lakehouse").option("timestampAsOf", mid).load(p)
    # v1's schema (pre-rename) and v1's single row
    assert old.columns == ["id", "v", "_version", "_commit_op"]
    assert sorted((r.id, r.v) for r in old.collect()) == [(1, "a")]

    now = spark.read.format("lakehouse").option(
        "timestampAsOf", _time.time()
    ).load(p)
    assert now.columns == ["id", "w", "_version", "_commit_op"]
    assert sorted((r.id, r.w) for r in now.collect()) == [(1, "a"), (2, "b")]

    with pytest.raises(Exception, match="no snapshot"):
        spark.read.format("lakehouse").option("timestampAsOf", before).load(
            p
        ).collect()
    with pytest.raises(Exception, match="not both"):
        spark.read.format("lakehouse").option("timestampAsOf", mid).option(
            "version", 1
        ).load(p).collect()
