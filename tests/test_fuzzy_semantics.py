"""Reference-semantics tests for the tiered fuzzy join: a pure-Python
re-statement of find_matches' contract (/root/reference/main.py:197-230)
checked against the Spark operator on controlled inputs."""

from __future__ import annotations

import re

import pytest

from data_finder_comparator_spark.operators.fuzzy_join import tiered_fuzzy_join


def _norm(s):
    return re.sub(r"[^a-z0-9]", "", s.lower())


def _lev(a, b):
    a, b = _norm(a), _norm(b)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = prev[j - 1] if ca == cb else 1 + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return prev[len(b)]


def reference_tiers(q, cands, t=3):
    """find_matches semantics, restated independently: returns
    {(cand_id, tier)} including the exact∩poor overlap quirk."""
    dists = {cid: _lev(q, c) for cid, c in cands}
    out = set()
    pos_within = {cid: d for cid, d in dists.items() if 0 < d <= t}
    for cid, d in dists.items():
        if d == 0:
            out.add((cid, "exact"))
    if pos_within:
        m = min(pos_within.values())
        for cid, d in pos_within.items():
            out.add((cid, "best" if d == m else "potential"))
    else:
        m = min(dists.values())
        for cid, d in dists.items():
            if d == m:
                out.add((cid, "poor"))
    return out


CANDS = [
    (0, "cold widget"),
    (1, "old widget"),
    (2, "bold widget"),
    (3, "zzz"),
    (4, "Cold-Widget"),
    (5, "q"),
]

PROBES = [
    (10, "cold widget"),   # exact + ties at best
    (11, "cold widgetx"),  # best distance 1 (two+ ties deeper)
    (12, "mmmmmmmmmmmm"),  # nothing within 3 -> poor fallback
    (13, "zz"),            # best 1 via zzz
    (14, ""),              # empty string edge
    (15, "COLDWIDGET"),    # exact after normalization, no positive <=3? has
]


@pytest.mark.parametrize("strategy", ["broadcast", "band", "qgram"])
def test_tier_semantics_vs_reference(spark, strategy):
    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    got = tiered_fuzzy_join(probe, cand, threshold=3, strategy=strategy).collect()
    got_set = {(r.probe_id, r.cand_id, r.tier) for r in got}
    want = set()
    for pid, q in PROBES:
        for cid, tier in reference_tiers(q, CANDS, 3):
            want.add((pid, cid, tier))
    assert got_set == want
    # distances faithful
    for r in got:
        assert r.dist == _lev(r.probe, r.cand)


@pytest.mark.parametrize("strategy", ["broadcast", "band", "qgram"])
def test_empty_probe_side(spark, strategy):
    """Zero probes must yield zero rows (not crash in the window /
    fallback machinery) under every blocking strategy."""
    probe = spark.createDataFrame([], "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    assert tiered_fuzzy_join(probe, cand, threshold=3, strategy=strategy).count() == 0


def test_empty_candidate_side(spark):
    """Zero candidates: nothing within threshold and nothing to rescan —
    every tier is empty (the reference would min() over an empty list;
    the rebuild defines it as no output)."""
    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame([], "cand_id long, cand string")
    assert tiered_fuzzy_join(probe, cand, threshold=3).count() == 0


@pytest.mark.parametrize("strategy", ["broadcast", "band", "qgram"])
def test_null_keys_excluded(spark, strategy):
    """NULL keys on either side are excluded from matching (the
    reference would crash on a NaN cell; the engine defines nulls out),
    and a null candidate doesn't perturb the poor fallback."""
    probe = spark.createDataFrame([(1, None), (2, "abc")], "probe_id long, probe string")
    cand = spark.createDataFrame([(10, "abc"), (11, None)], "cand_id long, cand string")
    rows = tiered_fuzzy_join(probe, cand, threshold=3, strategy=strategy).collect()
    assert sorted((r.probe_id, r.cand_id, r.tier) for r in rows) == [
        (2, 10, "exact"),
        (2, 10, "poor"),  # no positive within-threshold pair -> quirk overlap
    ]


def test_fallback_preserves_value_column_types(spark):
    """Non-string probe/cand value columns must keep their type through
    the poor-fallback path (the escalation's empty seed frame derives
    its schema from the inputs, not a hardcoded string schema)."""
    probe = spark.createDataFrame([(1, 111222333)], "probe_id long, probe long")
    cand = spark.createDataFrame([(10, 999888777)], "cand_id long, cand long")
    out = tiered_fuzzy_join(probe, cand, threshold=1)
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["probe"] == "bigint" and types["cand"] == "bigint"
    rows = out.collect()
    assert [(r.probe, r.cand, r.tier) for r in rows] == [(111222333, 999888777, "poor")]


def test_exact_poor_overlap_quirk(spark):
    """A probe whose only close candidate is at distance 0 must appear
    in BOTH exact and poor (main.py:218-228 rescans all candidates)."""
    probe = spark.createDataFrame([(1, "abc")], "probe_id long, probe string")
    cand = spark.createDataFrame(
        [(1, "abc"), (2, "zzzzzzzzz")], "cand_id long, cand string"
    )
    rows = tiered_fuzzy_join(probe, cand, threshold=3).collect()
    tiers = {(r.cand_id, r.tier) for r in rows}
    assert (1, "exact") in tiers
    assert (1, "poor") in tiers
    assert (2, "poor") not in tiers


def test_unknown_strategy_raises(spark):
    """A misspelt strategy must not fall through to a half-broadcast,
    half-shuffled plan; the config accepts exactly the operator's set."""
    from data_finder_comparator_spark.config import EngineConfig

    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    with pytest.raises(ValueError, match="unknown strategy"):
        tiered_fuzzy_join(probe, cand, threshold=3, strategy="qgrm")
    from data_finder_comparator_spark.operators.fuzzy_join import STRATEGIES

    for strategy in STRATEGIES:
        assert EngineConfig(strategy=strategy).strategy == strategy


@pytest.mark.parametrize("prepared", [False, True])
def test_negative_threshold_raises(spark, prepared):
    """threshold < 0 keeps no phase-1 pair, so the banded path would tag
    a dist-0 match 'poor' only while the dense path tags it 'exact'
    too; both paths refuse it instead."""
    from data_finder_comparator_spark.operators.fuzzy_join import prepare_candidates

    probe = spark.createDataFrame([(1, "abc-123")], "probe_id long, probe string")
    cand = spark.createDataFrame([(10, "ABC123")], "cand_id long, cand string")
    reg: list = []
    prep = prepare_candidates(cand, cache_registry=reg) if prepared else None
    try:
        with pytest.raises(ValueError, match="threshold"):
            tiered_fuzzy_join(probe, cand, threshold=-1, prepared=prep)
    finally:
        for df in reg:
            df.unpersist()


# ---------------------------------------------------------------------------
# topk_fuzzy_join (O2 escalating-band top-k)
# ---------------------------------------------------------------------------

def _brute_topk(probe_rows, cand_rows, k):
    """Driver-side reference: full rank by (dist, cand_id) per probe."""
    import re

    def norm(s):
        return re.sub(r"[^a-z0-9]", "", s.lower())

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    out = set()
    for pid, pv in probe_rows:
        scored = sorted(
            (lev(norm(pv), norm(cv)), cid) for cid, cv in cand_rows
        )
        for rnk, (d, cid) in enumerate(scored[:k], 1):
            out.add((pid, cid, d, rnk))
    return out


def test_topk_matches_brute_force(spark):
    """Escalating-band top-k must equal the full-rank answer on a mixed
    corpus: near matches (resolve in round 1), far-only probes (force
    escalation), and length outliers (cross band buckets)."""
    from data_finder_comparator_spark.operators.fuzzy_join import topk_fuzzy_join

    probes = [(1, "almond blue"), (2, "xqzzwv"), (3, "a"), (4, "chocolate lace grand")]
    cands = [
        (10, "almond blue!"),
        (11, "almond blues"),
        (12, "Almond Blue"),
        (13, "chocolate lace grande"),
        (14, "mmmmmmmmmmmmmmmmmmmmmmmmmmmmmm"),
        (15, "b"),
    ]
    got = {
        (r.probe_id, r.cand_id, r.dist, r.rnk)
        for r in topk_fuzzy_join(
            spark.createDataFrame(probes, "probe_id long, probe string"),
            spark.createDataFrame(cands, "cand_id long, cand string"),
            k=3,
        ).collect()
    }
    assert got == _brute_topk(probes, cands, 3)


@pytest.mark.parametrize("k", [0, -1])
def test_topk_k_below_one_raises(spark, k):
    from data_finder_comparator_spark.operators.fuzzy_join import topk_fuzzy_join

    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    with pytest.raises(ValueError, match="k must be >= 1"):
        topk_fuzzy_join(probe, cand, k=k)


def test_topk_fewer_candidates_than_k(spark):
    """With |C| < k every candidate is emitted, ranked, once."""
    from data_finder_comparator_spark.operators.fuzzy_join import topk_fuzzy_join

    out = topk_fuzzy_join(
        spark.createDataFrame([(1, "abc")], "probe_id long, probe string"),
        spark.createDataFrame([(10, "abd"), (11, "zz")], "cand_id long, cand string"),
        k=5,
    ).collect()
    assert sorted((r.cand_id, r.dist, r.rnk) for r in out) == [(10, 1, 1), (11, 3, 2)]


# Forced escalation ladder: every other fixture is under
# _FALLBACK_SMALL_PRODUCT and resolves in one exact round. With t=4
# both ladders run widths 8, 16, 32 and the final round at the bound
# 36. Probes share no character with the candidates, so a probe's
# distance to a candidate is the longer length, every probe is farther
# than t from every candidate, and the argmin ties are every candidate
# no longer than the probe. "mixed" settles one probe per width; "far"
# settles nothing in the first round, so the ladder jumps to the bound.
# Four rounds at most: each round's remainder nests the previous one
# twice, so the plan text AQE renders doubles with every round.
_LADDER_CANDS = [
    (100 + i, s)
    for i, s in enumerate(
        ["a", "abc", "abcabc", "aabbccdd", "abcdefghij", "a" * 16, "bc" * 12, "abc" * 12]
    )
]
_LADDER_PROBES = {
    "mixed": [(1, "z" * 7), (2, "q" * 13), (3, "x" * 30), (4, "x" * 34)],
    "far": [(1, "x" * 30), (2, "y" * 34)],
}
# Jobs each call launches (build plus collect), by job-id range.
_LADDER_JOBS = {
    ("mixed", False): {"broadcast": 36, "band": 42, "topk": 34},
    ("mixed", True): {"broadcast": 22, "band": 25, "topk": 17},
    ("far", False): {"broadcast": 22, "band": 25, "topk": 17},
    ("far", True): {"broadcast": 20, "band": 22, "topk": 14},
}


@pytest.mark.parametrize("capped", [False, True], ids=["doubling", "capped"])
@pytest.mark.parametrize("probes", ["mixed", "far"])
def test_forced_ladder_matches_brute_force(spark, monkeypatch, probes, capped):
    """The escalation ladder's doubling rounds, its jump to the bound
    and its capped-remainder nested loop must give the brute-force
    answer for the tier join (broadcast and band) and for top-k, with
    the same number of Spark jobs as the pinned counts."""
    from data_finder_comparator_spark.operators import fuzzy_join as fj
    from tests.conftest import _jobs_launched
    from tests.test_property_fuzzy import _brute_tiers

    monkeypatch.setattr(fj, "_FALLBACK_SMALL_PRODUCT", 0)
    if capped:
        monkeypatch.setattr(fj, "_FALLBACK_MAX_ROUNDS", 1)
    probe_rows = _LADDER_PROBES[probes]
    probe = spark.createDataFrame(probe_rows, "probe_id long, probe string")
    cand = spark.createDataFrame(_LADDER_CANDS, "cand_id long, cand string")
    calls = {
        "broadcast": lambda: fj.tiered_fuzzy_join(probe, cand, threshold=4),
        "band": lambda: fj.tiered_fuzzy_join(probe, cand, threshold=4, strategy="band"),
        "topk": lambda: fj.topk_fuzzy_join(probe, cand, k=3),
    }
    jobs = {}
    for name, call in calls.items():
        rows = []
        jobs[name] = _jobs_launched(spark, lambda: rows.extend(call().collect()))
        if name == "topk":
            got = {(r.probe_id, r.cand_id, r.dist, r.rnk) for r in rows}
            assert got == _brute_topk(probe_rows, _LADDER_CANDS, 3)
        else:
            got = {(r.probe_id, r.cand_id, r.dist, r.tier) for r in rows}
            assert got == _brute_tiers(probe_rows, _LADDER_CANDS, 4), name
            assert {r.tier for r in rows} == {"poor"}
    assert jobs == _LADDER_JOBS[probes, capped]


def test_topk_dense_prepared_path_matches_brute_force(spark):
    """r18: the dense broadcast top-k path (prepared candidates under
    the broadcast-small cap) must equal the full-rank answer — same
    corpus as the ladder test, so the two paths are pinned to one
    reference. Null-valued probes/candidates must be excluded exactly
    like the ladder's isNotNull filters (a null would otherwise sort
    first under the rank window)."""
    from data_finder_comparator_spark.operators.fuzzy_join import (
        prepare_candidates,
        topk_fuzzy_join,
    )

    probes = [(1, "almond blue"), (2, "xqzzwv"), (3, "a"), (4, "chocolate lace grand")]
    cands = [
        (10, "almond blue!"),
        (11, "almond blues"),
        (12, "Almond Blue"),
        (13, "chocolate lace grande"),
        (14, "mmmmmmmmmmmmmmmmmmmmmmmmmmmmmm"),
        (15, "b"),
    ]
    cand_df = spark.createDataFrame(
        cands + [(99, None)], "cand_id long, cand string"
    )
    reg: list = []
    prepared = prepare_candidates(cand_df, cache_registry=reg)
    try:
        got = {
            (r.probe_id, r.cand_id, r.dist, r.rnk)
            for r in topk_fuzzy_join(
                spark.createDataFrame(
                    probes + [(9, None)], "probe_id long, probe string"
                ),
                cand_df,
                k=3,
                prepared=prepared,
            ).collect()
        }
    finally:
        for df in reg:
            df.unpersist()
    assert got == _brute_topk(probes, cands, 3)
    assert not any(pid == 9 or cid == 99 for pid, cid, _, _ in got)


def test_dense_prepared_path_matches_reference(spark):
    """The dense one-pass path (prepared candidates under the
    broadcast-small cap — the streaming micro-batch regime) must produce
    exactly the banded plan's tiers, including the exact∩poor overlap
    and null exclusion."""
    from data_finder_comparator_spark.operators.fuzzy_join import prepare_candidates

    probe = spark.createDataFrame(
        PROBES + [(16, None)], "probe_id long, probe string"
    )
    cand = spark.createDataFrame(
        CANDS + [(6, None)], "cand_id long, cand string"
    )
    reg: list = []
    prepared = prepare_candidates(cand, cache_registry=reg)
    try:
        got = tiered_fuzzy_join(
            probe, cand, threshold=3, prepared=prepared
        ).collect()
    finally:
        for df in reg:
            df.unpersist()
    got_set = {(r.probe_id, r.cand_id, r.tier) for r in got}
    want = set()
    for pid, q in PROBES:
        if q is None:
            continue
        for cid, tier in reference_tiers(q, CANDS, 3):
            want.add((pid, cid, tier))
    assert got_set == want
    for r in got:
        assert r.dist == _lev(r.probe, r.cand)


def test_dense_path_gated_on_candidate_count(spark):
    """Above _DENSE_CAND_MAX the prepared path must still take the
    banded two-phase plan (the dense cross product is only the right
    trade under the broadcast-small cap)."""
    from data_finder_comparator_spark.operators import fuzzy_join as fj

    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    reg: list = []
    prepared = fj.prepare_candidates(cand, cache_registry=reg)
    old = fj._DENSE_CAND_MAX
    fj._DENSE_CAND_MAX = 0  # force the banded path even though prepared
    try:
        got = fj.tiered_fuzzy_join(
            probe, cand, threshold=3, prepared=prepared
        ).collect()
    finally:
        fj._DENSE_CAND_MAX = old
        for df in reg:
            df.unpersist()
    want = set()
    for pid, q in PROBES:
        for cid, tier in reference_tiers(q, CANDS, 3):
            want.add((pid, cid, tier))
    assert {(r.probe_id, r.cand_id, r.tier) for r in got} == want


def test_tier_semantics_qgram_dedup_strings(spark):
    """dedup_strings=True must reproduce the reference tier semantics
    exactly — the string-level dedup is a plan transform, not a
    semantic one (equal normalized strings have equal grams, distances
    and band membership; the string itself is the dedup key)."""
    probe = spark.createDataFrame(PROBES, "probe_id long, probe string")
    cand = spark.createDataFrame(CANDS, "cand_id long, cand string")
    got = tiered_fuzzy_join(
        probe, cand, threshold=3, strategy="qgram", dedup_strings=True
    ).collect()
    got_set = {(r.probe_id, r.cand_id, r.tier) for r in got}
    want = set()
    for pid, q in PROBES:
        for cid, tier in reference_tiers(q, CANDS, 3):
            want.add((pid, cid, tier))
    assert got_set == want
    for r in got:
        assert r.dist == _lev(r.probe, r.cand)


def test_qgram_dedup_strings_equivalence_on_duplicates(spark):
    """On a duplicate-heavy corpus (every key repeated 8x under
    distinct ids — the corpus-inflation regime) the dedup_strings plan
    must emit the IDENTICAL (probe_id, cand_id, dist, tier) row set as
    the default qgram plan, duplicates expanded and all."""
    base_p = [(i, p) for i, (_, p) in enumerate(PROBES)]
    base_c = [(i, c) for i, (_, c) in enumerate(CANDS)]
    dup_p = [(pid + 100 * k, p) for k in range(8) for pid, p in base_p]
    dup_c = [(cid + 100 * k, c) for k in range(8) for cid, c in base_c]
    probe = spark.createDataFrame(dup_p, "probe_id long, probe string")
    cand = spark.createDataFrame(dup_c, "cand_id long, cand string")

    def rows(dedup):
        return sorted(
            (r.probe_id, r.cand_id, r.dist, r.tier)
            for r in tiered_fuzzy_join(
                probe, cand, threshold=3, strategy="qgram", dedup_strings=dedup
            ).collect()
        )

    a, b = rows(False), rows(True)
    assert a == b
    assert len(a) > 0


def test_qgram_dedup_strings_auto_resolves_by_duplication(spark):
    """dedup_strings="auto" (round 9): the duplication probe flips the
    plan — identical output either way (it only ever selects between
    two already-equivalence-tested plans), duplicate-heavy corpora take
    the dedup path, unique corpora the default. The 8x-duplicated
    corpus (dup product 64 >= 4) and the unique corpus (product ~1 < 4)
    pin both sides of the threshold."""
    base_p = [(i, p) for i, (_, p) in enumerate(PROBES)]
    base_c = [(i, c) for i, (_, c) in enumerate(CANDS)]
    dup_p = [(pid + 100 * k, p) for k in range(8) for pid, p in base_p]
    dup_c = [(cid + 100 * k, c) for k in range(8) for cid, c in base_c]

    for pd, cd in ((base_p, base_c), (dup_p, dup_c)):
        probe = spark.createDataFrame(pd, "probe_id long, probe string")
        cand = spark.createDataFrame(cd, "cand_id long, cand string")

        def rows(dedup):
            return sorted(
                (r.probe_id, r.cand_id, r.dist, r.tier)
                for r in tiered_fuzzy_join(
                    probe, cand, threshold=3, strategy="qgram", dedup_strings=dedup
                ).collect()
            )

        auto = rows("auto")
        assert auto == rows(False) and len(auto) > 0
