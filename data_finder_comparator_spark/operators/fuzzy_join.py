"""Tiered fuzzy similarity join — the engine's flagship operator.

Re-expresses the reference's ``find_matches`` nested-loop matcher
(/root/reference/main.py:197-230, driven per-probe from
/root/reference/main.py:559-561 and :473-478) as a single distributed
DataFrame plan. Semantics replicated exactly (SURVEY.md §2.3):

Per probe value ``q`` against candidate set ``C`` with threshold ``t``,
distances computed on normalized strings (lowercase, alphanumerics
only — /root/reference/main.py:171-172) but original values returned:

* ``exact``      — dist == 0 (after normalization). main.py:207-208.
* ``best``       — all ties at min{dist : 0 < dist <= t}. main.py:210-216.
* ``potential``  — 0 < dist <= t, excluding best. main.py:219.
* ``poor``       — ONLY when no pair has 0 < dist <= t: all ties at the
  global min over ALL candidates (main.py:218-228). NB the reference's
  fallback rescans every candidate *including* dist-0 ones, so when a
  probe has an exact match but no positive within-threshold match, the
  dist-0 candidates appear in BOTH ``exact`` and ``poor`` — replicated
  here (the fallback scan does not exclude dist == 0).

Scale design (this is where the Spark version stops being a loop):

* Phase 1 scores only the **length band** |len(nq) - len(nc)| <= t —
  levenshtein(a,b) >= |len(a)-len(b)|, so nothing outside the band can
  be within threshold. Scoring uses the threshold form
  ``levenshtein(a, b, t)`` (Spark >= 3.5) which early-exits the DP at
  O(len * t) instead of O(len^2). It is one helper, ``within_pairs``,
  which ``pipeline._curate`` also runs on its own, since curation reads
  only the within-threshold pairs.
* Phase 2 (the ``poor`` fallback — a full-candidate global argmin, like
  the reference's rescan at main.py:222-228, but only over the minority
  of probes with no within-threshold pair). It runs the escalation
  ladder ``_escalate``: bucketed length-band equi-joins at doubling
  widths up to the longest string, one action per round, never a
  cartesian. ``topk_fuzzy_join`` runs the same ladder with a top-k
  filter in place of the argmin-ties filter.
* ``strategy="broadcast"`` broadcasts the candidate side (no shuffle —
  right whenever candidates fit in memory, the reference's regime).
  ``strategy="band"`` turns the length-band predicate into an
  **equi-join** by exploding each candidate over the [lc-t, lc+t]
  length bucket — a shuffled hash join on the band key, for
  candidate sets too big to broadcast. ``strategy="qgram"`` blocks by
  q-gram prefix filtering (AllPairs/PPJoin-style, see inline notes) —
  the 100 TB regime, sub-quadratic even when every string has the
  same length. All three produce identical results.

Output: one row per (probe, candidate, tier) membership —
``probe_id, probe, cand_id, cand, dist, tier``.
"""

from __future__ import annotations

import os as _os
from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.normalize import norm_key
from ..partitioning import fanout_partitions as _fanout_partitions

OUT_COLS = ["probe_id", "probe", "cand_id", "cand", "dist", "tier"]
STRATEGIES = ("broadcast", "band", "qgram")


def _prep(df: DataFrame, id_col: str, val_col: str, out_id: str, out_val: str, nrm: str) -> DataFrame:
    return df.select(
        F.col(id_col).cast("long").alias(out_id),
        F.col(val_col).alias(out_val),
        norm_key(F.col(val_col)).alias(nrm),
    )


class PreparedCandidates:
    """Candidate-side state precomputed ONCE for repeated tiered joins
    (the one-call-per-micro-batch streaming regime): the prepped +
    persisted candidate frame, its null-filtered matchable subset, and
    the fused count / max-normalized-length stats the escalation
    fallback needs. Without this, every epoch re-runs the candidate
    normalization scan plus one stats aggregation job against a table
    that is STATIC across the stream's lifetime.

    Lifetime: both persisted frames are appended to ``cache_registry``
    (when given) — the caller unpersists them after the stream drains,
    exactly like ``tiered_fuzzy_join``'s own registry contract.
    """

    def __init__(self, c: DataFrame, matchable: DataFrame, n_cand: int, max_c: int | None):
        self.c = c
        self.matchable = matchable
        self.n_cand = n_cand
        self.max_c = max_c


def prepare_candidates(
    cand: DataFrame,
    cand_id: str = "cand_id",
    cand_val: str = "cand",
    cache_registry: list | None = None,
) -> PreparedCandidates:
    """Normalize + persist the candidate side and compute the stats the
    ``poor``-fallback escalation needs, once, for reuse across many
    ``tiered_fuzzy_join`` calls (pass the result as ``prepared=``)."""
    c = _prep(cand, cand_id, cand_val, "cand_id", "cand", "_nc").persist()
    matchable = c.filter(F.col("_nc").isNotNull()).persist()
    # register BEFORE the stats action: a failure in that job must
    # leave both persisted frames findable by the caller's cleanup
    # path, or they pin cache-manager entries for the process lifetime
    if cache_registry is not None:
        cache_registry.extend([c, matchable])
    n_cand, max_c = matchable.agg(
        F.count(F.lit(1)), F.max(F.length("_nc"))
    ).first()
    return PreparedCandidates(c, matchable, n_cand, max_c)


def tiered_fuzzy_join(
    probe: DataFrame,
    cand: DataFrame,
    probe_id: str = "probe_id",
    probe_val: str = "probe",
    cand_id: str = "cand_id",
    cand_val: str = "cand",
    threshold: int = 3,
    strategy: str = "broadcast",
    cache_registry: list | None = None,
    prepared: PreparedCandidates | None = None,
    dedup_strings: bool | str = False,
) -> DataFrame:
    """Score every probe against the candidate set and classify matches
    into exact / best / potential / poor tiers (reference semantics).

    probe must have (probe_id, probe_val); cand (cand_id, cand_val).
    Returns OUT_COLS with ``dist`` as long and ``tier`` as string.

    The phase-1 pairs are always persisted.
    Repeated callers (e.g. one call per streaming micro-batch) should
    pass ``cache_registry=[]``: persisted DataFrames are appended to
    it, and the caller unpersists them right after its action — keeping
    the single-evaluation benefit without accumulating cached blocks
    across calls.

    ``dedup_strings`` (qgram strategy only) runs candidate generation
    AND the DP once per distinct (normalized-probe, normalized-cand)
    string pair, then expands back to ids by two equi-joins on the
    normalized string. Results are identical by construction — rows
    with equal normalized strings have equal grams, distances, and
    band membership; the string itself is the dedup key, so there is
    no hash-collision caveat. The escape hatch for DUPLICATE-HEAVY
    corpora (the regime the corpus-inflation probe simulates): at
    duplication factor d the gram join, pair-distinct exchange, and
    levenshtein pass all shrink by ~d^2, while unique-text corpora pay
    two extra corpus-sized distinct aggregations for nothing — hence
    opt-in, measured either way in SCALE.md's inflation table.

    ``dedup_strings="auto"`` resolves the flag from a cheap
    duplication probe: one (count, approx_count_distinct) aggregation
    per side on the normalized key; dedup flips on when the product of
    the two duplication factors reaches ``_DEDUP_AUTO_FACTOR`` (4 —
    i.e. only when the per-string-pair work provably shrinks >= ~4x,
    comfortably clearing the two extra distinct aggregations, which
    measured ~10% at x1). approx_count_distinct's ~2% rsd cannot
    straddle that margin meaningfully: a corpus near the threshold
    loses almost nothing either way, and the probe's cost is two scan
    aggregations — the same price as the stats job the escalation
    fallback already pays.
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}, expected one of {STRATEGIES}")
    if threshold < 0:
        raise ValueError(f"threshold must be >= 0, got {threshold}")
    t = threshold
    p = _prep(probe, probe_id, probe_val, "probe_id", "probe", "_nq")
    # ``prepared`` (see prepare_candidates) skips the per-call candidate
    # normalization AND the escalation fallback's candidate stats job —
    # the hot path for repeated calls against a static candidate table
    c = prepared.c if prepared is not None else _prep(
        cand, cand_id, cand_val, "cand_id", "cand", "_nc"
    )

    # Dense micro-batch path: when the candidate count is KNOWN (stats
    # precomputed) and broadcast-small, the banded two-phase plan is all
    # overhead — phase 1's nested-loop already visits every pair, and
    # phase 2 adds ~4 extra jobs (stats agg, escalation round, eager
    # checkpoint) per call just to serve the minority 'poor' probes.
    # One full-DP pass + one window computes all four tiers in ~2 jobs —
    # the per-epoch latency floor for a streaming foreachBatch loop.
    # Scale contract: cost is |batch| x n_cand full DPs, bounded by the
    # micro-batch size (backpressure) times the broadcast-small cap.
    if (
        strategy == "broadcast"
        and prepared is not None
        and prepared.n_cand <= _DENSE_CAND_MAX
    ):
        return _dense_tiers(p, c, t)

    within = within_pairs(p, c, t, strategy, dedup_strings)
    # consumed twice (tier classification + matched-probe anti-join);
    # persist so the banded scoring pass runs once, not twice — at
    # cluster scale this would be a checkpoint/exchange reuse
    within = within.persist()
    if cache_registry is not None:
        cache_registry.append(within)

    w = Window.partitionBy("probe_id")
    within = within.withColumn(
        "min_pos", F.min(F.when(F.col("dist") > 0, F.col("dist"))).over(w)
    )
    tiers_within = within.withColumn(
        "tier",
        F.when(F.col("dist") == 0, F.lit("exact"))
        .when(F.col("dist") == F.col("min_pos"), F.lit("best"))
        .otherwise(F.lit("potential")),
    ).select(*OUT_COLS)

    # ---- Phase 2: global-argmin fallback ("poor") for probes with no
    # positive within-threshold match (reference main.py:218-228).
    #
    # Split by what phase 1 already proved:
    # * probe HAS a within-band pair but none positive — every such pair
    #   is dist 0, so the global min is 0 and its argmin ties are
    #   exactly those dist-0 rows (out-of-band candidates are all
    #   > t >= 0). Emit them as ``poor`` straight from phase 1 — this is
    #   the reference's exact∩poor overlap, with NO rescan.
    # * probe has NO within-band pair at all — the global min exceeds t
    #   and genuinely requires a full-candidate argmin. Resolved by
    #   escalating band widening (below), NOT a |P|x|C| cross join: in
    #   adversarial inputs (probe set from a different catalog) ALL
    #   probes fall through, and a cartesian there is the one plan that
    #   cannot survive 100 TB.
    poor_exact = (
        within.filter(F.col("min_pos").isNull())
        .withColumn("tier", F.lit("poor"))
        .select(*OUT_COLS)
    )
    seen = within.select("probe_id").distinct()
    unseen = p.join(seen, "probe_id", "left_anti")

    def keep_argmin(scored: DataFrame, final: bool) -> DataFrame:
        # any survivor beats every non-survivor, so a probe's surviving
        # argmin ties are its global argmin ties
        return (
            scored.withColumn("_min", F.min("dist").over(w))
            .filter(F.col("dist") == F.col("_min"))
            .withColumn("tier", F.lit("poor"))
            .select(*OUT_COLS)
        )

    poor_rescan = _escalate(
        unseen,
        c,
        prepared,
        width=max(2 * t, 2),
        broadcast_cand=strategy == "broadcast",
        keep=keep_argmin,
        extra=T.StructField("tier", T.StringType()),
    )

    return tiers_within.unionByName(poor_exact).unionByName(poor_rescan)


def within_pairs(
    p: DataFrame,
    c: DataFrame,
    t: int,
    strategy: str,
    dedup_strings: bool | str = False,
    probe_key: str = "probe_id",
    cand_key: str = "cand_id",
) -> DataFrame:
    """Phase 1: every (probe, candidate) pair within ``t`` edits after
    normalization, blocked by ``strategy``, with every column of both
    sides plus ``dist`` (long). ``p`` carries ``_nq`` and ``c``
    carries ``_nc`` (the normalized keys); ``probe_key`` and
    ``cand_key`` name a unique key of each side, which the qgram
    strategy joins the candidate pairs back on."""
    if strategy == "qgram":
        # Prefix filtering on q-grams (AllPairs/PPJoin candidate
        # generation, exact for edit distance): one edit destroys at
        # most q distinct q-grams, so ed(a,b) <= t implies b contains
        # at least one of ANY t*q+1 distinct grams of a. Join the
        # t*q+1 globally-RAREST grams of each probe (rare-first
        # minimizes fanout; any subset is correct) against all
        # candidate grams — an equi-join on a short string key, no cross
        # product, and the only strategy here that stays sub-quadratic
        # when the length distribution is narrow (length banding prunes
        # nothing when every string has the same length).
        # q=3: trigrams are ~36x rarer than bigrams, so the prefix
        # join's fanout (sum of document frequencies over the prefix)
        # drops by that factor; the bound stays exact since one edit
        # destroys at most q distinct q-grams for ANY q
        qg = 3
        prefix_n = t * qg + 1
        # probes too short to own t*q+1 grams get the band fallback;
        # any candidate within t of such a probe is also short, so the
        # fallback join is tiny
        min_len = qg + t * qg
        long_p = p.filter(F.length("_nq") >= min_len)
        short_p = p.filter(F.length("_nq") < min_len)

        if dedup_strings == "auto":
            np_, dp_ = long_p.agg(
                F.count(F.lit(1)), F.approx_count_distinct("_nq")
            ).first()
            nc_, dc_ = c.agg(
                F.count(F.lit(1)), F.approx_count_distinct("_nc")
            ).first()
            dup_product = (np_ / max(dp_, 1)) * (nc_ / max(dc_, 1))
            dedup_strings = dup_product >= _DEDUP_AUTO_FACTOR

        def _grams(df: DataFrame, id_col: str, nrm: str, len_col: str) -> DataFrame:
            # fan-out repartition: the gram explode inflates a few file
            # splits into |text|-fold rows (see partitioning.py). Each
            # gram row carries its string's normalized length so the
            # length-band check can run ON the gram join, BEFORE the
            # pair-distinct exchange (length-incompatible pairs — the
            # majority under wide length distributions — never shuffle).
            return df.repartition(_fanout_partitions(df), F.col(id_col)).select(
                id_col,
                F.length(nrm).alias(len_col),
                F.explode(
                    F.expr(
                        f"array_distinct(transform(sequence(1, length({nrm}) - {qg - 1}),"
                        f" i -> substring({nrm}, i, {qg})))"
                    )
                ).alias("gram"),
            )

        if dedup_strings:
            # one gram/prefix/DP pass per distinct STRING: the string
            # is its own key, so pairs expand back by two equi-joins.
            # NOTE: gram_df below then counts distinct candidate
            # STRINGS, not rows, so the rare-first prefix picks
            # DIFFERENT grams than the default plan — equivalence does
            # NOT rest on identical gram selection but on the prefix
            # filter being exact for ANY t*q+1-gram subset (one edit
            # destroys <= q distinct grams regardless of which prefix
            # was chosen), which the equivalence tests pin.
            p_src, p_key = long_p.select("_nq").distinct(), "_nq"
            c_src, c_key = c.select("_nc").distinct(), "_nc"
        else:
            p_src, p_key = long_p, probe_key
            c_src, c_key = c, cand_key
        cg = _grams(c_src.filter(F.length("_nc") >= qg), c_key, "_nc", "_lc")
        pg = _grams(p_src, p_key, "_nq", "_lq")
        gram_df = cg.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
        wq = Window.partitionBy(p_key).orderBy("_df", "gram")
        prefix = (
            pg.join(gram_df, "gram", "left")
            .fillna(0, ["_df"])
            .withColumn("_rn", F.row_number().over(wq))
            .filter(F.col("_rn") <= prefix_n)
            .select(p_key, "_lq", "gram")
        )
        pair_ids = (
            prefix.join(cg, "gram")
            .filter(F.abs(F.col("_lq") - F.col("_lc")) <= t)
            .select(p_key, c_key)
            .distinct()
        )
        if dedup_strings:
            # DP once per distinct string pair, BEFORE the id fan-out:
            # at duplication factor d this is 1/d^2 of the per-id DPs
            scored_strs = pair_ids.withColumn(
                "dist", F.levenshtein("_nq", "_nc", t).cast("long")
            ).filter(F.col("dist") >= 0)
            banded_long = scored_strs.join(long_p, "_nq").join(c, "_nc")
        else:
            banded_long = pair_ids.join(long_p, probe_key).join(c, cand_key)
        c_short = c.filter(F.length("_nc") < min_len + t).withColumn(
            "_band",
            F.explode(
                F.sequence(F.greatest(F.length("_nc") - t, F.lit(0)), F.length("_nc") + t)
            ),
        )
        banded_short = (
            short_p.withColumn("_band", F.length("_nq")).join(c_short, "_band").drop("_band")
        )
        cols = [*p.columns, *c.columns]
        if dedup_strings:
            # long side is already scored per distinct string pair;
            # score the (tiny) short-probe side and skip the shared
            # post-union DP below
            short_scored = (
                banded_short.select(*cols)
                .filter(F.abs(F.length("_nq") - F.length("_nc")) <= t)
                .withColumn("dist", F.levenshtein("_nq", "_nc", t).cast("long"))
                .filter(F.col("dist") >= 0)
            )
            prescored = banded_long.select(*cols, "dist").unionByName(short_scored)
            banded = None
        else:
            banded = (
                banded_long.select(*cols)
                .unionByName(banded_short.select(*cols))
                # qgram pairs can still be length-incompatible; drop them
                # before paying the DP
                .filter(F.abs(F.length("_nq") - F.length("_nc")) <= t)
            )
    elif strategy == "band":
        # equi-join on length bucket: each candidate is replicated into
        # the 2t+1 probe-lengths it could match; join key is an int, so
        # this is a plain (shuffled or broadcast) hash join that scales
        # past broadcast limits and lets AQE handle skewed bands.
        c_banded = c.withColumn(
            "_band",
            F.explode(F.sequence(F.greatest(F.length("_nc") - t, F.lit(0)), F.length("_nc") + t)),
        )
        banded = p.withColumn("_band", F.length("_nq")).join(c_banded, "_band").drop("_band")
    else:
        banded = p.join(
            F.broadcast(c),
            F.abs(F.length("_nq") - F.length("_nc")) <= t,
        )

    if banded is None:  # qgram dedup_strings: DP already paid per string pair
        return prescored
    return banded.withColumn("dist", F.levenshtein("_nq", "_nc", t).cast("long")).filter(
        F.col("dist") >= 0
    )


# Candidate-count ceiling for the dense one-pass tier path: well under
# any broadcast threshold, so the full cross product per micro-batch is
# |batch| * n_cand <= |batch| * 4096 cheap JVM DP evaluations — the
# same asymptotics as the reference's per-probe scan (main.py:197-230)
# but vectorized and without per-call planning overhead. Env-tunable
# like the union-find edge cap: deployments with longer strings (full
# DP is O(len^2) per pair on far pairs) can lower it; ones with short
# keys and bigger dimension tables can raise it. Measured envelope at
# 4000 candidates (SCALE.md §8): dense wins 2.3x at 32-probe batches,
# crosses over ~1000 probes/call, loses a bounded ~1.5x past it — so
# the gate needs only the candidate count (batch size is unknowable at
# plan time); large-batch callers simply don't pass ``prepared``.
_DENSE_CAND_MAX = int(_os.environ.get("SPARK_GRAFT_DENSE_CANDS", "4096"))

# dedup_strings="auto" flips on when the product of probe-side and
# candidate-side duplication factors (count / approx_count_distinct on
# the normalized key) reaches this — the point where per-string-pair
# work shrinks enough to clear the two extra distinct aggregations
# (~10% at x1, 10.8x win at the x64 duplicate-heavy rung, SCALE.md).
_DEDUP_AUTO_FACTOR = 4.0


def _dense_tiers(p: DataFrame, c: DataFrame, t: int) -> DataFrame:
    """All four tiers from ONE scored cross product + ONE window pass —
    the oracle formulation itself (see tier_oracle_sql): min_pos = min
    positive within-threshold distance, min_all = global min; a pair can
    belong to two tiers (the reference's exact∩poor overlap when a probe
    has a dist-0 match but no 0<dist<=t match), hence the tier-array
    explode. Null-normalized probes/candidates yield null distances and
    drop out of every tier predicate (SQL null semantics), matching the
    banded plan's exclusion of them."""
    w = Window.partitionBy("probe_id")
    dist = F.col("dist")
    scored = (
        p.crossJoin(F.broadcast(c))
        .withColumn("dist", F.levenshtein("_nq", "_nc").cast("long"))
        .withColumn(
            "min_pos",
            F.min(F.when((dist > 0) & (dist <= t), dist)).over(w),
        )
        .withColumn("min_all", F.min(dist).over(w))
    )
    has_pos = F.col("min_pos").isNotNull()
    tier = F.explode(
        F.array_compact(
            F.array(
                F.when(dist == 0, F.lit("exact")),
                F.when(has_pos & (dist == F.col("min_pos")), F.lit("best")),
                F.when(
                    has_pos & (dist > F.col("min_pos")) & (dist > 0) & (dist <= t),
                    F.lit("potential"),
                ),
                F.when(~has_pos & (dist == F.col("min_all")), F.lit("poor")),
            )
        )
    ).alias("tier")
    return scored.select("probe_id", "probe", "cand_id", "cand", "dist", tier)


# Safety valve for the escalation loop: after this many doublings the
# (by then tiny) remainder falls back to a broadcast nested-loop scan.
_FALLBACK_MAX_ROUNDS = 8

# Adaptive shortcut for the escalation ladder: when the remaining-probe
# x candidate product is at most this many pairs, the exact final-width
# round costs less than ONE doubling round's scheduling overhead — jump
# straight to it. The plan stays a bucketed band equi-join (never a
# cartesian); only the width choice adapts, exactly like AQE choosing a
# broadcast join from an observed size.
_FALLBACK_SMALL_PRODUCT = 1 << 20

# First width of top-k's ladder: a probe needs k survivors, not one,
# so top-k starts wider than the fallback's 2t.
_TOPK_START_WIDTH = 8


def _bucketed_band_pairs(
    p_sub: DataFrame, c: DataFrame, width: int, broadcast_cand: bool
) -> DataFrame:
    """Length-band pairing as a bucket equi-join with 3x replication
    regardless of band width: |len(a)-len(b)| <= W implies their
    floor(len/(W+1)) buckets differ by at most 1, so the probe side
    explodes into {b-1, b, b+1} and the exact band predicate filters
    the coarse bucket matches. (The phase-1 band join explodes 2t+1
    integer bands — right for small t; at escalated widths that
    replication would defeat the purpose.)"""
    bw = width + 1
    c_b = c.withColumn("_bkt", F.floor(F.length("_nc") / bw))
    p_b = p_sub.withColumn(
        "_bkt",
        F.explode(
            F.array(*[F.floor(F.length("_nq") / bw) + F.lit(d) for d in (-1, 0, 1)])
        ),
    )
    joined = p_b.join(F.broadcast(c_b) if broadcast_cand else c_b, "_bkt").drop("_bkt")
    return joined.filter(F.abs(F.length("_nq") - F.length("_nc")) <= width)


def _escalate(
    remaining: DataFrame,
    c: DataFrame,
    prepared: PreparedCandidates | None,
    width: int,
    broadcast_cand: bool,
    keep: Callable[[DataFrame, bool], DataFrame],
    extra: T.StructField,
) -> DataFrame:
    """The escalation ladder shared by the ``poor`` fallback and top-k:
    per probe in ``remaining``, the rows ``keep`` selects from its
    scored pairs at the smallest length-band width that settles it,
    instead of a cartesian product.

    Round at width W pairs only the |len(nq)-len(nc)| <= W bucket pairs
    and scores them with the threshold DP ``levenshtein(a, b, W)``:
    every survivor has dist <= W, every candidate outside the band or
    rejected by the DP has dist > W. ``keep(scored, final)`` returns
    the probes whose answer the survivors already prove (the all-ties
    argmin for the tier join — any survivor beats every non-survivor;
    the top-k for top-k — k survivors do), as probe_id, probe, cand_id,
    cand, dist and the ``extra`` column. Unsettled probes roll into the doubled width. The
    round at W >= the longest normalized string (an upper bound on any
    distance) covers every pair with a full DP, so there ``final`` is
    true and every remaining probe settles. Each round is a hash
    equi-join; the cross join survives only as a broadcast nested loop
    over what is left after ``_FALLBACK_MAX_ROUNDS`` rounds.

    Building the result runs Spark jobs (one stats job, one per round).
    The returned rows are localCheckpoint-ed, so every cache made here
    is released before returning; ``prepared`` frames belong to the
    caller.
    """
    schema = T.StructType(
        [
            remaining.schema["probe_id"],
            remaining.schema["probe"],
            c.schema["cand_id"],
            c.schema["cand"],
            T.StructField("dist", T.LongType()),
            extra,
        ]
    )
    empty = remaining.sparkSession.createDataFrame([], schema)
    internal: list[DataFrame] = []

    def _track(df: DataFrame) -> DataFrame:
        df = df.persist()
        internal.append(df)
        return df

    try:
        # null-normalized keys never match (the reference would crash
        # on NaN); left in, they would never settle and force every
        # round. One fused agg per side answers emptiness AND the
        # length bound in a single job.
        remaining = _track(remaining.filter(F.col("_nq").isNotNull()))
        n_rem, max_q = remaining.agg(
            F.count(F.lit(1)), F.max(F.length("_nq"))
        ).first()
        if n_rem == 0:
            return empty
        if prepared is not None:
            matchable = prepared.matchable
            n_cand, max_c = prepared.n_cand, prepared.max_c
        else:
            matchable = _track(c.filter(F.col("_nc").isNotNull()))
            n_cand, max_c = matchable.agg(
                F.count(F.lit(1)), F.max(F.length("_nc"))
            ).first()
        if n_cand == 0:
            return empty

        # dist(q, c) <= max(|q|, |c|): a round at this width is exact
        # and covers every pair — the guaranteed-final round
        bound = max(max_q or 0, max_c or 0)
        parts: list[DataFrame] = []
        if n_rem * n_cand <= _FALLBACK_SMALL_PRODUCT:
            # tiny remainder: one exact round beats the doubling ladder
            width = max(bound, 2)
        # One action per round: the fused agg counts rows AND settled
        # probes (a probe settles with its whole answer in one round or
        # emits nothing), so the remainder size is known without a job
        # over the anti-join. The anti-join parent stays cached one
        # extra round (`prev`) so the next round's action materializes
        # the persisted remainder from cached inputs.
        prev: DataFrame | None = None
        for _ in range(_FALLBACK_MAX_ROUNDS):
            final = width >= bound
            pairs = _bucketed_band_pairs(remaining, matchable, width, broadcast_cand)
            scored = pairs.withColumn(
                "dist",
                (
                    F.levenshtein("_nq", "_nc")
                    if final
                    else F.levenshtein("_nq", "_nc", width)
                ).cast("long"),
            )
            if not final:
                scored = scored.filter(F.col("dist") >= 0)
            part = _track(keep(scored, final))
            part_n, resolved = part.agg(
                F.count(F.lit(1)), F.count_distinct("probe_id")
            ).first()
            parts.append(part)
            if prev is not None:
                prev.unpersist()
                prev = None
            if final:
                break
            if part_n == 0:
                # nothing settled at this width: skip the widths that
                # would also settle nothing and go to the exact round
                width = max(bound, 2)
                continue
            n_rem -= resolved
            if n_rem == 0:
                break
            nxt = _track(
                remaining.join(part.select("probe_id").distinct(), "probe_id", "left_anti")
            )
            prev = remaining
            remaining = nxt
            width = min(width * 2, max(bound, 2))
        else:
            # capped remainder: broadcast the (small) surviving probe
            # side so the nested loop is map-side over candidates —
            # never a shuffled CartesianProduct
            fb = matchable.crossJoin(F.broadcast(remaining))
            parts.append(
                keep(fb.withColumn("dist", F.levenshtein("_nq", "_nc").cast("long")), True)
            )

        out = empty
        for part in parts:
            out = out.unionByName(part)
        # truncate lineage so the result survives the unpersist of every
        # internal cache (the rows are the small settled answer set)
        return out.localCheckpoint(eager=True)
    finally:
        for df in internal:
            df.unpersist()


def topk_fuzzy_join(
    probe: DataFrame,
    cand: DataFrame,
    k: int = 3,
    probe_id: str = "probe_id",
    probe_val: str = "probe",
    cand_id: str = "cand_id",
    cand_val: str = "cand",
    broadcast_cand: bool = True,
    prepared: PreparedCandidates | None = None,
) -> DataFrame:
    """Exact top-k nearest candidates per probe by (edit distance,
    cand_id) — O2 top-k-with-ties generalized from the tiered join's
    global argmin, WITHOUT the cross join.

    Runs the ``poor`` fallback's escalation ladder (``_escalate``; the
    fallback is its k=1 all-ties case) from width
    ``_TOPK_START_WIDTH``: a probe with >= k survivors at width W has
    its k-th smallest survivor distance d_k <= W < any non-survivor
    distance, so the round's top-k by (dist, cand_id) is the GLOBAL
    top-k. Probes with fewer than k survivors roll into the doubled
    width; the exact final round emits every candidate of a probe with
    fewer than k candidates in total.

    Returns probe_id, probe, cand_id, cand, dist (long), rnk (long,
    rank by (dist, cand_id) — dense since cand_id is unique).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    p = _prep(probe, probe_id, probe_val, "probe_id", "probe", "_nq")
    c = prepared.c if prepared is not None else _prep(
        cand, cand_id, cand_val, "cand_id", "cand", "_nc"
    )

    out_cols = ["probe_id", "probe", "cand_id", "cand", "dist", "rnk"]
    wr = Window.partitionBy("probe_id").orderBy("dist", "cand_id")

    # Dense path: when the candidate count is KNOWN and broadcast-small,
    # the ladder is all overhead (stats agg, a persisted round with its
    # own action, an eager localCheckpoint). ONE broadcast nested-loop
    # full-DP pass + ONE rank window is the oracle's formulation, builds
    # zero jobs, and equals the ladder's exact final round; null keys
    # are excluded on both paths.
    if prepared is not None and prepared.n_cand <= _DENSE_CAND_MAX:
        return (
            p.filter(F.col("_nq").isNotNull())
            .crossJoin(F.broadcast(prepared.matchable))
            .withColumn("dist", F.levenshtein("_nq", "_nc").cast("long"))
            .withColumn("rnk", F.rank().over(wr).cast("long"))
            .filter(F.col("rnk") <= k)
            .select(*out_cols)
        )

    wp = Window.partitionBy("probe_id")

    def keep_topk(scored: DataFrame, final: bool) -> DataFrame:
        ranked = scored.withColumn("rnk", F.rank().over(wr).cast("long"))
        if final:
            return ranked.filter(F.col("rnk") <= k).select(*out_cols)
        return (
            ranked.withColumn("_n", F.count(F.lit(1)).over(wp))
            .filter((F.col("_n") >= F.lit(k)) & (F.col("rnk") <= k))
            .select(*out_cols)
        )

    return _escalate(
        p,
        c,
        prepared,
        width=_TOPK_START_WIDTH,
        broadcast_cand=broadcast_cand,
        keep=keep_topk,
        extra=T.StructField("rnk", T.LongType()),
    )


def fuzzy_match_summary(tiers: DataFrame) -> DataFrame:
    """Grouped tier assembly (A3/J9 in SURVEY.md §2): one row per probe
    with the four tiers as sorted arrays of (cand, dist) structs —
    the reference's 4-list return shape (main.py:230), with the
    ``potential`` sort-by-distance applied (main.py:476, :561)."""
    s = F.struct(F.col("dist"), F.col("cand"), F.col("cand_id"))
    agg = tiers.groupBy("probe_id", "probe").agg(
        *[
            F.sort_array(F.collect_list(F.when(F.col("tier") == tier, s))).alias(tier)
            for tier in ("exact", "best", "potential", "poor")
        ]
    )
    return agg
