"""Fuzzy-join query family (SURVEY.md §2.3 J1-J9, §2.6 O1/O2).

Probe sets are derived deterministically from the test tables with
string perturbations expressible identically in Spark and DuckDB, so
every tier (exact / best / potential / poor) is exercised:

* variant 0 — case+punctuation-only change (normalizes equal → exact)
* variant 1 — first char dropped (distance 1 → best/potential)
* variant 2 — reversed (far from everything → poor fallback)
* variant 3 — ``' xq'`` appended (distance 2 → best/potential)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.fuzzy_join import (
    prepare_candidates,
    tiered_fuzzy_join,
    topk_fuzzy_join,
)
from ..sources.parquet import load_table
from .catalog import CACHES, query

NORM_DUCK = "regexp_replace(lower({c}), '[^a-z0-9]', '', 'g')"

_VARIANTS = [
    "upper(replace({name}, ' ', '-'))",
    "substring({name}, 2)",
    "reverse({name})",
    "concat({name}, ' xq')",
]


def _part_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four perturbation variants from ONE aggregation pass: the
    variants explode from an inline array instead of unioning four
    copies of the groupBy (which would scan and aggregate part 4x and
    union their output partitions)."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("name_id"))
    variants = F.array(
        *[
            F.struct(
                F.lit(v).alias("v"), F.expr(tmpl.format(name="p_name")).alias("probe")
            )
            for v, tmpl in enumerate(_VARIANTS)
        ]
    )
    return names.select(
        F.explode(variants).alias("s"), "name_id"
    ).select(
        (F.col("name_id") * 4 + F.col("s.v")).cast("long").alias("probe_id"),
        F.col("s.probe").alias("probe"),
    )


def _part_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_name").agg(F.min("p_partkey").alias("cand_id")).select(
        "cand_id", F.col("p_name").alias("cand")
    )


_PART_PROBES_SQL = (
    "SELECT name_id * 4 + {v} AS probe_id, {expr} AS probe FROM names"
)
_PART_NAMES_CTE = (
    "names AS (SELECT p_name, min(p_partkey) AS name_id FROM part GROUP BY p_name)"
)
_PART_CANDS_CTE = (
    "cands AS (SELECT min(p_partkey) AS cand_id, p_name AS cand FROM part GROUP BY p_name)"
)


def _part_probes_cte() -> str:
    ducks = [
        "upper(replace(p_name, ' ', '-'))",
        "substr(p_name, 2)",
        "reverse(p_name)",
        "p_name || ' xq'",
    ]
    selects = [
        _PART_PROBES_SQL.format(v=v, expr=expr) for v, expr in enumerate(ducks)
    ]
    return "probes AS (" + " UNION ALL ".join(selects) + ")"


def tier_oracle_sql(probes_cte: str, cands_cte: str, extra_ctes: str, threshold: int) -> str:
    """DuckDB oracle for the tiered fuzzy join: full cross join + window
    mins + one SELECT per tier. Mirrors find_matches semantics exactly
    (/root/reference/main.py:197-230) including the exact∩poor overlap
    when a probe has a dist-0 match but no 0<dist<=t match."""
    t = threshold
    nq = NORM_DUCK.format(c="probe")
    nc = NORM_DUCK.format(c="cand")
    return f"""
WITH {extra_ctes}{probes_cte},
{cands_cte},
scored AS (
  SELECT probe_id, probe, cand_id, cand,
         CAST(levenshtein({nq}, {nc}) AS BIGINT) AS dist
  FROM probes CROSS JOIN cands
),
agg AS (
  SELECT *,
         min(CASE WHEN dist > 0 AND dist <= {t} THEN dist END)
             OVER (PARTITION BY probe_id) AS min_pos,
         min(dist) OVER (PARTITION BY probe_id) AS min_all
  FROM scored
)
SELECT probe_id, probe, cand_id, cand, dist, 'exact' AS tier FROM agg WHERE dist = 0
UNION ALL
SELECT probe_id, probe, cand_id, cand, dist, 'best' AS tier FROM agg
WHERE min_pos IS NOT NULL AND dist = min_pos
UNION ALL
SELECT probe_id, probe, cand_id, cand, dist, 'potential' AS tier FROM agg
WHERE min_pos IS NOT NULL AND dist > min_pos AND dist > 0 AND dist <= {t}
UNION ALL
SELECT probe_id, probe, cand_id, cand, dist, 'poor' AS tier FROM agg
WHERE min_pos IS NULL AND dist = min_all
"""


_FLAGSHIP_ORACLE = tier_oracle_sql(
    _part_probes_cte(), _PART_CANDS_CTE, _PART_NAMES_CTE + ",\n", threshold=3
)


@query("fuzzy_join_tiers", oracle=_FLAGSHIP_ORACLE)
def fuzzy_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: tiered fuzzy join of perturbed part names against the
    distinct part-name catalog (threshold 3, the reference default at
    /root/reference/main.py:197 and config.ini:13).

    The candidate stats are computed up front (``prepare_candidates``)
    so the operator's dense one-pass path can fire when the measured
    candidate count is broadcast-small — the distinct part-name catalog
    is tiny at every harness SF, and the two-phase banded plan plus the
    escalating ``poor`` fallback then cost ~20 extra scheduler jobs per
    call (measured: 22 build jobs / ~2.8 s of the fallback loop vs
    ~0.4 s for the dense action at sf0.1). Results are identical by
    construction — the dense path is the same all-four-tiers
    formulation the oracle states, and the streaming row hash-matches
    this exact oracle through it. At a SF where the name catalog
    outgrows _DENSE_CAND_MAX the gate routes back to the banded
    two-phase plan automatically."""
    prepared = prepare_candidates(
        _part_cands(spark, sf_dir), cache_registry=CACHES
    )
    return tiered_fuzzy_join(
        _part_probes(spark, sf_dir),
        _part_cands(spark, sf_dir),
        threshold=3,
        cache_registry=CACHES,
        prepared=prepared,
    )


# ---------------------------------------------------------------------------
# Heavier variant over documents (bench workload): probe = every 10th
# document's leading 24 chars, candidates = all documents' leading 24
# chars. Exercises the band-join scale path.
# ---------------------------------------------------------------------------

_DOCS_PROBES_CTE = (
    "probes AS (SELECT doc_id AS probe_id, substr(text, 1, 24) AS probe "
    "FROM documents WHERE doc_id % 10 = 0)"
)
_DOCS_CANDS_CTE = (
    "cands AS (SELECT doc_id AS cand_id, substr(text, 1, 24) AS cand FROM documents)"
)

_DOCS_ORACLE = tier_oracle_sql(_DOCS_PROBES_CTE, _DOCS_CANDS_CTE, "", threshold=5)


@query("fuzzy_join_docs", oracle=_DOCS_ORACLE)
def fuzzy_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("probe_id"), F.substring("text", 1, 24).alias("probe")
    )
    cands = docs.select(
        F.col("doc_id").alias("cand_id"), F.substring("text", 1, 24).alias("cand")
    )
    # qgram blocking: the corpus' 24-char prefixes all have ~the same
    # length, so length banding keeps nearly every pair; the q-gram
    # prefix filter is what actually prunes here (and at 100 TB).
    # dedup_strings: short prefix keys collide naturally, so the gram
    # build + DP run once per distinct normalized string pair — faster
    # at every measured duplication factor and the ONLY plan that holds
    # the 64x duplicate-heavy rung without spilling (SCALE.md §10:
    # 80s/zero-spill vs 869s/326GB); results identical by construction
    # and pinned by the equivalence test + this query's oracle hash.
    return tiered_fuzzy_join(
        probes,
        cands,
        threshold=5,
        strategy="qgram",
        cache_registry=CACHES,
        dedup_strings=True,
    )


# Not driven: band-strategy variant of fuzzy_join_docs, same oracle.
@query("fuzzy_join_docs_band", oracle=_DOCS_ORACLE, driver=False)
def fuzzy_join_docs_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query, length-band blocking — strategy equivalence: both
    variants must hash-match the ONE oracle."""
    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("probe_id"), F.substring("text", 1, 24).alias("probe")
    )
    cands = docs.select(
        F.col("doc_id").alias("cand_id"), F.substring("text", 1, 24).alias("cand")
    )
    return tiered_fuzzy_join(
        probes, cands, threshold=5, strategy="band", cache_registry=CACHES
    )


# ---------------------------------------------------------------------------
# Top-k nearest candidates per probe (O2: rank with ties; J8/O1 ordering)
# ---------------------------------------------------------------------------

_TOPK_ORACLE = f"""
WITH {_PART_NAMES_CTE},
probes AS (SELECT name_id AS probe_id, substr(p_name, 2) AS probe FROM names),
{_PART_CANDS_CTE},
scored AS (
  SELECT probe_id, probe, cand_id, cand,
         CAST(levenshtein({NORM_DUCK.format(c='probe')}, {NORM_DUCK.format(c='cand')}) AS BIGINT) AS dist
  FROM probes CROSS JOIN cands
)
SELECT probe_id, probe, cand_id, cand, dist,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, rank() OVER (PARTITION BY probe_id ORDER BY dist, cand_id) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


@query("fuzzy_topk", oracle=_TOPK_ORACLE)
def fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest candidates per probe by edit distance — the
    reference's best-tier argmin (main.py:212-216) generalized to k
    with rank() tie semantics, computed via escalating length-band
    equi-joins (no O(P*C) full-DP cross join — the naive rank()
    formulation's plan dies at 100x).

    Candidate stats are computed up front (``prepare_candidates``,
    same as the flagship) so the operator's dense broadcast path fires
    for the broadcast-small name catalog — the escalation ladder's 2
    stats aggregations + persisted round + eager localCheckpoint cost
    ~16 build jobs per call where the dense plan builds zero. Above
    _DENSE_CAND_MAX the ladder runs unchanged."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("name_id"))
    probes = names.select(
        F.col("name_id").cast("long").alias("probe_id"),
        F.expr("substring(p_name, 2)").alias("probe"),
    )
    prepared = prepare_candidates(
        _part_cands(spark, sf_dir), cache_registry=CACHES
    )
    return topk_fuzzy_join(
        probes, _part_cands(spark, sf_dir), k=3, prepared=prepared
    )


# ---------------------------------------------------------------------------
# Tier cardinality rollup (A1/A2/A3): counts + distance envelope per tier
# ---------------------------------------------------------------------------

_TIER_COUNTS_ORACLE = f"""
WITH flag AS ({_FLAGSHIP_ORACLE})
SELECT tier,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT probe_id) AS BIGINT) AS n_probes,
       CAST(min(dist) AS BIGINT) AS min_dist,
       CAST(max(dist) AS BIGINT) AS max_dist
FROM flag GROUP BY tier
"""


# ---------------------------------------------------------------------------
# Tier assembly (A3/J9): the reference's per-probe 4-list return shape
# (main.py:230) with the potential sort applied (main.py:476, :561).
# Lists are serialized "cand~dist|cand~dist" ordered by (dist, cand_id)
# so the grouped nested result is portably hash-checkable.
# ---------------------------------------------------------------------------

def _tier_list_expr(tier: str) -> str:
    return (
        f"array_join(transform(array_sort(collect_list("
        f"CASE WHEN tier = '{tier}' THEN struct(dist, cand_id, cand) END)),"
        f" s -> concat(s.cand, '~', s.dist)), '|') AS {tier}_list"
    )


_ASSEMBLY_ORACLE = f"""
WITH flag AS ({_FLAGSHIP_ORACLE})
SELECT probe_id, probe,
       {", ".join(
           f"coalesce(string_agg(cand || '~' || dist, '|' ORDER BY dist, cand_id)"
           f" FILTER (WHERE tier = '{t}'), '') AS {t}_list"
           for t in ("exact", "best", "potential", "poor"))}
FROM flag GROUP BY probe_id, probe
"""


@query("fuzzy_tier_assembly", oracle=_ASSEMBLY_ORACLE)
def fuzzy_tier_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiers = fuzzy_join_tiers(spark, sf_dir)
    return tiers.groupBy("probe_id", "probe").agg(
        *[F.expr(_tier_list_expr(t)) for t in ("exact", "best", "potential", "poor")]
    )


# ---------------------------------------------------------------------------
# T1 (the reference's producer/consumer pipeline, main.py:501-518) as a
# driver-checked query: the SAME probe set flows through a bounded file
# STREAM in disjoint micro-batches, each batch tier-joined against the
# static candidate table and written to a parquet sink. The tiered join
# is per-probe independent, so the union over epochs equals the batch
# flagship result — which is why the batch flagship oracle checks it.
# ---------------------------------------------------------------------------


@query("streaming_fuzzy_tiers", oracle=_FLAGSHIP_ORACLE)
def streaming_fuzzy_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed drain of ``run_find_compare``
    (``pipeline._drain_stream``) with the tier join as each epoch's
    rows: the probes are written as 4 parquet files and drained with
    availableNow from a checkpoint in the run directory, and each
    epoch's tier table lands in a flat parquet sink, replay-safe. The
    epoch callable joins against the catalog prepared once here, as
    ``fuzzy_join_tiers`` does, so an epoch takes the dense one-pass
    path; the 4 files of 64 probes x 64 names drain in one epoch, which
    takes every available file. Returns a scan of the sink."""
    import os

    from ..pipeline import _drain_stream
    from ..sources.union import ParquetFooters
    from ..streaming.pipeline import _stream_confs
    from ..util import fresh_run_dir

    base = fresh_run_dir("fuzzy_stream", sf_dir)
    probes_dir = os.path.join(base, "probes")
    sink = os.path.join(base, "out")
    # materialize the probe set as a 4-file stream source of disjoint
    # probe subsets
    _part_probes(spark, sf_dir).repartition(4).write.parquet(probes_dir)
    # the candidate table is static across epochs: normalized, persisted
    # and measured once, and released by the registry's next-query cache
    # sweep
    prepared = prepare_candidates(_part_cands(spark, sf_dir), cache_registry=CACHES)
    with _stream_confs(spark):
        _drain_stream(
            spark,
            probes_dir,
            sink,
            lambda batch, reg: tiered_fuzzy_join(
                batch, prepared.c, threshold=3, cache_registry=reg, prepared=prepared
            ),
            checkpoint=os.path.join(base, "ckpt"),
        )
    return ParquetFooters(spark).frame(sink)


# Not driven: a count over fuzzy_join_tiers, which is driven.
@query("fuzzy_tier_counts", oracle=_TIER_COUNTS_ORACLE, driver=False)
def fuzzy_tier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs, distinct probes and distance range per tier of
    ``fuzzy_join_tiers``."""
    tiers = fuzzy_join_tiers(spark, sf_dir)
    return tiers.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("probe_id").cast("long").alias("n_probes"),
        F.min("dist").cast("long").alias("min_dist"),
        F.max("dist").cast("long").alias("max_dist"),
    )
