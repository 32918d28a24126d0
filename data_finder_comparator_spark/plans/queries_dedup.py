"""Dedup query family (north-star extensions): exact, MinHash-LSH,
n-gram Jaccard, SimHash — each oracle-checked against DuckDB computing
the identical md5-based signatures."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    char_shingles,
    exact_canonical_map,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_lsh_bands,
    simhash32,
)
from ..sources.parquet import load_table
from .catalog import CACHES, query, track

_NORM = "regexp_replace(lower(text), '[^a-z0-9]', '', 'g')"

# shared DuckDB CTE: distinct char-5-gram shingles of normalized text
_SHINGLES_CTE = f"""
shingles AS (
  SELECT DISTINCT doc_id, substr(n, unnest(range(1, len(n) - 3)), 5) AS shingle
  FROM (SELECT doc_id, {_NORM} AS n FROM documents)
  WHERE len(n) >= 5
)
"""

# ---------------------------------------------------------------------------
# Exact dedup: canonical-id map via content hash.
# ---------------------------------------------------------------------------

_EXACT_ORACLE = f"""
WITH hashed AS (
  SELECT doc_id, md5({_NORM}) AS content_hash FROM documents
),
canon AS (
  SELECT content_hash, min(doc_id) AS canonical_id,
         CAST(count(*) AS BIGINT) AS n_copies
  FROM hashed GROUP BY content_hash
)
SELECT h.doc_id, h.content_hash, c.canonical_id, c.n_copies
FROM hashed h JOIN canon c USING (content_hash)
"""


@query("dedup_exact", oracle=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_canonical_map(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs (12 hashes, 4 bands x 3 rows).
# ---------------------------------------------------------------------------

_MINHASH_ORACLE = f"""
WITH {_SHINGLES_CTE.strip()},
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
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # distinct=False: a min() can't see duplicates, so the dedup shuffle
    # is pure waste here — the explode pipelines straight into the
    # signature aggregation (oracle keeps DISTINCT; results identical)
    sh = char_shingles(docs, "doc_id", "text", k=5, distinct=False)
    return lsh_candidate_pairs(minhash_lsh_bands(sh, 12, 3), cache_registry=CACHES)


# ---------------------------------------------------------------------------
# Duplicate clusters: LSH candidate pairs -> connected components ->
# (doc_id, cluster_id, cluster_size). Pairs alone don't dedup a corpus;
# the transitive closure does (A~B, B~C => one cluster {A,B,C}, keep
# min-id). Spark side is iterative min-label propagation (see
# operators/dedup.connected_components); the oracle is DuckDB's
# recursive CTE computing the same closure exactly.
# ---------------------------------------------------------------------------

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_MINHASH_ORACLE.strip()}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
labels AS (
  SELECT node AS doc_id, CAST(min(root) AS BIGINT) AS cluster_id
  FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM labels
"""


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sh = char_shingles(docs, "doc_id", "text", k=5, distinct=False)
    pairs = lsh_candidate_pairs(minhash_lsh_bands(sh, 12, 3), cache_registry=CACHES)
    labels = connected_components(
        pairs, nodes=docs.select("doc_id"), cache_registry=CACHES
    )
    # r18 (optimization): cluster_size as ONE window over cluster_id —
    # the oracle's own formulation — instead of a groupBy + self-join,
    # which paid two exchanges (agg + join) where the window pays one.
    # Equal by definition: count(*) over (partition by cluster_id) is
    # exactly the joined group count.
    from pyspark.sql import Window

    return labels.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("long")
        .alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (probes = every 10th doc), integer
# threshold 4*|A∩B| >= |A∪B| (jaccard >= 0.25).
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH {_SHINGLES_CTE.strip()},
probe_sh AS (SELECT * FROM shingles WHERE doc_id % 10 = 0),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.doc_id AS doc_a, c.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter_n
  FROM probe_sh p JOIN shingles c ON p.shingle = c.shingle AND p.doc_id <> c.doc_id
  GROUP BY p.doc_id, c.doc_id
)
SELECT doc_a, doc_b, inter_n,
       CAST(sa.n + sb.n - inter_n AS BIGINT) AS union_n
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_n * 4 >= (sa.n + sb.n - inter_n) * 1
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # consumed four times (probe side, candidate side, both size aggs):
    # persist the exploded+distinct shingle table once
    sh = track(char_shingles(docs, "doc_id", "text", k=5))
    probes = sh.filter(F.col("doc_id") % 10 == 0)
    return jaccard_pairs(probes, sh, num=1, den=4)


# ---------------------------------------------------------------------------
# n-gram Jaccard with the hot-shingle cap — the scale variant. Shingles
# in > 5% of docs are dropped BEFORE the equi-join on both sides (and
# identically in the oracle): the ubiquitous-shingle fanout is the part
# of the all-pairs join that doesn't survive 100 TB, and the dropped
# shingles carry ~no similarity signal.
# ---------------------------------------------------------------------------

_JACCARD_CAPPED_ORACLE = f"""
WITH {_SHINGLES_CTE.strip()},
n_docs AS (SELECT count(DISTINCT doc_id) AS nd FROM shingles),
cool AS (
  SELECT s.* FROM shingles s
  JOIN (SELECT shingle FROM shingles, n_docs
        GROUP BY shingle, nd HAVING count(*) <= nd * 0.05) c
  USING (shingle)
),
probe_sh AS (SELECT * FROM cool WHERE doc_id % 10 = 0),
sizes AS (SELECT doc_id, count(*) AS n FROM cool GROUP BY doc_id),
inter AS (
  SELECT p.doc_id AS doc_a, c.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter_n
  FROM probe_sh p JOIN cool c ON p.shingle = c.shingle AND p.doc_id <> c.doc_id
  GROUP BY p.doc_id, c.doc_id
)
SELECT doc_a, doc_b, inter_n,
       CAST(sa.n + sb.n - inter_n AS BIGINT) AS union_n
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_n * 4 >= (sa.n + sb.n - inter_n) * 1
"""


# Not driven: df-capped variant of dedup_ngram_jaccard (same semantics).
@query("dedup_ngram_jaccard_capped", oracle=_JACCARD_CAPPED_ORACLE, driver=False)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import drop_hot_shingles

    docs = load_table(spark, sf_dir, "documents")
    # persisted BEFORE the count action: the explode is consumed three
    # times (doc count, hot-shingle agg, anti-join input)
    sh = track(char_shingles(docs, "doc_id", "text", k=5))
    n_docs = sh.select("doc_id").distinct().count()
    cool = track(drop_hot_shingles(sh, max_df=int(n_docs * 0.05)))
    probes = cool.filter(F.col("doc_id") % 10 == 0)
    return jaccard_pairs(probes, cool, num=1, den=4)


# ---------------------------------------------------------------------------
# Hybrid two-stage near-dup: MinHash-LSH generates candidate pairs
# (cheap, text-level recall), the embedding cosine verifies them
# (semantic precision) — the staged candidate-generate-then-verify
# shape real curation pipelines use, here end-to-end oracle-checked.
# documents.doc_id and embeddings.vec_id are aligned 1:1.
# ---------------------------------------------------------------------------

_HYBRID_ORACLE = f"""
WITH pairs AS ({_MINHASH_ORACLE.strip()}),
scored AS (
  SELECT doc_a, doc_b,
         round(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
           / sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))
                * list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))), 6)
           AS cos_sim
  FROM pairs
  JOIN embeddings p ON p.vec_id = doc_a
  JOIN embeddings c ON c.vec_id = doc_b
)
SELECT doc_a, doc_b, cos_sim FROM scored WHERE cos_sim >= 0.2
"""


@query("dedup_hybrid_verify", oracle=_HYBRID_ORACLE)
def dedup_hybrid_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot

    pairs = dedup_minhash_lsh(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    p = emb.select(
        F.col("vec_id").cast("long").alias("doc_a"), F.col("embedding").alias("_vp")
    ).withColumn("_np", dot("_vp", "_vp"))
    c = emb.select(
        F.col("vec_id").cast("long").alias("doc_b"), F.col("embedding").alias("_vc")
    ).withColumn("_nc", dot("_vc", "_vc"))
    return (
        pairs.join(F.broadcast(p), "doc_a")
        .join(F.broadcast(c), "doc_b")
        .withColumn(
            "cos_sim",
            F.round(dot("_vp", "_vc") / F.sqrt(F.col("_np") * F.col("_nc")), 6),
        )
        .filter(F.col("cos_sim") >= 0.2)
        .select("doc_a", "doc_b", "cos_sim")
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints (32-bit, md5-nibble majority vote).
# ---------------------------------------------------------------------------

_SIMHASH_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
  FROM documents
),
nib AS (
  SELECT doc_id, j,
         strpos('0123456789abcdef', substr(md5(tok), j + 1, 1)) - 1 AS nibble
  FROM (SELECT doc_id, tok FROM toks WHERE tok <> ''),
       (SELECT unnest(range(0, 8)) AS j)
),
bits AS (
  SELECT doc_id, j * 4 + b AS bitpos,
         (nibble // CAST(pow(2, b) AS INTEGER)) % 2 AS bit
  FROM nib, (SELECT unnest(range(0, 4)) AS b)
),
votes AS (
  SELECT doc_id, bitpos, sum(bit * 2 - 1) AS vote
  FROM bits GROUP BY doc_id, bitpos
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote >= 0 THEN CAST(pow(2, bitpos) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash32(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Line-level exact dedup (the C4-style curation step): split each
# document into '.'-separated lines, keep a line only at its GLOBALLY
# first occurrence (min (doc_id, pos) over every document containing
# that normalized line), and report per-document survival stats plus a
# fingerprint of the reassembled text. The reference has no analogue;
# this is the intra-corpus boilerplate-removal pass every large
# training-data pipeline runs before near-dup detection.
#
# Scale shape: first occurrences come from a HASH AGGREGATION
# (groupBy(line_hash).agg(min(struct(doc_id, pos)))) rather than a
# rank-1 window — partial aggregation combines hot boilerplate lines
# map-side, so a line appearing in millions of documents never
# serializes one sort partition; the join back on the line hash is
# AQE-skew-splittable. Output cardinality is |documents| (stats +
# fingerprint), never the line table.
# ---------------------------------------------------------------------------

_LINE_DEDUP_ORACLE = """
WITH parts AS (SELECT doc_id, string_split(text, '.') AS p FROM documents),
idx AS (SELECT doc_id, p, unnest(range(0, len(p))) AS pos FROM parts),
lines AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, trim(p[pos + 1]) AS line
  FROM idx WHERE trim(p[pos + 1]) <> ''
),
keyed AS (SELECT *, md5(lower(line)) AS lkey FROM lines),
firstdoc AS (SELECT lkey, min(doc_id) AS fd FROM keyed GROUP BY lkey),
firstpos AS (
  SELECT k.lkey, f.fd, min(k.pos) AS fp
  FROM keyed k JOIN firstdoc f ON k.lkey = f.lkey AND k.doc_id = f.fd
  GROUP BY k.lkey, f.fd
),
flagged AS (
  SELECT k.doc_id, k.pos, k.line,
         (k.doc_id = fp.fd AND k.pos = fp.fp) AS keep
  FROM keyed k JOIN firstpos fp ON k.lkey = fp.lkey
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(
           string_agg(CASE WHEN keep THEN line END, '.' ORDER BY pos), ''
       )) AS kept_md5
FROM flagged GROUP BY doc_id
"""


@query("line_dedup_stats", oracle=_LINE_DEDUP_ORACLE)
def line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lines = (
        docs.select("doc_id", F.posexplode(F.split("text", "\\.")).alias("pos", "line"))
        .withColumn("line", F.trim("line"))
        .filter(F.col("line") != "")
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "line")
        .withColumn("lkey", F.md5(F.lower("line")))
    )
    lines = track(lines)  # consumed twice: first-occurrence agg + join back
    # hash-agg argmin (partial agg absorbs boilerplate-line skew
    # map-side; a rank-1 window would sort one hot partition per
    # popular line). struct-min plans as SortAggregate locally — the
    # skew robustness is worth it on this corpus-sized key space.
    firsts = lines.groupBy("lkey").agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    flagged = lines.join(firsts, "lkey").withColumn(
        "keep",
        (F.col("doc_id") == F.col("first.doc_id")) & (F.col("pos") == F.col("first.pos")),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                ".",
            )
        ).alias("kept_md5"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch — the mergeable-cardinality operator
# (corpus-wide distinct URLs/hashes/tokens without a count-distinct
# shuffle of the raw values). p=8 -> m=256 registers; the register
# update is pure map-side arithmetic on an md5-derived 60-bit value and
# the shuffle carries AT MOST 256 partially-merged rows per partition —
# at 100 TB the network moves kilobytes. Registers are mergeable across
# shards/days by construction (max per register). Unlike the built-in
# approx_count_distinct (whose HLL++ internals an external engine can't
# reproduce), every step here is deterministic and restated exactly in
# the DuckDB oracle: same md5, same bit-slices, same integer-scaled
# harmonic sum (sum of 2^(50-rho) as BIGINT — one float division at the
# very end), same baked-in alpha*m^2*2^50 literal, so even the float
# estimate hash-matches. The standard small-range linear-counting
# correction (est < 2.5m with empty registers) applies on both sides.
# The 2^50 scale covers rho up to 50 before the integer sum floors
# (sums stay exact: <= 256 * 2^50 = 2^58 < BIGINT max), so the
# estimate saturates only around alpha*m*2^50 ~ 2e17 distinct — above
# any 100 TB corpus cardinality. (A 2^25 scale would plateau at ~6e9.)
# ---------------------------------------------------------------------------

_HLL_C = "5.2999162811336204e+19"  # 0.7213/(1+1.079/256) * 256^2 * 2^50
_HLL_EMPTY = 1125899906842624  # 2^50: an empty register's sum term (rho=0)
_HLL_ORACLE = f"""
WITH v AS (SELECT CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS v
           FROM documents),
b AS (SELECT v // 4503599627370496 AS register_id,
             v % 4503599627370496 AS w FROM v),
r AS (SELECT register_id,
             CASE WHEN strpos(lpad(bin(w), 52, '0'), '1') = 0 THEN 53
                  ELSE strpos(lpad(bin(w), 52, '0'), '1') END AS rho
      FROM b),
reg AS (SELECT register_id, CAST(max(rho) AS BIGINT) AS max_rho
        FROM r GROUP BY register_id),
s AS (SELECT count(*) AS n_present,
             sum(CAST(1 AS BIGINT) << (50 - least(max_rho, 50))) AS ssum
      FROM reg),
e AS (SELECT 256 - n_present AS n_zeros,
             {_HLL_C} / (ssum + (256 - n_present) * {_HLL_EMPTY}) AS raw
      FROM s)
SELECT reg.register_id, reg.max_rho,
       CAST(e.n_zeros AS BIGINT) AS n_zeros,
       CAST(round(CASE WHEN e.n_zeros > 0 AND e.raw < 640.0
                       THEN 256 * ln(256.0 / e.n_zeros)
                       ELSE e.raw END, 4) AS DOUBLE) AS est_distinct
FROM reg CROSS JOIN e
"""


def _hll_rho_rows(docs: DataFrame) -> DataFrame:
    """(register_id, rho) per document text: md5 -> 60-bit value, top 8
    bits pick the register, leading-zero rank of the low 52 bits.
    Non-text columns (e.g. a shard key) pass through."""
    extra = [c for c in docs.columns if c != "text"]
    v = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    d = docs.select(v.alias("v"), *extra).select(
        F.shiftright("v", 52).alias("register_id"),
        F.expr("v & 4503599627370495").alias("w"),
        *extra,
    )
    pos = F.instr(F.lpad(F.bin("w"), 52, "0"), "1")
    rho = F.when(pos == 0, F.lit(53)).otherwise(pos)
    return d.select("register_id", rho.alias("rho"), *extra)


def _hll_finalize(reg: DataFrame) -> DataFrame:
    """Attach (n_zeros, est_distinct) to a merged register table via the
    integer-scaled harmonic sum + linear-counting correction. ``reg``
    must have (register_id, max_rho); extra columns pass through."""
    summary = reg.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), 50 - least(max_rho, 50))")
        ).alias("ssum"),
    ).select(
        (256 - F.col("n_present")).cast("long").alias("n_zeros"),
        (
            F.lit(float(_HLL_C))
            / (F.col("ssum") + (256 - F.col("n_present")) * _HLL_EMPTY)
        ).alias("raw"),
    )
    est = F.when(
        (F.col("n_zeros") > 0) & (F.col("raw") < 640.0),
        256 * F.log(256.0 / F.col("n_zeros")),
    ).otherwise(F.col("raw"))
    return reg.crossJoin(
        F.broadcast(summary.select("n_zeros", F.round(est, 4).alias("est_distinct")))
    )


# Not driven: hll_merge_shards drives the same sketch.
@query("hll_distinct_sketch", oracle=_HLL_ORACLE, driver=False)
def hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL (p=8) over document texts: md5 -> 60-bit value
    -> (register, leading-zero rank) map-side, max per register, integer
    -scaled harmonic sum, one closing division. Returns the full
    register table (the mergeable sketch state) with the zero-register
    count and the corrected estimate attached."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    reg = (
        _hll_rho_rows(docs)
        .groupBy("register_id")
        .agg(F.max("rho").cast("long").alias("max_rho"))
    )
    reg = track(reg)
    return _hll_finalize(reg)


# Not driven: streamed form of hll_distinct_sketch, same oracle.
@query("hll_register_stream", oracle=_HLL_ORACLE, driver=False)
def hll_register_stream_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL distinct-text sketch maintained over a document STREAM:
    per micro-batch, the batch's register partials (<=256 tiny rows)
    are appended to a parquet sink; the final sketch is the
    register-wise max over everything appended, finalized identically
    to the batch sketch. Register-max is associative and commutative,
    so the result is INDEPENDENT of micro-batching — the streaming
    sketch must equal `hll_distinct_sketch` exactly and the SAME DuckDB
    oracle checks both (stream/batch equivalence extended to sketch
    state). State per epoch through the sink is kilobytes regardless of
    corpus size: a 100 TB ingest keeps a live cardinality estimate
    without ever rescanning."""
    from ..streaming.pipeline import hll_register_stream

    return hll_register_stream(spark, sf_dir, f"reg|{sf_dir}")


# ---------------------------------------------------------------------------
# HLL mergeability, driver-pinned: build one register table PER SOURCE
# SHARD (the per-day / per-shard sketch a 100 TB pipeline would persist),
# then merge by register-wise max — the operation that lets yesterday's
# sketch absorb today's without rescanning either corpus. The merged
# estimate must equal the direct single-pass sketch's (max is
# associative), and the oracle restates the same two-level aggregation,
# so the driver hash-checks the merge algebra itself, not just the
# docstring claim.
# ---------------------------------------------------------------------------

_HLL_MERGE_ORACLE = f"""
WITH v AS (SELECT source,
                  CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS v
           FROM documents),
b AS (SELECT source, v // 4503599627370496 AS register_id,
             v % 4503599627370496 AS w FROM v),
r AS (SELECT source, register_id,
             CASE WHEN strpos(lpad(bin(w), 52, '0'), '1') = 0 THEN 53
                  ELSE strpos(lpad(bin(w), 52, '0'), '1') END AS rho
      FROM b),
shard AS (SELECT source, register_id, max(rho) AS shard_rho
          FROM r GROUP BY source, register_id),
reg AS (SELECT register_id,
               CAST(max(shard_rho) AS BIGINT) AS max_rho,
               CAST(count(*) AS BIGINT) AS n_shards
        FROM shard GROUP BY register_id),
s AS (SELECT count(*) AS n_present,
             sum(CAST(1 AS BIGINT) << (50 - least(max_rho, 50))) AS ssum
      FROM reg),
e AS (SELECT 256 - n_present AS n_zeros,
             {_HLL_C} / (ssum + (256 - n_present) * {_HLL_EMPTY}) AS raw
      FROM s)
SELECT reg.register_id, reg.max_rho, reg.n_shards,
       CAST(e.n_zeros AS BIGINT) AS n_zeros,
       CAST(round(CASE WHEN e.n_zeros > 0 AND e.raw < 640.0
                       THEN 256 * ln(256.0 / e.n_zeros)
                       ELSE e.raw END, 4) AS DOUBLE) AS est_distinct
FROM reg CROSS JOIN e
"""


@query("hll_merge_shards", oracle=_HLL_MERGE_ORACLE)
def hll_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level HLL: per-source shard sketches (max rho per (source,
    register) — map-side partials, <=256 rows per shard through the
    exchange), merged by register-wise max into one corpus sketch whose
    estimate is finalized identically to the direct sketch. n_shards
    per register pins that a real multi-shard merge happened."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    shard = (
        _hll_rho_rows(docs)
        .groupBy("source", "register_id")
        .agg(F.max("rho").alias("shard_rho"))
    )
    reg = shard.groupBy("register_id").agg(
        F.max("shard_rho").cast("long").alias("max_rho"),
        F.count(F.lit(1)).cast("long").alias("n_shards"),
    )
    reg = track(reg)
    return _hll_finalize(reg)


# ---------------------------------------------------------------------------
# Cluster survivor selection: one canonical document per duplicate
# cluster (longest text, smallest id on ties) on top of the connected-
# components labels — the "which copy do we keep" step that turns
# dedup_clusters' diagnosis into a curation decision. The oracle
# restates the survivor rule as a window over the same recursive-CTE
# closure; the Spark side is one equi-join + one max(struct) hash agg
# (no per-cluster window — a giant cluster costs CPU, never memory).
# ---------------------------------------------------------------------------

_CANONICAL_ORACLE = f"""
WITH cl AS ({_CLUSTERS_ORACLE}),
ranked AS (
  SELECT cluster_id, doc_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY length(text) DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM cl JOIN documents USING (doc_id)
)
SELECT cluster_id, CAST(doc_id AS BIGINT) AS canonical_id,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


@query("cluster_canonical", oracle=_CANONICAL_ORACLE)
def cluster_canonical_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor per duplicate cluster, composed over the same LSH ->
    connected-components labels as dedup_clusters (shared subtrees
    persist via the CACHES registry)."""
    from ..operators.dedup import cluster_canonical, connected_components

    docs = load_table(spark, sf_dir, "documents")
    sh = char_shingles(docs, "doc_id", "text", k=5, distinct=False)
    pairs = lsh_candidate_pairs(minhash_lsh_bands(sh, 12, 3), cache_registry=CACHES)
    labels = connected_components(
        pairs, nodes=docs.select("doc_id"), cache_registry=CACHES
    )
    return cluster_canonical(labels, docs)


# ---------------------------------------------------------------------------
# Grouped HLL: per-language distinct-text estimates — the GROUPED
# sketch shape (GROUP BY key, register) a per-domain / per-day
# cardinality report needs at 100 TB: state is 256 registers PER GROUP,
# partials combine map-side, and the finalize is a per-group aggregate
# (no broadcast of a global summary — every stage keys on lang).
# ---------------------------------------------------------------------------

_GROUPED_HLL_ORACLE = f"""
WITH v AS (SELECT lang, CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS v
           FROM documents),
b AS (SELECT lang, v // 4503599627370496 AS register_id,
             v % 4503599627370496 AS w FROM v),
r AS (SELECT lang, register_id,
             CASE WHEN strpos(lpad(bin(w), 52, '0'), '1') = 0 THEN 53
                  ELSE strpos(lpad(bin(w), 52, '0'), '1') END AS rho
      FROM b),
reg AS (SELECT lang, register_id, CAST(max(rho) AS BIGINT) AS max_rho
        FROM r GROUP BY lang, register_id),
s AS (SELECT lang, count(*) AS n_present,
             sum(CAST(1 AS BIGINT) << (50 - least(max_rho, 50))) AS ssum
      FROM reg GROUP BY lang),
e AS (SELECT lang, 256 - n_present AS n_zeros,
             {_HLL_C} / (ssum + (256 - n_present) * {_HLL_EMPTY}) AS raw
      FROM s)
SELECT lang, CAST(n_zeros AS BIGINT) AS n_zeros,
       CAST(round(CASE WHEN n_zeros > 0 AND raw < 640.0
                       THEN 256 * ln(256.0 / n_zeros)
                       ELSE raw END, 4) AS DOUBLE) AS est_distinct
FROM e
"""


# Not driven: per-group variant of the sketch hll_merge_shards drives.
@query("grouped_hll_by_lang", oracle=_GROUPED_HLL_ORACLE, driver=False)
def grouped_hll_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language HLL distinct-text estimate: same 2^50 integer-scaled
    register arithmetic as hll_distinct_sketch, grouped on lang at
    every stage so the sketch parallelizes per group."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    reg = (
        _hll_rho_rows(docs)
        .groupBy("lang", "register_id")
        .agg(F.max("rho").cast("long").alias("max_rho"))
    )
    summary = (
        reg.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), 50 - least(max_rho, 50))")
            ).alias("ssum"),
        )
        .select(
            "lang",
            (256 - F.col("n_present")).cast("long").alias("n_zeros"),
            (
                F.lit(float(_HLL_C))
                / (F.col("ssum") + (256 - F.col("n_present")) * _HLL_EMPTY)
            ).alias("raw"),
        )
    )
    est = F.when(
        (F.col("n_zeros") > 0) & (F.col("raw") < 640.0),
        256 * F.log(256.0 / F.col("n_zeros")),
    ).otherwise(F.col("raw"))
    return summary.select(
        "lang", "n_zeros", F.round(est, 4).alias("est_distinct")
    )
