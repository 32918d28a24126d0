"""Text-analysis query family over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textops import (
    LANG_MARKERS,
    STOPWORDS,
    doc_fingerprint,
    gram_tfidf_cosine_topk,
    quality_signals,
    weighted_reservoir_sample,
)
from ..sources.parquet import load_table
from .catalog import CACHES, query, track

_NORM = "regexp_replace(lower(text), '[^a-z0-9]', '', 'g')"


def salted_global_topk(
    df: DataFrame,
    order: list,
    k: int,
    rank_col: str,
    salt_src: str,
    salts: int = 32,
    rank_fn=F.rank,
) -> DataFrame:
    """Global top-k without funneling the full table through one task
    and without driver-side cutoff probes: stage 1 ranks hash-salted
    slices in parallel and keeps each slice's top k (any row in the
    global top k necessarily ranks <= k within its own slice); stage 2
    applies the final ``rank_fn`` over the <= salts*k survivors only.
    Zero extra Spark actions.

    The stage-1 cut always uses ``F.rank``: rank never splits a tie
    group across the <= k boundary, so the pruning guarantee holds for
    NON-total orders too, whatever final ``rank_fn`` the caller picks.
    ``rank_fn`` itself defaults to ``F.rank`` for the same reason; pass
    ``F.row_number`` only when ``order`` is total (unique tie-break
    column) — under ties row_number's final cut is nondeterministic by
    construction.

    CONTRACT CHANGE (round 7): the default was ``F.row_number``; under
    the ``F.rank`` default a tie group straddling the k boundary is
    kept WHOLE, so the output may exceed k rows. Callers that need
    exactly-k output must pass ``rank_fn=F.row_number`` together with a
    total ``order`` (both in-repo callers, vocab_top_tokens and
    duplicate_spans, pass total orders, so either rank_fn emits the
    same k rows for them)."""
    w_salt = Window.partitionBy("_salt").orderBy(*order)
    pruned = (
        df.withColumn("_salt", F.pmod(F.hash(salt_src), F.lit(salts)))
        .withColumn("_srk", F.rank().over(w_salt))
        .filter(F.col("_srk") <= k)
    )
    w_all = Window.orderBy(*order)
    return (
        pruned.withColumn(rank_col, rank_fn().over(w_all).cast("long"))
        .filter(F.col(rank_col) <= k)
        .drop("_salt", "_srk")
    )


def doc_grams(docs: DataFrame, *id_cols: str, n: int = 3) -> DataFrame:
    """Whitespace 3-gram (n-gram) explode with the token array
    projected ONCE: the older inline form repeated `split(text)` three
    times inside one CASE/transform expression, which whole-stage
    codegen does NOT common-subexpression-eliminate across the lambda
    boundary — measured 2.7x slower at sf0.1 (SCALE.md §9). Docs with
    fewer than ``n`` tokens produce zero grams (the filter replaces the
    old CASE guard; explode of the empty case emitted no rows either
    way, and the descending-sequence crash the CASE guarded against
    cannot occur past the size filter)."""
    return (
        docs.select(*id_cols, F.split("text", r"\s+").alias("_t"))
        .filter(F.size("_t") >= n)
        .select(
            *id_cols,
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(_t) - {n - 1}),"
                    f" i -> array_join(slice(_t, i, {n}), ' '))"
                )
            ).alias("gram"),
        )
    )


def _duck_hits(markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return (
        r"len(list_filter(string_split_regex(lower(text), '\s+'),"
        f" x -> x <> '' AND list_contains([{inlist}], x)))"
    )


def _duck_lang_case() -> str:
    langs = sorted(LANG_MARKERS)
    case = f"'{langs[-1]}'"
    for lang in reversed(langs[:-1]):
        conds = " AND ".join(
            f"h_{lang} >= h_{other}" for other in langs if other != lang
        )
        case = f"CASE WHEN {conds} THEN '{lang}' ELSE {case} END"
    return case


_QUALITY_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS BIGINT) AS n_types,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_pieces,
         CAST(length({_NORM}) AS BIGINT) AS n_alnum_chars,
         CAST({_duck_hits(STOPWORDS)} AS BIGINT) AS n_stopwords,
         {", ".join(f"{_duck_hits(LANG_MARKERS[lang])} AS h_{lang}" for lang in sorted(LANG_MARKERS))}
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, n_types, n_pieces, n_alnum_chars, n_stopwords,
       {_duck_lang_case()} AS lang_guess
FROM base
"""


@query("text_quality_signals", oracle=_QUALITY_ORACLE)
def text_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused one-scan projection: char/token/type/piece counts,
    alnum-char count, stopword hits, heuristic language guess."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_signals(docs, "doc_id", "text")


_LANG_ACCURACY_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         {", ".join(f"{_duck_hits(LANG_MARKERS[lang])} AS h_{lang}" for lang in sorted(LANG_MARKERS))}
  FROM documents
),
guessed AS (
  SELECT lang, {_duck_lang_case()} AS lang_guess FROM base
)
SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n_docs
FROM guessed GROUP BY lang, lang_guess
"""


@query("lang_id_confusion", oracle=_LANG_ACCURACY_ORACLE)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language-ID against the
    labeled lang column (the corpus is synthetic word-soup, so this
    measures the machinery, not linguistics)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = quality_signals(docs, "doc_id", "text").select("doc_id", "lang_guess")
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")
        .join(sig, "doc_id")
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Repetition filter (Gopher-style quality signal): how dominated is a
# document by its single most-repeated 5-gram? High ratios flag
# boilerplate/spam for training-data curation. Shingle counting is the
# same explode used by dedup; the ratio is exact integer/integer
# compared via cross-multiplied ints in the filter to stay portable.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, substr(n, unnest(range(1, len(n) - 3)), 5) AS shingle
  FROM (SELECT doc_id, {_NORM} AS n FROM documents)
  WHERE len(n) >= 5
),
freq AS (
  SELECT doc_id, shingle, count(*) AS f
  FROM grams GROUP BY doc_id, shingle
)
SELECT doc_id,
       CAST(sum(f) AS BIGINT) AS n_grams,
       CAST(max(f) AS BIGINT) AS max_gram_freq,
       round(CAST(max(f) AS DOUBLE) / sum(f), 6) AS repetition_ratio
FROM freq GROUP BY doc_id
"""


@query("doc_repetition", oracle=_REPETITION_ORACLE)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 5-gram repetition: total grams, the most-repeated
    gram's count, and their ratio — the repetition quality filter of
    large-corpus curation pipelines. Entirely map-side: the gram
    frequency table is built inside the row with array expressions (no
    explode, no shuffle)."""
    from ..functions.normalize import norm_key

    docs = load_table(spark, sf_dir, "documents")
    n = norm_key(F.col("text"))
    grams = F.expr(
        "transform(sequence(1, length(_n) - 4), i -> substring(_n, i, 5))"
    )
    # max frequency = longest run in the SORTED gram array — an
    # O(n log n) single fold per row (a filter-per-distinct-gram
    # formulation would be O(n^2) in document length and die on long
    # documents)
    max_freq = F.expr(
        "aggregate(array_sort(_g),"
        " struct(cast(null as string) as prev, 0 as run, 0 as best),"
        " (acc, x) -> struct(x,"
        "   if(x <=> acc.prev, acc.run + 1, 1),"
        "   greatest(acc.best, if(x <=> acc.prev, acc.run + 1, 1))),"
        " acc -> acc.best)"
    )
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), n.alias("_n"))
        .filter(F.length("_n") >= 5)
        .withColumn("_g", grams)
        .withColumn("_mf", max_freq)
        .select(
            "doc_id",
            F.size("_g").cast("long").alias("n_grams"),
            F.col("_mf").cast("long").alias("max_gram_freq"),
            F.round(F.col("_mf").cast("double") / F.size("_g"), 6).alias(
                "repetition_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary stats: global token frequencies, top 50 with ties —
# the vocabulary-coverage report every tokenizer/training-data pipeline
# produces. Partial aggregation makes the shuffle carry one row per
# (token, partition); rank() keeps ties like the reference's best tier.
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents
),
freq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM toks WHERE tok <> '' GROUP BY tok
)
SELECT tok, n, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, rank() OVER (ORDER BY n DESC, tok) AS rnk FROM freq
) WHERE rnk <= 50
"""


@query("vocab_top_tokens", oracle=_VOCAB_ORACLE)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # salted two-stage top-k: per-slice pruning in parallel, then the
    # final rank over <= 32*50 survivors — no driver cutoff probe, no
    # global window over the full vocabulary. F.rank keeps the oracle's
    # tie semantics (the (n desc, tok) order is total, so rank ==
    # row_number here, but the helper stays faithful).
    return salted_global_topk(
        freq,
        [F.col("n").desc(), F.col("tok")],
        50,
        "rnk",
        "tok",
        rank_fn=F.rank,
    )


# ---------------------------------------------------------------------------
# Deterministic content-hash sampling: the reproducible sampling scheme
# of large corpus pipelines — a row is in the p% sample iff the first
# md5 byte of its CONTENT falls under the cut. Unlike rand()-based
# sampling this is engine-portable, stable across runs/partitionings,
# and sticky under dedup (identical content samples identically).
# ---------------------------------------------------------------------------

_SAMPLE_ORACLE = """
SELECT doc_id, lang,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
WHERE CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) < 26  -- ~10%
"""


@query("deterministic_sample", oracle=_SAMPLE_ORACLE)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("long")
    return docs.filter(bucket < 26).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.length("text").cast("long").alias("n_chars"),
    )


_FINGERPRINT_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, md5(substr(n, unnest(range(1, len(n) - 6)), 8)) AS h
  FROM (SELECT doc_id, {_NORM} AS n FROM documents)
  WHERE len(n) >= 8
)
SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max,
       CAST(count(DISTINCT h) AS BIGINT) AS n_shingles
FROM sh GROUP BY doc_id
"""


@query("doc_fingerprints", oracle=_FINGERPRINT_ORACLE)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return doc_fingerprint(docs, "doc_id", "text", k=8)


# ---------------------------------------------------------------------------
# The composed training-data curation pipeline in one driver-checked
# row: quality filter -> exact dedup (canonical survivor) ->
# deterministic content-hash sample -> per-language token accounting.
# Every stage is an operator already verified standalone; this pins the
# COMPOSITION (the shape a real corpus build runs nightly).
# ---------------------------------------------------------------------------

_PIPELINE_ORACLE = f"""
WITH sig AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_pieces,
         CAST({_duck_hits(STOPWORDS)} AS BIGINT) AS n_stopwords
  FROM documents
),
canonical AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5({_NORM})
),
survivors AS (
  SELECT d.doc_id, d.lang, s.n_tokens, s.n_pieces
  FROM documents d
  JOIN sig s USING (doc_id)
  JOIN canonical c USING (doc_id)
  WHERE s.n_tokens >= 30 AND s.n_stopwords >= 1
    AND CAST(concat('0x', substr(md5(d.text), 1, 2)) AS BIGINT) < 128
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_pieces) AS BIGINT) AS total_pieces
FROM survivors GROUP BY lang
"""


@query("corpus_curation_pipeline", oracle=_PIPELINE_ORACLE)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter (min tokens + stopword evidence), keep only each
    content hash's canonical (min-id) doc, take the deterministic ~50%
    content-hash sample, and account tokens per language. Every
    row-local signal (token/piece/stopword counts, sample bucket) is
    computed in ONE projection over the single document scan — the
    only join is the genuinely necessary one against the canonical-id
    set, keyed on doc_id."""
    from ..operators.dedup import exact_canonical_map
    from ..operators.textops import bpe_ish_piece_count, marker_hits, token_count

    docs = load_table(spark, sf_dir, "documents")
    canonical = (
        exact_canonical_map(docs, "doc_id", "text")
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id")
    )
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        token_count("text").alias("n_tokens"),
        bpe_ish_piece_count("text").alias("n_pieces"),
        marker_hits("text", STOPWORDS).alias("n_stopwords"),
        F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("long").alias("_bucket"),
    )
    survivors = base.join(canonical, "doc_id").filter(
        (F.col("n_tokens") >= 30)
        & (F.col("n_stopwords") >= 1)
        & (F.col("_bucket") < 128)
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_pieces").cast("long").alias("total_pieces"),
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sampling: per-language keep rates (the
# corpus-rebalancing move of multilingual pipelines — downsample the
# dominant language, keep the tail). Same content-hash cut as
# deterministic_sample so membership stays reproducible and
# dedup-sticky; the per-stratum rate table is a broadcast map, so the
# plan is scan + map-side filter, no shuffle at any scale.
# ---------------------------------------------------------------------------

_STRAT_RATES = {"en": 26, "de": 64, "es": 64, "fr": 64, "zh": 64}

_STRAT_SAMPLE_ORACLE = """
SELECT doc_id, lang,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
WHERE CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT)
      < CASE WHEN lang = 'en' THEN 26 ELSE 64 END
"""


# Not driven: per-group form of deterministic_sample, which is driven.
@query("stratified_sample", oracle=_STRAT_SAMPLE_ORACLE, driver=False)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sample: the md5 hash-threshold cut of
    ``deterministic_sample`` at a per-language rate from a broadcast
    rate map."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("long")
    cut = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in _STRAT_RATES.items() for x in kv]
        )[F.col("lang")],
        F.lit(64),
    )
    return docs.filter(bucket < cut).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.length("text").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document. tf and df are integer aggregations
# (exact, order-free); the only float is the idf formula, computed from
# identical integers in both engines and ROUNDED BEFORE RANKING so the
# rank order cannot be perturbed by last-ULP libm differences. Plan:
# one tokenize pass feeds both tf (per probe doc) and df (all docs);
# the df side reduces to |vocab| rows before the join; the corpus size
# joins in as a broadcast 1-row aggregate, not a driver-side scalar.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
  FROM documents
),
tok_f AS (SELECT doc_id, token FROM tok WHERE token <> ''),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok_f GROUP BY doc_id, token
),
df AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tok_f) GROUP BY token
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS score
  FROM tf JOIN df USING (token) CROSS JOIN n
  WHERE tf.doc_id % 10 = 0
)
SELECT doc_id, token, tf, df, score, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) AS rnk
  FROM scored) t
WHERE rnk <= 5
"""


@query("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
        )
        .filter(F.col("token") != "")
    )
    tok = track(tok)  # feeds tf AND df: tokenize once
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df_ = (
        tok.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") % 10 == 0)
        .join(df_, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "token", "tf", "df", "score", "rnk")
    )


# ---------------------------------------------------------------------------
# Decontamination: flag corpus documents sharing any token n-gram with
# a held-out benchmark set (every 100th doc stands in for the eval
# set). The scale shape is a SEMI-JOIN on the gram hash: benchmark
# grams (tiny side) deduplicate and broadcast; corpus grams never
# re-aggregate beyond their own doc. 3-token grams here so the
# synthetic corpus actually collides; a real pipeline uses 8-13 token
# grams, identical plan.
# ---------------------------------------------------------------------------

_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 100 = 0
)
SELECT g.doc_id,
       CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared_grams
FROM grams g JOIN bench b USING (gram)
WHERE g.doc_id % 100 <> 0
GROUP BY g.doc_id
"""


@query("decontaminate_overlap", oracle=_DECONTAM_ORACLE)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # shared doc_grams projects split(text) ONCE — the inline form
    # repeated it three times inside the transform lambda, which
    # whole-stage codegen does not CSE across the lambda boundary (the
    # same fix that took bloom_decontaminate 4.55s -> 2.48s, SCALE.md)
    grams = doc_grams(docs, "doc_id")
    grams = track(grams)  # benchmark and corpus sides share one pass
    bench = grams.filter(F.col("doc_id") % 100 == 0).select("gram").distinct()
    return (
        grams.filter(F.col("doc_id") % 100 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").cast("long").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# PII redaction: pure map-side regex scrub (the pre-training privacy
# pass). The corpus has no real PII, so a deterministic synthetic email
# is injected into every 20th doc first — the redactor must remove
# exactly those and nothing else, which the oracle (and the zero
# false-positive arithmetic on the other docs) checks end to end.
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"

_REDACT_ORACLE = f"""
WITH staged AS (
  SELECT doc_id,
         CASE WHEN doc_id % 20 = 0
              THEN text || ' contact: user' || doc_id || '@example.com now'
              ELSE text END AS text2
  FROM documents
),
red AS (
  SELECT doc_id, text2,
         regexp_replace(text2, '{_EMAIL_RE}', '<EMAIL>', 'g') AS redacted
  FROM staged
)
SELECT doc_id,
       CAST(text2 <> redacted AS BOOLEAN) AS was_redacted,
       md5(redacted) AS redacted_md5
FROM red
"""


@query("pii_redaction", oracle=_REDACT_ORACLE)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    red = staged.withColumn(
        "redacted", F.regexp_replace("text2", _EMAIL_RE, "<EMAIL>")
    )
    return red.select(
        "doc_id",
        (F.col("text2") != F.col("redacted")).alias("was_redacted"),
        F.md5("redacted").alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Deterministic global corpus shuffle — the training-data ordering op:
# a reproducible random permutation of the corpus (seeded hash order)
# with a GLOBAL position per document. The naive formulation is
# row_number() over a global ORDER BY — a single-task sort of the whole
# corpus, the canonical scale-killer. The scalable two-pass pattern
# used here (and by every distributed zip-with-index):
#   1. bucket each row by a prefix of its shuffle key (256 range
#      buckets over the md5 hex space — uniform by construction);
#   2. count rows per bucket and prefix-sum the 256 counts into bucket
#      offsets (a 256-row window — METADATA, not data);
#   3. rank within each bucket in parallel, add the bucket's offset.
# The only serial step touches 256 rows regardless of corpus size; the
# per-bucket ranking is a hash-partitioned window that spreads over
# every executor.
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = "seed42:"

_SHUFFLE_ORACLE = f"""
SELECT doc_id,
       CAST(row_number() OVER (
           ORDER BY md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS shuffle_pos
FROM documents
"""


def bucketed_shuffle_positions(docs: DataFrame) -> DataFrame:
    """The two-pass bucketed global-position plan over any (doc_id)
    table — shared by the registered query and scale_check's inflated
    corpus probe."""
    key = F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("_key"),
                        F.conv(F.substring(key, 1, 2), 16, 10).cast("long").alias("_bkt"))
    # pass 1: 256-row bucket histogram -> exclusive prefix sum (the only
    # non-parallel window, over metadata-sized input)
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        .select("_bkt", "_off")
    )
    # pass 2: parallel per-bucket rank + broadcast offset join
    w_rank = Window.partitionBy("_bkt").orderBy("_key", "doc_id")
    return (
        keyed.withColumn("_rn", F.row_number().over(w_rank))
        .join(F.broadcast(offsets), "_bkt")
        .select("doc_id", (F.col("_off") + F.col("_rn")).cast("long").alias("shuffle_pos"))
    )


@query("deterministic_shuffle", oracle=_SHUFFLE_ORACLE)
def deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded reproducible corpus permutation with global positions,
    computed without a global single-task sort (bucketed rank + tiny
    offset prefix-sum; see block comment)."""
    return bucketed_shuffle_positions(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing — the batch-assembly op of a training pipeline: lay
# documents out contiguously (deterministic doc_id order) and cut
# fixed-capacity training sequences, assigning each document its
# sequence id and offset from the GLOBAL running length. Like
# deterministic_shuffle, the naive plan is a global-ORDER-BY window
# (single-task cumulative sum over the corpus); the scalable form
# reuses the two-pass pattern — per-bucket sums prefix-summed into
# bucket base offsets (metadata-sized), then a parallel within-bucket
# running sum. Documents longer than the capacity straddle sequence
# boundaries by design (the packer never pads or splits here; the
# training loader slices).
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 2048  # chars per training sequence
_PACK_BUCKET = 64  # doc_ids per bucket: >=76 buckets at sf0.001, dense ids

_PACKING_ORACLE = f"""
WITH cum AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           - n_chars AS start_off
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // {_PACK_CAPACITY} AS BIGINT) AS seq_id,
       CAST(start_off % {_PACK_CAPACITY} AS BIGINT) AS seq_off
FROM cum
"""


def bucketed_packing_layout(docs: DataFrame) -> DataFrame:
    """The two-pass bucketed running-sum packing plan over any
    (doc_id, n_chars) table — shared by the registered query and
    scale_check's inflated corpus probe."""
    keyed = docs.withColumn("_bkt", F.floor(F.col("doc_id") / _PACK_BUCKET))
    # pass 1: per-bucket totals -> exclusive prefix sum over the tiny
    # bucket table (metadata, not data)
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("_bkt").agg(F.sum("n_chars").alias("_n"))
        .withColumn("_base", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        .select("_bkt", "_base")
    )
    # pass 2: parallel within-bucket running sum (exclusive) + base
    w_run = (
        Window.partitionBy("_bkt").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (F.col("_base") + F.coalesce(F.sum("n_chars").over(w_run), F.lit(0))).cast(
        "long"
    )
    return (
        keyed.join(F.broadcast(offsets), "_bkt")
        .withColumn("start_off", start)
        # integer `div`/`%` on the long column, not float division:
        # (start / cap).cast("long") is exact only while cap is a power
        # of two and totals stay under 2^53 — `div` matches the oracle's
        # `//` for any capacity and any corpus size
        .select(
            "doc_id",
            "n_chars",
            "start_off",
            F.expr(f"start_off div {_PACK_CAPACITY}").alias("seq_id"),
            (F.col("start_off") % _PACK_CAPACITY).cast("long").alias("seq_off"),
        )
    )


@query("sequence_packing", oracle=_PACKING_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global contiguous layout of the corpus into fixed-capacity
    training sequences without a global single-task window (bucketed
    two-pass running sum; see block comment)."""
    return bucketed_packing_layout(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.col("n_chars").cast("long").alias("n_chars")
        )
    )


# ---------------------------------------------------------------------------
# Per-source document caps — the web-corpus "domain cap" (bound any one
# domain's share of the corpus; here capped per (source, lang) group so
# the synthetic table exercises both regimes). The naive plan is one
# row_number window over EVERY row — at 100 TB that global window sorts
# the whole corpus even though most groups are nowhere near the cap,
# and a heavy-hitter domain (the reason caps exist at all) makes the
# sort skewed precisely where it is biggest. The scalable shape splits
# on a first-pass count: under-cap groups keep all rows with NO
# per-row sort (a broadcast semi-join against the metadata-sized group
# table), and only over-cap rows — the rare heavy hitters — enter the
# ranking window. Membership order is the deterministic content-hash
# (md5) so the kept set is reproducible and dedup-sticky, like
# deterministic_sample.
# ---------------------------------------------------------------------------

_SOURCE_CAP = 8

_SOURCE_CAP_ORACLE = f"""
SELECT doc_id, source, lang
FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY md5(text), doc_id) AS rk
  FROM documents) t
WHERE rk <= {_SOURCE_CAP}
"""


def capped_per_group(
    df: DataFrame, group_cols: list[str], order_col, cap: int
) -> DataFrame:
    """Keep at most ``cap`` rows per group, ranked by ``order_col``,
    without pulling under-cap groups through a window: pass 1 counts
    rows per group (partial-agg shuffle of group-count rows only);
    under-cap groups pass through via a broadcast semi-join, and only
    over-cap groups' rows are ranked."""
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_gn"))
    under = counts.filter(F.col("_gn") <= cap).select(*group_cols)
    over = counts.filter(F.col("_gn") > cap).select(*group_cols)
    kept_small = df.join(F.broadcast(under), group_cols, "left_semi")
    w = Window.partitionBy(*group_cols).orderBy(order_col, "doc_id")
    kept_big = (
        df.join(F.broadcast(over), group_cols, "left_semi")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
    return kept_small.unionByName(kept_big)


@query("source_domain_caps", oracle=_SOURCE_CAP_ORACLE)
def source_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "lang", "text"
    )
    return capped_per_group(
        docs, ["source", "lang"], F.md5("text"), _SOURCE_CAP
    ).select("doc_id", "source", "lang")


# ---------------------------------------------------------------------------
# Mixture / token-budget allocation — the data-mixing step that decides
# per-language sampling rates for a fixed training-token budget.
# Availability is exact integer token counts (one partial-agg pass);
# the budget is half the corpus total; each language's target is its
# mixture weight's share, clipped by availability into a keep-rate.
# All floats derive from identical integers via identical IEEE-double
# expressions on both engines, and rates round before comparison. The
# plan is one groupBy(lang) + a broadcast 1-row total — nothing here
# grows with the corpus except the scan.
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {"en": 0.30, "de": 0.175, "es": 0.175, "fr": 0.175, "zh": 0.175}

_MIX_ORACLE = """
WITH per_lang AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT)
           AS available_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(sum(available_tokens) // 2 AS BIGINT) AS budget
        FROM per_lang)
SELECT lang, n_docs, available_tokens,
       CAST(floor(CASE lang WHEN 'en' THEN 0.30 ELSE 0.175 END * budget)
            AS BIGINT) AS target_tokens,
       round(least(
         1.0,
         floor(CASE lang WHEN 'en' THEN 0.30 ELSE 0.175 END * budget)
           / available_tokens), 6) AS keep_rate
FROM per_lang CROSS JOIN tot
"""


@query("mixture_token_budget", oracle=_MIX_ORACLE)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", r"\s+"))).cast("long").alias("available_tokens"),
    )
    tot = per_lang.agg(
        F.expr("sum(available_tokens) div 2").cast("long").alias("budget")
    )
    weight = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _MIX_WEIGHTS.items() for x in kv])[
            F.col("lang")
        ],
        F.lit(0.175),
    )
    target = F.floor(weight * F.col("budget")).cast("long")
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .withColumn("target_tokens", target)
        .withColumn(
            "keep_rate",
            F.round(
                F.least(F.lit(1.0), F.col("target_tokens") / F.col("available_tokens")),
                6,
            ),
        )
        .select("lang", "n_docs", "available_tokens", "target_tokens", "keep_rate")
    )


# ---------------------------------------------------------------------------
# Cross-document duplicate spans — the diagnosis pass behind substring
# dedup (Lee et al., "Deduplicating Training Data Makes Language Models
# Better"): which exact token spans recur across many documents
# (boilerplate, licenses, templates)? 3-token spans here so the
# synthetic corpus collides; a real pipeline uses 50-token spans over
# token ids — identical plan. The gram count is a combinable partial
# agg; the global top-50 does NOT sort the full gram table: a
# hash-salted per-partition top-k prunes to <=32*50 rows first, and
# only that sliver enters the single-task final ranking window.
# ---------------------------------------------------------------------------

_SPAN_MIN_DOCS = 3
_SPAN_TOP_K = 50
_SPAN_SALTS = 32

_DUP_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
),
counted AS (
  SELECT gram,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM grams GROUP BY gram
  HAVING count(DISTINCT doc_id) >= {_SPAN_MIN_DOCS}
)
SELECT gram, n_docs, n_occurrences, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (ORDER BY n_docs DESC, n_occurrences DESC,
                               gram) AS rk
  FROM counted) t
WHERE rk <= {_SPAN_TOP_K}
"""


@query("duplicate_spans", oracle=_DUP_SPANS_ORACLE)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..partitioning import fanout_partitions

    docs = load_table(spark, sf_dir, "documents")
    # document tables arrive in few file-splits; spread docs BEFORE the
    # ~|tokens|-fold explode (same fan-out move as char_shingles)
    grams = doc_grams(
        docs.repartition(fanout_partitions(docs), "doc_id"), "doc_id"
    )
    # (n_docs, n_occurrences) via two stacked aggs instead of
    # count_distinct-next-to-count: the single-agg form plans an Expand
    # that doubles every exploded gram row before the exchange; the
    # stacked form partial-aggregates (gram, doc_id) map-side first, so
    # the shuffle carries per-doc gram counts, not raw gram rows
    counted = (
        grams.groupBy("gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_occ").cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= _SPAN_MIN_DOCS)
    )
    order = [F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("gram")]
    # shared salted two-stage top-k (see salted_global_topk): per-salt
    # pruning to <= _SPAN_SALTS * _SPAN_TOP_K rows, final rank over the
    # sliver only — no global sort of the gram table
    return salted_global_topk(
        counted, order, _SPAN_TOP_K, "rk", "gram", salts=_SPAN_SALTS
    ).select("gram", "n_docs", "n_occurrences", "rk")


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters — the second member of the sketch
# family (with `hll_distinct_sketch`): fixed 4x1024 counter matrix,
# md5-salted row hashes, point estimate = min over rows. The counter
# build is a |vocab|-row shuffle into at most 4096 cells (map-side
# partial sums first), and the estimate pass joins the vocabulary
# against the BROADCAST counter table — at 100 TB the sketch state the
# network moves is kilobytes, and the matrix is mergeable across
# shards/days by cell-wise addition. Every hash, counter, and estimate
# is integer-exact and restated verbatim in the DuckDB oracle; the
# output keeps the true count next to the estimate, pinning the CMS
# one-sided-error guarantee (est >= true) in data the driver hashes.
# A token is reported heavy when its estimate clears 0.5% of the
# stream (est * 200 >= total), in exact integer arithmetic.
# ---------------------------------------------------------------------------

_CMS_ORACLE = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents
),
freq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM toks WHERE tok <> '' GROUP BY tok
),
hashed AS (
  SELECT tok, n,
    CAST(concat('0x', substr(md5(concat('r0:', tok)), 1, 15)) AS BIGINT) % 1024 AS b0,
    CAST(concat('0x', substr(md5(concat('r1:', tok)), 1, 15)) AS BIGINT) % 1024 AS b1,
    CAST(concat('0x', substr(md5(concat('r2:', tok)), 1, 15)) AS BIGINT) % 1024 AS b2,
    CAST(concat('0x', substr(md5(concat('r3:', tok)), 1, 15)) AS BIGINT) % 1024 AS b3
  FROM freq
),
counters AS (
  SELECT r, b, sum(n) AS c FROM (
    SELECT 0 AS r, b0 AS b, n FROM hashed UNION ALL
    SELECT 1, b1, n FROM hashed UNION ALL
    SELECT 2, b2, n FROM hashed UNION ALL
    SELECT 3, b3, n FROM hashed
  ) GROUP BY r, b
),
est AS (
  SELECT h.tok, h.n, least(c0.c, c1.c, c2.c, c3.c) AS e
  FROM hashed h
  JOIN counters c0 ON c0.r = 0 AND c0.b = h.b0
  JOIN counters c1 ON c1.r = 1 AND c1.b = h.b1
  JOIN counters c2 ON c2.r = 2 AND c2.b = h.b2
  JOIN counters c3 ON c3.r = 3 AND c3.b = h.b3
),
tot AS (SELECT sum(n) AS t FROM freq)
SELECT est.tok, est.n AS n_true, CAST(est.e AS BIGINT) AS n_est
FROM est, tot WHERE est.e * 200 >= tot.t
"""


@query("cms_heavy_hitters", oracle=_CMS_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over the document token stream: 4
    md5-salted hash rows x 1024 buckets, cell-wise summed counters,
    min-of-rows point estimates, 0.5%-of-stream report threshold — all
    integer arithmetic, bit-identical to the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    freq = track(toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n")))

    def bucket(r: int):
        hx = F.substring(F.md5(F.concat(F.lit(f"r{r}:"), F.col("tok"))), 1, 15)
        return (F.conv(hx, 16, 10).cast("long") % 1024).alias(f"b{r}")

    hashed = track(freq.select("tok", "n", bucket(0), bucket(1), bucket(2), bucket(3)))
    cells = hashed.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), F.col(f"b{r}").alias("b"))
                    for r in range(4)
                ]
            )
        ).alias("cell"),
        "n",
    ).select("cell.r", "cell.b", "n")
    counters = cells.groupBy("r", "b").agg(F.sum("n").alias("c"))
    # r18 (optimization): the four per-row point lookups were four
    # broadcast-hash joins, and each broadcast BUILD re-ran the cells
    # explode + counter aggregation from the cached `hashed` frame (4
    # aggregation jobs + 4 broadcast builds per action). The counter
    # matrix is <= 4 x 1024 cells BY CONSTRUCTION — sketch-sized state
    # — so fold it into ONE single-row map (key r*1024+b) and resolve
    # every row's four counters with element_at against the one-row
    # broadcast. Results identical: (r, b) is unique after the groupBy
    # (no duplicate map keys) and every hashed row's bucket exists in
    # the matrix it was aggregated into, so each lookup equals the
    # former inner-join match. At 100 TB the broadcast state is the
    # same KBs the join version shipped; one exchange now builds it
    # instead of four.
    cmap = counters.groupBy().agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("r").cast("long") * 1024 + F.col("b")).alias("k"),
                    F.col("c").alias("v"),
                )
            )
        ).alias("_m")
    )
    est = hashed.crossJoin(F.broadcast(cmap)).select(
        "tok",
        "n",
        *[
            F.element_at("_m", F.lit(r).cast("long") * 1024 + F.col(f"b{r}")).alias(
                f"c{r}"
            )
            for r in range(4)
        ],
    )
    total = freq.agg(F.sum("n").alias("t"))
    return (
        est.select(
            "tok",
            F.col("n").alias("n_true"),
            F.least("c0", "c1", "c2", "c3").cast("long").alias("n_est"),
        )
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_est") * 200 >= F.col("t"))
        .drop("t")
    )


# ---------------------------------------------------------------------------
# CMS mergeability, driver-pinned: one counter matrix PER SOURCE SHARD
# (the per-day sketch a 100 TB pipeline persists), merged by cell-wise
# SUM — the operation that folds a new day's matrix into the running
# one without rescanning history. The merged matrix must equal the
# direct single-pass build (sum is associative); the oracle restates
# the same two-level aggregation, so the driver hash-checks the merge
# algebra itself. n_shards per cell pins that a real multi-shard merge
# happened.
# ---------------------------------------------------------------------------

_CMS_MERGE_ORACLE = r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
  FROM documents
),
freq AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS n
  FROM toks WHERE tok <> '' GROUP BY source, tok
),
hashed AS (
  SELECT source, tok, n,
    CAST(concat('0x', substr(md5(concat('r0:', tok)), 1, 15)) AS BIGINT) % 1024 AS b0,
    CAST(concat('0x', substr(md5(concat('r1:', tok)), 1, 15)) AS BIGINT) % 1024 AS b1,
    CAST(concat('0x', substr(md5(concat('r2:', tok)), 1, 15)) AS BIGINT) % 1024 AS b2,
    CAST(concat('0x', substr(md5(concat('r3:', tok)), 1, 15)) AS BIGINT) % 1024 AS b3
  FROM freq
),
shard AS (
  SELECT source, r, b, sum(n) AS c FROM (
    SELECT source, 0 AS r, b0 AS b, n FROM hashed UNION ALL
    SELECT source, 1, b1, n FROM hashed UNION ALL
    SELECT source, 2, b2, n FROM hashed UNION ALL
    SELECT source, 3, b3, n FROM hashed
  ) GROUP BY source, r, b
)
SELECT CAST(r AS BIGINT) AS r, CAST(b AS BIGINT) AS b,
       CAST(sum(c) AS BIGINT) AS c,
       CAST(count(*) AS BIGINT) AS n_shards
FROM shard GROUP BY r, b
"""


# Not driven: shard-merge variant of cms_heavy_hitters, which is driven.
@query("cms_merge_shards", oracle=_CMS_MERGE_ORACLE, driver=False)
def cms_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level CMS: per-source 4x1024 counter matrices (map-side
    partials, <=4096 rows per shard through the exchange), merged
    cell-wise by SUM into the corpus matrix. The merged cells equal the
    direct build's; n_shards pins the multi-shard path."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )

    def bucket(r: int):
        hx = F.substring(F.md5(F.concat(F.lit(f"r{r}:"), F.col("tok"))), 1, 15)
        return (F.conv(hx, 16, 10).cast("long") % 1024).alias(f"b{r}")

    hashed = freq.select("source", "n", bucket(0), bucket(1), bucket(2), bucket(3))
    cells = hashed.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), F.col(f"b{r}").alias("b"))
                    for r in range(4)
                ]
            )
        ).alias("cell"),
        "n",
    ).select("source", "cell.r", "cell.b", "n")
    shard = cells.groupBy("source", "r", "b").agg(F.sum("n").alias("c"))
    return shard.groupBy("r", "b").agg(
        F.sum("c").cast("long").alias("c"),
        F.count(F.lit(1)).cast("long").alias("n_shards"),
    ).select(
        F.col("r").cast("long").alias("r"),
        F.col("b").cast("long").alias("b"),
        "c",
        "n_shards",
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the scale path for the eval-overlap
# pass. `decontaminate_overlap` broadcasts the distinct eval GRAMS
# (strings — gigabytes for a large benchmark suite); this variant
# broadcasts their BLOOM BITS instead: k=4 md5-salted hashes into a
# 2^16-bit array, materialized as a distinct-positions table (<=256 KB
# of longs however big the eval set's text is). A corpus gram is
# flagged when all 4 of its positions are set — one-sided error, so
# every truly-shared gram is flagged and the deterministic false
# positives are the documented Bloom trade. All integer arithmetic,
# restated verbatim in the DuckDB oracle; the membership test is four
# broadcast LEFT SEMI joins, fully map-side.
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 100 = 0),
bits AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(concat(s, gram)), 1, 15)) AS BIGINT)
         % 65536 AS b
  FROM bench, (VALUES ('b0:'), ('b1:'), ('b2:'), ('b3:')) AS salts(s)
),
corp AS (
  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 100 <> 0
),
flagged AS (
  SELECT doc_id, gram FROM corp
  WHERE CAST(concat('0x', substr(md5(concat('b0:', gram)), 1, 15)) AS BIGINT) % 65536
          IN (SELECT b FROM bits)
    AND CAST(concat('0x', substr(md5(concat('b1:', gram)), 1, 15)) AS BIGINT) % 65536
          IN (SELECT b FROM bits)
    AND CAST(concat('0x', substr(md5(concat('b2:', gram)), 1, 15)) AS BIGINT) % 65536
          IN (SELECT b FROM bits)
    AND CAST(concat('0x', substr(md5(concat('b3:', gram)), 1, 15)) AS BIGINT) % 65536
          IN (SELECT b FROM bits)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_maybe_grams
FROM flagged GROUP BY doc_id
"""


def _bloom_pos(r: int, alias: str):
    """Salted md5 bit position r of a 2^16-bit Bloom filter over the
    ``gram`` column — ONE definition shared by the filter build
    (bloom_decontaminate) and the shard merge (bloom_merge_shards);
    their bit tables are only merge-compatible while this derivation
    stays byte-identical."""
    hx = F.substring(F.md5(F.concat(F.lit(f"b{r}:"), F.col("gram"))), 1, 15)
    return (F.conv(hx, 16, 10).cast("long") % 65536).alias(alias)


@query("bloom_decontaminate", oracle=_BLOOM_ORACLE)
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document count of 3-grams that pass the eval set's Bloom
    filter (k=4, m=2^16): the broadcast is the bit-position table, not
    the eval text. Four broadcast left-semi joins; no shuffle of the
    corpus grams except the final per-doc count."""
    docs = load_table(spark, sf_dir, "documents")
    grams = track(doc_grams(docs, "doc_id"))  # eval + corpus share one pass

    def pos(r: int):
        return _bloom_pos(r, f"p{r}")

    bench = grams.filter(F.col("doc_id") % 100 == 0).select("gram").distinct()
    bits = bench.select(
        F.explode(F.array(pos(0), pos(1), pos(2), pos(3))).alias("b")
    ).distinct()
    # r18 (optimization): materialize the filter as the ACTUAL 2^16-bit
    # Bloom bitmask — a one-row broadcast of 1024 longs (8 KB) — and
    # test membership with O(1) array indexing, instead of four
    # broadcast-hash semi joins whose builds each re-ran the bench
    # distinct + position-explode pipeline (Catalyst planned 4
    # independent BroadcastExchange subtrees; an earlier-r18 persist of
    # the bit table cut the recompute but still paid 4 broadcast
    # builds). Identical survivors: bit (b & 63) of word (b >> 6) is
    # set iff b is in the bit-position set, so each test equals the
    # former left-semi membership probe; the oracle's four
    # IN-subqueries are untouched. At 100 TB this is strictly better:
    # ONE 8 KB broadcast replaces 4 x 512 KB hash relations, and the
    # corp gram stream still never shuffles before the final per-doc
    # count.
    words = bits.groupBy(F.shiftright("b", 6).alias("s")).agg(
        F.expr("bit_or(shiftleft(1L, cast(b & 63 as int)))").alias("m")
    )
    masks = (
        words.groupBy()
        .agg(F.map_from_entries(F.collect_list(F.struct("s", "m"))).alias("_mm"))
        .select(
            F.expr(
                "transform(sequence(0, 1023),"
                " i -> coalesce(element_at(_mm, cast(i as bigint)), 0L))"
            ).alias("_masks")
        )
    )
    # no distinct before the membership test: the bitmask filter is
    # pure map-side, so filtering every OCCURRENCE first and
    # deduplicating only the flagged survivors (count_distinct in the
    # final agg) shuffles the flagged set instead of the whole gram
    # stream. On the synthetic corpus the two shapes tie (~3.5 vs
    # ~4.0 s at sf0.1 — the repeated texts make most grams
    # eval-overlapping, so the filter barely prunes); on a real corpus
    # eval overlap is rare, the filter drops ~everything, and the
    # pre-distinct would shuffle the full 100 TB gram stream for
    # nothing
    corp = grams.filter(F.col("doc_id") % 100 != 0).select(
        "doc_id", "gram", pos(0), pos(1), pos(2), pos(3)
    )
    member = [
        F.expr(
            f"(element_at(_masks, cast(shiftright(p{r}, 6) as int) + 1)"
            f" & shiftleft(1L, cast(p{r} & 63 as int))) != 0"
        )
        for r in range(4)
    ]
    flagged = corp.crossJoin(F.broadcast(masks)).filter(
        member[0] & member[1] & member[2] & member[3]
    )
    return flagged.groupBy("doc_id").agg(
        F.count_distinct("gram").cast("long").alias("n_maybe_grams")
    )


# ---------------------------------------------------------------------------
# C4-style hot-span SCRUB (duplicate_spans diagnoses; this one removes):
# every token covered by a >=3-doc 3-gram is dropped, and the query
# emits per-doc (token count, removed count, md5 of the surviving
# tokens). Deterministic order-free semantics make the whole transform
# a join/agg composition restatable in SQL — see
# operators/textops.scrub_hot_spans for the plan-shape notes.
# ---------------------------------------------------------------------------

_SCRUB_ORACLE = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
tok_pos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM base, unnest(range(1, len(t) + 1)) AS r(i)
),
grams AS (
  SELECT doc_id, j - 1 AS start, array_to_string(t[j : j + 2], ' ') AS gram
  FROM base, unnest(range(1, len(t) - 1)) AS r(j)
),
hot AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 3
),
covered AS (
  SELECT DISTINCT g.doc_id, g.start + k AS pos
  FROM grams g JOIN hot USING (gram), unnest([0, 1, 2]) AS u(k)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tok_pos tp ANTI JOIN covered c ON c.doc_id = tp.doc_id AND c.pos = tp.pos
),
cleaned AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM base
)
SELECT t.doc_id, t.n_tokens,
       CAST(t.n_tokens - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(c.cleaned_md5, md5('')) AS cleaned_md5
FROM totals t LEFT JOIN cleaned c USING (doc_id)
"""


@query("scrub_hot_spans", oracle=_SCRUB_ORACLE)
def scrub_hot_spans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-span removal over the documents table; the tokenized corpus
    and the gram explode persist via the CACHES registry (shared
    subtrees, unpersisted by the harness after the action)."""
    from ..operators.textops import scrub_hot_spans

    docs = load_table(spark, sf_dir, "documents")
    return scrub_hot_spans(docs, min_docs=3, span=3, cache_registry=CACHES)


# ---------------------------------------------------------------------------
# Capped inverted index: token -> (document frequency, occurrence
# count, the 8 smallest posting doc ids) — the lookup structure
# attribution / decontamination passes build. The per-token top-k cap
# keeps hot-token postings bounded (a stopword's posting list would
# otherwise be corpus-sized); every stage keys on token or
# (token, doc_id), so the index parallelizes like any hash agg.
# ---------------------------------------------------------------------------

_INVERTED_INDEX_K = 8

_INVERTED_INDEX_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
  FROM documents
),
per_doc AS (
  SELECT token, doc_id, count(*) AS occ
  FROM toks WHERE token <> '' GROUP BY token, doc_id
),
stats AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(occ) AS BIGINT) AS n_occurrences
  FROM per_doc GROUP BY token
),
capped AS (
  SELECT token, doc_id FROM (
    SELECT token, doc_id,
           row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
    FROM per_doc
  ) WHERE rn <= {_INVERTED_INDEX_K}
),
postings AS (
  SELECT token, string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS postings
  FROM capped GROUP BY token
)
SELECT s.token, s.df, s.n_occurrences, p.postings
FROM stats s JOIN postings p USING (token)
"""


@query("inverted_index", oracle=_INVERTED_INDEX_ORACLE)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token -> (df, occurrences, capped postings). The postings cap is
    a per-token row_number window over (token, doc_id) PAIRS (already
    deduplicated by the first agg), so the window partition is bounded
    by the doc frequency, not the raw token stream."""
    from ..operators.textops import doc_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = doc_tokens(docs).withColumnRenamed("tok", "token")
    per_doc = track(
        toks.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    )
    stats = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("occ").cast("long").alias("n_occurrences"),
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    postings = (
        per_doc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _INVERTED_INDEX_K)
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                "|",
            ).alias("postings")
        )
    )
    return stats.join(postings, "token")


# ---------------------------------------------------------------------------
# Bloom-filter shard merge — completes the mergeable-sketch family
# symmetry (HLL merges by register-max, CMS by cell-sum, Bloom by
# bit-position UNION). Per-source bit tables merge by distinct union;
# per-bit shard counts pin that a real multi-shard merge happened, and
# union associativity means the merged table equals the filter built
# over all sources at once.
# ---------------------------------------------------------------------------

_BLOOM_MERGE_ORACLE = r"""
WITH toks AS (
  SELECT source, string_split_regex(text, '\s+') AS t FROM documents
),
grams AS (
  SELECT source, array_to_string(t[i : i + 2], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
),
shard_bits AS (
  SELECT DISTINCT source,
         CAST(concat('0x', substr(md5(concat(s, gram)), 1, 15)) AS BIGINT)
           % 65536 AS b
  FROM grams, (VALUES ('b0:'), ('b1:'), ('b2:'), ('b3:')) AS salts(s)
)
SELECT b, CAST(count(*) AS BIGINT) AS n_shards
FROM shard_bits GROUP BY b
"""


# Not driven: shard-merge variant of bloom_decontaminate, which is driven.
@query("bloom_merge_shards", oracle=_BLOOM_MERGE_ORACLE, driver=False)
def bloom_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Bloom bit tables (4 salted md5 positions per 3-gram,
    2^16 bits) merged by distinct union. Shard state is <=2^16 rows per
    source through every exchange — the fixed-size property that makes
    the filter shippable at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    grams = doc_grams(docs, "source")
    shard_bits = grams.select(
        "source",
        F.explode(F.array(*[_bloom_pos(r, "b") for r in range(4)])).alias("b"),
    ).distinct()
    return shard_bits.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shards")
    )


_WRS_ORACLE = """
WITH keyed AS (
  SELECT lang, doc_id,
         round(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) + 1) / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE), 10) AS sk
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


@query("weighted_reservoir_sample", oracle=_WRS_ORACLE)
def weighted_reservoir_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis-Spirakis weighted sampling, k=5 docs
    per language weighted by n_chars — the seed-disciplined mixture
    draw a training-data pipeline uses. The md5-derived uniform
    replaces the RNG, so the DuckDB restatement reproduces the EXACT
    sample (keys and all), not merely its distribution."""
    docs = load_table(spark, sf_dir, "documents")
    return weighted_reservoir_sample(docs, "lang", "n_chars", k=5)


_GRAM_TFIDF_ORACLE = r"""
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
norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id HAVING sum(w * w) > 0),
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


@query("gram_tfidf_cosine_topk", oracle=_GRAM_TFIDF_ORACLE)
def gram_tfidf_cosine_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine top-k document similarity over the
    df-capped 3-token-gram vocabulary — the text-side counterpart of
    the embedding ANN family. The df cap bounds posting lists so the
    gram-keyed dot-product join fans out at most df_cap candidates per
    probe gram (part of the SEMANTICS, so the SQL restatement is
    exact). CACHES holds the one persist the three weight-table
    consumers (norms, probe side, candidate side) share."""
    docs = load_table(spark, sf_dir, "documents")
    return gram_tfidf_cosine_topk(
        docs, k=5, probe_mod=20, df_cap=32, cache_registry=CACHES
    )


def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (round-8 candidate): pairwise cross-source contamination
    — for every ordered source pair (a < b), how many of a's distinct
    3-grams also appear in b, plus each side's distinct-gram total and
    the integer containment ratio in parts-per-million. The
    leakage/overlap report a curation pipeline publishes across its
    ingest sources (and, with sources = {train, eval}, the train/eval
    contamination check at corpus granularity).

    Shapes: one gram pass (shared `doc_grams`), distinct (source,
    gram), then a gram-keyed self-join restricted to a < b — pair
    fanout is bounded by gram document frequency ACROSS SOURCES
    (n_sources per gram, <= |sources|, not corpus size), so the join
    output is at most |grams| x |sources|^2 with tiny |sources|.
    Integer arithmetic only (ppm = 1e6 * shared // total) — exact in
    any engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    sg = doc_grams(docs, "source").distinct()
    sg = track(sg)  # sizes + both join sides share one pass
    sizes = sg.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    a = sg.select(F.col("source").alias("src_a"), "gram")
    b = sg.select(F.col("source").alias("src_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n_grams").alias("a_grams"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n_grams").alias("b_grams"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            "a_grams",
            "b_grams",
            # integer div (not double-div + cast): double rounding
            # could disagree with the oracle's exact floor division
            F.expr("(1000000 * shared_grams) div a_grams").alias("a_contained_ppm"),
            F.expr("(1000000 * shared_grams) div b_grams").alias("b_contained_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# HTML boilerplate-removal extraction (r18, the r17 verdict's item 2):
# the first stage of a real scraped-corpus pipeline, feeding the
# quality/dedup/mixing plane that today starts from clean text. The
# driver row synthesizes deterministic HTML from documents.text
# ENTIRELY JVM-side (escape &, <, > via chained replaces; wrap in a
# page with a title, a <style> and a <script> to strip, the escaped
# text in a <p> block, a comment, and a "footer N" <div> block), then
# runs the stdlib-html.parser block extractor in Arrow mapInPandas.
# Construction makes the inverse exact, so the oracle RECOMPUTES the
# extraction from the raw text (same pattern as the media oracle):
#   title    = 'doc ' || doc_id
#   body     = trim(collapse_ascii_ws(text))   [script/style/comment
#              content never appears; escape/unescape cancels]
#   text     = body || '\n' || 'footer ' || doc_id   (or just the
#              footer block when the body collapses to empty)
#   n_blocks = 2 (or 1 when the body block is empty and drops)
# The whitespace class is pinned to ASCII ([ \t\n\r\f\x0b]) on BOTH
# sides: Python's \s matches unicode whitespace, RE2's does not —
# using either engine's \s would make the oracle engine-dependent.
# ---------------------------------------------------------------------------

_HTML_EXTRACT_ORACLE = """
WITH c AS (
  SELECT doc_id,
         trim(regexp_replace(text, '[ \t\n\r\f\x0b]+', ' ', 'g')) AS body
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'doc ' || CAST(doc_id AS VARCHAR) AS title,
       CASE WHEN body = '' THEN 'footer ' || CAST(doc_id AS VARCHAR)
            ELSE body || chr(10) || 'footer ' || CAST(doc_id AS VARCHAR)
       END AS text,
       CAST(CASE WHEN body = '' THEN 1 ELSE 2 END AS BIGINT) AS n_blocks
FROM c
"""


@query("html_text_extract", oracle=_HTML_EXTRACT_ORACLE)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synth HTML -> stdlib block-text extraction, oracle-recomputed.
    The synthesized page carries real boilerplate the extractor must
    drop — a <style> rule, a <script> whose body contains a bare '<',
    and an HTML comment — plus two genuine blocks (the escaped
    document text and a footer div). Extraction runs distributed in
    one mapInPandas over the synth projection: no shuffle, no collect,
    Arrow-bounded memory — the 100-TB plan is scan -> extract."""
    from ..operators.html_extract import extract_html_text

    docs = load_table(spark, sf_dir, "documents")
    esc = F.col("text")
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    page = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p { margin: 0 }</style></head>"
              "<body><script>if (1 < 2) { boiler(); }</script><p>"),
        esc,
        F.lit("</p><!-- boilerplate comment --><div>footer "),
        F.col("doc_id").cast("string"),
        F.lit("</div></body></html>"),
    )
    synth = docs.select("doc_id", page.alias("html"))
    return extract_html_text(synth, html_col="html").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "title",
        "text",
        F.col("n_blocks").cast("long").alias("n_blocks"),
    )
