"""Text analysis operators over the ``documents`` table.

North-star extensions (BASELINE.json): language-ID, quality scoring,
token counting, document fingerprinting. All pure built-in column
expressions (split/filter/size/regexp — JVM codegen, no UDFs), designed
so the DuckDB oracle can compute the identical value: counts are
integers, no float thresholds.

At 100 TB these are embarrassingly parallel map-side transforms — no
shuffle at all unless aggregated; the expensive part is the scan, so
they belong fused into one pass (one ``select`` computing all signals)
rather than one job per signal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import norm_key

# marker stopwords per language for the n-gram/stopword heuristic.
# Deliberately tiny and fixed: the operator contract is "deterministic
# heuristic", not linguistics; the oracle recomputes the same scores.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "los", "y", "que", "en"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de", "shi", "le", "bu", "wo"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def tokens(col: str) -> Column:
    """Whitespace tokenization with empty-token removal."""
    return F.filter(F.split(F.lower(F.col(col)), r"\s+"), lambda t: t != "")


def token_count(col: str) -> Column:
    return F.size(tokens(col)).cast("long")


def distinct_token_count(col: str) -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("long")


def bpe_ish_piece_count(col: str) -> Column:
    """Token-piece count under a BPE-ish segmentation regex: runs of
    letters, runs of digits, or single other non-space chars — an
    upper-bound proxy for subword token counts."""
    return F.regexp_count(F.col(col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")).cast(
        "long"
    )


def marker_hits(col: str, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(arr, t))).cast("long")


def lang_guess(col: str) -> Column:
    """argmax over per-language marker-hit counts, deterministic
    tiebreak on language code ascending — a chained CASE (first lang
    whose hits are >= all others wins), trivially mirrored in the
    oracle SQL."""
    langs = sorted(LANG_MARKERS)  # de, en, es, fr, zh
    hits = {lang: marker_hits(col, LANG_MARKERS[lang]) for lang in langs}
    expr = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = hits[lang] >= hits[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass quality/statistics projection (fused scan)."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        token_count(text_col).alias("n_tokens"),
        distinct_token_count(text_col).alias("n_types"),
        bpe_ish_piece_count(text_col).alias("n_pieces"),
        F.length(norm_key(F.col(text_col))).cast("long").alias("n_alnum_chars"),
        marker_hits(text_col, STOPWORDS).alias("n_stopwords"),
        lang_guess(text_col).alias("lang_guess"),
    )


def doc_fingerprint(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """Winnowing-lite content fingerprint: min and max md5 over the
    k-gram shingle set plus the shingle count — an order-independent,
    portable content signature (collision-resistant enough for
    candidate pre-filtering; not cryptographic identity).

    Entirely map-side: the shingle set never leaves the row (array
    expressions — no explode, no shuffle), so at scale this is exactly
    one pass over the corpus with zero exchanges."""
    n = norm_key(F.col(text_col))
    hashes = F.expr(
        f"array_distinct(transform(sequence(1, length(_n) - {k - 1}),"
        f" i -> md5(substring(_n, i, {k}))))"
    )
    return (
        df.select(F.col(id_col).cast("long").alias("doc_id"), n.alias("_n"))
        .filter(F.length("_n") >= k)
        .withColumn("_h", hashes)
        .select(
            "doc_id",
            F.array_min("_h").alias("fp_min"),
            F.array_max("_h").alias("fp_max"),
            F.size("_h").cast("long").alias("n_shingles"),
        )
    )


def scrub_hot_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    span: int = 3,
    cache_registry: list | None = None,
) -> DataFrame:
    """C4-style duplicate-span REMOVAL (the scrub `duplicate_spans`
    only diagnoses): drop from every document each token covered by any
    ``span``-gram that occurs in >= ``min_docs`` distinct documents.

    Deterministic, order-free semantics (a token is removed iff SOME
    hot gram covers it — no left-to-right scan state), so the whole
    transform is expressible as joins/aggregations in ANY engine:

    1. grams:   (doc, start_pos, gram) from the whitespace token list;
    2. hot:     grams with count(DISTINCT doc) >= min_docs (equi-join
                back, never a broadcast of the corpus vocabulary);
    3. covered: each hot start marks positions [start, start+span-1];
    4. output per doc: token count, removed count, and the md5 of the
       surviving tokens joined by single spaces (portable fingerprint
       of the cleaned text — the full text column stays available by
       joining back on doc_id in a pipeline).

    Scale: every stage keys on doc_id or gram — the same fan-out /
    hash-agg shapes as `duplicate_spans`; per-doc state is bounded by
    the token count, and the hot-gram table is corpus-frequency-sized
    (tiny after the >=min_docs filter). ``base`` (the tokenized corpus,
    three consumers) and ``grams`` (the span explode, two consumers)
    persist via the repo's ``cache_registry`` contract so one call
    tokenizes and explodes once, not 4x/2x; the caller unpersists the
    registry entries after its action.
    """
    def _track(frame: DataFrame) -> DataFrame:
        if cache_registry is None:
            return frame
        frame = frame.persist()
        cache_registry.append(frame)
        return frame

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    base = _track(
        df.select(F.col(id_col).cast("long").alias("doc_id"), toks.alias("_t"))
    )
    tok_pos = base.select(
        "doc_id", F.posexplode("_t").alias("pos", "tok")
    )
    grams = _track(
        base.filter(F.size("_t") >= span)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(_t) - {span}),"
                    f" j -> struct(j AS start, array_join(slice(_t, j + 1, {span}), ' ') AS gram))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.start", "g.gram")
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(hot, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (span - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok_pos.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )
    # totals come from size(_t) on the UN-exploded rows — the exploded
    # re-aggregation would pay a token-cardinality hash agg just to
    # recover a count each source row already carries. Zero-token docs
    # are therefore included (n_tokens 0, cleaned_md5 of '').
    totals = base.select(
        "doc_id", F.size("_t").cast("long").alias("n_tokens")
    )
    empty_md5 = F.md5(F.lit(""))
    return (
        totals.join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("cleaned_md5"), empty_md5).alias("cleaned_md5"),
        )
    )


def maximal_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    span: int = 3,
    cache_registry: list | None = None,
) -> DataFrame:
    """Variable-length substring dedup (round 9): coalesce each
    document's HOT fixed-width grams into maximal repeated SPANS — the
    gram-chain approximation of suffix-array longest-repeated-substring
    (Lee et al. substring dedup runs exactly this shape at 50-token
    grams). `duplicate_spans`/`scrub_hot_spans` stop at fixed ``span``
    windows; this emits, per document, every maximal island of
    positions covered by grams occurring in >= ``min_docs`` docs:

    1. grams (doc, start, gram) -> hot grams (count_distinct doc >=
       min_docs) — identical stages to the fixed-width pass;
    2. per doc, gaps-and-islands over the hot START positions: a new
       island begins when start - prev_start > span (coverage
       [start, start+span-1] no longer chains); windows partition BY
       DOC over hot starts only, so window state is bounded by per-doc
       hot coverage, never corpus-sized;
    3. islands join back to the tokenized doc to slice the actual span
       text (one doc_id equi-join).

    Output: (doc_id, span_start, span_len, n_grams, span_text), one row
    per maximal island. Every hot gram occurrence is inside exactly one
    island — the subsumption property the fixed-width pass guarantees
    (`test_maximal_spans_subsume_fixed_width`). Cross-doc chains can
    merge grams hot in DIFFERENT doc sets, so an island's full text is
    repeated-across-docs only when `repeated_span_report` re-verifies
    it by exact text grouping."""
    def _track(frame: DataFrame) -> DataFrame:
        if cache_registry is None:
            return frame
        frame = frame.persist()
        cache_registry.append(frame)
        return frame

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    base = _track(
        df.select(F.col(id_col).cast("long").alias("doc_id"), toks.alias("_t"))
    )
    grams = _track(
        base.filter(F.size("_t") >= span).select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(_t) - {span}),"
                    f" j -> struct(j AS start, array_join(slice(_t, j + 1, {span}), ' ') AS gram))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.start", "g.gram")
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    hot_starts = grams.join(hot, "gram").select("doc_id", "start")
    w = Window.partitionBy("doc_id").orderBy("start")
    islands = (
        hot_starts.withColumn("_prev", F.lag("start").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | (F.col("start") - F.col("_prev") > span),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "_island")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") - F.min("start") + span).cast("long").alias("span_len"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
    )
    return islands.join(base, "doc_id").select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        "span_len",
        "n_grams",
        F.array_join(
            F.slice(F.col("_t"), F.col("span_start") + 1, F.col("span_len")), " "
        ).alias("span_text"),
    )


def repeated_span_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    span: int = 3,
    cache_registry: list | None = None,
) -> DataFrame:
    """Cross-document longest-repeated-span report: group the maximal
    islands by EXACT text and keep those appearing in >= ``min_docs``
    docs — chain ambiguity (an island merging grams hot in different
    doc sets) is thereby re-verified away, so every output row is a
    genuinely repeated variable-length substring. One hash agg on
    span_text over the (already small) island table."""
    spans = maximal_repeated_spans(
        df, id_col, text_col, min_docs=min_docs, span=span,
        cache_registry=cache_registry,
    )
    return (
        spans.groupBy("span_text", "span_len")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def doc_tokens(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, tok) explode of the lowercased whitespace tokens with
    empty tokens removed — the shared tokenizer behind token_entropy,
    unigram_logprob, and the inverted index (one definition so their
    oracles stay aligned with one Spark semantics)."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.split(F.lower(text_col), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")


def weighted_reservoir_sample(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement, k per group
    (Efraimidis–Spirakis A-ES): each row draws u ~ Uniform(0,1] from an
    md5 hash of its id and ranks by the key ln(u)/w — the top-k by that
    key is a weighted sample where a row's inclusion probability is
    proportional to its weight. The hash replaces the RNG, so the
    sample is a pure function of the data: reproducible across runs,
    engines, and partitionings (the seed-discipline every training-data
    pipeline wants for its mixture draws).

    Plan shape: one map-side key computation + a per-group top-k window
    (rank over group partitions — parallel in the number of groups; for
    a low-group-count corpus the salted two-stage top-k composes the
    same way). ln(u) and the division are the same IEEE doubles in any
    engine, so a SQL oracle reproduces the exact sample.

    Reference basis: Efraimidis & Spirakis, "Weighted random sampling
    with a reservoir" (IPL 2006) — key u^(1/w), order-equivalent to
    ln(u)/w for w > 0.
    """
    from pyspark.sql import Window

    # 60-bit md5 prefix -> u in (0, 1]: (v + 1) / 2^60 never yields 0.
    # v + 1 happens in LONG before the double cast: double(v) + 1.0 and
    # double(v + 1) can round differently above 2^53, and the oracle
    # computes the integer form
    v = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    u = (v + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    # rank by the ROUNDED key (10 dp): libm natural logs are not
    # guaranteed bit-identical across engines, so an unrounded rank
    # could flip a near-tie between Spark and the SQL oracle; at 10 dp
    # the rounding is far above any last-ulp ln divergence and far
    # below any real key gap
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 10)
    w = Window.partitionBy(group_col).orderBy(
        F.col("_sk").desc(), F.col(id_col)
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_sk", key)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            group_col,
            F.col(id_col),
            F.round("_sk", 10).alias("sample_key"),
            F.col("_rk").cast("long").alias("rk"),
        )
    )


def token_entropy(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy of the whitespace-token
    distribution (nats) — the repetition/diversity quality signal: near
    0 for degenerate repeated-token docs, ln(n_tokens) for all-distinct
    docs. One explode + two keyed aggregations (doc_id, then doc_id x
    token — both corpus-distributed); entropy comes from
    sum(c*ln(c))/n arithmetic so the oracle reproduces identical IEEE
    doubles:  H = ln(n) - (1/n) * sum_t c_t ln(c_t).
    """
    per_tok = doc_tokens(df, id_col, text_col).groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    # each c*ln(c) term is rounded then summed as DECIMAL: double
    # addition is not associative, so a raw double sum would depend on
    # partitioning/row order and could diverge from the oracle's sum at
    # the last ulp — the decimal sum is exact and order-free (the same
    # stabilization the streaming sum_value columns use)
    term = F.round(F.col("c") * F.log("c"), 6).cast("decimal(28,6)")
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(term).alias("_clogc"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round(
                F.log(F.col("n_tokens").cast("double"))
                - F.col("_clogc").cast("double") / F.col("n_tokens"),
                6,
            ).alias("entropy_nats"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_registry: list | None = None,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the cheapest LM-quality score a curation pipeline
    runs (docs of common words score high; rare-token noise scores
    low). Two passes over one tokenized frame: (1) corpus token counts
    -> log p(t) = ln(c_t / N); (2) per-doc mean over its tokens via an
    equi-join on token. The model table is vocabulary-sized — for a
    natural-language corpus it broadcasts; the join stays an equi-join
    either way. Exact IEEE restatement in SQL.

    The tokenized frame has three consumers (model, total, the scored
    join side); pass ``cache_registry`` to tokenize the corpus once
    instead of thrice (same contract as gram_tfidf_cosine_topk)."""
    toks = doc_tokens(df, id_col, text_col)
    if cache_registry is not None:
        toks = toks.persist()
        cache_registry.append(toks)
    model = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    total = model.agg(F.sum("c").cast("double").alias("n"))
    scored = toks.join(model, "tok").crossJoin(F.broadcast(total))
    # per-token terms rounded then summed as DECIMAL (order-free exact
    # sum; see token_entropy) before the final mean
    term = F.round(F.log(F.col("c").cast("double") / F.col("n")), 6).cast(
        "decimal(28,6)"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(term).alias("_lp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("_lp").cast("double") / F.col("n_tokens"), 6
            ).alias("mean_logprob"),
        )
    )


def gram_tfidf_cosine_topk(
    df: DataFrame,
    k: int = 5,
    probe_mod: int = 20,
    df_cap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_registry: list | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine top-k document similarity over the 3-token
    gram vocabulary — the text-side counterpart of the embedding ANN
    family: every probe doc (id % probe_mod == 0) gets its k most
    similar candidate docs by cosine over gram TF-IDF vectors.

    The vocabulary is CAPPED at document frequency <= df_cap: grams in
    more docs than that are boilerplate (their idf is near zero anyway)
    and, critically, they are what makes the sparse dot-product join
    quadratic — sum(df^2) pair fanout. With the cap, posting lists are
    bounded, the gram equi-join fans out at most df_cap candidates per
    probe gram, and the plan survives any corpus size. The cap is part
    of the operator's SEMANTICS (cosine over the capped vocabulary,
    df=1 grams still contribute to norms), so the SQL restatement is
    exact, not approximate.

    Determinism: weights are rounded then handled as DECIMAL, so dot
    products and squared norms are exact order-free sums; the only
    doubles are the final sqrt/divide, identical IEEE in any engine.
    """
    toks = tokens(text_col)  # THE module tokenizer — an inline copy
    # here would silently diverge from every other gram/token oracle
    # the moment tokenization changes (r12 review)
    grams = (
        df.select(F.col(id_col).cast("long").alias("doc_id"), toks.alias("_t"))
        .filter(F.size("_t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t) - 2),"
                    " i -> array_join(slice(_t, i, 3), ' '))"
                )
            ).alias("gram"),
        )
    )
    tf = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # corpus size rides a broadcast one-row frame (no driver-side
    # count() action — the plan stays fully lazy and distributed)
    n_docs = tf.agg(
        F.count_distinct("doc_id").cast("double").alias("_n")
    )
    dfreq = (
        tf.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") <= df_cap)
    )
    w = (
        tf.join(dfreq, "gram")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "gram",
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 6)
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    # three consumers (norms, probe side, candidate side) — without the
    # registry persist, each re-runs the whole gram -> tf -> df -> idf
    # pipeline (plan-sweep measured 3x the one-row aggs)
    if cache_registry is not None:
        w = w.persist()
        cache_registry.append(w)
    # zero-norm docs (every surviving gram at idf 0 — df == n_docs on
    # a tiny near-identical corpus) cannot be cosine-ranked: 0/0 is
    # NULL under non-ANSI Spark (meaningless rows occupying top-k
    # slots) or a DIVIDE_BY_ZERO job failure under ANSI (r12 review).
    # Drop them from BOTH join sides; the oracle applies the same
    # HAVING so the surfaces stay hash-identical.
    norms = (
        w.groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
        .filter(F.col("n2") > 0)
    )
    probes = w.filter(F.col("doc_id") % probe_mod == 0).select(
        F.col("doc_id").alias("probe_id"), "gram", F.col("w").alias("wa")
    )
    cands = w.filter(F.col("doc_id") % probe_mod != 0).select(
        F.col("doc_id").alias("cand_id"), "gram", F.col("w").alias("wb")
    )
    dots = (
        probes.join(cands, "gram")
        .groupBy("probe_id", "cand_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    from pyspark.sql import Window

    scored = (
        dots.join(
            norms.select(F.col("doc_id").alias("probe_id"), F.col("n2").alias("na2")),
            "probe_id",
        )
        .join(
            norms.select(F.col("doc_id").alias("cand_id"), F.col("n2").alias("nb2")),
            "cand_id",
        )
        .select(
            "probe_id",
            "cand_id",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    rk = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(rk).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def corpus_profile(docs: DataFrame) -> DataFrame:
    """Per-(source, lang) dataset card — the one-page profile a
    training-data team reads before mixing a corpus: document and
    token volumes, length distribution (exact continuous quantiles),
    and the exact-duplicate rate (1 − distinct normalized texts /
    docs). Everything is a single hash-aggregate over the documents
    table; token counting and the normalization key reuse the
    module-wide conventions so the DuckDB oracle restates them
    verbatim. The scan itself is one pass, but the reduce side is NOT
    trivial: exact percentile() buffers every n_chars value of a group
    in one reducer (a 10-billion-doc (source, lang) group's length
    array lands on a single task), and count(DISTINCT md5) expands to
    a second aggregate shuffled on (source, lang, md5) — cardinality
    ~n_docs, not sources × langs. Both are exact BY CHOICE so the
    oracle hash-matches; the 100-TB variant of this card swaps in
    approx_percentile(...) and approx_count_distinct(...) (same shape,
    bounded reducer state, mergeable sketches) at the cost of the
    exact-parity gate. A dataset card is a human-read report, so the
    approximate form is what a real pipeline should run at scale."""
    toks = token_count("text")
    norm = norm_key(F.col("text"))
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(toks).cast("long").alias("total_tokens"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
            F.round(F.expr("percentile(n_chars, 0.95)"), 6).alias("p95_chars"),
            F.countDistinct(F.md5(norm)).cast("long").alias("distinct_texts"),
        )
        .withColumn(
            "dup_rate",
            F.round(
                1.0 - F.col("distinct_texts") / F.col("n_docs"), 6
            ),
        )
        .orderBy("source", "lang")
    )
