"""Edge-case documents for the text-curation queries whose oracles had
only ever seen word-soup synthetic data (ADVICE round 3):

- docs with <3 whitespace tokens used to crash ``decontaminate_overlap``
  (descending ``sequence(1, size-2)`` fed into ``slice``);
- leading/trailing whitespace used to diverge ``doc_token_chunks`` from
  its oracle (the UDTF filtered empty tokens, the oracle kept them).

The fixture writes a single-file parquet (so DuckDB's ``read_parquet``
sees the same bytes Spark does) and symlinks the remaining tables from
the smoke-scale dir to satisfy the oracle's view registration.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from tests.oracle import TABLES, compare

_EDGE_DOCS = [
    # (doc_id, text) — lang/source/n_chars filled below
    (0, "alpha beta gamma delta"),  # bench doc (%100==0) AND chunk probe (%50==0)
    (1, "xy"),  # single token: zero grams, must not crash
    (2, "alpha beta"),  # two tokens: the exact descending-sequence case
    (3, ""),  # empty text
    (7, "alpha beta gamma delta epsilon"),  # shares 2 grams with bench doc 0
    (50, "   alpha beta gamma   "),  # whitespace-edged chunk probe
    (100, "  leading and trailing  "),  # ws-edged bench doc + probe
    (150, " ".join(f"t{i}" for i in range(20))),  # probe spanning 2 chunks
    (200, "   "),  # whitespace-only probe: zero tokens, zero chunks
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in _EDGE_DOCS], pa.int64()),
            "text": pa.array([t for _, t in _EDGE_DOCS], pa.string()),
            "lang": pa.array(["en"] * len(_EDGE_DOCS), pa.string()),
            "source": pa.array(["edge"] * len(_EDGE_DOCS), pa.string()),
            "n_chars": pa.array([len(t) for _, t in _EDGE_DOCS], pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


def test_decontaminate_short_docs_no_crash_and_parity(spark, edge_dir):
    from data_finder_comparator_spark.plans.catalog import ORACLES, QUERIES

    df = QUERIES["decontaminate_overlap"](spark, edge_dir)
    rows = {r.doc_id: r.n_shared_grams for r in df.collect()}
    # doc 7 shares "alpha beta gamma" + "beta gamma delta" with bench doc 0
    assert rows.get(7) == 2
    # short docs produce zero grams — absent from the overlap, not a crash
    assert 1 not in rows and 2 not in rows and 3 not in rows
    ok, msg = compare(
        QUERIES["decontaminate_overlap"](spark, edge_dir),
        ORACLES["decontaminate_overlap"],
        edge_dir,
    )
    assert ok, msg


def test_doc_token_chunks_whitespace_edges_parity(spark, edge_dir):
    from data_finder_comparator_spark.plans.catalog import ORACLES, QUERIES

    df = QUERIES["doc_token_chunks"](spark, edge_dir)
    rows = [(r.doc_id, r.chunk_idx, r.n_tokens) for r in df.collect()]
    by_doc = {}
    for doc, idx, n in rows:
        by_doc.setdefault(doc, []).append((idx, n))
    # ws-edged probe: empties filtered, 3 real tokens → one chunk of 3
    assert sorted(by_doc[50]) == [(0, 3)]
    # 20 tokens, window 16 stride 8 → overlapping chunks at 0/8/16
    assert sorted(by_doc[150]) == [(0, 16), (1, 12), (2, 4)]
    # whitespace-only probe yields no chunks at all
    assert 200 not in by_doc
    ok, msg = compare(df, ORACLES["doc_token_chunks"], edge_dir)
    assert ok, msg


def test_sequence_packing_non_power_of_two_capacity(spark, monkeypatch):
    """seq_id/seq_off use integer div/% — exact for ANY capacity, not
    just powers of two (advisor finding r4: the old float-division form
    was exact only because 2048 is a power of two)."""
    from data_finder_comparator_spark.plans import queries_text as qt

    monkeypatch.setattr(qt, "_PACK_CAPACITY", 1000)  # not a power of two
    docs = spark.createDataFrame(
        [(i, 333 + (i * 7) % 500) for i in range(64)], "doc_id long, n_chars long"
    )
    got = {
        r.doc_id: (r.start_off, r.seq_id, r.seq_off)
        for r in qt.bucketed_packing_layout(docs).collect()
    }
    off = 0
    for i in range(64):
        n = 333 + (i * 7) % 500
        assert got[i] == (off, off // 1000, off % 1000), i
        off += n


def test_salted_global_topk_rank_keeps_cross_slice_ties(spark):
    """With rank_fn=F.rank, rows tied on the order key must ALL survive
    — including ties split across different hash-salt slices — and the
    final ranks must equal a direct global rank. (The per-slice cut
    keeps ties because rank, unlike row_number, never splits a tie
    group across the <= k boundary.)"""
    from pyspark.sql import functions as F

    from data_finder_comparator_spark.plans.queries_text import salted_global_topk

    # 40 keys share the top score (ties straddle many of the 8 slices),
    # then a strictly lower tail
    rows = [(f"t{i:02d}", 100) for i in range(40)] + [
        (f"z{i:02d}", 50 - i) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "tok string, n long")
    got = salted_global_topk(
        df,
        [F.col("n").desc()],  # NON-total order: all t* rows tie
        5,
        "rnk",
        "tok",
        salts=8,
        rank_fn=F.rank,
    ).collect()
    # every tied-at-top row survives with rank 1; nothing else has rank <= 5
    assert len(got) == 40
    assert all(r.rnk == 1 and r.tok.startswith("t") for r in got)


def test_salted_global_topk_row_number_exact_k(spark):
    """With an explicit row_number on a total order the helper returns
    exactly k rows in global order (the stage-1 cut is always F.rank,
    which on a total order keeps the same rows)."""
    from pyspark.sql import functions as F

    from data_finder_comparator_spark.plans.queries_text import salted_global_topk

    rows = [(f"w{i:03d}", 1000 - i) for i in range(200)]
    df = spark.createDataFrame(rows, "tok string, n long")
    got = salted_global_topk(
        df,
        [F.col("n").desc(), F.col("tok")],
        7,
        "rk",
        "tok",
        salts=16,
        rank_fn=F.row_number,
    ).collect()
    assert [(r.tok, r.rk) for r in sorted(got, key=lambda r: r.rk)] == [
        (f"w{i:03d}", i + 1) for i in range(7)
    ]


def test_round7_doc_queries_edge_corpus_parity(spark, edge_dir):
    """The round-7 registrations against the edge corpus (empty text,
    single-token docs, whitespace-edged text): every doc-based query
    must survive AND still hash-match its oracle on data its sf0.01
    dress rehearsal never saw — zero-gram docs through the scrub's
    left join, sub-two-sample payloads through the resampler's
    exclusion, single-lang grouped HLL, short docs through the gram
    explodes."""
    from data_finder_comparator_spark.plans.catalog import (
        ORACLES,
        QUERIES,
        release_caches,
    )

    for name in (
        "scrub_hot_spans",
        "inverted_index",
        "bloom_merge_shards",
        "grouped_hll_by_lang",
        "pcm_resample_layout",
    ):
        try:
            ok, msg = compare(QUERIES[name](spark, edge_dir), ORACLES[name], edge_dir)
        finally:
            release_caches()
        assert ok, f"{name}: {msg}"


def test_staged_text_ops_edge_corpus_parity(spark, edge_dir):
    """The staged round-8 text operators on the same edge corpus:
    zero-token and single-token docs must flow through entropy (a
    one-token doc has H=0), the unigram LM, and the gram-based cosine
    (zero grams -> absent from the vocabulary, not a crash)."""
    from data_finder_comparator_spark.operators.textops import (
        gram_tfidf_cosine_topk,
        token_entropy,
        unigram_logprob,
    )
    from data_finder_comparator_spark.sources.parquet import load_table

    docs = load_table(spark, edge_dir, "documents")
    ent = {r.doc_id: r for r in token_entropy(docs).collect()}
    assert 3 not in ent and 200 not in ent  # zero-token docs drop out
    assert ent[1].entropy_nats == 0.0  # single token -> zero entropy
    lp = {r.doc_id: r.n_tokens for r in unigram_logprob(docs).collect()}
    assert lp[2] == 2 and 3 not in lp
    # gram cosine: probe 0/50/100/150/200 exist; doc 200 (no grams) and
    # doc 1 (single token) never appear on either side
    rows = gram_tfidf_cosine_topk(docs, k=3, probe_mod=50, df_cap=32).collect()
    ids = {r.probe_id for r in rows} | {r.cand_id for r in rows}
    assert 200 not in ids and 1 not in ids
    assert all(r.rnk <= 3 for r in rows)


def test_gram_tfidf_zero_norm_docs_excluded_not_null(spark):
    """r12 review: a corpus where every surviving gram has idf 0 (df ==
    n_docs under the cap) used to emit NULL cos_sim rows into the
    top-k (or fail the job under ANSI). Zero-norm docs are now dropped
    from both sides, mirrored in the oracle's HAVING."""
    from data_finder_comparator_spark.operators.textops import (
        gram_tfidf_cosine_topk,
    )

    same = [(i, "alpha beta gamma delta") for i in range(6)]
    df = spark.createDataFrame(same, "doc_id long, text string")
    out = gram_tfidf_cosine_topk(df, probe_mod=2).collect()
    assert out == []  # nothing rankable — and no NULL rows
    mixed = spark.createDataFrame(
        same + [(100, "epsilon zeta eta theta iota unique words here")],
        "doc_id long, text string",
    )
    rows = gram_tfidf_cosine_topk(mixed, probe_mod=2).collect()
    assert all(r.cos_sim is not None for r in rows)


def test_drop_hot_shingles_df_is_per_document(spark):
    """r12 review: df must count DISTINCT documents — one document
    repeating a shingle many times must not evict it corpus-wide."""
    from data_finder_comparator_spark.operators.dedup import (
        char_shingles,
        drop_hot_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "abcde" * 50), (2, "abcdefgh")], "doc_id long, text string"
    )
    sh = char_shingles(docs, "doc_id", "text", k=5, distinct=False)
    # 'abcde' occurs ~dozens of times in doc 1 but in only 2 documents:
    # max_df=2 must KEEP it
    kept = drop_hot_shingles(sh, max_df=2)
    assert kept.filter("shingle = 'abcde'").count() > 0
    # and max_df=1 drops it (2 documents > 1)
    dropped = drop_hot_shingles(sh, max_df=1)
    assert dropped.filter("shingle = 'abcde'").count() == 0
