"""Degenerate-input robustness: empty corpus and pathological documents
(empty text, single token) must not crash any registered operator and
must produce shape-sane outputs.  Real corpora always contain a few of
these rows; an operator that throws on them takes down a 100 TB job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from helium_arango_etl_spark.operators.dedup import clear_sig_cache
from helium_arango_etl_spark.registry import QUERIES

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# documents-table operators that must survive degenerate rows
DOC_OPS = [
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "near_dup_keep",
    "dedup_clusters",
    "cluster_keep",
    "segment_dedup",
    "incremental_dedup",
    "simhash",
    "text_stats",
    "lang_id",
    "doc_fingerprint",
    "bpe_token_stats",
    "tf_idf_top_terms",
    "vocab_coverage",
    "normalize_text",
    "pii_scrub",
    "per_source_cap",
    "hash_split",
    "mixture_sample",
    "corpus_summary",
    "image_features",
    "image_phash",
    "phash_near_pairs",
    "image_resize",
    "video_frame_sample",
    "audio_features",
    "audio_resample",
    "repeated_ngram_docs",
    "bpe_merge_rules",
    "epoch_shuffle",
    "span_corruption",
    "intradoc_duplication",
    "prefix_cluster_stats",
    "token_budget_waterfill",
    "alpha_sampling_weights",
    "packing_length_sweep",
    "bigram_llr_collocations",
    "monroe_keyness",
    "effective_corpus_size",
]


@pytest.fixture()
def degenerate_dir(spark, tmp_path):
    rows = [
        (0, "", "en", "src0", 0),                       # empty text
        (1, "solo", "en", "src0", 4),                   # single token
        (2, "a b", "en", "src1", 3),                    # below shingle K
        (3, "the quick brown fox jumps over it", "en", "src1", 33),
        (4, "the quick brown fox jumps over it", "en", "src2", 33),  # exact dup
    ]
    spark.createDataFrame(rows, DOC_SCHEMA).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    clear_sig_cache(spark)
    yield str(tmp_path)
    clear_sig_cache(spark)


@pytest.fixture()
def empty_dir(spark, tmp_path):
    spark.createDataFrame([], DOC_SCHEMA).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    clear_sig_cache(spark)
    yield str(tmp_path)
    clear_sig_cache(spark)


@pytest.mark.parametrize("name", DOC_OPS)
def test_degenerate_documents_do_not_crash(spark, degenerate_dir, name):
    df = QUERIES[name](spark, degenerate_dir)
    assert df.count() >= 0


@pytest.mark.parametrize("name", DOC_OPS)
def test_empty_corpus_yields_empty_results(spark, empty_dir, name):
    df = QUERIES[name](spark, empty_dir)
    # vocab_coverage/tf_idf etc. must return 0 rows, never crash
    assert df.count() == 0


def test_text_stats_empty_doc_matches_oracle(spark, degenerate_dir):
    """ADVICE r7 (medium): an empty/whitespace-only doc makes the ratio
    denominators zero; the integer-quantize cast used to diverge
    cross-engine (Spark casts NaN->bigint as 0, DuckDB errors on
    CAST(round('NaN') AS BIGINT)).  Both sides must now surface NULL and
    match row-for-row on a corpus that CONTAINS such a doc."""
    import duckdb

    from helium_arango_etl_spark.oracles_training import ORACLE_TRAINING

    got = {
        r["doc_id"]: (r["avg_token_len"], r["stopword_ratio"], r["alpha_ratio"], r["quality_score"])
        for r in QUERIES["text_stats"](spark, degenerate_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{degenerate_dir}/documents.parquet/*.parquet'"
    )
    want = {
        r[0]: tuple(r[3:])
        for r in con.execute(
            f"SELECT * FROM ({ORACLE_TRAINING['text_stats']}) ORDER BY doc_id"
        ).fetchall()
    }
    assert got == want
    assert got[0] == (None, None, None, None)  # the empty-text doc


def test_degenerate_semantics(spark, degenerate_dir):
    """Spot-check semantics on the degenerate corpus: the exact dup pair
    collapses, short docs have no signatures, empty text survives hygiene."""
    from helium_arango_etl_spark.operators.dedup import exact_dedup, minhash_signatures

    assert exact_dedup(spark, degenerate_dir).count() == 4  # 5 docs, 1 dup
    # docs 0-2 are too short to shingle -> no signature rows
    assert sorted(
        r["doc_id"] for r in minhash_signatures(spark, degenerate_dir).collect()
    ) == [3, 4]
    nt = {r["doc_id"]: r["norm_text"] for r in QUERIES["normalize_text"](spark, degenerate_dir).collect()}
    assert nt[0] == ""


EMB_SCHEMA = "vec_id long, label string, embedding array<float>"

EMB_OPS = [
    "ann_cosine_topk",
    "ann_batch_topk",
    "lsh_bucket_topk",
    "ivf_topk",
    "ivf_topk_trained",
    "kmeans_centroids",
    "embedding_quantize",
    "cosine_near_dup_pairs",
    "embedding_norms",
]


@pytest.mark.parametrize("name", EMB_OPS)
def test_empty_embeddings_yield_empty_results(spark, tmp_path, name):
    from helium_arango_etl_spark.operators.similarity import clear_emb_cache

    spark.createDataFrame([], EMB_SCHEMA).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    clear_emb_cache(spark)
    try:
        assert QUERIES[name](spark, str(tmp_path)).count() == 0
    finally:
        clear_emb_cache(spark)


def test_propagate_min_labels_convergence_guard(spark):
    """A non-converged labeling must never be returned as if converged:
    strict (default) raises, strict=False warns and returns partials."""
    import warnings

    from helium_arango_etl_spark.operators.cc import (
        ConvergenceError,
        propagate_min_labels,
    )

    chain = [(a, a + 1) for a in range(9)]  # diameter 9 > 2-iter cap
    und = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "a long, b long"
    )
    labels = spark.createDataFrame(
        [(i, i) for i in range(10)], "node long, label long"
    )
    with pytest.raises(ConvergenceError):
        propagate_min_labels(labels, und, keys=[], max_iters=2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        partial = propagate_min_labels(
            labels, und, keys=[], max_iters=2, strict=False
        )
    assert any("did not converge" in str(w.message) for w in caught)
    assert partial.count() == 10
    done = propagate_min_labels(labels, und, keys=[], max_iters=15)
    assert done.agg(F.max("label")).first()[0] == 0
