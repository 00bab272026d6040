"""Text-analysis operators for the training-data pipeline (task brief:
language-ID, quality scoring, token counting, document fingerprinting).

All pure column expressions (codegen'd, no UDFs): tokenization is
``split``+``filter``, per-token work is higher-order array functions.
At 100 TB these run embarrassingly parallel over document partitions with
zero shuffle (per-row only); only downstream aggregations shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table, spread
from ..session import cached, clear_caches
from .graph import _release_local_checkpoint

# token array: whitespace split, empties dropped (both engines agree on this)
TOKS = "filter(split(text, ' '), x -> x != '')"

# perfbench calls this name; it clears every cached entry of the session
clear_tok_cache = clear_caches


# the tokenized-corpus projection (doc_id, t, dl) is shared by the whole
# retrieval family (bm25_topk and every query that rides its run) and
# materialized once per (session, sf_dir) — the textual analog of the
# prepared-embedding table (similarity.embedding_table) and the witness-edge
# materialization: at 100 TB the corpus tokenization pass dominates, so
# a resident engine pays it once per sync cycle, not once per consumer.
def tokenized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-cached (doc_id, t, dl) tokenized corpus projection."""
    return cached(
        spark,
        "tok",
        sf_dir,
        lambda: spread(read_table(spark, sf_dir, "documents"))
        .select("doc_id", "source", "lang", F.expr(TOKS).alias("t"))
        .withColumn("dl", F.expr("size(t)"))
        .persist(),
    )

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# lang marker tokens -> language guess, in deterministic priority order
LANG_MARKERS = [("en", "the"), ("es", "la"), ("de", "der"), ("fr", "le"), ("zh", "zh")]

# BPE-ish pre-tokenizer: letter runs | digit runs | single punctuation —
# the GPT-2 pre-tokenization shape reduced to classes both Java regex
# (Spark) and RE2 (DuckDB) evaluate identically.  Space is excluded
# explicitly (not \s) so the engines never disagree on the class.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting per document.

    Deterministic quality score: 0.4·stopword_ratio + 0.3·min(n_tokens/100,1)
    + 0.3·alpha_ratio — a classic cheap-heuristic filter stage.
    """
    # tokenize ONCE into t; referencing the tokenizer expression 7 times
    # would re-split the text per use site (multi-use aliases survive
    # CollapseProject, single-use ones get inlined — keep them multi-use)
    # 4dp rounding via the integer-quantize discipline, NOT round(x, 4):
    # the ratio expressions are rationals that land on exact .xxxx5
    # half-boundaries constantly (e.g. 3/8 · 0.4), and Spark (BigDecimal
    # HALF_UP on the exact binary expansion) disagrees with DuckDB
    # (scaled-multiply) there — found as a real sf0.1 mismatch in r7.
    # round(y) to INTEGER of the same ≤1e6-magnitude double is identical
    # in both engines.
    # Zero-denominator guard (ADVICE r7, medium): for an empty or
    # whitespace-only document size(t)=0 / length(text)=0 makes the ratio
    # NaN, and the integer-quantize cast diverges cross-engine (Spark
    # casts NaN->bigint as 0; DuckDB errors on CAST(round('NaN') AS
    # BIGINT)).  Surface NULL on BOTH sides instead — the current corpus
    # has no such docs, so certified hashes are unchanged.
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return docs.select(
        "doc_id",
        F.expr("size(t)").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.expr(
            "if(size(t) = 0, cast(null as double),"
            " cast(round(aggregate(transform(t, x -> length(x)), 0, (acc, v) -> acc + v)"
            " / cast(size(t) as double) * 1e4) as bigint) / 1e4)"
        ).alias("avg_token_len"),
        F.expr(
            f"if(size(t) = 0, cast(null as double),"
            f" cast(round(size(filter(t, x -> x in ({sw})))"
            " / cast(size(t) as double) * 1e4) as bigint) / 1e4)"
        ).alias("stopword_ratio"),
        F.expr(
            "if(length(text) = 0, cast(null as double),"
            " cast(round((length(text) - length(regexp_replace(text, '[a-z]', '')))"
            " / cast(length(text) as double) * 1e4) as bigint) / 1e4)"
        ).alias("alpha_ratio"),
        F.expr(
            f"if(size(t) = 0 or length(text) = 0, cast(null as double),"
            f" cast(round((0.4 * (size(filter(t, x -> x in ({sw}))) / cast(size(t) as double))"
            " + 0.3 * least(size(t) / 100.0, 1.0)"
            " + 0.3 * ((length(text) - length(regexp_replace(text, '[a-z]', '')))"
            " / cast(length(text) as double))) * 1e4) as bigint) / 1e4)"
        ).alias("quality_score"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID: count marker-token hits per language,
    argmax with deterministic priority-order tie-break.  (The heuristic's
    *accuracy* is data-dependent; the operator contract is the deterministic
    scoring formula, oracle-checked.)"""
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    cols = [F.col("doc_id"), F.col("lang").alias("actual_lang")]
    for lang, marker in LANG_MARKERS:
        cols.append(F.expr(f"size(filter(t, x -> x = '{marker}'))").alias(f"c_{lang}"))
    df = docs.select(*cols)
    # argmax in priority order: first lang whose count equals the row max
    counts = [F.col(f"c_{lang}") for lang, _ in LANG_MARKERS]
    mx = F.greatest(*counts)
    pred = F.lit("und")
    for lang, _ in reversed(LANG_MARKERS):
        pred = F.when(F.col(f"c_{lang}") == mx, F.lit(lang)).otherwise(pred)
    return df.withColumn("predicted_lang", F.when(mx > 0, pred).otherwise(F.lit("und")))


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-pre-tokenizer flavor (task brief: "whitespace +
    a BPE-ish regex"): letter-run / digit-run / punctuation tokens per
    document plus the tokens-per-word fan-out ratio a real BPE vocabulary
    would amplify.  Pure codegen'd column expressions — per-row, zero
    shuffle, linear scan at any scale."""
    docs = (
        spread(read_table(spark, sf_dir, "documents"))
        .withColumn("b", F.expr(f"regexp_extract_all(lower(text), '{BPE_RE}', 0)"))
        .withColumn("t", F.expr(TOKS))
    )
    return docs.select(
        "doc_id",
        F.expr("size(b)").alias("n_bpe_tokens"),
        F.expr("size(filter(b, x -> x rlike '^[a-z]'))").alias("n_word_tokens"),
        F.expr("size(filter(b, x -> x rlike '^[0-9]'))").alias("n_digit_tokens"),
        F.expr("size(filter(b, x -> x rlike '^[^a-z0-9]'))").alias("n_punct_tokens"),
        # empty/whitespace-only docs: size(t)=0 makes the ratio an ANSI
        # division-by-zero -- surface NULL on both engines (degenerate
        # sweep, round 8)
        F.expr(
            "if(size(t) = 0, cast(null as double),"
            " round(size(b) / cast(size(t) as double), 4))"
        ).alias("tokens_per_word"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: order-insensitive bag-of-words hash + an
    order-sensitive prefix hash (cheap rolling-hash stand-in; both engines
    compute identical md5-based values)."""
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    return docs.select(
        "doc_id",
        # token-less docs surface NULL fingerprints on both engines (a
        # hash of the empty string is a meaningless dedup key and DuckDB's
        # list fold already yields NULL there; degenerate sweep, round 8)
        F.expr(
            "if(size(t) = 0, cast(null as string),"
            " md5(array_join(array_sort(array_distinct(t)), ' ')))"
        ).alias("bow_fingerprint"),
        F.expr(
            "if(size(t) = 0, cast(null as string),"
            " md5(array_join(slice(t, 1, 8), ' ')))"
        ).alias("prefix_fingerprint"),
    )


# max-run expression over a SORTED token array: linear scan per row, zero
# shuffle — the per-doc "most frequent token count" without exploding the
# corpus token stream into a (doc_id, token) shuffle.  Initial prev = ''
# can never match a real token (the tokenizer drops empties).
_MAX_RUN = """aggregate(sort_array(t),
  named_struct('prev', '', 'run', 0L, 'best', 0L),
  (acc, x) -> named_struct('prev', x,
     'run', IF(x = acc.prev, acc.run + 1L, 1L),
     'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))),
  acc -> acc.best)"""

# adjacent 2-grams of the token array; the size guard matters under ANSI
# mode, where sequence(2, 1) counts DOWN and element_at(t, 0) is an error
_GRAMS2 = (
    "IF(size(t) < 2, array(),"
    " transform(sequence(2, size(t)),"
    " i -> concat(element_at(t, i - 1), ' ', element_at(t, i))))"
)

# Gopher-style rule thresholds (Rae et al. 2021 adapted to this corpus's
# single-line word-soup shape; line-based rules are vacuous here)
MIN_WORDS, MAX_WORDS = 20, 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MIN_STOPWORD_HITS = 2
MAX_TOP_TOKEN_FRAC = 0.12
MAX_DUP_2GRAM_FRAC = 0.05


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (the Gopher rep-* family): most-frequent-token
    fraction and duplicate-2-gram fraction per document.

    Scale shape: both signals are per-row array computations (a sort + one
    linear fold, and a distinct over adjacent 2-grams) — zero shuffle, in
    contrast to the naive explode -> groupBy(doc_id, token) plan whose
    shuffle is the size of the corpus token stream.
    """
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    return (
        docs.withColumn("g", F.expr(_GRAMS2))
        .select(
            "doc_id",
            F.expr("size(t)").alias("n_tokens"),
            F.expr(_MAX_RUN).alias("top_token_count"),
            F.expr(
                f"round({_MAX_RUN} / cast(greatest(size(t), 1) as double), 6)"
            ).alias("top_token_frac"),
            F.expr(
                "round(IF(size(t) < 2, 0.0,"
                " 1.0 - size(array_distinct(g)) / cast(size(g) as double)), 6)"
            ).alias("dup_2gram_frac"),
        )
    )


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality rule battery: per-document boolean flags +
    the final keep decision, all thresholds module constants so the filter
    is auditable.  One per-row pass (shares the zero-shuffle signal
    expressions with :func:`repetition_signals`); at 100 TB this is a
    map-only stage whose selectivity is the knob that sizes every
    downstream dedup/pack stage.
    """
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    sig = (
        docs.withColumn("g", F.expr(_GRAMS2))
        .withColumn("n_tokens", F.expr("size(t)"))
        .withColumn(
            "mean_word_len",
            F.expr(
                "aggregate(transform(t, x -> length(x)), 0, (acc, v) -> acc + v)"
                " / cast(greatest(size(t), 1) as double)"
            ),
        )
        .withColumn("stopword_hits", F.expr(f"size(filter(t, x -> x in ({sw})))"))
        .withColumn(
            "top_token_frac",
            F.expr(f"{_MAX_RUN} / cast(greatest(size(t), 1) as double)"),
        )
        .withColumn(
            "dup_2gram_frac",
            F.expr(
                "IF(size(t) < 2, 0.0,"
                " 1.0 - size(array_distinct(g)) / cast(size(g) as double))"
            ),
        )
    )
    flags = {
        "flag_word_count": (F.col("n_tokens") >= MIN_WORDS)
        & (F.col("n_tokens") <= MAX_WORDS),
        "flag_mean_word_len": (F.col("mean_word_len") >= MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= MAX_MEAN_WORD_LEN),
        "flag_stopwords": F.col("stopword_hits") >= MIN_STOPWORD_HITS,
        "flag_top_token": F.col("top_token_frac") <= MAX_TOP_TOKEN_FRAC,
        "flag_dup_2gram": F.col("dup_2gram_frac") <= MAX_DUP_2GRAM_FRAC,
    }
    out = sig
    for name, cond in flags.items():
        out = out.withColumn(name, cond)
    keep = None
    for name in flags:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.withColumn("keep", keep).select(
        "doc_id",
        "n_tokens",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        "stopword_hits",
        F.round("top_token_frac", 6).alias("top_token_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
        *flags.keys(),
        "keep",
    )


# TF-IDF: top terms per document.  Natural-log idf over raw document
# frequency; scores rounded to 6dp BEFORE ranking so both engines rank the
# same values (ties broken by term ascending — fully deterministic).
TFIDF_TOP_K = 3


def tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOP_K terms per document: score = tf · ln(n_docs / df).

    Scale shape: tf is one shuffle of (doc_id, term) pairs with map-side
    partial counts; df folds the (already doc-distinct) tf relation by term
    — a second, smaller shuffle; the corpus size joins in as a broadcast
    1-row aggregate (no driver-side count action).  Ranking is a top-k
    window per doc_id over the scored relation.  Document bodies never
    shuffle — only (doc_id, term, count) triples.
    """
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    tf = (
        docs.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("score", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the hygiene stage every corpus runs
    before hashing/dedup): lowercase, strip characters outside
    [a-z0-9 ], collapse whitespace runs, trim.  Pure per-row codegen'd
    expressions — zero shuffle at any scale.  Both engines apply the same
    literal character classes, so normalized text (and therefore every
    downstream content hash) is bit-identical."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length("text").cast("bigint").alias("n_chars_before"),
        F.length(norm).cast("bigint").alias("n_chars_after"),
    )


# PII masking patterns: literal classes both Java regex (Spark) and RE2
# (DuckDB) evaluate identically.  Long digit runs and email-shaped tokens.
PII_NUM_RE = "[0-9]{4,}"
PII_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: mask email-shaped tokens then long digit runs with
    typed placeholders, counting masks per document.  Per-row regex work,
    zero shuffle.  (The synthetic corpus contains no PII — n_masked is 0
    here — the masking path itself is pinned on constructed documents in
    tests/test_training_ops.py, the same pattern as cosine_near_dup_pairs.)
    """
    docs = read_table(spark, sf_dir, "documents")
    n_emails = F.size(F.expr(f"regexp_extract_all(text, '{PII_EMAIL_RE}', 0)"))
    masked = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
        PII_NUM_RE,
        "<NUM>",
    )
    # digit runs counted AFTER email masking so an address's digits are not
    # double-counted
    n_nums = F.size(
        F.expr(
            f"regexp_extract_all(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>'),"
            f" '{PII_NUM_RE}', 0)"
        )
    )
    return docs.select(
        "doc_id",
        masked.alias("scrubbed_text"),
        (n_emails + n_nums).cast("bigint").alias("n_masked"),
    )


VOCAB_TOP_N = 50


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary coverage curve: the VOCAB_TOP_N most frequent
    tokens with rank, corpus count, and the cumulative fraction of all
    token occurrences they cover (the Zipf curve a tokenizer-budget or
    stopword decision reads).

    Scale shape: one (term, partial-count) shuffle with map-side combine,
    then ranking/cumulation over the (vocabulary-sized, tiny) aggregate —
    the running-total window runs on the aggregated relation, never the
    corpus.  Deterministic ordering: count desc, term asc.
    """
    from pyspark.sql import Window

    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    counts = (
        docs.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= VOCAB_TOP_N)
        .select(
            "rank",
            "term",
            F.col("n").alias("n_occurrences"),
            F.round(
                F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("total"),
                6,
            ).alias("cum_coverage"),
        )
    )


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: actual vs predicted counts — the
    evaluation rollup that tells you whether the n-gram heuristic is good
    enough to gate the mixture on.  Composes the per-doc classifier with
    one bounded-cardinality (|langs|²) combiner-folded groupBy."""
    return (
        lang_id(spark, sf_dir)
        .groupBy("actual_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score distribution in 0.1-wide buckets — the calibration
    view for choosing a retention threshold.  Bucket id is an integer
    floor (exact, no float rounding ambiguity); per-row map work + one
    tiny combiner-folded groupBy."""
    return (
        text_stats(spark, sf_dir)
        .select(F.floor(F.col("quality_score") * 10).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "bucket",
            (F.col("bucket") / 10.0).alias("bucket_lo"),
            "n_docs",
        )
    )


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the unigram distribution (bits) —
    the information-density quality signal (near-zero = degenerate
    repetition, high = diverse vocabulary) that complements the ratio
    heuristics in text_stats/repetition_signals.

    Scale shape: term frequencies via one (doc_id, term) combiner-folded
    shuffle (never an O(L²) in-row count for long documents), collected
    back per doc SORTED BY TERM so the -p·log2(p) fold runs in one pinned
    order — float summation order is what makes cross-engine entropy
    reproducible.  Rounded to 6dp.
    """
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    tf = (
        docs.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # the trailing + 0.0 normalizes IEEE negative zero (a single-token
    # doc yields -(1*log2(1)) = -0.0, which DuckDB's round keeps and
    # Spark's BigDecimal round strips -- degenerate sweep, round 8)
    ent = (
        "round(-aggregate(transform(cs, c -> (c / cast(n as double))"
        " * log2(c / cast(n as double))), cast(0 as double), (acc, v) -> acc + v)"
        " + cast(0 as double), 6)"
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.expr("transform(sort_array(collect_list(struct(term, c))), s -> s.c)").alias("cs"),
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
        )
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            "n_distinct_tokens",
            F.expr(ent).alias("entropy_bits"),
        )
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 20

# adjacent-pair bigrams over the materialized token array (empty-guard:
# sequence(1, 0) would descend)
_BIGRAMS_OVER_T = (
    "CASE WHEN size(t) < 2 THEN array() ELSE"
    " transform(sequence(1, size(t) - 1),"
    " i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) END"
)


def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information:
    pmi(a,b) = log2( p(ab) / (p(a)·p(b)) ) over corpus-adjacent token
    pairs with at least PMI_MIN_COUNT occurrences — the phrase-mining
    pass (tokenizer merge candidates, stop-phrase detection).

    Scale shape: bigram and unigram counts are two combiner-folded
    explode+groupBy shuffles; the unigram table joins the (min-count
    filtered, much smaller) bigram table twice by word — broadcast when
    the vocabulary fits, keyed join otherwise; ranking happens on the
    filtered aggregate only.  PMI is ranked ROUNDED (6dp) with a bigram
    tie-break so both engines order identically.
    """
    from pyspark.sql import Window

    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    uni = (
        docs.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    n_uni = uni.agg(F.sum("cw").alias("n_tokens"))
    bi = (
        docs.select(F.explode(F.expr(_BIGRAMS_OVER_T)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cbg"))
        .filter(F.col("cbg") >= PMI_MIN_COUNT)
        .withColumn("wa", F.expr("split(bg, ' ')[0]"))
        .withColumn("wb", F.expr("split(bg, ' ')[1]"))
    )
    n_bi = docs.agg(
        F.sum(F.expr("IF(size(t) < 2, 0, size(t) - 1)")).alias("n_bigrams")
    )
    pmi = (
        "round(log2((cbg / cast(n_bigrams as double)) /"
        " ((ca / cast(n_tokens as double)) * (cb / cast(n_tokens as double)))), 6)"
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("bg").asc())
    return (
        bi.join(uni.select(F.col("w").alias("wa"), F.col("cw").alias("ca")), "wa")
        .join(uni.select(F.col("w").alias("wb"), F.col("cw").alias("cb")), "wb")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .withColumn("pmi", F.expr(pmi))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= PMI_TOP_K)
        .select("rank", "bg", F.col("cbg").alias("n_occurrences"), "pmi")
    )


def bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy (bits/bigram) under the corpus bigram
    LM: mean of −log2 p(wᵢ | wᵢ₋₁) with p = corpus bigram count / corpus
    prefix count — the perplexity-proxy quality filter (high = the doc
    reads unlike the corpus; near-duplicate boilerplate scores low).
    No smoothing needed: the model is fit on the same corpus, so every
    scored bigram has count ≥ 1.

    Scale shape: corpus bigram/prefix counts are combiner-folded
    explode+groupBy shuffles; each doc's positioned bigrams join the
    count tables by key (broadcast when the vocabulary fits); the
    per-doc sum folds the collected (position, logprob) list in PINNED
    position order, so the float accumulation is engine-identical.
    """
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    doc_bi = docs.select(
        "doc_id", F.posexplode(F.expr(_BIGRAMS_OVER_T)).alias("pos", "bg")
    )
    cbg = doc_bi.groupBy("bg").agg(F.count(F.lit(1)).alias("cbg"))
    cprefix = (
        doc_bi.select(F.expr("split(bg, ' ')[0]").alias("wa"))
        .groupBy("wa")
        .agg(F.count(F.lit(1)).alias("cpfx"))
    )
    scored = (
        doc_bi.join(cbg, "bg")
        .withColumn("wa", F.expr("split(bg, ' ')[0]"))
        .join(cprefix, "wa")
        .select(
            "doc_id",
            "pos",
            F.expr("-log2(cbg / cast(cpfx as double))").alias("lp"),
        )
    )
    fold = (
        "round(aggregate(transform(sort_array(collect_list(struct(pos, lp))), s -> s.lp),"
        " cast(0 as double), (acc, v) -> acc + v) / count(1), 6)"
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr(fold).alias("cross_entropy_bits"),
    )


BPE_TOP_PAIRS = 50


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-wide adjacent
    character-pair frequencies within words, weighted by word frequency —
    the argmax of this table IS the first merge rule a byte-pair encoder
    learns.  Output: the top BPE_TOP_PAIRS pairs by count (count desc,
    pair asc — fully deterministic).

    Scale shape: the standard BPE-training optimization of folding the
    corpus to its DISTINCT words first — one (word, count) shuffle whose
    cardinality is the vocabulary, not the token stream; pair explosion
    then runs over distinct words only, bounded by word length; the final
    rollup is combiner-friendly and TakeOrdered bounds the result."""
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    words = (
        docs.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(BPE_TOP_PAIRS)
    )


BPE_MERGES = 3


def _bpe_merge_once(vocab: DataFrame, step: int):
    """One BPE training iteration over a (w, n, t) vocab: count adjacent
    symbol pairs weighted by word frequency, pick the argmax rule, apply
    the merge left-to-right.  Returns (new_vocab, rule_row_df).

    Left-to-right greedy with overlaps (pair 'aa' on 'aaa') is a fold,
    which SQL lacks — but overlapping matches only chain when left==right,
    and inside a maximal run of consecutive match positions greedy keeps
    exactly the even offsets.  That closed form IS expressible: group
    consecutive positions with the i - row_number() run trick, keep even
    offsets, rebuild with a pure transform + filter.  Everything stays
    vocabulary-sized and declarative in both engines.
    """
    # a fully-merged word (single symbol) has NO adjacent pairs; filter
    # it BEFORE the position explode: Spark's sequence(1, 0) generates a
    # DESCENDING [1, 0] (step defaults to -1 when start > stop), so the
    # i=0 position would hit ANSI element_at(t, 0) and kill the job the
    # moment any frequent short word finishes merging -- DuckDB's
    # range(1, 1) is naturally empty (randomized parity audit, round 8)
    pairs = vocab.filter(F.expr("size(t) >= 2")).select(
        "n", F.explode(F.expr("sequence(1, size(t) - 1)")).alias("i"), "t"
    ).select(
        F.expr("element_at(t, i)").alias("a"),
        F.expr("element_at(t, i + 1)").alias("b"),
        "n",
    )
    # Lazy checkpoint: the 1-row argmax is consumed twice (the broadcast
    # crossJoin below and the rule row the caller unions into the result).
    # eager=True spent a whole extra job per merge step materializing it;
    # eager=False lets the rebuilt-vocab checkpoint job run the pair-count
    # plan once (inside its broadcast exchange) and persist the row as a
    # side effect, so the rule projection later reads the persisted RDD.
    best = (
        pairs.groupBy("a", "b")
        .agg(F.sum("n").cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(1)
    ).localCheckpoint(eager=False)

    withbest = vocab.crossJoin(F.broadcast(best))
    # The greedy left-to-right fold is a per-row array computation: Spark's
    # `aggregate` higher-order function IS the fold, so the kept-position
    # set no longer needs the position explode + two keyed windows + join
    # back that the round-8 form paid (2 Exchanges + 2 sorts + 1 join per
    # merge step, all vocabulary-sized, now zero — the rewrite is a pure
    # projection over the broadcast crossJoin).  Semantics are identical:
    # scanning match positions ascending and dropping any position whose
    # predecessor was just kept keeps exactly the even offsets inside each
    # maximal run of consecutive matches.  Nested CASE (not AND) so the
    # empty-accumulator probe never evaluates element_at on an empty array
    # under ANSI.
    kept_expr = (
        "CASE WHEN size(t) < 2 THEN cast(array() as array<int>)"
        " ELSE aggregate("
        "   filter(sequence(1, size(t) - 1),"
        "          i -> element_at(t, i) = a AND element_at(t, i + 1) = b),"
        "   cast(array() as array<int>),"
        "   (acc, i) -> CASE WHEN size(acc) = 0 THEN array(i)"
        "                    WHEN element_at(acc, -1) = i - 1 THEN acc"
        "                    ELSE array_append(acc, i) END)"
        " END"
    )
    rebuilt = (
        withbest.withColumn("kept", F.expr(kept_expr))
        .select(
            "w",
            "n",
            F.expr(
                "filter(transform(sequence(1, size(t)), i ->"
                " CASE WHEN array_contains(kept, i)"
                "      THEN concat(element_at(t, i), element_at(t, i + 1))"
                "      WHEN array_contains(kept, i - 1) THEN NULL"
                "      ELSE element_at(t, i) END), x -> x IS NOT NULL)"
            ).alias("t"),
        )
        .localCheckpoint()
    )
    rule = best.select(
        F.lit(step).alias("step"),
        F.col("a").alias("left_sym"),
        F.col("b").alias("right_sym"),
        F.concat("a", "b").alias("merged"),
        "pair_count",
    )
    return rebuilt, rule


def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, not just the first pair table: BPE_MERGES
    iterations of (pair count -> argmax rule -> left-to-right merge) over
    the corpus vocabulary, returning the learned merge-rule table —
    the artifact an LLM data pipeline ships to its tokenizer.  Extends
    bpe_pair_counts (which is iteration 1's count table) to the actual
    training loop; later iterations see multi-character symbols produced
    by earlier rules, which no single-pass pair count can.

    Scale shape: everything after the one token-stream fold to DISTINCT
    words (the standard BPE corpus optimization) is vocabulary-sized:
    pair counting is combiner-friendly, the argmax is a 1-row broadcast,
    the merge rewrite is a per-row transform with two keyed windows over
    match positions only.  Iterations localCheckpoint to truncate
    lineage.  All integer counts — bit-identical across engines with no
    quantization.
    """
    docs = tokenized_corpus(spark, sf_dir)
    vocab = (
        docs.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("w") >= 2)
        .withColumn(
            "t", F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        )
        .localCheckpoint()
    )
    rules = None
    for step in range(1, BPE_MERGES + 1):
        prev = vocab
        vocab, rule = _bpe_merge_once(vocab, step)
        # the new vocab checkpoint (and the persisted argmax row) no
        # longer read the previous vocab state — release it (§5)
        _release_local_checkpoint(prev)
        rules = rule if rules is None else rules.unionByName(rule)
    return rules


INDEX_MIN_DF = 2  # drop hapax terms: they bloat the index and serve no query


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build — the search-engine primitive: per term, its
    document frequency, total term frequency, and the posting list of
    (sorted) doc ids.  Downstream of the same tokenization every text op
    shares; hapax terms (df < INDEX_MIN_DF) are dropped, the standard
    index-size/recall tradeoff.

    Scale shape: one corpus scan -> per-doc distinct (term, tf) pairs
    (map-side, bounded by doc length) -> one keyed shuffle on term with
    map-side combine; posting lists are per-term arrays whose skew bound
    is df — a stopword's postings row is large but single-purpose, the
    classic head-term segment a production index shards separately
    (noted, not needed at this corpus's vocabulary).  Postings render as
    a '>'-joined string so the surface is hash-stable across engines.
    """
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    tf = (
        docs.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.expr("array_join(array_sort(collect_list(cast(doc_id as string))), '>')").alias(
                "postings"
            ),
        )
        .filter(F.col("df") >= INDEX_MIN_DF)
    )


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — per-document token counts under the
    tokenizer :func:`bpe_merge_rules` trains: re-run the BPE_MERGES
    training fold to its final encoded vocabulary (each distinct word's
    symbol sequence after all merges), then charge every document its
    words' symbol counts.  This is the real token-budget accounting a
    pretraining pipeline runs after training its tokenizer — a
    whitespace count (text_stats) misprices exactly the high-frequency
    words BPE compresses.  Words shorter than 2 chars never enter the
    vocab and encode as one symbol (themselves).

    Scale shape: the encode table is VOCABULARY-sized and joins back to
    the token stream as a broadcast; the only corpus-sized work is the
    tokenize + one doc_id-keyed count shuffle.  tokens_per_char < 1
    marks compression wins (merged symbols), == 1 the untouched tail.
    """
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn(
        "t", F.expr(TOKS)
    )
    vocab = (
        docs.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("w") >= 2)
        .withColumn(
            "t", F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        )
        .localCheckpoint()
    )
    for step in range(1, BPE_MERGES + 1):
        prev = vocab
        vocab, _ = _bpe_merge_once(vocab, step)
        _release_local_checkpoint(prev)  # superseded merge state (§5)
    enc = vocab.select("w", F.size("t").cast("bigint").alias("n_sym"))
    dw = docs.select("doc_id", F.explode("t").alias("w"))
    return (
        dw.join(F.broadcast(enc), "w", "left")
        .withColumn("n_sym", F.coalesce("n_sym", F.lit(1)))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_tokens"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
        )
        .withColumn(
            "tokens_per_char",
            F.round(F.col("n_tokens") / F.col("n_chars").cast("double"), 6),
        )
    )


# DSIR (Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling"): per-document importance weights log(p_target/p_raw) under
# hashed-ngram bag-of-features models.  Hashing the feature space to a
# fixed bucket count is what makes the method 100 TB-viable: both
# distributions are B-cell count tables regardless of corpus size.
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: sum over the doc's hashed
    bigram features of count * log-ratio between the TARGET distribution
    (lang = DSIR_TARGET_LANG — the 'quality domain' stand-in, e.g.
    Wikipedia in the paper) and the RAW corpus distribution, both
    Laplace-smoothed.  High weight = looks like the target; resampling by
    these weights (`weighted_sample` downstream) tilts the corpus toward
    the target domain without a trained classifier.

    Determinism: each bucket's log-ratio rounds to integer MICRO-units
    before the per-doc sum (the adamic_adar discipline) — the sum is exact
    bigint arithmetic, immune to float summation order; the single ln()
    argument is a ratio of exactly-representable integers (< 2^53), so
    both engines evaluate the same double.

    Scale shape: the two distribution tables are B=DSIR_BUCKETS cells
    after map-side combine (O(B) state, independent of corpus size) and
    broadcast back; the only corpus-sized shuffles are the two keyed
    count aggregations on (doc_id, bucket) / doc_id — explode_OUTER keeps
    token-poor docs in-stream (null feature row) so no final doc-keyed
    corpus join is ever needed; document bodies never shuffle.
    """
    b = DSIR_BUCKETS
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    feats = docs.select(
        "doc_id",
        "lang",
        F.explode_outer(
            F.expr(
                f"transform({_BIGRAMS_OVER_T},"
                f" g -> cast(conv(substring(md5(g), 1, 7), 16, 10) as bigint) % {b})"
            )
        ).alias("f"),
    )
    # ONE corpus pass: the per-doc counts, both distribution tables and
    # the totals all derive from this aggregated (doc, lang, bucket)
    # table — without the checkpoint the bigram explode executed four
    # times (once per consumer; exchange reuse does not dedupe them).
    # doc_id determines lang, so grouping by (doc_id, lang, f) yields
    # exactly the former (doc_id, f) rows with lang carried along.
    fc = feats.groupBy("doc_id", "lang", "f").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    docf = fc.select("doc_id", "f", "n")
    fx = fc.filter(F.col("f").isNotNull())
    # BOTH distributions in ONE keyed aggregation (the target count is a
    # conditional sum, never a separate scan + join), and the two global
    # totals are exact bigint sums of the B-cell table itself — so the
    # checkpointed feature table is scanned twice (doc weights + this),
    # not four times, and the raw⋈target join disappears.  A bucket with
    # no target-language rows had ct NULL (absent) before and an exact 0
    # now — coalesce(ct, 0) made those identical, all-integer arithmetic
    # keeps lr_micro bit-equal.
    per_f = fx.groupBy("f").agg(
        F.sum("n").alias("cr"),
        F.sum(F.expr(f"IF(lang = '{DSIR_TARGET_LANG}', n, 0)")).alias("ct"),
    )
    totals = per_f.agg(
        F.sum("cr").alias("r_total"),
        F.sum("ct").alias("t_total"),
    )
    lr = (
        per_f.crossJoin(F.broadcast(totals))
        .select(
            "f",
            F.expr(
                f"cast(round(ln(((coalesce(ct, 0) + 1) * (r_total + {b}))"
                f" / cast((cr + 1) * (t_total + {b}) as double)) * 1000000) as bigint)"
            ).alias("lr_micro"),
        )
    )
    return (
        docf.join(F.broadcast(lr), "f", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("IF(f IS NULL, 0, n) * coalesce(lr_micro, 0)")).alias("wm"),
            F.sum(F.expr("IF(f IS NULL, 0, n)")).cast("bigint").alias("n_features"),
        )
        .select(
            "doc_id",
            "n_features",
            F.round(F.col("wm") / 1e6, 6).alias("log_weight"),
        )
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: BPE-tokens-per-word and
    chars-per-BPE-token — THE multilingual-tokenizer health metric (a
    vocabulary trained on English typically shows 2-4x fertility blowup on
    underrepresented scripts, directly inflating training cost and
    truncation rates for those languages).

    Exact integer sums per language (map-side combined, |langs| groups)
    with one final division each, rounded 4dp — bit-stable across engines.
    One linear scan, zero joins.
    """
    docs = (
        spread(read_table(spark, sf_dir, "documents"))
        .withColumn("b", F.expr(f"regexp_extract_all(lower(text), '{BPE_RE}', 0)"))
        .withColumn("t", F.expr(TOKS))
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.expr("size(t)")).cast("bigint").alias("n_words"),
            F.sum(F.expr("size(b)")).cast("bigint").alias("n_bpe_tokens"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            # a language whose docs are all empty/whitespace has zero
            # words/BPE tokens: NULL, not an ANSI division error
            # (degenerate sweep, round 8)
            F.expr(
                "if(n_words = 0, cast(null as double),"
                " round(n_bpe_tokens / cast(n_words as double), 4))"
            ).alias("fertility"),
            F.expr(
                "if(n_bpe_tokens = 0, cast(null as double),"
                " round(n_chars / cast(n_bpe_tokens as double), 4))"
            ).alias("chars_per_token"),
        )
    )


def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source (the Li et al. 2016 "distinct-1/2"
    metrics): unique unigrams / total unigrams and unique bigrams / total
    bigrams — low values flag template-generated or boilerplate-heavy
    providers that repeat the same phrasing (exactly the slices that also
    light up `repeated_ngram_docs`).

    Scale shape: two combiner-folded keyed shuffles of (source, gram)
    pairs for the distinct counts plus per-source totals in the same
    aggregations.  At 100 TB swap countDistinct for the mergeable HLL
    registers (`hll_by_group`) — the ratio tolerates the sketch error;
    this exact form is the small-scale yardstick.
    """
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    uni = docs.select("source", F.explode("t").alias("g"))
    bi = docs.select("source", F.explode(F.expr(_BIGRAMS_OVER_T)).alias("g"))
    ua = uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unigrams"),
        F.countDistinct("g").cast("bigint").alias("distinct_unigrams"),
    )
    ba = bi.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.countDistinct("g").cast("bigint").alias("distinct_bigrams"),
    )
    return ua.join(ba, "source").select(
        "source",
        "n_unigrams",
        "distinct_unigrams",
        F.expr("round(distinct_unigrams / cast(n_unigrams as double), 4)").alias(
            "distinct1"
        ),
        "n_bigrams",
        "distinct_bigrams",
        F.expr("round(distinct_bigrams / cast(n_bigrams as double), 4)").alias(
            "distinct2"
        ),
    )


# DSIR selection budget: the resample stage keeps the N highest-weight docs
DSIR_SAMPLE_N = 200


def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection stage of DSIR: keep the DSIR_SAMPLE_N documents with
    the highest importance weight (ties to the smallest doc_id) — the
    deterministic top-N form of the paper's importance resampling (the
    randomized without-replacement variant is `weighted_sample`'s A-ES
    order statistic applied to exp(log_weight)).

    Scale shape: top-N via orderBy+limit compiles to
    TakeOrderedAndProject — k rows per partition reach the driver-side
    heap, no global sort; the rank window then runs over the already
    bounded N-row result only.
    """
    from pyspark.sql import Window

    top = (
        dsir_weights(spark, sf_dir)
        .orderBy(F.col("log_weight").desc(), F.col("doc_id").asc())
        .limit(DSIR_SAMPLE_N)
    )
    w = Window.orderBy(F.col("log_weight").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "log_weight", F.row_number().over(w).cast("int").alias("rank")
    )


# BM25 retrieval (Robertson-Sparck Jones; Lucene's always-positive idf
# variant): k1/b in exact milli-units so both engines build the identical
# doubles; the per-(doc, term) score quantizes to integer micro-units
# before the per-doc sum (exact bigint — summation-order-proof).
BM25_QUERY = ("hash", "join", "stream")
BM25_K1 = "1.2"
BM25_B = "0.75"
BM25_TOP_K = 10


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k keyword retrieval for the fixed BM25_QUERY — the scoring
    stage the `inverted_index` build exists to serve: per query term,
    idf = ln((N - df + 0.5)/(df + 0.5) + 1) (Lucene's shifted form, never
    negative) times the saturated-tf factor tf*(k1+1)/(tf + k1*(1 - b +
    b*dl/avgdl)).

    Scale shape: the term filter lands BEFORE any aggregation, so only
    postings of the |Q| query terms flow anywhere (the inverted-index
    access path, expressed as a filtered scan); corpus-wide stats (N,
    avgdl) are a 1-row broadcast, per-term dfs a |Q|-row broadcast; the
    only keyed shuffle groups the matched (doc, term) rows by doc_id; the
    final top-k is TakeOrderedAndProject.  Rank assignment runs on the
    bounded k-row result.
    """
    from pyspark.sql import Window

    qlist = ", ".join(f"'{t}'" for t in BM25_QUERY)
    # corpus stats and the query-term postings both read the session's
    # tokenized-corpus materialization — no re-tokenization per consumer
    base = tokenized_corpus(spark, sf_dir)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    tf = (
        base.select(
            "doc_id",
            "dl",
            F.explode(F.expr(f"filter(t, x -> x IN ({qlist}))")).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (
        "ln((n_docs - df + 0.5) / (df + 0.5) + 1)"
    )
    sat = (
        f"(tf * ({BM25_K1} + 1)) /"
        f" (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (total_len / cast(n_docs as double))))"
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(f"cast(round(({idf}) * ({sat}) * 1000000) as bigint)").alias(
                "s_micro"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("s_micro").alias("sm"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
        )
        .orderBy(F.col("sm").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_K)
    )
    w = Window.orderBy(F.col("sm").desc(), F.col("doc_id").asc())
    return scored.select(
        "doc_id",
        F.round(F.col("sm") / 1e6, 6).alias("bm25_score"),
        "n_terms_matched",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def corpus_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE over the corpus dimensions: doc and token counts for
    every (source, lang) combination PLUS all rollups (per source, per
    lang, grand total) in one pass — the materialized-view shape a corpus
    dashboard serves.  `grouping_id` disambiguates a real NULL dimension
    from a rolled-up one.

    Scale shape: Spark's native CUBE plans one scan + Expand (4 grouping
    sets per input row) + a single keyed aggregation with map-side
    combine — same single-scan Expand discipline as `events_time_rollup`,
    here via the built-in operator instead of a hand-built union.
    """
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    return docs.cube("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.expr("size(t)")).cast("bigint").alias("total_tokens"),
        F.grouping_id().cast("int").alias("gid"),
    )


# pg_trgm-style substring search: the pattern's character trigrams prune
# candidates BEFORE any per-document string scan
TRGM_PATTERN = "merge sort"


def trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-accelerated substring search (the pg_trgm / GIN-index
    pattern): a document can contain TRGM_PATTERN only if its character
    trigram set covers the pattern's trigrams — candidates come from an
    IN-list-filtered trigram explode (the filter pushes into the scan
    side, so only pattern trigrams ever reach the aggregation), exact
    `contains` verifies the survivors.  Word-level `inverted_index`/
    `bm25_topk` cannot serve substring or cross-word-boundary queries;
    this is that missing access path.

    Output audits the pruning: every candidate with its matched-trigram
    count and the exact verdict — false candidates (all trigrams present,
    substring absent) are the structure's documented cost.

    Scale shape: one corpus scan; the per-doc trigram explode filters to
    |pattern| trigrams before the (doc, trigram) distinct + count; exact
    verification touches candidates only.  A production index
    materializes the trigram postings once (as `inverted_index` does for
    words) instead of re-deriving them per query.
    """
    pat = TRGM_PATTERN
    tris = sorted({pat[i : i + 3] for i in range(len(pat) - 2)})
    tlist = ", ".join("'" + t.replace("'", "''") + "'" for t in tris)
    docs = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    # length(text) >= 3 guard: Spark's sequence(1, 0) DESCENDS ([1, 0],
    # default step -1) while DuckDB's range(1, 1) is empty — sub-3-char
    # texts can never match a 3-char trigram anyway, so filter them out
    # rather than rely on that accident.
    cand = (
        docs.filter(F.length("text") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            ).alias("tri"),
        )
        .filter(F.expr(f"tri IN ({tlist})"))
        .groupBy("doc_id")
        .agg(F.count_distinct("tri").cast("bigint").alias("n_tri_matched"))
        .filter(F.col("n_tri_matched") == len(tris))
    )
    return (
        cand.join(docs, "doc_id")
        .select(
            "doc_id",
            "n_tri_matched",
            F.expr(f"contains(text, '{pat}')").alias("verified"),
        )
    )


# source-divergence matrix: pairwise Jensen–Shannon over the top-V vocab
JS_VOCAB = 100


def source_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between source word
    distributions over the global top-JS_VOCAB vocabulary — the corpus
    similarity matrix behind mixture design ("are these two providers
    interchangeable or complementary?").  0 = identical distributions,
    ln 2 = disjoint.

    Determinism: vocabulary selection is (count DESC, word ASC); counts
    are exact integers; each KL term's ln argument folds to one
    exact-integer ratio (the woe_encoding discipline):
    2·p/(p+q) = 2(c+1)(Tt+V) / [(c+1)(Tt+V) + (d+1)(Ts+V)]; terms
    quantize to integer NANO units before the per-pair sum.

    Scale shape: everything after the vocabulary filter is bounded by
    |sources| x V — the (source, word) count grid densifies via a
    broadcast cross of two tiny dims, and the pair join is grid x grid
    on the word key.  The corpus is scanned once.
    """
    v = JS_VOCAB
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    words = docs.select("source", F.explode("t").alias("w"))
    # ONE corpus explode: vocabulary ranking and per-source counts both
    # derive from this checkpointed (source, w) aggregate (round-7 scan
    # audit; the stylometry_delta fix, same shape)
    sc = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c0")
    ).localCheckpoint(eager=True)
    vocab = (
        sc.groupBy("w")
        .agg(F.sum("c0").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(v)
        .select("w")
    )
    counts = sc.join(F.broadcast(vocab), "w").select(
        "source", "w", F.col("c0").alias("c")
    )
    sources = docs.select("source").distinct()
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    grid = (
        sources.crossJoin(F.broadcast(vocab))
        .join(counts, ["source", "w"], "left")
        .join(F.broadcast(totals), "source")
        .select(
            "source", "w", F.coalesce("c", F.lit(0)).alias("c"), "tot"
        )
    )
    a = grid.select(
        F.col("source").alias("source_a"), "w",
        F.col("c").alias("ca"), F.col("tot").alias("ta"),
    )
    b = grid.select(
        F.col("source").alias("source_b"), "w",
        F.col("c").alias("cb"), F.col("tot").alias("tb"),
    )
    # KL halves with smoothing: p = (ca+1)/(ta+V), q = (cb+1)/(tb+V)
    num_p = f"2 * (ca + 1) * (tb + {v})"
    num_q = f"2 * (cb + 1) * (ta + {v})"
    den = f"((ca + 1) * (tb + {v}) + (cb + 1) * (ta + {v}))"
    term = (
        f"cast(round(((ca + 1) / cast(ta + {v} as double))"
        f" * ln({num_p} / cast({den} as double)) * 1e9) as bigint)"
        f" + cast(round(((cb + 1) / cast(tb + {v} as double))"
        f" * ln({num_q} / cast({den} as double)) * 1e9) as bigint)"
    )
    return (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", F.expr(term).alias("tm"))
        .groupBy("source_a", "source_b")
        .agg(F.round(F.sum("tm") / 2e9, 6).alias("js_divergence"))
    )


BURST_VOCAB = 50


def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale): variance-to-mean ratio of
    per-document counts for the top-BURST_VOCAB terms — ratio ≈ 1 means
    Poisson-like function words, >> 1 means bursty content words that
    clump in few documents; the signal behind IDF's success and a
    boilerplate detector (bursty terms with huge df = template text).

    Determinism: per-doc counts are exact integers; the variance
    numerator n·Σx² − (Σx)² stays exact integer (the
    embedding_dim_stats discipline) with one division rounded 6dp.
    Docs NOT containing a term count as zeros via the corpus doc count —
    no dense grid needed.

    Scale shape: one (term, doc) count aggregation filtered to the
    broadcast vocabulary, folded to V rows; the 1-row doc count
    broadcasts.
    """
    v = BURST_VOCAB
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    words = docs.select(F.col("doc_id"), F.explode("t").alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(v)
        .select("w")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    per_doc = (
        words.join(F.broadcast(vocab), "w")
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_doc.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("c").alias("sx"),
            F.sum(F.expr("c * c")).alias("sxx"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w",
            "df",
            F.col("sx").cast("bigint").alias("total_tf"),
            # zeros of absent docs contribute 0 to sx/sxx; mean/var use nd.
            # Both surfaces are fresh fractional divisions of exact ints —
            # quantize via round-to-integer of the 1e6-scaled double (a
            # power-of-two nd with odd sx lands sx/nd on an exact half;
            # the seed-21/46 audit class)
            F.expr(
                "cast(round(sx / cast(nd as double) * 1e6) as bigint) / 1e6"
            ).alias("mean_tf"),
            F.expr(
                "cast(round((nd * sxx - sx * sx) / cast(nd as double) / sx"
                " * 1e6) as bigint) / 1e6"
            ).alias("burstiness"),
        )
    )


KWIC_TERM = "spark"
KWIC_WINDOW = 3


def kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance for KWIC_TERM: every occurrence
    with its ±KWIC_WINDOW-token context window — the corpus-inspection
    surface behind search snippets and linguistic audits (the retrieval
    ops say WHICH docs; this shows HOW the term is used).

    Scale shape: per-row array ops (posexplode over the token array,
    filter to the term, slice the context) — one fan-out bounded by
    per-doc term frequency, zero joins; the term filter lands before
    anything widens.
    """
    w = KWIC_WINDOW
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    return (
        docs.select("doc_id", "t", F.posexplode("t").alias("pos", "tok"))
        .filter(F.col("tok") == KWIC_TERM)
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.expr(
                f"array_join(slice(t, greatest(pos + 1 - {w}, 1),"
                f" least(pos, {w})), ' ')"
            ).alias("left_ctx"),
            F.expr(f"array_join(slice(t, pos + 2, {w}), ' ')").alias("right_ctx"),
        )
    )


# Zipf fit: regression over the top-R frequency ranks per source
ZIPF_TOP_RANKS = 100


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: OLS slope of ln(freq) on ln(rank) over
    the top ZIPF_TOP_RANKS token ranks — natural text sits near slope
    ≈ −1, so a source whose slope is far off (too flat = boilerplate /
    ID-like vocab, too steep = tiny template vocabulary) is a corpus-mix
    red flag a curation dashboard tracks per crawl snapshot.

    Determinism: token counts are exact integers; ln(rank)/ln(freq) are
    quantized to integer micro-units BEFORE the regression sums, so
    Σx, Σy, Σxy, Σx² are exact bigints on both engines (bounded: ranks
    ≤ 100, so products stay ≪ 2⁶³); the slope is ONE double division of
    two exact integers, rounded 6dp.

    Scale shape: one corpus scan → per-(source, token) count (keyed
    shuffle with map-side combine) → per-source top-R via row_number
    window (only count pairs shuffle, never text) → R-row regression
    sums per source.  At 100 TB the (source, token) aggregate is the
    only big shuffle and it is exactly the word-count shape Spark
    map-side-combines best.
    """
    from pyspark.sql import Window

    toks = (
        tokenized_corpus(spark, sf_dir)
        .select("source", F.explode("t").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("freq").desc(), F.col("token").asc()
    )
    ranked = (
        toks.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ZIPF_TOP_RANKS)
        .select(
            "source",
            F.expr("cast(round(ln(rank) * 1000000) as bigint)").alias("x"),
            F.expr("cast(round(ln(freq) * 1000000) as bigint)").alias("y"),
        )
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("r"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("x * y")).alias("sxy"),
            F.sum(F.expr("x * x")).alias("sxx"),
        )
        .select(
            "source",
            F.col("r").alias("n_ranks"),
            # a source with a single frequency rank has zero x-variance:
            # NULL slope, not an ANSI division error (degenerate sweep, r8)
            F.expr(
                "if(r * sxx - sx * sx = 0, cast(null as double),"
                " round((r * sxy - sx * sy)"
                " / cast(r * sxx - sx * sx as double), 6))"
            ).alias("zipf_slope"),
        )
    )


# Heaps fit: checkpointed vocabulary-growth regression
HEAPS_POINTS = 100


def heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit for the whole corpus: vocabulary size V(n) grows
    as K·n^β with token count n (β ≈ 0.4-0.6 for natural text).  The
    fitted β tells a tokenizer/vocab planner how fast new types keep
    arriving — a corpus whose β stays high never saturates a fixed
    vocabulary; one whose β collapses is template-saturated.

    Algorithm: order documents by doc_id (the deterministic ingest
    order), compute cumulative token count and cumulative distinct-type
    count at each document via the token's FIRST carrying document
    (min(doc_id) per token — a type is "new" exactly once), then OLS of
    ln(V) on ln(n) over ≤ HEAPS_POINTS evenly-spaced checkpoints so the
    quantized regression sums stay exact-bigint at any corpus size.

    Scale shape: the first-occurrence table is one (token → min doc_id)
    aggregate (map-side combined); cumulative sums run over the per-DOC
    totals (corpus-cardinality rows, not token rows).  The global-order
    prefix sum is a single bounded window at this harness scale — at
    100 TB it becomes the standard two-pass partition-offset prefix sum
    over the same per-doc totals.  Checkpoint selection keeps the
    regression input at ≤ 100 rows regardless of corpus size.
    """
    from pyspark.sql import Window

    toks = spread(read_table(spark, sf_dir, "documents")).select(
        "doc_id", F.explode(F.expr(TOKS)).alias("token")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks")
    )
    first_new = (
        toks.groupBy("token")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    wcum = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    wrank = Window.orderBy("doc_id")
    curve = (
        per_doc.join(first_new, "doc_id", "left")
        .select("doc_id", "n_toks", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .withColumn("cum_tokens", F.sum("n_toks").over(wcum))
        .withColumn("cum_types", F.sum("n_new").over(wcum))
        .withColumn("pos", F.row_number().over(wrank))
    )
    n_docs = curve.agg(F.count(F.lit(1)).alias("nd"))
    pts = (
        curve.crossJoin(F.broadcast(n_docs))
        .withColumn("step", F.expr(f"greatest(1L, nd div {HEAPS_POINTS})"))
        .filter(F.expr("pos % step = 0"))
        .select(
            F.expr("cast(round(ln(cum_tokens) * 1000000) as bigint)").alias("x"),
            F.expr("cast(round(ln(cum_types) * 1000000) as bigint)").alias("y"),
        )
    )
    return pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(
            (F.count(F.lit(1)) * F.sum(F.expr("x * y")) - F.sum("x") * F.sum("y"))
            / (
                F.count(F.lit(1)) * F.sum(F.expr("x * x"))
                - F.sum("x") * F.sum("x")
            ).cast("double"),
            6,
        ).alias("heaps_beta"),
        F.max("x").alias("ln_tokens_max_micro"),
        F.max("y").alias("ln_types_max_micro"),
    )


# query-likelihood retrieval: Dirichlet-smoothed unigram LM
QLM_QUERY = ("merge", "sort", "join")
QLM_MU = 2000
QLM_TOP_K = 10


def dirichlet_qlm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood language-model retrieval with Dirichlet
    smoothing — the other classical lexical ranker beside BM25:
    score(d) = Σ_q ln( (tf(q,d) + μ·cf(q)/|C|) / (|d| + μ) ).  Zero-tf
    terms still contribute via the collection model, so EVERY document
    scores against all query terms (unlike BM25's matched-terms-only
    sum), which is why QLM rewards coverage differently.

    Determinism: with integer μ the score term is
    ln((tf·|C| + μ·cf) / (|C|·(|d| + μ))) — numerator and denominator
    are EXACT bigints, so each term is one ln of an exact rational,
    quantized to micro-units and summed as bigints; ranking compares
    integers (ties broken by doc_id) and the double surfaces only in
    the final rounded display column.

    Scale shape: corpus stats (|C|, per-term cf) are a |Q|-row
    broadcast; the per-doc scan computes tf for the |Q| terms via
    higher-order array filters (no explode-shuffle of all tokens —
    only docs × |Q| rows ever aggregate); top-k is
    TakeOrderedAndProject.  The all-docs-score property costs one
    corpus scan, same as any quality-scoring pass.
    """
    from pyspark.sql import Window

    qlist = ", ".join(f"'{t}'" for t in QLM_QUERY)
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn(
        "t", F.expr(TOKS)
    )
    cf = (
        docs.select(F.explode("t").alias("term"))
        .filter(F.expr(f"term IN ({qlist})"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    )
    total = docs.agg(F.sum(F.expr("size(t)")).cast("bigint").alias("c_total"))
    per_term = (
        docs.select("doc_id", F.expr("size(t)").cast("bigint").alias("dl"), "t")
        .crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tf", F.expr("cast(size(filter(t, x -> x = term)) as bigint)")
        )
        .withColumn(
            "s_micro",
            F.expr(
                f"cast(round(ln((tf * c_total + {QLM_MU} * cf) /"
                f" cast(c_total * (dl + {QLM_MU}) as double)) * 1000000) as bigint)"
            ),
        )
    )
    scored = (
        per_term.groupBy("doc_id")
        .agg(F.sum("s_micro").alias("sm"))
        .orderBy(F.col("sm").desc(), F.col("doc_id").asc())
        .limit(QLM_TOP_K)
    )
    w = Window.orderBy(F.col("sm").desc(), F.col("doc_id").asc())
    return scored.select(
        "doc_id",
        F.round(F.col("sm") / 1e6, 6).alias("qlm_score"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


NDCG_K = 10


def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the `bm25_topk` run: NDCG@10,
    MRR, and Precision@10 against a DETERMINISTIC graded relevance
    (grade = number of distinct BM25_QUERY terms a document contains,
    0-|Q|) — the eval harness every ranking change ships through.  The
    ideal ranking for NDCG comes from the corpus-wide grade order, so
    the metric is absolute, not run-relative.

    Determinism: each DCG term (2^grade − 1)/log2(rank+1) is
    micro-quantized to bigint before summing; NDCG is ONE division of
    two exact bigint sums; MRR is an exact rational 1/first-rank;
    grades are exact integer set sizes.

    Scale shape: grading is a per-doc array intersection (no shuffle);
    the ideal top-K is a TakeOrderedAndProject over (grade, doc_id);
    the run is already K rows.  Output is one row.
    """
    from pyspark.sql import Window

    qlist = ", ".join(f"'{t}'" for t in BM25_QUERY)
    # grades come off the session's tokenized-corpus materialization —
    # the run-grade join and the corpus-wide ideal ranking are two cheap
    # in-memory scans, not two fresh tokenization passes
    docs = tokenized_corpus(spark, sf_dir).select(
        "doc_id",
        F.expr(
            f"cast(size(array_intersect(array_distinct(t),"
            f" array({qlist}))) as bigint)"
        ).alias("grade"),
    )
    run = bm25_topk(spark, sf_dir).select("doc_id", "rank")
    dcg_term = (
        "cast(round((power(2, grade) - 1) / (ln(rank + 1) / ln(2))"
        " * 1000000) as bigint)"
    )
    run_dcg = (
        run.join(docs, "doc_id")
        .select(
            F.expr(dcg_term).alias("term"),
            F.expr("if(grade >= 2 , rank, null)").alias("good_rank"),
            F.expr("if(grade >= 1, 1L, 0L)").alias("is_rel"),
        )
        .agg(
            F.sum("term").alias("dcg_micro"),
            F.min("good_rank").alias("first_good"),
            F.sum("is_rel").alias("n_rel"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )
    ideal = (
        docs.orderBy(F.col("grade").desc(), F.col("doc_id").asc())
        .limit(NDCG_K)
        .select(
            F.col("grade"),
            F.row_number()
            .over(Window.orderBy(F.col("grade").desc(), F.col("doc_id").asc()))
            .alias("rank"),
        )
        .agg(F.sum(F.expr(dcg_term)).alias("idcg_micro"))
    )
    return run_dcg.crossJoin(F.broadcast(ideal)).select(
        F.col("k"),
        F.round(F.expr("dcg_micro / cast(idcg_micro as double)"), 6).alias(
            f"ndcg_at_{NDCG_K}"
        ),
        F.round(F.expr("if(first_good is null, cast(0.0 as double), cast(1.0 as double) / first_good)"), 6).alias(
            "mrr"
        ),
        F.round(F.expr("n_rel / cast(k as double)"), 6).alias(f"p_at_{NDCG_K}"),
    )


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation of the `lang_id` heuristic against the gold
    `lang` column: per-class TP / predicted-count / actual-count with
    precision, recall, and F1 — the confusion-derived report card any
    quality/language filter must publish before it gates a corpus (a
    filter with 0.4 recall on a language silently deletes it from the
    training mix).

    Determinism: counts are exact integers; F1 uses the identity
    2TP/(|pred| + |actual|) — ONE rounded division, no chained P·R
    doubles.

    Scale shape: one per-doc prediction pass (array filters, no
    shuffle), three tiny keyed aggregations over |classes| rows,
    full-outer-joined on the class label.
    """
    preds = lang_id(spark, sf_dir).select("actual_lang", "predicted_lang")
    tp = (
        preds.filter(F.col("actual_lang") == F.col("predicted_lang"))
        .groupBy(F.col("actual_lang").alias("lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("tp"))
    )
    pred_n = preds.groupBy(F.col("predicted_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred")
    )
    act_n = preds.groupBy(F.col("actual_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_actual")
    )
    return (
        act_n.join(pred_n, "lang", "full")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("n_actual", F.lit(0)).cast("bigint").alias("n_actual"),
            F.round(
                F.expr("coalesce(tp, 0) / cast(nullif(n_pred, 0) as double)"), 6
            ).alias("precision"),
            F.round(
                F.expr("coalesce(tp, 0) / cast(nullif(n_actual, 0) as double)"), 6
            ).alias("recall"),
            F.round(
                F.expr(
                    "2 * coalesce(tp, 0)"
                    " / cast(nullif(coalesce(n_pred, 0) + coalesce(n_actual, 0), 0)"
                    " as double)"
                ),
                6,
            ).alias("f1"),
        )
    )


KN_TOP_K = 50


def kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (d = 3/4) for the
    top-K corpus bigrams — THE n-gram smoothing (Kneser & Ney 1995, the
    strongest classical LM baseline and the quality-scoring upgrade
    over the unsmoothed `bigram_cross_entropy` model): the backoff
    weight uses CONTINUATION counts (in how many contexts does w appear)
    rather than raw frequency, which is what stops "Francisco" from
    looking probable outside "San Francisco".

    Determinism: with discount 3/4, p_kn(w2|w1) = (c − 3/4)/cp +
    (3/4)·(N1+(w1·)/cp)·(N1+(·w2)/B) collapses to the EXACT integer
    rational ((4c − 3)·B + 3·ncont·nleft) / (4·cp·B) — numerator and
    denominator are bigints, ONE rounded division per row.

    Scale shape: four combiner-folded keyed counts off one bigram
    explode (bigram, prefix-total, distinct-continuation,
    distinct-left-context) + a 1-row type-count broadcast; the top-K is
    TakeOrderedAndProject.
    """
    docs = spread(read_table(spark, sf_dir, "documents")).withColumn("t", F.expr(TOKS))
    bi = (
        docs.select(F.explode(F.expr(_BIGRAMS_OVER_T)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("wa", F.expr("split(bg, ' ')[0]"))
        .withColumn("wb", F.expr("split(bg, ' ')[1]"))
    )
    prefix = bi.groupBy("wa").agg(
        F.sum("c").alias("cp"),
        F.count(F.lit(1)).cast("bigint").alias("ncont"),
    )
    left = bi.groupBy("wb").agg(
        F.count(F.lit(1)).cast("bigint").alias("nleft")
    )
    btypes = bi.agg(F.count(F.lit(1)).cast("bigint").alias("b_types"))
    return (
        bi.join(prefix, "wa")
        .join(left, "wb")
        .crossJoin(F.broadcast(btypes))
        .orderBy(F.col("c").desc(), F.col("bg").asc())
        .limit(KN_TOP_K)
        .select(
            "bg",
            "c",
            F.col("cp").alias("prefix_count"),
            F.col("ncont").alias("n_continuations"),
            F.col("nleft").alias("n_left_contexts"),
            F.round(
                F.expr(
                    "((4 * c - 3) * b_types + 3 * ncont * nleft)"
                    " / cast(4 * cp * b_types as double)"
                ),
                6,
            ).alias("p_kn"),
        )
    )


# pseudo-relevance feedback: expansion terms mined from the BM25 top-k
PRF_EXP_K = 10


def prf_expansion_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio/RM1 shape):
    take the `bm25_topk` result as assumed-relevant, score every
    non-query term that appears in those documents by
    feedback-document-frequency × idf, and emit the top expansion
    terms — the second-stage retrieval loop that turns one query into a
    better one with zero supervision.

    Determinism: the weight is df_fb · ln((N+1)/(df+1)) with the ln of
    an exact integer ratio micro-quantized before the integer
    multiplication; ranking compares (weight_micro, term) exactly.

    Scale shape: the feedback set is K documents (broadcast-sized);
    only THEIR distinct terms aggregate (a K-doc explode, not a corpus
    pass); corpus dfs come from one combiner-folded count pruned by a
    semi-join on the feedback vocabulary.
    """
    qset = ", ".join(f"'{t}'" for t in BM25_QUERY)
    docs = spread(read_table(spark, sf_dir, "documents"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    fb_ids = bm25_topk(spark, sf_dir).select("doc_id")
    fb_terms = (
        docs.join(F.broadcast(fb_ids), "doc_id", "leftsemi")
        .select("doc_id", F.explode(F.expr(f"array_distinct({TOKS})")).alias("term"))
        .filter(F.expr(f"term NOT IN ({qset})"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df_fb"))
    )
    df_corpus = (
        docs.select("doc_id", F.explode(F.expr(f"array_distinct({TOKS})")).alias("term"))
        .join(F.broadcast(fb_terms.select("term")), "term", "leftsemi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    return (
        fb_terms.join(df_corpus, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "w_micro",
            F.expr(
                "df_fb * cast(round(ln((n + 1) / cast(df + 1 as double))"
                " * 1000000) as bigint)"
            ),
        )
        .orderBy(F.col("w_micro").desc(), F.col("term").asc())
        .limit(PRF_EXP_K)
        .select(
            "term",
            "df_fb",
            F.col("df").alias("df_corpus"),
            F.round(F.col("w_micro") / 1e6, 6).alias("weight"),
        )
    )


RAKE_TOP_K = 30
# phrase splitter: stopwords break candidate phrases (RAKE's core idea)
_RAKE_STOPS = ", ".join(f"'{s}'" for s in STOPWORDS)


def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs; each word
    scores degree/frequency (degree = its total co-occurrence span
    inside candidates — favors words that appear in LONG phrases), a
    phrase scores the sum of its words, and the corpus-level top-K
    phrases by (score, then count) surface as the keyphrase vocabulary
    — the unsupervised topic-surface pass run before any embedding
    clustering.

    Determinism: degree and frequency are exact integer counts;
    per-word score ratios quantize to micro BEFORE the phrase sum
    (exact bigint); ranking compares (score_micro, n_occurrences,
    phrase) exactly.

    Scale shape: phrase segmentation is a per-row higher-order
    expression (aggregate fold splitting on stopwords — no UDF);
    word/phrase stats are combiner-folded keyed counts; top-K is
    TakeOrderedAndProject.
    """
    from pyspark.sql import Window

    # split each doc's token array into stopword-free runs via an
    # aggregate fold: accumulate (phrases, current_run)
    split_expr = (
        f"filter(aggregate({TOKS},"
        " named_struct('ph', cast(array() as array<string>),"
        " 'cur', cast('' as string)),"
        f" (acc, x) -> IF(x IN ({_RAKE_STOPS}),"
        " named_struct('ph', IF(acc.cur = '', acc.ph,"
        " array_append(acc.ph, acc.cur)), 'cur', ''),"
        " named_struct('ph', acc.ph,"
        " 'cur', IF(acc.cur = '', x, concat(acc.cur, ' ', x)))),"
        " acc -> IF(acc.cur = '', acc.ph, array_append(acc.ph, acc.cur))),"
        " p -> p != '')"
    )
    phrases = (
        spread(read_table(spark, sf_dir, "documents"))
        .select(F.explode(F.expr(split_expr)).alias("phrase"))
    )
    ph_stats = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    words = phrases.select(
        F.expr("size(split(phrase, ' '))").alias("plen"),
        F.explode(F.expr("split(phrase, ' ')")).alias("w"),
    )
    wstats = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    ).withColumn(
        "wscore_micro", F.expr("(degree * 1000000L) div freq")
    )
    scored = (
        ph_stats.select(
            "phrase",
            "n_occurrences",
            F.explode(F.expr("split(phrase, ' ')")).alias("w"),
        )
        .join(wstats.select("w", "wscore_micro"), "w")
        .groupBy("phrase", "n_occurrences")
        .agg(F.sum("wscore_micro").alias("score_micro"))
    )
    w = Window.orderBy(
        F.col("score_micro").desc(), F.col("n_occurrences").desc(),
        F.col("phrase").asc(),
    )
    return (
        scored.orderBy(
            F.col("score_micro").desc(), F.col("n_occurrences").desc(),
            F.col("phrase").asc(),
        )
        .limit(RAKE_TOP_K)
        .select(
            "phrase",
            "n_occurrences",
            F.round(F.col("score_micro") / 1e6, 6).alias("rake_score"),
            F.row_number().over(w).cast("int").alias("rank"),
        )
    )


SYMSPELL_MIN_FREQ = 3


def symspell_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell deletion-neighborhood typo detection (Garbe's algorithm,
    the fast spell-checker index): every vocabulary token generates its
    1-deletion variants; two tokens sharing a variant (or one being the
    other's deletion) are edit-distance-≤-1 CANDIDATES, verified with
    exact levenshtein and oriented rare→frequent (the typo is the rare
    side).  This is dedup blocking for VOCABULARY — the spelling-noise
    profile of a corpus, and the standard normalization table a search
    index ships with.

    Determinism: deletion variants, joins, and levenshtein are exact;
    the pair orients by (freq, token) so each candidate emits once.

    Scale shape: the deletion explode is |vocab|·len rows of SHORT
    strings (never documents); one equi-join on the variant key (the
    SymSpell trick: edit-distance joins become equality joins); verify
    runs only on candidates.
    """
    vocab = (
        spread(read_table(spark, sf_dir, "documents"))
        .select(F.explode(F.expr(TOKS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .filter(F.col("freq") >= SYMSPELL_MIN_FREQ)
    )
    # keys: the token itself + every 1-deletion variant
    dels = vocab.select(
        "w",
        "freq",
        F.explode(
            F.expr(
                "array_distinct(array_union(array(w),"
                " transform(sequence(1, length(w)),"
                " i -> concat(substring(w, 1, i - 1), substring(w, i + 1)))))"
            )
        ).alias("k"),
    )
    a = dels.select(
        F.col("w").alias("w_a"), F.col("freq").alias("f_a"), "k"
    )
    b = dels.select(
        F.col("w").alias("w_b"), F.col("freq").alias("f_b"), "k"
    )
    cand = (
        a.join(b, "k")
        .filter(F.col("w_a") != F.col("w_b"))
        .select("w_a", "f_a", "w_b", "f_b")
        .distinct()
        # orient: rare (the typo) -> frequent (the correction)
        .filter(
            (F.col("f_a") < F.col("f_b"))
            | ((F.col("f_a") == F.col("f_b")) & (F.col("w_a") < F.col("w_b")))
        )
    )
    return (
        cand.withColumn("dist", F.levenshtein("w_a", "w_b"))
        .filter(F.col("dist") <= 1)
        .select(
            F.col("w_a").alias("typo"),
            F.col("f_a").alias("typo_freq"),
            F.col("w_b").alias("correction"),
            F.col("f_b").alias("correction_freq"),
            F.col("dist").cast("int").alias("edit_distance"),
        )
    )


MEM_NGRAM_K = 8


def memorization_risk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source memorization-risk profile: the share of a source's
    word 8-grams that occur EXACTLY ONCE in the whole corpus — the
    standard proxy for verbatim-memorization exposure (unique long
    n-grams are the sequences a model can only reproduce by memorizing;
    cf. the dedup literature's k-gram uniqueness curves).

    8-grams are md5-hashed at extraction (the dedup discipline: bodies
    never shuffle, only 16-byte digests), counted once per (source,
    hash) and once globally; singletons are decided on exact global
    counts.

    Scale shape: two keyed hash-count aggregates (map-side combinable)
    + one hash-keyed join — the `shingle_novelty` data flow with a
    different rollup; no text ever crosses the shuffle.
    """
    docs = tokenized_corpus(spark, sf_dir).select("doc_id", "source", "t")
    ng = (
        f"CASE WHEN size(t) < {MEM_NGRAM_K} THEN array()"
        f" ELSE transform(sequence(1, size(t) - {MEM_NGRAM_K - 1}),"
        f" i -> md5(array_join(slice(t, i, {MEM_NGRAM_K}), ' '))) END"
    )
    ex = docs.select(
        "source", F.explode(F.expr(ng)).alias("h")
    )
    # materialize the (source, hash) counts once: the global rollup AND
    # the join both read `per`, and without the checkpoint the corpus-
    # sized n-gram explode+aggregate executes twice (no exchange reuse)
    per = (
        ex.groupBy("source", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_s"))
        .localCheckpoint(eager=True)
    )
    glob = per.groupBy("h").agg(F.sum("cnt_s").cast("bigint").alias("cnt_g"))
    j = per.join(glob, "h")
    return j.groupBy("source").agg(
        F.sum("cnt_s").cast("bigint").alias("n_ngrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.expr("if(cnt_g = 1, 1L, 0L)")).cast("bigint").alias(
            "n_singleton"
        ),
        F.round(
            F.expr(
                "cast(sum(if(cnt_g = 1, 1L, 0L)) as double)"
                " / cast(sum(cnt_s) as double)"
            ),
            6,
        ).alias("risk_ratio"),
    )


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease profile — the classic readability
    screen a text-quality pipeline runs beside `gopher_quality`'s
    heuristics: 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    words), with syllables approximated by vowel-group counts (the
    standard dictionary-free proxy).

    All three counts are exact integers per document (regex classes
    [.!?]+ and [aeiou]+ evaluate identically under Java regex and RE2);
    sentence count floors at 1 so fragments don't divide by zero.
    Source rollups are exact integer sums; the score is one fixed
    double expression rounded 6 dp.

    Scale shape: per-row regex counting (codegen'd, no UDF), one keyed
    map-side-combinable rollup.
    """
    d = read_table(spark, sf_dir, "documents").select(
        "source",
        F.expr(f"size({TOKS})").cast("bigint").alias("words"),
        F.expr(
            "greatest(1L, cast(size(regexp_extract_all(text, '[.!?]+', 0))"
            " as bigint))"
        ).alias("sentences"),
        F.expr(
            "cast(size(regexp_extract_all(lower(text), '[aeiou]+', 0))"
            " as bigint)"
        ).alias("syllables"),
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("w"),
        F.sum("sentences").cast("bigint").alias("s"),
        F.sum("syllables").cast("bigint").alias("y"),
    )
    flesch = (
        "206.835 - 1.015 * (cast(w as double) / cast(s as double))"
        " - 84.6 * (cast(y as double) / cast(w as double))"
    )
    return agg.select(
        "source",
        "n_docs",
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        F.col("y").alias("n_syllables"),
        F.round(F.expr(flesch), 6).alias("flesch_ease"),
    )


STYLO_TOP_V = 50
STYLO_Z_SCALE = 1_000_000  # z micro-quantization
STYLO_F_SCALE = 1_000_000_000  # relative-frequency nano-quantization


def stylometry_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta authorship distance between every source pair —
    the classical stylometry measure: z-score each source's relative
    frequency of the corpus' top-50 words against the across-source
    distribution, Delta(a,b) = mean |z_a − z_b|.  Low Delta = same
    "hand"; the source-attribution companion to
    `source_divergence_matrix`'s topical JS distance.

    Determinism ladder: relative frequencies are FLOOR-quantized
    integers (cnt·10⁹ div total — exact positive-operand division);
    per-word across-source mean/std come from exact integer sums;
    z-scores are micro-quantized (×10⁶ → bigint) so the per-pair sum of
    |z diffs| is exact integer addition; words with zero across-source
    variance are excluded globally (nullif guard) and the pair mean
    normalizes by the surviving word count.

    Scale shape: token explode → vocabulary-keyed counts (the
    `zipf_fit` flow); the z table is sources × 50 rows; the pair join
    is (sources² × 50) — reporting-grain sized.
    """
    toks = read_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x != '')")
        ).alias("w"),
    )
    # ONE corpus explode: the global vocabulary ranking, the per-source
    # totals and the per-(source, word) counts all derive from this
    # checkpointed (source, w, cnt) aggregate — without it the token
    # explode executed three times (round-7 audit)
    sc = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=True)
    wc = sc.groupBy("w").agg(F.sum("c").cast("bigint").alias("cnt"))
    topv = (
        wc.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("w"))
            ),
        )
        .where(F.col("rk") <= STYLO_TOP_V)
        .select("w")
    )
    n_s = sc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("total")
    )
    sw = sc.join(F.broadcast(topv), "w").select(
        "source", "w", F.col("c").alias("cnt_sw")
    )
    dense = (
        n_s.crossJoin(F.broadcast(topv))
        .join(sw, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                f"(coalesce(cnt_sw, 0L) * {STYLO_F_SCALE}) div total"
            ).alias("fq"),
        )
    )
    stats = dense.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("fq").cast("bigint").alias("sf"),
        F.sum(F.expr("cast(fq as decimal(38,0)) * fq")).alias("sff"),
    )
    mu = "(cast(sf as double) / cast(ns as double))"
    sd = (
        f"sqrt(cast(sff as double) / cast(ns as double) - {mu} * {mu})"
    )
    z = dense.join(F.broadcast(stats), "w").select(
        "source",
        "w",
        F.expr(
            f"cast(round((cast(fq as double) - {mu})"
            f" / nullif({sd}, 0.0) * {STYLO_Z_SCALE}) as bigint)"
        ).alias("zq"),
    ).where(F.col("zq").isNotNull())
    za = z.select(
        F.col("source").alias("source_a"), "w", F.col("zq").alias("za")
    )
    zb = z.select(
        F.col("source").alias("source_b"), "w", F.col("zq").alias("zb")
    )
    pairs = za.join(zb, "w").where(F.col("source_a") < F.col("source_b"))
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.round(
            F.expr(
                f"cast(sum(abs(za - zb)) as double)"
                f" / cast(count(1) as double) / {STYLO_Z_SCALE}.0"
            ),
            6,
        ).alias("delta"),
    )


def phrase_match_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search (position-adjacent term pair) for the
    corpus' most frequent word bigram — what `inverted_index`'s
    bag-of-words postings cannot answer: "these two words ADJACENT, in
    this order".  Emits every matching document with its occurrence
    count, plus the phrase itself for the audit trail.

    The target bigram is chosen deterministically (max count, then
    lexicographic order); occurrences are counted with a positional
    fold over the token array (1-based element_at / list indexing —
    identical semantics in both engines), so no positional posting
    list needs to shuffle.

    Scale shape: bigram counts are vocabulary²-bounded keyed
    aggregates; the match pass is one per-row codegen'd fold with the
    2-word phrase broadcast.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).withColumn("t", F.expr(TOKS))
    big = docs.select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) < 2 THEN array()"
                " ELSE transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1,"
                " element_at(t, i + 1) AS w2)) END"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    top = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), "w1", "w2")
            ),
        )
        .where(F.col("rk") == 1)
        .select("w1", "w2")
    )
    hits = docs.crossJoin(F.broadcast(top)).select(
        "doc_id",
        "w1",
        "w2",
        F.expr(
            "CASE WHEN size(t) < 2 THEN cast(0 as bigint)"
            " ELSE cast(size(filter(sequence(1, size(t) - 1),"
            " i -> element_at(t, i) = w1"
            " and element_at(t, i + 1) = w2)) as bigint) END"
        ).alias("n_occurrences"),
    )
    return hits.where(F.col("n_occurrences") > 0).select(
        "doc_id",
        F.concat_ws(" ", "w1", "w2").alias("phrase"),
        "n_occurrences",
    )


INTRADOC_NGRAM_K = 5


def intradoc_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition audit per source: the share of word
    5-grams that are REPEATS inside their own document (1 − distinct/
    total), pooled per source — the self-repetition signal (boilerplate
    loops, templated spans, degenerate generations) that the corpus-wide
    dedup family cannot see because it compares documents to EACH OTHER.
    The per-source pooled rate is the quality gate a pretraining
    pipeline thresholds on (Rae et al. 2021's repetition filters).

    Determinism: gram totals and distinct counts are exact integers
    computed per document (array ops, no shuffle of gram strings); the
    pooled share is one division at the surface.

    Scale shape: grams never leave their row — size() and
    array_distinct() fold inside the projection, so the only shuffle is
    the |sources|-row rollup.
    """
    k = INTRADOC_NGRAM_K
    grams = tokenized_corpus(spark, sf_dir).select(
        "source",
        F.expr(
            f"CASE WHEN size(t) < {k} THEN array()"
            f" ELSE transform(sequence(1, size(t) - {k - 1}),"
            f" i -> concat_ws(' ', slice(t, i, {k}))) END"
        ).alias("g"),
    )
    per_doc = grams.select(
        "source",
        F.expr("cast(size(g) as bigint)").alias("n_grams"),
        F.expr("cast(size(array_distinct(g)) as bigint)").alias("n_distinct"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.expr("if(n_grams >= 1, 1L, 0L)")).alias("n_docs_scored"),
            F.sum("n_grams").cast("bigint").alias("total_grams"),
            F.sum("n_distinct").cast("bigint").alias("distinct_grams"),
        )
        .select(
            "source",
            "n_docs",
            "n_docs_scored",
            "total_grams",
            "distinct_grams",
            F.round(
                F.expr(
                    "1.0 - cast(distinct_grams as double)"
                    " / cast(nullif(total_grams, 0L) as double)"
                ),
                6,
            ).alias("dup_share"),
        )
    )


LLR_MIN_COUNT = 5
LLR_TOP_K = 50


def llr_term(o: str, r: str, c: str) -> str:
    """One observed-cell term of Dunning's G²: o·ln(o·N/(R·C)), with the
    0·ln0 = 0 convention — a fixed double expression over exact bigint
    cell/marginal counts, shared verbatim with the oracle."""
    return (
        f"(CASE WHEN {o} > 0 THEN cast({o} as double)"
        f" * ln(cast({o} as double) * cast(nn as double)"
        f" / (cast({r} as double) * cast({c} as double))) ELSE 0.0 END)"
    )


LLR_G2 = (
    "(2.0 * ("
    + " + ".join(
        [
            llr_term("k11", "r1", "c1"),
            llr_term("(r1 - k11)", "r1", "(nn - c1)"),
            llr_term("(c1 - k11)", "(nn - r1)", "c1"),
            llr_term("(nn - r1 - c1 + k11)", "(nn - r1)", "(nn - c1)"),
        ]
    )
    + "))"
)


def bigram_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K collocations by Dunning's log-likelihood ratio G² (Dunning
    1993) over corpus bigrams — the collocation test that stays
    calibrated at low counts where `bigram_pmi` explodes (PMI rewards
    rare pairs; G² asks how surprising the 2×2 contingency table is
    under independence, so frequent-AND-exclusive pairs win).  The
    standard phrase-mining ranking before tokenizer/vocab decisions.

    Determinism: all four cells derive from exact integer bigram,
    prefix-marginal and suffix-marginal counts; G² is one shared
    double expression tree (module constant, oracle-imported) with the
    0·ln0 = 0 convention; top-K ordering ties break on the bigram.

    Scale shape: one bigram explode with three combiner-folded keyed
    counts (bigram, first-word marginal, second-word marginal) + a
    1-row total broadcast; the top-K is TakeOrderedAndProject.
    """
    docs = tokenized_corpus(spark, sf_dir)
    # materialize the bigram count table once: FOUR consumers read it
    # (row marginals, column marginals, grand total, the scored join) and
    # exchange reuse does not dedupe them — without this the corpus-sized
    # explode+aggregate executes four times.  The table is vocab²-sparse
    # (observed bigrams only), the safe size for a checkpoint.
    bi = (
        docs.select(F.explode(F.expr(_BIGRAMS_OVER_T)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k11"))
        .withColumn("wa", F.expr("split(bg, ' ')[0]"))
        .withColumn("wb", F.expr("split(bg, ' ')[1]"))
        .localCheckpoint(eager=True)
    )
    r = bi.groupBy("wa").agg(F.sum("k11").cast("bigint").alias("r1"))
    c = bi.groupBy("wb").agg(F.sum("k11").cast("bigint").alias("c1"))
    nn = bi.agg(F.sum("k11").cast("bigint").alias("nn"))
    return (
        bi.where(F.col("k11") >= LLR_MIN_COUNT)
        .join(F.broadcast(r), "wa")
        .join(F.broadcast(c), "wb")
        .crossJoin(F.broadcast(nn))
        .select(
            "wa",
            "wb",
            "k11",
            "r1",
            "c1",
            F.expr(LLR_G2).alias("g2_raw"),
        )
        .orderBy(F.col("g2_raw").desc(), "wa", "wb")
        .limit(LLR_TOP_K)
        .select(
            "wa",
            "wb",
            F.col("k11").alias("n_pair"),
            F.col("r1").alias("n_first"),
            F.col("c1").alias("n_second"),
            F.round("g2_raw", 6).alias("llr_g2"),
        )
    )


def retrieval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Precision and Recall@K for the `bm25_topk` run — the
    rank-sensitive eval companion to `ndcg_at_k` (NDCG rewards graded
    order; AP integrates binary precision over the relevant ranks, and
    Recall@K says how much of the corpus's relevant mass the cutoff
    captured).  Relevance is the same deterministic grading: a document
    is relevant iff it contains ≥ 1 BM25 query term.

    Determinism: precision@r terms are exact rationals micro-quantized
    to bigints before summing; relevant-set sizes are exact integer
    counts; AP and recall are one division each at the surface.

    Scale shape: the run is K rows; corpus relevant-count is one
    combiner-folded aggregate off the grading projection; the
    cumulative precision runs over the K-row run only.
    """
    from pyspark.sql import Window

    qlist = ", ".join(f"'{t}'" for t in BM25_QUERY)
    docs = spread(read_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr(
            f"cast(if(size(array_intersect(array_distinct({TOKS}),"
            f" array({qlist}))) >= 1, 1, 0) as bigint)"
        ).alias("rel"),
    )
    run = bm25_topk(spark, sf_dir).select("doc_id", "rank")
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        run.join(docs, "doc_id")
        .withColumn("cum_rel", F.sum("rel").over(w))
        .select(
            "rel",
            F.expr(
                "if(rel = 1, cast(round(cast(cum_rel as double)"
                " / cast(rank as double) * 1000000.0) as bigint), 0L)"
            ).alias("prec_micro"),
        )
        .agg(
            F.sum("prec_micro").cast("bigint").alias("sum_prec_micro"),
            F.sum("rel").cast("bigint").alias("n_rel_run"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )
    corpus = docs.agg(F.sum("rel").cast("bigint").alias("n_rel_corpus"))
    return scored.crossJoin(F.broadcast(corpus)).select(
        "k",
        "n_rel_run",
        "n_rel_corpus",
        F.round(
            F.expr(
                "cast(sum_prec_micro as double) / 1000000.0"
                " / cast(nullif(n_rel_run, 0L) as double)"
            ),
            6,
        ).alias("avg_precision"),
        F.round(
            F.expr(
                "cast(n_rel_run as double)"
                " / cast(nullif(n_rel_corpus, 0L) as double)"
            ),
            6,
        ).alias("recall_at_k"),
    )


KEYNESS_ALPHA = 0.01  # Dirichlet prior mass per word
KEYNESS_TOP_K = 10
# Monroe et al. (2008) log-odds with informative Dirichlet prior:
# delta = ln((y+a)/(n+a0-y-a)) - ln((y'+a)/(n'+a0-y'-a)); var ~ 1/(y+a)+1/(y'+a)
KEYNESS_Z = (
    "((ln((cast(y_s as double) + a) / (cast(n_s as double) + a0"
    " - cast(y_s as double) - a))"
    " - ln((cast(y_r as double) + a) / (cast(n_r as double) + a0"
    " - cast(y_r as double) - a)))"
    " / sqrt(1.0 / (cast(y_s as double) + a)"
    " + 1.0 / (cast(y_r as double) + a)))"
)


def monroe_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyness: the top-K most DISTINCTIVE words of every
    source by Monroe, Colaresi & Quinn's (2008) log-odds ratio with an
    informative Dirichlet prior — the text-analytics standard that
    fixes both tf-idf (no variance control) and raw log-odds (explodes
    on rare words): the prior shrinks rare-word odds and the z-score
    divides by the estimated sampling variance, so a word must be both
    frequent AND lopsided to score.

    Determinism: word counts per source and for the complement are
    exact integers off one corpus scan; the z is one shared double
    expression (module constant, oracle-imported) over those integers
    with the prior masses as pinned literals; top-K ties break on the
    word.

    Scale shape: one (source, word) keyed count; the complement comes
    from the global word rollup broadcast back (never a self-join of
    the corpus); top-K per source is a bounded window over the scored
    vocabulary.
    """
    from pyspark.sql import Window

    words = read_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.expr(TOKS)).alias("w")
    )
    per_src = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("y_s")
    )
    glob = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("y_g")
    )
    n_src = words.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    n_tot = words.agg(F.count(F.lit(1)).cast("bigint").alias("n_g"))
    vocab = glob.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    scored = (
        per_src.join(F.broadcast(glob), "w")
        .join(F.broadcast(n_src), "source")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            "w",
            "y_s",
            F.expr("y_g - y_s").alias("y_r"),
            "n_s",
            F.expr("n_g - n_s").alias("n_r"),
            F.expr(f"cast({KEYNESS_ALPHA} as double)").alias("a"),
            F.expr(
                f"cast(v as double) * {KEYNESS_ALPHA}"
            ).alias("a0"),
        )
        .select(
            "source",
            "w",
            "y_s",
            "y_r",
            F.expr(KEYNESS_Z).alias("z_raw"),
        )
    )
    w_top = Window.partitionBy("source").orderBy(
        F.col("z_raw").desc(), F.col("w").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_top))
        .where(F.col("rnk") <= KEYNESS_TOP_K)
        .select(
            "source",
            F.col("rnk").cast("int").alias("rank"),
            "w",
            F.col("y_s").alias("n_in_source"),
            F.col("y_r").alias("n_in_rest"),
            F.round("z_raw", 6).alias("keyness_z"),
        )
    )


def yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K lexical-richness characteristic per source (Yule 1944):
    K = 10⁴ · (Σ_m m²·V(m) − N) / N² over the frequency-of-frequency
    spectrum (V(m) = number of word types occurring exactly m times, N =
    total tokens).  K is (asymptotically) corpus-size-invariant, unlike
    raw type/token ratio — the repetitiveness gauge that separates
    template-generated text (high K) from natural prose, completing the
    vocabulary-growth shelf beside `heaps_fit` (growth curve) and
    `zipf_fit` (rank law).

    Determinism: the spectrum is exact integers end-to-end; Σ m²·V(m)
    is an exact bigint; ONE double division at the surface.

    Scale shape: token explode folds immediately to (source, term)
    counts (combiner-friendly), then to the |distinct counts|-sized
    frequency spectrum — the same two-stage fold as zipf_fit; nothing
    row-sized ever reaches the final aggregate.
    """
    toks = (
        read_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.expr(TOKS)).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    spectrum = toks.groupBy("source", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("vm")
    )
    return (
        spectrum.groupBy("source")
        .agg(
            F.sum(F.expr("m * vm")).cast("bigint").alias("n_tokens"),
            F.sum("vm").cast("bigint").alias("n_types"),
            F.sum(F.expr("m * m * vm")).cast("bigint").alias("s2"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            F.round(
                F.expr(
                    "10000.0 * (s2 - n_tokens)"
                    " / (cast(n_tokens as double) * n_tokens)"
                ),
                6,
            ).alias("yule_k"),
        )
    )
