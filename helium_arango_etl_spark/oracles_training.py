"""DuckDB oracle SQL for the training-data operators (dedup / similarity /
text analysis).  Generated programmatically so the MinHash/SimHash/LSH
constants stay in lockstep with the Spark implementations in
``operators.dedup`` / ``operators.similarity`` / ``operators.textops``.

Every hash is md5 over canonical strings -> bit-identical across engines.
DuckDB syntax notes vs Spark: list indexing is 1-based (`t[i:i+2]` is an
inclusive slice), `string_split` is literal (Spark's `split` is regex),
`regexp_replace` needs the 'g' flag for global.
"""

from __future__ import annotations

from .operators.dedup import (
    BAND_ROWS,
    LSH_MAX_BUCKET,
    MOD_P,
    NEAR_DUP_THRESH,
    NUM_BANDS,
    NUM_HASHES,
    SHINGLE_K,
)
from .operators.similarity import (
    BATCH_K,
    DIM,
    NPROBE,
    NUM_CENTROIDS,
    NUM_PLANES,
    NUM_QUERIES,
    QUERY_VEC_ID,
    TOP_K,
)
from .operators.textops import (
    BPE_RE,
    LANG_MARKERS,
    MAX_DUP_2GRAM_FRAC,
    MAX_MEAN_WORD_LEN,
    MAX_TOP_TOKEN_FRAC,
    MAX_WORDS,
    MIN_MEAN_WORD_LEN,
    MIN_STOPWORD_HITS,
    MIN_WORDS,
    STOPWORDS,
)

# ---------- shared fragments ----------

_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_SHINGLES = (
    f"CASE WHEN len(t) < {SHINGLE_K} THEN [] "
    f"ELSE list_transform(range(1, len(t) - {SHINGLE_K - 2}), "
    f"i -> array_to_string(t[i:i+{SHINGLE_K - 1}], ' ')) END"
)

# One md5 per shingle -> two 28-bit ints; minhash i = h1 + i*h2 mod P
# (Kirsch-Mitzenmacher — in lockstep with operators.dedup.HASH_PAIRS).
_HASH_PAIRS = (
    "list_transform(sh, s -> [('0x' || substr(md5(s), 1, 7))::BIGINT,"
    " ('0x' || substr(md5(s), 9, 7))::BIGINT])"
)
_MH = ", ".join(
    f"list_min(list_transform(hs, h -> (h[1] + {i} * h[2]) % {MOD_P})) AS mh{i}"
    for i in range(NUM_HASHES)
)
_BANDS = ", ".join(
    "md5(concat_ws('|', "
    + ", ".join(f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
    + f")) AS band{b}"
    for b in range(NUM_BANDS)
)
_BAND_LIST = ", ".join(f"band{b}" for b in range(NUM_BANDS))

_SIG_CTE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), sh_t AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM toks
), hp AS (
  SELECT doc_id, {_HASH_PAIRS} AS hs FROM sh_t
), sig0 AS (
  SELECT doc_id, {_MH} FROM hp
), sig AS (
  SELECT doc_id,
         concat_ws('|', {", ".join(f"mh{h}" for h in range(NUM_HASHES))}) AS sig,
         {_BANDS}
  FROM sig0 WHERE mh0 IS NOT NULL
)"""

_EST_J = (
    "round(list_sum(list_transform(range(1, "
    + str(NUM_HASHES + 1)
    + "), i -> CASE WHEN string_split(sig_a, '|')[i] = string_split(sig_b, '|')[i]"
    " THEN 1 ELSE 0 END)) / "
    + f"CAST({NUM_HASHES} AS DOUBLE), 4)"
)

_CAND_CTE = f"""
, exploded AS (
  SELECT doc_id, sig, unnest([{_BAND_LIST}]) AS band_hash,
         unnest(range(0, {NUM_BANDS})) AS band_idx
  FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
  FROM exploded a
  JOIN exploded b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
)"""

# ---------- similarity fragments ----------

_CAST64 = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_DOT = f"list_sum(list_transform(range(1, {DIM + 1}), i -> vb[i] * va[i]))"
_NA = f"sqrt(list_sum(list_transform(range(1, {DIM + 1}), i -> va[i] * va[i])))"
_NB = f"sqrt(list_sum(list_transform(range(1, {DIM + 1}), i -> vb[i] * vb[i])))"
_COSINE = (
    f"(CASE WHEN {_NA} * {_NB} = 0 THEN NULL"
    f" ELSE round({_DOT} / ({_NA} * {_NB}), 6) END)"
)


def _plane_coef(plane: int) -> str:
    return f"((((i + 1) * {plane * 2 + 1} * 2654435761) % 1000) / 1000.0 - 0.5)"


def _bucket(vec: str) -> str:
    bits = []
    for p in range(NUM_PLANES):
        proj = f"list_sum(list_transform(range(0, {DIM}), i -> {vec}[i + 1] * {_plane_coef(p)}))"
        bits.append(f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


_BUCKET_CTE = f"""
WITH b AS (
  SELECT vec_id, label, {_CAST64} AS v, {_bucket(_CAST64)} AS bucket
  FROM embeddings
)"""

# ---------- the oracle dict ----------

_sw = ", ".join(f"'{w}'" for w in STOPWORDS)

ORACLE_TRAINING: dict[str, str] = {
    "exact_dedup": """
        SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "text_stats": f"""
        WITH toks AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)
        SELECT doc_id,
               len(t) AS n_tokens,
               length(text) AS n_chars,
               CASE WHEN len(t) = 0 THEN NULL ELSE
                 CAST(round(list_sum(list_transform(t, x -> length(x))) / CAST(len(t) AS DOUBLE) * 1e4) AS BIGINT) / 1e4 END AS avg_token_len,
               CASE WHEN len(t) = 0 THEN NULL ELSE
                 CAST(round(len(list_filter(t, x -> x IN ({_sw}))) / CAST(len(t) AS DOUBLE) * 1e4) AS BIGINT) / 1e4 END AS stopword_ratio,
               CASE WHEN length(text) = 0 THEN NULL ELSE
                 CAST(round((length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) / CAST(length(text) AS DOUBLE) * 1e4) AS BIGINT) / 1e4 END AS alpha_ratio,
               CASE WHEN len(t) = 0 OR length(text) = 0 THEN NULL ELSE
                 CAST(round((0.4 * (len(list_filter(t, x -> x IN ({_sw}))) / CAST(len(t) AS DOUBLE))
                     + 0.3 * least(len(t) / 100.0, 1.0)
                     + 0.3 * ((length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) / CAST(length(text) AS DOUBLE)))
                     * 1e4) AS BIGINT) / 1e4 END AS quality_score
        FROM toks
    """,
    "lang_id": f"""
        WITH c AS (
          SELECT doc_id, lang AS actual_lang,
                 {", ".join(f"len(list_filter({_TOKS}, x -> x = '{m}')) AS c_{lg}" for lg, m in LANG_MARKERS)}
          FROM documents
        )
        SELECT doc_id, actual_lang, {", ".join(f"c_{lg}" for lg, _ in LANG_MARKERS)},
               CASE WHEN greatest({", ".join(f"c_{lg}" for lg, _ in LANG_MARKERS)}) = 0 THEN 'und'
                    {" ".join(f"WHEN c_{lg} = greatest({', '.join(f'c_{l2}' for l2, _ in LANG_MARKERS)}) THEN '{lg}'" for lg, _ in LANG_MARKERS)}
                    ELSE 'und' END AS predicted_lang
        FROM c
    """,
    "bpe_token_stats": f"""
        WITH b AS (
          SELECT doc_id,
                 regexp_extract_all(lower(text), '{BPE_RE}') AS bt,
                 {_TOKS} AS t
          FROM documents
        )
        SELECT doc_id,
               len(bt) AS n_bpe_tokens,
               len(list_filter(bt, x -> regexp_matches(x, '^[a-z]'))) AS n_word_tokens,
               len(list_filter(bt, x -> regexp_matches(x, '^[0-9]'))) AS n_digit_tokens,
               len(list_filter(bt, x -> regexp_matches(x, '^[^a-z0-9]'))) AS n_punct_tokens,
               CASE WHEN len(t) = 0 THEN NULL ELSE
                 round(len(bt) / CAST(len(t) AS DOUBLE), 4) END AS tokens_per_word
        FROM b
    """,
    "doc_fingerprint": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
        SELECT doc_id,
               CASE WHEN len(t) = 0 THEN NULL ELSE
                 md5(array_to_string(list_sort(list_distinct(t)), ' ')) END AS bow_fingerprint,
               CASE WHEN len(t) = 0 THEN NULL ELSE
                 md5(array_to_string(t[1:8], ' ')) END AS prefix_fingerprint
        FROM toks
    """,
    "minhash_signatures": _SIG_CTE + f"""
        SELECT doc_id, sig, {_BAND_LIST} FROM sig
    """,
    "lsh_candidate_pairs": _SIG_CTE + _CAND_CTE + f"""
        SELECT doc_a, doc_b, {_EST_J} AS est_jaccard FROM cand
    """,
    "ngram_jaccard_pairs": _SIG_CTE + _CAND_CTE + f"""
        , shset AS (
          SELECT doc_id, list_distinct({_SHINGLES}) AS sh
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks
        ), sizes AS (
          SELECT doc_id, len(sh) AS n_sh FROM shset
        ), ex AS (
          SELECT doc_id, unnest(sh) AS shingle FROM shset
        ), inter AS (
          SELECT c.doc_a, c.doc_b, {_EST_J} AS est_jaccard, count(*) AS n_inter
          FROM cand c
          JOIN ex a ON a.doc_id = c.doc_a
          JOIN ex b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b, c.sig_a, c.sig_b
        )
        SELECT i.doc_a, i.doc_b, i.est_jaccard,
               round(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 4) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    """,
    "near_dup_keep": _SIG_CTE + _CAND_CTE + f"""
        , shset AS (
          SELECT doc_id, list_distinct({_SHINGLES}) AS sh
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks
        ), sizes AS (
          SELECT doc_id, len(sh) AS n_sh FROM shset
        ), ex AS (
          SELECT doc_id, unnest(sh) AS shingle FROM shset
        ), inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM cand c
          JOIN ex a ON a.doc_id = c.doc_a
          JOIN ex b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        ), dropped AS (
          SELECT DISTINCT i.doc_b AS doc_id
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE round(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 4) >= {NEAR_DUP_THRESH}
        ), canon AS (
          SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        )
        SELECT c.doc_id FROM canon c
        WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    "simhash": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
        SELECT doc_id,
               {" || ".join(
                   f"(CASE WHEN list_sum(list_transform(t, tok -> CASE WHEN substr(md5(tok), {j}, 1) >= '8' THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END)"
                   for j in range(1, 33)
               )} AS simhash32
        FROM toks
    """,
    "lsh_bucket_stats": _SIG_CTE + f"""
        , exploded AS (
          SELECT doc_id, unnest([{_BAND_LIST}]) AS band_hash,
                 unnest(range(0, {NUM_BANDS})) AS band_idx
          FROM sig
        ), sizes AS (
          SELECT band_idx, band_hash, count(*) AS k
          FROM exploded GROUP BY band_idx, band_hash
        ), per AS (
          SELECT k, k * (k - 1) // 2 AS all_pairs,
                 (k // {LSH_MAX_BUCKET}) * ({LSH_MAX_BUCKET} * ({LSH_MAX_BUCKET} - 1) // 2)
                   + (k % {LSH_MAX_BUCKET}) * (k % {LSH_MAX_BUCKET} - 1) // 2 AS capped_pairs
          FROM sizes
        )
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets,
               CAST(max(k) AS BIGINT) AS max_bucket_size,
               CAST(sum(all_pairs) AS BIGINT) AS candidate_pairs,
               CAST(sum(capped_pairs) AS BIGINT) AS capped_pairs,
               CAST(sum(all_pairs) - sum(capped_pairs) AS BIGINT) AS dropped_pairs
        FROM per
    """,
    "simhash_near_pairs": _SIG_CTE + _CAND_CTE + f"""
        , sh32 AS (
          SELECT doc_id,
                 {" || ".join(
                     f"(CASE WHEN list_sum(list_transform(t, tok -> CASE WHEN substr(md5(tok), {j}, 1) >= '8' THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END)"
                     for j in range(1, 33)
                 )} AS simhash32
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks
        )
        SELECT c.doc_a, c.doc_b,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> CASE WHEN substr(a.simhash32, i, 1) = substr(b.simhash32, i, 1) THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
        FROM cand c
        JOIN sh32 a ON a.doc_id = c.doc_a
        JOIN sh32 b ON b.doc_id = c.doc_b
    """,
    "ann_batch_topk": f"""
        WITH q AS (
          SELECT vec_id AS q_id, {_CAST64} AS va
          FROM embeddings WHERE vec_id < {NUM_QUERIES}
        ), scored AS (
          SELECT q.q_id, e.vec_id, e.label,
                 {_CAST64.replace("embedding", "e.embedding")} AS vb, q.va
          FROM embeddings e, q
        ), ranked AS (
          SELECT q_id, vec_id, label, {_COSINE} AS cosine_sim,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY {_COSINE} DESC, vec_id ASC) AS rank
          FROM scored
        )
        SELECT q_id, vec_id, label, cosine_sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {BATCH_K}
    """,
    "cms_token_counts": """
        WITH toks AS (
          SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
          FROM documents
        ), tc AS (
          SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM toks GROUP BY token
        ), hashed AS (
          SELECT token, n_exact, d,
                 ('0x' || substr(md5(CAST(d AS VARCHAR) || '|' || token), 1, 7))::BIGINT % 64 AS cell
          FROM tc, (SELECT unnest([0, 1, 2, 3]) AS d) ds
        ), counters AS (
          SELECT d, cell, CAST(sum(n_exact) AS BIGINT) AS cnt
          FROM hashed GROUP BY d, cell
        )
        SELECT h.token, h.n_exact,
               CAST(min(c.cnt) AS BIGINT) AS cms_estimate,
               CAST(min(c.cnt) - h.n_exact AS BIGINT) AS overcount
        FROM hashed h JOIN counters c ON h.d = c.d AND h.cell = c.cell
        GROUP BY h.token, h.n_exact
    """,
    "ann_cosine_topk": f"""
        WITH q AS (
          SELECT {_CAST64} AS va FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        ), scored AS (
          SELECT e.vec_id, e.label, {_CAST64.replace("embedding", "e.embedding")} AS vb, q.va
          FROM embeddings e, q
        )
        SELECT vec_id, label, {_COSINE} AS cosine_sim
        FROM scored
        ORDER BY cosine_sim DESC, vec_id ASC
        LIMIT {TOP_K}
    """,
    "lsh_bucket_topk": _BUCKET_CTE + f"""
        , q AS (SELECT v AS va, bucket AS q_bucket FROM b WHERE vec_id = {QUERY_VEC_ID})
        SELECT b.vec_id, b.label,
               {_COSINE.replace("vb", "b.v").replace("va", "q.va")} AS cosine_sim
        FROM b, q
        WHERE b.bucket = q.q_bucket
        ORDER BY cosine_sim DESC, vec_id ASC
        LIMIT {TOP_K}
    """,
    "cosine_near_dup_pairs": _BUCKET_CTE + f"""
        SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
               {_COSINE.replace("va", "a.v").replace("vb", "b2.v")} AS cosine_sim
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE {_COSINE.replace("va", "a.v").replace("vb", "b2.v")} >= 0.99
    """,
    "ivf_topk": f"""
        WITH e AS (
          SELECT vec_id, label, {_CAST64} AS v FROM embeddings
        ), seeds AS (
          SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {NUM_CENTROIDS}
        ), scored AS (
          SELECT e.vec_id, e.label, e.v, s.centroid_id,
                 list_sum(list_transform(range(1, {DIM + 1}), i -> e.v[i] * s.cv[i])) AS dot
          FROM e, seeds s
        ), assigned AS (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, centroid_id ASC) AS rnk
          FROM scored
        ), probes AS (
          SELECT vec_id, label, v, centroid_id FROM assigned WHERE rnk <= {NPROBE}
        ), q AS (
          SELECT v AS va, centroid_id AS q_centroid,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS na
          FROM assigned WHERE vec_id = {QUERY_VEC_ID} AND rnk = 1
        )
        SELECT p.vec_id, p.label,
               round(list_sum(list_transform(range(1, {DIM + 1}), i -> p.v[i] * q.va[i]))
                     / (sqrt(list_sum(list_transform(p.v, x -> x * x))) * q.na), 6) AS cosine_sim
        FROM probes p, q
        WHERE p.centroid_id = q.q_centroid
        ORDER BY cosine_sim DESC, vec_id ASC
        LIMIT {TOP_K}
    """,
    "embedding_norms": f"""
        WITH n AS (
          SELECT label,
                 CAST(round(sqrt(list_sum(list_transform({_CAST64},
                        x -> x * x))) * 1e6) AS BIGINT) AS ln6
          FROM embeddings
        )
        SELECT label, count(*) AS n_vectors,
               CAST(round(sum(ln6) / (count(*) * 100.0)) AS BIGINT) / 1e4
                   AS avg_norm,
               CAST(round(min(ln6) / 100.0) AS BIGINT) / 1e4 AS min_norm,
               CAST(round(max(ln6) / 100.0) AS BIGINT) / 1e4 AS max_norm
        FROM n GROUP BY label
    """,
}

# ---------- repetition / quality-rule oracles ----------
#
# Lockstep notes vs operators.textops: the Spark side computes the
# most-frequent-token count as a linear fold over the sorted token array;
# the oracle computes the same number as max-count-per-distinct-token
# (O(distinct x n) is fine at oracle scale).  2-grams are adjacent token
# concatenations; both engines divide int counts as float64 and round(6).

_GRAMS2_DK = (
    "CASE WHEN len(t) < 2 THEN [] "
    "ELSE list_transform(range(2, len(t) + 1), i -> t[i-1] || ' ' || t[i]) END"
)
_TOPCNT_DK = (
    "CASE WHEN len(t) = 0 THEN 0 "
    "ELSE list_max(list_transform(list_distinct(t), d -> len(list_filter(t, x -> x = d)))) END"
)

ORACLE_TRAINING.update(
    {
        "repetition_signals": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        g2 AS (
          SELECT doc_id, t, {_GRAMS2_DK} AS g, {_TOPCNT_DK} AS top_cnt FROM toks
        )
        SELECT doc_id,
               len(t) AS n_tokens,
               CAST(top_cnt AS BIGINT) AS top_token_count,
               round(top_cnt / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS top_token_frac,
               round(CASE WHEN len(t) < 2 THEN 0.0
                          ELSE 1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE)
                     END, 6) AS dup_2gram_frac
        FROM g2
    """,
        "gopher_quality": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        g2 AS (
          SELECT doc_id, t, {_GRAMS2_DK} AS g, {_TOPCNT_DK} AS top_cnt FROM toks
        ),
        sig AS (
          SELECT doc_id,
                 len(t) AS n_tokens,
                 COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
                   / CAST(greatest(len(t), 1) AS DOUBLE) AS mwl_raw,
                 len(list_filter(t, x -> x IN ({_sw}))) AS stopword_hits,
                 top_cnt / CAST(greatest(len(t), 1) AS DOUBLE) AS ttf_raw,
                 CASE WHEN len(t) < 2 THEN 0.0
                      ELSE 1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE)
                 END AS dgf_raw
          FROM g2
        )
        SELECT doc_id, n_tokens,
               round(mwl_raw, 6) AS mean_word_len,
               stopword_hits,
               round(ttf_raw, 6) AS top_token_frac,
               round(dgf_raw, 6) AS dup_2gram_frac,
               (n_tokens >= {MIN_WORDS} AND n_tokens <= {MAX_WORDS}) AS flag_word_count,
               (mwl_raw >= {MIN_MEAN_WORD_LEN} AND mwl_raw <= {MAX_MEAN_WORD_LEN}) AS flag_mean_word_len,
               (stopword_hits >= {MIN_STOPWORD_HITS}) AS flag_stopwords,
               (ttf_raw <= {MAX_TOP_TOKEN_FRAC}) AS flag_top_token,
               (dgf_raw <= {MAX_DUP_2GRAM_FRAC}) AS flag_dup_2gram,
               ((n_tokens >= {MIN_WORDS} AND n_tokens <= {MAX_WORDS})
                AND (mwl_raw >= {MIN_MEAN_WORD_LEN} AND mwl_raw <= {MAX_MEAN_WORD_LEN})
                AND (stopword_hits >= {MIN_STOPWORD_HITS})
                AND (ttf_raw <= {MAX_TOP_TOKEN_FRAC})
                AND (dgf_raw <= {MAX_DUP_2GRAM_FRAC})) AS keep
        FROM sig
    """,
    }
)

# ---------- corpus assembly oracles ----------

from .operators.dedup import EVAL_MAX_ID  # noqa: E402
from .operators.pipeline import (  # noqa: E402
    MIX_DEFAULT,
    MIX_RATES,
    QUALITY_MIN,
    SAMPLE_PCT,
    SPLIT_TRAIN,
    SPLIT_VAL,
)

_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100"

_MIX_CASE = (
    "CASE "
    + " ".join(f"WHEN lang = '{lg}' THEN {pct}" for lg, pct in MIX_RATES.items())
    + f" ELSE {MIX_DEFAULT} END"
)

ORACLE_TRAINING.update(
    {
        "mixture_sample": f"""
        SELECT doc_id, lang, bucket, bucket < {_MIX_CASE} AS accepted
        FROM (SELECT doc_id, lang, {_BUCKET_SQL} AS bucket FROM documents) t
    """,
        "decontaminate": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), sh_t AS (
          SELECT doc_id, {_SHINGLES} AS sh FROM toks
        ), ev AS (
          SELECT flatten(list(sh)) AS esh FROM sh_t WHERE doc_id < {EVAL_MAX_ID}
        )
        SELECT s.doc_id, COALESCE(list_has_any(s.sh, ev.esh), FALSE) AS contaminated
        FROM sh_t s CROSS JOIN ev
        WHERE s.doc_id >= {EVAL_MAX_ID}
    """,
        "hash_split": f"""
        SELECT doc_id, bucket,
               CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
                    WHEN bucket < {SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split,
               bucket < {SAMPLE_PCT} AS in_sample
        FROM (SELECT doc_id, {_BUCKET_SQL} AS bucket FROM documents) t
    """,
        "corpus_retention": f"""
        SELECT k.doc_id,
               CASE WHEN b.bucket < {SPLIT_TRAIN} THEN 'train'
                    WHEN b.bucket < {SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split
        FROM ({ORACLE_TRAINING["near_dup_keep"]}) k
        JOIN (SELECT doc_id, {_BUCKET_SQL} AS bucket FROM documents) b
          ON k.doc_id = b.doc_id
        JOIN (SELECT doc_id FROM ({ORACLE_TRAINING["text_stats"]}) s
              WHERE s.quality_score >= {QUALITY_MIN}) q
          ON k.doc_id = q.doc_id
    """,
    }
)

# ---------- multimodal oracles ----------
#
# The binary payload is encode(text) (operators.multimodal.attach_binary_payload)
# and the testdata documents are pure ASCII, so per-byte math is expressible
# over character codes: byte i == ascii(substr(text, i+1, 1)).  Means/RMS are
# exact integer-sum / n divisions (both engines produce the identical float64)
# and byte buffers compare as uppercase hex — no rounding, no blob-rendering
# ambiguity.  These verify the full fake-decode path bit-for-bit; a real-codec
# environment is covered by the PIL gate tests instead.

_CODES = "list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)))"


def _win_rms(i: int) -> str:
    sl = f"s[CAST({i} * step + 1 AS INT):CAST(least({i + 1} * step, n) AS INT)]"
    return (
        f"CASE WHEN len({sl}) = 0 THEN 0.0"
        f" ELSE sqrt(CAST(list_sum(list_transform({sl}, x -> x * x)) AS DOUBLE) / len({sl}))"
        f" END AS win_rms_{i}"
    )


ORACLE_TRAINING.update(
    {
        "image_features": f"""
        WITH c AS (
          SELECT doc_id, text,
                 doc_id % 64 + 16 AS width, doc_id % 48 + 16 AS height,
                 length(text) AS n, {_CODES} AS codes
          FROM documents
        )
        SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               'fake/rgb8' AS format, CAST(n AS INT) AS n_bytes,
               CAST(list_sum(codes) AS DOUBLE) / n AS mean_byte,
               array_to_string(list_transform(range(0, 8),
                   b -> len(list_filter(codes, x -> x // 32 = b))), ',') AS byte_histogram
        FROM c
    """,
        "video_frame_sample": """
        WITH c AS (
          SELECT doc_id, text, length(text) AS n,
                 greatest(1, length(text) // 4) AS step
          FROM documents
        ), f AS (
          SELECT doc_id, text, n, step, unnest(range(0, 4)) AS fi FROM c
        ), g AS (
          SELECT doc_id, fi,
                 substr(text, CAST(fi * step + 1 AS INT), CAST(step AS INT)) AS fr
          FROM f
        )
        SELECT doc_id, CAST(fi AS INT) AS frame_idx,
               hex(encode(fr)) AS frame_hex,
               CASE WHEN length(fr) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(range(1, length(fr) + 1),
                             i -> ascii(substr(fr, i, 1)))) AS DOUBLE) / length(fr)
               END AS frame_mean
        FROM g
    """,
        "image_resize": """
        WITH c AS (
          SELECT doc_id, text, length(text) AS n,
                 doc_id % 64 + 16 AS w, doc_id % 48 + 16 AS h
          FROM documents
        ), px AS (
          SELECT doc_id,
            list_transform(range(0, 64), i ->
              substr(text,
                     CAST(((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8)) % n + 1 AS INT),
                     1)) AS chars
          FROM c
        )
        SELECT doc_id, CAST(8 AS INT) AS out_width, CAST(8 AS INT) AS out_height,
               hex(encode(array_to_string(chars, ''))) AS resized_hex,
               CAST(list_sum(list_transform(chars, ch -> ascii(ch))) AS DOUBLE) / 64 AS resized_mean
        FROM px
    """,
        "audio_features": f"""
        WITH c AS (
          SELECT doc_id, length(text) AS n,
                 greatest(1, length(text) // 4) AS step,
                 {_CODES} AS s
          FROM documents
        ), sg AS (
          SELECT doc_id, n, step, s,
                 list_filter(list_transform(s,
                     x -> CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END),
                     x -> x <> 0) AS nz
          FROM c
        )
        SELECT doc_id, CAST(n AS INT) AS n_samples,
               sqrt(CAST(list_sum(list_transform(s, x -> x * x)) AS DOUBLE) / n) AS rms,
               CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak,
               CAST(len(list_filter(range(1, len(nz)), i -> nz[i] <> nz[i + 1])) AS INT)
                   AS zero_crossings,
               {", ".join(_win_rms(i) for i in range(4))}
        FROM sg
    """,
    }
)

# ---------- dedup clustering / segment dedup / tf-idf ----------

from .operators.dedup import BOILER_MIN_DOCS, SEG_TOKENS  # noqa: E402
from .operators.textops import TFIDF_TOP_K  # noqa: E402

# non-overlapping SEG_TOKENS-token chunks, 0-based seg_idx (lockstep with
# operators.dedup._SEGS_OVER_T; DuckDB range(0, n) is empty when n <= 0 so
# no empty-array guard is needed)
_SEGS = (
    f"list_transform(range(0, CAST(ceil(len(t) / {SEG_TOKENS}.0) AS INT)),"
    f" i -> array_to_string(t[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}], ' '))"
)

ORACLE_TRAINING.update(
    {
        "dedup_clusters": "WITH RECURSIVE "
        + _SIG_CTE.replace("WITH ", "", 1)
        + _CAND_CTE
        + f"""
        , shset AS (
          SELECT doc_id, list_distinct({_SHINGLES}) AS sh
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks2
        ), sizes AS (
          SELECT doc_id, len(sh) AS n_sh FROM shset
        ), shex AS (
          SELECT doc_id, unnest(sh) AS shingle FROM shset
        ), inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM cand c
          JOIN shex a ON a.doc_id = c.doc_a
          JOIN shex b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        ), near AS (
          SELECT i.doc_a, i.doc_b
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE round(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 4)
                >= {NEAR_DUP_THRESH}
        ), exact_e AS (
          SELECT c AS doc_a, doc_id AS doc_b
          FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS c
                FROM documents)
          WHERE doc_id <> c
        ), und AS (
          SELECT doc_a, doc_b FROM near
          UNION SELECT doc_b, doc_a FROM near
          UNION SELECT doc_a, doc_b FROM exact_e
          UNION SELECT doc_b, doc_a FROM exact_e
        ), reach AS (
          SELECT doc_id, doc_id AS label FROM documents
          UNION
          SELECT u.doc_b AS doc_id, r.label
          FROM reach r JOIN und u ON u.doc_a = r.doc_id
        ), lab AS (
          SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
        )
        SELECT doc_id, cluster_id,
               CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
               doc_id = cluster_id AS is_canonical
        FROM lab
    """,
        "segment_dedup": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), segt AS (
          SELECT doc_id, {_SEGS} AS segs FROM toks
        ), ex AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(segs) + 1),
                        i -> {{'i': i - 1, 'h': md5(segs[i])}})) AS u
          FROM segt
        ), e2 AS (
          SELECT doc_id, u.i AS seg_idx, u.h AS seg_hash FROM ex
        ), boiler AS (
          SELECT seg_hash FROM e2
          GROUP BY seg_hash HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
        ), bad AS (
          SELECT doc_id, list_sort(list(seg_idx)) AS bad
          FROM e2 WHERE seg_hash IN (SELECT seg_hash FROM boiler)
          GROUP BY doc_id
        )
        SELECT s.doc_id,
               CAST(len(s.segs) AS BIGINT) AS n_segments,
               CAST(coalesce(len(b.bad), 0) AS BIGINT) AS n_boiler_segments,
               coalesce(array_to_string(
                   [s.segs[i] FOR i IN range(1, len(s.segs) + 1)
                    IF NOT list_contains(coalesce(b.bad, []), i - 1)], ' '), '')
                   AS clean_text
        FROM segt s LEFT JOIN bad b ON b.doc_id = s.doc_id
    """,
        "tf_idf_top_terms": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(t) AS term FROM toks)
          GROUP BY doc_id, term
        ), df AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
          SELECT count(*) AS n_docs FROM documents
        ), scored AS (
          SELECT doc_id, term, tf, df,
                 round(tf * ln(n_docs / df), 6) AS score
          FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, score, rank
        FROM (SELECT *, row_number() OVER
                  (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
              FROM scored)
        WHERE rank <= {TFIDF_TOP_K}
    """,
    }
)

# ---------- k-means (unrolled Lloyd iterations, quantized state) ----------

from .operators.similarity import KMEANS_ITERS  # noqa: E402

_KM_DOT = f"list_sum(list_transform(range(1, {DIM + 1}), i -> e.v[i] * c.cv[i]))"


def _km_assign(emb_cte: str, cent_cte: str, out: str) -> str:
    """Assignment CTE: argmax-dot centroid per vector, ties to the smallest
    centroid_id (lockstep with operators.similarity._kmeans_assign)."""
    return f"""
, {out} AS (
  SELECT vec_id, v, centroid_id, cv FROM (
    SELECT e.vec_id, e.v, c.centroid_id, c.cv,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_KM_DOT} DESC, c.centroid_id) AS rnk
    FROM emb e CROSS JOIN {cent_cte} c
  ) WHERE rnk = 1
)"""


def _km_update(assign_cte: str, prev_cent: str, out: str) -> str:
    """Update CTE: per-dimension mean, quantized to 6dp; empty clusters
    keep the previous centroid."""
    return f"""
, {out}u AS (
  SELECT centroid_id, list(ax ORDER BY d) AS cv FROM (
    SELECT centroid_id, d, round(avg(x), 6) AS ax FROM (
      SELECT centroid_id, unnest(v) AS x, unnest(range(1, {DIM + 1})) AS d
      FROM {assign_cte}
    ) GROUP BY centroid_id, d
  ) GROUP BY centroid_id
), {out} AS (
  SELECT p.centroid_id, coalesce(u.cv, p.cv) AS cv
  FROM {prev_cent} p LEFT JOIN {out}u u USING (centroid_id)
)"""


def _kmeans_sql() -> str:
    parts = [
        f"""
        WITH emb AS (
          SELECT vec_id, {_CAST64} AS v FROM embeddings
        ), c0 AS (
          SELECT vec_id AS centroid_id, list_transform(v, x -> round(x, 6)) AS cv
          FROM emb WHERE vec_id < {NUM_CENTROIDS}
        )"""
    ]
    for it in range(KMEANS_ITERS):
        parts.append(_km_assign("emb", f"c{it}", f"a{it + 1}"))
        parts.append(_km_update(f"a{it + 1}", f"c{it}", f"c{it + 1}"))
    last = f"c{KMEANS_ITERS}"
    parts.append(_km_assign("emb", last, "afinal"))
    d2 = f"list_sum(list_transform(range(1, {DIM + 1}), i -> (v[i] - cv[i]) * (v[i] - cv[i])))"
    cnorm = f"sqrt(list_sum(list_transform(cv, x -> x * x)))"
    parts.append(f"""
        SELECT f.centroid_id, f.n_members, f.inertia,
               round({cnorm}, 6) AS centroid_norm
        FROM (
          SELECT centroid_id, count(*) AS n_members, round(sum({d2}), 2) AS inertia
          FROM afinal GROUP BY centroid_id
        ) f JOIN {last} USING (centroid_id)
    """)
    return "".join(parts)


ORACLE_TRAINING["kmeans_centroids"] = _kmeans_sql()


def _cluster_purity_sql() -> str:
    """Same unrolled quantized Lloyd fit as kmeans_centroids, then a
    (cluster, label) majority-share rollup (mirrors
    similarity.cluster_purity)."""
    parts = [
        f"""
        WITH emb AS (
          SELECT vec_id, {_CAST64} AS v FROM embeddings
        ), labels AS (
          SELECT vec_id, label FROM embeddings
        ), c0 AS (
          SELECT vec_id AS centroid_id, list_transform(v, x -> round(x, 6)) AS cv
          FROM emb WHERE vec_id < {NUM_CENTROIDS}
        )"""
    ]
    for it in range(KMEANS_ITERS):
        parts.append(_km_assign("emb", f"c{it}", f"a{it + 1}"))
        parts.append(_km_update(f"a{it + 1}", f"c{it}", f"c{it + 1}"))
    parts.append(_km_assign("emb", f"c{KMEANS_ITERS}", "afinal"))
    parts.append("""
        , counts AS (
          SELECT a.centroid_id, l.label, CAST(count(*) AS BIGINT) AS cnt
          FROM afinal a JOIN labels l USING (vec_id)
          GROUP BY a.centroid_id, l.label
        ), top AS (
          SELECT centroid_id, label, cnt FROM (
            SELECT *, row_number() OVER (PARTITION BY centroid_id
                          ORDER BY cnt DESC, label ASC) AS rk
            FROM counts
          ) WHERE rk = 1
        ), sizes AS (
          SELECT centroid_id, CAST(sum(cnt) AS BIGINT) AS n_vectors
          FROM counts GROUP BY centroid_id
        )
        SELECT t.centroid_id, s.n_vectors, t.label AS majority_label,
               t.cnt AS n_majority,
               round(t.cnt / CAST(s.n_vectors AS DOUBLE), 6) AS purity
        FROM top t JOIN sizes s USING (centroid_id)
    """)
    return "".join(parts)


ORACLE_TRAINING["cluster_purity"] = _cluster_purity_sql()

# ---------- text hygiene + per-source cap ----------

from .operators.pipeline import PER_SOURCE_CAP  # noqa: E402
from .operators.textops import PII_EMAIL_RE, PII_NUM_RE  # noqa: E402

ORACLE_TRAINING.update(
    {
        "normalize_text": """
        WITH n AS (
          SELECT doc_id, text,
                 trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                     ' +', ' ', 'g')) AS norm_text
          FROM documents
        )
        SELECT doc_id, norm_text,
               CAST(length(text) AS BIGINT) AS n_chars_before,
               CAST(length(norm_text) AS BIGINT) AS n_chars_after
        FROM n
    """,
        "pii_scrub": f"""
        WITH m AS (
          SELECT doc_id, text,
                 regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS em
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(em, '{PII_NUM_RE}', '<NUM>', 'g') AS scrubbed_text,
               CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}'))
                    + len(regexp_extract_all(em, '{PII_NUM_RE}')) AS BIGINT) AS n_masked
        FROM m
    """,
        "per_source_cap": f"""
        SELECT doc_id, source, hash_rank FROM (
          SELECT doc_id, source,
                 CAST(row_number() OVER (
                     PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
                     AS hash_rank
          FROM documents
        ) WHERE hash_rank <= {PER_SOURCE_CAP}
    """,
    }
)

# ---------- incremental dedup + corpus summary ----------

from .operators.dedup import NEW_MIN_ID  # noqa: E402
from .operators.pipeline import QUALITY_MIN  # noqa: E402

ORACLE_TRAINING.update(
    {
        "incremental_dedup": _SIG_CTE + _CAND_CTE + f"""
        , shset AS (
          SELECT doc_id, list_distinct({_SHINGLES}) AS sh
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks2
        ), sizes AS (
          SELECT doc_id, len(sh) AS n_sh FROM shset
        ), shex AS (
          SELECT doc_id, unnest(sh) AS shingle FROM shset
        ), bcand AS (
          SELECT doc_a, doc_b FROM cand
          WHERE doc_a < {NEW_MIN_ID} AND doc_b >= {NEW_MIN_ID}
        ), inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM bcand c
          JOIN shex a ON a.doc_id = c.doc_a
          JOIN shex b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        ), verified AS (
          SELECT i.doc_a, i.doc_b,
                 round(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 4)
                     AS jaccard
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
        )
        SELECT doc_b AS doc_id, doc_a AS dup_of, jaccard FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_b
                                       ORDER BY jaccard DESC, doc_a) AS rnk
          FROM verified WHERE jaccard >= {NEAR_DUP_THRESH}
        ) WHERE rnk = 1
    """,
        "corpus_summary": f"""
        WITH q AS ({ORACLE_TRAINING["text_stats"]}),
        d AS (
          SELECT doc_id, source, lang,
                 len({_TOKS}) AS n_tokens,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id
          FROM documents
        )
        SELECT d.source, d.lang,
               count(*) AS n_docs,
               CAST(sum(d.n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN q.quality_score >= {QUALITY_MIN} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_quality_pass,
               CAST(sum(CASE WHEN d.doc_id <> d.canonical_doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact_dups,
               CAST(sum(CAST(q.quality_score AS DECIMAL(8,4))) AS DOUBLE) AS sum_quality
        FROM d JOIN q ON q.doc_id = d.doc_id
        GROUP BY d.source, d.lang
    """,
    }
)

# ---------- trained IVF (kmeans centroids -> inverted lists -> probe) ----------


def _ivf_trained_sql() -> str:
    parts = [
        f"""
        WITH emb AS (
          SELECT vec_id, label, {_CAST64} AS v FROM embeddings
        ), c0 AS (
          SELECT vec_id AS centroid_id, list_transform(v, x -> round(x, 6)) AS cv
          FROM emb WHERE vec_id < {NUM_CENTROIDS}
        )"""
    ]
    for it in range(KMEANS_ITERS):
        parts.append(_km_assign("emb", f"c{it}", f"a{it + 1}"))
        parts.append(_km_update(f"a{it + 1}", f"c{it}", f"c{it + 1}"))
    last = f"c{KMEANS_ITERS}"
    parts.append(f"""
        , scored AS (
          SELECT e.vec_id, e.label, e.v, c.centroid_id, {_KM_DOT} AS dot
          FROM emb e CROSS JOIN {last} c
        ), assigned AS (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dot DESC, centroid_id ASC) AS rnk
          FROM scored
        ), probes AS (
          SELECT vec_id, label, v, centroid_id FROM assigned WHERE rnk <= {NPROBE}
        ), q AS (
          SELECT v AS va, centroid_id AS q_centroid,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS na
          FROM assigned WHERE vec_id = {QUERY_VEC_ID} AND rnk = 1
        )
        SELECT p.vec_id, p.label,
               round(list_sum(list_transform(range(1, {DIM + 1}), i -> p.v[i] * q.va[i]))
                     / (sqrt(list_sum(list_transform(p.v, x -> x * x))) * q.na), 6)
                   AS cosine_sim
        FROM probes p, q
        WHERE p.centroid_id = q.q_centroid
        ORDER BY cosine_sim DESC, vec_id ASC
        LIMIT {TOP_K}
    """)
    return "".join(parts)


ORACLE_TRAINING["ivf_topk_trained"] = _ivf_trained_sql()

# ---------- perceptual image hash ----------

from .operators.multimodal import PHASH_BUCKET_HEX, PHASH_MAX_HAMMING  # noqa: E402


def _phash_nibbles() -> str:
    def b(i: int) -> str:
        return f"(CASE WHEN ascii(chars[{i}]) > mn THEN 1 ELSE 0 END)"

    out = []
    for j in range(16):
        i0 = 4 * j + 1
        val = f"(8 * {b(i0)} + 4 * {b(i0 + 1)} + 2 * {b(i0 + 2)} + {b(i0 + 3)})"
        out.append(f"substr('0123456789abcdef', {val} + 1, 1)")
    return " || ".join(out)


_PHASH_CTE = f"""
        WITH c AS (
          SELECT doc_id, text, length(text) AS n,
                 doc_id % 64 + 16 AS w, doc_id % 48 + 16 AS h
          FROM documents
        ), px AS (
          SELECT doc_id,
            list_transform(range(0, 64), i ->
              substr(text,
                     CAST(((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8)) % n + 1 AS INT),
                     1)) AS chars
          FROM c
        ), mpx AS (
          SELECT doc_id, chars,
                 CAST(list_sum(list_transform(chars, ch -> ascii(ch))) AS DOUBLE) / 64 AS mn
          FROM px
        ), ph AS (
          SELECT doc_id, {_phash_nibbles()} AS phash FROM mpx
        )"""

_PH_HAM = (
    "list_sum(list_transform(range(1, 17),"
    " i -> bit_count(xor(('0x' || substr(a.phash, i, 1))::BIGINT,"
    " ('0x' || substr(b.phash, i, 1))::BIGINT))))"
)

ORACLE_TRAINING.update(
    {
        "image_phash": _PHASH_CTE + """
        SELECT doc_id, phash FROM ph
    """,
        "phash_near_pairs": _PHASH_CTE + f"""
        SELECT doc_a, doc_b, hamming FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST({_PH_HAM} AS BIGINT) AS hamming
          FROM ph a JOIN ph b
            ON substr(a.phash, 1, {PHASH_BUCKET_HEX}) = substr(b.phash, 1, {PHASH_BUCKET_HEX})
           AND a.doc_id < b.doc_id
        ) WHERE hamming <= {PHASH_MAX_HAMMING}
    """,
    }
)

# ---------- int8 embedding quantization ----------

ORACLE_TRAINING["embedding_quantize"] = f"""
        WITH e AS (
          SELECT vec_id, label, {_CAST64} AS v FROM embeddings
        ), s AS (
          SELECT vec_id, label, v,
                 list_max(list_transform(v, x -> abs(x))) / 127 AS scale
          FROM e
        ), c AS (
          SELECT vec_id, label, v, scale,
                 list_transform(v, x -> CASE WHEN scale = 0 THEN 0 ELSE
                     CAST(floor(x / scale + 0.5) AS INT) END) AS codes
          FROM s
        )
        SELECT vec_id, label, scale,
               array_to_string(list_transform(codes, cc -> CAST(cc AS VARCHAR)), ',')
                   AS codes,
               sqrt(list_sum(list_transform(range(1, {DIM + 1}),
                    i -> (codes[i] * scale - v[i]) * (codes[i] * scale - v[i]))))
                   AS recon_err
        FROM c
    """

# ---------- vocab coverage / audio resample / cluster retention ----------

from .operators.multimodal import RESAMPLE_FACTOR  # noqa: E402
from .operators.textops import VOCAB_TOP_N  # noqa: E402

# ascii payload chars are < 128, so the signed-int8 bytes equal the unsigned
# codes and hex-pack directly as (v // 16, v % 16)
_HEX1 = "substr('0123456789abcdef', x // 16 + 1, 1) || substr('0123456789abcdef', x % 16 + 1, 1)"

ORACLE_TRAINING.update(
    {
        "vocab_coverage": f"""
        WITH toks AS (SELECT {_TOKS} AS t FROM documents),
        tf AS (
          SELECT term, count(*) AS n
          FROM (SELECT unnest(t) AS term FROM toks) GROUP BY term
        ), tot AS (SELECT sum(n) AS total FROM tf),
        ranked AS (
          SELECT term, n,
                 row_number() OVER (ORDER BY n DESC, term) AS rank,
                 sum(n) OVER (ORDER BY n DESC, term ROWS UNBOUNDED PRECEDING) AS cum
          FROM tf
        )
        SELECT rank, term, n AS n_occurrences,
               round(cum / total, 6) AS cum_coverage
        FROM ranked CROSS JOIN tot
        WHERE rank <= {VOCAB_TOP_N}
    """,
        "audio_resample": f"""
        WITH c AS (
          SELECT doc_id, {_CODES} AS s FROM documents
        ), k AS (
          SELECT doc_id, s,
                 [s[i] FOR i IN range(1, len(s) + 1)
                  IF (i - 1) % {RESAMPLE_FACTOR} = 0] AS kept
          FROM c
        )
        SELECT doc_id,
               CAST(len(s) AS INT) AS n_in,
               CAST(len(kept) AS INT) AS n_out,
               coalesce(array_to_string(list_transform(kept, x -> {_HEX1}), ''), '')
                   AS resampled_hex,
               CASE WHEN len(kept) = 0 THEN 0.0
                    ELSE sqrt(CAST(list_sum(list_transform(kept, x -> x * x)) AS DOUBLE)
                              / len(kept)) END AS out_rms
        FROM k
    """,
        "cluster_keep": f"""
        SELECT doc_id, cluster_size
        FROM ({ORACLE_TRAINING["dedup_clusters"]})
        WHERE is_canonical
    """,
    }
)

# ---------- corpus manifest ----------

ORACLE_TRAINING["corpus_manifest"] = f"""
        WITH kept AS (
          SELECT k.doc_id FROM ({ORACLE_TRAINING["corpus_retention"]}) k
        )
        SELECT count(*) AS n_docs,
               CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
               CAST(bit_xor(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT)
                    AS BIGINT) AS corpus_hash
        FROM documents d JOIN kept USING (doc_id)
    """

# ---------- evaluation rollups + shingle novelty ----------

ORACLE_TRAINING.update(
    {
        "lang_id_confusion": f"""
        SELECT actual_lang, predicted_lang, count(*) AS n_docs
        FROM ({ORACLE_TRAINING["lang_id"]})
        GROUP BY actual_lang, predicted_lang
    """,
        "quality_histogram": f"""
        SELECT bucket, bucket / 10.0 AS bucket_lo, count(*) AS n_docs
        FROM (
          SELECT CAST(floor(quality_score * 10) AS BIGINT) AS bucket
          FROM ({ORACLE_TRAINING["text_stats"]})
        )
        GROUP BY bucket
    """,
        "shingle_novelty": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), shset AS (
          SELECT doc_id, list_distinct({_SHINGLES}) AS sh FROM toks
        ), ex AS (
          SELECT doc_id, unnest(sh) AS shingle FROM shset
        ), e2 AS (
          SELECT doc_id, md5(shingle) AS sid FROM ex
        ), dfx AS (
          SELECT sid, count(DISTINCT doc_id) AS docfreq FROM e2 GROUP BY sid
        )
        SELECT e2.doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN dfx.docfreq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel,
               round(sum(CASE WHEN dfx.docfreq = 1 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS novelty
        FROM e2 JOIN dfx USING (sid)
        GROUP BY e2.doc_id
    """,
    }
)

# ---------- prefix edit distance over LSH candidates ----------

from .operators.dedup import PREFIX_LEN  # noqa: E402

ORACLE_TRAINING["prefix_edit_distance"] = _SIG_CTE + _CAND_CTE + f"""
        SELECT c.doc_a, c.doc_b,
               CAST(levenshtein(substr(da.text, 1, {PREFIX_LEN}),
                                substr(db.text, 1, {PREFIX_LEN})) AS BIGINT)
                   AS edit_distance
        FROM cand c
        JOIN documents da ON da.doc_id = c.doc_a
        JOIN documents db ON db.doc_id = c.doc_b
    """

# ---------- split-leakage audit ----------

from .operators.pipeline import SPLIT_TRAIN, SPLIT_VAL  # noqa: E402

_DUCK_BUCKET = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100"
)

ORACLE_TRAINING["split_leakage"] = f"""
        WITH s AS (
          SELECT doc_id, md5(text) AS text_hash,
                 CASE WHEN {_DUCK_BUCKET} < {SPLIT_TRAIN} THEN 'train'
                      WHEN {_DUCK_BUCKET} < {SPLIT_VAL} THEN 'val'
                      ELSE 'test' END AS split
          FROM documents
        )
        SELECT text_hash,
               min(doc_id) AS canonical_doc_id,
               count(*) AS n_copies,
               array_to_string(list_sort(list_distinct(list(split))), ',') AS splits
        FROM s
        GROUP BY text_hash
        HAVING len(list_distinct(list(split))) >= 2
    """

# ---------- token entropy ----------

ORACLE_TRAINING["token_entropy"] = f"""
        WITH tf AS (
          SELECT doc_id, term, count(*) AS c
          FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
          GROUP BY doc_id, term
        ), per AS (
          SELECT doc_id,
                 list(c ORDER BY term) AS cs,
                 sum(c) AS n,
                 count(*) AS n_distinct_tokens
          FROM tf GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               n_distinct_tokens,
               round(-list_sum(list_transform(cs,
                     c -> (c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))))
                     + CAST(0 AS DOUBLE), 6)
                   AS entropy_bits
        FROM per
    """

# ---------- bigram PMI collocations ----------

from .operators.textops import PMI_MIN_COUNT, PMI_TOP_K  # noqa: E402

_BIGRAMS = (
    "CASE WHEN len(t) < 2 THEN [] ELSE"
    " list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) END"
)

ORACLE_TRAINING["bigram_pmi"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), uni AS (
          SELECT w, count(*) AS cw
          FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        ), nu AS (SELECT sum(cw) AS n_tokens FROM uni),
        bi AS (
          SELECT bg, count(*) AS cbg,
                 string_split(bg, ' ')[1] AS wa, string_split(bg, ' ')[2] AS wb
          FROM (SELECT unnest({_BIGRAMS}) AS bg FROM toks)
          GROUP BY bg HAVING count(*) >= {PMI_MIN_COUNT}
        ), nb AS (
          SELECT sum(CASE WHEN len(t) < 2 THEN 0 ELSE len(t) - 1 END) AS n_bigrams
          FROM toks
        ), scored AS (
          SELECT bi.bg, bi.cbg,
                 round(log2((bi.cbg / CAST(nb.n_bigrams AS DOUBLE)) /
                       ((a.cw / CAST(nu.n_tokens AS DOUBLE))
                        * (b.cw / CAST(nu.n_tokens AS DOUBLE)))), 6) AS pmi
          FROM bi
          JOIN uni a ON a.w = bi.wa
          JOIN uni b ON b.w = bi.wb
          CROSS JOIN nu CROSS JOIN nb
        )
        SELECT rank, bg, n_occurrences, pmi FROM (
          SELECT bg, cbg AS n_occurrences, pmi,
                 CAST(row_number() OVER (ORDER BY pmi DESC, bg) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {PMI_TOP_K}
    """

# ---------- corpus-LM cross-entropy ----------

ORACLE_TRAINING["bigram_cross_entropy"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), db AS (
          SELECT doc_id, u.i - 1 AS pos, u.bg FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(bgs) + 1),
                          i -> {{'i': i, 'bg': bgs[i]}})) AS u
            FROM (SELECT doc_id, {_BIGRAMS} AS bgs FROM toks)
          )
        ), cbg AS (
          SELECT bg, count(*) AS cbg FROM db GROUP BY bg
        ), cpfx AS (
          SELECT string_split(bg, ' ')[1] AS wa, count(*) AS cpfx
          FROM db GROUP BY string_split(bg, ' ')[1]
        ), scored AS (
          SELECT db.doc_id, db.pos,
                 -log2(cbg.cbg / CAST(cpfx.cpfx AS DOUBLE)) AS lp
          FROM db
          JOIN cbg USING (bg)
          JOIN cpfx ON cpfx.wa = string_split(db.bg, ' ')[1]
        )
        SELECT doc_id,
               count(*) AS n_bigrams,
               round(list_sum(list(lp ORDER BY pos)) / count(*), 6)
                   AS cross_entropy_bits
        FROM scored GROUP BY doc_id
    """

# ---------- mixture calibration report ----------

from .operators.pipeline import MIX_DEFAULT, MIX_RATES  # noqa: E402

_RATE_CASE = (
    "CASE "
    + " ".join(f"WHEN lang = '{lg}' THEN {pct}" for lg, pct in MIX_RATES.items())
    + f" ELSE {MIX_DEFAULT} END"
)

ORACLE_TRAINING["mixture_report"] = f"""
        WITH m AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
                     AS bucket,
                 {_RATE_CASE} AS rate
          FROM documents
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_accepted,
               round(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE) * 100, 4) AS realized_pct,
               CAST(max(rate) AS BIGINT) AS target_pct
        FROM m GROUP BY lang
    """

ORACLE_TRAINING["chunk_documents"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t, len({_TOKS}) AS n
          FROM documents WHERE len({_TOKS}) > 0
        )
        SELECT doc_id,
               i AS chunk_idx,
               i * {48} AS tok_start,
               least(i * {48} + {64}, n) AS tok_end,
               array_to_string(list_slice(t, i * {48} + 1, i * {48} + {64}), ' ')
                   AS chunk_text
        FROM toks, unnest(generate_series(0, CAST((n + {48} - 1) // {48} AS BIGINT) - 1))
             AS g(i)
    """


from .operators.pipeline import MIX_TEMP_SCALE, TEMP_BUCKETS  # noqa: E402

_TEMP_BUCKET_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 7))::BIGINT"
    f" % {TEMP_BUCKETS}"
)

ORACLE_TRAINING["temperature_mixture"] = f"""
        WITH counts AS (
          SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        ), wts AS (
          SELECT source, n_docs,
                 floor(sqrt(n_docs) * {MIX_TEMP_SCALE} + 0.5) AS w
          FROM counts
        ), norm AS (
          SELECT source, n_docs, w / sum(w) OVER () AS target_share FROM wts
        ), bdg AS (
          SELECT source, n_docs, target_share,
                 min(n_docs / target_share) OVER () AS budget
          FROM norm
        ), plan AS (
          SELECT source, n_docs, target_share,
                 budget * target_share / n_docs AS accept_rate
          FROM bdg
        ), acc AS (
          SELECT d.source, CAST(count(*) AS BIGINT) AS n_accepted
          FROM documents d JOIN plan p ON p.source = d.source
          WHERE {_TEMP_BUCKET_SQL} < p.accept_rate * {TEMP_BUCKETS}
          GROUP BY d.source
        )
        SELECT p.source, CAST(p.n_docs AS BIGINT) AS n_docs,
               round(p.target_share, 6) AS target_share,
               round(p.accept_rate, 6) AS accept_rate,
               CAST(coalesce(a.n_accepted, 0) AS BIGINT) AS n_accepted
        FROM plan p LEFT JOIN acc a ON a.source = p.source
    """

ORACLE_TRAINING["dedup_rate_by_source"] = f"""
        WITH kept AS ({ORACLE_TRAINING["near_dup_keep"]}),
        canon AS (
          SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_copies,
               CAST(sum(CASE WHEN c.doc_id IS NOT NULL AND k.doc_id IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dropped,
               CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_kept,
               round(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS keep_rate
        FROM documents d
        LEFT JOIN canon c ON c.doc_id = d.doc_id
        LEFT JOIN kept k ON k.doc_id = d.doc_id
        GROUP BY d.source
    """

ORACLE_TRAINING["ann_recall_audit"] = _BUCKET_CTE + f"""
        , q AS (
          SELECT vec_id AS q_id, v AS va, bucket AS q_bucket
          FROM b WHERE vec_id < {NUM_QUERIES}
        ), scored AS (
          SELECT q.q_id, c.vec_id, c.v AS vb, q.va, c.bucket, q.q_bucket
          FROM b c, q
        ), exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY {_COSINE} DESC, vec_id ASC) AS r
            FROM scored) WHERE r <= {BATCH_K}
        ), appx AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY {_COSINE} DESC, vec_id ASC) AS r
            FROM scored WHERE bucket = q_bucket) WHERE r <= {BATCH_K}
        ), cand AS (
          SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
          FROM scored WHERE bucket = q_bucket GROUP BY q_id
        ), hits AS (
          SELECT a.q_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM appx a JOIN exact e ON e.q_id = a.q_id AND e.vec_id = a.vec_id
          GROUP BY a.q_id
        )
        SELECT c.q_id, c.n_candidates,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               round(coalesce(h.n_hits, 0) / CAST({BATCH_K} AS DOUBLE), 6)
                   AS recall
        FROM cand c LEFT JOIN hits h ON h.q_id = c.q_id
    """


from .operators.similarity import MRL_PREFIX_DIM  # noqa: E402

_P = MRL_PREFIX_DIM
_PDOT = f"list_sum(list_transform(range(1, {_P + 1}), i -> vb[i] * va[i]))"
_PNA = f"sqrt(list_sum(list_transform(range(1, {_P + 1}), i -> va[i] * va[i])))"
_PNB = f"sqrt(list_sum(list_transform(range(1, {_P + 1}), i -> vb[i] * vb[i])))"
_PCOSINE = (
    f"(CASE WHEN {_PNA} * {_PNB} = 0 THEN NULL"
    f" ELSE round({_PDOT} / ({_PNA} * {_PNB}), 6) END)"
)

ORACLE_TRAINING["mrl_prefix_recall"] = f"""
        WITH e AS (
          SELECT vec_id, {_CAST64} AS v FROM embeddings
        ), q AS (
          SELECT vec_id AS q_id, v AS va FROM e WHERE vec_id < {NUM_QUERIES}
        ), scored AS (
          SELECT q.q_id, c.vec_id, c.v AS vb, q.va FROM e c, q
        ), exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY {_COSINE} DESC, vec_id ASC) AS r
            FROM scored) WHERE r <= {BATCH_K}
        ), pfx AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY {_PCOSINE} DESC, vec_id ASC) AS r
            FROM scored) WHERE r <= {BATCH_K}
        ), hits AS (
          SELECT p.q_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM pfx p JOIN exact e ON e.q_id = p.q_id AND e.vec_id = p.vec_id
          GROUP BY p.q_id
        )
        SELECT q.q_id, CAST({_P} AS INT) AS prefix_dim,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               round(coalesce(h.n_hits, 0) / CAST({BATCH_K} AS DOUBLE), 6)
                   AS recall
        FROM q LEFT JOIN hits h ON h.q_id = q.q_id
    """


ORACLE_TRAINING["stratified_split"] = f"""
        WITH r AS (
          SELECT doc_id, source, lang,
                 row_number() OVER (
                     PARTITION BY source, lang
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS stratum_rank,
                 count(*) OVER (PARTITION BY source, lang) AS n_stratum
          FROM documents
        )
        SELECT doc_id, source, lang,
               CAST(stratum_rank AS BIGINT) AS stratum_rank,
               CAST(n_stratum AS BIGINT) AS n_stratum,
               CASE WHEN stratum_rank * 100 <= n_stratum * {SPLIT_TRAIN} THEN 'train'
                    WHEN stratum_rank * 100 <= n_stratum * {SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split
        FROM r
    """

ORACLE_TRAINING["video_frame_dup_pairs"] = """
        WITH c AS (
          SELECT doc_id, text, length(text) AS n,
                 greatest(1, length(text) // 4) AS step
          FROM documents
        ), f AS (
          SELECT doc_id, text, n, step, unnest(range(0, 4)) AS fi FROM c
        ), g AS (
          SELECT doc_id,
                 substr(text, CAST(fi * step + 1 AS INT), CAST(step AS INT)) AS fr
          FROM f
        ), fh AS (
          SELECT DISTINCT doc_id, md5(fr) AS fh FROM g WHERE length(fr) > 0
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared_frames
        FROM fh a
        JOIN fh b ON b.fh = a.fh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    """


from .operators.dedup import SIMILAR_TOPK  # noqa: E402

ORACLE_TRAINING["similar_docs_topk"] = _SIG_CTE + _CAND_CTE + f"""
        , scored AS (
          SELECT doc_a, doc_b, {_EST_J} AS est FROM cand
        ), sym AS (
          SELECT doc_a AS doc_id, doc_b AS similar_doc_id, est FROM scored
          UNION ALL
          SELECT doc_b AS doc_id, doc_a AS similar_doc_id, est FROM scored
        )
        SELECT doc_id, similar_doc_id, est AS est_jaccard,
               CAST(rank AS INT) AS rank
        FROM (
          SELECT *, row_number() OVER (
              PARTITION BY doc_id
              ORDER BY est DESC, similar_doc_id ASC) AS rank
          FROM sym
        ) WHERE rank <= {SIMILAR_TOPK}
    """


from .operators.multimodal import VIDEO_MAX_BUCKET  # noqa: E402

# cap accounting mirrors the Spark-side chunked pair-gen formula:
# a bucket of size k capped at m yields (k div m) full chunks of
# m*(m-1)/2 pairs plus the (k mod m) remainder chunk
ORACLE_TRAINING["video_frame_bucket_stats"] = f"""
        WITH c AS (
          SELECT doc_id, text, length(text) AS n,
                 greatest(1, length(text) // 4) AS step
          FROM documents
        ), f AS (
          SELECT doc_id, text, n, step, unnest(range(0, 4)) AS fi FROM c
        ), g AS (
          SELECT doc_id,
                 substr(text, CAST(fi * step + 1 AS INT), CAST(step AS INT)) AS fr
          FROM f
        ), fh AS (
          SELECT DISTINCT doc_id, md5(fr) AS fh FROM g WHERE length(fr) > 0
        ), sizes AS (
          SELECT fh, count(*) AS k FROM fh GROUP BY fh
        ), per AS (
          SELECT k, k * (k - 1) // 2 AS all_pairs,
                 (k // {VIDEO_MAX_BUCKET})
                     * ({VIDEO_MAX_BUCKET} * ({VIDEO_MAX_BUCKET} - 1) // 2)
                   + (k % {VIDEO_MAX_BUCKET}) * ((k % {VIDEO_MAX_BUCKET}) - 1) // 2
                     AS capped_pairs
          FROM sizes
        )
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_multi_buckets,
               CAST(max(k) AS BIGINT) AS max_bucket_size,
               CAST(sum(all_pairs) AS BIGINT) AS candidate_pairs,
               CAST(sum(capped_pairs) AS BIGINT) AS capped_pairs,
               CAST(sum(all_pairs) - sum(capped_pairs) AS BIGINT)
                   AS dropped_pairs
        FROM per
    """


from .operators.textops import BPE_TOP_PAIRS  # noqa: E402

ORACLE_TRAINING["bpe_pair_counts"] = f"""
        WITH words AS (
          SELECT w, count(*) AS n
          FROM (SELECT unnest({_TOKS}) AS w FROM documents) t
          GROUP BY w
          HAVING length(w) >= 2
        ), pairs AS (
          SELECT substr(w, CAST(i AS INT), 2) AS pair, n
          FROM words, unnest(range(1, length(w))) AS r(i)
        )
        SELECT pair, CAST(sum(n) AS BIGINT) AS pair_count
        FROM pairs GROUP BY pair
        ORDER BY pair_count DESC, pair ASC
        LIMIT {BPE_TOP_PAIRS}
    """


from .operators.similarity import PQ_K, PQ_M, PQ_SUB, RERANK_SHORTLIST  # noqa: E402

# shared PQ fragments: codebook = 6dp-quantized subvectors of the seed
# vectors; per-(vector, subspace, codeword) squared L2 via the same
# in-order list fold the Spark expressions use
_PQ_CTE = f"""
WITH e AS (
  SELECT vec_id, label, {_CAST64} AS v FROM embeddings
), cb AS (
  SELECT s.s, c.vec_id AS j,
         list_transform(list_slice(c.v, s.s * {PQ_SUB} + 1, s.s * {PQ_SUB} + {PQ_SUB}),
                        x -> round(x, 6)) AS cv
  FROM e c, (SELECT unnest(range(0, {PQ_M})) AS s) s
  WHERE c.vec_id < {PQ_K}
), dist AS (
  SELECT e.vec_id, e.label, cb.s, cb.j,
         list_sum(list_transform(range(1, {PQ_SUB + 1}),
           i -> (e.v[CAST(cb.s * {PQ_SUB} + i AS INT)] - cb.cv[i])
              * (e.v[CAST(cb.s * {PQ_SUB} + i AS INT)] - cb.cv[i]))) AS d
  FROM e, cb
), codes AS (
  SELECT vec_id, label, s, j, d,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS r
  FROM dist
)"""

ORACLE_TRAINING["pq_encode"] = _PQ_CTE + """
        SELECT vec_id, label,
               string_agg(CAST(j AS VARCHAR), ',' ORDER BY s) AS codes_csv,
               round(sqrt(list_sum(list(d ORDER BY s))), 6) AS recon_err
        FROM codes WHERE r = 1
        GROUP BY vec_id, label
    """

ORACLE_TRAINING["pq_topk"] = _PQ_CTE + f"""
        , qd AS (
          SELECT s, j, d FROM dist WHERE vec_id = {QUERY_VEC_ID}
        ), sc AS (
          SELECT c.vec_id, c.label,
                 round(list_sum(list(q.d ORDER BY q.s)), 6) AS adc_dist
          FROM (SELECT * FROM codes WHERE r = 1) c
          JOIN qd q ON q.s = c.s AND q.j = c.j
          GROUP BY c.vec_id, c.label
        )
        SELECT vec_id, label, adc_dist FROM sc
        ORDER BY adc_dist ASC, vec_id ASC
        LIMIT {TOP_K}
    """


ORACLE_TRAINING["pq_distortion_audit"] = _PQ_CTE + """
        , win AS (
          SELECT vec_id, s, j,
                 CAST(round(d * 1e6) AS BIGINT) AS d_micro
          FROM codes WHERE r = 1
        ), usage AS (
          SELECT s, j, CAST(count(*) AS BIGINT) AS cnt
          FROM win GROUP BY s, j
        ), tops AS (
          SELECT s, CAST(max(cnt) AS BIGINT) AS top_code_count,
                 CAST(count(*) AS BIGINT) AS n_codewords_used,
                 CAST(sum(cnt) AS BIGINT) AS n_vectors
          FROM usage GROUP BY s
        ), err AS (
          SELECT s, CAST(sum(d_micro) AS BIGINT) AS sum_d_micro
          FROM win GROUP BY s
        )
        SELECT CAST(t.s AS BIGINT) AS subspace, t.n_vectors,
               t.n_codewords_used, t.top_code_count,
               round(t.top_code_count / CAST(t.n_vectors AS DOUBLE), 6)
                   AS top_code_share,
               round(e2.sum_d_micro / 1e6 / t.n_vectors, 6) AS mean_sq_err
        FROM tops t JOIN err e2 USING (s)
    """

ORACLE_TRAINING["ivf_pq_topk"] = _PQ_CTE + f"""
        , seeds AS (
          SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {NUM_CENTROIDS}
        ), ascore AS (
          SELECT e.vec_id, s.centroid_id,
                 list_sum(list_transform(range(1, {DIM + 1}),
                          i -> e.v[i] * s.cv[i])) AS dot
          FROM e, seeds s
        ), assign AS (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dot DESC, centroid_id ASC) AS rnk
          FROM ascore
        ), qc AS (
          SELECT centroid_id AS q_centroid FROM assign
          WHERE vec_id = {QUERY_VEC_ID} AND rnk = 1
        ), cand AS (
          SELECT DISTINCT a.vec_id
          FROM assign a, qc
          WHERE a.rnk <= {NPROBE} AND a.centroid_id = qc.q_centroid
        ), qd AS (
          SELECT s, j, d FROM dist WHERE vec_id = {QUERY_VEC_ID}
        ), sc AS (
          SELECT c.vec_id, c.label,
                 round(list_sum(list(q.d ORDER BY q.s)), 6) AS adc_dist
          FROM (SELECT * FROM codes WHERE r = 1) c
          JOIN cand ON cand.vec_id = c.vec_id
          JOIN qd q ON q.s = c.s AND q.j = c.j
          GROUP BY c.vec_id, c.label
        )
        SELECT vec_id, label, adc_dist FROM sc
        ORDER BY adc_dist ASC, vec_id ASC
        LIMIT {TOP_K}
    """


ORACLE_TRAINING["pq_recall_audit"] = _PQ_CTE + f"""
        , q AS (
          SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {NUM_QUERIES}
        ), ex AS (
          SELECT q_id, vec_id FROM (
            SELECT q.q_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY round(list_sum(list_transform(range(1, {DIM + 1}),
                       i -> (q.qv[i] - c.v[i]) * (q.qv[i] - c.v[i]))), 6) ASC,
                       c.vec_id ASC) AS r
            FROM q, e c) WHERE r <= {BATCH_K}
        ), qd2 AS (
          SELECT vec_id AS q_id, s, j, d FROM dist WHERE vec_id < {NUM_QUERIES}
        ), adc AS (
          SELECT c.vec_id, qd.q_id,
                 round(list_sum(list(qd.d ORDER BY qd.s)), 6) AS ad
          FROM (SELECT * FROM codes WHERE r = 1) c
          JOIN qd2 qd ON qd.s = c.s AND qd.j = c.j
          GROUP BY c.vec_id, qd.q_id
        ), ap AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY ad ASC, vec_id ASC) AS r
            FROM adc) WHERE r <= {BATCH_K}
        ), hits AS (
          SELECT a.q_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM ap a JOIN ex ON ex.q_id = a.q_id AND ex.vec_id = a.vec_id
          GROUP BY a.q_id
        )
        SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               round(coalesce(h.n_hits, 0) / CAST({BATCH_K} AS DOUBLE), 6)
                   AS recall
        FROM q LEFT JOIN hits h ON h.q_id = q.q_id
    """


ORACLE_TRAINING["pq_rerank_topk"] = _PQ_CTE + f"""
        , qd AS (
          SELECT s, j, d FROM dist WHERE vec_id = {QUERY_VEC_ID}
        ), sc AS (
          SELECT c.vec_id,
                 round(list_sum(list(q.d ORDER BY q.s)), 6) AS adc_dist
          FROM (SELECT * FROM codes WHERE r = 1) c
          JOIN qd q ON q.s = c.s AND q.j = c.j
          GROUP BY c.vec_id
        ), shortlist AS (
          SELECT vec_id, adc_dist FROM sc
          ORDER BY adc_dist ASC, vec_id ASC
          LIMIT {RERANK_SHORTLIST}
        ), qv AS (
          SELECT v FROM e WHERE vec_id = {QUERY_VEC_ID}
        )
        SELECT c.vec_id, c.label, sl.adc_dist,
               round(list_sum(list_transform(range(1, {DIM + 1}),
                     i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))), 6)
                   AS exact_dist
        FROM e c
        JOIN shortlist sl ON sl.vec_id = c.vec_id
        CROSS JOIN qv q
        ORDER BY exact_dist ASC, c.vec_id ASC
        LIMIT {TOP_K}
    """


# ---------- hard negatives / SemDeDup / quality-aware cluster keep ----------

from .operators.similarity import SEMDEDUP_THRESH  # noqa: E402

ORACLE_TRAINING["hard_negatives"] = f"""
        WITH q AS (
          SELECT vec_id AS q_id, label AS anchor_label, {_CAST64} AS va
          FROM embeddings WHERE vec_id < {NUM_QUERIES}
        ), scored AS (
          SELECT q.q_id, q.anchor_label, e.vec_id, e.label AS neg_label,
                 {_CAST64.replace("embedding", "e.embedding")} AS vb, q.va
          FROM embeddings e JOIN q ON e.label <> q.anchor_label
        ), ranked AS (
          SELECT q_id, anchor_label, vec_id, neg_label, {_COSINE} AS cosine_sim,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY {_COSINE} DESC, vec_id ASC) AS rank
          FROM scored
        )
        SELECT q_id, anchor_label, vec_id, neg_label, cosine_sim,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {BATCH_K}
    """


def _semdedup_sql() -> str:
    parts = [
        f"""
        WITH emb AS (
          SELECT vec_id, {_CAST64} AS v FROM embeddings
        ), c0 AS (
          SELECT vec_id AS centroid_id, list_transform(v, x -> round(x, 6)) AS cv
          FROM emb WHERE vec_id < {NUM_CENTROIDS}
        )"""
    ]
    for it in range(KMEANS_ITERS):
        parts.append(_km_assign("emb", f"c{it}", f"a{it + 1}"))
        parts.append(_km_update(f"a{it + 1}", f"c{it}", f"c{it + 1}"))
    parts.append(_km_assign("emb", f"c{KMEANS_ITERS}", "afinal"))
    pdot = f"list_sum(list_transform(range(1, {DIM + 1}), i -> a.v[i] * b.v[i]))"
    pcos = f"round({pdot} / (a.nv * b.nv), 6)"
    parts.append(f"""
        , nn AS (
          SELECT vec_id, v, centroid_id,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
          FROM afinal
        ), dup AS (
          SELECT b.vec_id AS ib, max({pcos}) AS max_dup_sim
          FROM nn a JOIN nn b
            ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
          WHERE {pcos} >= {SEMDEDUP_THRESH}
          GROUP BY b.vec_id
        )
        SELECT n.vec_id, n.centroid_id,
               d.ib IS NULL AS is_kept, d.max_dup_sim
        FROM nn n LEFT JOIN dup d ON d.ib = n.vec_id
    """)
    return "".join(parts)


ORACLE_TRAINING["semantic_dedup"] = _semdedup_sql()

ORACLE_TRAINING["cluster_best_keep"] = f"""
        SELECT cluster_id, kept_doc_id, quality_score, cluster_size FROM (
          SELECT c.cluster_id, c.doc_id AS kept_doc_id,
                 q.quality_score, c.cluster_size,
                 row_number() OVER (PARTITION BY c.cluster_id
                                    ORDER BY q.quality_score DESC, c.doc_id ASC)
                     AS rk
          FROM ({ORACLE_TRAINING["dedup_clusters"]}) c
          JOIN ({ORACLE_TRAINING["text_stats"]}) q ON q.doc_id = c.doc_id
        ) WHERE rk = 1
    """


# ---------- DSIR hashed-ngram importance weights ----------

from .operators.textops import DSIR_BUCKETS, DSIR_TARGET_LANG  # noqa: E402

_DSIR_BG = "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])"
_DSIR_F = (
    f"list_transform({_DSIR_BG},"
    f" g -> ('0x' || substr(md5(g), 1, 7))::BIGINT % {DSIR_BUCKETS})"
)

ORACLE_TRAINING["dsir_weights"] = f"""
        WITH toks AS (
          SELECT doc_id, lang, {_TOKS} AS t FROM documents
        ), fx AS (
          SELECT doc_id, lang, unnest({_DSIR_F}) AS f FROM toks
        ), docf AS (
          SELECT doc_id, f, count(*) AS n FROM fx GROUP BY doc_id, f
        ), raw AS (
          SELECT f, count(*) AS cr FROM fx GROUP BY f
        ), tgt AS (
          SELECT f, count(*) AS ct FROM fx
          WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY f
        ), tot AS (
          SELECT count(*) AS r_total,
                 sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                     AS t_total
          FROM fx
        ), lr AS (
          SELECT r.f,
                 CAST(round(ln(((coalesce(g.ct, 0) + 1) * (t.r_total + {DSIR_BUCKETS}))
                            / CAST((r.cr + 1) * (t.t_total + {DSIR_BUCKETS}) AS DOUBLE))
                            * 1000000) AS BIGINT) AS lr_micro
          FROM raw r LEFT JOIN tgt g USING (f) CROSS JOIN tot t
        ), wt AS (
          SELECT d.doc_id, sum(d.n * l.lr_micro) AS wm,
                 CAST(sum(d.n) AS BIGINT) AS n_features
          FROM docf d JOIN lr l USING (f) GROUP BY d.doc_id
        )
        SELECT doc.doc_id,
               CAST(coalesce(w.n_features, 0) AS BIGINT) AS n_features,
               round(coalesce(w.wm, 0) / 1e6, 6) AS log_weight
        FROM documents doc LEFT JOIN wt w USING (doc_id)
    """


# ---------- MMR rerank (unrolled greedy steps) ----------

from .operators.similarity import MMR_CANDS, MMR_K  # noqa: E402


def _mmr_sql() -> str:
    # cand, pairs and each sel{k} are read by every later step: materialized,
    # or DuckDB re-evaluates the whole greedy chain per reference
    micro_qc = f"CAST(round({_COSINE} * 1000000) AS BIGINT)"
    pdot = f"list_sum(list_transform(range(1, {DIM + 1}), i -> a.v[i] * b.v[i]))"
    pcos = f"round({pdot} / (a.nv * b.nv), 6)"
    micro_pp = f"CAST(round({pcos} * 1000000) AS BIGINT)"
    parts = [f"""
        WITH e AS (
          SELECT vec_id, {_CAST64} AS v,
                 sqrt(list_sum(list_transform({_CAST64}, x -> x * x))) AS nv
          FROM embeddings
        ), q AS (
          SELECT vec_id AS q_id, v AS va FROM e WHERE vec_id < {NUM_QUERIES}
        ), cand AS MATERIALIZED (
          SELECT q_id, vec_id, rel_micro FROM (
            SELECT q.q_id, c.vec_id, {micro_qc} AS rel_micro,
                   row_number() OVER (PARTITION BY q.q_id
                                      ORDER BY {micro_qc} DESC, c.vec_id ASC) AS rk
            FROM (SELECT vec_id, v AS vb, nv AS nb FROM e) c
            CROSS JOIN (SELECT q_id, va,
                               sqrt(list_sum(list_transform(va, x -> x * x))) AS na
                        FROM q) q
            WHERE {micro_qc} IS NOT NULL
          ) WHERE rk <= {MMR_CANDS}
        ), pairs AS MATERIALIZED (
          SELECT a.q_id, a.vec_id AS ia, b.vec_id AS ib, {micro_pp} AS sim_micro
          FROM (SELECT c.q_id, c.vec_id, e.v, e.nv FROM cand c JOIN e USING (vec_id)) a
          JOIN (SELECT c.q_id, c.vec_id, e.v, e.nv FROM cand c JOIN e USING (vec_id)) b
            ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
        ), sel1 AS MATERIALIZED (
          SELECT q_id, vec_id, rel_micro, 1 AS sel_order,
                 CAST(0 AS BIGINT) AS max_prev_micro
          FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                             ORDER BY rel_micro DESC, vec_id ASC) AS rk
                FROM cand) WHERE rk = 1
        )"""]
    for step in range(2, MMR_K + 1):
        prev = f"sel{step - 1}"
        parts.append(f"""
        , m{step} AS (
          SELECT p.q_id, p.ia AS vec_id, max(p.sim_micro) AS max_prev_micro
          FROM pairs p JOIN {prev} s ON s.q_id = p.q_id AND s.vec_id = p.ib
          GROUP BY p.q_id, p.ia
        ), p{step} AS (
          SELECT c.q_id, c.vec_id, c.rel_micro, m.max_prev_micro,
                 row_number() OVER (PARTITION BY c.q_id
                                    ORDER BY c.rel_micro - m.max_prev_micro DESC,
                                             c.vec_id ASC) AS rk
          FROM cand c JOIN m{step} m ON m.q_id = c.q_id AND m.vec_id = c.vec_id
          WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                            WHERE s.q_id = c.q_id AND s.vec_id = c.vec_id)
        ), sel{step} AS MATERIALIZED (
          SELECT * FROM {prev}
          UNION ALL
          SELECT q_id, vec_id, rel_micro, {step} AS sel_order, max_prev_micro
          FROM p{step} WHERE rk = 1
        )""")
    parts.append(f"""
        SELECT q_id, CAST(sel_order AS INT) AS sel_order, vec_id,
               round(rel_micro / 1e6, 6) AS cosine_sim,
               round((rel_micro - max_prev_micro) / 1e6, 6) AS mmr_score
        FROM sel{MMR_K}
    """)
    return "".join(parts)


ORACLE_TRAINING["mmr_rerank"] = _mmr_sql()


# ---------- tokenizer fertility / distinct-n diversity / DSIR resample ----------

from .operators.textops import DSIR_SAMPLE_N  # noqa: E402

ORACLE_TRAINING["tokenizer_fertility"] = f"""
        WITH b AS (
          SELECT lang, regexp_extract_all(lower(text), '{BPE_RE}') AS bt,
                 {_TOKS} AS t, length(text) AS nc
          FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(t)) AS BIGINT) AS n_words,
               CAST(sum(len(bt)) AS BIGINT) AS n_bpe_tokens,
               CASE WHEN sum(len(t)) = 0 THEN NULL ELSE
                 round(sum(len(bt)) / CAST(sum(len(t)) AS DOUBLE), 4) END AS fertility,
               CASE WHEN sum(len(bt)) = 0 THEN NULL ELSE
                 round(sum(nc) / CAST(sum(len(bt)) AS DOUBLE), 4) END AS chars_per_token
        FROM b GROUP BY lang
    """

ORACLE_TRAINING["distinct_ngram_diversity"] = f"""
        WITH toks AS (
          SELECT doc_id, source, {_TOKS} AS t FROM documents
        ), u AS (
          SELECT source, unnest(t) AS g FROM toks
        ), bg AS (
          SELECT source, unnest({_DSIR_BG}) AS g FROM toks
        ), ua AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_unigrams,
                 CAST(count(DISTINCT g) AS BIGINT) AS distinct_unigrams
          FROM u GROUP BY source
        ), ba AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(count(DISTINCT g) AS BIGINT) AS distinct_bigrams
          FROM bg GROUP BY source
        )
        SELECT source, n_unigrams, distinct_unigrams,
               round(distinct_unigrams / CAST(n_unigrams AS DOUBLE), 4) AS distinct1,
               n_bigrams, distinct_bigrams,
               round(distinct_bigrams / CAST(n_bigrams AS DOUBLE), 4) AS distinct2
        FROM ua JOIN ba USING (source)
    """

ORACLE_TRAINING["dsir_resample"] = f"""
        SELECT doc_id, log_weight, CAST(rk AS INT) AS rank FROM (
          SELECT doc_id, log_weight,
                 row_number() OVER (ORDER BY log_weight DESC, doc_id ASC) AS rk
          FROM ({ORACLE_TRAINING["dsir_weights"]})
        ) WHERE rk <= {DSIR_SAMPLE_N}
    """


# ---------- BM25 retrieval + hybrid RRF fusion ----------

from .operators.similarity import RRF_K  # noqa: E402
from .operators.textops import BM25_B, BM25_K1, BM25_QUERY, BM25_TOP_K  # noqa: E402

_BM25_QL = ", ".join(f"'{t}'" for t in BM25_QUERY)
_BM25_SAT = (
    f"(t.tf * ({BM25_K1} + 1)) / (t.tf + {BM25_K1} * (1 - {BM25_B}"
    f" + {BM25_B} * t.dl / (s.total_len / CAST(s.n_docs AS DOUBLE))))"
)
_BM25_IDF = "ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)"

ORACLE_TRAINING["bm25_topk"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), stats AS (
          SELECT count(*) AS n_docs, sum(len(t)) AS total_len FROM toks
        ), ex AS (
          SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
        ), tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM ex WHERE term IN ({_BM25_QL})
          GROUP BY doc_id, dl, term
        ), dft AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), sc AS (
          SELECT t.doc_id,
                 CAST(round(({_BM25_IDF}) * ({_BM25_SAT}) * 1000000) AS BIGINT)
                     AS s_micro
          FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
        ), ag AS (
          SELECT doc_id, sum(s_micro) AS sm,
                 CAST(count(*) AS BIGINT) AS n_terms_matched
          FROM sc GROUP BY doc_id
        ), top AS (
          SELECT *, row_number() OVER (ORDER BY sm DESC, doc_id ASC) AS rk FROM ag
        )
        SELECT doc_id, round(sm / 1e6, 6) AS bm25_score, n_terms_matched,
               CAST(rk AS INT) AS rank
        FROM top WHERE rk <= {BM25_TOP_K}
    """

_RRF_C = f"coalesce(CAST(round(1000000 / ({RRF_K} + {{r}})) AS BIGINT), 0)"

ORACLE_TRAINING["hybrid_rrf_topk"] = f"""
        WITH bm AS (
          SELECT doc_id, rank AS bm25_rank FROM ({ORACLE_TRAINING["bm25_topk"]})
        ), e AS (
          SELECT vec_id, {_CAST64} AS v FROM embeddings
        ), q AS (
          SELECT v AS va FROM e WHERE vec_id = {QUERY_VEC_ID}
        ), semtop AS (
          SELECT vec_id, cs FROM (
            SELECT c.vec_id,
                   round(list_sum(list_transform(range(1, {DIM + 1}),
                                                 i -> c.v[i] * q.va[i]))
                         / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
                            * sqrt(list_sum(list_transform(q.va, x -> x * x)))),
                         6) AS cs
            FROM e c CROSS JOIN q
          ) ORDER BY cs DESC, vec_id ASC LIMIT {TOP_K}
        ), sem AS (
          SELECT vec_id AS doc_id,
                 CAST(row_number() OVER (ORDER BY cs DESC, vec_id ASC) AS INT)
                     AS sem_rank
          FROM semtop
        ), fused AS (
          SELECT coalesce(b.doc_id, s.doc_id) AS doc_id,
                 b.bm25_rank, s.sem_rank,
                 {_RRF_C.format(r="b.bm25_rank")}
                 + {_RRF_C.format(r="s.sem_rank")} AS rrf_micro
          FROM bm b FULL OUTER JOIN sem s ON s.doc_id = b.doc_id
        ), top AS (
          SELECT *, row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS rk
          FROM fused
        )
        SELECT doc_id, bm25_rank, sem_rank,
               round(rrf_micro / 1e6, 6) AS rrf_score, CAST(rk AS INT) AS rank
        FROM top WHERE rk <= {BM25_TOP_K}
    """


# ---------- prototype distances / source overlap matrix ----------

from .operators.similarity import PROTO_SUSPECTS  # noqa: E402

ORACLE_TRAINING["prototype_distances"] = f"""
        WITH e AS (
          SELECT vec_id, label, {_CAST64} AS v FROM embeddings
        ), pm AS (
          SELECT label, list(px ORDER BY d) AS pv FROM (
            SELECT label, d, round(avg(x), 6) AS px FROM (
              SELECT label, unnest(v) AS x, unnest(range(1, {DIM + 1})) AS d
              FROM e
            ) GROUP BY label, d
          ) GROUP BY label
        ), p AS (
          SELECT label, pv, sqrt(list_sum(list_transform(pv, x -> x * x))) AS np
          FROM pm
        ), sc AS (
          SELECT e.vec_id, e.label,
                 CASE WHEN sqrt(list_sum(list_transform(e.v, x -> x * x)))
                           * p.np = 0 THEN NULL ELSE
                 round(list_sum(list_transform(range(1, {DIM + 1}),
                                               i -> e.v[i] * p.pv[i]))
                       / (sqrt(list_sum(list_transform(e.v, x -> x * x))) * p.np),
                       6) END AS proto_cos
          FROM e JOIN p USING (label)
        )
        SELECT vec_id, label, proto_cos, CAST(rk AS INT) AS suspect_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY label
                                       ORDER BY proto_cos ASC, vec_id ASC) AS rk
          FROM sc WHERE proto_cos IS NOT NULL
        ) WHERE rk <= {PROTO_SUSPECTS}
    """

ORACLE_TRAINING["source_overlap_matrix"] = _SIG_CTE + _CAND_CTE + f"""
        , shset AS (
          SELECT doc_id, list_distinct({_SHINGLES}) AS sh
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks2
        ), sizes AS (
          SELECT doc_id, len(sh) AS n_sh FROM shset
        ), shex AS (
          SELECT doc_id, unnest(sh) AS shingle FROM shset
        ), inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM cand c
          JOIN shex a ON a.doc_id = c.doc_a
          JOIN shex b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        ), near AS (
          SELECT i.doc_a, i.doc_b, 'near' AS kind
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE round(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 4)
                >= {NEAR_DUP_THRESH}
        ), exact_e AS (
          SELECT c AS doc_a, doc_id AS doc_b, 'exact' AS kind
          FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS c
                FROM documents)
          WHERE doc_id <> c
        ), edges AS (
          SELECT * FROM near UNION ALL SELECT * FROM exact_e
        ), lab AS (
          SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b, e.kind
          FROM edges e
          JOIN documents da ON da.doc_id = e.doc_a
          JOIN documents db ON db.doc_id = e.doc_b
        )
        SELECT source_a, source_b,
               CAST(sum(CASE WHEN kind = 'exact' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_pairs,
               CAST(sum(CASE WHEN kind = 'near' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_near_pairs
        FROM lab GROUP BY source_a, source_b
    """


# ---------- two-stream as-of join (DuckDB native ASOF as the oracle) ----------

ORACLE_TRAINING["asof_last_view"] = """
        WITH v0 AS (
          SELECT user_id, epoch_us(ts) AS v_us, event_id AS view_event_id,
                 value AS view_value,
                 row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                                    ORDER BY event_id DESC) AS r
          FROM events WHERE event_type = 'view'
        ), v AS (
          SELECT user_id, v_us, view_event_id, view_value FROM v0 WHERE r = 1
        ), p AS (
          SELECT event_id, user_id, epoch_us(ts) AS us, value
          FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.us,
               CAST(p.value AS DOUBLE) AS value,
               v.view_event_id, v.view_value,
               CAST(p.us - v.v_us AS BIGINT) AS lag_us
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND v.v_us <= p.us
    """


ORACLE_TRAINING["corpus_cube_stats"] = f"""
        WITH toks AS (
          SELECT source, lang, {_TOKS} AS t FROM documents
        )
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(t)) AS BIGINT) AS total_tokens,
               CAST(GROUPING(source, lang) AS INT) AS gid
        FROM toks GROUP BY CUBE (source, lang)
        HAVING count(*) > 0
    """


# ---------- decayed engagement + CUPED ----------

from .operators.rangeops import DECAY_HL_US  # noqa: E402

ORACLE_TRAINING["decayed_user_engagement"] = f"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ), a AS (
          SELECT max(us) AS anchor FROM ev
        ), t AS (
          SELECT user_id, us,
                 CAST(round(cents * pow(2.0,
                        -(CAST(a.anchor - us AS DOUBLE) / {DECAY_HL_US}))
                        * 10000) AS BIGINT) AS tm
          FROM ev CROSS JOIN a
        )
        SELECT user_id,
               round(sum(tm) / 1e6, 6) AS decayed_value,
               CAST(count(*) AS BIGINT) AS n_events,
               max(us) AS last_seen_us
        FROM t GROUP BY user_id
    """

ORACLE_TRAINING["cuped_adjustment"] = """
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ), span AS (
          SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev
        ), pu AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN us < s.mid THEN cents ELSE 0 END) AS BIGINT)
                     AS x_cents,
                 CAST(sum(CASE WHEN us >= s.mid THEN cents ELSE 0 END) AS BIGINT)
                     AS y_cents
          FROM ev CROSS JOIN span s GROUP BY user_id
        ), st AS (
          SELECT count(*) AS n, sum(x_cents) AS sx, sum(y_cents) AS sy,
                 sum(x_cents * x_cents) AS sxx, sum(x_cents * y_cents) AS sxy
          FROM pu
        )
        SELECT user_id, x_cents, y_cents,
               round((y_cents - (CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                                      ELSE (n * sxy - sx * sy)
                                           / CAST(n * sxx - sx * sx AS DOUBLE) END)
                      * (x_cents - sx / CAST(n AS DOUBLE))) / 100, 6)
                   AS adjusted_value
        FROM pu CROSS JOIN st
    """


# ---------- day-bucketed decayed engagement ----------

from .operators.rangeops import DAY_US, DECAY_HL_DAYS  # noqa: E402

ORACLE_TRAINING["decayed_engagement_daily"] = f"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ), ds AS (
          SELECT user_id, us // {DAY_US} AS day,
                 CAST(sum(cents) AS BIGINT) AS cents,
                 CAST(count(*) AS BIGINT) AS n_events,
                 max(us) AS last_us
          FROM ev GROUP BY user_id, us // {DAY_US}
        ), a AS (
          SELECT max(day) AS anchor_day FROM ds
        ), t AS (
          SELECT user_id, n_events, last_us,
                 CAST(round(cents * pow(2.0,
                        -(CAST(a.anchor_day - day AS DOUBLE) / {DECAY_HL_DAYS}))
                        * 10000) AS BIGINT) AS tm
          FROM ds CROSS JOIN a
        )
        SELECT user_id,
               round(sum(tm) / 1e6, 6) AS decayed_value,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               max(last_us) AS last_seen_us
        FROM t GROUP BY user_id
    """


# ---------- out-of-fold target encoding + WOE/IV ----------

from .operators.rangeops import TE_FOLDS, WOE_BINS  # noqa: E402

ORACLE_TRAINING["target_encode_oof"] = f"""
        WITH ev AS (
          SELECT event_id,
                 CAST(json_extract(props, '$.k') AS INT) AS k,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                 ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT
                     % {TE_FOLDS} AS fold
          FROM events
        ), kf AS (
          SELECT k, fold, CAST(sum(y) AS BIGINT) AS pos,
                 CAST(count(*) AS BIGINT) AS n
          FROM ev GROUP BY k, fold
        ), kt AS (
          SELECT k, CAST(sum(pos) AS BIGINT) AS kpos,
                 CAST(sum(n) AS BIGINT) AS kn FROM kf GROUP BY k
        ), ft AS (
          SELECT fold, CAST(sum(pos) AS BIGINT) AS fpos,
                 CAST(sum(n) AS BIGINT) AS fn FROM kf GROUP BY fold
        ), gt AS (
          SELECT CAST(sum(pos) AS BIGINT) AS gpos,
                 CAST(sum(n) AS BIGINT) AS gn FROM kf
        )
        SELECT e.event_id, e.k, e.fold,
               CASE WHEN kt.kn - coalesce(kf.n, 0) > 0
                    THEN round((kt.kpos - coalesce(kf.pos, 0))
                               / CAST(kt.kn - coalesce(kf.n, 0) AS DOUBLE), 6)
                    ELSE round((gt.gpos - ft.fpos)
                               / CAST(gt.gn - ft.fn AS DOUBLE), 6) END AS te
        FROM ev e
        LEFT JOIN kf ON kf.k = e.k AND kf.fold = e.fold
        JOIN kt ON kt.k = e.k
        JOIN ft ON ft.fold = e.fold
        CROSS JOIN gt
    """

_WOE_QS = ", ".join(str(i / WOE_BINS) for i in range(1, WOE_BINS))
_WOE_BIN = "1 + " + " + ".join(
    f"(CASE WHEN cents > bs[{i}] THEN 1 ELSE 0 END)" for i in range(1, WOE_BINS)
)

ORACLE_TRAINING["woe_encoding"] = f"""
        WITH ev AS (
          SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events
        ), bounds AS (
          SELECT quantile_cont(cents, [{_WOE_QS}]) AS bs FROM ev
        ), binned AS (
          SELECT CAST({_WOE_BIN} AS INT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS pos
          FROM ev CROSS JOIN bounds GROUP BY 1
        ), b2 AS (
          SELECT bin, n, pos, n - pos AS neg FROM binned
        ), tot AS (
          SELECT CAST(sum(pos) AS BIGINT) AS tpos,
                 CAST(sum(neg) AS BIGINT) AS tneg FROM b2
        ), w AS (
          SELECT bin, n, pos, neg, tpos, tneg,
                 CAST(round(ln((2 * pos + 1) * (2 * tneg + 1)
                               / CAST((2 * tpos + 1) * (2 * neg + 1) AS DOUBLE))
                            * 1000000) AS BIGINT) AS woe_micro
          FROM b2 CROSS JOIN tot
        )
        SELECT bin, n, pos, neg,
               round(woe_micro / 1e6, 6) AS woe,
               round((pos / CAST(tpos AS DOUBLE) - neg / CAST(tneg AS DOUBLE))
                     * (woe_micro / 1e6) + CAST(0 AS DOUBLE), 6) AS iv_term
        FROM w
    """


# ---------- PSI drift + seasonal-naive MASE ----------

from .operators.rangeops import SEASON_DAYS  # noqa: E402

_PSI_BIN = "1 + " + " + ".join(
    f"(CASE WHEN cents > bs[{i}] THEN 1 ELSE 0 END)" for i in range(1, WOE_BINS)
)

ORACLE_TRAINING["psi_drift"] = f"""
        WITH ev AS (
          SELECT epoch_us(ts) AS us,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ), span AS (
          SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev
        ), bounds AS (
          SELECT quantile_cont(cents, [{_WOE_QS}]) AS bs FROM ev
        ), binned AS (
          SELECT CAST({_PSI_BIN} AS INT) AS bin,
                 CAST(sum(CASE WHEN us < s.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN us >= s.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM ev CROSS JOIN span s CROSS JOIN bounds GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
          FROM binned
        ), t AS (
          SELECT bin, n_a, n_b, ta, tb,
                 CAST(round(ln((2 * n_a + 1) * (2 * tb + {WOE_BINS})
                               / CAST((2 * ta + {WOE_BINS}) * (2 * n_b + 1) AS DOUBLE))
                            * 1000000) AS BIGINT) AS lr_micro,
                 CAST(sum(n_a) OVER (ORDER BY bin) AS BIGINT) AS ca,
                 CAST(sum(n_b) OVER (ORDER BY bin) AS BIGINT) AS cb
          FROM binned CROSS JOIN tot
        )
        SELECT bin, n_a, n_b,
               round(((2 * n_a + 1) / CAST(2 * ta + {WOE_BINS} AS DOUBLE)
                      - (2 * n_b + 1) / CAST(2 * tb + {WOE_BINS} AS DOUBLE))
                     * (lr_micro / 1e6), 6) AS psi_term,
               round(abs(ca / CAST(ta AS DOUBLE) - cb / CAST(tb AS DOUBLE)), 6)
                   AS ks_at_bin
        FROM t
    """

ORACLE_TRAINING["seasonal_forecast_error"] = f"""
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // {86_400 * 1_000_000} AS day,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total
          FROM events GROUP BY event_type, epoch_us(ts) // {86_400 * 1_000_000}
        ), scored AS (
          SELECT event_type, total,
                 lag(total, {SEASON_DAYS}) OVER (PARTITION BY event_type
                                                 ORDER BY day) AS seasonal,
                 lag(total, 1) OVER (PARTITION BY event_type ORDER BY day) AS naive
          FROM daily
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(abs(total - seasonal)) AS BIGINT) AS sae_seasonal,
               CAST(sum(abs(total - naive)) AS BIGINT) AS sae_naive,
               round(sum(abs(total - seasonal))
                     / CAST(sum(abs(total - naive)) AS DOUBLE), 6) AS mase
        FROM scored
        WHERE seasonal IS NOT NULL AND naive IS NOT NULL
        GROUP BY event_type
    """


# ---------- Bloom semi-join reduction audit ----------

from .operators.relational import BLOOM_K, BLOOM_WORD_BITS, BLOOM_WORDS  # noqa: E402

_BLOOM_BITS = BLOOM_WORDS * BLOOM_WORD_BITS


def _bpos(h: int, key: str) -> str:
    return (
        f"('0x' || substr(md5('{h}|' || CAST({key} AS VARCHAR)), 1, 7))::BIGINT"
        f" % {_BLOOM_BITS}"
    )


def _bloom_sql() -> str:
    bit_unions = "\nUNION ALL\n".join(
        f"SELECT ({_bpos(h, 'k')}) // {BLOOM_WORD_BITS} AS word,"
        f" ({_bpos(h, 'k')}) % {BLOOM_WORD_BITS} AS bit FROM keys"
        for h in range(BLOOM_K)
    )
    probe_cols = ", ".join(
        f"({_bpos(h, 'o_custkey')}) // {BLOOM_WORD_BITS} AS w{h},"
        f" (1::BIGINT << CAST(({_bpos(h, 'o_custkey')}) % {BLOOM_WORD_BITS} AS INT))"
        f" AS m{h}"
        for h in range(BLOOM_K)
    )
    joins = "\n".join(
        f"LEFT JOIN words x{h} ON x{h}.word = p.w{h}" for h in range(BLOOM_K)
    )
    passes = " AND ".join(
        f"(coalesce(x{h}.word_bits, 0) & p.m{h}) != 0" for h in range(BLOOM_K)
    )
    return f"""
        WITH keys AS (
          SELECT c_custkey AS k FROM customer WHERE c_nationkey < 5
        ), bits AS (
          {bit_unions}
        ), words AS (
          SELECT word, bit_or(1::BIGINT << CAST(bit AS INT)) AS word_bits
          FROM bits GROUP BY word
        ), probe AS (
          SELECT o_orderkey, o_custkey, {probe_cols} FROM orders
        ), flagged AS (
          SELECT CASE WHEN {passes} THEN 1 ELSE 0 END AS bloom_pass
          FROM probe p
          {joins}
        ), truth AS (
          SELECT CAST(count(*) AS BIGINT) AS n_true
          FROM orders o WHERE EXISTS (SELECT 1 FROM keys WHERE k = o.o_custkey)
        )
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(bloom_pass) AS BIGINT) AS n_bloom_pass,
               t.n_true,
               CAST(sum(bloom_pass) - t.n_true AS BIGINT) AS n_false_pos,
               CASE WHEN count(*) = t.n_true THEN NULL ELSE
               round((sum(bloom_pass) - t.n_true)
                     / CAST(count(*) - t.n_true AS DOUBLE), 6) END AS fp_rate
        FROM flagged CROSS JOIN truth t
        GROUP BY t.n_true
    """


ORACLE_TRAINING["bloom_semi_join_audit"] = _bloom_sql()


ORACLE_TRAINING["price_quantity_skyline"] = """
        WITH li AS (
          SELECT l_returnflag, l_orderkey, l_linenumber,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                 CAST(l_quantity AS BIGINT) AS qty
          FROM lineitem
        ), w AS (
          SELECT *,
                 max(qty) OVER (PARTITION BY l_returnflag ORDER BY price_c
                                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS mx_cheaper,
                 max(qty) OVER (PARTITION BY l_returnflag ORDER BY price_c
                                RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
                     AS mx_same
          FROM li
        )
        SELECT l_returnflag, l_orderkey, l_linenumber, price_c, qty
        FROM w
        WHERE (mx_cheaper IS NULL OR mx_cheaper < qty) AND mx_same = qty
    """


# ---------- trigram substring search ----------

from .operators.textops import TRGM_PATTERN  # noqa: E402

_TRGM_SET = sorted({TRGM_PATTERN[i : i + 3] for i in range(len(TRGM_PATTERN) - 2)})
_TRGM_LIST = ", ".join("'" + t.replace("'", "''") + "'" for t in _TRGM_SET)

ORACLE_TRAINING["trigram_search"] = f"""
        WITH tri AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, greatest(length(text) - 2, 0) + 1),
                                       i -> substr(text, CAST(i AS INT), 3))) AS tri
          FROM documents
        ), cand AS (
          SELECT doc_id, CAST(count(DISTINCT tri) AS BIGINT) AS n_tri_matched
          FROM tri WHERE tri IN ({_TRGM_LIST})
          GROUP BY doc_id
          HAVING count(DISTINCT tri) = {len(_TRGM_SET)}
        )
        SELECT c.doc_id, c.n_tri_matched,
               contains(d.text, '{TRGM_PATTERN}') AS verified
        FROM cand c JOIN documents d ON d.doc_id = c.doc_id
    """


# ---------- preference pairs + witness edge churn ----------

ORACLE_TRAINING["preference_pairs"] = f"""
        WITH m AS (
          SELECT c.cluster_id, c.doc_id, q.quality_score
          FROM ({ORACLE_TRAINING["dedup_clusters"]}) c
          JOIN ({ORACLE_TRAINING["text_stats"]}) q ON q.doc_id = c.doc_id
          WHERE c.cluster_size >= 2
        ), best AS (
          SELECT cluster_id, doc_id AS chosen_doc_id,
                 quality_score AS chosen_quality
          FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                        ORDER BY quality_score DESC, doc_id ASC) AS rk FROM m)
          WHERE rk = 1
        ), worst AS (
          SELECT cluster_id, doc_id AS rejected_doc_id,
                 quality_score AS rejected_quality
          FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                        ORDER BY quality_score ASC, doc_id DESC) AS rk FROM m)
          WHERE rk = 1
        )
        SELECT b.cluster_id, b.chosen_doc_id, w.rejected_doc_id,
               b.chosen_quality, w.rejected_quality,
               round(b.chosen_quality - w.rejected_quality, 4) AS margin
        FROM best b JOIN worst w USING (cluster_id)
        WHERE round(b.chosen_quality - w.rejected_quality, 4) > 0
    """

ORACLE_TRAINING["witness_edge_churn"] = f"""
        WITH e AS (
          SELECT city_key, src, dst, epoch_us(edge_ts) AS us
          FROM ({{WSQL}})
        ), span AS (
          SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM e
        ), pe AS (
          SELECT city_key, src, dst,
                 max(CASE WHEN us < s.mid THEN 1 ELSE 0 END) AS early,
                 max(CASE WHEN us >= s.mid THEN 1 ELSE 0 END) AS late
          FROM e CROSS JOIN span s GROUP BY city_key, src, dst
        )
        SELECT city_key,
               CAST(sum(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_lost,
               CAST(sum(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new,
               CAST(sum(CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_stable,
               round((sum(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END)
                      + sum(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END))
                     / CAST(count(*) AS DOUBLE), 6) AS churn_rate
        FROM pe GROUP BY city_key
    """


# ---------- neighborhood jaccard + source JS divergence ----------

from .operators.textops import JS_VOCAB  # noqa: E402

ORACLE_TRAINING["neighborhood_jaccard"] = """
        WITH edges0 AS ({WSQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        cw AS (
          SELECT a.city_key, a.src AS src_a, b.src AS src_b,
                 CAST(count(*) AS BIGINT) AS shared_witnesses
          FROM e a
          JOIN e b ON a.city_key = b.city_key AND a.dst = b.dst AND a.src < b.src
          GROUP BY a.city_key, a.src, b.src
        ), deg AS (
          SELECT city_key, src, CAST(count(*) AS BIGINT) AS d
          FROM e GROUP BY city_key, src
        )
        SELECT cw.city_key, cw.src_a, cw.src_b, cw.shared_witnesses,
               da.d AS deg_a, db.d AS deg_b,
               round(cw.shared_witnesses
                     / CAST(da.d + db.d - cw.shared_witnesses AS DOUBLE), 6)
                   AS jaccard
        FROM cw
        JOIN deg da ON da.city_key = cw.city_key AND da.src = cw.src_a
        JOIN deg db ON db.city_key = cw.city_key AND db.src = cw.src_b
    """

_JSV = JS_VOCAB

ORACLE_TRAINING["source_divergence_matrix"] = f"""
        WITH words AS (
          SELECT source, unnest({_TOKS}) AS w FROM documents
        ), vocab AS (
          SELECT w FROM (
            SELECT w, count(*) AS cnt FROM words GROUP BY w
            ORDER BY cnt DESC, w ASC LIMIT {_JSV}
          )
        ), counts AS (
          SELECT source, w, CAST(count(*) AS BIGINT) AS c
          FROM words JOIN vocab USING (w) GROUP BY source, w
        ), srcs AS (
          SELECT DISTINCT source FROM documents
        ), totals AS (
          SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM counts GROUP BY source
        ), grid AS (
          SELECT s.source, v.w, coalesce(c.c, 0) AS c, t.tot
          FROM srcs s CROSS JOIN vocab v
          LEFT JOIN counts c ON c.source = s.source AND c.w = v.w
          JOIN totals t ON t.source = s.source
        ), paired AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 a.c AS ca, a.tot AS ta, b.c AS cb, b.tot AS tb
          FROM grid a JOIN grid b ON a.w = b.w AND a.source < b.source
        )
        SELECT source_a, source_b,
               round(sum(
                 CAST(round(((ca + 1) / CAST(ta + {_JSV} AS DOUBLE))
                   * ln(2 * (ca + 1) * (tb + {_JSV})
                        / CAST((ca + 1) * (tb + {_JSV})
                               + (cb + 1) * (ta + {_JSV}) AS DOUBLE)) * 1e9)
                      AS BIGINT)
                 + CAST(round(((cb + 1) / CAST(tb + {_JSV} AS DOUBLE))
                   * ln(2 * (cb + 1) * (ta + {_JSV})
                        / CAST((ca + 1) * (tb + {_JSV})
                               + (cb + 1) * (ta + {_JSV}) AS DOUBLE)) * 1e9)
                      AS BIGINT)
               ) / 2e9, 6) AS js_divergence
        FROM paired GROUP BY source_a, source_b
    """


# ---------- OHLC rollup + Benford audit ----------

ORACLE_TRAINING["ohlc_daily"] = f"""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) // {86_400 * 1_000_000} AS day,
                 epoch_us(ts) AS us, event_id,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        )
        SELECT event_type, day,
               arg_min(cents, lpad(CAST(us AS VARCHAR), 20, '0')
                       || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS open_c,
               max(cents) AS high_c,
               min(cents) AS low_c,
               arg_max(cents, lpad(CAST(us AS VARCHAR), 20, '0')
                       || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS close_c,
               CAST(count(*) AS BIGINT) AS volume
        FROM ev GROUP BY event_type, day
    """

# expectations folded once in Python and shared verbatim with the Spark
# side (rangeops.BENFORD_EXP_MICRO — the seed-66 constant convention;
# `log10(1 + 1.0/d)` as SQL was DECIMAL division on Spark, double here)
from .operators.rangeops import BENFORD_EXP_MICRO  # noqa: E402

_BENFORD_EXP = (
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN CAST({m} AS BIGINT)"
        for d, m in BENFORD_EXP_MICRO.items()
    )
    + " END"
)

ORACLE_TRAINING["benford_audit"] = f"""
        WITH ev AS (
          SELECT CAST(floor(value * 100) AS BIGINT) AS cents FROM events
        ), obs AS (
          SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
                 CAST(count(*) AS BIGINT) AS observed
          FROM ev WHERE cents >= 1 GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs
        )
        SELECT digit, observed,
               round(n * (({_BENFORD_EXP}) / 1e6), 6) AS expected,
               round(pow(observed - n * (({_BENFORD_EXP}) / 1e6), 2)
                     / (n * (({_BENFORD_EXP}) / 1e6)), 6) AS chi2_term
        FROM obs CROSS JOIN tot
    """


# ---------- chi2 cross-tab + DiD uplift + power-law fit ----------

from .operators.graph import PL_DMIN  # noqa: E402

ORACLE_TRAINING["chi2_independence"] = f"""
        WITH ev AS (
          SELECT event_type,
                 (epoch_us(ts) // {86_400 * 1_000_000} + 4) % 7 AS weekday
          FROM events
        ), cells AS (
          SELECT event_type, weekday, CAST(count(*) AS BIGINT) AS observed
          FROM ev GROUP BY event_type, weekday
        ), r AS (
          SELECT event_type, CAST(sum(observed) AS BIGINT) AS row_n
          FROM cells GROUP BY event_type
        ), c AS (
          SELECT weekday, CAST(sum(observed) AS BIGINT) AS col_n
          FROM cells GROUP BY weekday
        ), t AS (
          SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells
        )
        SELECT cells.event_type, cells.weekday, cells.observed,
               round(r.row_n * c.col_n / CAST(t.n AS DOUBLE), 6) AS expected,
               round(pow(cells.observed - r.row_n * c.col_n / CAST(t.n AS DOUBLE), 2)
                     / (r.row_n * c.col_n / CAST(t.n AS DOUBLE)), 6) AS chi2_term
        FROM cells
        JOIN r ON r.event_type = cells.event_type
        JOIN c ON c.weekday = cells.weekday
        CROSS JOIN t
    """

ORACLE_TRAINING["did_promo_uplift"] = """
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ), span AS (
          SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev
        ), treated AS (
          SELECT DISTINCT user_id FROM ev WHERE event_type = 'signup'
        ), pu AS (
          SELECT e.user_id,
                 CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END AS treated,
                 CAST(sum(CASE WHEN e.us < s.mid THEN e.cents ELSE 0 END) AS BIGINT)
                     AS pre_c,
                 CAST(sum(CASE WHEN e.us >= s.mid THEN e.cents ELSE 0 END) AS BIGINT)
                     AS post_c
          FROM ev e CROSS JOIN span s
          LEFT JOIN treated t ON t.user_id = e.user_id
          WHERE e.event_type = 'purchase'
          GROUP BY e.user_id, CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END
        ), g AS (
          SELECT treated, CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(pre_c) AS BIGINT) AS pre_sum,
                 CAST(sum(post_c) AS BIGINT) AS post_sum
          FROM pu GROUP BY treated
        )
        SELECT t.n_users AS n_treated, c.n_users AS n_control,
               round(t.pre_sum / CAST(t.n_users AS DOUBLE) / 100, 6) AS treated_pre,
               round(t.post_sum / CAST(t.n_users AS DOUBLE) / 100, 6) AS treated_post,
               round(c.pre_sum / CAST(c.n_users AS DOUBLE) / 100, 6) AS control_pre,
               round(c.post_sum / CAST(c.n_users AS DOUBLE) / 100, 6) AS control_post,
               round(((t.post_sum - t.pre_sum) / CAST(t.n_users AS DOUBLE)
                      - (c.post_sum - c.pre_sum) / CAST(c.n_users AS DOUBLE)) / 100, 6)
                   AS did_uplift
        FROM (SELECT * FROM g WHERE treated = 1) t
        CROSS JOIN (SELECT * FROM g WHERE treated = 0) c
    """

ORACLE_TRAINING["degree_powerlaw_fit"] = """
        WITH edges0 AS ({WSQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        deg AS (
          SELECT city_key, src, count(*) AS d FROM e GROUP BY city_key, src
        ), terms AS (
          SELECT city_key,
                 CAST(round(ln(d / CAST(%d - 0.5 AS DOUBLE)) * 1000000) AS BIGINT)
                     AS lt
          FROM deg WHERE d >= %d
        )
        SELECT city_key, CAST(count(*) AS BIGINT) AS n_nodes,
               round(1 + count(*) / (sum(lt) / 1e6), 6) AS alpha_hat
        FROM terms GROUP BY city_key
        HAVING sum(lt) > 0
    """ % (PL_DMIN, PL_DMIN)


ORACLE_TRAINING["butterfly_stats"] = """
        WITH edges0 AS ({WSQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        cw AS (
          SELECT a.city_key, a.src AS u, b.src AS v, count(*) AS w
          FROM e a
          JOIN e b ON a.city_key = b.city_key AND a.dst = b.dst AND a.src < b.src
          GROUP BY a.city_key, a.src, b.src
        ), bf AS (
          SELECT city_key, CAST(sum(w * (w - 1) // 2) AS BIGINT) AS n_butterflies
          FROM cw GROUP BY city_key
        ), ds AS (
          SELECT city_key, src, count(*) AS d FROM e GROUP BY city_key, src
        ), dd AS (
          SELECT city_key, dst, count(*) AS d FROM e GROUP BY city_key, dst
        ), cat AS (
          SELECT e.city_key,
                 CAST(sum((ds.d - 1) * (dd.d - 1)) AS BIGINT) AS n_caterpillars
          FROM e
          JOIN ds ON ds.city_key = e.city_key AND ds.src = e.src
          JOIN dd ON dd.city_key = e.city_key AND dd.dst = e.dst
          GROUP BY e.city_key
        )
        SELECT cat.city_key,
               CAST(coalesce(bf.n_butterflies, 0) AS BIGINT) AS n_butterflies,
               cat.n_caterpillars,
               round(CASE WHEN cat.n_caterpillars > 0
                          THEN 4.0 * coalesce(bf.n_butterflies, 0)
                               / cat.n_caterpillars
                          ELSE 0.0 END, 6) AS bipartite_clustering
        FROM cat LEFT JOIN bf ON bf.city_key = cat.city_key
    """


# ---------- data-quality report ----------

ORACLE_TRAINING["dq_report"] = """
        WITH oa AS (
          SELECT CAST(count(*) AS BIGINT) AS o_n,
                 CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS pk_dups,
                 CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS null_cust
          FROM orders
        ), la AS (
          SELECT CAST(count(*) AS BIGINT) AS l_n,
                 CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                               THEN 1 ELSE 0 END) AS BIGINT) AS qty_bad,
                 CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                               THEN 1 ELSE 0 END) AS BIGINT) AS flag_bad,
                 CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS price_bad
          FROM lineitem
        ), lo AS (
          SELECT CAST(count(*) AS BIGINT) AS li_orphans FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)
        ), oo AS (
          SELECT CAST(count(*) AS BIGINT) AS o_orphans FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)
        ), s AS (
          SELECT * FROM oa CROSS JOIN la CROSS JOIN lo CROSS JOIN oo
        )
        SELECT check_name, n_checked, n_violations, n_violations = 0 AS passed
        FROM (
          SELECT 'orders_pk_unique' AS check_name, o_n AS n_checked,
                 pk_dups AS n_violations FROM s
          UNION ALL SELECT 'orders_custkey_not_null', o_n, null_cust FROM s
          UNION ALL SELECT 'orders_fk_customer', o_n, o_orphans FROM s
          UNION ALL SELECT 'lineitem_fk_orders', l_n, li_orphans FROM s
          UNION ALL SELECT 'lineitem_qty_in_1_50', l_n, qty_bad FROM s
          UNION ALL SELECT 'lineitem_returnflag_domain', l_n, flag_bad FROM s
          UNION ALL SELECT 'lineitem_price_positive', l_n, price_bad FROM s
        )
    """


# ---------- whitening audit ----------


def _whiten_sql() -> str:
    stats = f"""
        WITH e AS (
          SELECT vec_id, {_CAST64} AS v FROM embeddings
        ), dims AS (
          SELECT dim, CAST(round(x * 1000000) AS BIGINT) AS xi FROM (
            SELECT unnest(v) AS x, unnest(range(0, {DIM})) AS dim FROM e
          )
        ), st AS (
          SELECT dim, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(xi) AS BIGINT) AS sx,
                 CAST(sum(xi * xi) AS BIGINT) AS sxx
          FROM dims GROUP BY dim
        ), pub AS (
          SELECT dim,
                 CAST(round(sx / CAST(n AS DOUBLE)) AS BIGINT) / 1e6 AS mean,
                 CAST(round(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                            / CAST(n AS DOUBLE)) AS BIGINT) / 1e6 AS std
          FROM st
        ), srow AS (
          SELECT list(mean ORDER BY dim) AS ms, list(std ORDER BY dim) AS ss
          FROM pub
        )"""
    z = "(CASE WHEN s.ss[i] = 0.0 THEN 0.0 ELSE (e.v[i] - s.ms[i]) / s.ss[i] END)"
    return stats + f"""
        SELECT e.vec_id,
               round(sqrt(list_sum(list_transform(range(1, {DIM + 1}),
                     i -> CAST(round({z} * {z} * 1000000) AS BIGINT))) / 1e6), 6)
                   AS whitened_norm,
               round(list_max(list_transform(range(1, {DIM + 1}),
                     i -> CAST(round(abs({z}) * 1000000) AS BIGINT))) / 1e6, 6)
                   AS max_abs_z
        FROM e CROSS JOIN srow s
    """


ORACLE_TRAINING["embedding_whiten_audit"] = _whiten_sql()


# ---------- k-anonymity / l-diversity audit ----------

from .operators.relational import K_ANON, L_DIV  # noqa: E402

_KA_QS = ", ".join(str(i / 10) for i in range(1, 10))
_KA_BIN = "1 + " + " + ".join(
    f"(CASE WHEN bal_c > bs[{i}] THEN 1 ELSE 0 END)" for i in range(1, 10)
)

ORACLE_TRAINING["k_anonymity_audit"] = f"""
        WITH c AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
          FROM customer
        ), bounds AS (
          SELECT quantile_cont(bal_c, [{_KA_QS}]) AS bs FROM c
        ), s AS (
          SELECT c_nationkey, c_mktsegment, CAST({_KA_BIN} AS INT) AS sens
          FROM c CROSS JOIN bounds
        ), g AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT sens) AS BIGINT) AS n_sensitive
          FROM s GROUP BY c_nationkey, c_mktsegment
        )
        SELECT c_nationkey, c_mktsegment, n, n_sensitive,
               n >= {K_ANON} AS k_anonymous,
               n_sensitive >= {L_DIV} AS l_diverse
        FROM g
    """


# ---------- top session paths + fulfillment latency ----------

from .operators.temporal import (  # noqa: E402
    PATH_PREFIX_LEN,
    PATH_TOP_K,
    SESSION_GAP_US,
)

ORACLE_TRAINING["top_session_paths"] = f"""
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
        ), g AS (
          SELECT *, CASE WHEN us - lag(us) OVER w > {SESSION_GAP_US}
                         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), s AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id)
                    AS session_idx
          FROM g
        ), per AS (
          SELECT user_id, session_idx,
                 array_to_string(
                   (list(event_type ORDER BY us, event_id))[1:{PATH_PREFIX_LEN}],
                   '>') AS path
          FROM s GROUP BY user_id, session_idx
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM per
        ), top AS (
          SELECT path, CAST(count(*) AS BIGINT) AS n FROM per GROUP BY path
          ORDER BY n DESC, path ASC LIMIT {PATH_TOP_K}
        )
        SELECT path, n,
               round(n / CAST(t.n_sessions AS DOUBLE), 6) AS share,
               CAST(row_number() OVER (ORDER BY n DESC, path ASC) AS INT) AS rank
        FROM top CROSS JOIN tot t
    """

ORACLE_TRAINING["fulfillment_latency"] = """
        WITH d AS (
          SELECT o.o_orderpriority,
                 CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE)) AS BIGINT) AS delay_days
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               quantile_cont(delay_days, 0.5) AS p50_days,
               quantile_cont(delay_days, 0.9) AS p90_days,
               round(sum(delay_days) / CAST(count(*) AS DOUBLE), 6) AS mean_days
        FROM d GROUP BY o_orderpriority
    """


# ---------- term burstiness ----------

from .operators.textops import BURST_VOCAB  # noqa: E402

ORACLE_TRAINING["term_burstiness"] = f"""
        WITH words AS (
          SELECT doc_id, unnest({_TOKS}) AS w FROM documents
        ), vocab AS (
          SELECT w FROM (
            SELECT w, count(*) AS cnt FROM words GROUP BY w
            ORDER BY cnt DESC, w ASC LIMIT {BURST_VOCAB}
          )
        ), nd AS (
          SELECT CAST(count(*) AS BIGINT) AS nd FROM documents
        ), per_doc AS (
          SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
          FROM words JOIN vocab USING (w) GROUP BY w, doc_id
        ), ag AS (
          SELECT w, CAST(count(*) AS BIGINT) AS df,
                 CAST(sum(c) AS BIGINT) AS sx,
                 CAST(sum(c * c) AS BIGINT) AS sxx
          FROM per_doc GROUP BY w
        )
        SELECT w, df, sx AS total_tf,
               CAST(round(sx / CAST(nd.nd AS DOUBLE) * 1e6) AS BIGINT) / 1e6
                   AS mean_tf,
               CAST(round((nd.nd * sxx - sx * sx) / CAST(nd.nd AS DOUBLE)
                          / sx * 1e6) AS BIGINT) / 1e6
                   AS burstiness
        FROM ag CROSS JOIN nd
    """


# ---------- CUSUM daily-rate changepoint detection ----------

ORACLE_TRAINING["cusum_daily_counts"] = f"""
        WITH RECURSIVE daily AS (
          SELECT event_type, epoch_us(ts) // {86_400 * 1_000_000} AS day,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY event_type, epoch_us(ts) // {86_400 * 1_000_000}
        ), stats AS (
          SELECT event_type,
                 CAST(round(sum(n) * 1000000.0 / count(*)) AS BIGINT) AS mu_micro
          FROM daily GROUP BY event_type
        ), seq AS (
          SELECT d.event_type, d.day, d.n, s.mu_micro,
                 row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
                     AS r
          FROM daily d JOIN stats s USING (event_type)
        ), cus AS (
          SELECT event_type, day, n, mu_micro, r,
                 greatest(CAST(0 AS BIGINT),
                          n * 1000000 - mu_micro - mu_micro // 4) AS s
          FROM seq WHERE r = 1
          UNION ALL
          SELECT q.event_type, q.day, q.n, q.mu_micro, q.r,
                 greatest(CAST(0 AS BIGINT),
                          c.s + q.n * 1000000 - q.mu_micro - q.mu_micro // 4)
          FROM seq q JOIN cus c ON c.event_type = q.event_type
                                AND q.r = c.r + 1
        )
        SELECT event_type, day, n,
               round(s / 1e6, 6) AS cusum,
               s > 2 * mu_micro AS alarm
        FROM cus
    """


# ---------- top principal component (unrolled power iteration) ----------

from .operators.similarity import PCA_ITERS  # noqa: E402


def _toppc_sql() -> str:
    d = DIM
    init = ", ".join([str(round(1.0 / d**0.5, 6))] * d)
    matvec = f"list_transform(range(1, {d + 1}), k -> crow[k] * vv[k])"
    parts = [f"""
        WITH m AS (
          SELECT vec_id,
                 list_transform({_CAST64},
                                x -> CAST(round(x * 1000) AS BIGINT)) AS xs
          FROM embeddings
        ), ex AS (
          SELECT vec_id, unnest(xs) AS x, unnest(range(0, {d})) AS i FROM m
        ), sums AS (
          SELECT i, CAST(sum(x) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS n
          FROM ex GROUP BY i
        ), pr AS (
          SELECT a.i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sxy
          FROM ex a JOIN ex b USING (vec_id) GROUP BY a.i, b.i
        ), cov AS (
          SELECT p.i, p.j,
                 CAST(si.n * p.sxy - si.sx * sj.sx AS DOUBLE) AS c
          FROM pr p
          JOIN sums si ON si.i = p.i
          JOIN sums sj ON sj.i = p.j
        ), crows AS (
          SELECT i, list(c ORDER BY j) AS crow FROM cov GROUP BY i
        ), v0 AS (
          SELECT [{init}] AS vv
        )"""]
    for it in range(1, PCA_ITERS + 1):
        p = it - 1
        parts.append(f"""
        , w{it} AS (
          SELECT c.i,
                 list_sum({matvec.replace("vv[k]", f"v.vv[k]")}) AS w
          FROM crows c CROSS JOIN v{p} v
        ), a{it} AS (
          SELECT list(w ORDER BY i) AS ws FROM w{it}
        ), v{it} AS (
          SELECT list_transform(ws, x -> round(x /
                   sqrt(list_sum(list_transform(ws, y -> y * y))), 6)) AS vv
          FROM a{it}
        )""")
    last = f"v{PCA_ITERS}"
    parts.append(f"""
        , wf AS (
          SELECT c.i, list_sum({matvec.replace("vv[k]", f"v.vv[k]")}) AS w
          FROM crows c CROSS JOIN {last} v
        ), lamt AS (
          SELECT list_sum(list_transform(range(1, {d + 1}),
                   k -> a.ws[k] * v.vv[k])) AS lam
          FROM (SELECT list(w ORDER BY i) AS ws FROM wf) a
          CROSS JOIN {last} v
        ), outp AS (
          SELECT CAST(c.i AS INT) AS dim,
                 round(v.vv[CAST(c.i AS INT) + 1], 6) AS loading,
                 round(l.lam / 1e12, 4) AS eigenvalue_scaled
          FROM crows c CROSS JOIN {last} v CROSS JOIN lamt l
        ), sg AS (
          SELECT CASE WHEN loading < 0 THEN -1.0 ELSE 1.0 END AS sg
          FROM (SELECT loading, row_number() OVER (
                  ORDER BY abs(loading) DESC, dim ASC) AS r FROM outp)
          WHERE r = 1
        )
        SELECT dim, round(loading * sg.sg, 6) AS loading, eigenvalue_scaled
        FROM outp CROSS JOIN sg
    """)
    return "".join(parts)


ORACLE_TRAINING["embedding_top_pc"] = _toppc_sql()


from .operators.rangeops import EWMA_BAND_SCALE  # noqa: E402

ORACLE_TRAINING["ewma_daily_counts"] = f"""
        WITH RECURSIVE daily AS (
          SELECT event_type, epoch_us(ts) // {86_400 * 1_000_000} AS day,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY event_type, epoch_us(ts) // {86_400 * 1_000_000}
        ), stats AS (
          SELECT event_type,
                 CAST(round(sum(n) * 1000000.0 / count(*)) AS BIGINT) AS mu_micro,
                 CAST(round(sqrt(CAST(count(*) * sum(n * n) - sum(n) * sum(n)
                                      AS DOUBLE)) / count(*) * 1000000
                            * CAST({EWMA_BAND_SCALE!r} AS DOUBLE))
                      AS BIGINT) AS band_micro
          FROM daily GROUP BY event_type
        ), seq AS (
          SELECT d.event_type, d.day, d.n, s.mu_micro, s.band_micro,
                 row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
                     AS r
          FROM daily d JOIN stats s USING (event_type)
        ), ew AS (
          SELECT event_type, day, n, mu_micro, band_micro, r,
                 n * 1000000 AS e
          FROM seq WHERE r = 1
          UNION ALL
          SELECT q.event_type, q.day, q.n, q.mu_micro, q.band_micro, q.r,
                 (200 * q.n * 1000000 + 800 * c.e) // 1000
          FROM seq q JOIN ew c ON c.event_type = q.event_type AND q.r = c.r + 1
        )
        SELECT event_type, day, n,
               round(e / 1e6, 6) AS ewma,
               e > mu_micro + band_micro OR e < mu_micro - band_micro AS alarm
        FROM ew
    """


ORACLE_TRAINING["holt_forecast_error"] = f"""
        WITH RECURSIVE daily AS (
          SELECT event_type, epoch_us(ts) // {86_400 * 1_000_000} AS day,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY event_type, epoch_us(ts) // {86_400 * 1_000_000}
        ), seq AS (
          SELECT event_type, day, n,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS r,
                 count(*) OVER (PARTITION BY event_type) AS days
          FROM daily
        ), holt AS (
          SELECT event_type, r, days,
                 n * 1000000 AS l, CAST(0 AS BIGINT) AS t,
                 CAST(0 AS BIGINT) AS sae, CAST(0 AS BIGINT) AS k,
                 CAST(0 AS BIGINT) AS nsae, n AS prev_n
          FROM seq WHERE r = 1
          UNION ALL
          SELECT q.event_type, q.r, q.days,
                 (200 * q.n * 1000000 + 800 * (h.l + h.t)) // 1000,
                 (200 * ((200 * q.n * 1000000 + 800 * (h.l + h.t)) // 1000 - h.l)
                  + 800 * h.t) // 1000,
                 h.sae + abs(q.n * 1000000 - (h.l + h.t)),
                 h.k + 1,
                 h.nsae + abs(q.n - h.prev_n),
                 q.n
          FROM seq q JOIN holt h ON h.event_type = q.event_type AND q.r = h.r + 1
        ), last AS (
          SELECT event_type, sae, k, nsae
          FROM holt WHERE r = days
        )
        SELECT event_type,
               k AS n_scored,
               round(hm_micro / 1e6, 6) AS holt_mae,
               round(nm_micro / 1e6, 6) AS naive_mae,
               CASE WHEN nm_micro IS NULL OR nm_micro = 0 THEN NULL ELSE
                 round(hm_micro / CAST(nm_micro AS DOUBLE), 6) END AS holt_mase
        FROM (
          SELECT event_type, k,
                 CASE WHEN k = 0 THEN NULL ELSE
                   CAST(floor(sae / CAST(k AS DOUBLE)) AS BIGINT) END AS hm_micro,
                 CASE WHEN k = 0 THEN NULL ELSE
                   CAST(floor(nsae * 1e6 / CAST(k AS DOUBLE)) AS BIGINT) END AS nm_micro
          FROM last
        )
    """


# ---------- cohort LTV + ABC classification ----------

ORACLE_TRAINING["cohort_ltv"] = """
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ), fs AS (
          SELECT user_id, min(day) AS cohort_day
          FROM (SELECT DISTINCT user_id, day FROM ev) GROUP BY user_id
        ), sizes AS (
          SELECT cohort_day, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_n
          FROM fs GROUP BY cohort_day
        ), spend AS (
          SELECT f.cohort_day,
                 CAST(date_diff('day', f.cohort_day, e.day) AS BIGINT)
                     AS day_offset,
                 CAST(sum(e.cents) AS BIGINT) AS c
          FROM ev e JOIN fs f USING (user_id)
          WHERE e.event_type = 'purchase'
          GROUP BY f.cohort_day, date_diff('day', f.cohort_day, e.day)
        ), cum AS (
          SELECT cohort_day, day_offset, c,
                 CAST(sum(c) OVER (PARTITION BY cohort_day ORDER BY day_offset)
                      AS BIGINT) AS cum_c
          FROM spend
        )
        SELECT cum.cohort_day, cum.day_offset,
               cum.c AS spend_cents, cum.cum_c AS cum_spend_cents,
               s.cohort_n,
               round(cum.cum_c / CAST(s.cohort_n AS DOUBLE) / 100, 6)
                   AS ltv_per_user
        FROM cum JOIN sizes s USING (cohort_day)
    """

ORACLE_TRAINING["abc_classification"] = """
        WITH rev AS (
          SELECT l_partkey,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                     AS rev_c
          FROM lineitem GROUP BY l_partkey
        ), tot AS (
          SELECT CAST(sum(rev_c) AS BIGINT) AS total_c FROM rev
        ), cum AS (
          SELECT l_partkey, rev_c,
                 CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey ASC)
                      AS BIGINT) AS cum_c
          FROM rev
        )
        SELECT l_partkey, rev_c AS revenue_cents,
               CASE WHEN cum_c * 100 <= total_c * 80 THEN 'A'
                    WHEN cum_c * 100 <= total_c * 95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               round(cum_c / CAST(total_c AS DOUBLE), 6) AS cum_share
        FROM cum CROSS JOIN tot
    """


# ---------- frequent 3-itemsets ----------

from .operators.relational import TRIPLE_MIN_SUPPORT  # noqa: E402

ORACLE_TRAINING["frequent_triples"] = f"""
        WITH li AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               c.l_partkey AS part_c,
               CAST(count(*) AS BIGINT) AS support
        FROM li a
        JOIN li b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
        JOIN li c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey, c.l_partkey
        HAVING count(*) >= {TRIPLE_MIN_SUPPORT}
    """


# ---------- quantile transform + KWIC concordance ----------

from .operators.textops import KWIC_TERM, KWIC_WINDOW  # noqa: E402

ORACLE_TRAINING["quantile_transform"] = """
        WITH ev AS (
          SELECT event_id, event_type,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        )
        SELECT event_id, event_type, cents,
               CASE WHEN count(*) OVER (PARTITION BY event_type) = 1 THEN 0.0
                    ELSE
               round((rank() OVER (PARTITION BY event_type ORDER BY cents) - 1)
                     / CAST(count(*) OVER (PARTITION BY event_type) - 1
                            AS DOUBLE), 6) END AS pct_rank
        FROM ev
    """

ORACLE_TRAINING["kwic_concordance"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), ex AS (
          SELECT doc_id, t, unnest(t) AS tok,
                 unnest(range(0, len(t))) AS pos
          FROM toks
        )
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               coalesce(array_to_string(t[greatest(pos + 1 - {KWIC_WINDOW}, 1)
                                 : greatest(pos + 1 - {KWIC_WINDOW}, 1)
                                   + least(pos, {KWIC_WINDOW}) - 1], ' '), '')
                   AS left_ctx,
               coalesce(array_to_string(t[pos + 2 : pos + 1 + {KWIC_WINDOW}],
                                        ' '), '')
                   AS right_ctx
        FROM ex WHERE tok = '{KWIC_TERM}'
    """


# ---------- deterministic Poisson-bootstrap CI ----------

from .operators.rangeops import BOOT_B, _POIS_T  # noqa: E402

_BOOT_W = "CASE " + " ".join(
    f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS_T)
) + " ELSE 6 END"

ORACLE_TRAINING["bootstrap_ci"] = f"""
        WITH ev AS (
          SELECT event_id, event_type,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'
        ), reps AS (
          SELECT e.event_type, e.event_id, e.cents, b.b,
                 ('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || '|'
                                     || CAST(b.b AS VARCHAR)), 1, 4))::BIGINT AS u
          FROM ev e CROSS JOIN (SELECT unnest(range({BOOT_B})) AS b) b
        ), wm AS (
          SELECT event_type, b,
                 CAST(floor(sum(({_BOOT_W}) * cents) * 1000000.0
                            / sum({_BOOT_W})) AS BIGINT) AS m_micro
          FROM reps GROUP BY event_type, b
          HAVING sum({_BOOT_W}) > 0
        ), ranked AS (
          SELECT event_type, b, m_micro,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY m_micro, b) AS rk
          FROM wm
        ), pt AS (
          SELECT event_type,
                 CAST(floor(sum(cents) * 1000000.0 / count(*)) AS BIGINT)
                     AS pt_micro
          FROM ev GROUP BY event_type
        )
        SELECT p.event_type,
               CAST(round(p.pt_micro / 100.0) AS BIGINT) / 1e6 AS mean_value,
               CAST(round(l.m_micro / 100.0) AS BIGINT) / 1e6 AS ci_lo,
               CAST(round(h.m_micro / 100.0) AS BIGINT) / 1e6 AS ci_hi
        FROM pt p
        JOIN (SELECT event_type, m_micro FROM ranked WHERE rk = 2) l
          USING (event_type)
        JOIN (SELECT event_type, m_micro FROM ranked WHERE rk = {BOOT_B - 1}) h
          USING (event_type)
    """


ORACLE_TRAINING["gini_by_type"] = """
        WITH pu AS (
          SELECT event_type, user_id,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY event_type, user_id
        ), ranked AS (
          SELECT event_type, x,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY x, user_id) AS BIGINT) AS i
          FROM pu
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_users,
               CASE WHEN sum(x) = 0 THEN NULL ELSE
                 round(2.0 * sum(i * x) / (count(*) * CAST(sum(x) AS DOUBLE))
                     - (count(*) + 1) / CAST(count(*) AS DOUBLE), 6) END AS gini
        FROM ranked GROUP BY event_type
    """


ORACLE_TRAINING["user_behavior_entropy"] = """
        WITH counts AS (
          SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY user_id, event_type
        ), tot AS (
          SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM counts
          GROUP BY user_id
        ), terms AS (
          SELECT c.user_id, t.n,
                 CAST(round(-(c.c / CAST(t.n AS DOUBLE))
                            * log2(c.c / CAST(t.n AS DOUBLE)) * 1000000)
                      AS BIGINT) AS tm
          FROM counts c JOIN tot t USING (user_id)
        )
        SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
               round(sum(tm) / 1e6, 6) AS entropy_bits
        FROM terms GROUP BY user_id
    """


ORACLE_TRAINING["simpson_reversal_audit"] = """
        WITH ev AS (
          SELECT event_type, user_id, epoch_us(ts) AS us,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ), span AS (
          SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev
        ), pu AS (
          SELECT event_type, user_id,
                 CAST(sum(CASE WHEN us < s.mid THEN cents ELSE 0 END) AS BIGINT) AS ac,
                 CAST(sum(CASE WHEN us < s.mid THEN 1 ELSE 0 END) AS BIGINT) AS an,
                 CAST(sum(CASE WHEN us >= s.mid THEN cents ELSE 0 END) AS BIGINT) AS bc,
                 CAST(sum(CASE WHEN us >= s.mid THEN 1 ELSE 0 END) AS BIGINT) AS bn
          FROM ev CROSS JOIN span s
          GROUP BY event_type, user_id
        ), votes AS (
          SELECT event_type,
                 CAST(sum(CASE WHEN bc * an > ac * bn THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_up,
                 CAST(sum(CASE WHEN bc * an < ac * bn THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_down
          FROM pu WHERE an > 0 AND bn > 0 GROUP BY event_type
        ), overall AS (
          SELECT event_type,
                 CASE WHEN sum(bc) * sum(an) > sum(ac) * sum(bn) THEN 1
                      WHEN sum(bc) * sum(an) < sum(ac) * sum(bn) THEN -1
                      ELSE 0 END AS agg_sign,
                 CAST(floor(sum(bc) * 1000000.0 / sum(bn))
                      - floor(sum(ac) * 1000000.0 / sum(an)) AS BIGINT)
                     AS delta_micro
          FROM pu GROUP BY event_type
        )
        SELECT o.event_type, o.agg_sign,
               round(o.delta_micro / 1e6 / 100, 6) AS mean_delta,
               v.n_up AS n_users_up, v.n_down AS n_users_down,
               (o.agg_sign = 1 AND v.n_down > v.n_up)
               OR (o.agg_sign = -1 AND v.n_up > v.n_down) AS simpson_reversal
        FROM overall o JOIN votes v USING (event_type)
    """


from .operators.rangeops import LORENZ_BINS  # noqa: E402

ORACLE_TRAINING["lorenz_points"] = f"""
        WITH pu AS (
          SELECT event_type, user_id,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY event_type, user_id
        ), ranked AS (
          SELECT event_type, x,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY x, user_id) AS BIGINT) AS i,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM pu
        ), binned AS (
          SELECT event_type,
                 CAST((i * {LORENZ_BINS} + n - 1) // n AS INT) AS decile,
                 CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(x) AS BIGINT) AS spend
          FROM ranked GROUP BY event_type, (i * {LORENZ_BINS} + n - 1) // n
        ), tot AS (
          SELECT event_type, CAST(sum(n_users) AS BIGINT) AS tu,
                 CAST(sum(spend) AS BIGINT) AS ts
          FROM binned GROUP BY event_type
        ), cum AS (
          SELECT event_type, decile,
                 CAST(sum(n_users) OVER (PARTITION BY event_type
                                         ORDER BY decile) AS BIGINT) AS cu,
                 CAST(sum(spend) OVER (PARTITION BY event_type
                                       ORDER BY decile) AS BIGINT) AS cs
          FROM binned
        )
        SELECT c.event_type, c.decile,
               round(c.cu / CAST(t.tu AS DOUBLE), 6) AS cum_user_share,
               CASE WHEN t.ts = 0 THEN NULL ELSE
                 round(c.cs / CAST(t.ts AS DOUBLE), 6) END AS cum_spend_share
        FROM cum c JOIN tot t USING (event_type)
    """


# ---------- curated-corpus capstone manifest ----------

ORACLE_TRAINING["curated_corpus_manifest"] = f"""
        WITH kept AS ({ORACLE_TRAINING["corpus_retention"]}),
        chosen AS (
          SELECT doc_id,
                 CAST(round(log_weight * 1000000) AS BIGINT) AS lw
          FROM ({ORACLE_TRAINING["dsir_resample"]})
        ), st AS (
          SELECT doc_id, n_tokens,
                 CAST(round(quality_score * 10000) AS BIGINT) AS q
          FROM ({ORACLE_TRAINING["text_stats"]})
        )
        SELECT k.split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(st.n_tokens) AS BIGINT) AS total_tokens,
               round(CAST(floor(sum(st.q) / CAST(count(*) AS DOUBLE)) AS BIGINT)
                     / 1e4, 6) AS mean_quality,
               round(CAST(floor(sum(ch.lw) / CAST(count(*) AS DOUBLE)) AS BIGINT)
                     / 1e6, 6) AS mean_log_weight
        FROM kept k
        JOIN chosen ch ON ch.doc_id = k.doc_id
        JOIN st ON st.doc_id = k.doc_id
        GROUP BY k.split
    """


# ---------- Kaplan-Meier retention survival ----------

ORACLE_TRAINING["retention_survival"] = """
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS day FROM events
        ), ce AS (
          SELECT max(day) AS end_day FROM ev
        ), lt AS (
          SELECT CAST(date_diff('day', min(day), max(day)) AS BIGINT) AS day_offset,
                 max(day) < (SELECT end_day FROM ce) AS churned
          FROM ev GROUP BY user_id
        ), po AS (
          SELECT day_offset, CAST(count(*) AS BIGINT) AS n_ending,
                 CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM lt GROUP BY day_offset
        ), tot AS (
          SELECT CAST(sum(n_ending) AS BIGINT) AS n_total FROM po
        ), risk AS (
          SELECT day_offset, n_ending, d,
                 CAST(t.n_total - coalesce(sum(n_ending) OVER (
                     ORDER BY day_offset ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
          FROM po CROSS JOIN tot t
        ), terms AS (
          SELECT day_offset, n_at_risk, d,
                 CASE WHEN d = 0 OR d = n_at_risk THEN 0
                      ELSE CAST(round(ln((n_at_risk - d)
                                         / CAST(n_at_risk AS DOUBLE))
                                      * 1000000) AS BIGINT) END AS lnt
          FROM risk
        )
        SELECT day_offset, n_at_risk, d,
               CASE WHEN max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
                          OVER (ORDER BY day_offset) = 1
                    THEN CAST(0 AS DOUBLE)
                    ELSE round(exp(sum(lnt) OVER (ORDER BY day_offset)
                                   / 1e6), 6) END AS survival
        FROM terms
    """


# ---------- dedup threshold sweep ----------

from .operators.dedup import DEDUP_SWEEP_THRESHOLDS  # noqa: E402

_SWEEP_LIST = ", ".join(str(t) for t in DEDUP_SWEEP_THRESHOLDS)

ORACLE_TRAINING["dedup_threshold_sweep"] = _SIG_CTE + _CAND_CTE + f"""
        , shset AS (
          SELECT doc_id, list_distinct({_SHINGLES}) AS sh
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks2
        ), sizes AS (
          SELECT doc_id, len(sh) AS n_sh FROM shset
        ), shex AS (
          SELECT doc_id, unnest(sh) AS shingle FROM shset
        ), inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM cand c
          JOIN shex a ON a.doc_id = c.doc_a
          JOIN shex b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        ), scored AS (
          SELECT i.doc_a, i.doc_b,
                 round(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 4)
                     AS jaccard
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
        ), hits AS (
          SELECT s.doc_a, s.doc_b, t.threshold
          FROM scored s
          CROSS JOIN (SELECT unnest([{_SWEEP_LIST}]) AS threshold) t
          WHERE s.jaccard >= t.threshold
        ), np AS (
          SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
          FROM hits GROUP BY threshold
        ), nd AS (
          SELECT threshold, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_implicated
          FROM (SELECT threshold, doc_a AS d FROM hits
                UNION ALL SELECT threshold, doc_b FROM hits)
          GROUP BY threshold
        )
        SELECT round(np.threshold, 1) AS threshold, np.n_pairs,
               nd.n_docs_implicated
        FROM np JOIN nd USING (threshold)
    """


# ---------------------------------------------------------------- round 5

from .operators import textops as T  # noqa: E402

ORACLE_TRAINING["minhash_containment"] = _SIG_CTE + _CAND_CTE + """
        , shset AS (
          SELECT doc_id, list_distinct(__SH__) AS sh
          FROM (SELECT doc_id, __T__ AS t FROM documents) toks
        ), sizes AS (
          SELECT doc_id, len(sh) AS n_sh FROM shset
        ), ex AS (
          SELECT doc_id, unnest(sh) AS shingle FROM shset
        ), inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM cand c
          JOIN ex a ON a.doc_id = c.doc_a
          JOIN ex b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        )
        SELECT i.doc_a, i.doc_b,
               round(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 4)
                   AS jaccard,
               round(i.n_inter / CAST(sa.n_sh AS DOUBLE), 4) AS containment_a_in_b,
               round(i.n_inter / CAST(sb.n_sh AS DOUBLE), 4) AS containment_b_in_a,
               CASE WHEN sa.n_sh <= sb.n_sh THEN i.doc_a ELSE i.doc_b END
                   AS contained_doc
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    """.replace("__SH__", _SHINGLES).replace("__T__", _TOKS)

ORACLE_TRAINING["zipf_fit"] = f"""
        WITH tc AS (
          SELECT source, token, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT source, unnest({_TOKS}) AS token FROM documents)
          GROUP BY source, token
        ), ranked AS (
          SELECT source,
                 CAST(round(ln(row_number() OVER (
                     PARTITION BY source ORDER BY freq DESC, token ASC
                 )) * 1000000) AS BIGINT) AS x,
                 CAST(round(ln(freq) * 1000000) AS BIGINT) AS y,
                 row_number() OVER (
                     PARTITION BY source ORDER BY freq DESC, token ASC
                 ) AS rank
          FROM tc
        ), sums AS (
          SELECT source, CAST(count(*) AS BIGINT) AS r,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM ranked WHERE rank <= {T.ZIPF_TOP_RANKS} GROUP BY source
        )
        SELECT source, r AS n_ranks,
               CASE WHEN r * sxx - sx * sx = 0 THEN NULL ELSE
                 round((r * sxy - sx * sy) / CAST(r * sxx - sx * sx AS DOUBLE), 6)
                 END AS zipf_slope
        FROM sums
    """

ORACLE_TRAINING["heaps_fit"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS token FROM documents
        ), per_doc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
          FROM toks GROUP BY doc_id
        ), first_new AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
          FROM (SELECT token, min(doc_id) AS doc_id FROM toks GROUP BY token)
          GROUP BY doc_id
        ), curve AS (
          SELECT p.doc_id, p.n_toks, coalesce(f.n_new, 0) AS n_new,
                 CAST(sum(p.n_toks) OVER (ORDER BY p.doc_id) AS BIGINT)
                     AS cum_tokens,
                 CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY p.doc_id)
                     AS BIGINT) AS cum_types,
                 row_number() OVER (ORDER BY p.doc_id) AS pos
          FROM per_doc p LEFT JOIN first_new f USING (doc_id)
        ), pts AS (
          SELECT CAST(round(ln(cum_tokens) * 1000000) AS BIGINT) AS x,
                 CAST(round(ln(cum_types) * 1000000) AS BIGINT) AS y
          FROM curve, (SELECT count(*) AS nd FROM per_doc) n
          WHERE pos % greatest(1, nd // {T.HEAPS_POINTS}) = 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               round((count(*) * CAST(sum(x * y) AS BIGINT)
                      - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT))
                     / CAST(count(*) * CAST(sum(x * x) AS BIGINT)
                            - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT)
                       AS DOUBLE), 6) AS heaps_beta,
               CAST(max(x) AS BIGINT) AS ln_tokens_max_micro,
               CAST(max(y) AS BIGINT) AS ln_types_max_micro
        FROM pts
    """

_QLM_LIST = ", ".join(f"'{t}'" for t in T.QLM_QUERY)
ORACLE_TRAINING["dirichlet_qlm_topk"] = f"""
        WITH d AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), cf AS (
          SELECT term, CAST(count(*) AS BIGINT) AS cf
          FROM (SELECT unnest(t) AS term FROM d)
          WHERE term IN ({_QLM_LIST}) GROUP BY term
        ), total AS (
          SELECT CAST(sum(len(t)) AS BIGINT) AS c_total FROM d
        ), per_term AS (
          SELECT d.doc_id,
                 CAST(round(ln((CAST(len(list_filter(d.t, x -> x = cf.term))
                                     AS BIGINT) * t.c_total
                                + {T.QLM_MU} * cf.cf)
                               / CAST(t.c_total * (len(d.t) + {T.QLM_MU})
                                 AS DOUBLE)) * 1000000) AS BIGINT) AS s_micro
          FROM d, cf, total t
        ), scored AS (
          SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS sm
          FROM per_term GROUP BY doc_id
          ORDER BY sm DESC, doc_id ASC LIMIT {T.QLM_TOP_K}
        )
        SELECT doc_id, round(sm / 1e6, 6) AS qlm_score,
               CAST(row_number() OVER (ORDER BY sm DESC, doc_id ASC) AS INT)
                   AS rank
        FROM scored
    """

from .operators.rangeops import CALIB_BINS  # noqa: E402
from .operators.sketch import KMV_K  # noqa: E402
from .operators.temporal import CDC_OPS, WATERMARK_DELAY_US  # noqa: E402

ORACLE_TRAINING["auc_roc"] = """
        WITH s AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
          FROM orders
        ), grp AS (
          SELECT cents, CAST(count(*) AS BIGINT) AS t,
                 CAST(sum(pos) AS BIGINT) AS p
          FROM s GROUP BY cents
        ), ranked AS (
          SELECT p, t,
                 CAST(sum(t) OVER (ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM grp
        )
        SELECT CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(t) - sum(p) AS BIGINT) AS n_neg,
               round((CAST(sum(p * (2 * cum - t + 1)) AS BIGINT)
                      - CAST(sum(p) AS BIGINT) * (CAST(sum(p) AS BIGINT) + 1))
                     / CAST(2 * CAST(sum(p) AS BIGINT)
                            * (CAST(sum(t) AS BIGINT) - CAST(sum(p) AS BIGINT))
                       AS DOUBLE), 6) AS auc
        FROM ranked
    """

ORACLE_TRAINING["calibration_bins"] = f"""
        WITH s AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
          FROM orders
        ), ranked AS (
          SELECT pos, CAST(rank() OVER (ORDER BY cents) AS BIGINT) AS rk,
                 CAST(count(*) OVER () AS BIGINT) AS n
          FROM s
        ), binned AS (
          SELECT least({CALIB_BINS - 1}, ({CALIB_BINS} * (rk - 1)) // (n - 1))
                     AS bin,
                 pos, rk, n
          FROM ranked
        )
        SELECT CAST(bin AS INT) AS bin,
               CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(pos) AS BIGINT) AS pos_b,
               round(CAST(sum(rk - 1) AS BIGINT)
                     / CAST((max(n) - 1) * count(*) AS DOUBLE), 6) AS confidence,
               round(sum(pos) / CAST(count(*) AS DOUBLE), 6) AS accuracy,
               round(abs(CAST(sum(pos) AS BIGINT) * (max(n) - 1)
                         - CAST(sum(rk - 1) AS BIGINT))
                     / CAST((max(n) - 1) * count(*) AS DOUBLE), 6) AS abs_gap
        FROM binned GROUP BY bin
    """

ORACLE_TRAINING["mutual_information"] = """
        WITH cells AS (
          SELECT c_nationkey AS x, c_mktsegment AS y,
                 CAST(count(*) AS BIGINT) AS cxy
          FROM customer GROUP BY x, y
        ), mx AS (
          SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM cells GROUP BY x
        ), my AS (
          SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM cells GROUP BY y
        ), tot AS (
          SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells
        ), mi AS (
          SELECT CAST(sum(c.cxy * CAST(round(ln(c.cxy * t.n
                     / CAST(mx.cx * my.cy AS DOUBLE)) * 1000000) AS BIGINT))
                   AS BIGINT) AS mi_sum,
                 CAST(count(*) AS BIGINT) AS n_cells
          FROM cells c
          JOIN mx ON mx.x = c.x
          JOIN my ON my.y = c.y
          CROSS JOIN tot t
        ), hx AS (
          SELECT CAST(sum(cx * CAST(round(ln(t.n / CAST(cx AS DOUBLE))
                     * 1000000) AS BIGINT)) AS BIGINT) AS hx_sum
          FROM mx CROSS JOIN tot t
        ), hy AS (
          SELECT CAST(sum(cy * CAST(round(ln(t.n / CAST(cy AS DOUBLE))
                     * 1000000) AS BIGINT)) AS BIGINT) AS hy_sum
          FROM my CROSS JOIN tot t
        )
        SELECT mi.n_cells,
               round(mi.mi_sum / (t.n * 1e6), 6) AS mi_nats,
               round(hx.hx_sum / (t.n * 1e6), 6) AS h_nation,
               round(hy.hy_sum / (t.n * 1e6), 6) AS h_segment,
               CASE WHEN least(hx.hx_sum, hy.hy_sum) = 0 THEN NULL ELSE
               round(mi.mi_sum / CAST(least(hx.hx_sum, hy.hy_sum) AS DOUBLE), 6)
                   END AS nmi
        FROM mi, hx, hy, tot t WHERE t.n > 0
    """

ORACLE_TRAINING["cdc_apply"] = f"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us, event_id,
                 {CDC_OPS} AS op,
                 CAST(floor(value * 100) AS BIGINT) AS cents,
                 lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                     || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
          FROM events WHERE event_type <> 'view'
        ), snap AS (
          SELECT user_id,
                 arg_max(op, ord_key) AS final_op,
                 arg_max(cents, ord_key) AS last_value_cents,
                 CAST(count(*) AS BIGINT) AS n_changes,
                 CAST(max(us) AS BIGINT) AS last_us
          FROM ev GROUP BY user_id
        )
        SELECT user_id, final_op, last_value_cents, n_changes, last_us
        FROM snap WHERE final_op <> 'D'
    """

ORACLE_TRAINING["watermark_late_audit"] = f"""
        WITH ev AS (
          SELECT event_id, event_type, epoch_us(ts) AS us FROM events
        ), flagged AS (
          SELECT event_type,
                 CASE WHEN max(us) OVER (ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          IS NOT NULL
                       AND us < max(us) OVER (ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          - {WATERMARK_DELAY_US}
                      THEN 1 ELSE 0 END AS is_late
          FROM ev
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(is_late) AS BIGINT) AS n_late,
               round(sum(is_late) / CAST(count(*) AS DOUBLE), 6) AS late_frac
        FROM flagged GROUP BY event_type
    """

ORACLE_TRAINING["incremental_agg_merge"] = """
        WITH li AS (
          SELECT l_returnflag, l_orderkey % 2 AS slice,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem
        ), partial AS (
          SELECT l_returnflag, slice,
                 CAST(sum(cents) AS BIGINT) AS p_sum,
                 CAST(count(*) AS BIGINT) AS p_cnt,
                 CAST(min(cents) AS BIGINT) AS p_min,
                 CAST(max(cents) AS BIGINT) AS p_max
          FROM li GROUP BY l_returnflag, slice
        ), merged AS (
          SELECT l_returnflag,
                 CAST(sum(p_sum) AS BIGINT) AS m_sum,
                 CAST(sum(p_cnt) AS BIGINT) AS m_cnt,
                 CAST(min(p_min) AS BIGINT) AS m_min,
                 CAST(max(p_max) AS BIGINT) AS m_max,
                 CAST(count(*) AS BIGINT) AS n_slices
          FROM partial GROUP BY l_returnflag
        ), direct AS (
          SELECT l_returnflag,
                 CAST(sum(cents) AS BIGINT) AS d_sum,
                 CAST(count(*) AS BIGINT) AS d_cnt,
                 CAST(min(cents) AS BIGINT) AS d_min,
                 CAST(max(cents) AS BIGINT) AS d_max
          FROM li GROUP BY l_returnflag
        )
        SELECT m.l_returnflag, m.n_slices, m.m_sum, m.m_cnt, m.m_min, m.m_max,
               (m.m_sum = d.d_sum AND m.m_cnt = d.d_cnt
                AND m.m_min = d.d_min AND m.m_max = d.d_max)
                   AS merge_matches_direct
        FROM merged m JOIN direct d USING (l_returnflag)
    """

ORACLE_TRAINING["mom_revenue_change"] = """
        WITH monthly AS (
          SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                     AS month,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS rev_cents
          FROM orders GROUP BY month
        ), lagged AS (
          SELECT month, rev_cents,
                 lag(rev_cents) OVER (ORDER BY month) AS prev_cents
          FROM monthly
        )
        SELECT month, rev_cents, prev_cents,
               round(CASE WHEN prev_cents IS NULL THEN NULL
                     ELSE ((rev_cents - prev_cents) * 100000000) // prev_cents
                     END / 1e6, 6) AS mom_pct
        FROM lagged
    """

ORACLE_TRAINING["kmv_distinct"] = f"""
        WITH hashed AS (
          SELECT DISTINCT event_type,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                     AS h
          FROM events
        ), topk AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
          FROM hashed
        ), per_type AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_in_sketch,
                 CAST(max(CASE WHEN rk = {KMV_K} THEN h END) AS BIGINT) AS h_k
          FROM topk WHERE rk <= {KMV_K} GROUP BY event_type
        ), exact AS (
          SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
          FROM events GROUP BY event_type
        )
        SELECT p.event_type, e.n_exact,
               CAST(CASE WHEN p.h_k IS NULL THEN p.n_in_sketch
                    ELSE (({KMV_K} - 1) * 4294967296) // p.h_k END AS BIGINT)
                   AS kmv_estimate,
               round(abs(CASE WHEN p.h_k IS NULL THEN p.n_in_sketch
                         ELSE (({KMV_K} - 1) * 4294967296) // p.h_k END
                         - e.n_exact) / CAST(e.n_exact AS DOUBLE), 6) AS rel_err
        FROM per_type p JOIN exact e USING (event_type)
    """

from .operators.dedup import ER_MATCH_MICRO  # noqa: E402
from .operators.similarity import KNN_K  # noqa: E402

ORACLE_TRAINING["part_er_blocking"] = f"""
        WITH p AS (
          SELECT p_partkey, string_split(p_name, ' ')[1] AS adj,
                 string_split(p_name, ' ')[2] AS noun,
                 p_type, CAST(p_size AS BIGINT) AS size
          FROM part
        ), pairs AS (
          SELECT x.p_partkey AS part_a, y.p_partkey AS part_b,
                 CASE WHEN x.adj = y.adj THEN 2 ELSE 1 END AS ni,
                 CASE WHEN x.adj = y.adj THEN 2 ELSE 3 END AS nu,
                 abs(x.size - y.size) AS ds
          FROM p x JOIN p y
            ON x.noun = y.noun AND x.p_type = y.p_type
           AND x.size // 10 = y.size // 10
           AND x.p_partkey < y.p_partkey
        ), scored AS (
          SELECT part_a, part_b, ni, nu,
                 (500000 * ni) // nu + 300000
                 + (200000 * greatest(0, 10 - ds)) // 10 AS score_micro
          FROM pairs
        )
        SELECT part_a, part_b,
               round(ni / CAST(nu AS DOUBLE), 6) AS name_jaccard,
               round(score_micro / 1e6, 6) AS match_score
        FROM scored WHERE score_micro >= {ER_MATCH_MICRO}
    """

ORACLE_TRAINING["mutual_knn_graph"] = f"""
        WITH e AS (
          SELECT vec_id, label, {_CAST64} AS v FROM embeddings
        ), n AS (
          SELECT vec_id, label, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
          FROM e
        ), scored AS (
          SELECT a.vec_id AS ia, a.label AS la, b.vec_id AS ib, b.label AS lb,
                 CASE WHEN a.nv * b.nv = 0 THEN NULL ELSE
                 CAST(round(list_sum(list_transform(range(1, {DIM + 1}),
                          i -> a.v[i] * b.v[i])) / (a.nv * b.nv) * 1000000)
                   AS BIGINT) END AS cos_micro
          FROM n a JOIN n b ON a.vec_id <> b.vec_id
        ), knn AS (
          SELECT *, row_number() OVER (PARTITION BY ia
                        ORDER BY cos_micro DESC, ib ASC) AS rk
          FROM scored
        ), k AS (
          SELECT * FROM knn WHERE rk <= {KNN_K}
        )
        SELECT k.ia AS vec_a, k.ib AS vec_b,
               round(k.cos_micro / 1e6, 6) AS cosine_sim,
               k.la = k.lb AS same_label
        FROM k JOIN k r ON r.ia = k.ib AND r.ib = k.ia
        WHERE k.ia < k.ib
    """

# the LSH-sourced twin: identical rank/mutual pipeline, pair source is the
# bucket equi-join (mirrors similarity.mutual_knn_graph_lsh exactly)
ORACLE_TRAINING["mutual_knn_graph_lsh"] = f"""
        WITH e AS (
          SELECT vec_id, label, {_CAST64} AS v, {_bucket(_CAST64)} AS bucket
          FROM embeddings
        ), n AS (
          SELECT vec_id, label, v, bucket,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
          FROM e
        ), scored AS (
          SELECT a.vec_id AS ia, a.label AS la, b.vec_id AS ib, b.label AS lb,
                 CASE WHEN a.nv * b.nv = 0 THEN NULL ELSE
                 CAST(round(list_sum(list_transform(range(1, {DIM + 1}),
                          i -> a.v[i] * b.v[i])) / (a.nv * b.nv) * 1000000)
                   AS BIGINT) END AS cos_micro
          FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        ), knn AS (
          SELECT *, row_number() OVER (PARTITION BY ia
                        ORDER BY cos_micro DESC, ib ASC) AS rk
          FROM scored
        ), k AS (
          SELECT * FROM knn WHERE rk <= {KNN_K}
        )
        SELECT k.ia AS vec_a, k.ib AS vec_b,
               round(k.cos_micro / 1e6, 6) AS cosine_sim,
               k.la = k.lb AS same_label
        FROM k JOIN k r ON r.ia = k.ib AND r.ib = k.ia
        WHERE k.ia < k.ib
    """

from .operators.similarity import BATCH_K as _BK  # noqa: E402
from .operators.similarity import IVF_SWEEP_PROBES, NUM_QUERIES  # noqa: E402

_IVF_SWEEP_LIST = "[" + ", ".join(str(p) for p in IVF_SWEEP_PROBES) + "]"

ORACLE_TRAINING["ivf_recall_sweep"] = f"""
        WITH e AS (
          SELECT vec_id, {_CAST64} AS v FROM embeddings
        ), seeds AS (
          SELECT vec_id AS centroid_id, v AS cv FROM e
          WHERE vec_id < {NUM_CENTROIDS}
        ), scored AS (
          SELECT e.vec_id, e.v, s.centroid_id,
                 list_sum(list_transform(range(1, {DIM + 1}),
                                         i -> e.v[i] * s.cv[i])) AS dot
          FROM e, seeds s
        ), corpus AS (
          SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nv,
                 centroid_id
          FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY dot DESC, centroid_id ASC) AS rnk
            FROM scored
          ) WHERE rnk = 1
        ), q AS (
          SELECT vec_id AS q_id, v AS va,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS na
          FROM e WHERE vec_id < {NUM_QUERIES}
        ), qc AS (
          SELECT q_id, va, na, centroid_id, rc FROM (
            SELECT q.q_id, q.va, q.na, s.centroid_id,
                   row_number() OVER (PARTITION BY q.q_id ORDER BY
                     list_sum(list_transform(range(1, {DIM + 1}),
                                             i -> q.va[i] * s.cv[i])) DESC,
                     s.centroid_id ASC) AS rc
            FROM q, seeds s
          ) WHERE rc <= {max(IVF_SWEEP_PROBES)}
        ), scored_ex AS (
          SELECT q.q_id, c.vec_id,
                 round(list_sum(list_transform(range(1, {DIM + 1}),
                       i -> c.v[i] * q.va[i])) / (c.nv * q.na), 6) AS cs
          FROM corpus c, q
        ), exact AS (
          SELECT q_id, vec_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                          ORDER BY cs DESC, vec_id ASC) AS r
            FROM scored_ex
          ) WHERE r <= {_BK}
        ), cand AS (
          SELECT qc.q_id, c.vec_id,
                 round(list_sum(list_transform(range(1, {DIM + 1}),
                       i -> c.v[i] * qc.va[i])) / (c.nv * qc.na), 6) AS cs,
                 qc.rc
          FROM corpus c JOIN qc ON c.centroid_id = qc.centroid_id
        ), swept AS (
          SELECT q_id, vec_id, cs,
                 unnest(list_filter({_IVF_SWEEP_LIST}, p -> p >= rc)) AS nprobe
          FROM cand
        ), topk AS (
          SELECT q_id, nprobe, vec_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id, nprobe
                          ORDER BY cs DESC, vec_id ASC) AS r
            FROM swept
          ) WHERE r <= {_BK}
        ), hits AS (
          SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
          FROM topk t JOIN exact x ON t.q_id = x.q_id AND t.vec_id = x.vec_id
          GROUP BY nprobe
        ), ncand AS (
          SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates
          FROM swept GROUP BY nprobe
        )
        SELECT CAST(nc.nprobe AS BIGINT) AS nprobe,
               CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
               n_candidates,
               round(coalesce(n_hits, 0)
                     / {float(NUM_QUERIES * _BK)}, 6) AS mean_recall,
               round(n_candidates / {float(NUM_QUERIES)}, 6) AS avg_candidates
        FROM ncand nc LEFT JOIN hits h ON nc.nprobe = h.nprobe
    """

# hubness audit over the SAME LSH-bucketed kNN lists (mirrors
# similarity.knn_hubness_audit: in-degree distribution + explicit antihub row)
ORACLE_TRAINING["knn_hubness_audit"] = f"""
        WITH e AS (
          SELECT vec_id, label, {_CAST64} AS v, {_bucket(_CAST64)} AS bucket
          FROM embeddings
        ), n AS (
          SELECT vec_id, v, bucket,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
          FROM e
        ), scored AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib,
                 CASE WHEN a.nv * b.nv = 0 THEN NULL ELSE
                 CAST(round(list_sum(list_transform(range(1, {DIM + 1}),
                          i -> a.v[i] * b.v[i])) / (a.nv * b.nv) * 1000000)
                   AS BIGINT) END AS cos_micro
          FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        ), knn AS (
          SELECT *, row_number() OVER (PARTITION BY ia
                        ORDER BY cos_micro DESC, ib ASC) AS rk
          FROM scored
        ), k AS (
          SELECT * FROM knn WHERE rk <= {KNN_K}
        ), indeg AS (
          SELECT ib, CAST(count(*) AS BIGINT) AS in_degree FROM k GROUP BY ib
        ), dist AS (
          SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vectors
          FROM indeg GROUP BY in_degree
        ), zero AS (
          SELECT CAST(0 AS BIGINT) AS in_degree,
                 CAST((SELECT count(*) FROM embeddings)
                      - (SELECT count(*) FROM indeg) AS BIGINT) AS n_vectors
        )
        SELECT * FROM dist
        UNION ALL SELECT * FROM zero WHERE n_vectors > 0
    """

from .operators.rangeops import ROLL_MED_DAYS  # noqa: E402
from .operators.textops import NDCG_K  # noqa: E402

ORACLE_TRAINING["ndcg_at_k"] = f"""
        WITH graded AS (
          SELECT doc_id,
                 CAST(len(list_intersect(list_distinct({_TOKS}),
                      [{", ".join(f"'{t}'" for t in T.BM25_QUERY)}]))
                   AS BIGINT) AS grade
          FROM documents
        ), run AS (
          SELECT doc_id, rank FROM ({{BM25}})
        ), run_terms AS (
          SELECT CAST(round((power(2, g.grade) - 1)
                     / (ln(r.rank + 1) / ln(2)) * 1000000) AS BIGINT) AS term,
                 CASE WHEN g.grade >= 2 THEN r.rank END AS good_rank,
                 CASE WHEN g.grade >= 1 THEN 1 ELSE 0 END AS is_rel
          FROM run r JOIN graded g USING (doc_id)
        ), run_agg AS (
          SELECT CAST(sum(term) AS BIGINT) AS dcg_micro,
                 min(good_rank) AS first_good,
                 CAST(sum(is_rel) AS BIGINT) AS n_rel,
                 CAST(count(*) AS BIGINT) AS k
          FROM run_terms
        ), ideal AS (
          SELECT CAST(sum(CAST(round((power(2, grade) - 1)
                     / (ln(rank + 1) / ln(2)) * 1000000) AS BIGINT))
                   AS BIGINT) AS idcg_micro
          FROM (SELECT grade, row_number() OVER (
                    ORDER BY grade DESC, doc_id ASC) AS rank
                FROM graded ORDER BY grade DESC, doc_id ASC LIMIT {NDCG_K})
        )
        SELECT r.k,
               round(r.dcg_micro / CAST(i.idcg_micro AS DOUBLE), 6)
                   AS ndcg_at_{NDCG_K},
               round(CASE WHEN r.first_good IS NULL THEN 0.0
                     ELSE CAST(1.0 AS DOUBLE) / r.first_good END, 6) AS mrr,
               round(r.n_rel / CAST(r.k AS DOUBLE), 6) AS p_at_{NDCG_K}
        FROM run_agg r, ideal i
    """.replace("{BM25}", ORACLE_TRAINING["bm25_topk"])

ORACLE_TRAINING["langid_confusion"] = """
        WITH preds AS (
          SELECT actual_lang, predicted_lang FROM ({LANGID})
        ), tp AS (
          SELECT actual_lang AS lang, CAST(count(*) AS BIGINT) AS tp
          FROM preds WHERE actual_lang = predicted_lang GROUP BY actual_lang
        ), pred_n AS (
          SELECT predicted_lang AS lang, CAST(count(*) AS BIGINT) AS n_pred
          FROM preds GROUP BY predicted_lang
        ), act_n AS (
          SELECT actual_lang AS lang, CAST(count(*) AS BIGINT) AS n_actual
          FROM preds GROUP BY actual_lang
        )
        SELECT coalesce(a.lang, p.lang) AS lang,
               CAST(coalesce(t.tp, 0) AS BIGINT) AS tp,
               CAST(coalesce(p.n_pred, 0) AS BIGINT) AS n_pred,
               CAST(coalesce(a.n_actual, 0) AS BIGINT) AS n_actual,
               round(coalesce(t.tp, 0)
                     / CAST(nullif(p.n_pred, 0) AS DOUBLE), 6) AS precision,
               round(coalesce(t.tp, 0)
                     / CAST(nullif(a.n_actual, 0) AS DOUBLE), 6) AS recall,
               round(2 * coalesce(t.tp, 0)
                     / CAST(nullif(coalesce(p.n_pred, 0)
                                   + coalesce(a.n_actual, 0), 0) AS DOUBLE), 6)
                   AS f1
        FROM act_n a
        FULL JOIN pred_n p USING (lang)
        LEFT JOIN tp t ON t.lang = coalesce(a.lang, p.lang)
    """.replace("{LANGID}", ORACLE_TRAINING["lang_id"])

ORACLE_TRAINING["rolling_median_value"] = f"""
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                     AS day_cents
          FROM events GROUP BY event_type, day_idx
        )
        SELECT event_type, day_idx, day_cents,
               CAST(round(2 * quantile_cont(day_cents, 0.5) OVER (
                   PARTITION BY event_type ORDER BY day_idx
                   RANGE BETWEEN {ROLL_MED_DAYS - 1} PRECEDING AND CURRENT ROW))
                 AS BIGINT) / CAST(200.0 AS DOUBLE) AS rolling_median
        FROM daily
    """

from .operators.rangeops import (  # noqa: E402
    SPRT_A_MICRO,
    SPRT_B_MICRO,
    SPRT_P0,
    SPRT_P1,
)
from .operators.textops import KN_TOP_K, PRF_EXP_K  # noqa: E402

ORACLE_TRAINING["kn_bigram_lm"] = f"""
        WITH toks AS (
          SELECT {_TOKS} AS t FROM documents
        ), bi AS (
          SELECT bg, CAST(count(*) AS BIGINT) AS c,
                 string_split(bg, ' ')[1] AS wa,
                 string_split(bg, ' ')[2] AS wb
          FROM (SELECT unnest({_BIGRAMS}) AS bg FROM toks)
          GROUP BY bg
        ), prefix AS (
          SELECT wa, CAST(sum(c) AS BIGINT) AS cp,
                 CAST(count(*) AS BIGINT) AS ncont
          FROM bi GROUP BY wa
        ), lft AS (
          SELECT wb, CAST(count(*) AS BIGINT) AS nleft FROM bi GROUP BY wb
        ), btypes AS (
          SELECT CAST(count(*) AS BIGINT) AS b_types FROM bi
        )
        SELECT b.bg, b.c, p.cp AS prefix_count,
               p.ncont AS n_continuations, l.nleft AS n_left_contexts,
               round(((4 * b.c - 3) * t.b_types + 3 * p.ncont * l.nleft)
                     / CAST(4 * p.cp * t.b_types AS DOUBLE), 6) AS p_kn
        FROM bi b
        JOIN prefix p USING (wa)
        JOIN lft l USING (wb)
        CROSS JOIN btypes t
        ORDER BY b.c DESC, b.bg ASC LIMIT {KN_TOP_K}
    """

ORACLE_TRAINING["prf_expansion_terms"] = f"""
        WITH n_docs AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        ), fb AS (
          SELECT doc_id FROM ({{BM25}})
        ), fb_terms AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df_fb
          FROM (SELECT d.doc_id, unnest(list_distinct({_TOKS})) AS term
                FROM documents d JOIN fb USING (doc_id))
          WHERE term NOT IN ({", ".join(f"'{t}'" for t in T.BM25_QUERY)})
          GROUP BY term
        ), dfs AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM (SELECT doc_id, unnest(list_distinct({_TOKS})) AS term
                FROM documents)
          WHERE term IN (SELECT term FROM fb_terms)
          GROUP BY term
        )
        SELECT f.term, f.df_fb, d.df AS df_corpus,
               round(f.df_fb * CAST(round(ln((n.n + 1)
                     / CAST(d.df + 1 AS DOUBLE)) * 1000000) AS BIGINT)
                 / 1e6, 6) AS weight
        FROM fb_terms f JOIN dfs d USING (term) CROSS JOIN n_docs n
        ORDER BY f.df_fb * CAST(round(ln((n.n + 1)
                  / CAST(d.df + 1 AS DOUBLE)) * 1000000) AS BIGINT) DESC,
                 f.term ASC
        LIMIT {PRF_EXP_K}
    """.replace("{BM25}", ORACLE_TRAINING["bm25_topk"])

ORACLE_TRAINING["sprt_monitor"] = f"""
        WITH ev AS (
          SELECT user_id % 2 AS variant,
                 epoch_us(ts) // 86400000000 AS day_idx,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
          FROM events
        ), daily AS (
          SELECT variant, day_idx,
                 CAST(sum(is_p) AS BIGINT) AS n_succ,
                 CAST(count(*) - sum(is_p) AS BIGINT) AS n_fail
          FROM ev GROUP BY variant, day_idx
        ), cum AS (
          SELECT variant, day_idx, n_succ, n_fail,
                 CAST(sum(n_succ * CAST(round(ln({SPRT_P1[0]}
                        / CAST({SPRT_P0[0]} AS DOUBLE)) * 1000000) AS BIGINT)
                      + n_fail * CAST(round(ln(({SPRT_P1[1]} - {SPRT_P1[0]})
                        / CAST({SPRT_P0[1]} - {SPRT_P0[0]} AS DOUBLE))
                        * 1000000) AS BIGINT)) OVER (
                     PARTITION BY variant ORDER BY day_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_llr_micro
          FROM daily
        )
        SELECT variant, day_idx, n_succ, n_fail,
               round(cum_llr_micro / 1e6, 6) AS cum_llr,
               CASE WHEN cum_llr_micro >= {SPRT_A_MICRO}
                    THEN 'accept_h1'
                    WHEN cum_llr_micro <= {SPRT_B_MICRO}
                    THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM cum
    """

ORACLE_TRAINING["user_saturation_curve"] = """
        WITH ev AS (
          SELECT event_type, user_id,
                 epoch_us(ts) // 86400000000 AS day_idx
          FROM events
        ), active AS (
          SELECT event_type, day_idx,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
          FROM ev GROUP BY event_type, day_idx
        ), news AS (
          SELECT event_type, day_idx, CAST(count(*) AS BIGINT) AS n_new
          FROM (SELECT event_type, user_id, min(day_idx) AS day_idx
                FROM ev GROUP BY event_type, user_id)
          GROUP BY event_type, day_idx
        )
        SELECT a.event_type, a.day_idx, a.n_active,
               CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
               CAST(sum(coalesce(n.n_new, 0)) OVER (
                   PARTITION BY a.event_type ORDER BY a.day_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_users
        FROM active a LEFT JOIN news n USING (event_type, day_idx)
    """

from .operators.temporal import ATTR_TOUCH_TYPES, ATTR_TOUCH_WINDOW_US  # noqa: E402

ORACLE_TRAINING["price_elasticity"] = """
        WITH d AS (
          SELECT p.p_type,
                 CAST(round(ln(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     / (100.0 * CAST(l.l_quantity AS BIGINT))) * 1000000)
                   AS BIGINT) AS x,
                 CAST(round(ln(CAST(l.l_quantity AS BIGINT)) * 1000000)
                   AS BIGINT) AS y
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_quantity > 0 AND round(l.l_extendedprice * 100) > 0
        ), agg AS (
          SELECT p_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx
          FROM d GROUP BY p_type
        )
        SELECT p_type, n,
               round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
                   AS elasticity
        FROM agg
    """

ORACLE_TRAINING["classical_decompose"] = """
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents
          FROM events GROUP BY event_type, day_idx
        ), trended AS (
          SELECT event_type, day_idx, cents,
                 CASE WHEN count(*) OVER w = 7
                      THEN CAST(sum(cents) OVER w AS BIGINT) END AS s7
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), seas AS (
          SELECT event_type, (day_idx + 4) % 7 AS weekday,
                 (CAST(sum(7 * cents - s7) AS BIGINT) * 1000000)
                     // (7 * count(*)) AS seasonal_micro
          FROM trended WHERE s7 IS NOT NULL
          GROUP BY event_type, weekday
        )
        SELECT t.event_type, t.day_idx, t.cents,
               round((t.s7 * 1000000 // 7) / 1e6, 6) AS trend,
               round(s.seasonal_micro / 1e6, 6) AS seasonal,
               round(CASE WHEN t.s7 IS NULL THEN NULL
                     ELSE (t.cents * 1000000 - t.s7 * 1000000 // 7
                           - s.seasonal_micro) / 1e6 END, 6) AS residual
        FROM trended t
        LEFT JOIN seas s ON s.event_type = t.event_type
                        AND s.weekday = (t.day_idx + 4) % 7
    """

ORACLE_TRAINING["attribution_models"] = f"""
        WITH touches AS (
          SELECT user_id, event_type AS channel, epoch_us(ts) AS tus,
                 event_id AS touch_id
          FROM events
          WHERE event_type IN ({", ".join(f"'{t}'" for t in ATTR_TOUCH_TYPES)})
        ), purchases AS (
          SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
          FROM events WHERE event_type = 'purchase'
        ), joined AS (
          SELECT p.purchase_id, t.channel, t.tus, t.touch_id,
                 lpad(CAST(t.tus AS VARCHAR), 20, '0')
                     || lpad(CAST(t.touch_id AS VARCHAR), 12, '0') AS ord_key
          FROM purchases p
          JOIN touches t ON t.user_id = p.user_id
           AND t.tus <= p.pus AND t.tus > p.pus - {ATTR_TOUCH_WINDOW_US}
        ), per_purchase AS (
          SELECT purchase_id,
                 arg_min(channel, ord_key) AS first_ch,
                 arg_max(channel, ord_key) AS last_ch,
                 CAST(count(*) AS BIGINT) AS n_touches
          FROM joined GROUP BY purchase_id
        ), linear AS (
          SELECT j.channel,
                 CAST(sum(1000000 // pp.n_touches) AS BIGINT) AS linear_micro,
                 CAST(count(*) AS BIGINT) AS n_touchpoints
          FROM joined j JOIN per_purchase pp USING (purchase_id)
          GROUP BY j.channel
        ), firsts AS (
          SELECT first_ch AS channel,
                 CAST(count(*) AS BIGINT) AS first_touch_conversions
          FROM per_purchase GROUP BY first_ch
        ), lasts AS (
          SELECT last_ch AS channel,
                 CAST(count(*) AS BIGINT) AS last_touch_conversions
          FROM per_purchase GROUP BY last_ch
        )
        SELECT coalesce(l.channel, f.channel, la.channel) AS channel,
               CAST(coalesce(l.n_touchpoints, 0) AS BIGINT) AS n_touchpoints,
               CAST(coalesce(f.first_touch_conversions, 0) AS BIGINT)
                   AS first_touch_conversions,
               CAST(coalesce(la.last_touch_conversions, 0) AS BIGINT)
                   AS last_touch_conversions,
               round(coalesce(l.linear_micro, 0) / 1e6, 6)
                   AS linear_conversions
        FROM linear l
        FULL JOIN firsts f USING (channel)
        FULL JOIN lasts la USING (channel)
    """

from .operators.pipeline import NEYMAN_BUDGET  # noqa: E402
from .operators.relational import SKEW_KEY_COLS  # noqa: E402

ORACLE_TRAINING["nelson_aalen_hazard"] = """
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS day FROM events
        ), ce AS (
          SELECT max(day) AS end_day FROM ev
        ), lt AS (
          SELECT CAST(date_diff('day', min(e.day), max(e.day)) AS BIGINT)
                     AS day_offset,
                 max(e.day) < c.end_day AS churned
          FROM ev e CROSS JOIN ce c
          GROUP BY e.user_id, c.end_day
        ), per AS (
          SELECT day_offset, CAST(count(*) AS BIGINT) AS n_ending,
                 CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM lt GROUP BY day_offset
        ), risk AS (
          SELECT day_offset, d,
                 CAST((SELECT sum(n_ending) FROM per)
                      - coalesce(sum(n_ending) OVER (ORDER BY day_offset
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS n_at_risk
          FROM per
        ), haz AS (
          SELECT day_offset, d, n_at_risk,
                 CAST(sum((d * 1000000) // n_at_risk) OVER (
                     ORDER BY day_offset
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_h_micro
          FROM risk
        )
        SELECT day_offset, d, n_at_risk,
               round(cum_h_micro / 1e6, 6) AS cum_hazard,
               round(exp(-cum_h_micro / 1e6), 6) AS s_fleming_harrington
        FROM haz
    """

ORACLE_TRAINING["ivf_balance_report"] = f"""
        WITH e AS (
          SELECT vec_id, {_CAST64} AS v FROM embeddings
        ), seeds AS (
          SELECT vec_id AS centroid_id, v AS cv FROM e
          WHERE vec_id < {NUM_CENTROIDS}
        ), scored AS (
          SELECT e.vec_id, s.centroid_id,
                 list_sum(list_transform(range(1, {DIM + 1}),
                     i -> e.v[i] * s.cv[i])) AS dot
          FROM e, seeds s
        ), assigned AS (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                     ORDER BY dot DESC, centroid_id ASC) AS rnk
          FROM scored
        ), sizes AS (
          SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors
          FROM assigned WHERE rnk = 1 GROUP BY centroid_id
        ), tot AS (
          SELECT CAST(sum(n_vectors) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k
          FROM sizes
        )
        SELECT s.centroid_id, s.n_vectors,
               round(s.n_vectors / CAST(t.n AS DOUBLE), 6) AS share,
               round(s.n_vectors * t.k / CAST(t.n AS DOUBLE), 6) AS imbalance
        FROM sizes s CROSS JOIN tot t
    """

ORACLE_TRAINING["join_cardinality_audit"] = """
        WITH a AS (
          SELECT 'lineitem_orders' AS join_name,
                 (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_left,
                 (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_right,
                 (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
                  FROM lineitem) AS d_left,
                 (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
                  FROM orders) AS d_right,
                 (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                  JOIN orders o ON l.l_orderkey = o.o_orderkey) AS actual_rows
        ), b AS (
          SELECT 'orders_customer' AS join_name,
                 (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_left,
                 (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_right,
                 (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
                  FROM orders) AS d_left,
                 (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
                  FROM customer) AS d_right,
                 (SELECT CAST(count(*) AS BIGINT) FROM orders o
                  JOIN customer c ON o.o_custkey = c.c_custkey) AS actual_rows
        ), u AS (
          SELECT * FROM a UNION ALL SELECT * FROM b
        )
        SELECT join_name, n_left, n_right, d_left, d_right,
               CASE WHEN greatest(d_left, d_right) = 0 THEN 0 ELSE
               CAST((n_left * n_right) // greatest(d_left, d_right) AS BIGINT)
                   END AS est_rows,
               actual_rows,
               CASE WHEN greatest(d_left, d_right) = 0 OR actual_rows = 0
                      OR (n_left * n_right) // greatest(d_left, d_right) = 0
                    THEN NULL ELSE
               round(greatest(
                   ((n_left * n_right) // greatest(d_left, d_right))
                       / CAST(actual_rows AS DOUBLE),
                   actual_rows / CAST((n_left * n_right)
                       // greatest(d_left, d_right) AS DOUBLE)), 6)
                   END AS q_error
        FROM u
    """

ORACLE_TRAINING["key_skew_report"] = "\n        UNION ALL\n".join(
    f"""
        SELECT '{table}.{col}' AS key_column,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(c) AS BIGINT) AS max_key_count,
               round(max(c) * count(*) / CAST(sum(c) AS DOUBLE), 6)
                   AS skew_factor,
               round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top1_frac
        FROM (SELECT {col}, CAST(count(*) AS BIGINT) AS c
              FROM {table} GROUP BY {col})
    """
    for table, col in SKEW_KEY_COLS
)

ORACLE_TRAINING["neyman_allocation"] = f"""
        WITH ev AS (
          SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ), mom AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
                 CAST(sum(cents) AS BIGINT) AS s1,
                 sum(CAST(cents AS HUGEINT) * cents) AS s2
          FROM ev GROUP BY event_type
        ), sig AS (
          SELECT event_type, n_h,
                 CAST(round(sqrt(CAST(n_h * s2 - CAST(s1 AS HUGEINT) * s1
                     AS DOUBLE)) / n_h * 1000000) AS BIGINT) AS sigma_micro
          FROM mom
        ), alloc AS (
          SELECT event_type, n_h, sigma_micro,
                 ({NEYMAN_BUDGET} * (n_h * sigma_micro))
                     // (SELECT sum(n_h * sigma_micro) FROM sig) AS base,
                 ({NEYMAN_BUDGET} * (n_h * sigma_micro))
                     % (SELECT sum(n_h * sigma_micro) FROM sig) AS rem
          FROM sig
        ), ranked AS (
          SELECT *, row_number() OVER (ORDER BY rem DESC, event_type ASC)
                     AS rk,
                 (SELECT {NEYMAN_BUDGET} - sum(base) FROM alloc) AS extra
          FROM alloc
        )
        SELECT event_type, n_h,
               round(sigma_micro / 1e6, 6) AS sigma,
               CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
                   AS n_allocated
        FROM ranked
    """

from .operators.temporal import MARKOV_ITERS  # noqa: E402

ORACLE_TRAINING["gap_islands"] = """
        WITH days AS (
          SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_idx
          FROM events
        ), isl AS (
          SELECT user_id,
                 day_idx - dense_rank() OVER (PARTITION BY user_id
                     ORDER BY day_idx) AS island
          FROM days
        ), streaks AS (
          SELECT user_id, island, CAST(count(*) AS BIGINT) AS streak_len
          FROM isl GROUP BY user_id, island
        )
        SELECT user_id,
               CAST(sum(streak_len) AS BIGINT) AS n_active_days,
               CAST(count(*) AS BIGINT) AS n_islands,
               CAST(max(streak_len) AS BIGINT) AS longest_streak
        FROM streaks GROUP BY user_id
    """


def _markov_sql(iters: int = MARKOV_ITERS) -> str:
    parts = ["""WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us, event_id
          FROM events
        ), seq AS (
          SELECT event_type AS src,
                 lead(event_type) OVER (PARTITION BY user_id
                     ORDER BY us, event_id) AS dst
          FROM ev
        ), pairs AS (
          SELECT src, dst, CAST(count(*) AS BIGINT) AS c
          FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
        ), rows_n AS (
          SELECT src, CAST(sum(c) AS BIGINT) AS ct FROM pairs GROUP BY src
        ), p AS MATERIALIZED (
          SELECT pairs.src, pairs.dst, (pairs.c * 1000000) // rows_n.ct
                     AS p_micro
          FROM pairs JOIN rows_n USING (src)
        ), pi0 AS (
          SELECT DISTINCT src AS state,
                 1000000 // (SELECT count(DISTINCT src) FROM p) AS pi_micro
          FROM p
        )"""]
    for i in range(1, iters + 1):
        parts.append(
            f"""pi{i} AS (
          SELECT p.dst AS state,
                 CAST(sum(pi{i - 1}.pi_micro * p.p_micro) // 1000000
                   AS BIGINT) AS pi_micro
          FROM pi{i - 1} JOIN p ON p.src = pi{i - 1}.state
          GROUP BY p.dst
        )"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT state, round(pi_micro / 1e6, 6) AS stationary_prob"
        f" FROM pi{iters}"
    )


ORACLE_TRAINING["markov_stationary"] = _markov_sql()

from .operators.pipeline import (  # noqa: E402
    BATCH_SIZE,
    LEN_BUCKETS,
    PPL_HI_PCT,
    PPL_LO_PCT,
)

ORACLE_TRAINING["perplexity_prune"] = f"""
        WITH ce AS ({{CE}}),
        scored AS (
          SELECT ce.doc_id, ce.cross_entropy_bits, d.source
          FROM ce JOIN documents d USING (doc_id)
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY cross_entropy_bits ASC, doc_id ASC) AS rk,
                 count(*) OVER (PARTITION BY source) AS n
          FROM scored
        ), banded AS (
          SELECT *, (rk - 1) >= ((n - 1) * {PPL_LO_PCT}) // 100
                    AND (rk - 1) <= ((n - 1) * {PPL_HI_PCT}) // 100 AS kept
          FROM ranked
        )
        SELECT source,
               CAST(max(n) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               round(sum(CASE WHEN kept THEN 1 ELSE 0 END)
                     / CAST(max(n) AS DOUBLE), 6) AS retention,
               min(CASE WHEN kept THEN cross_entropy_bits END) AS band_lo_bits,
               max(CASE WHEN kept THEN cross_entropy_bits END) AS band_hi_bits
        FROM banded GROUP BY source
    """.replace("{CE}", ORACLE_TRAINING["bigram_cross_entropy"])

ORACLE_TRAINING["length_bucket_batches"] = f"""
        WITH docs AS (
          SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS len FROM documents
        ), ranked AS (
          SELECT doc_id, len,
                 row_number() OVER (ORDER BY len ASC, doc_id ASC) AS rk,
                 count(*) OVER () AS n
          FROM docs
        ), bucketed AS (
          SELECT doc_id, len,
                 least({LEN_BUCKETS - 1}, ((rk - 1) * {LEN_BUCKETS}) // n)
                     AS bucket
          FROM ranked
        ), batched AS (
          SELECT bucket, len,
                 (row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
                  - 1) // {BATCH_SIZE} AS batch
          FROM bucketed
        ), per_batch AS (
          SELECT bucket, batch, max(len) AS bmax,
                 CAST(sum(len) AS BIGINT) AS btok,
                 CAST(count(*) AS BIGINT) AS bn
          FROM batched GROUP BY bucket, batch
        ), naive AS (
          SELECT CAST(sum(bmax * bn - btok) AS BIGINT) AS naive_pad
          FROM (SELECT max(len) AS bmax, CAST(sum(len) AS BIGINT) AS btok,
                       CAST(count(*) AS BIGINT) AS bn
                FROM (SELECT len, (row_number() OVER (ORDER BY doc_id) - 1)
                              // {BATCH_SIZE} AS batch FROM docs)
                GROUP BY batch)
        )
        SELECT CAST(p.bucket AS INT) AS bucket,
               CAST(sum(p.bn) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(p.bmax * p.bn - p.btok) AS BIGINT) AS pad_tokens,
               CASE WHEN sum(p.bmax * p.bn - p.btok) + sum(p.btok) = 0
                    THEN NULL ELSE
                 round(sum(p.bmax * p.bn - p.btok)
                     / CAST(sum(p.bmax * p.bn - p.btok) + sum(p.btok)
                       AS DOUBLE), 6) END AS pad_frac,
               n.naive_pad
        FROM per_batch p CROSS JOIN naive n
        GROUP BY p.bucket, n.naive_pad
    """

from .operators.rangeops import STICKY_WINDOW_DAYS  # noqa: E402

ORACLE_TRAINING["stickiness_dau_mau"] = f"""
        WITH user_days AS (
          SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_idx
          FROM events
        ), end_d AS (
          SELECT max(day_idx) AS end_day FROM user_days
        ), dau AS (
          SELECT day_idx, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
          FROM user_days GROUP BY day_idx
        ), covering AS (
          SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
          FROM (
            SELECT u.user_id,
                   unnest(range(u.day_idx,
                       least(u.day_idx + {STICKY_WINDOW_DAYS}, e.end_day + 1)))
                       AS report_day
            FROM user_days u CROSS JOIN end_d e
          ) GROUP BY report_day
        )
        SELECT d.day_idx, d.dau, c.mau,
               round(d.dau / CAST(c.mau AS DOUBLE), 6) AS stickiness
        FROM dau d JOIN covering c ON c.report_day = d.day_idx
    """

from .operators.sketch import HLL_MAU_WINDOW  # noqa: E402

ORACLE_TRAINING["hll_mau_window"] = f"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx FROM events
        ), h AS (
          SELECT day_idx, md5(CAST(user_id AS VARCHAR)) AS h FROM ev
        ), b AS (
          SELECT day_idx,
                 ('0x' || substr(h, 1, 2))::BIGINT % 64 AS reg,
                 ('0x' || substr(h, 3, 6))::BIGINT AS x
          FROM h
        ), k AS (
          SELECT day_idx, reg,
                 CASE WHEN strpos(lpad(bin(x), 24, '0'), '1') = 0 THEN 25
                      ELSE strpos(lpad(bin(x), 24, '0'), '1') END AS rank
          FROM b
        ), g AS (
          SELECT day_idx, reg, max(rank) AS mr FROM k GROUP BY day_idx, reg
        ), end_d AS (
          SELECT max(day_idx) AS end_day FROM ev
        ), merged AS (
          SELECT report_day, reg, max(mr) AS mr
          FROM (SELECT g.reg, g.mr,
                       unnest(range(g.day_idx,
                           least(g.day_idx + {HLL_MAU_WINDOW}, e.end_day + 1)))
                           AS report_day
                FROM g CROSS JOIN end_d e)
          GROUP BY report_day, reg
        ), a AS (
          SELECT report_day, CAST(count(*) AS BIGINT) AS n_present,
                 sum(power(2.0, -mr)) AS sp
          FROM merged GROUP BY report_day
        ), s AS (
          SELECT report_day,
                 0.709 * 64 * 64 / (sp + (64 - n_present)) AS raw,
                 64 - n_present AS zeros
          FROM a
        ), exact AS (
          SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau_exact
          FROM (SELECT DISTINCT u.user_id,
                       unnest(range(u.day_idx,
                           least(u.day_idx + {HLL_MAU_WINDOW}, e.end_day + 1)))
                           AS report_day
                FROM (SELECT DISTINCT user_id, day_idx FROM ev) u
                CROSS JOIN end_d e)
          GROUP BY report_day
        )
        SELECT s.report_day AS day_idx, x.mau_exact,
               round(CASE WHEN s.raw <= 160 AND s.zeros > 0
                          THEN 64 * ln(CAST(64 AS DOUBLE) / s.zeros)
                          ELSE s.raw END, 4) AS mau_estimate,
               round((CASE WHEN s.raw <= 160 AND s.zeros > 0
                           THEN 64 * ln(CAST(64 AS DOUBLE) / s.zeros)
                           ELSE s.raw END - x.mau_exact)
                     / CAST(x.mau_exact AS DOUBLE), 4) AS rel_error
        FROM s JOIN exact x ON x.report_day = s.report_day
    """

_PHASH_PAIRS_REF = ORACLE_TRAINING["phash_near_pairs"]

ORACLE_TRAINING["phash_dup_clusters"] = """
        WITH RECURSIVE pairs AS ({PAIRS}),
        e AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM pairs),
        und AS (
          SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e
        ),
        reach AS (
          SELECT DISTINCT a AS node, a AS label FROM und
          UNION
          SELECT u.b AS node, r.label
          FROM reach r JOIN und u ON u.a = r.node
        ),
        lab AS (
          SELECT node, min(label) AS lbl FROM reach GROUP BY node
        )
        SELECT node AS doc_id, lbl AS cluster_id,
               CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT)
                   AS cluster_size
        FROM lab
    """.replace("{PAIRS}", _PHASH_PAIRS_REF)

ORACLE_TRAINING["weighted_median_udaf"] = """
        WITH li AS (
          SELECT l_returnflag,
                 CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)
                     AS cents,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          FROM lineitem WHERE l_quantity > 0 GROUP BY l_returnflag, cents
        ), cum AS (
          SELECT l_returnflag, cents, qty,
                 CAST(sum(qty) OVER (PARTITION BY l_returnflag ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cumw,
                 CAST(sum(qty) OVER (PARTITION BY l_returnflag) AS BIGINT)
                     AS w
          FROM li
        )
        SELECT l_returnflag, CAST(max(w) AS BIGINT) AS w_total,
               CAST(min(CASE WHEN 2 * cumw >= w THEN cents END) AS BIGINT)
                   AS wmedian_cents
        FROM cum GROUP BY l_returnflag
    """

from .operators.rangeops import CORR_WINDOW_DAYS  # noqa: E402
from .operators.relational import GEO_RADIUS_M  # noqa: E402

ORACLE_TRAINING["geo_grid_join"] = f"""
        WITH c AS (
          SELECT c_custkey,
                 CAST((c_custkey * 37) % 120 - 60 AS DOUBLE) AS lat,
                 CAST((c_custkey * 91) % 360 - 180 AS DOUBLE) AS lon
          FROM customer
        ), s AS (
          SELECT s_suppkey,
                 CAST((s_suppkey * 37) % 120 - 60 AS DOUBLE) AS lat,
                 CAST((s_suppkey * 91) % 360 - 180 AS DOUBLE) AS lon
          FROM supplier
        )
        SELECT c.c_custkey, s.s_suppkey,
               round(2 * 6371008.8 * asin(sqrt(
                   power(sin(radians(s.lat - c.lat) / 2), 2) +
                   cos(radians(c.lat)) * cos(radians(s.lat)) *
                   power(sin(radians(s.lon - c.lon) / 2), 2)
               )), 3) AS distance_m
        FROM c CROSS JOIN s
        WHERE round(2 * 6371008.8 * asin(sqrt(
                   power(sin(radians(s.lat - c.lat) / 2), 2) +
                   cos(radians(c.lat)) * cos(radians(s.lat)) *
                   power(sin(radians(s.lon - c.lon) / 2), 2)
               )), 3) <= {GEO_RADIUS_M}
    """

ORACLE_TRAINING["rolling_correlation"] = f"""
        WITH daily AS (
          SELECT epoch_us(ts) // 86400000000 AS day_idx,
                 CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS y
          FROM events WHERE event_type IN ('view', 'purchase')
          GROUP BY day_idx
        ), m AS (
          SELECT day_idx, x, y,
                 CAST(count(*) OVER w AS BIGINT) AS n,
                 CAST(sum(x) OVER w AS BIGINT) AS sx,
                 CAST(sum(y) OVER w AS BIGINT) AS sy,
                 CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
                 CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
                 CAST(sum(y * y) OVER w AS BIGINT) AS syy
          FROM daily
          WINDOW w AS (ORDER BY day_idx
                       RANGE BETWEEN {CORR_WINDOW_DAYS - 1} PRECEDING
                       AND CURRENT ROW)
        )
        SELECT day_idx, x AS views, y AS purchases,
               round(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                     THEN NULL
                     ELSE (n * sxy - sx * sy)
                          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                             * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                     END, 6) AS rolling_corr
        FROM m
    """

ORACLE_TRAINING["grouping_sets_report"] = """
        SELECT event_type, day_idx, month_idx,
               CAST(grouping(event_type, day_idx, month_idx) AS INT) AS gid,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM (
          SELECT event_type,
                 epoch_us(ts) // 86400000000 AS day_idx,
                 epoch_us(ts) // 86400000000 // 30 AS month_idx,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        )
        GROUP BY GROUPING SETS ((event_type, day_idx),
                                (event_type, month_idx))
    """

ORACLE_TRAINING["unpivot_metrics"] = """
        WITH wide AS (
          SELECT l_returnflag,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS BIGINT) AS sum_cents,
                 CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS BIGINT) AS min_cents,
                 CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS BIGINT) AS max_cents,
                 CAST(count(*) AS BIGINT) AS count_rows
          FROM lineitem GROUP BY l_returnflag
        )
        UNPIVOT wide
        ON sum_cents, min_cents, max_cents, count_rows
        INTO NAME metric VALUE value
    """

ORACLE_TRAINING["null_semantics_battery"] = """
        WITH ev AS (
          SELECT event_id, user_id,
                 CASE WHEN value < 1.0 THEN NULL
                      ELSE CAST(floor(value * 100) AS BIGINT) END AS ncents
          FROM events
        )
        SELECT CAST(count(*) AS BIGINT) AS count_star,
               CAST(count(ncents) AS BIGINT) AS count_col,
               CAST(count(DISTINCT ncents) AS BIGINT) AS count_distinct_col,
               CAST(sum(CASE WHEN false THEN ncents END) AS BIGINT)
                   AS sum_all_null,
               CAST(min(CASE WHEN false THEN ncents END) AS BIGINT)
                   AS min_all_null,
               CAST(sum(CASE WHEN ncents IS NOT DISTINCT FROM NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS nullsafe_eq_null,
               CAST(sum(CASE WHEN coalesce(ncents, -1) = -1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS coalesced_sentinel,
               CAST(sum(CASE WHEN nullif(user_id % 5, 0) IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS nullif_zeroed
        FROM ev
    """

from .operators.textops import RAKE_TOP_K, SYMSPELL_MIN_FREQ, STOPWORDS  # noqa: E402

_RAKE_STOPS_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

ORACLE_TRAINING["rake_keyphrases"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), pos AS (
          SELECT doc_id, u.i AS p, u.w FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) + 1),
                          i -> {{'i': i, 'w': t[i]}})) AS u
            FROM toks
          )
        ), nonstop AS (
          SELECT doc_id, w, p,
                 p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
                     AS isl
          FROM pos WHERE w NOT IN ({_RAKE_STOPS_SQL})
        ), phr AS (
          SELECT string_agg(w, ' ' ORDER BY p) AS phrase
          FROM nonstop GROUP BY doc_id, isl
        ), ph_stats AS (
          SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
          FROM phr GROUP BY phrase
        ), words AS (
          SELECT len(string_split(phrase, ' ')) AS plen,
                 unnest(string_split(phrase, ' ')) AS w
          FROM phr
        ), wstats AS (
          SELECT w, (CAST(sum(plen) AS BIGINT) * 1000000)
                     // CAST(count(*) AS BIGINT) AS wscore_micro
          FROM words GROUP BY w
        ), scored AS (
          SELECT pw.phrase, pw.n_occurrences,
                 CAST(sum(ws.wscore_micro) AS BIGINT) AS score_micro
          FROM (SELECT phrase, n_occurrences,
                       unnest(string_split(phrase, ' ')) AS w
                FROM ph_stats) pw
          JOIN wstats ws USING (w)
          GROUP BY pw.phrase, pw.n_occurrences
        )
        SELECT phrase, n_occurrences,
               round(score_micro / 1e6, 6) AS rake_score,
               CAST(row_number() OVER (ORDER BY score_micro DESC,
                   n_occurrences DESC, phrase ASC) AS INT) AS rank
        FROM scored
        ORDER BY score_micro DESC, n_occurrences DESC, phrase ASC
        LIMIT {RAKE_TOP_K}
    """

ORACLE_TRAINING["symspell_typo_pairs"] = f"""
        WITH vocab AS (
          SELECT w, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest({_TOKS}) AS w FROM documents)
          GROUP BY w HAVING count(*) >= {SYMSPELL_MIN_FREQ}
        ), dels AS (
          SELECT w, freq, unnest(list_distinct(list_concat([w],
                 list_transform(range(1, length(w) + 1),
                     i -> substr(w, 1, i - 1) || substr(w, i + 1))))) AS k
          FROM vocab
        ), cand AS (
          SELECT DISTINCT a.w AS w_a, a.freq AS f_a, b.w AS w_b, b.freq AS f_b
          FROM dels a JOIN dels b ON a.k = b.k AND a.w <> b.w
          WHERE a.freq < b.freq OR (a.freq = b.freq AND a.w < b.w)
        )
        SELECT w_a AS typo, f_a AS typo_freq,
               w_b AS correction, f_b AS correction_freq,
               CAST(levenshtein(w_a, w_b) AS INT) AS edit_distance
        FROM cand WHERE levenshtein(w_a, w_b) <= 1
    """

ORACLE_TRAINING["spearman_price_qty"] = """
        WITH d AS (
          SELECT p.p_type,
                 CAST(round(l.l_extendedprice / l.l_quantity * 100) AS BIGINT)
                     AS price_c,
                 CAST(l.l_quantity AS BIGINT) AS qty
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_quantity > 0
        ), rx AS (
          SELECT p_type, price_c,
                 CAST(2 * sum(t) OVER (PARTITION BY p_type ORDER BY price_c
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - t + 1 AS BIGINT) AS r2_price
          FROM (SELECT p_type, price_c, CAST(count(*) AS BIGINT) AS t
                FROM d GROUP BY p_type, price_c)
        ), ry AS (
          SELECT p_type, qty,
                 CAST(2 * sum(t) OVER (PARTITION BY p_type ORDER BY qty
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - t + 1 AS BIGINT) AS r2_qty
          FROM (SELECT p_type, qty, CAST(count(*) AS BIGINT) AS t
                FROM d GROUP BY p_type, qty)
        ), j AS (
          SELECT d.p_type, rx.r2_price, ry.r2_qty
          FROM d
          JOIN rx ON rx.p_type = d.p_type AND rx.price_c = d.price_c
          JOIN ry ON ry.p_type = d.p_type AND ry.qty = d.qty
        ), agg AS (
          SELECT p_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(r2_price) AS BIGINT) AS sx,
                 CAST(sum(r2_qty) AS BIGINT) AS sy,
                 sum(CAST(r2_price AS HUGEINT) * r2_qty) AS sxy,
                 sum(CAST(r2_price AS HUGEINT) * r2_price) AS sxx,
                 sum(CAST(r2_qty AS HUGEINT) * r2_qty) AS syy
          FROM j GROUP BY p_type
        )
        SELECT p_type, n,
               round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                          AS DOUBLE))
                        * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy
                            AS DOUBLE))), 6) AS spearman_rho
        FROM agg
    """

from .operators.rangeops import QINI_BINS  # noqa: E402
from .operators.temporal import WF_STEPS, WF_WINDOW_US  # noqa: E402

ORACLE_TRAINING["window_funnel"] = f"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us, event_type FROM events
        ), t0s AS (
          SELECT user_id,
                 min(CASE WHEN event_type = '{WF_STEPS[0]}' THEN us END) AS t0
          FROM ev GROUP BY user_id
        ), t1s AS (
          SELECT t.user_id, t.t0,
                 min(CASE WHEN e.event_type = '{WF_STEPS[1]}'
                          AND e.us > t.t0
                          AND e.us <= t.t0 + {WF_WINDOW_US}
                     THEN e.us END) AS t1
          FROM t0s t LEFT JOIN ev e ON e.user_id = t.user_id
          WHERE t.t0 IS NOT NULL
          GROUP BY t.user_id, t.t0
        ), t2s AS (
          SELECT t.user_id, t.t0, t.t1,
                 min(CASE WHEN e.event_type = '{WF_STEPS[2]}'
                          AND e.us > t.t1
                          AND e.us <= t.t0 + {WF_WINDOW_US}
                     THEN e.us END) AS t2
          FROM t1s t LEFT JOIN ev e ON e.user_id = t.user_id
          GROUP BY t.user_id, t.t0, t.t1
        ), lv AS (
          SELECT user_id,
                 CASE WHEN t2 IS NOT NULL THEN 3
                      WHEN t1 IS NOT NULL THEN 2
                      ELSE 1 END AS max_level
          FROM t2s
          UNION ALL
          SELECT user_id, 0 AS max_level FROM t0s WHERE t0 IS NULL
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_users FROM lv
        )
        SELECT CAST(max_level AS INT) AS max_level,
               CAST(count(*) AS BIGINT) AS n_at_level,
               round(count(*) / CAST(t.n_users AS DOUBLE), 6) AS frac_users
        FROM lv CROSS JOIN tot t
        GROUP BY max_level, t.n_users
    """

ORACLE_TRAINING["conversion_ztest"] = """
        WITH per AS (
          SELECT user_id % 2 AS variant,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x
          FROM events GROUP BY variant
        ), a AS (SELECT n AS n0, x AS x0 FROM per WHERE variant = 0),
        b AS (SELECT n AS n1, x AS x1 FROM per WHERE variant = 1)
        SELECT n0, x0, n1, x1,
               round(x1 / CAST(n1 AS DOUBLE) - x0 / CAST(n0 AS DOUBLE), 6)
                   AS lift,
               round((x1 / CAST(n1 AS DOUBLE) - x0 / CAST(n0 AS DOUBLE))
                     / sqrt((x0 + x1) / CAST(n0 + n1 AS DOUBLE)
                            * (1 - (x0 + x1) / CAST(n0 + n1 AS DOUBLE))
                            * (1.0 / n0 + 1.0 / n1)), 6) AS z_stat,
               round(x1 / CAST(n1 AS DOUBLE) - x0 / CAST(n0 AS DOUBLE)
                     - 1.959963985 * sqrt(
                         x0 / CAST(n0 AS DOUBLE)
                         * (1 - x0 / CAST(n0 AS DOUBLE)) / n0
                         + x1 / CAST(n1 AS DOUBLE)
                         * (1 - x1 / CAST(n1 AS DOUBLE)) / n1), 6) AS ci_lo,
               round(x1 / CAST(n1 AS DOUBLE) - x0 / CAST(n0 AS DOUBLE)
                     + 1.959963985 * sqrt(
                         x0 / CAST(n0 AS DOUBLE)
                         * (1 - x0 / CAST(n0 AS DOUBLE)) / n0
                         + x1 / CAST(n1 AS DOUBLE)
                         * (1 - x1 / CAST(n1 AS DOUBLE)) / n1), 6) AS ci_hi
        FROM a CROSS JOIN b
    """

ORACLE_TRAINING["qini_curve"] = f"""
        WITH per_user AS (
          SELECT user_id,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                     AS score,
                 CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS conv,
                 CAST(user_id % 2 AS BIGINT) AS treated
          FROM events GROUP BY user_id
        ), ranked AS (
          SELECT *, row_number() OVER (ORDER BY score DESC, user_id ASC)
                     AS rk,
                 count(*) OVER () AS n
          FROM per_user
        ), per_dec AS (
          SELECT least({QINI_BINS - 1}, ((rk - 1) * {QINI_BINS}) // n)
                     AS decile,
                 CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_t,
                 CAST(sum(CASE WHEN treated = 1 THEN conv ELSE 0 END)
                   AS BIGINT) AS x_t,
                 CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_c,
                 CAST(sum(CASE WHEN treated = 0 THEN conv ELSE 0 END)
                   AS BIGINT) AS x_c
          FROM ranked GROUP BY decile
        )
        SELECT CAST(decile AS INT) AS decile, n_t, x_t, n_c, x_c,
               round(CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                     ELSE x_t / CAST(n_t AS DOUBLE)
                          - x_c / CAST(n_c AS DOUBLE) END, 6) AS uplift_rate,
               CAST(sum(x_t * n_c - x_c * n_t) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_qini_num
        FROM per_dec
    """

# ---------- round-6 ML-stats / experiment-planning batch ----------

from .operators.mlstats import (  # noqa: E402
    _CORR_MEASURES,
    L_DIVERSITY_MIN_K,
    L_DIVERSITY_MIN_L,
    OLS_B0,
    OLS_B1,
    OLS_B2,
    OLS_DET,
    POWER_MDE_GRID,
    SN_JACCARD_MIN,
    SN_WINDOW,
    Z_ALPHA,
    Z_BETA,
    corr_pair_expr,
)

ORACLE_TRAINING["ks_price_test"] = """
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END AS is_a
          FROM orders
        ), per AS (
          SELECT cents, CAST(sum(is_a) AS BIGINT) AS a_n,
                 CAST(sum(1 - is_a) AS BIGINT) AS b_n
          FROM o GROUP BY cents
        ), cum AS (
          SELECT cents,
                 sum(a_n) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS ca,
                 sum(b_n) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS cb
          FROM per
        ), tot AS (
          SELECT CAST(sum(a_n) AS BIGINT) AS n_a,
                 CAST(sum(b_n) AS BIGINT) AS n_b
          FROM per
        ), d AS (
          SELECT cents, n_a, n_b,
                 abs(CAST(ca AS HUGEINT) * n_b
                     - CAST(cb AS HUGEINT) * n_a) AS dnum
          FROM cum CROSS JOIN tot
        ), m AS (SELECT max(dnum) AS dmax FROM d)
        SELECT max(n_a) AS n_a, max(n_b) AS n_b,
               CAST(min(cents) AS BIGINT) AS ks_at_cents,
               round(CAST(max(dnum) AS DOUBLE)
                     / (CAST(max(n_a) AS DOUBLE)
                        * CAST(max(n_b) AS DOUBLE)), 6) AS ks_stat
        FROM d JOIN m ON d.dnum = m.dmax
    """

ORACLE_TRAINING["mannwhitney_value_test"] = """
        WITH ev AS (
          SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
          FROM events
          WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        ), per AS (
          SELECT cents, CAST(count(*) AS BIGINT) AS t,
                 CAST(sum(is_a) AS BIGINT) AS a_n
          FROM ev GROUP BY cents
        ), r AS (
          SELECT cents, t, a_n,
                 2 * sum(t) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) - t + 1 AS r2
          FROM per
        ), agg AS (
          SELECT CAST(sum(a_n) AS BIGINT) AS n_a,
                 CAST(sum(t - a_n) AS BIGINT) AS n_b,
                 sum(CAST(a_n AS HUGEINT) * r2) AS s2a,
                 sum(CAST(t AS HUGEINT) * t * t - t) AS tcorr
          FROM r
        )
        SELECT n_a, n_b,
               CAST(s2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT)
                   AS u1_x2,
               round((CAST(s2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE)
                      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                     / (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                          / 12.0
                          * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                             - CAST(tcorr AS DOUBLE)
                               / (CAST(n_a + n_b AS DOUBLE)
                                  * (CAST(n_a + n_b AS DOUBLE) - 1.0))))),
                     6) AS z_stat
        FROM agg
    """

ORACLE_TRAINING["theilsen_daily_trend"] = """
        WITH d AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1
        ), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d),
        pairs AS (
          SELECT CAST(y.c - x.c AS DOUBLE) / CAST(y.d - x.d AS DOUBLE)
                     AS slope
          FROM d x JOIN d y ON y.d > x.d
        )
        SELECT n_days, CAST(count(*) AS BIGINT) AS n_pairs,
               round(quantile_cont(slope, 0.5), 6) AS trend_per_day
        FROM pairs CROSS JOIN nd GROUP BY n_days
    """

_PM_P0 = "(cast(nc as double) / cast(nu as double))"
_PM_P1 = f"({_PM_P0} * (1.0 + rel_mde))"
_PM_PBAR = f"(({_PM_P0} + {_PM_P1}) / 2.0)"
_PM_N = (
    f"pow({Z_ALPHA} * sqrt(2.0 * {_PM_PBAR} * (1.0 - {_PM_PBAR}))"
    f" + {Z_BETA} * sqrt({_PM_P0} * (1.0 - {_PM_P0})"
    f" + {_PM_P1} * (1.0 - {_PM_P1})), 2)"
    f" / pow({_PM_P1} - {_PM_P0}, 2)"
)
_PM_VALUES = ", ".join(f"({x!r})" for x in POWER_MDE_GRID)

ORACLE_TRAINING["ab_power_mde"] = f"""
        WITH base AS (
          SELECT CAST(count(*) AS BIGINT) AS nu,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS BIGINT) AS nc
          FROM events
        ), grid AS (
          SELECT CAST(g.rel_mde AS DOUBLE) AS rel_mde
          FROM (VALUES {_PM_VALUES}) g(rel_mde)
        )
        SELECT rel_mde,
               round({_PM_P0}, 6) AS p0_rate,
               round({_PM_P1}, 6) AS p1_rate,
               CAST(ceil({_PM_N}) AS BIGINT) AS n_per_arm
        FROM base CROSS JOIN grid
    """

_CM_NAMES = [n for n, _ in _CORR_MEASURES]
_CM_EXTRACT = ",\n                 ".join(
    f"{e} AS {n}" for n, e in _CORR_MEASURES
)
_CM_MOMENTS = ["CAST(count(*) AS BIGINT) AS n"]
for _n in _CM_NAMES:
    _CM_MOMENTS.append(f"CAST(sum({_n}) AS BIGINT) AS s_{_n}")
    _CM_MOMENTS.append(f"sum(CAST({_n} AS HUGEINT) * {_n}) AS ss_{_n}")
for _i, _a in enumerate(_CM_NAMES):
    for _b in _CM_NAMES[_i + 1 :]:
        _CM_MOMENTS.append(
            f"sum(CAST({_a} AS HUGEINT) * {_b}) AS sx_{_a}_{_b}"
        )
_CM_ROWS = "\n        UNION ALL\n".join(
    f"        SELECT '{_a}' AS m_x, '{_b}' AS m_y, n,"
    f" round({corr_pair_expr(_a, _b, 'HUGEINT')}, 6) AS corr FROM mom"
    for _i, _a in enumerate(_CM_NAMES)
    for _b in _CM_NAMES[_i + 1 :]
)

ORACLE_TRAINING["corr_matrix"] = f"""
        WITH src AS (
          SELECT {_CM_EXTRACT}
          FROM lineitem
        ), mom AS (
          SELECT {", ".join(_CM_MOMENTS)}
          FROM src
        )
        SELECT m_x, m_y, n, corr FROM (
{_CM_ROWS}
        )
    """

ORACLE_TRAINING["ols_price_model"] = f"""
        WITH d AS (
          SELECT p.p_brand,
                 CAST(round(l.l_quantity) AS BIGINT) AS y,
                 CAST(round(l.l_discount * 10000) AS BIGINT) AS x1,
                 CAST(round(l.l_extendedprice / l.l_quantity * 100)
                   AS BIGINT) AS x2
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_quantity > 0
        ), mom AS (
          SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x1) AS BIGINT) AS s1,
                 CAST(sum(x2) AS BIGINT) AS s2,
                 CAST(sum(y) AS BIGINT) AS sy,
                 sum(CAST(x1 AS HUGEINT) * x1) AS s11,
                 sum(CAST(x1 AS HUGEINT) * x2) AS s12,
                 sum(CAST(x2 AS HUGEINT) * x2) AS s22,
                 sum(CAST(x1 AS HUGEINT) * y) AS s1y,
                 sum(CAST(x2 AS HUGEINT) * y) AS s2y
          FROM d GROUP BY p_brand
        )
        SELECT p_brand, n,
               round(CASE WHEN {OLS_DET} = 0.0 THEN NULL
                     ELSE {OLS_B0} / {OLS_DET} END, 6) AS intercept,
               round(CASE WHEN {OLS_DET} = 0.0 THEN NULL
                     ELSE {OLS_B1} / {OLS_DET} END, 9)
                   AS beta_discount_bps,
               round(CASE WHEN {OLS_DET} = 0.0 THEN NULL
                     ELSE {OLS_B2} / {OLS_DET} END, 9) AS beta_price_cent
        FROM mom
    """

ORACLE_TRAINING["l_diversity_audit"] = f"""
        WITH d AS (
          SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), per AS (
          SELECT c_nationkey, c_mktsegment, o_orderpriority,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM d GROUP BY 1, 2, 3
        )
        SELECT c_nationkey, c_mktsegment,
               CAST(sum(cnt) AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS l,
               round(ln(cast(sum(cnt) as double))
                     - sum(cast(cnt as double) * ln(cast(cnt as double)))
                       / cast(sum(cnt) as double), 6) AS sens_entropy,
               (sum(cnt) < {L_DIVERSITY_MIN_K}
                OR count(*) < {L_DIVERSITY_MIN_L}) AS is_weak
        FROM per GROUP BY 1, 2
    """

_SN_OFFS = ", ".join(str(i) for i in range(1, SN_WINDOW + 1))

ORACLE_TRAINING["sorted_neighborhood_pairs"] = f"""
        WITH p AS (
          SELECT p_partkey, p_name,
                 row_number() OVER (ORDER BY p_name, p_partkey) AS rn
          FROM part
        ), tok AS (
          SELECT DISTINCT p.p_partkey, t.tok
          FROM p, unnest(string_split(p.p_name, ' ')) AS t(tok)
        ), tsz AS (
          SELECT p_partkey, CAST(count(*) AS BIGINT) AS sz
          FROM tok GROUP BY 1
        ), cand AS (
          SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b
          FROM p a JOIN p b ON b.rn - a.rn IN ({_SN_OFFS})
        ), inter AS (
          SELECT c.pk_a, c.pk_b, CAST(count(*) AS BIGINT) AS n_inter
          FROM cand c
          JOIN tok ta ON ta.p_partkey = c.pk_a
          JOIN tok tb ON tb.p_partkey = c.pk_b AND tb.tok = ta.tok
          GROUP BY 1, 2
        ), scored AS (
          SELECT c.pk_a, c.pk_b,
                 coalesce(i.n_inter, 0) AS n_inter,
                 sa.sz + sb.sz - coalesce(i.n_inter, 0) AS n_union,
                 round(coalesce(i.n_inter, 0)
                       / CAST(sa.sz + sb.sz - coalesce(i.n_inter, 0)
                           AS DOUBLE), 6) AS jaccard
          FROM cand c
          JOIN tsz sa ON sa.p_partkey = c.pk_a
          JOIN tsz sb ON sb.p_partkey = c.pk_b
          LEFT JOIN inter i ON i.pk_a = c.pk_a AND i.pk_b = c.pk_b
        )
        SELECT pk_a, pk_b, CAST(n_inter AS BIGINT) AS n_inter,
               CAST(n_union AS BIGINT) AS n_union, jaccard
        FROM scored WHERE jaccard >= {SN_JACCARD_MIN}
    """

ORACLE_TRAINING["quantile_normalize"] = """
        WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
        grp AS (
          SELECT source, n_chars, CAST(count(*) AS BIGINT) AS t
          FROM docs GROUP BY 1, 2
        ), ranked AS (
          SELECT source, n_chars,
                 2 * sum(t) OVER (PARTITION BY source ORDER BY n_chars
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - t + 1 AS r2
          FROM grp
        ), sizes AS (
          SELECT source, CAST(count(*) AS BIGINT) AS ns
          FROM docs GROUP BY 1
        ), tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
        tr AS (
          SELECT r.source, r.n_chars,
                 (r.r2 * t.nn + 2 * s.ns - 1) // (2 * s.ns) AS tr
          FROM ranked r JOIN sizes s ON s.source = r.source
          CROSS JOIN tot t
        ), gv AS (
          SELECT n_chars AS gvv, CAST(count(*) AS BIGINT) AS gt
          FROM docs GROUP BY 1
        ), gcum AS (
          SELECT gvv, gt,
                 sum(gt) OVER (ORDER BY gvv ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS gcum
          FROM gv
        )
        SELECT d.doc_id, d.source, d.n_chars, g.gvv AS norm_chars
        FROM docs d
        JOIN tr ON tr.source = d.source AND tr.n_chars = d.n_chars
        JOIN gcum g ON tr.tr > g.gcum - g.gt AND tr.tr <= g.gcum
    """

# ---------- round-6 time-series batch ----------

from .operators.mlstats import (  # noqa: E402
    ACF_LAGS,
    CP_SSE1,
    CP_SSE2,
    MAD_CONSISTENCY,
    MAD_K,
)

_ACF_VALUES = ", ".join(f"({k})" for k in ACF_LAGS)

ORACLE_TRAINING["autocorrelation_daily"] = f"""
        WITH d AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1
        ), lags AS (
          SELECT CAST(g.lag AS INT) AS lag
          FROM (VALUES {_ACF_VALUES}) g(lag)
        ), j AS (
          SELECT l.lag, a.c AS c, b.c AS cp
          FROM d a CROSS JOIN lags l
          JOIN d b ON b.d = a.d - l.lag
        ), mom AS (
          SELECT lag, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS s_a,
                 CAST(sum(cp) AS BIGINT) AS s_b,
                 sum(CAST(c AS HUGEINT) * c) AS ss_a,
                 sum(CAST(cp AS HUGEINT) * cp) AS ss_b,
                 sum(CAST(c AS HUGEINT) * cp) AS sx_a_b
          FROM j GROUP BY lag
        )
        SELECT lag, n,
               round({corr_pair_expr("a", "b", "HUGEINT")}, 6) AS acf
        FROM mom
    """

ORACLE_TRAINING["best_changepoint"] = f"""
        WITH d AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1
        ), pre AS (
          SELECT d,
                 CAST(count(*) OVER wnd AS BIGINT) AS k,
                 CAST(sum(c) OVER wnd AS BIGINT) AS s,
                 sum(CAST(c AS HUGEINT) * c) OVER wnd AS ss
          FROM d WINDOW wnd AS (ORDER BY d ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW)
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS kt,
                 CAST(sum(c) AS BIGINT) AS st,
                 sum(CAST(c AS HUGEINT) * c) AS sst
          FROM d
        ), cand AS (
          SELECT d, round({CP_SSE2}, 6) AS sse2
          FROM pre CROSS JOIN tot WHERE k < kt
        ), m AS (SELECT min(sse2) AS best FROM cand),
        f AS (
          SELECT min(d) AS split_day, min(sse2) AS sse_two_segment
          FROM cand JOIN m ON cand.sse2 = m.best
        )
        SELECT f.split_day, t.kt AS n_days,
               round({CP_SSE1}, 6) AS sse_one_segment,
               f.sse_two_segment
        FROM f CROSS JOIN tot t
    """

_MAD_Z = f"(cast(rev_c as double) - med) / ({MAD_CONSISTENCY!r} * mad)"

ORACLE_TRAINING["mad_anomaly_days"] = f"""
        WITH d AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS rev_c
          FROM orders GROUP BY 1
        ), med AS (SELECT quantile_cont(rev_c, 0.5) AS med FROM d),
        dev AS (
          SELECT d.d, d.rev_c, m.med,
                 abs(CAST(d.rev_c AS DOUBLE) - m.med) AS adev
          FROM d CROSS JOIN med m
        ), mad AS (SELECT quantile_cont(adev, 0.5) AS mad FROM dev)
        SELECT d, rev_c, round(med, 6) AS med, round(mad, 6) AS mad,
               round({_MAD_Z}, 6) AS robust_z
        FROM dev CROSS JOIN mad
        WHERE mad > 0.0 AND abs({_MAD_Z}) > {MAD_K!r}
    """

# ---------- round-6 pipeline-planning / robust-stats batch ----------

from .operators.mlstats import (  # noqa: E402
    BLOOM_BPK_GRID,
    LN2,
    RP_BUCKETS,
    TRIM_PCT,
)
from .operators.textops import MEM_NGRAM_K  # noqa: E402

_MEM_NG = (
    f"CASE WHEN len(t) < {MEM_NGRAM_K} THEN [] "
    f"ELSE list_transform(range(1, len(t) - {MEM_NGRAM_K - 2}), "
    f"i -> md5(array_to_string(t[i:i+{MEM_NGRAM_K - 1}], ' '))) END"
)

ORACLE_TRAINING["memorization_risk_ngrams"] = f"""
        WITH toks AS (
          SELECT doc_id, source, {_TOKS} AS t FROM documents
        ), ex AS (
          SELECT source, unnest({_MEM_NG}) AS h FROM toks
        ), per AS (
          SELECT source, h, CAST(count(*) AS BIGINT) AS cnt_s
          FROM ex GROUP BY 1, 2
        ), gl AS (
          SELECT h, CAST(sum(cnt_s) AS BIGINT) AS cnt_g
          FROM per GROUP BY 1
        ), j AS (SELECT per.source, per.cnt_s, gl.cnt_g
                 FROM per JOIN gl USING (h))
        SELECT source,
               CAST(sum(cnt_s) AS BIGINT) AS n_ngrams,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN cnt_g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_singleton,
               round(cast(sum(CASE WHEN cnt_g = 1 THEN 1 ELSE 0 END)
                       as double)
                     / cast(sum(cnt_s) as double), 6) AS risk_ratio
        FROM j GROUP BY source
    """

ORACLE_TRAINING["range_partition_planner"] = f"""
        WITH keys AS (
          SELECT l_partkey, CAST(count(*) AS BIGINT) AS w
          FROM lineitem GROUP BY 1
        ), tot AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM keys),
        hashed AS (
          SELECT 'hash' AS scheme,
                 CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
                     1, 7))::BIGINT % {RP_BUCKETS} AS INT) AS bucket,
                 w
          FROM keys
        ), ranged AS (
          SELECT 'range' AS scheme,
                 CAST(((cum - w) * {RP_BUCKETS}) // total AS INT) AS bucket,
                 w
          FROM (
            SELECT w,
                   sum(w) OVER (ORDER BY l_partkey ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum
            FROM keys
          ) c CROSS JOIN tot
        ), per AS (
          SELECT scheme, bucket,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(w) AS BIGINT) AS n_rows
          FROM (SELECT * FROM hashed UNION ALL SELECT * FROM ranged)
          GROUP BY 1, 2
        )
        SELECT scheme, bucket, n_keys, n_rows,
               round(cast(n_rows as double) * {RP_BUCKETS}
                     / cast(total as double), 6) AS load_ratio
        FROM per CROSS JOIN tot
    """

_BL_VALUES = ", ".join(f"({int(b)})" for b in BLOOM_BPK_GRID)
_BL_K = f"cast(round({LN2} * bits_per_key) as int)"

ORACLE_TRAINING["bloom_fpr_plan"] = f"""
        WITH base AS (
          SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_keys
          FROM lineitem
        ), grid AS (
          SELECT CAST(g.bpk AS INT) AS bits_per_key
          FROM (VALUES {_BL_VALUES}) g(bpk)
        )
        SELECT bits_per_key, n_keys,
               CAST(n_keys AS BIGINT) * bits_per_key AS m_bits,
               {_BL_K} AS k_hashes,
               round(pow(1.0 - exp(-cast({_BL_K} as double)
                       / cast(bits_per_key as double)),
                     cast({_BL_K} as double)), 9) AS fpr
        FROM base CROSS JOIN grid
    """

ORACLE_TRAINING["trimmed_mean_values"] = f"""
        WITH ev AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE value IS NOT NULL
        ), per AS (
          SELECT event_type, cents, CAST(count(*) AS BIGINT) AS t
          FROM ev GROUP BY 1, 2
        ), cum AS (
          SELECT event_type, cents, t,
                 sum(t) OVER (PARTITION BY event_type ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM per
        ), nn AS (
          SELECT event_type, CAST(sum(t) AS BIGINT) AS n
          FROM per GROUP BY 1
        ), j AS (
          SELECT c.event_type, c.cents, c.t, nn.n,
                 (({TRIM_PCT} * nn.n) // 100) AS lo,
                 greatest(0, least(c.cum,
                     nn.n - (({TRIM_PCT} * nn.n) // 100))
                   - greatest(c.cum - c.t,
                     ({TRIM_PCT} * nn.n) // 100)) AS kept
          FROM cum c JOIN nn USING (event_type)
        )
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS n,
               CAST(max(lo) AS BIGINT) AS n_trimmed_each_side,
               round(cast(sum(CAST(cents AS HUGEINT) * t) as double)
                     / cast(max(n) as double), 6) AS mean_cents,
               round(cast(sum(CAST(cents AS HUGEINT) * kept) as double)
                     / cast(sum(kept) as double), 6)
                   AS trimmed_mean_cents
        FROM j GROUP BY event_type
    """

_HHI = "cast(ss as double) / (cast(s as double) * cast(s as double))"

ORACLE_TRAINING["hhi_concentration"] = f"""
        WITH per_cust AS (
          SELECT c.c_nationkey, o.o_custkey,
                 CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS rev
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ), mom AS (
          SELECT c_nationkey,
                 CAST(count(*) AS BIGINT) AS n_customers,
                 CAST(sum(rev) AS BIGINT) AS s,
                 sum(CAST(rev AS HUGEINT) * rev) AS ss
          FROM per_cust GROUP BY 1
        )
        SELECT m.c_nationkey, n.n_name, m.n_customers,
               round({_HHI}, 6) AS hhi,
               round(CASE WHEN m.n_customers = 1 THEN NULL
                     ELSE ({_HHI} - 1.0 / cast(n_customers as double))
                          / (1.0 - 1.0 / cast(n_customers as double))
                     END, 6) AS hhi_normalized
        FROM mom m JOIN nation n ON m.c_nationkey = n.n_nationkey
    """

# ---------- round-6 seasonality / sequence-dynamics batch ----------

ORACLE_TRAINING["weekday_anova"] = """
        WITH d AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1
        ), g AS (
          SELECT (d + 4) % 7 AS wd,
                 CAST(count(*) AS BIGINT) AS n_g,
                 CAST(sum(c) AS BIGINT) AS s_g,
                 sum(CAST(c AS HUGEINT) * c) AS ss_g
          FROM d GROUP BY 1
        ), micro AS (
          SELECT n_g, s_g, ss_g,
                 CAST(round(cast(s_g as double) * cast(s_g as double)
                     / cast(n_g as double) * 1000000.0) AS BIGINT)
                   AS term_micro
          FROM g
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n_g) AS BIGINT) AS n,
                 CAST(sum(s_g) AS BIGINT) AS s,
                 sum(ss_g) AS ss,
                 CAST(sum(term_micro) AS BIGINT) AS tm
          FROM micro
        )
        SELECT n AS n_days,
               CASE WHEN k < 2 OR n = k
                      OR cast(ss as double)
                         - cast(tm as double) / 1000000.0 = 0
                    THEN NULL ELSE
               round(((cast(tm as double) / 1000000.0
                       - cast(s as double) * cast(s as double)
                         / cast(n as double))
                      / (cast(k as double) - 1.0))
                     / ((cast(ss as double)
                         - cast(tm as double) / 1000000.0)
                        / (cast(n as double) - cast(k as double))), 6)
                   END AS f_stat,
               CASE WHEN cast(ss as double)
                         - cast(s as double) * cast(s as double)
                           / cast(n as double) = 0
                    THEN NULL ELSE
               round((cast(tm as double) / 1000000.0
                      - cast(s as double) * cast(s as double)
                        / cast(n as double))
                     / (cast(ss as double)
                        - cast(s as double) * cast(s as double)
                          / cast(n as double)), 6) END AS eta_sq,
               CASE WHEN n < 2 THEN NULL ELSE
               round(((cast(ss as double)
                       - cast(s as double) * cast(s as double)
                         / cast(n as double))
                      / (cast(n as double) - 1.0))
                     / (cast(s as double) / cast(n as double)), 6)
                   END AS fano_dispersion
        FROM tot
    """

ORACLE_TRAINING["interevent_burstiness"] = """
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us, event_id
          FROM events
        ), gaps AS (
          SELECT event_type,
                 us - lag(us) OVER (PARTITION BY user_id
                     ORDER BY us, event_id) AS gap
          FROM ev
        ), mom AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_gaps,
                 CAST(sum(gap) AS BIGINT) AS s,
                 sum(CAST(gap AS HUGEINT) * gap) AS ss
          FROM gaps WHERE gap IS NOT NULL GROUP BY 1
        )
        SELECT event_type, n_gaps,
               CAST((CAST(s AS HUGEINT) * 100) // n_gaps AS BIGINT) / 1e2
                   AS mean_gap_us,
               CAST(round(sqrt(cast(ss as double) / cast(n_gaps as double)
                     - (cast(s as double) / cast(n_gaps as double))
                       * (cast(s as double) / cast(n_gaps as double))) * 1e2)
                    AS BIGINT) / 1e2 AS std_gap_us,
               CAST(round((sqrt(cast(ss as double) / cast(n_gaps as double)
                      - (cast(s as double) / cast(n_gaps as double))
                        * (cast(s as double) / cast(n_gaps as double)))
                      - (cast(s as double) / cast(n_gaps as double)))
                     / (sqrt(cast(ss as double) / cast(n_gaps as double)
                        - (cast(s as double) / cast(n_gaps as double))
                          * (cast(s as double) / cast(n_gaps as double)))
                        + (cast(s as double) / cast(n_gaps as double)))
                     * 1e6) AS BIGINT) / 1e6 AS burstiness
        FROM mom
    """

ORACLE_TRAINING["markov_entropy_rate"] = """
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us, event_id
          FROM events
        ), seq AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                     ORDER BY us, event_id) AS a,
                 event_type AS b
          FROM ev
        ), tr AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
          FROM seq WHERE a IS NOT NULL GROUP BY 1, 2
        ), marg AS (
          SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM tr GROUP BY 1
        ), cells AS (
          SELECT tr.a, tr.b, tr.c_ab, marg.c_a,
                 CAST(round(cast(tr.c_ab as double)
                     * ln(cast(marg.c_a as double)
                          / cast(tr.c_ab as double))
                     * 1000000000.0) AS BIGINT) AS nano_term
          FROM tr JOIN marg USING (a)
        )
        SELECT CAST(sum(c_ab) AS BIGINT) AS n_transitions,
               CAST(count(*) AS BIGINT) AS n_cells,
               round(cast(sum(nano_term) as double) / 1000000000.0
                     / cast(sum(c_ab) as double), 6) AS entropy_rate_nats
        FROM cells
    """

# ---------- round-6 cohort / ratio / spatial-density / readability ----------

from .operators.relational import (  # noqa: E402
    GEO_CELL_DEG,
    GEO_CORE_MINPTS,
    GEO_RADIUS_M,
)

ORACLE_TRAINING["cohort_retention_matrix"] = """
        WITH ev AS (
          SELECT user_id,
                 CAST(year(ts) * 12 + month(ts) AS INT) AS mi
          FROM events
        ), cohort AS (
          SELECT user_id, min(mi) AS m0 FROM ev GROUP BY 1
        ), sz AS (
          SELECT m0, CAST(count(*) AS BIGINT) AS n_cohort
          FROM cohort GROUP BY 1
        ), act AS (
          SELECT c.m0, e.mi - c.m0 AS k,
                 CAST(count(*) AS BIGINT) AS n_active
          FROM (SELECT DISTINCT user_id, mi FROM ev) e
          JOIN cohort c USING (user_id)
          GROUP BY 1, 2
        )
        SELECT a.m0 AS cohort_month_idx,
               CAST(a.k AS INT) AS months_since,
               a.n_active, s.n_cohort,
               round(cast(a.n_active as double)
                     / cast(s.n_cohort as double), 6) AS retention
        FROM act a JOIN sz s USING (m0)
    """

_RM_ND = "cast(n as double)"
_RM_MX = f"(cast(sx as double) / {_RM_ND})"
_RM_MY = f"(cast(sy as double) / {_RM_ND})"
_RM_R = "(cast(sx as double) / cast(sy as double))"
_RM_VX = f"(cast(sxx as double) / {_RM_ND} - {_RM_MX} * {_RM_MX})"
_RM_VY = f"(cast(syy as double) / {_RM_ND} - {_RM_MY} * {_RM_MY})"
_RM_CXY = f"(cast(sxy as double) / {_RM_ND} - {_RM_MX} * {_RM_MY})"
_RM_SE = (
    f"sqrt(({_RM_VX} - 2.0 * {_RM_R} * {_RM_CXY}"
    f" + {_RM_R} * {_RM_R} * {_RM_VY}) / ({_RM_ND} * {_RM_MY} * {_RM_MY}))"
)

ORACLE_TRAINING["ratio_metric_ci"] = f"""
        WITH per_user AS (
          SELECT user_id % 2 AS variant, user_id,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          AND value IS NOT NULL
                     THEN CAST(round(value * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS x,
                 CAST(count(*) AS BIGINT) AS y
          FROM events GROUP BY 1, 2
        ), mom AS (
          SELECT variant,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy
          FROM per_user GROUP BY 1
        )
        SELECT variant, n AS n_users,
               round({_RM_R}, 6) AS cents_per_event,
               round({_RM_SE}, 6) AS se,
               round({_RM_R} - {Z_ALPHA} * {_RM_SE}, 6) AS ci_lo,
               round({_RM_R} + {Z_ALPHA} * {_RM_SE}, 6) AS ci_hi
        FROM mom
    """

ORACLE_TRAINING["wasserstein_price_shift"] = """
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END AS is_a
          FROM orders
        ), per AS (
          SELECT cents, CAST(sum(is_a) AS BIGINT) AS a_n,
                 CAST(sum(1 - is_a) AS BIGINT) AS b_n
          FROM o GROUP BY cents
        ), cum AS (
          SELECT cents,
                 sum(a_n) OVER wnd AS ca,
                 sum(b_n) OVER wnd AS cb,
                 lead(cents) OVER (ORDER BY cents) AS next_cents
          FROM per WINDOW wnd AS (ORDER BY cents ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW)
        ), tot AS (
          SELECT CAST(sum(a_n) AS BIGINT) AS n_a,
                 CAST(sum(b_n) AS BIGINT) AS n_b,
                 CAST(min(cents) AS BIGINT) AS v_min,
                 CAST(max(cents) AS BIGINT) AS v_max
          FROM per
        ), seg AS (
          SELECT n_a, n_b, v_min, v_max,
                 abs(CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
                   * (next_cents - cents) AS seg_mass
          FROM cum CROSS JOIN tot
          WHERE next_cents IS NOT NULL
        )
        SELECT n_a, n_b,
               round(cast(sum(seg_mass) as double)
                     / (cast(n_a as double) * cast(n_b as double)), 6)
                   AS w1_cents,
               round(cast(sum(seg_mass) as double)
                     / (cast(n_a as double) * cast(n_b as double))
                     / cast(v_max - v_min as double), 6) AS w1_normalized
        FROM seg GROUP BY n_a, n_b, v_min, v_max
    """

ORACLE_TRAINING["geo_core_points"] = f"""
        WITH pts AS (
          SELECT s_suppkey,
                 CAST((s_suppkey * 37) % 120 - 60 AS DOUBLE) AS lat,
                 CAST((s_suppkey * 91) % 360 - 180 AS DOUBLE) AS lon
          FROM supplier
        ), pairs AS (
          SELECT a.s_suppkey,
                 round(2 * 6371008.8 * asin(sqrt(
                     power(sin(radians(b.lat - a.lat) / 2), 2) +
                     cos(radians(a.lat)) * cos(radians(b.lat)) *
                     power(sin(radians(b.lon - a.lon) / 2), 2))), 3)
                   AS distance_m
          FROM pts a JOIN pts b ON a.s_suppkey <> b.s_suppkey
        ), nbrs AS (
          SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_neighbors
          FROM pairs WHERE distance_m <= {GEO_RADIUS_M}
          GROUP BY 1
        )
        SELECT p.s_suppkey,
               CAST(coalesce(n.n_neighbors, 0) AS BIGINT) AS n_neighbors,
               coalesce(n.n_neighbors, 0) >= {GEO_CORE_MINPTS} AS is_core
        FROM pts p LEFT JOIN nbrs n USING (s_suppkey)
    """

ORACLE_TRAINING["readability_scores"] = """
        WITH d AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                     x -> x <> '')) AS BIGINT) AS words,
                 greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
                     AS BIGINT)) AS sentences,
                 CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                     AS BIGINT) AS syllables
          FROM documents
        ), agg AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(words) AS BIGINT) AS w,
                 CAST(sum(sentences) AS BIGINT) AS s,
                 CAST(sum(syllables) AS BIGINT) AS y
          FROM d GROUP BY 1
        )
        SELECT source, n_docs, w AS n_words, s AS n_sentences,
               y AS n_syllables,
               round(206.835 - 1.015 * (cast(w as double)
                       / cast(s as double))
                     - 84.6 * (cast(y as double) / cast(w as double)), 6)
                   AS flesch_ease
        FROM agg
    """

# ---------- round-6 stylometry / categorical-association / histogram ----------

from .operators.mlstats import CRAMER_DIMS, HIST_CBRT  # noqa: E402
from .operators.textops import (  # noqa: E402
    STYLO_F_SCALE,
    STYLO_TOP_V,
    STYLO_Z_SCALE,
)

_ST_MU = "(cast(sf as double) / cast(ns as double))"
_ST_SD = (
    f"sqrt(cast(sff as double) / cast(ns as double) - {_ST_MU} * {_ST_MU})"
)

ORACLE_TRAINING["stylometry_delta"] = f"""
        WITH toks AS (
          SELECT source,
                 unnest(list_filter(string_split(lower(text), ' '),
                     x -> x <> '')) AS w
          FROM documents
        ), wc AS (
          SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
        ), topv AS (
          SELECT w FROM (
            SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rk
            FROM wc
          ) WHERE rk <= {STYLO_TOP_V}
        ), n_s AS (
          SELECT source, CAST(count(*) AS BIGINT) AS total
          FROM toks GROUP BY 1
        ), sw AS (
          SELECT source, w, CAST(count(*) AS BIGINT) AS cnt_sw
          FROM toks JOIN topv USING (w) GROUP BY 1, 2
        ), dense AS (
          SELECT n_s.source, topv.w,
                 (coalesce(sw.cnt_sw, 0) * {STYLO_F_SCALE}) // n_s.total
                   AS fq
          FROM n_s CROSS JOIN topv
          LEFT JOIN sw ON sw.source = n_s.source AND sw.w = topv.w
        ), stats AS (
          SELECT w, CAST(count(*) AS BIGINT) AS ns,
                 CAST(sum(fq) AS BIGINT) AS sf,
                 sum(CAST(fq AS HUGEINT) * fq) AS sff
          FROM dense GROUP BY 1
        ), z AS (
          SELECT d.source, d.w,
                 CAST(round((cast(fq as double) - {_ST_MU})
                     / nullif({_ST_SD}, 0.0) * {STYLO_Z_SCALE}) AS BIGINT)
                   AS zq
          FROM dense d JOIN stats USING (w)
        ), zz AS (SELECT * FROM z WHERE zq IS NOT NULL)
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_words,
               round(cast(sum(abs(a.zq - b.zq)) as double)
                     / cast(count(*) as double) / {STYLO_Z_SCALE}.0, 6)
                   AS delta
        FROM zz a JOIN zz b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2
    """

_CV_TERM = (
    "CAST(round(pow(cast(o as double)"
    " - cast(rn as double) * cast(cn as double)"
    "   / cast(n as double), 2)"
    " / (cast(rn as double) * cast(cn as double)"
    "    / cast(n as double)) * 1000000.0) AS BIGINT)"
)
_CV_PARTS = []
_CV_LBLS = [lbl for _, lbl in CRAMER_DIMS]
for _i, _a in enumerate(_CV_LBLS):
    for _b in _CV_LBLS[_i + 1 :]:
        _CV_PARTS.append(f"""
        SELECT '{_a}' AS dim_x, '{_b}' AS dim_y, n,
               round(cast(tm as double) / 1000000.0, 6) AS chi2,
               CASE WHEN least(r - 1, c - 1) = 0 THEN NULL ELSE
               round(sqrt(cast(tm as double) / 1000000.0
                     / (cast(n as double)
                        * cast(least(r - 1, c - 1) as double))), 6)
                   END AS cramers_v
        FROM (
          SELECT n, r, c, CAST(sum(term_micro) AS BIGINT) AS tm
          FROM (
            SELECT cl.o, rn, cn, t.n, t.r, t.c,
                   {_CV_TERM} AS term_micro
            FROM (
              SELECT {_a}, {_b}, CAST(count(*) AS BIGINT) AS o
              FROM cv_base GROUP BY 1, 2
            ) cl
            JOIN (
              SELECT {_a}, CAST(sum(o) AS BIGINT) AS rn FROM (
                SELECT {_a}, {_b}, CAST(count(*) AS BIGINT) AS o
                FROM cv_base GROUP BY 1, 2) GROUP BY 1
            ) rr USING ({_a})
            JOIN (
              SELECT {_b}, CAST(sum(o) AS BIGINT) AS cn FROM (
                SELECT {_a}, {_b}, CAST(count(*) AS BIGINT) AS o
                FROM cv_base GROUP BY 1, 2) GROUP BY 1
            ) cc USING ({_b})
            CROSS JOIN (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(count(DISTINCT {_a}) AS BIGINT) AS r,
                     CAST(count(DISTINCT {_b}) AS BIGINT) AS c
              FROM cv_base
            ) t
          )
          GROUP BY n, r, c
        )""")

_CV_SELECT = ",\n               ".join(
    f"{c} AS {lbl}" for c, lbl in CRAMER_DIMS
)

ORACLE_TRAINING["cramers_v_matrix"] = f"""
        WITH cv_base AS (
          SELECT {_CV_SELECT}
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        )
        {" UNION ALL ".join(_CV_PARTS)}
    """

_HB_PARTS = []
for _lbl, _tbl, _ex in (
    ("order_price", "orders", "CAST(round(o_totalprice * 100) AS BIGINT)"),
    ("event_value", "events", "CAST(round(value * 100) AS BIGINT)"),
):
    _h = f"(2.0 * (q3 - q1) / pow(cast(n as double), {HIST_CBRT}))"
    _HB_PARTS.append(f"""
        SELECT '{_lbl}' AS measure, n, v_min, v_max,
               round(q3 - q1, 6) AS iqr,
               CASE WHEN q3 - q1 = 0.0 THEN NULL
                    ELSE CAST(ceil(cast(v_max - v_min as double) / {_h})
                      AS BIGINT) END AS bins_fd,
               CASE WHEN n = 0 THEN NULL ELSE
               CAST(ceil(ln(cast(n as double)) /
                   ln(cast(2 as double))) + 1 AS BIGINT) END AS bins_sturges
        FROM (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(min(v) AS BIGINT) AS v_min,
                 CAST(max(v) AS BIGINT) AS v_max,
                 quantile_cont(v, 0.25) AS q1,
                 quantile_cont(v, 0.75) AS q3
          FROM (SELECT {_ex} AS v FROM {_tbl} WHERE {_ex} IS NOT NULL)
        )""")

ORACLE_TRAINING["optimal_histogram_bins"] = (
    " UNION ALL ".join(_HB_PARTS)
)

# ---------- round-6 SPC / funnel-sensitivity / step-plan batch ----------

from .operators.mlstats import (  # noqa: E402
    CWS_WINDOWS_DAYS,
    P_CHART_SIGMA,
)
from .operators.pipeline import (  # noqa: E402
    SPLIT_TRAIN as _PIPE_TRAIN,
    SPLIT_VAL as _PIPE_VAL,
    TSP_BATCH_SIZES,
)
from .operators.temporal import SEQ_LEN as _TSP_SEQ_LEN  # noqa: E402

_PC_PBAR = "(cast(tx as double) / cast(tn as double))"
_PC_HALF = (
    f"({P_CHART_SIGMA} * sqrt({_PC_PBAR} * (1.0 - {_PC_PBAR})"
    " / cast(n as double)))"
)
_PC_PHAT = "(cast(x as double) / cast(n as double))"

ORACLE_TRAINING["p_chart_days"] = f"""
        WITH d AS (
          SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS BIGINT) AS x
          FROM events GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS tn,
                 CAST(sum(x) AS BIGINT) AS tx
          FROM d
        )
        SELECT d, n, x,
               round({_PC_PHAT}, 6) AS p_hat,
               round({_PC_PBAR}, 6) AS p_bar,
               round(greatest(0.0, {_PC_PBAR} - {_PC_HALF}), 6) AS lcl,
               round(least(1.0, {_PC_PBAR} + {_PC_HALF}), 6) AS ucl,
               ({_PC_PHAT} < greatest(0.0, {_PC_PBAR} - {_PC_HALF})
                OR {_PC_PHAT} > least(1.0, {_PC_PBAR} + {_PC_HALF}))
                   AS out_of_control
        FROM d CROSS JOIN tot
    """

_CWS_CONDS = ",\n                 ".join(
    f"CAST(sum(CASE WHEN dt IS NOT NULL"
    f" AND dt <= {wd * 86_400 * 1_000_000}"
    f" THEN 1 ELSE 0 END) AS BIGINT) AS c_{wd}"
    for wd in CWS_WINDOWS_DAYS
)
_CWS_ROWS = "\n        UNION ALL\n".join(
    f"        SELECT {wd} AS window_days, n_users, c_{wd} AS n_converted"
    f" FROM flat"
    for wd in CWS_WINDOWS_DAYS
)

ORACLE_TRAINING["conversion_window_sensitivity"] = f"""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        ), t0s AS (
          SELECT user_id, min(us) AS t0
          FROM ev WHERE event_type = 'signup' GROUP BY 1
        ), dts AS (
          SELECT e.user_id, min(e.us - t.t0) AS dt
          FROM ev e JOIN t0s t USING (user_id)
          WHERE e.event_type = 'purchase' AND e.us > t.t0
          GROUP BY 1
        ), base AS (
          SELECT t.user_id, d.dt FROM t0s t
          LEFT JOIN dts d USING (user_id)
        ), flat AS (
          SELECT CAST(count(*) AS BIGINT) AS n_users,
                 {_CWS_CONDS}
          FROM base
        )
        SELECT CAST(window_days AS INT) AS window_days, n_users,
               n_converted,
               round(cast(n_converted as double)
                     / cast(n_users as double), 6) AS conversion
        FROM (
{_CWS_ROWS}
        )
    """

_TSP_VALUES = ", ".join(f"({int(b)})" for b in TSP_BATCH_SIZES)

ORACLE_TRAINING["training_step_plan"] = f"""
        WITH docs AS (
          SELECT {_BUCKET_SQL} AS b,
                 CAST(len(list_filter(string_split(text, ' '),
                     x -> x <> '')) AS BIGINT) AS n_tokens
          FROM documents
        ), split AS (
          SELECT CASE WHEN b < {_PIPE_TRAIN} THEN 'train'
                      WHEN b < {_PIPE_VAL} THEN 'val'
                      ELSE 'test' END AS split,
                 n_tokens
          FROM docs
        ), per AS (
          SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS tokens
          FROM split GROUP BY 1
        ), grid AS (
          SELECT p.split, p.n_docs, p.tokens,
                 (p.tokens + {_TSP_SEQ_LEN - 1}) // {_TSP_SEQ_LEN}
                   AS n_seqs,
                 CAST(g.bs AS INT) AS batch_size
          FROM per p CROSS JOIN (VALUES {_TSP_VALUES}) g(bs)
        )
        SELECT split, batch_size, n_docs, tokens,
               CAST(n_seqs AS BIGINT) AS n_seqs,
               CAST(n_seqs // batch_size AS BIGINT) AS steps_per_epoch,
               CAST(n_seqs % batch_size AS BIGINT) AS seqs_dropped,
               round(cast(n_seqs % batch_size as double)
                     / cast(n_seqs as double), 6) AS drop_fraction
        FROM grid
    """

# ---------- round-6 rank-association / tail / count-model batch ----------

from .operators.mlstats import HILL_K  # noqa: E402

ORACLE_TRAINING["kendall_tau_daily"] = """
        WITH d AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS x,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS y
          FROM orders GROUP BY 1
        ), pairs AS (
          SELECT CAST(sign(b.x - a.x) AS BIGINT)
                 * CAST(sign(b.y - a.y) AS BIGINT) AS cmp
          FROM d a JOIN d b ON b.d > a.d
        ), cd AS (
          SELECT CAST(count(*) AS BIGINT) AS n0,
                 CAST(sum(CASE WHEN cmp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS c,
                 CAST(sum(CASE WHEN cmp = -1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS dd
          FROM pairs
        ), tx AS (
          SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1
          FROM (SELECT x, count(*) AS t FROM d GROUP BY 1)
        ), ty AS (
          SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2
          FROM (SELECT y, count(*) AS t FROM d GROUP BY 1)
        )
        SELECT n0, CAST(c - dd AS BIGINT) AS s, n1, n2,
               round(cast(c - dd as double)
                     / sqrt(cast(n0 - n1 as double)
                            * cast(n0 - n2 as double)), 6) AS tau_b
        FROM cd CROSS JOIN tx CROSS JOIN ty
    """

_MK_VAR = (
    "(cast(nd as double) * (cast(nd as double) - 1.0)"
    " * (2.0 * cast(nd as double) + 5.0)"
    " - cast(tsum as double)) / 18.0"
)

ORACLE_TRAINING["mann_kendall_trend"] = f"""
        WITH d AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS x
          FROM orders GROUP BY 1
        ), sp AS (
          SELECT CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n0
          FROM d a JOIN d b ON b.d > a.d
        ), ties AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum,
                 CAST(sum(t) AS BIGINT) AS nd
          FROM (SELECT x, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1)
        )
        SELECT nd AS n_days, s,
               round({_MK_VAR}, 6) AS var_s,
               round(CASE WHEN s > 0
                          THEN (cast(s as double) - 1.0) / sqrt({_MK_VAR})
                     WHEN s < 0
                          THEN (cast(s as double) + 1.0) / sqrt({_MK_VAR})
                     ELSE 0.0 END, 6) AS z_stat
        FROM sp CROSS JOIN ties
    """

ORACLE_TRAINING["hill_tail_index"] = f"""
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ), per AS (
          SELECT cents, CAST(count(*) AS BIGINT) AS t
          FROM o GROUP BY 1
        ), cum AS (
          SELECT cents, t,
                 sum(t) OVER (ORDER BY cents DESC ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS cumd
          FROM per
        ), thr AS (
          SELECT cents AS thr FROM cum
          WHERE cumd - t < {HILL_K + 1} AND {HILL_K + 1} <= cumd
        ), terms AS (
          SELECT thr,
                 t * CAST(round(ln(cast(cents as double)
                     / cast(thr as double)) * 1000000000.0) AS BIGINT)
                   AS nano,
                 t
          FROM per CROSS JOIN thr
          WHERE cents > thr
        )
        SELECT thr AS threshold_cents,
               CAST(sum(t) AS BIGINT) AS n_exceed,
               round({HILL_K}.0
                     / (cast(sum(nano) as double) / 1000000000.0), 6)
                   AS hill_alpha
        FROM terms GROUP BY thr
    """

_NB_MU = "(cast(s as double) / cast(n as double))"
_NB_V = f"(cast(ss as double) / cast(n as double) - {_NB_MU} * {_NB_MU})"
_NB_R = f"({_NB_MU} * {_NB_MU} / nullif({_NB_V} - {_NB_MU}, 0.0))"

ORACLE_TRAINING["negbin_fit_orders"] = f"""
        WITH per AS (
          SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x
          FROM lineitem GROUP BY 1
        ), mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS s,
                 sum(CAST(x AS HUGEINT) * x) AS ss
          FROM per
        )
        SELECT n,
               round({_NB_MU}, 6) AS mean_lines,
               round({_NB_V}, 6) AS var_lines,
               round({_NB_V} / {_NB_MU}, 6) AS dispersion_index,
               round(CASE WHEN {_NB_V} <= {_NB_MU} THEN NULL
                     ELSE {_NB_R} END, 6) AS nb_r,
               round(CASE WHEN {_NB_V} <= {_NB_MU} THEN NULL
                     ELSE {_NB_R} / ({_NB_R} + {_NB_MU}) END, 6) AS nb_p
        FROM mom
    """

# ---------- round-6 DP-planning / histogram / AMS / phrase batch ----------

from .operators.mlstats import AMS_K, DP_EPS_GRID, DP_ERR_T  # noqa: E402

_DP_B = "(cast(sensitivity as double) / epsilon)"
_DP_VALUES = ", ".join(f"({e})" for e in DP_EPS_GRID)

ORACLE_TRAINING["dp_laplace_plan"] = f"""
        WITH per AS (
          SELECT user_id,
                 CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2
        ), sens AS (
          SELECT CAST(max(c) AS BIGINT) AS sensitivity FROM per
        ), grid AS (
          SELECT sensitivity, CAST(epsilon AS DOUBLE) AS epsilon
          FROM sens CROSS JOIN (VALUES {_DP_VALUES}) AS g(epsilon)
        )
        SELECT epsilon, sensitivity,
               round({_DP_B}, 6) AS laplace_scale,
               round(exp(-{DP_ERR_T} / {_DP_B}), 6) AS p_err_gt_10
        FROM grid
    """

_PH_H = f"(2.0 * (q3 - q1) / pow(cast(n as double), {HIST_CBRT}))"
_PH_BINS = (
    f"(CASE WHEN q3 = q1 OR v_max = v_min THEN 1 ELSE"
    f" CAST(ceil(cast(v_max - v_min as double) / {_PH_H}) AS BIGINT) END)"
)

ORACLE_TRAINING["price_histogram"] = f"""
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
          FROM orders
        ), st AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(min(v) AS BIGINT) AS v_min,
                 CAST(max(v) AS BIGINT) AS v_max,
                 quantile_cont(v, 0.25) AS q1,
                 quantile_cont(v, 0.75) AS q3
          FROM o
        ), binned AS (
          SELECT v_min, v_max, {_PH_BINS} AS n_bins,
                 CASE WHEN {_PH_BINS} = 1 THEN 0 ELSE
                 least({_PH_BINS} - 1,
                       CAST(floor(cast(v - v_min as double)
                            / (cast(v_max - v_min as double)
                               / {_PH_BINS})) AS BIGINT)) END AS bin
          FROM o CROSS JOIN st
        )
        SELECT bin, n_bins,
               round(cast(v_min as double) + bin
                     * (cast(v_max - v_min as double)
                        / cast(n_bins as double)), 6) AS bin_lo_cents,
               CAST(count(*) AS BIGINT) AS cnt
        FROM binned GROUP BY bin, v_min, v_max, n_bins
    """

ORACLE_TRAINING["ams_f2_sketch"] = f"""
        WITH per AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS f
          FROM events GROUP BY 1
        ), exact AS (
          SELECT sum(CAST(f AS HUGEINT) * f) AS f2_exact,
                 CAST(count(*) AS BIGINT) AS n_users
          FROM per
        ), ks AS (
          SELECT k,
                 CASE WHEN strpos('02468ace',
                        substr(md5(CAST(k AS VARCHAR) || '|'
                               || CAST(user_id AS VARCHAR)), 32, 1)) > 0
                      THEN f ELSE -f END AS sf
          FROM per CROSS JOIN (SELECT unnest(range(0, {AMS_K})) AS k)
        ), z AS (
          SELECT k, CAST(sum(sf) AS BIGINT) AS z FROM ks GROUP BY 1
        ), est AS (
          SELECT sum(CAST(z AS HUGEINT) * z) AS zz,
                 CAST(count(*) AS BIGINT) AS kk
          FROM z
        )
        SELECT n_users, CAST(f2_exact AS BIGINT) AS f2_exact,
               round(cast(zz as double) / cast(kk as double), 6)
                   AS f2_estimate,
               round(abs(cast(zz as double) / cast(kk as double)
                         - cast(f2_exact as double))
                     / cast(f2_exact as double), 6) AS rel_error
        FROM est CROSS JOIN exact
    """

ORACLE_TRAINING["phrase_match_docs"] = f"""
        WITH docs AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), big AS (
          SELECT unnest(list_slice(t, 1, len(t) - 1)) AS w1,
                 unnest(list_slice(t, 2, len(t))) AS w2
          FROM docs
        ), cnt AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
          FROM big GROUP BY 1, 2
        ), top AS (
          SELECT w1, w2 FROM cnt
          QUALIFY row_number() OVER (ORDER BY cnt DESC, w1, w2) = 1
        ), hits AS (
          SELECT d.doc_id, p.w1, p.w2,
                 CASE WHEN len(t) < 2 THEN CAST(0 AS BIGINT)
                      ELSE CAST(len(list_filter(range(1, len(t)),
                             i -> t[i] = p.w1 AND t[i + 1] = p.w2))
                        AS BIGINT) END AS n_occurrences
          FROM docs d CROSS JOIN top p
        )
        SELECT doc_id, w1 || ' ' || w2 AS phrase, n_occurrences
        FROM hits WHERE n_occurrences > 0
    """

# ---------- round-6 isotonic / PACF / absorption / precedence batch ----------

from .operators.mlstats import (  # noqa: E402
    ABSORB_STEPS,
    ABSORB_TARGET,
    ISO_BINS,
    PACF_LAGS,
    PACF_PHI22,
    PACF_PHI33,
)

ORACLE_TRAINING["isotonic_calibration"] = f"""
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                 CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END AS y
          FROM orders
        ), st AS (
          SELECT CAST(min(v) AS BIGINT) AS v_min,
                 CAST(max(v) AS BIGINT) AS v_max
          FROM o
        ), bins AS (
          SELECT (v - v_min) // ((v_max - v_min) // {ISO_BINS} + 1) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS s
          FROM o CROSS JOIN st GROUP BY 1
        ), cum AS (
          SELECT bin, n, s,
                 CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS r,
                 CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                 CAST(sum(s) OVER (ORDER BY bin) AS BIGINT) AS cs
          FROM bins
        ), lo AS (
          SELECT r AS i0, cn AS n0, cs AS s0 FROM cum
          UNION ALL
          SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        ), seg AS (
          SELECT l.i0 + 1 AS i, c.r AS j,
                 cast(c.cs - l.s0 as double)
                 / cast(c.cn - l.n0 as double) AS avg_ij
          FROM cum c JOIN lo l ON l.i0 < c.r
        ), inner_min AS (
          SELECT g.r AS t, seg.i, min(seg.avg_ij) AS mn
          FROM seg JOIN cum g ON seg.i <= g.r AND seg.j >= g.r
          GROUP BY 1, 2
        ), iso AS (
          SELECT t, max(mn) AS iso FROM inner_min GROUP BY 1
        )
        SELECT g.bin, g.n,
               round(cast(g.s as double) / cast(g.n as double), 6)
                   AS raw_rate,
               round(i.iso, 6) AS iso_rate
        FROM cum g JOIN iso i ON i.t = g.r
    """

_PACF_VALUES = ", ".join(f"({k})" for k in PACF_LAGS)
_PACF_RS = ",\n               ".join(
    f"max(CASE WHEN lag = {k} THEN r END) AS r{k}" for k in PACF_LAGS
)

ORACLE_TRAINING["pacf_daily"] = f"""
        WITH d AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1
        ), j AS (
          SELECT l.lag, a.c AS c, b.c AS cp
          FROM d a
          CROSS JOIN (VALUES {_PACF_VALUES}) AS l(lag)
          JOIN d b ON b.d = a.d - l.lag
        ), mom AS (
          SELECT lag, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(c AS HUGEINT)) AS s_a,
                 sum(CAST(cp AS HUGEINT)) AS s_b,
                 sum(CAST(c AS HUGEINT) * c) AS ss_a,
                 sum(CAST(cp AS HUGEINT) * cp) AS ss_b,
                 sum(CAST(c AS HUGEINT) * cp) AS sx_a_b
          FROM j GROUP BY 1
        ), r AS (
          SELECT lag, {corr_pair_expr('a', 'b', 'HUGEINT')} AS r FROM mom
        ), piv AS (
          SELECT {_PACF_RS} FROM r
        )
        SELECT round(r1, 6) AS acf_1, round(r2, 6) AS acf_2,
               round(r3, 6) AS acf_3, round(r1, 6) AS pacf_1,
               round({PACF_PHI22}, 6) AS pacf_2,
               round({PACF_PHI33}, 6) AS pacf_3
        FROM piv
    """

_ABS_PARTS = [f"""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us, event_id
          FROM events
        ), lagged AS (
          SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY us, event_id) AS a,
                 event_type AS b
          FROM ev
        ), tr AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
          FROM lagged WHERE a IS NOT NULL GROUP BY 1, 2
        ), marg AS (
          SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM tr GROUP BY 1
        ), h0 AS (
          SELECT a AS st, CAST(0 AS BIGINT) AS h FROM marg
        )"""]
for _k in range(ABSORB_STEPS):
    _ABS_PARTS.append(f""", h{_k + 1} AS (
          SELECT t.a AS st,
                 CAST(round(cast(sum(t.c_ab
                        * CASE WHEN t.b = '{ABSORB_TARGET}'
                               THEN 1000000000
                               ELSE coalesce(h.h, 0) END) as double)
                      / cast(m.c_a as double)) AS BIGINT) AS h
          FROM tr t
          JOIN marg m ON m.a = t.a
          LEFT JOIN h{_k} h ON h.st = t.b
          GROUP BY t.a, m.c_a
        )""")
_ABS_PARTS.append(f"""
        SELECT h.st AS state, m.c_a AS n_out,
               round(cast(h.h as double) / 1000000000.0, 6)
                   AS p_absorb_{ABSORB_STEPS}
        FROM h{ABSORB_STEPS} h JOIN marg m ON m.a = h.st
    """)
ORACLE_TRAINING["markov_absorption"] = "".join(_ABS_PARTS)

ORACLE_TRAINING["event_precedence_matrix"] = """
        WITH firsts AS (
          SELECT user_id, event_type, min(epoch_us(ts)) AS us0
          FROM events GROUP BY 1, 2
        )
        SELECT a.event_type AS a, b.event_type AS b,
               CAST(count(*) AS BIGINT) AS n_both,
               CAST(sum(CASE WHEN a.us0 < b.us0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_a_first,
               round(cast(sum(CASE WHEN a.us0 < b.us0 THEN 1 ELSE 0 END)
                          as double) / cast(count(*) as double), 6)
                   AS p_a_first
        FROM firsts a
        JOIN firsts b ON b.user_id = a.user_id
                     AND a.event_type <> b.event_type
        GROUP BY 1, 2
    """

# ---------- round-7 stats / structure batch ----------

from .operators.mlstats import (  # noqa: E402
    CHOW_F,
    JB_KURT,
    JB_SKEW,
    JB_STAT,
    MAHA_K,
    WILSON_CENTER,
    WILSON_HALF,
    WILSON_P,
    chow_sse_expr,
    maha_d2_expr,
    welch_df_expr,
    welch_mean_expr,
    welch_t_expr,
)
from .operators.temporal import (  # noqa: E402
    RDF_HALF_LIFE,
    RDF_INTERCEPT,
    RDF_SLOPE,
)
from .operators.textops import INTRADOC_NGRAM_K
from .operators.dedup import PREFIX_CLUSTER_W
from .operators.graph import RICH_CLUB_KS

ORACLE_TRAINING["welch_ttest_values"] = f"""
        WITH ev AS (
          SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type IN ('purchase', 'click')
        ), mom AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(cents AS HUGEINT)) AS s,
                 sum(CAST(cents AS HUGEINT) * cents) AS ss
          FROM ev GROUP BY 1
        ), piv AS (
          SELECT max(CASE WHEN g = 'a' THEN n END) AS n_a,
                 max(CASE WHEN g = 'a' THEN s END) AS s_a,
                 max(CASE WHEN g = 'a' THEN ss END) AS ss_a,
                 max(CASE WHEN g = 'b' THEN n END) AS n_b,
                 max(CASE WHEN g = 'b' THEN s END) AS s_b,
                 max(CASE WHEN g = 'b' THEN ss END) AS ss_b
          FROM mom
        )
        SELECT n_a AS n_purchase, n_b AS n_click,
               round({welch_mean_expr('a')}, 6) AS mean_purchase,
               round({welch_mean_expr('b')}, 6) AS mean_click,
               round({welch_t_expr('HUGEINT')}, 6) AS t_welch,
               round({welch_df_expr('HUGEINT')}, 6) AS df_welch
        FROM piv
    """

ORACLE_TRAINING["jarque_bera_priority"] = f"""
        WITH o AS (
          SELECT o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                 CAST(round(o_totalprice * 100) AS BIGINT)
                   * CAST(round(o_totalprice * 100) AS BIGINT) AS c2
          FROM orders
        ), mom AS (
          SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(c AS HUGEINT)) AS s1,
                 sum(CAST(c2 AS HUGEINT)) AS s2,
                 sum(CAST(c2 AS HUGEINT) * c) AS s3,
                 sum(CAST(c2 AS HUGEINT) * c2) AS s4
          FROM o GROUP BY 1
        )
        SELECT o_orderpriority AS priority, n,
               round({JB_SKEW}, 6) AS skewness,
               round({JB_KURT}, 6) AS excess_kurtosis,
               round({JB_STAT}, 6) AS jb_stat
        FROM mom
    """

ORACLE_TRAINING["wilson_ci_variants"] = f"""
        WITH pu AS (
          SELECT user_id % 2 AS variant, user_id,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     AS converted
          FROM events GROUP BY 1, 2
        ), agg AS (
          SELECT variant, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(converted) AS BIGINT) AS x
          FROM pu GROUP BY 1
        )
        SELECT variant, n, x AS conversions,
               round({WILSON_P}, 6) AS p_hat,
               round({WILSON_CENTER} - {WILSON_HALF}, 6) AS wilson_lo,
               round({WILSON_CENTER} + {WILSON_HALF}, 6) AS wilson_hi
        FROM agg
    """

ORACLE_TRAINING["mahalanobis_outliers"] = f"""
        WITH li AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(round(l_quantity) AS BIGINT) AS x,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem
        ), st AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy
          FROM li
        )
        SELECT l_orderkey, l_linenumber, x AS quantity, y AS price_cents,
               round({maha_d2_expr('HUGEINT')}, 6) AS mahalanobis_d2
        FROM li CROSS JOIN st
        ORDER BY {maha_d2_expr('HUGEINT')} DESC, l_orderkey, l_linenumber
        LIMIT {MAHA_K}
    """

_CHOW_MOMS = ",\n                 ".join(
    f"CAST(sum(CASE WHEN g = {g} THEN {src} ELSE 0 END) AS BIGINT)"
    f" AS {name}_{g}"
    for g in (1, 2)
    for name, src in (
        ("n", "1"),
        ("sx", "d"),
        ("sy", "c"),
        ("sxx", "d * d"),
        ("syy", "c * c"),
        ("sxy", "d * c"),
    )
)
_CHOW_POOLED = ", ".join(
    f"{c}_1 + {c}_2 AS {c}_p" for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
)

ORACLE_TRAINING["chow_break_test"] = f"""
        WITH daily AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1
        ), mid AS (
          SELECT min(d) + (max(d) - min(d)) // 2 AS mid FROM daily
        ), seg AS (
          SELECT CASE WHEN d < mid THEN 1 ELSE 2 END AS g, d, c, mid
          FROM daily CROSS JOIN mid
        ), mom AS (
          SELECT max(mid) AS break_day,
                 {_CHOW_MOMS}
          FROM seg
        ), pooled AS (
          SELECT *, {_CHOW_POOLED} FROM mom
        ), sse AS (
          SELECT break_day, n_p, n_1 AS n_pre, n_2 AS n_post,
                 {chow_sse_expr('p')} AS sse_p,
                 {chow_sse_expr('1')} AS sse_1,
                 {chow_sse_expr('2')} AS sse_2
          FROM pooled
        )
        SELECT break_day, n_p AS n_days, n_pre, n_post,
               round(sse_p, 6) AS sse_pooled,
               round(sse_1 + sse_2, 6) AS sse_segments,
               round({CHOW_F}, 6) AS chow_f
        FROM sse
    """

_RC_KS = ", ".join(str(k) for k in RICH_CLUB_KS)

ORACLE_TRAINING["rich_club_coefficient"] = f"""
        WITH edges0 AS ({{WSQL}}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        cw AS (
          SELECT a.city_key, a.src AS src_a, b.src AS src_b
          FROM e a
          JOIN e b ON a.city_key = b.city_key AND a.dst = b.dst
                  AND a.src < b.src
          GROUP BY 1, 2, 3
        ), deg AS (
          SELECT city_key, node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT city_key, src_a AS node FROM cw
            UNION ALL SELECT city_key, src_b AS node FROM cw
          ) GROUP BY 1, 2
        ), ks AS (SELECT unnest([{_RC_KS}]) AS k),
        nodes_k AS (
          SELECT d.city_key, k.k, CAST(count(*) AS BIGINT) AS n_nodes
          FROM deg d CROSS JOIN ks k WHERE d.deg >= k.k GROUP BY 1, 2
        ), edges_k AS (
          SELECT cw.city_key, k.k, CAST(count(*) AS BIGINT) AS n_edges
          FROM cw
          JOIN deg da ON da.city_key = cw.city_key AND da.node = cw.src_a
          JOIN deg db ON db.city_key = cw.city_key AND db.node = cw.src_b
          CROSS JOIN ks k
          WHERE da.deg >= k.k AND db.deg >= k.k
          GROUP BY 1, 2
        )
        SELECT n.city_key, CAST(n.k AS BIGINT) AS k, n.n_nodes,
               CAST(coalesce(e2.n_edges, 0) AS BIGINT) AS n_edges,
               round(CAST(2 * coalesce(e2.n_edges, 0) AS DOUBLE)
                     / CAST(nullif(n.n_nodes * (n.n_nodes - 1), 0)
                            AS DOUBLE), 6) AS phi
        FROM nodes_k n
        LEFT JOIN edges_k e2 ON e2.city_key = n.city_key AND e2.k = n.k
    """

_IDK = INTRADOC_NGRAM_K

ORACLE_TRAINING["intradoc_duplication"] = f"""
        WITH toks AS (
          SELECT source, {_TOKS} AS t FROM documents
        ), g AS (
          SELECT source,
                 CASE WHEN len(t) < {_IDK} THEN []
                      ELSE list_transform(range(1, len(t) - {_IDK - 2}),
                           i -> array_to_string(t[i:i+{_IDK - 1}], ' '))
                 END AS g
          FROM toks
        ), per_doc AS (
          SELECT source, CAST(len(g) AS BIGINT) AS n_grams,
                 CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct
          FROM g
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_grams >= 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_scored,
               CAST(sum(n_grams) AS BIGINT) AS total_grams,
               CAST(sum(n_distinct) AS BIGINT) AS distinct_grams,
               round(1.0 - CAST(sum(n_distinct) AS DOUBLE)
                     / CAST(nullif(sum(n_grams), 0) AS DOUBLE), 6)
                   AS dup_share
        FROM per_doc GROUP BY 1
    """

ORACLE_TRAINING["prefix_cluster_stats"] = f"""
        SELECT md5(substr(text, 1, {PREFIX_CLUSTER_W})) AS prefix_key,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(min(doc_id) AS BIGINT) AS min_doc_id
        FROM documents
        WHERE n_chars >= {PREFIX_CLUSTER_W}
        GROUP BY 1 HAVING count(*) >= 2
    """

ORACLE_TRAINING["retention_decay_fit"] = f"""
        WITH ev AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), fs AS (
          SELECT user_id, min(day) AS day0 FROM ev GROUP BY 1
        ), nu AS (
          SELECT CAST(count(*) AS BIGINT) AS n_users FROM fs
        ), offs AS (
          SELECT datediff('day', f.day0, e.day) AS d,
                 CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
          FROM ev e JOIN fs f USING (user_id)
          WHERE datediff('day', f.day0, e.day) >= 1
          GROUP BY 1
        ), pts AS (
          SELECT d,
                 CAST(round(ln(CAST(n_active AS DOUBLE)
                               / CAST(n_users AS DOUBLE))
                            * 1000000000.0) AS BIGINT) AS l
          FROM offs CROSS JOIN nu
        ), mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(d) AS BIGINT) AS sd,
                 CAST(sum(l) AS BIGINT) AS sl,
                 CAST(sum(d * d) AS BIGINT) AS sdd,
                 CAST(sum(d * l) AS BIGINT) AS sdl
          FROM pts
        )
        SELECT n AS n_points, round({RDF_SLOPE}, 6) AS decay_rate,
               round({RDF_INTERCEPT}, 6) AS log_intercept,
               round({RDF_HALF_LIFE}, 6) AS half_life_days
        FROM mom
    """

# ---------- round-7 second batch: CI / lead-lag / privacy / banding ----------

from .operators.mlstats import (  # noqa: E402
    XCORR_LAGS,
    newcombe_hi_expr,
    newcombe_lo_expr,
    wilson_p_expr,
)
from .operators.rangeops import varpop_expr
from .operators.relational import PRICE_BAND_CENTS, T_CLOSE_MAX

ORACLE_TRAINING["newcombe_diff_ci"] = f"""
        WITH pu AS (
          SELECT user_id % 2 AS variant, user_id,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     AS converted
          FROM events GROUP BY 1, 2
        ), agg AS (
          SELECT variant, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(converted) AS BIGINT) AS x
          FROM pu GROUP BY 1
        ), piv AS (
          SELECT max(CASE WHEN variant = 0 THEN n END) AS n_0,
                 max(CASE WHEN variant = 0 THEN x END) AS x_0,
                 max(CASE WHEN variant = 1 THEN n END) AS n_1,
                 max(CASE WHEN variant = 1 THEN x END) AS x_1
          FROM agg
        )
        SELECT n_0 AS n_control, x_0 AS conv_control,
               n_1 AS n_treat, x_1 AS conv_treat,
               round({wilson_p_expr('_0')} - {wilson_p_expr('_1')}, 6)
                   AS p_diff,
               round({newcombe_lo_expr()}, 6) AS diff_lo,
               round({newcombe_hi_expr()}, 6) AS diff_hi
        FROM piv
    """

_XC_VALUES = ", ".join(f"({k})" for k in XCORR_LAGS)

ORACLE_TRAINING["xcorr_purchase_click"] = f"""
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                 CAST(count(*) AS BIGINT) AS c
          FROM events WHERE event_type IN ('purchase', 'click')
          GROUP BY 1, 2
        ), p AS (
          SELECT day, c AS cp FROM daily WHERE event_type = 'purchase'
        ), cl AS (
          SELECT day AS day_c, c AS cc FROM daily
          WHERE event_type = 'click'
        ), j AS (
          SELECT l.lag, p.cp AS a, cl.cc AS b
          FROM p CROSS JOIN (VALUES {_XC_VALUES}) AS l(lag)
          JOIN cl ON cl.day_c = p.day - l.lag
        ), mom AS (
          SELECT lag, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(a AS HUGEINT)) AS s_a,
                 sum(CAST(b AS HUGEINT)) AS s_b,
                 sum(CAST(a AS HUGEINT) * a) AS ss_a,
                 sum(CAST(b AS HUGEINT) * b) AS ss_b,
                 sum(CAST(a AS HUGEINT) * b) AS sx_a_b
          FROM j GROUP BY 1
        )
        SELECT CAST(lag AS INTEGER) AS lag, n AS n_days,
               round({corr_pair_expr('a', 'b', 'HUGEINT')}, 6) AS xcorr
        FROM mom
    """

ORACLE_TRAINING["t_closeness_audit"] = f"""
        WITH cust AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
          FROM customer
        ), bounds AS (
          SELECT quantile_cont(bal_c,
                   [{", ".join(str(i / 10) for i in range(1, 10))}]) AS bs
          FROM cust
        ), binned AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(1 + {" + ".join(
                     f"CASE WHEN bal_c > bs[{i}] THEN 1 ELSE 0 END"
                     for i in range(1, 10))} AS INTEGER) AS sens
          FROM cust CROSS JOIN bounds
        ), cells AS (
          SELECT c_nationkey, c_mktsegment, sens,
                 CAST(count(*) AS BIGINT) AS n_gc
          FROM binned GROUP BY 1, 2, 3
        ), groups AS (
          SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_g
          FROM binned GROUP BY 1, 2
        ), gdist AS (
          SELECT sens, CAST(count(*) AS BIGINT) AS n_c FROM binned GROUP BY 1
        ), total AS (
          SELECT CAST(count(*) AS BIGINT) AS nn FROM binned
        ), grid AS (
          SELECT g.c_nationkey, g.c_mktsegment, g.n_g, t.nn,
                 abs(coalesce(c.n_gc, 0) * t.nn - gl.n_c * g.n_g) AS dev
          FROM groups g
          CROSS JOIN (SELECT unnest(range(1, 11)) AS sens) s
          LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
                           AND c.c_mktsegment = g.c_mktsegment
                           AND c.sens = s.sens
          JOIN gdist gl ON gl.sens = s.sens
          CROSS JOIN total t
        )
        SELECT c_nationkey, c_mktsegment, n_g AS n,
               round(CAST(sum(dev) AS DOUBLE)
                     / (2.0 * CAST(n_g AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
                   AS t_distance,
               CAST(sum(dev) AS DOUBLE)
                 / (2.0 * CAST(n_g AS DOUBLE) * CAST(nn AS DOUBLE))
                 <= {T_CLOSE_MAX} AS t_close
        FROM grid GROUP BY c_nationkey, c_mktsegment, n_g, nn
    """

ORACLE_TRAINING["price_band_pairs"] = f"""
        WITH parts AS (
          SELECT p_partkey AS k,
                 CAST(round(p_retailprice * 100) AS BIGINT) AS c,
                 CAST(round(p_retailprice * 100) AS BIGINT)
                   // {PRICE_BAND_CENTS} AS band
          FROM part
        ), same AS (
          SELECT a.band, CAST(count(*) AS BIGINT) AS n_pairs_within
          FROM parts a JOIN parts b
            ON b.band = a.band AND a.k < b.k
          WHERE abs(a.c - b.c) <= {PRICE_BAND_CENTS}
          GROUP BY 1
        ), adj AS (
          SELECT a.band, CAST(count(*) AS BIGINT) AS n_pairs_adjacent
          FROM parts a JOIN parts b ON b.band = a.band + 1
          WHERE abs(a.c - b.c) <= {PRICE_BAND_CENTS}
          GROUP BY 1
        ), per_band AS (
          SELECT band, CAST(count(*) AS BIGINT) AS n_parts
          FROM parts GROUP BY 1
        )
        SELECT p.band, p.n_parts,
               CAST(coalesce(s.n_pairs_within, 0) AS BIGINT)
                   AS n_pairs_within,
               CAST(coalesce(a.n_pairs_adjacent, 0) AS BIGINT)
                   AS n_pairs_adjacent
        FROM per_band p
        LEFT JOIN same s ON s.band = p.band
        LEFT JOIN adj a ON a.band = p.band
    """

ORACLE_TRAINING["seasonality_strength"] = f"""
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents
          FROM events GROUP BY event_type, day_idx
        ), trended AS (
          SELECT event_type, day_idx, cents,
                 CASE WHEN count(*) OVER w = 7
                      THEN CAST(sum(cents) OVER w AS BIGINT) END AS s7
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), seas AS (
          SELECT event_type, (day_idx + 4) % 7 AS weekday,
                 (CAST(sum(7 * cents - s7) AS BIGINT) * 1000000)
                     // (7 * count(*)) AS seasonal_micro
          FROM trended WHERE s7 IS NOT NULL
          GROUP BY event_type, weekday
        ), comp AS (
          SELECT t.event_type,
                 t.cents * 1000000 - t.s7 * 1000000 // 7 AS detr,
                 t.cents * 1000000 - t.s7 * 1000000 // 7
                   - s.seasonal_micro AS r,
                 t.cents * 1000000 - s.seasonal_micro AS tr
          FROM trended t
          JOIN seas s ON s.event_type = t.event_type
                     AND s.weekday = (t.day_idx + 4) % 7
          WHERE t.s7 IS NOT NULL
        ), mom AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_r,
                 CAST(count(*) AS BIGINT) AS n_d,
                 CAST(count(*) AS BIGINT) AS n_t,
                 sum(CAST(r AS HUGEINT)) AS s_r,
                 sum(CAST(r AS HUGEINT) * r) AS ss_r,
                 sum(CAST(detr AS HUGEINT)) AS s_d,
                 sum(CAST(detr AS HUGEINT) * detr) AS ss_d,
                 sum(CAST(tr AS HUGEINT)) AS s_t,
                 sum(CAST(tr AS HUGEINT) * tr) AS ss_t
          FROM comp GROUP BY 1
        )
        SELECT event_type, n_r AS n_days,
               round(greatest(0.0, 1.0 - {varpop_expr('r', 'HUGEINT')}
                     / {varpop_expr('d', 'HUGEINT')}), 6)
                   AS strength_seasonal,
               round(greatest(0.0, 1.0 - {varpop_expr('r', 'HUGEINT')}
                     / {varpop_expr('t', 'HUGEINT')}), 6)
                   AS strength_trend
        FROM mom
    """

# ---------- round-7 third batch: EB / Theil / s-curve / centroids ----------

from .operators.mlstats import EB_M, EB_SHRUNK, EB_STRENGTH  # noqa: E402
from .operators.rangeops import THEIL_T
from .operators.dedup import S_CURVE_CONFIGS, S_CURVE_GRID, s_curve_p_expr

ORACLE_TRAINING["eb_shrunk_rates"] = f"""
        WITH o AS (
          SELECT c.c_nationkey,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 ELSE 0 END) AS BIGINT) AS x
          FROM orders JOIN customer c ON c.c_custkey = o_custkey
          GROUP BY 1
        ), rates AS (
          SELECT *, CAST(round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                               * 1000000000.0) AS BIGINT) AS p_nano
          FROM o
        ), prior AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(p_nano) AS BIGINT) AS sp,
                 sum(CAST(p_nano AS HUGEINT) * p_nano) AS spp
          FROM rates
        )
        SELECT c_nationkey, n, x AS n_urgent,
               round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
               round({EB_M}, 6) AS prior_mean,
               round({EB_STRENGTH}, 6) AS prior_strength,
               round({EB_SHRUNK}, 6) AS shrunk_rate
        FROM rates CROSS JOIN prior
    """

ORACLE_TRAINING["theil_index"] = f"""
        WITH spend AS (
          SELECT c.c_nationkey, o_custkey,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS x
          FROM orders JOIN customer c ON c.c_custkey = o_custkey
          GROUP BY 1, 2
          HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) > 0
        ), mom AS (
          SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 sum(CAST(x AS HUGEINT)
                     * CAST(round(ln(CAST(x AS DOUBLE)) * 1000000000.0)
                            AS BIGINT)) AS sxl
          FROM spend GROUP BY 1
        )
        SELECT c_nationkey AS nationkey, n AS n_customers,
               sx AS total_cents,
               round({THEIL_T}, 6) + CAST(0 AS DOUBLE) AS theil_t
        FROM mom
    """

_SC_VALUES = ",\n                 ".join(
    f"({b}, {r}, {s})"
    for b, r in S_CURVE_CONFIGS
    for s in S_CURVE_GRID
)
_SC_CASE = "CASE " + " ".join(
    f"WHEN bands = {b} AND rows_per_band = {r} THEN {s_curve_p_expr(b, r)}"
    for b, r in S_CURVE_CONFIGS
) + " END"

ORACLE_TRAINING["lsh_s_curve"] = f"""
        WITH grid AS (
          SELECT CAST(bands AS INTEGER) AS bands,
                 CAST(rows_per_band AS INTEGER) AS rows_per_band,
                 CAST(s AS DOUBLE) AS s
          FROM (VALUES {_SC_VALUES}) AS t(bands, rows_per_band, s)
        )
        SELECT bands, rows_per_band, round(s, 6) AS s,
               round({_SC_CASE}, 6) AS p_candidate,
               round(exp(ln(1.0 / CAST(bands AS DOUBLE))
                         / CAST(rows_per_band AS DOUBLE)), 6) AS s_threshold
        FROM grid
    """

ORACLE_TRAINING["label_centroid_cosine"] = f"""
        WITH comp AS (
          SELECT label, i - 1 AS dim,
                 CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE)
                                     * 1000000.0) AS BIGINT)) AS BIGINT) AS s
          FROM embeddings,
               (SELECT unnest(range(1, {DIM + 1})) AS i) t
          GROUP BY 1, 2
        ), sizes AS (
          SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
          FROM embeddings GROUP BY 1
        ), dots AS (
          SELECT a.label AS label_a, b.label AS label_b,
                 sum(CAST(a.s AS HUGEINT) * b.s) AS dot
          FROM comp a JOIN comp b ON b.dim = a.dim AND a.label < b.label
          GROUP BY 1, 2
        ), norms AS (
          SELECT label, sum(CAST(s AS HUGEINT) * s) AS n2
          FROM comp GROUP BY 1
        )
        SELECT d.label_a, d.label_b, sa.n_vecs AS n_a, sb.n_vecs AS n_b,
               CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN NULL
                    ELSE round(CAST(d.dot AS DOUBLE)
                     / (sqrt(CAST(na.n2 AS DOUBLE))
                        * sqrt(CAST(nb.n2 AS DOUBLE))), 6) END
                   AS centroid_cosine
        FROM dots d
        JOIN norms na ON na.label = d.label_a
        JOIN norms nb ON nb.label = d.label_b
        JOIN sizes sa ON sa.label = d.label_a
        JOIN sizes sb ON sb.label = d.label_b
    """

# ---------- round-7 fourth batch: water-fill / chi2 residuals ----------

from .operators.pipeline import WF_BUDGET_DEN, WF_ROUNDS  # noqa: E402
from .operators.rangeops import CHI2_ADJ_RESID

_WF_PARTS = [f"""
        WITH avail AS (
          SELECT source, CAST(sum(n_chars // 4) AS BIGINT) AS avail
          FROM documents GROUP BY 1
        ), total AS (
          SELECT CAST(sum(avail) // {WF_BUDGET_DEN} AS BIGINT) AS budget
          FROM avail
        ), st0 AS (
          SELECT source, avail, CAST(0 AS BIGINT) AS alloc FROM avail
        )"""]
for _k in range(WF_ROUNDS):
    _WF_PARTS.append(f""", sc{_k} AS MATERIALIZED (
          SELECT t.budget, CAST(sum(alloc) AS BIGINT) AS allocated,
                 CAST(sum(CASE WHEN alloc < avail THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_unsat
          FROM st{_k} CROSS JOIN total t GROUP BY t.budget
        ), st{_k + 1} AS MATERIALIZED (
          SELECT source, avail,
                 alloc + CASE WHEN alloc < avail AND n_unsat > 0
                         THEN least((budget - allocated) // n_unsat,
                                    avail - alloc)
                         ELSE CAST(0 AS BIGINT) END AS alloc
          FROM st{_k} CROSS JOIN sc{_k}
        )""")
_WF_PARTS.append(f"""
        SELECT source, avail AS avail_tokens, alloc AS alloc_tokens,
               alloc = avail AS saturated,
               round(CAST(alloc AS DOUBLE) / CAST(avail AS DOUBLE), 6)
                   AS take_share
        FROM st{WF_ROUNDS}
    """)
ORACLE_TRAINING["token_budget_waterfill"] = "".join(_WF_PARTS)

ORACLE_TRAINING["chi2_adjusted_residuals"] = f"""
        WITH ev AS (
          SELECT event_type,
                 (epoch_us(ts) // {86_400 * 1_000_000} + 4) % 7 AS weekday
          FROM events
        ), cells AS (
          SELECT event_type, weekday, CAST(count(*) AS BIGINT) AS observed
          FROM ev GROUP BY event_type, weekday
        ), r AS (
          SELECT event_type, CAST(sum(observed) AS BIGINT) AS row_n
          FROM cells GROUP BY event_type
        ), c AS (
          SELECT weekday, CAST(sum(observed) AS BIGINT) AS col_n
          FROM cells GROUP BY weekday
        ), t AS (
          SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells
        ), g AS (
          SELECT cells.event_type, cells.weekday, cells.observed,
                 r.row_n, c.col_n, t.n
          FROM cells
          JOIN r ON r.event_type = cells.event_type
          JOIN c ON c.weekday = cells.weekday
          CROSS JOIN t
        )
        SELECT event_type, weekday, observed,
               round(row_n * col_n / CAST(n AS DOUBLE), 6) AS expected,
               round({CHI2_ADJ_RESID}, 6) AS adj_residual,
               abs({CHI2_ADJ_RESID}) > 2.0 AS significant
        FROM g
    """

# ---------- round-7 fifth batch: LLR collocations / BFS layers ----------

from .operators.textops import LLR_G2, LLR_MIN_COUNT, LLR_TOP_K  # noqa: E402
from .operators.graph import BFS_MAX_HOPS

ORACLE_TRAINING["bigram_llr_collocations"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
        ), bi AS (
          SELECT bg, CAST(count(*) AS BIGINT) AS k11,
                 string_split(bg, ' ')[1] AS wa,
                 string_split(bg, ' ')[2] AS wb
          FROM (SELECT unnest({_BIGRAMS}) AS bg FROM toks)
          GROUP BY bg
        ), r AS (
          SELECT wa, CAST(sum(k11) AS BIGINT) AS r1 FROM bi GROUP BY 1
        ), c AS (
          SELECT wb, CAST(sum(k11) AS BIGINT) AS c1 FROM bi GROUP BY 1
        ), t AS (
          SELECT CAST(sum(k11) AS BIGINT) AS nn FROM bi
        ), scored AS (
          SELECT bi.wa, bi.wb, bi.k11, r.r1, c.c1,
                 {LLR_G2} AS g2_raw
          FROM bi
          JOIN r ON r.wa = bi.wa
          JOIN c ON c.wb = bi.wb
          CROSS JOIN t
          WHERE bi.k11 >= {LLR_MIN_COUNT}
        )
        SELECT wa, wb, k11 AS n_pair, r1 AS n_first, c1 AS n_second,
               round(g2_raw, 6) AS llr_g2
        FROM scored
        ORDER BY g2_raw DESC, wa, wb
        LIMIT {LLR_TOP_K}
    """

_BFS_PARTS = ["""
        WITH edges0 AS ({WSQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        und AS MATERIALIZED (
          SELECT DISTINCT city_key, a, b FROM (
            SELECT city_key, src AS a, dst AS b FROM e
            UNION ALL SELECT city_key, dst AS a, src AS b FROM e)
        ), seed AS (
          SELECT city_key, min(a) AS node FROM und GROUP BY 1
        ), f0 AS MATERIALIZED (SELECT city_key, node FROM seed),
        v0 AS MATERIALIZED (SELECT city_key, node FROM f0)"""]
for _h in range(1, BFS_MAX_HOPS + 1):
    _BFS_PARTS.append(f""", f{_h} AS MATERIALIZED (
          SELECT DISTINCT u.city_key, u.b AS node
          FROM f{_h - 1} f JOIN und u
            ON u.city_key = f.city_key AND u.a = f.node
          WHERE NOT EXISTS (SELECT 1 FROM v{_h - 1} v
                            WHERE v.city_key = u.city_key
                              AND v.node = u.b)
        ), v{_h} AS MATERIALIZED (
          SELECT city_key, node FROM v{_h - 1}
          UNION SELECT city_key, node FROM f{_h}
        )""")
_BFS_PARTS.append(f"""
        SELECT city_key, hop, CAST(count(*) AS BIGINT) AS n_nodes FROM (
          {" UNION ALL ".join(
              f"SELECT city_key, CAST({h} AS INTEGER) AS hop, node FROM f{h}"
              for h in range(BFS_MAX_HOPS + 1))}
        ) GROUP BY city_key, hop
    """)
ORACLE_TRAINING["city_bfs_layers"] = "".join(_BFS_PARTS)

# ---------- round-7 sixth batch: Markov removal-effect attribution ----------

from .operators.temporal import (  # noqa: E402
    MA_CHANNELS,
    MA_CONV,
    MA_LOST,
    MA_START,
    MA_STEPS,
)

_MA_TLIST = ", ".join(f"'{t}'" for t in MA_CHANNELS)
_MA_PARTS = [f"""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us, event_id
          FROM events
        ), cu AS (
          SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase'
        ), tch AS (
          SELECT user_id, event_type, us, event_id FROM ev
          WHERE event_type IN ({_MA_TLIST})
        ), seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER w AS prev,
                 row_number() OVER w AS rn,
                 count(*) OVER (PARTITION BY user_id) AS ntch
          FROM tch
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), parts AS (
          SELECT prev AS a, event_type AS b FROM seq WHERE prev IS NOT NULL
          UNION ALL
          SELECT '{MA_START}', event_type FROM seq WHERE rn = 1
          UNION ALL
          SELECT s.event_type,
                 CASE WHEN cu.user_id IS NOT NULL THEN '{MA_CONV}'
                      ELSE '{MA_LOST}' END
          FROM seq s LEFT JOIN cu ON cu.user_id = s.user_id
          WHERE s.rn = s.ntch
          UNION ALL
          SELECT '{MA_START}',
                 CASE WHEN cu.user_id IS NOT NULL THEN '{MA_CONV}'
                      ELSE '{MA_LOST}' END
          FROM (SELECT DISTINCT user_id FROM ev) u
          LEFT JOIN cu ON cu.user_id = u.user_id
          WHERE u.user_id NOT IN (SELECT user_id FROM tch)
        ), tr_full AS MATERIALIZED (
          SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM parts GROUP BY 1, 2
        )"""]
_MA_VARIANTS = [("full", None)] + [(ch, ch) for ch in MA_CHANNELS]
for _v, _rm in _MA_VARIANTS:
    if _rm is None:
        _MA_PARTS.append(f""", tr_{_v} AS MATERIALIZED (
          SELECT a, b, c FROM tr_full
        )""" if _v != "full" else "")
    else:
        _MA_PARTS.append(f""", tr_{_v} AS MATERIALIZED (
          SELECT a, CASE WHEN b = '{_rm}' THEN '{MA_LOST}' ELSE b END AS b,
                 CAST(sum(c) AS BIGINT) AS c
          FROM tr_full WHERE a <> '{_rm}' GROUP BY 1, 2
        )""")
    _MA_PARTS.append(f""", marg_{_v} AS MATERIALIZED (
          SELECT a, CAST(sum(c) AS BIGINT) AS c_a FROM tr_{_v} GROUP BY 1
        ), h_{_v}_0 AS MATERIALIZED (
          SELECT a AS st, CAST(0 AS BIGINT) AS h FROM marg_{_v}
        )""")
    for _k in range(MA_STEPS):
        _MA_PARTS.append(f""", h_{_v}_{_k + 1} AS MATERIALIZED (
          SELECT t.a AS st,
                 CAST(round(cast(sum(t.c
                        * CASE WHEN t.b = '{MA_CONV}' THEN 1000000000
                               WHEN t.b = '{MA_LOST}' THEN 0
                               ELSE coalesce(h.h, 0) END) as double)
                      / cast(m.c_a as double)) AS BIGINT) AS h
          FROM tr_{_v} t
          JOIN marg_{_v} m ON m.a = t.a
          LEFT JOIN h_{_v}_{_k} h ON h.st = t.b
          GROUP BY t.a, m.c_a
        )""")
    _MA_PARTS.append(f""", p_{_v} AS (
          SELECT h FROM h_{_v}_{MA_STEPS} WHERE st = '{MA_START}'
        )""")
_MA_SCORED = " UNION ALL ".join(
    f"""SELECT '{ch}' AS channel, pf.h AS p_full_nano,
               p.h AS p_removed_nano,
               CAST(round(greatest(0.0,
                    1.0 - cast(p.h as double) / cast(pf.h as double))
                    * 1000000000.0) AS BIGINT) AS re_nano
        FROM p_{ch} p CROSS JOIN p_full pf"""
    for ch in MA_CHANNELS
)
_MA_PARTS.append(f""", scored AS (
          {_MA_SCORED}
        ), tot AS (
          SELECT CAST(sum(re_nano) AS BIGINT) AS re_tot FROM scored
        )
        SELECT channel,
               round(cast(p_full_nano as double) / 1000000000.0, 6)
                   AS p_conv_full,
               round(cast(p_removed_nano as double) / 1000000000.0, 6)
                   AS p_conv_removed,
               round(cast(re_nano as double) / 1000000000.0, 6)
                   AS removal_effect,
               round(cast(re_nano as double)
                     / cast(nullif(re_tot, 0) as double), 6)
                   AS attribution_share
        FROM scored CROSS JOIN tot
    """)
ORACLE_TRAINING["markov_attribution"] = "".join(_MA_PARTS)

# ---------- round-7 seventh batch: KM / alpha sampling / packing sweep ----------

from .operators.pipeline import ALPHA_GRID, PACK_LEN_GRID  # noqa: E402

ORACLE_TRAINING["kaplan_meier_curve"] = """
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS day FROM events
        ), ce AS (
          SELECT max(day) AS end_day FROM ev
        ), lifetimes AS (
          SELECT datediff('day', min(day), max(day)) AS day_offset,
                 max(day) < (SELECT end_day FROM ce) AS churned
          FROM ev GROUP BY user_id
        ), per_offset AS (
          SELECT day_offset, CAST(count(*) AS BIGINT) AS n_ending,
                 CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
                     AS d
          FROM lifetimes GROUP BY 1
        ), t AS (
          SELECT CAST(sum(n_ending) AS BIGINT) AS n_total FROM per_offset
        ), risk AS (
          SELECT day_offset, d,
                 t.n_total - CAST(coalesce(sum(n_ending) OVER (
                     ORDER BY day_offset
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS n_at_risk
          FROM per_offset CROSS JOIN t
        ), f AS (
          SELECT day_offset, d, n_at_risk,
                 CASE WHEN d < n_at_risk
                      THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE)
                               / CAST(n_at_risk AS DOUBLE))
                               * 1000000000.0) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS f_nano,
                 CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS is_dead
          FROM risk
        ), c AS (
          SELECT day_offset, d, n_at_risk,
                 sum(f_nano) OVER (ORDER BY day_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_nano,
                 max(is_dead) OVER (ORDER BY day_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS dead
          FROM f
        )
        SELECT day_offset, n_at_risk, d AS n_churned,
               round(CASE WHEN dead = 1 THEN 0.0
                     ELSE exp(CAST(cum_nano AS DOUBLE) / 1000000000.0)
                     END, 6) AS km_survival
        FROM c
    """

_AG_VALUES = ", ".join(f"({a})" for a in ALPHA_GRID)

ORACLE_TRAINING["alpha_sampling_weights"] = f"""
        WITH avail AS (
          SELECT source, CAST(sum(n_chars // 4) AS BIGINT) AS n_tok
          FROM documents GROUP BY 1
          HAVING sum(n_chars // 4) > 0
        ), grid AS (
          SELECT source, n_tok, CAST(g.alpha AS DOUBLE) AS alpha,
                 CAST(round(exp(CAST(g.alpha AS DOUBLE)
                        * ln(CAST(n_tok AS DOUBLE))) * 1000.0) AS BIGINT)
                     AS pw_milli
          FROM avail CROSS JOIN (VALUES {_AG_VALUES}) AS g(alpha)
        ), den AS (
          SELECT alpha, CAST(sum(pw_milli) AS BIGINT) AS den_milli
          FROM grid GROUP BY 1
        )
        SELECT g.source, g.alpha, g.n_tok,
               round(CAST(g.pw_milli AS DOUBLE)
                     / CAST(d.den_milli AS DOUBLE), 6) AS weight
        FROM grid g JOIN den d ON d.alpha = g.alpha
    """

_PL_VALUES = ", ".join(f"({l})" for l in PACK_LEN_GRID)

ORACLE_TRAINING["packing_length_sweep"] = f"""
        WITH toks AS (
          SELECT n_chars // 4 AS t FROM documents WHERE n_chars // 4 > 0
        ), grid AS (
          SELECT t, CAST(g.seq_len AS INTEGER) AS seq_len
          FROM toks CROSS JOIN (VALUES {_PL_VALUES}) AS g(seq_len)
        ), agg AS (
          SELECT seq_len, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(t) AS BIGINT) AS total_tokens,
                 CAST(sum((t + seq_len - 1) // seq_len) AS BIGINT)
                     AS n_sequences
          FROM grid GROUP BY 1
        )
        SELECT seq_len, n_docs, total_tokens, n_sequences,
               n_sequences * seq_len - total_tokens AS padding_tokens,
               round(CAST(n_sequences * seq_len - total_tokens AS DOUBLE)
                     / CAST(n_sequences * seq_len AS DOUBLE), 6)
                   AS waste_share
        FROM agg
    """

# ---------- round-7 eighth batch: MAP / SRM / hour-of-week ----------

from .operators.mlstats import SRM_CHI2  # noqa: E402

ORACLE_TRAINING["retrieval_map"] = f"""
        WITH docs AS (
          SELECT doc_id,
                 CAST(CASE WHEN len(list_intersect(
                        list_distinct({_TOKS}), [{_BM25_QL}])) >= 1
                      THEN 1 ELSE 0 END AS BIGINT) AS rel
          FROM documents
        ), run AS (
          SELECT doc_id, rank FROM ({ORACLE_TRAINING["bm25_topk"]})
        ), scored0 AS (
          SELECT r.rank, d.rel,
                 CAST(sum(d.rel) OVER (ORDER BY r.rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_rel
          FROM run r JOIN docs d USING (doc_id)
        ), scored AS (
          SELECT CAST(sum(CASE WHEN rel = 1
                     THEN CAST(round(CAST(cum_rel AS DOUBLE)
                          / CAST(rank AS DOUBLE) * 1000000.0) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS sum_prec_micro,
                 CAST(sum(rel) AS BIGINT) AS n_rel_run,
                 CAST(count(*) AS BIGINT) AS k
          FROM scored0
        ), corpus AS (
          SELECT CAST(sum(rel) AS BIGINT) AS n_rel_corpus FROM docs
        )
        SELECT k, n_rel_run, n_rel_corpus,
               round(CAST(sum_prec_micro AS DOUBLE) / 1000000.0
                     / CAST(nullif(n_rel_run, 0) AS DOUBLE), 6)
                   AS avg_precision,
               round(CAST(n_rel_run AS DOUBLE)
                     / CAST(nullif(n_rel_corpus, 0) AS DOUBLE), 6)
                   AS recall_at_k
        FROM scored CROSS JOIN corpus
    """

ORACLE_TRAINING["srm_check"] = f"""
        WITH arms AS (
          SELECT user_id % 2 AS variant,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n
          FROM events GROUP BY 1
        ), piv AS (
          SELECT max(CASE WHEN variant = 0 THEN n END) AS n_0,
                 max(CASE WHEN variant = 1 THEN n END) AS n_1
          FROM arms
        )
        SELECT n_0 AS n_control, n_1 AS n_treat,
               round(CAST(n_0 AS DOUBLE) / CAST(n_0 + n_1 AS DOUBLE), 6)
                   AS control_share,
               round({SRM_CHI2}, 6) AS srm_chi2,
               {SRM_CHI2} > 10.83 AS srm_detected
        FROM piv
    """

ORACLE_TRAINING["hour_of_week_profile"] = f"""
        WITH ev AS (
          SELECT event_type,
                 (epoch_us(ts) // {86_400 * 1_000_000} + 4) % 7 AS weekday,
                 (epoch_us(ts) // {3_600 * 1_000_000}) % 24 AS hour
          FROM events
        ), cells AS (
          SELECT event_type, weekday, hour,
                 CAST(count(*) AS BIGINT) AS n
          FROM ev GROUP BY 1, 2, 3
        ), totals AS (
          SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
          FROM cells GROUP BY 1
        )
        SELECT c.event_type, c.weekday, c.hour, c.n,
               round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
                   AS share
        FROM cells c JOIN totals t USING (event_type)
    """

# ---------- round-7 ninth batch: logistic / gini split / silhouette ----------

from .operators.mlstats import (  # noqa: E402
    GINI_N_CANDIDATES,
    LOGIT_D0,
    LOGIT_D1,
    LOGIT_DEV_T,
    LOGIT_G0,
    LOGIT_G1,
    LOGIT_ITERS,
    LOGIT_W,
    LOGIT_WX,
    LOGIT_WXX,
    gini_expr,
)

_LG_PARTS = ["""
        WITH o AS (
          SELECT ln(cast(CAST(round(o_totalprice * 100) AS BIGINT)
                    as double) / 100.0) AS x,
                 cast(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1.0 ELSE 0.0 END as double) AS y
          FROM orders
          WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
        ), beta_0 AS (
          SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1
        )"""]
for _k in range(LOGIT_ITERS):
    _LG_PARTS.append(f""", m_{_k} AS MATERIALIZED (
          SELECT b0, b1,
                 CAST(sum({LOGIT_G0}) AS BIGINT) AS sg0,
                 CAST(sum({LOGIT_G1}) AS BIGINT) AS sg1,
                 CAST(sum({LOGIT_W}) AS BIGINT) AS sw,
                 CAST(sum({LOGIT_WX}) AS BIGINT) AS swx,
                 CAST(sum({LOGIT_WXX}) AS BIGINT) AS swxx
          FROM o CROSS JOIN beta_{_k} GROUP BY b0, b1
        ), beta_{_k + 1} AS MATERIALIZED (
          SELECT b0 + CAST(round({LOGIT_D0} * 1000000000.0) AS BIGINT)
                     AS b0,
                 b1 + CAST(round({LOGIT_D1} * 1000000000.0) AS BIGINT)
                     AS b1
          FROM m_{_k}
        )""")
_LG_PARTS.append(f""", fit AS (
          SELECT b0, b1, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum({LOGIT_DEV_T}) AS BIGINT) AS sdev
          FROM o CROSS JOIN beta_{LOGIT_ITERS} GROUP BY b0, b1
        )
        SELECT n,
               round(cast(b0 as double) / 1000000000.0, 6) AS beta0,
               round(cast(b1 as double) / 1000000000.0, 6) AS beta1,
               round(cast(sdev as double) / 1000000.0, 4) AS deviance
        FROM fit
    """)
ORACLE_TRAINING["logistic_price_model"] = "".join(_LG_PARTS)

_GN_K = GINI_N_CANDIDATES
_GN_WEIGHTED = (
    f"((cast(n_l as double) * {gini_expr('x_l', 'n_l')}"
    f" + cast(n_r as double) * {gini_expr('x_r', 'n_r')})"
    " / cast(n as double))"
)

ORACLE_TRAINING["best_gini_split"] = f"""
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                 CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END AS y
          FROM orders
        ), bounds AS (
          SELECT quantile_cont(v,
            [{", ".join(str(i / (_GN_K + 1)) for i in range(1, _GN_K + 1))}])
            AS bs
          FROM o
        ), grid AS (
          SELECT g.idx, bs[g.idx] AS thr,
                 CAST(sum(CASE WHEN v <= bs[g.idx] THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_l,
                 CAST(sum(CASE WHEN v <= bs[g.idx] THEN y ELSE 0 END)
                      AS BIGINT) AS x_l,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS x
          FROM o CROSS JOIN bounds
          CROSS JOIN (SELECT unnest(range(1, {_GN_K + 1})) AS idx) g
          GROUP BY 1, 2
        ), cells AS (
          SELECT idx, thr, n_l, x_l, n - n_l AS n_r, x - x_l AS x_r, n, x
          FROM grid WHERE n_l > 0 AND n - n_l > 0
        ), scored AS (
          SELECT idx, thr, n_l, n_r,
                 {_GN_WEIGHTED} AS w_raw,
                 {gini_expr('x', 'n')} AS g_parent
          FROM cells
        )
        SELECT CAST(idx AS INTEGER) AS candidate_idx,
               -- integer-cents round shared with the Spark plan
               -- (seed-87 half-cent boundary; see mlstats.best_gini_split)
               CAST(round(thr) AS BIGINT) / 100.0 AS threshold_price,
               n_l, n_r,
               round(g_parent, 6) AS gini_parent,
               round(w_raw, 6) AS gini_weighted,
               round(g_parent - w_raw, 6) AS gini_gain
        FROM scored
        ORDER BY w_raw, idx LIMIT 1
    """


def _silhouette_sql() -> str:
    parts = [
        f"""
        WITH emb AS (
          SELECT vec_id, {_CAST64} AS v FROM embeddings
        ), c0 AS (
          SELECT vec_id AS centroid_id,
                 list_transform(v, x -> round(x, 6)) AS cv
          FROM emb WHERE vec_id < {NUM_CENTROIDS}
        )"""
    ]
    for it in range(KMEANS_ITERS):
        parts.append(_km_assign("emb", f"c{it}", f"a{it + 1}"))
        parts.append(_km_update(f"a{it + 1}", f"c{it}", f"c{it + 1}"))
    last = f"c{KMEANS_ITERS}"
    parts.append(_km_assign("emb", last, "afinal"))
    d = (
        f"sqrt(list_sum(list_transform(range(1, {DIM + 1}),"
        " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))))"
    )
    parts.append(f"""
        , dists AS (
          SELECT e.vec_id, c.centroid_id AS cid, {d} AS d
          FROM emb e CROSS JOIN {last} c
        ), pv AS (
          SELECT a.centroid_id,
                 CASE WHEN greatest(
                       max(CASE WHEN dd.cid = a.centroid_id THEN dd.d END),
                       min(CASE WHEN dd.cid <> a.centroid_id THEN dd.d END))
                     = 0 THEN 0 ELSE
                 CAST(round(
                   (min(CASE WHEN dd.cid <> a.centroid_id THEN dd.d END)
                    - max(CASE WHEN dd.cid = a.centroid_id THEN dd.d END))
                   / greatest(
                       max(CASE WHEN dd.cid = a.centroid_id THEN dd.d END),
                       min(CASE WHEN dd.cid <> a.centroid_id THEN dd.d END))
                   * 1000000.0) AS BIGINT) END AS s_micro
          FROM afinal a JOIN dists dd ON dd.vec_id = a.vec_id
          GROUP BY a.vec_id, a.centroid_id
        )
        SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members,
               CAST(round(CAST(sum(s_micro) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE)) AS BIGINT) / 1e6
                   AS mean_silhouette
        FROM pv GROUP BY 1
    """)
    return "".join(parts)


ORACLE_TRAINING["simplified_silhouette"] = _silhouette_sql()

# ---------- round-7 tenth batch: perm test / Huber / co-witness lift ----------

from .operators.mlstats import (  # noqa: E402
    HUBER_C,
    HUBER_ITERS,
    HUBER_W,
    PERM_B,
)

ORACLE_TRAINING["perm_test_values"] = f"""
        WITH ev AS (
          SELECT event_id,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS arm,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type IN ('purchase', 'click')
        ), obs AS (
          SELECT CASE WHEN sum(CASE WHEN arm = 1 THEN 1.0 ELSE 0.0 END) = 0
                        OR sum(CASE WHEN arm = 0 THEN 1.0 ELSE 0.0 END) = 0
                      THEN NULL ELSE
                 cast(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END)
                   as double)
                 / sum(CASE WHEN arm = 1 THEN 1.0 ELSE 0.0 END)
                 - cast(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END)
                     as double)
                 / sum(CASE WHEN arm = 0 THEN 1.0 ELSE 0.0 END) END AS d_obs
          FROM ev
        ), tagged AS (
          SELECT ev.cents, g.b,
                 ('0x' || substr(md5(CAST(ev.event_id AS VARCHAR) || '|'
                     || CAST(g.b AS VARCHAR)), 1, 7))::BIGINT % 2 AS parm
          FROM ev CROSS JOIN
               (SELECT unnest(range(1, {PERM_B + 1})) AS b) g
        ), reps AS (
          SELECT b,
                 CASE WHEN sum(CASE WHEN parm = 1 THEN 1.0 ELSE 0.0 END) = 0
                        OR sum(CASE WHEN parm = 0 THEN 1.0 ELSE 0.0 END) = 0
                      THEN NULL ELSE
                 cast(sum(CASE WHEN parm = 1 THEN cents ELSE 0 END)
                   as double)
                 / sum(CASE WHEN parm = 1 THEN 1.0 ELSE 0.0 END)
                 - cast(sum(CASE WHEN parm = 0 THEN cents ELSE 0 END)
                     as double)
                 / sum(CASE WHEN parm = 0 THEN 1.0 ELSE 0.0 END) END AS d_b
          FROM tagged GROUP BY b
        )
        SELECT CAST(count(*) AS BIGINT) AS n_replicates,
               CAST(sum(CASE WHEN abs(d_b) >= abs(d_obs)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
               round(max(d_obs), 6) AS d_obs,
               round(cast(1 + sum(CASE WHEN abs(d_b) >= abs(d_obs)
                          THEN 1 ELSE 0 END) as double)
                     / cast(count(*) + 1 as double), 6) AS p_value
        FROM reps CROSS JOIN obs
    """

_HB_PARTS = [f"""
        WITH x AS (
          SELECT CAST(floor(value * 100) AS BIGINT) AS x FROM events
          WHERE event_type = 'purchase'
        ), med AS (
          SELECT CAST(round(quantile_cont(x, 0.5) * 1000000000.0)
                      AS BIGINT) AS mu
          FROM x
        ), st_0 AS MATERIALIZED (
          SELECT m.mu,
                 CAST(round(quantile_cont(abs(cast(x.x as double)
                        - cast(m.mu as double) / 1000000000.0), 0.5)
                      * 1.4826 * {HUBER_C} * 1000000000.0) AS BIGINT) AS c
          FROM x CROSS JOIN med m GROUP BY m.mu
        )"""]
for _k in range(HUBER_ITERS):
    _HB_PARTS.append(f""", st_{_k + 1} AS MATERIALIZED (
          SELECT CAST(round(cast(sum(wx) as double)
                      / cast(sum(w) as double) * 1000000000.0)
                      AS BIGINT) AS mu, c
          FROM (
            SELECT CAST(round({HUBER_W} * 1000000.0) AS BIGINT) AS w,
                   CAST(round({HUBER_W} * cast(x as double)
                        * 1000000.0) AS BIGINT) AS wx,
                   c
            FROM x CROSS JOIN st_{_k}
          ) GROUP BY c
        )""")
_HB_PARTS.append(f"""
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM x) AS n,
               round(cast(mu as double) / 1000000000.0 / 100.0, 6)
                   AS huber_location,
               round(cast(c as double) / 1000000000.0 / {HUBER_C}
                     / 100.0, 6) AS mad_scale
        FROM st_{HUBER_ITERS}
    """)
ORACLE_TRAINING["huber_location"] = "".join(_HB_PARTS)

ORACLE_TRAINING["cowitness_lift"] = """
        WITH edges0 AS ({WSQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        cw AS (
          SELECT a.city_key, a.src AS src_a, b.src AS src_b,
                 CAST(count(*) AS BIGINT) AS shared_witnesses
          FROM e a
          JOIN e b ON a.city_key = b.city_key AND a.dst = b.dst
                  AND a.src < b.src
          GROUP BY 1, 2, 3
        ), deg AS (
          SELECT city_key, src, CAST(count(*) AS BIGINT) AS d
          FROM e GROUP BY 1, 2
        ), nw AS (
          SELECT city_key, CAST(count(DISTINCT dst) AS BIGINT)
                     AS n_witnesses
          FROM e GROUP BY 1
        )
        SELECT cw.city_key, cw.src_a, cw.src_b, cw.shared_witnesses,
               da.d AS deg_a, db.d AS deg_b, nw.n_witnesses,
               round(cast(cw.shared_witnesses * nw.n_witnesses as double)
                     / cast(da.d * db.d as double), 6) AS lift
        FROM cw
        JOIN deg da ON da.city_key = cw.city_key AND da.src = cw.src_a
        JOIN deg db ON db.city_key = cw.city_key AND db.src = cw.src_b
        JOIN nw ON nw.city_key = cw.city_key
    """

# ---------- round-7 eleventh batch: diagnostics / Gumbel / VaR-ES ----------

from .operators.mlstats import (  # noqa: E402
    CVAR_ALPHA_DEN,
    GUMBEL_EULER,
    GUMBEL_SQRT6_PI,
    ORD_R2,
)

ORACLE_TRAINING["ols_residual_diagnostics"] = f"""
        WITH daily AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1
        ), mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(d) AS BIGINT) AS sx,
                 CAST(sum(c) AS BIGINT) AS sy,
                 CAST(sum(d * d) AS BIGINT) AS sxx,
                 CAST(sum(d * c) AS BIGINT) AS sxy,
                 CAST(sum(c * c) AS BIGINT) AS syy
          FROM daily
        ), fit AS (
          SELECT *,
                 CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
                 CAST(round((cast(n * sxy - sx * sy as double)
                      / cast(n * sxx - sx * sx as double))
                      * 1000000000.0) AS BIGINT) END AS b_nano,
                 CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
                 CAST(round(((cast(sy as double)
                      - (cast(n * sxy - sx * sy as double)
                         / cast(n * sxx - sx * sx as double))
                        * cast(sx as double)) / cast(n as double))
                      * 1000000000.0) AS BIGINT) END AS a_nano
          FROM mom
        ), resid AS (
          SELECT daily.d, f.n, f.sx, f.sxx, {ORD_R2} AS r2,
                 CAST(round((cast(c as double)
                      - (cast(a_nano as double)
                         + cast(b_nano as double) * daily.d)
                        / 1000000000.0) * 1000000.0) AS BIGINT) AS em
          FROM daily CROSS JOIN fit f
        ), lagged AS (
          SELECT *, lag(em) OVER (ORDER BY d) AS em_prev FROM resid
        ), agg AS (
          SELECT n, sx, sxx, r2,
                 sum(CAST(em AS HUGEINT) * em) AS see,
                 sum(CASE WHEN em_prev IS NULL THEN CAST(0 AS HUGEINT)
                     ELSE CAST(em - em_prev AS HUGEINT) * (em - em_prev)
                     END) AS sdd,
                 sum(CAST(em AS HUGEINT) * em * d) AS sxu,
                 sum(CAST(em AS HUGEINT) * em
                     * (CAST(em AS HUGEINT) * em)) AS suu
          FROM lagged GROUP BY n, sx, sxx, r2
        )
        SELECT n AS n_days, round(r2, 6) AS r2,
               CASE WHEN see IS NULL OR see = 0 THEN NULL ELSE
               round(cast(sdd as double) / cast(see as double), 6)
                   END AS dw_stat,
               CASE WHEN see IS NULL
                      OR CAST(n AS HUGEINT) * sxx
                         - CAST(sx AS HUGEINT) * sx = 0
                      OR CAST(n AS HUGEINT) * suu
                         - CAST(see AS HUGEINT) * see = 0
                    THEN NULL ELSE
               round(cast(n as double) *
                 (cast(CAST(n AS HUGEINT) * sxu - CAST(sx AS HUGEINT)
                       * see as double)
                  * cast(CAST(n AS HUGEINT) * sxu - CAST(sx AS HUGEINT)
                        * see as double)
                  / (cast(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT)
                         * sx as double)
                     * cast(CAST(n AS HUGEINT) * suu
                            - CAST(see AS HUGEINT) * see as double))), 6)
                   END AS bp_stat
        FROM agg
    """

ORACLE_TRAINING["gumbel_daily_max"] = f"""
        WITH daily AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS m
          FROM orders GROUP BY 1
        ), mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(m) AS BIGINT) AS s1,
                 sum(CAST(m AS HUGEINT) * m) AS s2,
                 CAST(max(m) AS BIGINT) AS record
          FROM daily
        )
        SELECT n AS n_days,
               CASE WHEN (n < 2 OR CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 = 0) THEN NULL ELSE
               round((cast(s1 as double) / cast(n as double)
                 - {GUMBEL_EULER}
                   * (sqrt(cast(CAST(n AS HUGEINT) * s2
                        - CAST(s1 AS HUGEINT) * s1 as double)
                      / (cast(n as double) * cast(n - 1 as double)))
                      * {GUMBEL_SQRT6_PI})) / 100.0, 4) END AS gumbel_mu,
               CASE WHEN (n < 2 OR CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 = 0) THEN NULL ELSE
               round((sqrt(cast(CAST(n AS HUGEINT) * s2
                        - CAST(s1 AS HUGEINT) * s1 as double)
                      / (cast(n as double) * cast(n - 1 as double)))
                      * {GUMBEL_SQRT6_PI}) / 100.0, 4) END AS gumbel_beta,
               round(cast(record as double) / 100.0, 2) AS record_max,
               CASE WHEN (n < 2 OR CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 = 0) THEN NULL ELSE
               round(1.0 - exp(0.0 - exp(0.0 - (cast(record as double)
                 - (cast(s1 as double) / cast(n as double)
                    - {GUMBEL_EULER}
                      * (sqrt(cast(CAST(n AS HUGEINT) * s2
                           - CAST(s1 AS HUGEINT) * s1 as double)
                         / (cast(n as double) * cast(n - 1 as double)))
                         * {GUMBEL_SQRT6_PI})))
                 / (sqrt(cast(CAST(n AS HUGEINT) * s2
                      - CAST(s1 AS HUGEINT) * s1 as double)
                    / (cast(n as double) * cast(n - 1 as double)))
                    * {GUMBEL_SQRT6_PI}))), 6) END AS p_exceed_record
        FROM mom
    """

ORACLE_TRAINING["cvar_value_tail"] = f"""
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
          FROM orders
        ), var_ AS (
          SELECT quantile_cont(v, 0.95) AS var95_raw,
                 CAST(count(*) AS BIGINT) AS n
          FROM o
        ), cdf AS (
          SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1
        ), ranked AS (
          SELECT v, cnt,
                 CAST(sum(cnt) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM cdf
        ), tail AS (
          SELECT v, cnt, cum, n, var95_raw,
                 least(cnt, n // {CVAR_ALPHA_DEN} - (cum - cnt)) AS take
          FROM ranked CROSS JOIN var_
          WHERE cum - cnt < n // {CVAR_ALPHA_DEN}
        )
        SELECT n, CAST(sum(take) AS BIGINT) AS tail_k,
               round(var95_raw / 100.0, 4) AS var95,
               round(cast(sum(CAST(v AS HUGEINT) * take) as double)
                     / cast(sum(take) as double) / 100.0, 4) AS es95
        FROM tail GROUP BY n, var95_raw
    """

# ---------- round-7 twelfth batch: effective size / last digit / TWAP ----------

ORACLE_TRAINING["effective_corpus_size"] = """
        WITH docs AS (
          SELECT doc_id, source, md5(text) AS text_hash,
                 n_chars // 4 AS n_tok
          FROM documents
        ), sizes AS (
          SELECT md5(text) AS text_hash,
                 CAST(count(*) AS BIGINT) AS n_copies
          FROM documents GROUP BY 1
        ), weighted AS (
          SELECT d.source, d.n_tok,
                 CAST(round(1000000000.0 / CAST(s.n_copies AS DOUBLE))
                      AS BIGINT) AS w_nano
          FROM docs d JOIN sizes s USING (text_hash)
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
               round(CAST(sum(w_nano) AS DOUBLE) / 1000000000.0, 6)
                   AS effective_docs,
               round(CAST(sum(CAST(w_nano AS HUGEINT) * n_tok) AS DOUBLE)
                     / 1000000000.0, 2) AS effective_tokens,
               round(CAST(sum(CAST(w_nano AS HUGEINT) * n_tok) AS DOUBLE)
                     / 1000000000.0
                     / CAST(nullif(sum(n_tok), 0) AS DOUBLE), 6)
                   AS unique_share
        FROM weighted GROUP BY source
    """

ORACLE_TRAINING["last_digit_audit"] = """
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) % 10 AS digit
          FROM orders
        ), cells AS (
          SELECT digit, CAST(count(*) AS BIGINT) AS n FROM o GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells
        )
        SELECT digit, n,
               round(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS share,
               round(CAST((10 * n - nn) AS DOUBLE)
                     * CAST((10 * n - nn) AS DOUBLE)
                     / (10.0 * CAST(nn AS DOUBLE)), 6) AS chi2_term
        FROM cells CROSS JOIN tot
    """

ORACLE_TRAINING["twap_by_type"] = """
        WITH ev AS (
          SELECT event_type, user_id, epoch_us(ts) AS us, event_id,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ), held AS (
          SELECT event_type, cents,
                 lead(us) OVER (PARTITION BY event_type, user_id
                                ORDER BY us, event_id) - us AS dur_us
          FROM ev
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(sum(dur_us) AS BIGINT) AS total_us,
               round(CAST(sum(CAST(cents AS HUGEINT) * dur_us) AS DOUBLE)
                     / CAST(sum(dur_us) AS DOUBLE) / 100.0, 6)
                   AS twap_value
        FROM held WHERE dur_us IS NOT NULL GROUP BY event_type
    """

# ---------- round-7 thirteenth batch: two-pass median / grouped mode ----------

ORACLE_TRAINING["scalable_median"] = """
        WITH li AS (
          SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
          FROM lineitem
        ), st AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 (CAST(count(*) AS BIGINT) + 1) // 2 AS k
          FROM li
        )
        -- ground truth: the k-th smallest directly (the two-pass
        -- bucket-refine plan must equal the full sort's answer)
        SELECT st.n, st.k AS rank,
               round(CAST((SELECT v FROM li ORDER BY v
                      LIMIT 1 OFFSET (SELECT k - 1 FROM st)) AS DOUBLE)
                     / 100.0, 2) AS median_price
        FROM st WHERE st.n > 0
    """

ORACLE_TRAINING["value_mode_by_type"] = """
        WITH counts AS (
          SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY event_type
                     ORDER BY cnt DESC, v ASC) AS rnk
          FROM counts
        )
        SELECT event_type,
               round(CAST(v AS DOUBLE) / 100.0, 2) AS mode_value,
               cnt AS n_occurrences
        FROM ranked WHERE rnk = 1
    """

# ---------- round-7 fourteenth batch: keyness / lag pcts / PVM ----------

from .operators.textops import (  # noqa: E402
    KEYNESS_ALPHA,
    KEYNESS_TOP_K,
    KEYNESS_Z,
)
from .operators.relational import PVM_PRICE, PVM_VOLUME

ORACLE_TRAINING["monroe_keyness"] = f"""
        WITH words AS (
          SELECT source, unnest({_TOKS}) AS w FROM documents
        ), per_src AS (
          SELECT source, w, CAST(count(*) AS BIGINT) AS y_s
          FROM words GROUP BY 1, 2
        ), gw AS (
          SELECT w, CAST(count(*) AS BIGINT) AS y_g FROM words GROUP BY 1
        ), n_src AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_s
          FROM words GROUP BY 1
        ), n_tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_g FROM words
        ), vocab AS (
          SELECT CAST(count(*) AS BIGINT) AS v FROM gw
        ), base AS (
          SELECT p.source, p.w, p.y_s, g.y_g - p.y_s AS y_r,
                 s.n_s, n_tot.n_g - s.n_s AS n_r,
                 cast({KEYNESS_ALPHA} as double) AS a,
                 cast(v as double) * {KEYNESS_ALPHA} AS a0
          FROM per_src p
          JOIN gw g USING (w)
          JOIN n_src s ON s.source = p.source
          CROSS JOIN n_tot
          CROSS JOIN vocab
        ), scored AS (
          SELECT source, w, y_s, y_r, {KEYNESS_Z} AS z_raw FROM base
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY z_raw DESC, w ASC) AS rnk
          FROM scored
        )
        SELECT source, CAST(rnk AS INTEGER) AS rank, w,
               y_s AS n_in_source, y_r AS n_in_rest,
               round(z_raw, 6) AS keyness_z
        FROM ranked WHERE rnk <= {KEYNESS_TOP_K}
    """

ORACLE_TRAINING["conversion_lag_percentiles"] = """
        WITH firsts AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup'
                     THEN epoch_us(ts) END) AS su,
                 min(CASE WHEN event_type = 'purchase'
                     THEN epoch_us(ts) END) AS pu
          FROM events WHERE event_type IN ('signup', 'purchase')
          GROUP BY 1
        ), lags AS (
          SELECT pu - su AS lag_us FROM firsts
          WHERE su IS NOT NULL AND pu IS NOT NULL AND pu >= su
        )
        SELECT CAST(count(*) AS BIGINT) AS n_converters,
               round(quantile_cont(lag_us, 0.1) / 3600000000.0, 6)
                   AS p10_hours,
               round(quantile_cont(lag_us, 0.25) / 3600000000.0, 6)
                   AS p25_hours,
               round(quantile_cont(lag_us, 0.5) / 3600000000.0, 6)
                   AS p50_hours,
               round(quantile_cont(lag_us, 0.75) / 3600000000.0, 6)
                   AS p75_hours,
               round(quantile_cont(lag_us, 0.9) / 3600000000.0, 6)
                   AS p90_hours
        FROM lags
    """

ORACLE_TRAINING["price_volume_mix"] = f"""
        WITH li AS (
          SELECT p.p_brand,
                 datediff('day', DATE '1970-01-01', l.l_shipdate) AS d,
                 CAST(round(l.l_quantity) AS BIGINT) AS q,
                 CAST(round(l.l_extendedprice * 100) AS BIGINT) AS r
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ), mid AS (
          SELECT min(d) + (max(d) - min(d)) // 2 AS mid FROM li
        ), agg AS (
          SELECT p_brand,
                 CAST(sum(CASE WHEN d < mid THEN q ELSE 0 END) AS BIGINT)
                     AS q_a,
                 CAST(sum(CASE WHEN d < mid THEN r ELSE 0 END) AS BIGINT)
                     AS r_a,
                 CAST(sum(CASE WHEN d >= mid THEN q ELSE 0 END) AS BIGINT)
                     AS q_b,
                 CAST(sum(CASE WHEN d >= mid THEN r ELSE 0 END) AS BIGINT)
                     AS r_b
          FROM li CROSS JOIN mid GROUP BY 1
        )
        SELECT p_brand,
               round(cast(r_a as double) / 100.0, 2) AS rev_a,
               round(cast(r_b as double) / 100.0, 2) AS rev_b,
               round(cast(r_b - r_a as double) / 100.0, 2) AS delta_rev,
               round(if(q_a > 0 AND q_b > 0, {PVM_VOLUME} / 100.0,
                     cast(null as double)), 2) AS volume_effect,
               round(if(q_a > 0 AND q_b > 0, {PVM_PRICE} / 100.0,
                     cast(null as double)), 2) AS price_effect
        FROM agg
    """

# ---------- round-7 fifteenth batch: set ops / interval overlap ----------

from .operators.temporal import PROMO_WINDOW_US, SESSION_GAP_US  # noqa: E402

ORACLE_TRAINING["set_ops_battery"] = """
        WITH thr AS (
          SELECT quantile_cont(o_totalprice, 0.9) AS p90 FROM orders
        ), a AS (
          SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        ), b AS (
          SELECT DISTINCT o_custkey FROM orders CROSS JOIN thr
          WHERE o_totalprice > p90
        ), i AS (
          SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b
        ), u AS (
          SELECT o_custkey FROM a UNION SELECT o_custkey FROM b
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
               (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
               (SELECT CAST(count(*) AS BIGINT) FROM i) AS n_intersect,
               (SELECT CAST(count(*) AS BIGINT) FROM
                  (SELECT o_custkey FROM a EXCEPT
                   SELECT o_custkey FROM i)) AS n_only_a,
               (SELECT CAST(count(*) AS BIGINT) FROM
                  (SELECT o_custkey FROM b EXCEPT
                   SELECT o_custkey FROM i)) AS n_only_b,
               (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_union,
               CASE WHEN (SELECT count(*) FROM u) = 0 THEN NULL ELSE
               round((SELECT count(*) FROM i) * 1.0
                     / (SELECT count(*) FROM u), 6) END AS cohort_jaccard
    """

ORACLE_TRAINING["interval_overlap_hours"] = f"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        ), lagged AS (
          SELECT user_id, us,
                 lag(us) OVER (PARTITION BY user_id
                               ORDER BY us, event_id) AS prev
          FROM ev
        ), marked AS (
          SELECT user_id, us,
                 CASE WHEN prev IS NULL OR us - prev > {SESSION_GAP_US}
                      THEN 1 ELSE 0 END AS new_sess
          FROM lagged
        ), sess0 AS (
          SELECT user_id, us,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_id
          FROM marked
        ), sess AS (
          SELECT user_id, sess_id, min(us) AS s_start, max(us) AS s_end
          FROM sess0 GROUP BY 1, 2
        ), promo AS (
          SELECT user_id, min(epoch_us(ts)) AS p_start,
                 min(epoch_us(ts)) + {PROMO_WINDOW_US} AS p_end
          FROM events WHERE event_type = 'signup' GROUP BY 1
        ), per_user AS (
          SELECT s.user_id,
                 CAST(sum(greatest(0, least(s.s_end, p.p_end)
                      - greatest(s.s_start, p.p_start))) AS BIGINT)
                     AS ov_us
          FROM sess s JOIN promo p USING (user_id)
          GROUP BY 1
        )
        SELECT ov_us // 3600000000 AS overlap_hours_bucket,
               CAST(count(*) AS BIGINT) AS n_users
        FROM per_user GROUP BY 1
    """
