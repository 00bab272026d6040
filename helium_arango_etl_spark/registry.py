"""Driver-contract registry: name -> Spark callable + equivalent DuckDB SQL.

Every SQL-expressible operator from SURVEY.md §2 has BOTH entries; the
non-SQL-expressible ones (driver-side numpy graph metrics, streaming) appear
only in QUERIES and get the driver's rows-only check.

Column names are aligned 1:1 between the Spark plan and the oracle SQL —
the driver sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import dedup as D
from .operators import graph as G
from .operators import mlstats as ML
from .operators import multimodal as M
from .operators.mlstats import corr_pair_expr as _ml_corr_pair
from .operators import pipeline as P
from .operators import rangeops as RG
from .operators import relational as R
from .operators import similarity as S
from .operators import sketch as K
from .operators import temporal as TP
from .operators import textops as T
from .operators import windows as W
from .oracles_training import ORACLE_TRAINING

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- relational core (SURVEY §2 A/B/C/D/F/H/I) ---
    "rewards_5d": R.rewards_5d,
    "hotspot_snapshot": R.hotspot_snapshot,
    "cities": R.cities,
    "current_height": R.current_height,
    "block_by_timestamp": R.block_by_timestamp,
    "timestamp_by_block": R.timestamp_by_block,
    "rewards_by_type": R.rewards_by_type,
    "topk_accounts": R.topk_accounts,
    "scalar_battery": R.scalar_battery,
    "date_battery": R.date_battery,
    "haversine_pairs": R.haversine_pairs,
    "payments_from_events": R.payments_from_events,
    "payment_shape_dispatch": R.payment_shape_dispatch,
    "sql_rewards_summary": R.sql_rewards_summary,
    "payment_v2_exploded": R.payment_v2_exploded,
    "token_explode": R.token_explode,
    "rewards_by_address": R.rewards_by_address,
    "events_profile": R.events_profile,
    # --- windows / dedup semantics (SURVEY §2 E) ---
    "keep_latest_witness": W.keep_latest_witness,
    "topk_per_group": W.topk_per_group,
    "last_balance_per_day": W.last_balance_per_day,
    "groupwise_max_join": W.groupwise_max_join,
    "daily_balances": W.daily_balances,
    "normalize_by_group_mean": W.normalize_by_group_mean,
    # --- graph / analytics (SURVEY §2 J) ---
    "witness_subgraph": G.witness_subgraph,
    "city_graph_metrics": G.city_graph_metrics,  # rows-only: networkx-equivalent numerics, computed on the driver
    "city_hits": G.city_hits,  # rows-only: J5 hub/authority scores
    "hotspot_metrics_writeback": G.hotspot_metrics_writeback,  # rows-only: hotspot document + rewards + metrics
    "city_graph_nodes": G.city_graph_nodes,  # oracled skeleton of the metrics rows
    "witness_components": G.witness_components,  # oracled per-city WCC (min-label propagation)
    "hotspot_writeback_surface": G.hotspot_writeback_surface,  # oracled writeback join surface
    # --- training-data pipeline: text analysis ---
    "text_stats": T.text_stats,
    "lang_id": T.lang_id,
    "doc_fingerprint": T.doc_fingerprint,
    "bpe_token_stats": T.bpe_token_stats,
    "repetition_signals": T.repetition_signals,
    "gopher_quality": T.gopher_quality,
    "tf_idf_top_terms": T.tf_idf_top_terms,
    "normalize_text": T.normalize_text,
    "pii_scrub": T.pii_scrub,
    "vocab_coverage": T.vocab_coverage,
    "lang_id_confusion": T.lang_id_confusion,
    "quality_histogram": T.quality_histogram,
    "token_entropy": T.token_entropy,
    "bigram_pmi": T.bigram_pmi,
    "bigram_cross_entropy": T.bigram_cross_entropy,
    # --- training-data pipeline: dedup ---
    "exact_dedup": D.exact_dedup,
    "minhash_signatures": D.minhash_signatures,
    "lsh_candidate_pairs": D.lsh_candidate_pairs,
    "lsh_bucket_stats": D.lsh_bucket_stats,
    "ngram_jaccard_pairs": D.ngram_jaccard_pairs,
    "near_dup_keep": D.near_dup_keep,
    "simhash": D.simhash,
    "simhash_near_pairs": D.simhash_near_pairs,
    "decontaminate": D.decontaminate,
    "dedup_clusters": D.dedup_clusters,
    "incremental_dedup": D.incremental_dedup,
    "segment_dedup": D.segment_dedup,
    "cluster_keep": D.cluster_keep,
    "shingle_novelty": D.shingle_novelty,
    "prefix_edit_distance": D.prefix_edit_distance,
    # --- training-data pipeline: corpus assembly ---
    "hash_split": P.hash_split,
    "corpus_retention": P.corpus_retention,
    "mixture_sample": P.mixture_sample,
    "per_source_cap": P.per_source_cap,
    "corpus_summary": P.corpus_summary,
    "corpus_manifest": P.corpus_manifest,
    "split_leakage": P.split_leakage,
    "mixture_report": P.mixture_report,
    "pack_sequences": TP.pack_sequences,
    # --- temporal: distributed as-of join (I3 at every t) ---
    "height_asof": TP.height_asof,
    "sessionize": TP.sessionize,
    "session_stats": TP.session_stats,
    "user_value_ewma": TP.user_value_ewma,
    # --- range join + quantiles ---
    "block_activity_7d": RG.block_activity_7d,
    "price_quantiles": RG.price_quantiles,
    # --- sketches: engine-portable HLL + count-min + bloom prune ---
    "hll_distinct": K.hll_distinct,
    "cms_token_counts": K.cms_token_counts,
    "bloom_prune_stats": K.bloom_prune_stats,
    # --- training-data pipeline: similarity search ---
    "ann_cosine_topk": S.ann_cosine_topk,
    "ann_batch_topk": S.ann_batch_topk,
    "lsh_bucket_topk": S.lsh_bucket_topk,
    "ivf_topk": S.ivf_topk,
    "cosine_near_dup_pairs": S.cosine_near_dup_pairs,
    "embedding_norms": S.embedding_norms,
    "kmeans_centroids": S.kmeans_centroids,
    "ivf_topk_trained": S.ivf_topk_trained,
    "embedding_quantize": S.embedding_quantize,
    # --- training-data pipeline: multimodal (rows-only: binary mapInPandas) ---
    "image_features": M.image_features,
    "video_frame_sample": M.video_frame_sample,
    "image_resize": M.image_resize,
    "audio_features": M.audio_features,
    "image_phash": M.image_phash,
    "phash_near_pairs": M.phash_near_pairs,
    "audio_resample": M.audio_resample,
}

# The witness edge set, shared by witness_subgraph and the graph-skeleton
# oracles built on top of it (city_graph_nodes, hotspot_writeback_surface).
_WITNESS_SQL = """
        SELECT md5(concat_ws('|', n.n_name, r.r_name)) AS city_key,
               'S' || CAST(l.l_suppkey AS VARCHAR) AS src,
               'C' || CAST(o.o_custkey AS VARCHAR) AS dst,
               round(2 * 6371008.8 * asin(sqrt(
                   power(sin(radians(
                       CAST((o.o_custkey * 37) % 120 - 60 AS DOUBLE) -
                       CAST((l.l_suppkey * 37) % 120 - 60 AS DOUBLE)) / 2), 2) +
                   cos(radians(CAST((l.l_suppkey * 37) % 120 - 60 AS DOUBLE))) *
                   cos(radians(CAST((o.o_custkey * 37) % 120 - 60 AS DOUBLE))) *
                   power(sin(radians(
                       CAST((o.o_custkey * 91) % 360 - 180 AS DOUBLE) -
                       CAST((l.l_suppkey * 91) % 360 - 180 AS DOUBLE)) / 2), 2)
               )), 3) AS distance_m,
               l.l_shipdate AS edge_ts
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE l.l_returnflag = 'N'
    """

ORACLE: dict[str, str] = {
    "rewards_5d": """
        SELECT s.s_suppkey, s.s_name, r.rewards_5d
        FROM supplier s
        LEFT JOIN (
            SELECT l_suppkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rewards_5d
            FROM lineitem
            WHERE l_shipdate > TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_suppkey
        ) r ON s.s_suppkey = r.l_suppkey
    """,
    "hotspot_snapshot": """
        SELECT s.s_suppkey AS address,
               s.s_name AS name,
               st.online,
               n.n_name AS long_city,
               r.r_name AS long_country,
               md5(concat_ws('|', n.n_name, r.r_name)) AS city_key,
               CAST(NULL AS DOUBLE) AS rewards_5d,
               CAST(NULL AS DOUBLE) AS betweenness_centrality,
               CAST(NULL AS DOUBLE) AS pagerank,
               CAST(NULL AS DOUBLE) AS hub_score,
               CAST(NULL AS DOUBLE) AS authority_score
        FROM supplier s
        LEFT JOIN (
            SELECT s_suppkey AS st_suppkey, 'online' AS online
            FROM supplier WHERE s_suppkey % 2 = 1
        ) st ON s.s_suppkey = st.st_suppkey
        LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    "cities": """
        SELECT md5(concat_ws('|', n_name, r_name)) AS city_key,
               n_name AS long_city,
               r_name AS long_country
        FROM (
            SELECT DISTINCT n_name, r_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
        ) t
    """,
    "current_height": "SELECT max(o_orderkey) AS height FROM orders",
    "sql_rewards_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate > TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    "block_by_timestamp": """
        SELECT min(o_orderkey) AS height FROM orders
        WHERE o_orderdate > TIMESTAMP '1999-06-01'
    """,
    "timestamp_by_block": """
        SELECT o_orderkey AS height, o_orderdate AS block_ts
        FROM orders WHERE o_orderkey = 42
    """,
    "rewards_by_type": """
        SELECT o.o_orderpriority,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND o.o_orderdate > TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o.o_orderpriority
    """,
    "topk_accounts": """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey ASC
        LIMIT 10
    """,
    "scalar_battery": """
        SELECT c_custkey,
               md5(c_name) AS "_key",
               'accounts/' || CAST(c_custkey AS VARCHAR) AS doc_id,
               split_part('accounts/' || CAST(c_custkey AS VARCHAR), '/', 2) AS bare_key
        FROM customer
    """,
    "date_battery": """
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS block_date,
               strftime(o_orderdate, '%Y-%m-%d') AS block_date_iso,
               CAST(epoch(CAST(CAST(o_orderdate AS DATE) + 1 AS TIMESTAMP)) AS BIGINT) AS end_of_day_unix
        FROM orders
    """,
    "haversine_pairs": """
        WITH coords AS (
            SELECT n_nationkey,
                   CAST((n_nationkey * 37) % 120 - 60 AS DOUBLE) AS lat,
                   CAST((n_nationkey * 91) % 360 - 180 AS DOUBLE) AS lon
            FROM nation
        )
        SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
               round(2 * 6371008.8 * asin(sqrt(
                   power(sin(radians(b.lat - a.lat) / 2), 2) +
                   cos(radians(a.lat)) * cos(radians(b.lat)) *
                   power(sin(radians(b.lon - a.lon) / 2), 2)
               )), 3) AS distance_m
        FROM coords a JOIN coords b ON a.n_nationkey < b.n_nationkey
    """,
    "payments_from_events": """
        SELECT md5(concat_ws('|',
                   COALESCE(CAST(event_id AS VARCHAR), ''),
                   COALESCE(CAST(user_id AS VARCHAR), ''),
                   COALESCE(CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS VARCHAR), '')
               )) AS "_key",
               'accounts/' || CAST(user_id AS VARCHAR) AS "_from",
               user_id AS payer,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS amount,
               ts AS payment_ts
        FROM events
        WHERE event_type IN ('purchase', 'signup')
          AND ts > TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
    """,
    "token_explode": """
        SELECT token, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        WHERE token <> ''
        GROUP BY token
    """,
    # oracle derives the dispatch/explode semantics JSON-free: the Spark side
    # builds the v1/v2 payload with to_json and parses it back (the machinery
    # under test); both must land on the same extracted values
    "payment_shape_dispatch": """
        SELECT event_id, user_id AS payer,
               (user_id * 7 + CAST(json_extract_string(props, '$.k') AS INTEGER)) % 1000 AS payee,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS amount
        FROM events
    """,
    "payment_v2_exploded": """
        WITH base AS (
          SELECT event_id, user_id,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
          FROM events
        )
        SELECT event_id, user_id AS payer, 0 AS payment_idx,
               (user_id * 7 + k) % 1000 AS payee, k AS amount
        FROM base
        UNION ALL
        SELECT event_id, user_id, 1, (user_id * 11 + k) % 1000, k + 1
        FROM base WHERE event_id % 2 = 1
    """,
    "keep_latest_witness": """
        SELECT user_id, event_type, ts, event_id, value
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
        ) = 1
    """,
    "last_balance_per_day": """
        SELECT user_id, CAST(ts AS DATE) AS balance_date, event_id AS balance
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts DESC, event_id DESC
        ) = 1
    """,
    "groupwise_max_join": """
        SELECT e.user_id, m.balance_date, m.max_ts, max(e.event_id) AS balance
        FROM events e
        JOIN (
            SELECT user_id, CAST(ts AS DATE) AS balance_date, max(ts) AS max_ts
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ) m ON e.user_id = m.user_id AND e.ts = m.max_ts
        GROUP BY e.user_id, m.balance_date, m.max_ts
    """,
    "daily_balances": """
        SELECT user_id,
               string_agg(strftime(balance_date, '%Y-%m-%d') || ':' || CAST(balance AS VARCHAR),
                          ';' ORDER BY balance_date) AS daily_balances
        FROM (
            SELECT user_id, CAST(ts AS DATE) AS balance_date, event_id AS balance
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts DESC, event_id DESC
            ) = 1
        ) t
        GROUP BY user_id
    """,
    "normalize_by_group_mean": """
        SELECT event_id, event_type,
               CASE WHEN avg(value) OVER (PARTITION BY event_type) = 0
                    THEN 0.0 ELSE
                 round(value / avg(value) OVER (PARTITION BY event_type), 6)
                 END AS value_normalized
        FROM events
    """,
    "witness_subgraph": _WITNESS_SQL,
    "witness_components": f"""
        WITH RECURSIVE edges AS ({_WITNESS_SQL}),
        e AS (
          SELECT DISTINCT city_key,
                 CAST(substr(src, 2) AS BIGINT) * 2 AS a,
                 CAST(substr(dst, 2) AS BIGINT) * 2 + 1 AS b
          FROM edges
        ),
        und AS (
          SELECT city_key, a, b FROM e
          UNION SELECT city_key, b AS a, a AS b FROM e
        ),
        reach AS (
          SELECT DISTINCT city_key, a AS node, a AS label FROM und
          UNION
          SELECT u.city_key, u.b AS node, r.label
          FROM reach r JOIN und u ON u.city_key = r.city_key AND u.a = r.node
        ),
        lab AS (
          SELECT city_key, node, min(label) AS lbl
          FROM reach GROUP BY city_key, node
        )
        SELECT city_key,
               CASE WHEN node % 2 = 0 THEN 'S' || CAST(node // 2 AS VARCHAR)
                    ELSE 'C' || CAST(node // 2 AS VARCHAR) END AS node,
               CASE WHEN lbl % 2 = 0 THEN 'S' || CAST(lbl // 2 AS VARCHAR)
                    ELSE 'C' || CAST(lbl // 2 AS VARCHAR) END AS component_id,
               CAST(count(*) OVER (PARTITION BY city_key, lbl) AS BIGINT)
                   AS component_size
        FROM lab
    """,
    "city_graph_nodes": f"""
        WITH edges AS ({_WITNESS_SQL}),
        arcs AS (SELECT DISTINCT city_key, src, dst FROM edges),
        big AS (SELECT city_key FROM arcs GROUP BY city_key HAVING count(*) >= {G.MIN_CITY_SIZE}),
        nodes AS (
          SELECT a.city_key, unnest([a.src, a.dst]) AS address
          FROM arcs a JOIN big b ON a.city_key = b.city_key
        )
        SELECT DISTINCT city_key, address FROM nodes
    """,
    "hotspot_writeback_surface": f"""
        WITH edges AS ({_WITNESS_SQL}),
        arcs AS (SELECT DISTINCT city_key, src, dst FROM edges),
        big AS (SELECT city_key FROM arcs GROUP BY city_key HAVING count(*) >= {G.MIN_CITY_SIZE}),
        nodes AS (
          SELECT a.city_key, unnest([a.src, a.dst]) AS address
          FROM arcs a JOIN big b ON a.city_key = b.city_key
        ),
        snodes AS (
          SELECT DISTINCT CAST(substr(address, 2) AS BIGINT) AS address, TRUE AS has_metrics
          FROM nodes WHERE address LIKE 'S%'
        )
        SELECT s.s_suppkey AS address,
               s.s_name AS name,
               st.online,
               n.n_name AS long_city,
               r.r_name AS long_country,
               md5(concat_ws('|', n.n_name, r.r_name)) AS city_key,
               COALESCE(sn.has_metrics, FALSE) AS has_metrics
        FROM supplier s
        LEFT JOIN (
            SELECT s_suppkey AS st_suppkey, 'online' AS online
            FROM supplier WHERE s_suppkey % 2 = 1
        ) st ON s.s_suppkey = st.st_suppkey
        LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        LEFT JOIN snodes sn ON s.s_suppkey = sn.address
    """,
    "height_asof": """
        WITH u AS (
          SELECT o_orderdate AS ts, o_orderkey AS height, 0 AS is_event,
                 CAST(NULL AS BIGINT) AS l_orderkey, CAST(NULL AS INT) AS l_linenumber
          FROM orders
          UNION ALL
          SELECT l_shipdate, NULL, 1, l_orderkey, CAST(l_linenumber AS INT)
          FROM lineitem
        ), r AS (
          SELECT l_orderkey, l_linenumber, ts, is_event,
                 max(height) OVER (ORDER BY ts, is_event
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS height
          FROM u
        )
        SELECT l_orderkey, l_linenumber, ts AS l_shipdate, height
        FROM r WHERE is_event = 1
    """,
    "pack_sequences": """
        WITH t AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
          FROM t
        )
        SELECT doc_id, n_tokens,
               (cum_end - n_tokens) // 512 AS start_bin,
               (cum_end - n_tokens) % 512 AS start_offset,
               CASE WHEN n_tokens = 0 THEN (cum_end - n_tokens) // 512
                    ELSE (cum_end - 1) // 512 END AS end_bin,
               CASE WHEN n_tokens = 0 THEN (cum_end - n_tokens) // 512
                    ELSE (cum_end - 1) // 512 END
                 - (cum_end - n_tokens) // 512 + 1 AS n_bins
        FROM c
    """,
    "block_activity_7d": """
        SELECT o.o_orderkey AS height,
               count(l.l_orderkey) AS n_shipments,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM orders o
        LEFT JOIN lineitem l
          ON l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
        GROUP BY o.o_orderkey
    """,
    "price_quantiles": """
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS p50,
               quantile_cont(l_extendedprice, 0.9) AS p90,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "hll_distinct": """
        WITH h AS (
          SELECT md5(CAST(event_id AS VARCHAR)) AS h FROM events
        ), b AS (
          SELECT ('0x' || substr(h, 1, 2))::BIGINT % 64 AS reg,
                 ('0x' || substr(h, 3, 6))::BIGINT AS x
          FROM h
        ), k AS (
          SELECT reg,
                 CASE WHEN strpos(lpad(bin(x), 24, '0'), '1') = 0 THEN 25
                      ELSE strpos(lpad(bin(x), 24, '0'), '1') END AS rank
          FROM b
        ), g AS (
          SELECT reg, max(rank) AS mr FROM k GROUP BY reg
        ), a AS (
          SELECT CAST(count(*) AS BIGINT) AS n_present,
                 sum(power(2.0, -mr)) AS sp
          FROM g
        ), s AS (
          SELECT 0.709 * 64 * 64 / (sp + (64 - n_present)) AS raw,
                 64 - n_present AS zeros
          FROM a
        ), e AS (
          SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact FROM events
        )
        SELECT e.n_exact,
               round(CASE WHEN s.raw <= 160 AND s.zeros > 0
                          THEN 64 * ln(CAST(64 AS DOUBLE) / s.zeros)
                          ELSE s.raw END, 4) AS hll_estimate,
               round((CASE WHEN s.raw <= 160 AND s.zeros > 0
                           THEN 64 * ln(CAST(64 AS DOUBLE) / s.zeros)
                           ELSE s.raw END - e.n_exact) / e.n_exact, 4) AS rel_error,
               CAST(64 AS INT) AS n_registers
        FROM s, e
    """,
    "topk_per_group": """
        SELECT c_nationkey AS nationkey,
               CAST(row_number() OVER (PARTITION BY c_nationkey
                                       ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rk,
               c_custkey AS custkey,
               c_name AS name,
               CAST(c_acctbal AS DOUBLE) AS acctbal
        FROM customer
        QUALIFY row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey ASC) <= 3
    """,
    "sessionize": f"""
        WITH g AS (
          SELECT event_id, user_id, ts,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        )
        SELECT event_id, user_id, ts,
               CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > {TP.SESSION_GAP_US}
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_idx,
               (gap_us IS NULL OR gap_us > {TP.SESSION_GAP_US}) AS is_session_start
        FROM g
    """,
    "session_stats": f"""
        WITH g AS (
          SELECT event_id, user_id, ts, value,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        ), s AS (
          SELECT user_id, ts, value,
                 CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > {TP.SESSION_GAP_US}
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                     AS session_idx
          FROM g
        )
        SELECT user_id, session_idx,
               CAST(count(*) AS BIGINT) AS n_events,
               min(ts) AS session_start,
               max(ts) AS session_end,
               (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_s,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM s GROUP BY user_id, session_idx
    """,
    "events_profile": """
        SELECT column_name, n_rows, n_nulls, n_distinct, min_value, max_value
        FROM (
          SELECT 'event_id' AS column_name, count(*) AS n_rows,
                 CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                 count(DISTINCT event_id) AS n_distinct,
                 CAST(min(event_id) AS DOUBLE) AS min_value,
                 CAST(max(event_id) AS DOUBLE) AS max_value
          FROM events
          UNION ALL
          SELECT 'user_id', count(*),
                 CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 count(DISTINCT user_id),
                 CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
          FROM events
          UNION ALL
          SELECT 'value', count(*),
                 CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 count(DISTINCT value),
                 CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE)
          FROM events
        )
    """,
    "user_value_ewma": f"""
        WITH g AS (
          SELECT user_id, list(value ORDER BY ts, event_id) AS vs
          FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(len(vs) AS BIGINT) AS n_events,
               CASE WHEN len(vs) = 1 THEN vs[1]
                    ELSE list_reduce(list_transform(vs, x -> CAST(x AS DOUBLE)),
                                     (acc, x) -> {TP.EWMA_ALPHA} * x
                                                 + {1 - TP.EWMA_ALPHA} * acc) END
                   AS ewma_value
        FROM g
    """,
    "bloom_prune_stats": f"""
        WITH build AS (
          SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS k
          FROM orders WHERE o_orderpriority = '1-URGENT'
        ), ds AS (SELECT unnest(range(0, {K.BLOOM_K})) AS d),
        bits AS (
          SELECT DISTINCT
                 ('0x' || substr(md5(CAST(d AS VARCHAR) || '|' || k), 1, 8))::BIGINT
                     % {K.BLOOM_M} AS b
          FROM build, ds
        ),
        probe AS (SELECT DISTINCT l_orderkey AS okey FROM lineitem),
        hits AS (
          SELECT p.okey,
                 min(CASE WHEN ('0x' || substr(md5(CAST(d.d AS VARCHAR) || '|'
                                  || CAST(p.okey AS VARCHAR)), 1, 8))::BIGINT % {K.BLOOM_M}
                               IN (SELECT b FROM bits)
                          THEN 1 ELSE 0 END) AS all_hit
          FROM probe p, ds d
          GROUP BY p.okey
        ),
        urgent AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        ex AS (
          SELECT CAST(count(*) AS BIGINT) AS n_exact_match
          FROM hits h JOIN urgent u ON h.okey = u.o_orderkey
        )
        SELECT CAST(count(*) AS BIGINT) AS n_probe,
               CAST(sum(all_hit) AS BIGINT) AS n_bloom_pass,
               ex.n_exact_match,
               CAST(sum(all_hit) AS BIGINT) - ex.n_exact_match AS n_false_positive,
               (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_set_bits
        FROM hits, ex
        GROUP BY ex.n_exact_match
    """,
    "rewards_by_address": f"""
        SELECT CAST({R.TARGET_ADDRESS} AS BIGINT) AS address,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rewards
        FROM lineitem
        WHERE l_suppkey = {R.TARGET_ADDRESS}
          AND l_shipdate > TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
}

ORACLE.update(ORACLE_TRAINING)

# the churn oracle rides the shared witness edge SQL, which lives here
# (oracles_training cannot import registry without a cycle)
ORACLE["witness_edge_churn"] = ORACLE["witness_edge_churn"].replace(
    "{WSQL}", _WITNESS_SQL
)
ORACLE["neighborhood_jaccard"] = ORACLE["neighborhood_jaccard"].replace(
    "{WSQL}", _WITNESS_SQL
)
ORACLE["degree_powerlaw_fit"] = ORACLE["degree_powerlaw_fit"].replace(
    "{WSQL}", _WITNESS_SQL
)
ORACLE["butterfly_stats"] = ORACLE["butterfly_stats"].replace(
    "{WSQL}", _WITNESS_SQL
)
ORACLE["rich_club_coefficient"] = ORACLE["rich_club_coefficient"].replace(
    "{WSQL}", _WITNESS_SQL
)
ORACLE["city_bfs_layers"] = ORACLE["city_bfs_layers"].replace(
    "{WSQL}", _WITNESS_SQL
)
ORACLE["cowitness_lift"] = ORACLE["cowitness_lift"].replace(
    "{WSQL}", _WITNESS_SQL
)


# ---------- declarative PageRank oracle (unrolled quantized iterations) ----------
#
# Damping constants are embedded via repr() and CAST(... AS DOUBLE): DuckDB
# parses bare decimal literals as DECIMAL (exact), Spark received the Python
# doubles — the cast pins both engines to the identical float64 values
# (note 1 - 0.85 is 0.15000000000000002 in binary, not 0.15).


def _pagerank_sql() -> str:
    d = repr(G.PR_DAMPING)
    um = repr(1 - G.PR_DAMPING)
    parts = [
        f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        nodes AS (
          SELECT DISTINCT city_key, node FROM (
            SELECT city_key, src AS node FROM edges
            UNION ALL SELECT city_key, dst FROM edges
          )
        ),
        nn AS (SELECT city_key, count(*) AS n FROM nodes GROUP BY city_key),
        outdeg AS (
          SELECT city_key, src, count(*) AS deg FROM edges GROUP BY city_key, src
        ),
        r0 AS (
          SELECT nodes.city_key, node, n, round(CAST(1 AS DOUBLE) / n, 9) AS r
          FROM nodes JOIN nn USING (city_key)
        )"""
    ]
    for i in range(1, G.PR_ITERS + 1):
        p = f"r{i - 1}"
        parts.append(f"""
        , rd{i} AS (
          SELECT r.city_key, r.node AS src, r.r / o.deg AS w
          FROM {p} r JOIN outdeg o ON o.city_key = r.city_key AND o.src = r.node
        ), co{i} AS (
          SELECT e.city_key, e.dst AS node, sum(w) AS c
          FROM edges e JOIN rd{i} USING (city_key, src)
          GROUP BY e.city_key, e.dst
        ), dg{i} AS (
          SELECT r.city_key, sum(r.r) AS dsum
          FROM {p} r LEFT JOIN outdeg o ON o.city_key = r.city_key AND o.src = r.node
          WHERE o.src IS NULL GROUP BY r.city_key
        ), r{i} AS (
          SELECT nd.city_key, nd.node, nn.n,
                 round(CAST({um} AS DOUBLE) / nn.n
                       + CAST({d} AS DOUBLE)
                         * (coalesce(c.c, 0) + coalesce(g.dsum, 0) / nn.n), 9) AS r
          FROM nodes nd
          JOIN nn USING (city_key)
          LEFT JOIN co{i} c ON c.city_key = nd.city_key AND c.node = nd.node
          LEFT JOIN dg{i} g ON g.city_key = nd.city_key
        )""")
    parts.append(f"""
        SELECT city_key, node, round(r, 6) AS pagerank FROM r{G.PR_ITERS}
    """)
    return "".join(parts)


QUERIES["city_pagerank_joins"] = G.city_pagerank_joins
ORACLE["city_pagerank_joins"] = _pagerank_sql()


def _hits_sql() -> str:
    parts = [
        f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        nodes AS (
          SELECT DISTINCT city_key, node FROM (
            SELECT city_key, src AS node FROM edges
            UNION ALL SELECT city_key, dst FROM edges
          )
        ),
        nn AS (SELECT city_key, count(*) AS n FROM nodes GROUP BY city_key),
        h0 AS (
          SELECT nodes.city_key, node, round(CAST(1 AS DOUBLE) / n, 9) AS s
          FROM nodes JOIN nn USING (city_key)
        )"""
    ]

    # {out}f{i} is read twice per step: materialized, or DuckDB inlines
    # 2^HITS_ITERS copies of the chain
    def flow(i, src_cte, from_col, to_col, out):
        return f"""
        , {out}raw{i} AS (
          SELECT e.city_key, e.{to_col} AS node, sum(p.s) AS raw
          FROM edges e JOIN {src_cte} p
            ON p.city_key = e.city_key AND p.node = e.{from_col}
          GROUP BY e.city_key, e.{to_col}
        ), {out}f{i} AS MATERIALIZED (
          SELECT nd.city_key, nd.node, coalesce(r.raw, 0) AS raw
          FROM nodes nd LEFT JOIN {out}raw{i} r
            ON r.city_key = nd.city_key AND r.node = nd.node
        ), {out}{i} AS (
          SELECT f.city_key, f.node,
                 round(f.raw / t.tot, 9) AS s
          FROM {out}f{i} f
          JOIN (SELECT city_key, sum(raw) AS tot FROM {out}f{i} GROUP BY city_key) t
            USING (city_key)
        )"""

    prev_h = "h0"
    for i in range(1, G.HITS_ITERS + 1):
        parts.append(flow(i, prev_h, "src", "dst", "a"))
        parts.append(flow(i, f"a{i}", "dst", "src", "h"))
        prev_h = f"h{i}"
    n = G.HITS_ITERS
    parts.append(f"""
        SELECT h.city_key, h.node,
               round(h.s, 6) AS hub_score,
               round(a.s, 6) AS authority_score
        FROM h{n} h JOIN a{n} a ON a.city_key = h.city_key AND a.node = h.node
    """)
    return "".join(parts)


QUERIES["city_hits_joins"] = G.city_hits_joins
ORACLE["city_hits_joins"] = _hits_sql()


def _labelprop_sql() -> str:
    """Unrolled deterministic sync-LPA (graph.city_communities): per
    iteration, neighbor labels + self-vote → count → argmax with
    (count DESC, label ASC) tie-break.  All-integer state, so the two
    engines agree bit-for-bit without quantization."""
    parts = [
        f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        und AS (
          SELECT city_key, src AS node, dst AS nbr FROM edges
          UNION ALL SELECT city_key, dst AS node, src AS nbr FROM edges
        ),
        l0 AS (
          SELECT DISTINCT city_key, node, node AS label FROM und
        )"""
    ]
    for i in range(1, G.LP_ITERS + 1):
        p = f"l{i - 1}"
        parts.append(f"""
        , c{i} AS (
          SELECT city_key, node, label, count(*) AS c FROM (
            SELECT u.city_key, u.node, p.label
            FROM und u JOIN {p} p ON p.city_key = u.city_key AND p.node = u.nbr
            UNION ALL
            SELECT city_key, node, label FROM {p}
          ) GROUP BY city_key, node, label
        ), l{i} AS (
          SELECT city_key, node, label FROM (
            SELECT city_key, node, label,
                   row_number() OVER (
                       PARTITION BY city_key, node ORDER BY c DESC, label ASC
                   ) AS rn
            FROM c{i}
          ) WHERE rn = 1
        )""")
    parts.append(f"""
        SELECT city_key, node, label AS community_id,
               CAST(count(*) OVER (PARTITION BY city_key, label) AS BIGINT)
                   AS community_size
        FROM l{G.LP_ITERS}
    """)
    return "".join(parts)


QUERIES["city_communities"] = G.city_communities
ORACLE["city_communities"] = _labelprop_sql()


QUERIES["co_witness_pairs"] = G.co_witness_pairs
ORACLE["co_witness_pairs"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0)
        SELECT a.city_key, a.src AS src_a, b.src AS src_b,
               count(*) AS shared_witnesses
        FROM edges a
        JOIN edges b ON a.city_key = b.city_key AND a.dst = b.dst AND a.src < b.src
        GROUP BY a.city_key, a.src, b.src
    """


QUERIES["funnel_conversion"] = TP.funnel_conversion
ORACLE["funnel_conversion"] = f"""
        WITH t0s AS (
          SELECT user_id,
                 min(CASE WHEN event_type = '{TP.FUNNEL_STEPS[0]}' THEN ts END) AS t0
          FROM events GROUP BY user_id
        ), t1s AS (
          SELECT e.user_id, min(e.ts) AS t1
          FROM events e JOIN t0s USING (user_id)
          WHERE e.event_type = '{TP.FUNNEL_STEPS[1]}' AND t0s.t0 IS NOT NULL AND e.ts > t0s.t0
          GROUP BY e.user_id
        ), t2s AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN t1s USING (user_id)
          WHERE e.event_type = '{TP.FUNNEL_STEPS[2]}' AND e.ts > t1s.t1
          GROUP BY e.user_id
        )
        SELECT count(*) AS n_users,
               CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS reached_{TP.FUNNEL_STEPS[0]},
               CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS reached_{TP.FUNNEL_STEPS[1]},
               CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS reached_{TP.FUNNEL_STEPS[2]}
        FROM t0s LEFT JOIN t1s USING (user_id) LEFT JOIN t2s USING (user_id)
    """


QUERIES["cohort_retention"] = TP.cohort_retention
ORACLE["cohort_retention"] = """
        WITH activity AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), first_seen AS (
          SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
        )
        SELECT f.cohort_day,
               CAST(a.day - f.cohort_day AS BIGINT) AS day_offset,
               count(DISTINCT a.user_id) AS n_active_users
        FROM activity a JOIN first_seen f USING (user_id)
        GROUP BY f.cohort_day, a.day - f.cohort_day
    """

QUERIES["daily_event_pivot"] = TP.daily_event_pivot
ORACLE["daily_event_pivot"] = """
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        FROM events GROUP BY CAST(ts AS DATE)
    """


QUERIES["user_trailing_7d"] = W.user_trailing_7d
ORACLE["user_trailing_7d"] = f"""
        SELECT event_id, user_id, ts,
               CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN {W.TRAILING_US} PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS trailing_7d_value
        FROM events
    """

QUERIES["balance_deciles"] = W.balance_deciles
ORACLE["balance_deciles"] = """
        SELECT c_custkey,
               CAST(c_acctbal AS DOUBLE) AS acctbal,
               CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile,
               round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS pct_rank
        FROM customer
    """


QUERIES["promo_revenue_share"] = R.promo_revenue_share
QUERIES["referential_integrity"] = R.referential_integrity
ORACLE["referential_integrity"] = """
        SELECT 'lineitem->orders' AS relationship,
               count(*) AS n_child_rows,
               CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_orphans
        FROM lineitem l
        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'lineitem->supplier', count(*),
               CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem l
        LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
          ON l.l_suppkey = s.s_suppkey
        UNION ALL
        SELECT 'orders->customer', count(*),
               CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders o
        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey
    """


ORACLE["promo_revenue_share"] = """
        WITH per_type AS (
          SELECT p.p_type,
                 SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev_d,
                 count(*) AS n_items
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_shipdate > TIMESTAMP '1996-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY p.p_type
        ), tot AS (SELECT sum(rev_d) AS tot_d FROM per_type)
        SELECT p_type, n_items,
               CAST(rev_d AS DOUBLE) AS revenue,
               round(CAST(rev_d / tot_d AS DOUBLE), 6) AS revenue_share
        FROM per_type CROSS JOIN tot
    """


QUERIES["revenue_rollup"] = R.revenue_rollup
ORACLE["revenue_rollup"] = """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate > TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        HAVING count(*) > 0
    """


QUERIES["witness_graph_summary"] = G.witness_graph_summary
ORACLE["witness_graph_summary"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        deg AS (
          SELECT city_key, node, count(*) AS deg FROM (
            SELECT city_key, src AS node FROM edges
            UNION ALL SELECT city_key, dst FROM edges
          ) GROUP BY city_key, node
        ),
        ne AS (SELECT city_key, count(*) AS n_edges FROM edges GROUP BY city_key),
        ns AS (SELECT city_key, count(DISTINCT src) AS n_hotspots FROM edges GROUP BY city_key),
        nd AS (SELECT city_key, count(DISTINCT dst) AS n_witnesses FROM edges GROUP BY city_key),
        dn AS (
          SELECT city_key, count(*) AS n_nodes,
                 CAST(max(deg) AS BIGINT) AS max_degree,
                 round(avg(deg), 6) AS mean_degree
          FROM deg GROUP BY city_key
        )
        SELECT dn.city_key, dn.n_nodes, ne.n_edges, ns.n_hotspots, nd.n_witnesses,
               dn.max_degree, dn.mean_degree,
               round(ne.n_edges / CAST(ns.n_hotspots * nd.n_witnesses AS DOUBLE), 6)
                   AS bipartite_density
        FROM dn JOIN ne USING (city_key) JOIN ns USING (city_key) JOIN nd USING (city_key)
    """

QUERIES["witness_kcore"] = G.witness_kcore  # rows-only: iterative fixpoint


QUERIES["missing_blocks"] = R.missing_blocks
ORACLE["missing_blocks"] = """
        SELECT height + 1 AS gap_start,
               next_h - 1 AS gap_end,
               next_h - height - 1 AS n_missing
        FROM (
          SELECT o_orderkey AS height,
                 lead(o_orderkey) OVER (ORDER BY o_orderkey) AS next_h
          FROM orders
        )
        WHERE next_h > height + 1
    """


QUERIES["session_conversion"] = TP.session_conversion
ORACLE["session_conversion"] = f"""
        WITH g AS (
          SELECT user_id, ts, event_id, event_type,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        ), s AS (
          SELECT user_id, ts, event_type,
                 sum(CASE WHEN gap_us IS NULL OR gap_us > {TP.SESSION_GAP_US}
                          THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS session_idx
          FROM g
        ), per AS (
          SELECT user_id, session_idx,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
          FROM s GROUP BY user_id, session_idx
        ), conv AS (
          SELECT DISTINCT s.user_id, s.session_idx
          FROM s JOIN per ON per.user_id = s.user_id AND per.session_idx = s.session_idx
          WHERE s.event_type = 'purchase' AND per.t_view IS NOT NULL
            AND s.ts > per.t_view
        )
        SELECT count(*) AS n_sessions,
               CAST(coalesce(sum(CASE WHEN p.t_view IS NOT NULL
                                          THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_with_view,
               CAST(count(c.user_id) AS BIGINT) AS n_converted
        FROM per p
        LEFT JOIN conv c ON c.user_id = p.user_id AND c.session_idx = p.session_idx
    """


QUERIES["city_triangle_stats"] = G.city_triangle_stats
ORACLE["city_triangle_stats"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        cw AS (
          SELECT DISTINCT a.city_key, a.src AS u, b.src AS v
          FROM e a
          JOIN e b ON a.city_key = b.city_key AND a.dst = b.dst AND a.src < b.src
        ), deg AS (
          SELECT city_key, node, count(*) AS d
          FROM (SELECT city_key, u AS node FROM cw
                UNION ALL SELECT city_key, v AS node FROM cw) t
          GROUP BY city_key, node
        ), tri AS (
          SELECT e1.city_key, CAST(count(*) AS BIGINT) AS n_triangles
          FROM cw e1
          JOIN cw e2 ON e2.city_key = e1.city_key AND e2.u = e1.u AND e2.v > e1.v
          JOIN cw e3 ON e3.city_key = e1.city_key AND e3.u = e1.v AND e3.v = e2.v
          GROUP BY e1.city_key
        ), wed AS (
          SELECT city_key, CAST(sum(d * (d - 1)) AS BIGINT) // 2 AS n_wedges
          FROM deg GROUP BY city_key
        ), ne AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n_proj_edges
          FROM cw GROUP BY city_key
        )
        SELECT ne.city_key, ne.n_proj_edges, w.n_wedges,
               CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
               round(CASE WHEN w.n_wedges > 0
                          THEN 3.0 * coalesce(t.n_triangles, 0) / w.n_wedges
                          ELSE 0.0 END, 6) AS transitivity
        FROM ne
        JOIN wed w ON w.city_key = ne.city_key
        LEFT JOIN tri t ON t.city_key = ne.city_key
    """


# their oracles arrive via ORACLE.update(ORACLE_TRAINING) above
QUERIES["ann_recall_audit"] = S.ann_recall_audit
QUERIES["temperature_mixture"] = P.temperature_mixture
QUERIES["dedup_rate_by_source"] = P.dedup_rate_by_source
QUERIES["stratified_split"] = P.stratified_split
QUERIES["video_frame_dup_pairs"] = M.video_frame_dup_pairs
QUERIES["video_frame_bucket_stats"] = M.video_frame_bucket_stats
QUERIES["bpe_pair_counts"] = T.bpe_pair_counts
QUERIES["pq_encode"] = S.pq_encode
QUERIES["pq_topk"] = S.pq_topk
QUERIES["ivf_pq_topk"] = S.ivf_pq_topk
QUERIES["pq_recall_audit"] = S.pq_recall_audit

QUERIES["co_witness_recommendations"] = G.co_witness_recommendations
ORACLE["co_witness_recommendations"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        cw AS (
          SELECT DISTINCT a.city_key, a.src AS u, b.src AS v
          FROM e a
          JOIN e b ON a.city_key = b.city_key AND a.dst = b.dst AND a.src < b.src
        ), adj AS (
          SELECT city_key, u AS a, v AS b FROM cw
          UNION ALL
          SELECT city_key, v AS a, u AS b FROM cw
        ), counts AS (
          SELECT h1.city_key, h1.a AS src, h2.b AS rec,
                 CAST(count(DISTINCT h1.b) AS BIGINT) AS shared_partners
          FROM adj h1
          JOIN adj h2 ON h2.city_key = h1.city_key AND h2.a = h1.b
          WHERE h1.a <> h2.b
          GROUP BY h1.city_key, h1.a, h2.b
        ), nond AS (
          SELECT c.* FROM counts c
          WHERE NOT EXISTS (
            SELECT 1 FROM adj d
            WHERE d.city_key = c.city_key AND d.a = c.src AND d.b = c.rec)
        )
        SELECT city_key, src, rec, shared_partners, CAST(rank AS INT) AS rank
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY city_key, src
                   ORDER BY shared_partners DESC, rec ASC) AS rank
          FROM nond)
        WHERE rank <= {G.REC_TOP_N}
    """

QUERIES["degree_assortativity"] = G.degree_assortativity
ORACLE["degree_assortativity"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        cw AS (
          SELECT DISTINCT a.city_key, a.src AS u, b.src AS v
          FROM e a
          JOIN e b ON a.city_key = b.city_key AND a.dst = b.dst AND a.src < b.src
        ), deg AS (
          SELECT city_key, node, count(*) AS d
          FROM (SELECT city_key, u AS node FROM cw
                UNION ALL SELECT city_key, v AS node FROM cw) t
          GROUP BY city_key, node
        ), ed AS (
          SELECT c.city_key, da.d AS da, db.d AS db
          FROM cw c
          JOIN deg da ON da.city_key = c.city_key AND da.node = c.u
          JOIN deg db ON db.city_key = c.city_key AND db.node = c.v
        ), agg AS (
          SELECT city_key, count(*) AS m, sum(da + db) AS s1,
                 sum(da * db) AS sxy, sum(da * da + db * db) AS sxx
          FROM ed GROUP BY city_key
        )
        SELECT city_key, CAST(m AS BIGINT) AS n_proj_edges,
               round(CASE WHEN 2 * m * sxx - s1 * s1 <> 0
                          THEN CAST(4 * m * sxy - s1 * s1 AS DOUBLE)
                               / (2 * m * sxx - s1 * s1)
                          ELSE NULL END, 6) AS assortativity
        FROM agg
    """


# (its oracle SQL builder lives later in this module)
QUERIES["city_betweenness_joins"] = G.city_betweenness_joins


QUERIES["chunk_documents"] = P.chunk_documents

QUERIES["promo_attribution"] = TP.promo_attribution
ORACLE["promo_attribution"] = f"""
        WITH promos AS (
          SELECT event_id AS promo_id, user_id,
                 epoch_us(ts) AS w_start,
                 epoch_us(ts) + {TP.ATTR_WINDOW_US} AS w_end
          FROM events WHERE event_type = 'signup'
        ), pur AS (
          SELECT event_id, user_id, epoch_us(ts) AS us, value
          FROM events WHERE event_type = 'purchase'
        ), j AS (
          SELECT p.event_id, p.user_id, pr.promo_id,
                 p.us - pr.w_start AS delay_us, p.value,
                 row_number() OVER (
                     PARTITION BY p.event_id
                     ORDER BY pr.w_start DESC, pr.promo_id DESC) AS r
          FROM pur p
          JOIN promos pr
            ON pr.user_id = p.user_id
           AND p.us >= pr.w_start AND p.us < pr.w_end
        )
        SELECT event_id, user_id, promo_id,
               CAST(delay_us AS BIGINT) AS delay_us,
               CAST(value AS DOUBLE) AS value
        FROM j WHERE r = 1
    """

QUERIES["events_time_rollup"] = TP.events_time_rollup
ORACLE["events_time_rollup"] = """
        SELECT CASE WHEN h IS NOT NULL THEN 'hour'
                    WHEN d IS NOT NULL THEN 'day'
                    ELSE 'all' END AS grain,
               d, h, n_events, total_value
        FROM (
          SELECT CAST(ts AS DATE) AS d, date_trunc('hour', ts) AS h,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_value
          FROM events
          GROUP BY ROLLUP (d, h)
          HAVING count(*) > 0
        )
    """

QUERIES["value_quantile_sketch"] = K.value_quantile_sketch
ORACLE["value_quantile_sketch"] = """
        WITH cents AS (
          SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
          FROM events
        ), bk AS (
          SELECT event_type, b, sub, CAST(count(*) AS BIGINT) AS cnt,
                 CASE WHEN b = 0 THEN 0
                      WHEN b >= 3 THEN ((5 + sub) << (b - 3)) - 1
                      ELSE (4 + sub) >> (3 - b) END AS ub
          FROM (
            SELECT event_type, b,
                   CASE WHEN b = 0 THEN 0
                        WHEN b >= 3 THEN (c >> (b - 3)) & 3
                        ELSE (c << (3 - b)) & 3 END AS sub
            FROM (SELECT event_type, c,
                         CASE WHEN c >= 1 THEN length(bin(c)) ELSE 0 END AS b
                  FROM cents)
          ) GROUP BY event_type, b, sub
        ), cum AS (
          SELECT *,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY b, sub
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type) AS n
          FROM bk
        )
        SELECT event_type, CAST(max(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_buckets,
               round(min(CASE WHEN cum >= CAST(ceiling(0.5 * n) AS BIGINT)
                              THEN ub END) / 100.0, 2) AS est_p50,
               round(min(CASE WHEN cum >= CAST(ceiling(0.9 * n) AS BIGINT)
                              THEN ub END) / 100.0, 2) AS est_p90,
               round(min(CASE WHEN cum >= CAST(ceiling(0.99 * n) AS BIGINT)
                              THEN ub END) / 100.0, 2) AS est_p99
        FROM cum GROUP BY event_type
    """

QUERIES["repeated_ngram_docs"] = D.repeated_ngram_docs
ORACLE["repeated_ngram_docs"] = f"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                     AS t
          FROM documents
        ), g0 AS (
          SELECT doc_id,
                 CASE WHEN len(t) < {D.RNG_N} THEN []
                      ELSE list_transform(range(1, len(t) - {D.RNG_N - 2}),
                           i -> md5(array_to_string(t[i:i+{D.RNG_N - 1}], ' ')))
                 END AS gs
          FROM toks
        ), g AS (
          SELECT DISTINCT doc_id, unnest(gs) AS gh FROM g0
        ), rep AS (
          SELECT gh, count(*) AS nd FROM g GROUP BY gh
        ), per AS (
          SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_shared
          FROM g JOIN rep USING (gh) GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
               round(CASE WHEN p.n_grams > 0
                          THEN p.n_shared / CAST(p.n_grams AS DOUBLE) END, 6)
                   AS shared_frac
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    """

QUERIES["snapshot_diff"] = R.snapshot_diff
ORACLE["snapshot_diff"] = """
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
          FROM orders
        ), old AS (
          SELECT o_orderkey,
                 md5(concat_ws('|', CAST(o_custkey AS VARCHAR),
                     o_orderstatus, o_orderpriority)) AS old_digest
          FROM base WHERE o_orderkey % 100 <> 0
        ), new AS (
          SELECT o_orderkey,
                 md5(concat_ws('|', CAST(o_custkey AS VARCHAR),
                     CASE WHEN o_orderpriority = '1-URGENT' THEN 'R'
                          ELSE o_orderstatus END, o_orderpriority)) AS new_digest
          FROM base WHERE o_orderkey % 97 <> 0
        )
        SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.old_digest IS NULL THEN 'added'
                    WHEN n.new_digest IS NULL THEN 'removed'
                    WHEN o.old_digest <> n.new_digest THEN 'changed' END
                   AS status
        FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
        WHERE CASE WHEN o.old_digest IS NULL THEN 'added'
                   WHEN n.new_digest IS NULL THEN 'removed'
                   WHEN o.old_digest <> n.new_digest THEN 'changed' END
              IS NOT NULL
    """


def _betweenness_sql() -> str:
    """Unrolled Brandes mirror of G.city_betweenness_joins: BFS levels
    v0..vL with bigint sigma, backward deltas in integer nano-units
    (per-term CAST(round(..) AS BIGINT) before SUM, so every aggregate is
    exact integer arithmetic, matching the Spark side bit-for-bit).

    Each frontier v{l} is read by the next level, by vis{l}, sc{l} and
    d{l}; DuckDB inlines a CTE at every reference unless it is declared
    MATERIALIZED, so without it the plan grows exponentially in BC_LEVELS
    (out of memory at sf0.001)."""
    L, K, SC = G.BC_LEVELS, G.BC_SRC_K, float(G.BC_SCALE)
    parts = [f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        und AS (
          SELECT city_key, src AS a, dst AS b FROM edges
          UNION ALL SELECT city_key, dst AS a, src AS b FROM edges
        ),
        nodes AS (SELECT DISTINCT city_key, a AS node FROM und),
        nnc AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n_nodes
          FROM nodes GROUP BY city_key
        ),
        srcs AS (
          SELECT n.city_key, n.node FROM nodes n JOIN nnc USING (city_key)
          WHERE ('0x' || substr(md5(n.node), 1, 4))::BIGINT * nnc.n_nodes
                < {65536 * K}
        ),
        v0 AS (
          SELECT city_key, node AS s, node AS v, 0 AS dist,
                 CAST(1 AS BIGINT) AS sigma
          FROM srcs
        ), vis0 AS (SELECT * FROM v0)"""]
    for l in range(1, L + 1):
        parts.append(f"""
        , g{l} AS (
          SELECT u.city_key, f.s, u.b AS v, CAST(sum(f.sigma) AS BIGINT) AS sigma
          FROM v{l - 1} f JOIN und u ON u.city_key = f.city_key AND u.a = f.v
          GROUP BY u.city_key, f.s, u.b
        ), v{l} AS MATERIALIZED (
          SELECT g.city_key, g.s, g.v, {l} AS dist, g.sigma FROM g{l} g
          WHERE NOT EXISTS (
            SELECT 1 FROM vis{l - 1} x
            WHERE x.city_key = g.city_key AND x.s = g.s AND x.v = g.v)
        ), vis{l} AS (SELECT * FROM vis{l - 1} UNION ALL SELECT * FROM v{l})""")
    parts.append(f"""
        , d{L} AS (
          SELECT city_key, s, v, sigma, CAST(0 AS BIGINT) AS d FROM v{L}
        )""")
    for l in range(L - 1, 0, -1):
        parts.append(f"""
        , sc{l} AS (
          SELECT u.city_key, c.s, c.v,
                 CAST(sum(CAST(round((CAST(c.sigma AS DOUBLE) / dw.sigma)
                                     * ({SC!r} + dw.d)) AS BIGINT)) AS BIGINT) AS d
          FROM v{l} c
          JOIN und u ON u.city_key = c.city_key AND u.a = c.v
          JOIN d{l + 1} dw ON dw.city_key = u.city_key AND dw.s = c.s
                          AND dw.v = u.b
          GROUP BY u.city_key, c.s, c.v
        ), d{l} AS (
          SELECT c.city_key, c.s, c.v, c.sigma,
                 CAST(coalesce(x.d, 0) AS BIGINT) AS d
          FROM v{l} c
          LEFT JOIN sc{l} x ON x.city_key = c.city_key AND x.s = c.s
                           AND x.v = c.v
        )""")
    union_d = " UNION ALL ".join(f"SELECT city_key, v, d FROM d{l}" for l in range(1, L + 1))
    parts.append(f"""
        , ad AS ({union_d}),
        per AS (
          SELECT city_key, v AS node, CAST(sum(d) AS BIGINT) AS dsum
          FROM ad GROUP BY city_key, v
        )
        SELECT n.city_key, n.node,
               round(coalesce(p.dsum, 0) / {2.0 * SC!r}, 6) AS bc
        FROM nodes n
        LEFT JOIN per p ON p.city_key = n.city_key AND p.node = n.node
    """)
    return "".join(parts)



ORACLE["city_betweenness_joins"] = _betweenness_sql()


def _bpe_vocab_ctes() -> str:
    """Shared unrolled CTE prefix: v0 (char-split distinct-word vocab)
    through v{{BPE_MERGES}} (the fully-merged encoded vocabulary) — the
    training fold both bpe_merge_rules and bpe_encode_stats read off."""
    parts = [f"""
        WITH v0 AS (
          SELECT w, CAST(count(*) AS BIGINT) AS n,
                 list_transform(range(1, length(w) + 1),
                                i -> substring(w, i, 1)) AS t
          FROM (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS w
            FROM documents
          )
          WHERE length(w) >= 2
          GROUP BY w
        )"""]
    for s in range(1, T.BPE_MERGES + 1):
        p = s - 1
        parts.append(f"""
        , pr{s} AS (
          SELECT t[i] AS a, t[i + 1] AS b, n
          FROM (SELECT n, t, unnest(range(1, len(t))) AS i FROM v{p})
        ), best{s} AS (
          SELECT a, b, CAST(sum(n) AS BIGINT) AS pair_count
          FROM pr{s} GROUP BY a, b
          ORDER BY pair_count DESC, a ASC, b ASC LIMIT 1
        ), pos{s} AS (
          SELECT x.w, x.i
          FROM (SELECT w, t, unnest(range(1, len(t))) AS i FROM v{p}) x,
               best{s} bst
          WHERE x.t[x.i] = bst.a AND x.t[x.i + 1] = bst.b
        ), kept{s} AS (
          SELECT w, list(i) AS kept FROM (
            SELECT w, i, min(i) OVER (PARTITION BY w, run) AS start
            FROM (SELECT w, i,
                         i - row_number() OVER (PARTITION BY w ORDER BY i)
                             AS run
                  FROM pos{s})
          ) WHERE (i - start) % 2 = 0 GROUP BY w
        ), v{s} AS (
          SELECT v.w, v.n,
                 list_filter(list_transform(range(1, len(v.t) + 1),
                   i -> CASE WHEN list_contains(k.kept, i)
                             THEN v.t[i] || v.t[i + 1]
                             WHEN list_contains(k.kept, i - 1) THEN NULL
                             ELSE v.t[i] END), x -> x IS NOT NULL) AS t
          FROM v{p} v LEFT JOIN kept{s} k USING (w)
        )""")
    return "".join(parts)


def _bpe_merges_sql() -> str:
    """Unrolled mirror of T.bpe_merge_rules: BPE_MERGES iterations of
    (weighted pair count -> argmax -> run-parity greedy merge), all
    integer arithmetic."""
    union = " UNION ALL ".join(
        f"SELECT {s} AS step, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, pair_count FROM best{s}"
        for s in range(1, T.BPE_MERGES + 1)
    )
    return _bpe_vocab_ctes() + f" {union}"


def _bpe_encode_sql() -> str:
    """Unrolled mirror of T.bpe_encode_stats: the final trained vocab's
    symbol counts charged back to every document's token stream."""
    n = T.BPE_MERGES
    return _bpe_vocab_ctes() + f"""
        , enc AS (SELECT w, CAST(len(t) AS BIGINT) AS n_sym FROM v{n}),
        dw AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS w
          FROM documents
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(COALESCE(e.n_sym, 1)) AS BIGINT) AS n_tokens,
               CAST(sum(length(w)) AS BIGINT) AS n_chars,
               round(sum(COALESCE(e.n_sym, 1))
                     / CAST(sum(length(w)) AS DOUBLE), 6) AS tokens_per_char
        FROM dw LEFT JOIN enc e USING (w)
        GROUP BY doc_id
    """


QUERIES["bpe_merge_rules"] = T.bpe_merge_rules
ORACLE["bpe_merge_rules"] = _bpe_merges_sql()
QUERIES["bpe_encode_stats"] = T.bpe_encode_stats
ORACLE["bpe_encode_stats"] = _bpe_encode_sql()

QUERIES["epoch_shuffle"] = P.epoch_shuffle
ORACLE["epoch_shuffle"] = f"""
        WITH keyed AS (
          SELECT e.epoch, d.doc_id,
                 md5(concat_ws('|', CAST(e.epoch AS VARCHAR),
                               CAST(d.doc_id AS VARCHAR))) AS k
          FROM documents d
          CROSS JOIN (SELECT unnest(range({P.SHUFFLE_EPOCHS})) AS epoch) e
        )
        SELECT CAST(epoch AS INT) AS epoch,
               CAST(('0x' || substr(k, 1, 4))::BIGINT % {P.SHUFFLE_SHARDS}
                    AS INT) AS shard,
               CAST(row_number() OVER (
                   PARTITION BY epoch,
                                ('0x' || substr(k, 1, 4))::BIGINT
                                    % {P.SHUFFLE_SHARDS}
                   ORDER BY k) AS BIGINT) AS pos,
               doc_id
        FROM keyed
    """

QUERIES["pq_rerank_topk"] = S.pq_rerank_topk


def _walks_sql() -> str:
    """Unrolled mirror of G.witness_walks: md5-argmin transitions."""
    parts = [f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        und AS (
          SELECT city_key, src AS a, dst AS b FROM edges
          UNION ALL SELECT city_key, dst AS a, src AS b FROM edges
        ),
        nodes AS (SELECT DISTINCT city_key, a AS node FROM und),
        nnc AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n_nodes
          FROM nodes GROUP BY city_key
        ),
        starts AS (
          SELECT n.city_key, n.node FROM nodes n JOIN nnc USING (city_key)
          WHERE ('0x' || substr(md5(n.node), 1, 4))::BIGINT * nnc.n_nodes
                < {65536 * G.WALK_K}
        ),
        w0 AS (
          SELECT s.city_key, s.node AS start, w.widx, s.node AS cur,
                 s.node AS path
          FROM starts s
          CROSS JOIN (SELECT CAST(unnest(range({G.WALK_N})) AS INT) AS widx) w
        )"""]
    for s in range(1, G.WALK_LEN + 1):
        p = s - 1
        parts.append(f"""
        , c{s} AS (
          SELECT w.city_key, w.start, w.widx, w.path, u.b AS nxt,
                 md5(concat_ws('|', w.start, CAST(w.widx AS VARCHAR),
                               '{s}', u.b)) AS h,
                 row_number() OVER (
                     PARTITION BY w.city_key, w.start, w.widx
                     ORDER BY md5(concat_ws('|', w.start,
                                  CAST(w.widx AS VARCHAR), '{s}', u.b)),
                              u.b) AS r
          FROM w{p} w
          JOIN und u ON u.city_key = w.city_key AND u.a = w.cur
        ), w{s} AS (
          SELECT city_key, start, widx, nxt AS cur,
                 path || '>' || nxt AS path
          FROM c{s} WHERE r = 1
        )""")
    parts.append(f"""
        SELECT city_key, start, widx, path FROM w{G.WALK_LEN}
    """)
    return "".join(parts)


QUERIES["witness_walks"] = G.witness_walks
ORACLE["witness_walks"] = _walks_sql()


def _n2v_sql() -> str:
    """Unrolled mirror of G.node2vec_walks: hash x inverse-alpha argmin."""
    parts = [f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        und AS (
          SELECT city_key, src AS a, dst AS b FROM edges
          UNION ALL SELECT city_key, dst AS a, src AS b FROM edges
        ),
        nodes AS (SELECT DISTINCT city_key, a AS node FROM und),
        nnc AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n_nodes
          FROM nodes GROUP BY city_key
        ),
        starts AS (
          SELECT n.city_key, n.node FROM nodes n JOIN nnc USING (city_key)
          WHERE ('0x' || substr(md5(n.node), 1, 4))::BIGINT * nnc.n_nodes
                < {65536 * G.WALK_K}
        ),
        v0 AS (
          SELECT s.city_key, s.node AS start, w.widx,
                 CAST(NULL AS VARCHAR) AS prev, s.node AS cur, s.node AS path
          FROM starts s
          CROSS JOIN (SELECT CAST(unnest(range({G.WALK_N})) AS INT) AS widx) w
        )"""]
    for s in range(1, G.N2V_LEN + 1):
        p = s - 1
        h16 = (
            "('0x' || substr(md5(concat_ws('|', w.start,"
            f" CAST(w.widx AS VARCHAR), '{s}', u.b)), 1, 4))::BIGINT"
        )
        alpha = (
            "CASE WHEN w.prev IS NULL THEN 1000"
            f" WHEN u.b = w.prev THEN {G.N2V_RETURN_MILLI}"
            " WHEN j.a IS NOT NULL THEN 1000"
            f" ELSE {G.N2V_OUT_MILLI} END"
        )
        key = (
            f"CAST(round(-ln((({h16}) + 1) / 65536.0)"
            f" / (({alpha}) / 1000.0) * 1000000) AS BIGINT)"
        )
        parts.append(f"""
        , c{s} AS (
          SELECT w.city_key, w.start, w.widx, w.path, w.cur, u.b AS nxt,
                 row_number() OVER (
                     PARTITION BY w.city_key, w.start, w.widx
                     ORDER BY {key}, u.b) AS r
          FROM v{p} w
          JOIN und u ON u.city_key = w.city_key AND u.a = w.cur
          LEFT JOIN und j ON j.city_key = w.city_key AND j.a = u.b
                         AND j.b = w.prev
        ), v{s} AS (
          SELECT city_key, start, widx, cur AS prev, nxt AS cur,
                 path || '>' || nxt AS path
          FROM c{s} WHERE r = 1
        )""")
    parts.append(f"""
        SELECT city_key, start, widx, path FROM v{G.N2V_LEN}
    """)
    return "".join(parts)


QUERIES["node2vec_walks"] = G.node2vec_walks
ORACLE["node2vec_walks"] = _n2v_sql()

QUERIES["session_sequences"] = TP.session_sequences
ORACLE["session_sequences"] = f"""
        WITH g AS (
          SELECT event_id, user_id, ts, event_type,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        ), s AS (
          SELECT user_id, ts, event_id, event_type,
                 CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > {TP.SESSION_GAP_US}
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS session_idx
          FROM g
        ), seqs AS (
          SELECT user_id, session_idx,
                 list(event_type ORDER BY ts, event_id) AS seq
          FROM s GROUP BY user_id, session_idx
        )
        SELECT user_id, session_idx,
               CAST(len(seq) AS BIGINT) AS n_events,
               coalesce(array_to_string(seq[1:len(seq) - 1], '>'), '')
                   AS input_seq,
               seq[len(seq)] AS label
        FROM seqs
    """

QUERIES["contrastive_pairs"] = G.contrastive_pairs
ORACLE["contrastive_pairs"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        cw AS (
          SELECT DISTINCT a.city_key, a.src AS u, b.src AS v
          FROM e a
          JOIN e b ON a.city_key = b.city_key AND a.dst = b.dst AND a.src < b.src
        ), adj AS (
          SELECT city_key, u AS a, v AS b FROM cw
          UNION ALL SELECT city_key, v AS a, u AS b FROM cw
        ), nodes AS (SELECT DISTINCT city_key, a AS node FROM adj),
        nnc AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n_nodes
          FROM nodes GROUP BY city_key
        ),
        anchors AS (
          SELECT n.city_key, n.node AS anchor
          FROM nodes n JOIN nnc USING (city_key)
          WHERE ('0x' || substr(md5(n.node), 1, 4))::BIGINT * nnc.n_nodes
                < {65536 * G.CONTRAST_ANCHOR_K}
        ),
        pos AS (
          SELECT city_key, anchor, other, 1 AS label, rnk FROM (
            SELECT an.city_key, an.anchor, ad.b AS other,
                   row_number() OVER (
                       PARTITION BY an.city_key, an.anchor
                       ORDER BY md5(concat_ws('|', an.anchor, 'p', ad.b)),
                                ad.b) AS rnk
            FROM anchors an
            JOIN adj ad ON ad.city_key = an.city_key AND ad.a = an.anchor
          ) WHERE rnk <= {G.CONTRAST_POS}
        ),
        neg AS (
          SELECT city_key, anchor, other, 0 AS label, rnk FROM (
            SELECT an.city_key, an.anchor, nd.node AS other,
                   row_number() OVER (
                       PARTITION BY an.city_key, an.anchor
                       ORDER BY md5(concat_ws('|', an.anchor, 'n', nd.node)),
                                nd.node) AS rnk
            FROM anchors an
            JOIN nodes nd ON nd.city_key = an.city_key
                         AND nd.node <> an.anchor
            WHERE NOT EXISTS (
              SELECT 1 FROM adj ad
              WHERE ad.city_key = an.city_key AND ad.a = an.anchor
                AND ad.b = nd.node)
          ) WHERE rnk <= {G.CONTRAST_NEG}
        )
        SELECT city_key, anchor, other, CAST(label AS INT) AS label,
               CAST(rnk AS INT) AS rnk
        FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
    """

QUERIES["span_corruption"] = P.span_corruption
ORACLE["span_corruption"] = f"""
        WITH toks0 AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents
        ), ex AS (
          SELECT doc_id, t, unnest(range(0, len(t))) AS i0 FROM toks0
        ), tk AS (
          SELECT doc_id, i0, t[i0 + 1] AS tok,
                 i0 // {P.CORRUPT_BLOCK} AS bk
          FROM ex
        ), sel AS (
          SELECT doc_id, bk,
                 row_number() OVER (PARTITION BY doc_id ORDER BY bk) - 1 AS k
          FROM (SELECT DISTINCT doc_id, bk FROM tk)
          WHERE ('0x' || substr(md5(concat_ws('|', doc_id, bk)), 1, 4))::BIGINT
                % 100 < {P.CORRUPT_SEL_PCT}
        ), j AS (
          SELECT tk.doc_id, tk.i0, tk.tok, s.k,
                 s.k IS NOT NULL
                     AND tk.i0 % {P.CORRUPT_BLOCK} < {P.CORRUPT_MASK} AS masked
          FROM tk LEFT JOIN sel s ON s.doc_id = tk.doc_id AND s.bk = tk.bk
        ), pieces AS (
          SELECT doc_id, i0, masked,
                 CASE WHEN masked AND i0 % {P.CORRUPT_BLOCK} = 0
                      THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
                      WHEN NOT masked THEN tok END AS ip,
                 CASE WHEN masked AND i0 % {P.CORRUPT_BLOCK} = 0
                      THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || tok
                      WHEN masked THEN tok END AS tp
          FROM j
        ), agg AS (
          SELECT doc_id,
                 array_to_string(list(ip ORDER BY i0)
                                 FILTER (WHERE ip IS NOT NULL), ' ') AS input_text,
                 array_to_string(list(tp ORDER BY i0)
                                 FILTER (WHERE tp IS NOT NULL), ' ') AS target_text,
                 CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_masked,
                 CAST(count(*) AS BIGINT) AS n_tokens
          FROM pieces GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(a.input_text, '') AS input_text,
               coalesce(a.target_text, '') AS target_text,
               CAST(coalesce(a.n_masked, 0) AS BIGINT) AS n_masked,
               CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """

QUERIES["balance_fill_forward"] = W.balance_fill_forward
ORACLE["balance_fill_forward"] = """
        WITH per_day AS (
          SELECT user_id, CAST(ts AS DATE) AS balance_date, event_id AS balance
          FROM events
          QUALIFY row_number() OVER (
              PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts DESC, event_id DESC) = 1
        ), bounds AS (
          SELECT min(balance_date) AS d0, max(balance_date) AS d1 FROM per_day
        ), spine AS (
          SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
                     AS balance_date
          FROM bounds
        ), dense AS (
          SELECT u.user_id, s.balance_date
          FROM (SELECT DISTINCT user_id FROM per_day) u CROSS JOIN spine s
        )
        SELECT d.user_id, d.balance_date,
               last_value(p.balance IGNORE NULLS) OVER (
                   PARTITION BY d.user_id ORDER BY d.balance_date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance,
               last_value(p.balance IGNORE NULLS) OVER (
                   PARTITION BY d.user_id ORDER BY d.balance_date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL
                   AS has_value
        FROM dense d
        LEFT JOIN per_day p ON p.user_id = d.user_id
                           AND p.balance_date = d.balance_date
    """

QUERIES["hll_by_group"] = K.hll_by_group
ORACLE["hll_by_group"] = """
        WITH h AS (
          SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events
        ), b AS (
          SELECT event_type,
                 ('0x' || substr(h, 1, 2))::BIGINT % 64 AS reg,
                 ('0x' || substr(h, 3, 6))::BIGINT AS x
          FROM h
        ), k AS (
          SELECT event_type, reg,
                 CASE WHEN strpos(lpad(bin(x), 24, '0'), '1') = 0 THEN 25
                      ELSE strpos(lpad(bin(x), 24, '0'), '1') END AS rank
          FROM b
        ), g AS (
          SELECT event_type, reg, max(rank) AS mr FROM k GROUP BY event_type, reg
        ), a AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_present,
                 sum(power(2.0, -mr)) AS sp
          FROM g GROUP BY event_type
        ), s AS (
          SELECT event_type,
                 0.709 * 64 * 64 / (sp + (64 - n_present)) AS raw,
                 64 - n_present AS zeros
          FROM a
        ), e AS (
          SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
          FROM events GROUP BY event_type
        )
        SELECT s.event_type, e.n_exact,
               round(CASE WHEN s.raw <= 160 AND s.zeros > 0
                          THEN 64 * ln(CAST(64 AS DOUBLE) / s.zeros)
                          ELSE s.raw END, 4) AS hll_estimate,
               round((CASE WHEN s.raw <= 160 AND s.zeros > 0
                           THEN 64 * ln(CAST(64 AS DOUBLE) / s.zeros)
                           ELSE s.raw END - e.n_exact)
                     / CAST(e.n_exact AS DOUBLE), 4) AS rel_error
        FROM s JOIN e ON e.event_type = s.event_type
    """

QUERIES["event_transitions"] = TP.event_transitions
ORACLE["event_transitions"] = f"""
        WITH g AS (
          SELECT event_id, user_id, ts, event_type,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        ), s AS (
          SELECT user_id, ts, event_id, event_type,
                 CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > {TP.SESSION_GAP_US}
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS session_idx
          FROM g
        ), p AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
                 session_idx,
                 lead(session_idx) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS next_session
          FROM s
        ), pairs AS (
          SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          FROM p
          WHERE to_type IS NOT NULL AND next_session = session_idx
          GROUP BY from_type, to_type
        )
        SELECT pr.from_type, pr.to_type, pr.n,
               round(pr.n / CAST(t.tot AS DOUBLE), 6) AS prob
        FROM pairs pr
        JOIN (SELECT from_type, sum(n) AS tot FROM pairs GROUP BY from_type) t
          ON t.from_type = pr.from_type
    """

QUERIES["inverted_index"] = T.inverted_index
ORACLE["inverted_index"] = f"""
        WITH tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS term
            FROM documents
          ) GROUP BY doc_id, term
        )
        SELECT term, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS total_tf,
               array_to_string(list(CAST(doc_id AS VARCHAR)
                                    ORDER BY CAST(doc_id AS VARCHAR)), '>')
                   AS postings
        FROM tf GROUP BY term
        HAVING count(*) >= {T.INDEX_MIN_DF}
    """

QUERIES["adamic_adar_scores"] = G.adamic_adar_scores
ORACLE["adamic_adar_scores"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        cw AS (
          SELECT DISTINCT a.city_key, a.src AS u, b.src AS v
          FROM e a
          JOIN e b ON a.city_key = b.city_key AND a.dst = b.dst AND a.src < b.src
        ), adj AS (
          SELECT city_key, u AS a, v AS b FROM cw
          UNION ALL SELECT city_key, v AS a, u AS b FROM cw
        ), deg AS (
          SELECT city_key, a AS m, CAST(count(*) AS BIGINT) AS deg
          FROM adj GROUP BY city_key, a
        ), scored AS (
          SELECT h1.city_key, h1.a AS src, h2.b AS rec,
                 CAST(sum(CAST(round(1000000.0 / ln(CAST(d.deg AS DOUBLE)))
                               AS BIGINT)) AS BIGINT) AS s
          FROM adj h1
          JOIN adj h2 ON h2.city_key = h1.city_key AND h2.a = h1.b
          JOIN deg d ON d.city_key = h1.city_key AND d.m = h1.b
          WHERE h1.a <> h2.b AND d.deg > 1
          GROUP BY h1.city_key, h1.a, h2.b
        ), nond AS (
          SELECT sc.* FROM scored sc
          WHERE NOT EXISTS (
            SELECT 1 FROM adj d2
            WHERE d2.city_key = sc.city_key AND d2.a = sc.src
              AND d2.b = sc.rec)
        )
        SELECT city_key, src, rec,
               round(s / 1000000.0, 6) AS aa_score, CAST(rank AS INT) AS rank
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY city_key, src
                   ORDER BY s DESC, rec ASC) AS rank
          FROM nond)
        WHERE rank <= {G.REC_TOP_N}
    """

QUERIES["value_winsorize"] = RG.value_winsorize
ORACLE["value_winsorize"] = f"""
        WITH bounds AS (
          SELECT event_type,
                 quantile_cont(value, {RG.WINSOR_LO}) AS lo,
                 quantile_cont(value, {RG.WINSOR_HI}) AS hi
          FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               round(e.value, 6) AS value,
               round(greatest(least(e.value, b.hi), b.lo), 6) AS winsorized,
               CASE WHEN e.value > b.hi THEN 'hi'
                    WHEN e.value < b.lo THEN 'lo'
                    ELSE 'none' END AS clipped
        FROM events e JOIN bounds b ON b.event_type = e.event_type
    """

QUERIES["embedding_dim_stats"] = S.embedding_dim_stats
ORACLE["embedding_dim_stats"] = """
        WITH ex AS (
          SELECT unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings
        ), q AS (
          SELECT dim, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                     AS xi
          FROM ex
        ), a AS (
          SELECT dim, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(xi) AS BIGINT) AS sx,
                 CAST(sum(xi * xi) AS BIGINT) AS sxx
          FROM q GROUP BY dim
        )
        SELECT CAST(dim AS INT) AS dim, n,
               CAST(round(sx / CAST(n AS DOUBLE)) AS BIGINT) / 1e6 AS mean,
               CAST(round(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          / CAST(n AS DOUBLE)) AS BIGINT) / 1e6 AS std
        FROM a
    """

QUERIES["mrl_prefix_recall"] = S.mrl_prefix_recall
QUERIES["hard_negatives"] = S.hard_negatives
QUERIES["semantic_dedup"] = S.semantic_dedup
QUERIES["cluster_best_keep"] = D.cluster_best_keep
QUERIES["dsir_weights"] = T.dsir_weights
QUERIES["mmr_rerank"] = S.mmr_rerank
QUERIES["tokenizer_fertility"] = T.tokenizer_fertility
QUERIES["distinct_ngram_diversity"] = T.distinct_ngram_diversity
QUERIES["dsir_resample"] = T.dsir_resample
QUERIES["bm25_topk"] = T.bm25_topk
QUERIES["hybrid_rrf_topk"] = S.hybrid_rrf_topk
QUERIES["prototype_distances"] = S.prototype_distances
QUERIES["source_overlap_matrix"] = D.source_overlap_matrix
QUERIES["asof_last_view"] = TP.asof_last_view
QUERIES["corpus_cube_stats"] = T.corpus_cube_stats
QUERIES["decayed_user_engagement"] = RG.decayed_user_engagement
QUERIES["cuped_adjustment"] = RG.cuped_adjustment
QUERIES["decayed_engagement_daily"] = RG.decayed_engagement_daily
QUERIES["target_encode_oof"] = RG.target_encode_oof
QUERIES["woe_encoding"] = RG.woe_encoding
QUERIES["psi_drift"] = RG.psi_drift
QUERIES["seasonal_forecast_error"] = RG.seasonal_forecast_error
QUERIES["bloom_semi_join_audit"] = R.bloom_semi_join_audit
QUERIES["price_quantity_skyline"] = RG.price_quantity_skyline
QUERIES["trigram_search"] = T.trigram_search
QUERIES["preference_pairs"] = D.preference_pairs
QUERIES["witness_edge_churn"] = G.witness_edge_churn
QUERIES["neighborhood_jaccard"] = G.neighborhood_jaccard
QUERIES["source_divergence_matrix"] = T.source_divergence_matrix
QUERIES["ohlc_daily"] = TP.ohlc_daily
QUERIES["benford_audit"] = RG.benford_audit
QUERIES["chi2_independence"] = RG.chi2_independence
QUERIES["did_promo_uplift"] = RG.did_promo_uplift
QUERIES["degree_powerlaw_fit"] = G.degree_powerlaw_fit
QUERIES["butterfly_stats"] = G.butterfly_stats
QUERIES["dq_report"] = R.dq_report
QUERIES["embedding_whiten_audit"] = S.embedding_whiten_audit
QUERIES["k_anonymity_audit"] = R.k_anonymity_audit
QUERIES["top_session_paths"] = TP.top_session_paths
QUERIES["fulfillment_latency"] = TP.fulfillment_latency
QUERIES["term_burstiness"] = T.term_burstiness
QUERIES["cusum_daily_counts"] = RG.cusum_daily_counts
QUERIES["embedding_top_pc"] = S.embedding_top_pc
QUERIES["ewma_daily_counts"] = RG.ewma_daily_counts
QUERIES["holt_forecast_error"] = RG.holt_forecast_error
QUERIES["cohort_ltv"] = TP.cohort_ltv
QUERIES["abc_classification"] = R.abc_classification
QUERIES["frequent_triples"] = R.frequent_triples
QUERIES["quantile_transform"] = RG.quantile_transform
QUERIES["kwic_concordance"] = T.kwic_concordance
QUERIES["bootstrap_ci"] = RG.bootstrap_ci
QUERIES["gini_by_type"] = RG.gini_by_type
QUERIES["user_behavior_entropy"] = RG.user_behavior_entropy
QUERIES["simpson_reversal_audit"] = RG.simpson_reversal_audit
QUERIES["lorenz_points"] = RG.lorenz_points
QUERIES["curated_corpus_manifest"] = P.curated_corpus_manifest
QUERIES["retention_survival"] = TP.retention_survival
QUERIES["dedup_threshold_sweep"] = D.dedup_threshold_sweep

QUERIES["value_outliers"] = RG.value_outliers
ORACLE["value_outliers"] = f"""
        WITH med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM events GROUP BY event_type
        ), mad AS (
          SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
          FROM events e JOIN med m USING (event_type)
          GROUP BY e.event_type
        )
        SELECT e.event_id, e.event_type,
               round(e.value, 6) AS value,
               round(m.med, 6) AS group_median,
               round(abs(e.value - m.med) / ({RG.MAD_SCALE} * d.mad), 6)
                   AS robust_z
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        WHERE d.mad > 0
          AND round(abs(e.value - m.med) / ({RG.MAD_SCALE} * d.mad), 6)
                  > {RG.OUTLIER_Z}
    """

QUERIES["co_purchase_pairs"] = R.co_purchase_pairs
ORACLE["co_purchase_pairs"] = f"""
        WITH li AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), sup AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                 CAST(count(*) AS BIGINT) AS support
          FROM li a
          JOIN li b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey
          HAVING count(*) >= {R.BASKET_MIN_SUPPORT}
        ), freq AS (
          SELECT l_partkey, CAST(count(*) AS BIGINT) AS freq
          FROM li GROUP BY l_partkey
        ), n AS (
          SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM li
        )
        SELECT s.part_a, s.part_b, s.support,
               fa.freq AS freq_a, fb.freq AS freq_b,
               round(s.support * n.n_orders
                     / CAST(fa.freq * fb.freq AS DOUBLE), 6) AS lift
        FROM sup s
        JOIN freq fa ON fa.l_partkey = s.part_a
        JOIN freq fb ON fb.l_partkey = s.part_b
        CROSS JOIN n
    """

QUERIES["association_rules"] = R.association_rules
ORACLE["association_rules"] = """
        WITH p AS ({PAIRS})
        SELECT antecedent, consequent, support, freq_antecedent,
               round(support / CAST(freq_antecedent AS DOUBLE), 6) AS confidence
        FROM (
          SELECT part_a AS antecedent, part_b AS consequent,
                 support, freq_a AS freq_antecedent FROM p
          UNION ALL
          SELECT part_b, part_a, support, freq_b FROM p
        )
    """.replace("{PAIRS}", ORACLE["co_purchase_pairs"])


QUERIES["similar_docs_topk"] = D.similar_docs_topk

QUERIES["scd2_history"] = TP.scd2_history
ORACLE["scd2_history"] = """
        WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS us, event_id
          FROM events
        ), o AS (
          SELECT *, lag(event_type) OVER (
              PARTITION BY user_id ORDER BY us, event_id) AS prev
          FROM e
        ), ch AS (
          SELECT user_id, event_type, us, event_id FROM o
          WHERE prev IS NULL OR event_type <> prev
        )
        SELECT user_id, event_type,
               us AS valid_from_us,
               lead(us) OVER w AS valid_to_us,
               CAST(row_number() OVER w AS INT) AS version,
               lead(us) OVER w IS NULL AS is_current
        FROM ch
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    """

QUERIES["scd2_pit_join"] = TP.scd2_pit_join
ORACLE["scd2_pit_join"] = """
        WITH hist AS ({SCD2}),
        p AS (
          SELECT event_id, user_id, epoch_us(ts) AS us
          FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.us,
               h.event_type AS state, h.version
        FROM p
        LEFT JOIN hist h
          ON h.user_id = p.user_id
         AND h.valid_from_us <= p.us
         AND (h.valid_to_us IS NULL OR p.us < h.valid_to_us)
    """.replace("{SCD2}", ORACLE["scd2_history"])


QUERIES["weighted_sample"] = P.weighted_sample
ORACLE["weighted_sample"] = f"""
        WITH d AS (
          SELECT doc_id, source, ln(1.0 + n_chars) AS w,
                 (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      + 1.0) / 4294967297.0 AS u
          FROM documents WHERE n_chars > 0
        ), k AS (
          SELECT source, doc_id, w, -ln(u) / w AS sample_key,
                 row_number() OVER (
                     PARTITION BY source
                     ORDER BY -ln(u) / w ASC, doc_id ASC) AS rank
          FROM d
        )
        SELECT source, doc_id,
               round(w, 6) AS weight,
               round(sample_key, 6) AS sample_key,
               CAST(rank AS INT) AS rank
        FROM k WHERE rank <= {P.WS_PER_SOURCE_K}
    """

QUERIES["rfm_segments"] = R.rfm_segments
ORACLE["rfm_segments"] = f"""
        WITH per AS (
          SELECT o_custkey,
                 CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                                DATE '{R.RFM_ASOF}') AS BIGINT) AS recency_days,
                 CAST(count(*) AS BIGINT) AS frequency,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_d
          FROM orders GROUP BY o_custkey
        ), bounds AS (
          SELECT quantile_cont(recency_days, 0.3333) AS r1,
                 quantile_cont(recency_days, 0.6667) AS r2,
                 quantile_cont(frequency, 0.3333) AS f1,
                 quantile_cont(frequency, 0.6667) AS f2,
                 quantile_cont(CAST(monetary_d AS DOUBLE), 0.3333) AS m1,
                 quantile_cont(CAST(monetary_d AS DOUBLE), 0.6667) AS m2
          FROM per
        )
        SELECT p.o_custkey, p.recency_days, p.frequency,
               CAST(p.monetary_d AS DOUBLE) AS monetary,
               CAST(CASE WHEN p.recency_days <= b.r1 THEN 3
                         WHEN p.recency_days <= b.r2 THEN 2 ELSE 1 END AS INT)
                   AS r_score,
               CAST(CASE WHEN p.frequency > b.f2 THEN 3
                         WHEN p.frequency > b.f1 THEN 2 ELSE 1 END AS INT)
                   AS f_score,
               CAST(CASE WHEN CAST(p.monetary_d AS DOUBLE) > b.m2 THEN 3
                         WHEN CAST(p.monetary_d AS DOUBLE) > b.m1 THEN 2
                         ELSE 1 END AS INT) AS m_score,
               concat(CAST(CASE WHEN p.recency_days <= b.r1 THEN 3
                                WHEN p.recency_days <= b.r2 THEN 2
                                ELSE 1 END AS VARCHAR),
                      CAST(CASE WHEN p.frequency > b.f2 THEN 3
                                WHEN p.frequency > b.f1 THEN 2
                                ELSE 1 END AS VARCHAR),
                      CAST(CASE WHEN CAST(p.monetary_d AS DOUBLE) > b.m2 THEN 3
                                WHEN CAST(p.monetary_d AS DOUBLE) > b.m1 THEN 2
                                ELSE 1 END AS VARCHAR)) AS segment
        FROM per p CROSS JOIN bounds b
    """


def _kcore_sql(rounds: int = 16) -> str:
    """Unrolled peeling oracle for :func:`operators.graph.witness_kcore`.

    Each round drops nodes whose sighting-count degree (parallel edges
    counted, matching the Spark loop's ``count(1)`` over the edge
    multiset) falls below KCORE_K, then keeps only edges whose endpoints
    both survive.  Peeling is confluent and monotone-shrinking, so
    unrolling MORE rounds than the fixpoint needs is a no-op — 16 rounds
    comfortably covers the observed convergence (≤6 rounds at sf0.01).
    Same unrolled-CTE pattern as ``witness_components``; integer degree
    counts make the compare bit-exact.
    """
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs once per
    # reference, and each round references its predecessor 3x — unrolled
    # inlining would blow up 5^rounds (observed: fd exhaustion at 16 rounds).
    parts = [
        f"WITH edges AS MATERIALIZED ({_WITNESS_SQL})",
        "r0 AS MATERIALIZED (SELECT city_key, src, dst FROM edges)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""k{i} AS MATERIALIZED (
          SELECT city_key, node FROM (
            SELECT city_key, src AS node FROM r{i - 1}
            UNION ALL
            SELECT city_key, dst AS node FROM r{i - 1}
          ) GROUP BY city_key, node HAVING count(*) >= {G.KCORE_K}
        )"""
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
          SELECT e.city_key, e.src, e.dst
          FROM r{i - 1} e
          JOIN k{i} s ON e.city_key = s.city_key AND e.src = s.node
          JOIN k{i} t ON e.city_key = t.city_key AND e.dst = t.node
        )"""
        )
    return ",\n".join(parts) + f"\nSELECT city_key, src, dst FROM r{rounds}"


ORACLE["witness_kcore"] = _kcore_sql()


def _tip_sql(rounds: int = 8, capped: bool = False) -> str:
    """Unrolled peeling oracle for :func:`operators.graph.tip_decomposition`.

    Each round recomputes co-witness pair weights on the surviving
    DISTINCT edge set (plain self-join — proving the group-local pair
    generation equivalent), sums butterfly supports per hotspot, keeps
    supports >= TIP_K, and filters edges to surviving hotspots.  Peeling
    is confluent and monotone-shrinking, so unrolling more rounds than
    the fixpoint needs is a no-op.  AS MATERIALIZED for the same
    inlining-blowup reason as _kcore_sql.  ``capped=True`` applies the
    CO_WITNESS_MAX_GROUP positional chunk cap to EVERY round's pair
    generation (the tip_decomposition_capped twin)."""

    def pair_cte(rel: str, name: str) -> str:
        if not capped:
            return f"""{name} AS MATERIALIZED (
          SELECT a.city_key, a.src AS sa, b.src AS sb,
                 CAST(count(*) AS BIGINT) AS sh
          FROM {rel} a
          JOIN {rel} b ON a.city_key = b.city_key AND a.dst = b.dst
                         AND a.src < b.src
          GROUP BY a.city_key, a.src, b.src
        )"""
        m = G.CO_WITNESS_MAX_GROUP
        return f"""{name}g AS MATERIALIZED (
          SELECT city_key, dst, list_sort(list(src)) AS ss
          FROM {rel} GROUP BY city_key, dst HAVING count(*) >= 2
        ),
        {name}m AS MATERIALIZED (
          SELECT city_key, dst, unnest(ss) AS src,
                 unnest(range(1, len(ss) + 1)) AS i
          FROM {name}g
        ),
        {name} AS MATERIALIZED (
          SELECT a.city_key, a.src AS sa, b.src AS sb,
                 CAST(count(*) AS BIGINT) AS sh
          FROM {name}m a
          JOIN {name}m b ON a.city_key = b.city_key AND a.dst = b.dst
           AND b.i > a.i
           AND b.i <= ((a.i - 1) // {m} + 1) * {m}
          GROUP BY a.city_key, a.src, b.src
        )"""

    parts = [
        f"WITH edges0 AS MATERIALIZED ({_WITNESS_SQL})",
        "r0 AS MATERIALIZED (SELECT DISTINCT city_key, src, dst FROM edges0)",
    ]
    for i in range(1, rounds + 1):
        parts.append(pair_cte(f"r{i - 1}", f"p{i}"))
        parts.append(
            f"""s{i} AS MATERIALIZED (
          SELECT city_key, node
          FROM (SELECT city_key, sa AS node, sh FROM p{i}
                UNION ALL SELECT city_key, sb, sh FROM p{i})
          GROUP BY city_key, node
          HAVING sum(sh * (sh - 1) // 2) >= {G.TIP_K}
        )"""
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
          SELECT e.city_key, e.src, e.dst
          FROM r{i - 1} e
          JOIN s{i} s ON e.city_key = s.city_key AND e.src = s.node
        )"""
        )
    parts.append(pair_cte(f"r{rounds}", "pf"))
    return (
        ",\n".join(parts)
        + """
        SELECT city_key, node AS src, CAST(sum(sh * (sh - 1) // 2) AS BIGINT)
                   AS support
        FROM (SELECT city_key, sa AS node, sh FROM pf
              UNION ALL SELECT city_key, sb, sh FROM pf)
        GROUP BY city_key, node"""
    )


def _truss_sql(rounds: int = 8, capped: bool = False) -> str:
    """Unrolled edge-peeling oracle for :func:`operators.graph.ktruss_edges`
    (confluent monotone peel — extra rounds are a no-op; AS MATERIALIZED
    for the same inlining reason as _kcore_sql).  ``capped=True`` seeds
    the peel from the CO_WITNESS_MAX_GROUP-capped pair projection (the
    positional src-contiguous chunk join mirroring graph._co_pairs
    max_group) instead of the exact one — the ktruss_edges_capped twin."""

    def support(rel: str, alias: str) -> str:
        return f"""{alias} AS MATERIALIZED (
          SELECT city_key, a, b, CAST(count(*) AS BIGINT) AS support
          FROM (
            SELECT t.city_key, t.a, t.b FROM (
              SELECT e1.city_key, e1.a, e1.b, e2.b AS c
              FROM {rel} e1
              JOIN {rel} e2 ON e2.city_key = e1.city_key AND e2.a = e1.b
              JOIN {rel} e3 ON e3.city_key = e1.city_key AND e3.a = e1.a
                           AND e3.b = e2.b
            ) t
            UNION ALL
            SELECT t.city_key, t.b AS a, t.c AS b FROM (
              SELECT e1.city_key, e1.a, e1.b, e2.b AS c
              FROM {rel} e1
              JOIN {rel} e2 ON e2.city_key = e1.city_key AND e2.a = e1.b
              JOIN {rel} e3 ON e3.city_key = e1.city_key AND e3.a = e1.a
                           AND e3.b = e2.b
            ) t
            UNION ALL
            SELECT t.city_key, t.a, t.c AS b FROM (
              SELECT e1.city_key, e1.a, e1.b, e2.b AS c
              FROM {rel} e1
              JOIN {rel} e2 ON e2.city_key = e1.city_key AND e2.a = e1.b
              JOIN {rel} e3 ON e3.city_key = e1.city_key AND e3.a = e1.a
                           AND e3.b = e2.b
            ) t
          ) GROUP BY city_key, a, b
        )"""

    if capped:
        m = G.CO_WITNESS_MAX_GROUP
        r0 = f"""gg AS (
          SELECT city_key, dst, list_sort(list(src)) AS ss
          FROM (SELECT DISTINCT city_key, src, dst FROM edges0)
          GROUP BY city_key, dst HAVING count(*) >= 2
        ),
        mm AS (
          SELECT city_key, dst, unnest(ss) AS src,
                 unnest(range(1, len(ss) + 1)) AS i
          FROM gg
        ),
        r0 AS MATERIALIZED (
          SELECT DISTINCT x.city_key, x.src AS a, y.src AS b
          FROM mm x JOIN mm y ON x.city_key = y.city_key AND x.dst = y.dst
           AND y.i > x.i
           AND y.i <= ((x.i - 1) // {m} + 1) * {m}
        )"""
    else:
        r0 = """r0 AS MATERIALIZED (
          SELECT DISTINCT x.city_key, x.src AS a, y.src AS b
          FROM (SELECT DISTINCT city_key, src, dst FROM edges0) x
          JOIN (SELECT DISTINCT city_key, src, dst FROM edges0) y
            ON x.city_key = y.city_key AND x.dst = y.dst AND x.src < y.src
        )"""
    parts = [f"WITH edges0 AS MATERIALIZED ({_WITNESS_SQL})", r0]
    for i in range(1, rounds + 1):
        parts.append(support(f"r{i - 1}", f"s{i}"))
        parts.append(
            f"""r{i} AS MATERIALIZED (
          SELECT e.city_key, e.a, e.b
          FROM r{i - 1} e
          JOIN s{i} s ON s.city_key = e.city_key AND s.a = e.a AND s.b = e.b
          WHERE s.support >= {G.TRUSS_SUPPORT}
        )"""
        )
    parts.append(support(f"r{rounds}", "sf_"))
    return (
        ",\n".join(parts)
        + """
        SELECT city_key, a AS src_a, b AS src_b, support FROM sf_"""
    )


QUERIES["ktruss_edges"] = G.ktruss_edges
ORACLE["ktruss_edges"] = _truss_sql()
QUERIES["tip_decomposition"] = G.tip_decomposition
ORACLE["tip_decomposition"] = _tip_sql()


# ---------- round 5 additions ----------
# text-law fits, containment scoring, and QLM retrieval (oracles in
# oracles_training.py "round 5" section)

QUERIES["minhash_containment"] = D.minhash_containment
QUERIES["zipf_fit"] = T.zipf_fit
QUERIES["heaps_fit"] = T.heaps_fit
QUERIES["dirichlet_qlm_topk"] = T.dirichlet_qlm_topk
QUERIES["auc_roc"] = RG.auc_roc
QUERIES["calibration_bins"] = RG.calibration_bins
QUERIES["mutual_information"] = RG.mutual_information
QUERIES["cdc_apply"] = TP.cdc_apply
QUERIES["watermark_late_audit"] = TP.watermark_late_audit
QUERIES["incremental_agg_merge"] = R.incremental_agg_merge
QUERIES["mom_revenue_change"] = R.mom_revenue_change
QUERIES["kmv_distinct"] = K.kmv_distinct
QUERIES["part_er_blocking"] = D.part_er_blocking
QUERIES["mutual_knn_graph"] = S.mutual_knn_graph
QUERIES["local_clustering_coeff"] = G.local_clustering_coeff
QUERIES["ndcg_at_k"] = T.ndcg_at_k
QUERIES["langid_confusion"] = T.langid_confusion
QUERIES["rolling_median_value"] = RG.rolling_median_value
QUERIES["kn_bigram_lm"] = T.kn_bigram_lm
QUERIES["prf_expansion_terms"] = T.prf_expansion_terms
QUERIES["sprt_monitor"] = RG.sprt_monitor
QUERIES["user_saturation_curve"] = RG.user_saturation_curve
QUERIES["price_elasticity"] = RG.price_elasticity
QUERIES["classical_decompose"] = RG.classical_decompose
QUERIES["attribution_models"] = TP.attribution_models
QUERIES["nelson_aalen_hazard"] = TP.nelson_aalen_hazard
QUERIES["ivf_balance_report"] = S.ivf_balance_report
QUERIES["join_cardinality_audit"] = R.join_cardinality_audit
QUERIES["key_skew_report"] = R.key_skew_report
QUERIES["neyman_allocation"] = P.neyman_allocation
QUERIES["gap_islands"] = TP.gap_islands
QUERIES["markov_stationary"] = TP.markov_stationary
QUERIES["perplexity_prune"] = P.perplexity_prune
QUERIES["length_bucket_batches"] = P.length_bucket_batches
QUERIES["stickiness_dau_mau"] = RG.stickiness_dau_mau
QUERIES["hll_mau_window"] = K.hll_mau_window
QUERIES["phash_dup_clusters"] = M.phash_dup_clusters
QUERIES["weighted_median_udaf"] = RG.weighted_median_udaf
QUERIES["geo_grid_join"] = R.geo_grid_join
QUERIES["rolling_correlation"] = RG.rolling_correlation
QUERIES["grouping_sets_report"] = R.grouping_sets_report
QUERIES["unpivot_metrics"] = R.unpivot_metrics
QUERIES["null_semantics_battery"] = R.null_semantics_battery
QUERIES["rake_keyphrases"] = T.rake_keyphrases
QUERIES["symspell_typo_pairs"] = T.symspell_typo_pairs
QUERIES["spearman_price_qty"] = RG.spearman_price_qty
QUERIES["window_funnel"] = TP.window_funnel
QUERIES["conversion_ztest"] = RG.conversion_ztest
QUERIES["qini_curve"] = RG.qini_curve
ORACLE["local_clustering_coeff"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        proj AS (
          SELECT DISTINCT a.city_key, a.src AS a, b.src AS b
          FROM edges a
          JOIN edges b ON a.city_key = b.city_key AND a.dst = b.dst
                      AND a.src < b.src
        ), deg AS (
          SELECT city_key, node, CAST(count(*) AS BIGINT) AS degree
          FROM (SELECT city_key, a AS node FROM proj
                UNION ALL SELECT city_key, b FROM proj)
          GROUP BY city_key, node
        ), tri AS (
          SELECT e1.city_key, e1.a, e1.b, e2.b AS c
          FROM proj e1
          JOIN proj e2 ON e2.city_key = e1.city_key AND e2.a = e1.b
          JOIN proj e3 ON e3.city_key = e1.city_key AND e3.a = e1.a
                      AND e3.b = e2.b
        ), corner AS (
          SELECT city_key, node, CAST(count(*) AS BIGINT) AS n_triangles
          FROM (SELECT city_key, a AS node FROM tri
                UNION ALL SELECT city_key, b FROM tri
                UNION ALL SELECT city_key, c FROM tri)
          GROUP BY city_key, node
        )
        SELECT d.city_key, d.node, d.degree,
               CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles,
               CASE WHEN d.degree >= 2
                    THEN round(2 * coalesce(c.n_triangles, 0)
                               / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
                    ELSE 0.0 END AS clustering_coeff
        FROM deg d LEFT JOIN corner c USING (city_key, node)
    """


# ---------- round-6 ML-stats / experiment-planning batch ----------
# Oracles live in oracles_training.py (already merged into ORACLE via
# ORACLE.update above — the module-level append executes at import).
QUERIES["ks_price_test"] = ML.ks_price_test
QUERIES["mannwhitney_value_test"] = ML.mannwhitney_value_test
QUERIES["theilsen_daily_trend"] = ML.theilsen_daily_trend
QUERIES["ab_power_mde"] = ML.ab_power_mde
QUERIES["corr_matrix"] = ML.corr_matrix
QUERIES["ols_price_model"] = ML.ols_price_model
QUERIES["l_diversity_audit"] = ML.l_diversity_audit
QUERIES["sorted_neighborhood_pairs"] = ML.sorted_neighborhood_pairs
QUERIES["quantile_normalize"] = ML.quantile_normalize
QUERIES["autocorrelation_daily"] = ML.autocorrelation_daily
QUERIES["best_changepoint"] = ML.best_changepoint
QUERIES["mad_anomaly_days"] = ML.mad_anomaly_days
QUERIES["memorization_risk_ngrams"] = T.memorization_risk_ngrams
QUERIES["range_partition_planner"] = ML.range_partition_planner
QUERIES["bloom_fpr_plan"] = ML.bloom_fpr_plan
QUERIES["trimmed_mean_values"] = ML.trimmed_mean_values
QUERIES["hhi_concentration"] = ML.hhi_concentration


# ---------- round-6 graph additions: assortativity + personalized PR ----------

QUERIES["city_assortativity"] = G.city_assortativity
ORACLE["city_assortativity"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        outdeg AS (
          SELECT city_key, src, CAST(count(*) AS BIGINT) AS od
          FROM edges GROUP BY 1, 2
        ), indeg AS (
          SELECT city_key, dst, CAST(count(*) AS BIGINT) AS idg
          FROM edges GROUP BY 1, 2
        ), j AS (
          SELECT e.city_key, o.od, i.idg
          FROM edges e
          JOIN outdeg o ON o.city_key = e.city_key AND o.src = e.src
          JOIN indeg i ON i.city_key = e.city_key AND i.dst = e.dst
        ), mom AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(od) AS BIGINT) AS s_od,
                 CAST(sum(idg) AS BIGINT) AS s_idg,
                 sum(CAST(od AS HUGEINT) * od) AS ss_od,
                 sum(CAST(idg AS HUGEINT) * idg) AS ss_idg,
                 sum(CAST(od AS HUGEINT) * idg) AS sx_od_idg
          FROM j GROUP BY 1
        )
        SELECT city_key, n AS n_edges,
               round(CASE WHEN CAST(n AS HUGEINT) * ss_od
                            - CAST(s_od AS HUGEINT) * s_od = 0
                          OR CAST(n AS HUGEINT) * ss_idg
                            - CAST(s_idg AS HUGEINT) * s_idg = 0
                     THEN NULL
                     ELSE {_ml_corr_pair('od', 'idg', 'HUGEINT')} END, 6)
                   AS assortativity
        FROM mom
    """


def _ppr_sql() -> str:
    """Unrolled quantized personalized-PageRank oracle — the seed-restart
    variant of _pagerank_sql, same per-iteration round(…, 9) discipline
    so both engines iterate identical float64 states."""
    a = repr(G.PPR_ALPHA)
    um = repr(1 - G.PPR_ALPHA)
    seed_ind = "CASE WHEN b.node = b.seed THEN 1.0 ELSE 0.0 END"
    parts = [
        f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        nodes AS (
          SELECT DISTINCT city_key, node FROM (
            SELECT city_key, src AS node FROM edges
            UNION ALL SELECT city_key, dst FROM edges
          )
        ),
        seeds AS (
          SELECT city_key, min(src) AS seed FROM edges GROUP BY city_key
        ),
        outdeg AS (
          SELECT city_key, src, count(*) AS deg
          FROM edges GROUP BY city_key, src
        ),
        nb AS (
          SELECT n.city_key, n.node, s.seed
          FROM nodes n JOIN seeds s USING (city_key)
        ),
        r0 AS (
          SELECT city_key, node, seed,
                 CASE WHEN node = seed THEN CAST(1 AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END AS r
          FROM nb
        )"""
    ]
    for i in range(1, G.PPR_ITERS + 1):
        p = f"r{i - 1}"
        parts.append(f"""
        , rd{i} AS (
          SELECT r.city_key, r.node AS src, r.r / o.deg AS w
          FROM {p} r
          JOIN outdeg o ON o.city_key = r.city_key AND o.src = r.node
        ), co{i} AS (
          SELECT e.city_key, e.dst AS node, sum(w) AS c
          FROM edges e JOIN rd{i} USING (city_key, src)
          GROUP BY e.city_key, e.dst
        ), dg{i} AS (
          SELECT r.city_key, sum(r.r) AS dsum
          FROM {p} r
          LEFT JOIN outdeg o ON o.city_key = r.city_key AND o.src = r.node
          WHERE o.src IS NULL GROUP BY r.city_key
        ), r{i} AS (
          SELECT b.city_key, b.node, b.seed,
                 round(CAST({um} AS DOUBLE) * ({seed_ind})
                       + CAST({a} AS DOUBLE)
                         * (coalesce(c.c, CAST(0 AS DOUBLE))
                            + coalesce(g.dsum, CAST(0 AS DOUBLE))
                              * ({seed_ind})), 9) AS r
          FROM nb b
          LEFT JOIN co{i} c ON c.city_key = b.city_key AND c.node = b.node
          LEFT JOIN dg{i} g ON g.city_key = b.city_key
        )""")
    parts.append(f"""
        SELECT city_key, node, round(r, 6) AS ppr FROM r{G.PPR_ITERS}
    """)
    return "".join(parts)


QUERIES["city_ppr_joins"] = G.city_ppr_joins
ORACLE["city_ppr_joins"] = _ppr_sql()

QUERIES["city_transitivity"] = G.city_transitivity
ORACLE["city_transitivity"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        proj AS (
          SELECT DISTINCT a.city_key, a.src AS a, b.src AS b
          FROM edges a
          JOIN edges b ON a.city_key = b.city_key AND a.dst = b.dst
                      AND a.src < b.src
        ), deg AS (
          SELECT city_key, node, CAST(count(*) AS BIGINT) AS degree
          FROM (SELECT city_key, a AS node FROM proj
                UNION ALL SELECT city_key, b FROM proj)
          GROUP BY city_key, node
        ), wed AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(degree * (degree - 1) // 2) AS BIGINT) AS wedges
          FROM deg GROUP BY city_key
        ), tri AS (
          SELECT e1.city_key, CAST(count(*) AS BIGINT) AS triangles
          FROM proj e1
          JOIN proj e2 ON e2.city_key = e1.city_key AND e2.a = e1.b
          JOIN proj e3 ON e3.city_key = e1.city_key AND e3.a = e1.a
                      AND e3.b = e2.b
          GROUP BY e1.city_key
        )
        SELECT w.city_key, w.n_nodes, w.wedges,
               CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
               round(CASE WHEN w.wedges = 0 THEN NULL
                     ELSE 3.0 * cast(coalesce(t.triangles, 0) as double)
                          / cast(w.wedges as double) END, 6)
                   AS transitivity
        FROM wed w LEFT JOIN tri t USING (city_key)
    """

QUERIES["weekday_anova"] = ML.weekday_anova
QUERIES["interevent_burstiness"] = ML.interevent_burstiness
QUERIES["markov_entropy_rate"] = ML.markov_entropy_rate
QUERIES["cohort_retention_matrix"] = ML.cohort_retention_matrix
QUERIES["ratio_metric_ci"] = ML.ratio_metric_ci
QUERIES["wasserstein_price_shift"] = ML.wasserstein_price_shift
QUERIES["geo_core_points"] = R.geo_core_points
QUERIES["readability_scores"] = T.readability_scores
QUERIES["stylometry_delta"] = T.stylometry_delta
QUERIES["cramers_v_matrix"] = ML.cramers_v_matrix
QUERIES["optimal_histogram_bins"] = ML.optimal_histogram_bins
QUERIES["p_chart_days"] = ML.p_chart_days
QUERIES["conversion_window_sensitivity"] = ML.conversion_window_sensitivity
QUERIES["training_step_plan"] = P.training_step_plan
QUERIES["kendall_tau_daily"] = ML.kendall_tau_daily
QUERIES["mann_kendall_trend"] = ML.mann_kendall_trend
QUERIES["hill_tail_index"] = ML.hill_tail_index
QUERIES["negbin_fit_orders"] = ML.negbin_fit_orders
QUERIES["dp_laplace_plan"] = ML.dp_laplace_plan
QUERIES["price_histogram"] = ML.price_histogram
QUERIES["ams_f2_sketch"] = ML.ams_f2_sketch
QUERIES["phrase_match_docs"] = T.phrase_match_docs
QUERIES["isotonic_calibration"] = ML.isotonic_calibration
QUERIES["pacf_daily"] = ML.pacf_daily
QUERIES["markov_absorption"] = ML.markov_absorption
QUERIES["event_precedence_matrix"] = TP.event_precedence_matrix
QUERIES["welch_ttest_values"] = ML.welch_ttest_values
QUERIES["jarque_bera_priority"] = ML.jarque_bera_priority
QUERIES["wilson_ci_variants"] = ML.wilson_ci_variants
QUERIES["mahalanobis_outliers"] = ML.mahalanobis_outliers
QUERIES["chow_break_test"] = ML.chow_break_test
QUERIES["rich_club_coefficient"] = G.rich_club_coefficient
QUERIES["intradoc_duplication"] = T.intradoc_duplication
QUERIES["prefix_cluster_stats"] = D.prefix_cluster_stats
QUERIES["retention_decay_fit"] = TP.retention_decay_fit
QUERIES["newcombe_diff_ci"] = ML.newcombe_diff_ci
QUERIES["xcorr_purchase_click"] = ML.xcorr_purchase_click
QUERIES["t_closeness_audit"] = R.t_closeness_audit
QUERIES["price_band_pairs"] = R.price_band_pairs
QUERIES["seasonality_strength"] = RG.seasonality_strength
QUERIES["eb_shrunk_rates"] = ML.eb_shrunk_rates
QUERIES["theil_index"] = RG.theil_index
QUERIES["lsh_s_curve"] = D.lsh_s_curve
QUERIES["label_centroid_cosine"] = S.label_centroid_cosine
QUERIES["token_budget_waterfill"] = P.token_budget_waterfill
QUERIES["chi2_adjusted_residuals"] = RG.chi2_adjusted_residuals
QUERIES["bigram_llr_collocations"] = T.bigram_llr_collocations
QUERIES["city_bfs_layers"] = G.city_bfs_layers
QUERIES["markov_attribution"] = TP.markov_attribution
QUERIES["kaplan_meier_curve"] = TP.kaplan_meier_curve
QUERIES["alpha_sampling_weights"] = P.alpha_sampling_weights
QUERIES["packing_length_sweep"] = P.packing_length_sweep
QUERIES["retrieval_map"] = T.retrieval_map
QUERIES["srm_check"] = ML.srm_check
QUERIES["hour_of_week_profile"] = RG.hour_of_week_profile
QUERIES["logistic_price_model"] = ML.logistic_price_model
QUERIES["best_gini_split"] = ML.best_gini_split
QUERIES["simplified_silhouette"] = S.simplified_silhouette
QUERIES["perm_test_values"] = ML.perm_test_values
QUERIES["huber_location"] = ML.huber_location
QUERIES["cowitness_lift"] = G.cowitness_lift
QUERIES["ols_residual_diagnostics"] = ML.ols_residual_diagnostics
QUERIES["gumbel_daily_max"] = ML.gumbel_daily_max
QUERIES["cvar_value_tail"] = ML.cvar_value_tail
QUERIES["effective_corpus_size"] = D.effective_corpus_size
QUERIES["last_digit_audit"] = ML.last_digit_audit
QUERIES["twap_by_type"] = TP.twap_by_type
QUERIES["scalable_median"] = R.scalable_median
QUERIES["value_mode_by_type"] = R.value_mode_by_type
QUERIES["monroe_keyness"] = T.monroe_keyness
QUERIES["conversion_lag_percentiles"] = TP.conversion_lag_percentiles
QUERIES["price_volume_mix"] = R.price_volume_mix
QUERIES["set_ops_battery"] = R.set_ops_battery
QUERIES["interval_overlap_hours"] = TP.interval_overlap_hours

# round-6: the LSH-sourced mutual-kNN twin (oracle via ORACLE_TRAINING) and
# the capped co-witness projection + its no-silent-caps accounting
QUERIES["mutual_knn_graph_lsh"] = S.mutual_knn_graph_lsh

QUERIES["co_witness_pairs_capped"] = G.co_witness_pairs_capped
# positional self-join mirrors the src-contiguous chunking exactly: 1-based
# positions (i, j) pair iff j > i and j <= ((i-1) div m + 1) * m
ORACLE["co_witness_pairs_capped"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        g AS (
          SELECT city_key, dst, list_sort(list(src)) AS ss
          FROM edges GROUP BY city_key, dst HAVING count(*) >= 2
        ),
        m AS (
          SELECT city_key, dst, unnest(ss) AS src,
                 unnest(range(1, len(ss) + 1)) AS i
          FROM g
        )
        SELECT a.city_key, a.src AS src_a, b.src AS src_b,
               count(*) AS shared_witnesses
        FROM m a JOIN m b ON a.city_key = b.city_key AND a.dst = b.dst
         AND b.i > a.i
         AND b.i <= ((a.i - 1) // {G.CO_WITNESS_MAX_GROUP} + 1)
                    * {G.CO_WITNESS_MAX_GROUP}
        GROUP BY a.city_key, a.src, b.src
    """

QUERIES["running_balance_totals"] = TP.running_balance_totals
ORACLE["running_balance_totals"] = """
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
               epoch_us(max(ts)) AS last_ts_micros
        FROM events GROUP BY user_id
    """

# round-7: the capped-consumer family (VERDICT r6 #2) — the three most
# expensive co-witness consumers re-registered over the capped projection.
# The shared CTE chain mirrors graph._co_pairs(max_group) positionally:
# 1-based (i, j) pair iff j > i and j <= ((i-1) div m + 1) * m.
_CO_CAPPED_CTES = f"""edges0 AS ({{WSQL}}),
        e AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        g AS (
          SELECT city_key, dst, list_sort(list(src)) AS ss
          FROM e GROUP BY city_key, dst HAVING count(*) >= 2
        ),
        m AS (
          SELECT city_key, dst, unnest(ss) AS src,
                 unnest(range(1, len(ss) + 1)) AS i
          FROM g
        ),
        cw AS (
          SELECT a.city_key, a.src AS src_a, b.src AS src_b,
                 CAST(count(*) AS BIGINT) AS shared_witnesses
          FROM m a JOIN m b ON a.city_key = b.city_key AND a.dst = b.dst
           AND b.i > a.i
           AND b.i <= ((a.i - 1) // {G.CO_WITNESS_MAX_GROUP} + 1)
                      * {G.CO_WITNESS_MAX_GROUP}
          GROUP BY a.city_key, a.src, b.src
        )"""

QUERIES["neighborhood_jaccard_capped"] = G.neighborhood_jaccard_capped
ORACLE["neighborhood_jaccard_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        deg AS (
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

QUERIES["butterfly_stats_capped"] = G.butterfly_stats_capped
ORACLE["butterfly_stats_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        bf AS (
          SELECT city_key,
                 CAST(sum(shared_witnesses * (shared_witnesses - 1) // 2)
                      AS BIGINT) AS n_butterflies
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

QUERIES["rich_club_coefficient_capped"] = G.rich_club_coefficient_capped
ORACLE["rich_club_coefficient_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        deg AS (
          SELECT city_key, node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT city_key, src_a AS node FROM cw
            UNION ALL SELECT city_key, src_b AS node FROM cw
          ) GROUP BY 1, 2
        ), ks AS (SELECT unnest([{", ".join(str(k) for k in G.RICH_CLUB_KS)}]) AS k),
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

for _capped in (
    "neighborhood_jaccard_capped",
    "butterfly_stats_capped",
    "rich_club_coefficient_capped",
):
    ORACLE[_capped] = ORACLE[_capped].replace("{WSQL}", _WITNESS_SQL)

QUERIES["co_witness_bucket_stats"] = G.co_witness_bucket_stats
ORACLE["co_witness_bucket_stats"] = f"""
        WITH edges0 AS ({_WITNESS_SQL}),
        edges AS (SELECT DISTINCT city_key, src, dst FROM edges0),
        sizes AS (
          SELECT city_key, dst, count(*) AS k FROM edges GROUP BY city_key, dst
        ),
        per AS (
          SELECT k, k * (k - 1) // 2 AS all_pairs,
                 (k // {G.CO_WITNESS_MAX_GROUP})
                   * ({G.CO_WITNESS_MAX_GROUP} * ({G.CO_WITNESS_MAX_GROUP} - 1) // 2)
                 + (k % {G.CO_WITNESS_MAX_GROUP})
                   * (k % {G.CO_WITNESS_MAX_GROUP} - 1) // 2 AS capped_pairs
          FROM sizes
        )
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_multi_groups,
               CAST(max(k) AS BIGINT) AS max_group_size,
               CAST(sum(all_pairs) AS BIGINT) AS all_pairs,
               CAST(sum(capped_pairs) AS BIGINT) AS capped_pairs,
               CAST(sum(all_pairs) - sum(capped_pairs) AS BIGINT)
                   AS dropped_pairs
        FROM per
    """


# round-6 batch 2: sweep-line concurrency, Granger causality, variance
# homogeneity, and the small-files compaction plan
QUERIES["peak_concurrency"] = TP.peak_concurrency
ORACLE["peak_concurrency"] = f"""
        WITH g AS (
          SELECT event_id, user_id, ts,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        ), e AS (
          SELECT user_id, ts,
                 CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > {TP.SESSION_GAP_US}
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_idx
          FROM g
        ), s AS (
          SELECT user_id, session_idx,
                 epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us,
                 CAST(min(ts) AS DATE) AS s_day, CAST(max(ts) AS DATE) AS e_day
          FROM e GROUP BY user_id, session_idx
        ), bounds AS (
          SELECT s_day AS day, s_us AS us, 1 AS delta, user_id, session_idx FROM s
          UNION ALL
          SELECT e_day AS day, e_us AS us, -1 AS delta, user_id, session_idx FROM s
        ), swept AS (
          SELECT day, delta,
                 sum(delta) OVER (PARTITION BY day
                     ORDER BY us, delta DESC, user_id, session_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM bounds
        ), per_day AS (
          SELECT day, CAST(max(run) AS BIGINT) AS max_run,
                 CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
                 CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends
          FROM swept GROUP BY day
        ), carry AS (
          SELECT CAST(unnest(generate_series(s_day + 1, e_day,
                                             INTERVAL 1 DAY)) AS DATE) AS day,
                 user_id
          FROM s WHERE e_day > s_day
        ), carry_g AS (
          SELECT day, CAST(count(*) AS BIGINT) AS carry_in FROM carry GROUP BY day
        )
        SELECT coalesce(p.day, c.day) AS day,
               CAST(coalesce(carry_in, 0) AS BIGINT) AS carry_in,
               CAST(coalesce(n_starts, 0) AS BIGINT) AS n_starts,
               CAST(coalesce(n_ends, 0) AS BIGINT) AS n_ends,
               CAST(coalesce(carry_in, 0)
                    + greatest(0, coalesce(max_run, 0)) AS BIGINT)
                   AS peak_concurrency
        FROM per_day p FULL OUTER JOIN carry_g c ON p.day = c.day
    """

QUERIES["granger_lag1_daily"] = ML.granger_lag1_daily
ORACLE["granger_lag1_daily"] = f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS buy,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS clk
          FROM events GROUP BY CAST(ts AS DATE)
        ), b AS (
          SELECT min(d) AS d0, max(d) AS d1 FROM daily
        ), spine AS (
          SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
          FROM b
        ), grid AS (
          SELECT s.d, coalesce(buy, 0) AS buy, coalesce(clk, 0) AS clk
          FROM spine s LEFT JOIN daily USING (d)
        ), lagged AS (
          SELECT buy AS y,
                 lag(buy) OVER (ORDER BY d) AS u,
                 lag(clk) OVER (ORDER BY d) AS v
          FROM grid
        ), f AS (
          SELECT * FROM lagged WHERE u IS NOT NULL
        ), mom AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS sy, CAST(sum(u) AS BIGINT) AS su,
                 CAST(sum(v) AS BIGINT) AS sv,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(u * u) AS BIGINT) AS suu,
                 CAST(sum(v * v) AS BIGINT) AS svv,
                 CAST(sum(u * y) AS BIGINT) AS suy,
                 CAST(sum(v * y) AS BIGINT) AS svy,
                 CAST(sum(u * v) AS BIGINT) AS suv
          FROM f
        )
        SELECT n AS n_obs,
               round({ML.GR_SSE_RESTRICTED}, 6) AS sse_restricted,
               round({ML.GR_SSE_UNRESTRICTED}, 6) AS sse_unrestricted,
               round((({ML.GR_SSE_RESTRICTED}) - ({ML.GR_SSE_UNRESTRICTED}))
                     / nullif(({ML.GR_SSE_UNRESTRICTED})
                              / (cast(n as double) - 3.0), 0.0), 6) AS f_granger
        FROM mom
    """

QUERIES["brown_forsythe_levene"] = ML.brown_forsythe_levene
ORACLE["brown_forsythe_levene"] = """
        WITH ev AS (
          SELECT event_type, event_id,
                 CAST(floor(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL
        ), r AS (
          SELECT event_type, c,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY c, event_id) AS r,
                 count(*) OVER (PARTITION BY event_type) AS ng
          FROM ev
        ), m AS (
          SELECT event_type,
                 CAST(sum(CASE WHEN r = (ng + 1) // 2 THEN c ELSE 0 END
                        + CASE WHEN r = (ng + 2) // 2 THEN c ELSE 0 END)
                   AS BIGINT) AS med2
          FROM r GROUP BY event_type
        ), z AS (
          SELECT ev.event_type, abs(2 * c - med2) AS z
          FROM ev JOIN m USING (event_type)
        ), g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS nj,
                 sum(z) AS sj, sum(z * z) AS ssj
          FROM z GROUP BY event_type
        ), t AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(nj) AS BIGINT) AS n,
                 CAST(sum(CAST(round(CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)
                                     / nj * 1e6) AS HUGEINT)) AS HUGEINT)
                     AS sqn_micro,
                 sum(sj) AS s_all,
                 CAST(sum(CAST(round((CAST(ssj AS DOUBLE)
                                      - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)
                                        / nj) * 1e6) AS HUGEINT)) AS HUGEINT)
                     AS within_micro
          FROM g
        )
        SELECT k AS k_groups, n AS n_obs,
               CAST(round((CAST(sqn_micro AS DOUBLE) / 1e6
                     - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                       / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
                   AS ss_between,
               round(CAST(within_micro AS DOUBLE) / 1e6, 6) AS ss_within,
               CAST(round((((CAST(sqn_micro AS DOUBLE) / 1e6
                       - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                         / CAST(n AS DOUBLE)) / (k - 1.0))
                     / nullif((CAST(within_micro AS DOUBLE) / 1e6)
                              / (CAST(n AS DOUBLE) - k), 0.0)) * 1e6)
                    AS BIGINT) / 1e6 AS w_stat
        FROM t
    """

QUERIES["compaction_shards"] = P.compaction_shards
ORACLE["compaction_shards"] = f"""
        WITH d AS (
          SELECT source, doc_id, CAST(strlen(text) AS BIGINT) AS bytes
          FROM documents
        ), a AS (
          SELECT source, doc_id, bytes,
                 coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // {P.TARGET_SHARD_BYTES} AS shard_idx
          FROM d
        )
        SELECT source, CAST(shard_idx AS BIGINT) AS shard_idx,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(bytes) AS BIGINT) AS shard_bytes,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(max(doc_id) AS BIGINT) AS last_doc,
               round(sum(bytes) / {float(P.TARGET_SHARD_BYTES)}, 6) AS fill_ratio
        FROM a GROUP BY source, shard_idx
    """


# round-6 batch 3: lexical richness, kNN hubness, robust location,
# long-range dependence
QUERIES["yule_k"] = T.yule_k
ORACLE["yule_k"] = f"""
        WITH toks AS (
          SELECT source, unnest({{toks}}) AS t FROM documents
        ), tc AS (
          SELECT source, t, count(*) AS m FROM toks GROUP BY source, t
        ), spec AS (
          SELECT source, m, CAST(count(*) AS BIGINT) AS vm
          FROM tc GROUP BY source, m
        ), agg AS (
          SELECT source,
                 CAST(sum(m * vm) AS BIGINT) AS n_tokens,
                 CAST(sum(vm) AS BIGINT) AS n_types,
                 CAST(sum(m * m * vm) AS BIGINT) AS s2
          FROM spec GROUP BY source
        )
        SELECT source, n_tokens, n_types,
               round(10000.0 * (s2 - n_tokens)
                     / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS yule_k
        FROM agg
    """.replace("{toks}", "list_filter(string_split(text, ' '), x -> x <> '')")

QUERIES["winsorized_mean_by_type"] = ML.winsorized_mean_by_type
ORACLE["winsorized_mean_by_type"] = f"""
        WITH ev AS (
          SELECT event_type, event_id,
                 CAST(floor(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL
        ), r AS (
          SELECT event_type, c,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY c, event_id) AS r,
                 count(*) OVER (PARTITION BY event_type) AS ng
          FROM ev
        ), fences AS (
          SELECT event_type,
                 max(CASE WHEN r = greatest(1, (ng * {ML.WINSOR_LO_PCT} + 99) // 100)
                          THEN c END) AS lo,
                 max(CASE WHEN r = (ng * {ML.WINSOR_HI_PCT} + 99) // 100
                          THEN c END) AS hi
          FROM r GROUP BY event_type
        )
        SELECT ev.event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(max(lo) AS BIGINT) AS lo_cents,
               CAST(max(hi) AS BIGINT) AS hi_cents,
               CAST(round(CAST(sum(least(greatest(c, lo), hi)) AS DOUBLE)
                     * 1e4 / count(*)) AS BIGINT) / 1e6 AS winsorized_mean,
               CAST(round(CAST(sum(c) AS DOUBLE) * 1e4 / count(*))
                    AS BIGINT) / 1e6 AS raw_mean
        FROM ev JOIN fences USING (event_type) GROUP BY ev.event_type
    """

QUERIES["hurst_rs_daily"] = RG.hurst_rs_daily
_hurst_chunks = []
for _w in RG.HURST_WINDOWS:
    _hurst_chunks.append(f"""
        ch{_w} AS (
          SELECT idx // {_w} AS chunk, idx % {_w} + 1 AS t, x
          FROM grid
          QUALIFY count(*) OVER (PARTITION BY idx // {_w}) = {_w}
        ), z{_w} AS (
          SELECT chunk, t,
                 sum(x) OVER (PARTITION BY chunk ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS p,
                 sum(x) OVER (PARTITION BY chunk) AS s,
                 sum(x * x) OVER (PARTITION BY chunk) AS ss
          FROM ch{_w}
        ), c{_w} AS (
          SELECT {_w} AS w, chunk, max(s) AS s, max(ss) AS ss,
                 max({_w} * p - t * s) - min({_w} * p - t * s) AS r_scaled
          FROM z{_w} GROUP BY chunk
        )""")
ORACLE["hurst_rs_daily"] = f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY CAST(ts AS DATE)
        ), b AS (
          SELECT min(d) AS d0, max(d) AS d1 FROM daily
        ), spine AS (
          SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
          FROM b
        ), grid AS (
          SELECT row_number() OVER (ORDER BY s.d) - 1 AS idx,
                 coalesce(x, 0) AS x
          FROM spine s LEFT JOIN daily ON s.d = daily.d
        ),{",".join(_hurst_chunks)}
        , chunks AS (
          {" UNION ALL ".join(f"SELECT * FROM c{_w}" for _w in RG.HURST_WINDOWS)}
        ), rs AS (
          SELECT w,
                 CAST(round(r_scaled
                      / sqrt(CAST(w AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                      * 1e6) AS BIGINT) AS rs_micro
          FROM chunks WHERE w * ss - s * s > 0
        ), agg AS (
          SELECT w, CAST(count(*) AS BIGINT) AS n_chunks,
                 CAST(sum(rs_micro) AS BIGINT) AS rs_sum_micro
          FROM rs GROUP BY w
        ), pts AS (
          SELECT w, n_chunks, rs_sum_micro,
                 CAST(round(ln(w) * 1e6) AS BIGINT) AS lx,
                 CAST(round(ln(rs_sum_micro / n_chunks / 1e6) * 1e6) AS BIGINT)
                     AS ly
          FROM agg
        ), fit AS (
          SELECT round((CAST(count(*) AS DOUBLE) * sum(lx * ly)
                        - CAST(sum(lx) AS DOUBLE) * sum(ly))
                       / (CAST(count(*) AS DOUBLE) * sum(lx * lx)
                          - CAST(sum(lx) AS DOUBLE) * sum(lx)), 6) AS h
          FROM pts
        )
        SELECT CAST(w AS BIGINT) AS window_size, n_chunks,
               CAST(round(rs_sum_micro / n_chunks) AS BIGINT) / 1e6 AS avg_rs,
               h AS hurst_exponent
        FROM pts, fit
    """

QUERIES["knn_hubness_audit"] = S.knn_hubness_audit

# round-6 batch 4: count dispersion + EVT tail fit
QUERIES["fano_factor_daily"] = RG.fano_factor_daily
_FANO = "((n * ss - s * s) / (CAST(n AS DOUBLE) * n)) / (s / CAST(n AS DOUBLE))"
ORACLE["fano_factor_daily"] = f"""
        WITH ev AS (
          SELECT event_type, CAST(ts AS DATE) AS d FROM events
        ), daily AS (
          SELECT event_type, d, CAST(count(*) AS BIGINT) AS x
          FROM ev GROUP BY event_type, d
        ), b AS (
          SELECT min(d) AS d0, max(d) AS d1 FROM ev
        ), spine AS (
          SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
          FROM b
        ), types AS (
          SELECT DISTINCT event_type FROM ev
        ), dense AS (
          SELECT t.event_type, coalesce(x, 0) AS x
          FROM types t CROSS JOIN spine s
          LEFT JOIN daily dd ON dd.event_type = t.event_type AND dd.d = s.d
        ), mom AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS s,
                 CAST(sum(x * x) AS HUGEINT) AS ss
          FROM dense GROUP BY event_type
        )
        SELECT event_type, n AS n_days,
               round(s / CAST(n AS DOUBLE), 6) AS mean_daily,
               round((n * ss - s * s) / (CAST(n AS DOUBLE) * n), 6) AS var_daily,
               round({_FANO}, 6) AS fano_factor,
               CASE WHEN {_FANO} > 1.5 THEN 'overdispersed'
                    WHEN {_FANO} < 0.67 THEN 'underdispersed'
                    ELSE 'poisson_like' END AS dispersion_class
        FROM mom
    """

QUERIES["gpd_tail_fit"] = ML.gpd_tail_fit
_GPD_B0 = "(CAST(sy AS DOUBLE) / m)"
_GPD_B1 = "(CAST(t1 AS DOUBLE) / (CAST(m AS DOUBLE) * (m - 1)))"
ORACLE["gpd_tail_fit"] = f"""
        WITH o AS (
          SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders
        ), r AS (
          SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS r,
                 count(*) OVER () AS n
          FROM o
        ), u AS (
          SELECT c AS u FROM r
          WHERE r = (n * {ML.GPD_THRESHOLD_PCT} + 99) // 100
        ), e AS (
          SELECT o_orderkey, c - u AS y, u FROM o, u WHERE c > u
        ), er AS (
          SELECT u, y, row_number() OVER (ORDER BY y, o_orderkey) AS r,
                 count(*) OVER () AS m_in
          FROM e
        ), pwm AS (
          SELECT u, CAST(count(*) AS BIGINT) AS m,
                 sum(y) AS sy, sum(y * (m_in - r)) AS t1
          FROM er GROUP BY u
        )
        SELECT u AS u_cents, m AS n_exceed,
               round({_GPD_B0}, 6) AS pwm_b0,
               round({_GPD_B1}, 6) AS pwm_b1,
               round(2.0 - {_GPD_B0} / ({_GPD_B0} - 2.0 * {_GPD_B1}), 6)
                   AS gpd_shape,
               round(2.0 * {_GPD_B0} * {_GPD_B1}
                     / ({_GPD_B0} - 2.0 * {_GPD_B1}), 6) AS gpd_scale
        FROM pwm
    """


QUERIES["brier_decomposition"] = RG.brier_decomposition
_BR_PB = "(CAST(s_b AS DOUBLE) / ((n - 1) * CAST(n_b AS DOUBLE)))"
_BR_OB = "(o_b / CAST(n_b AS DOUBLE))"
ORACLE["brier_decomposition"] = f"""
        WITH s AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
          FROM orders
        ), n_t AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM s
        ), r0 AS (
          SELECT pos, CAST(rank() OVER (ORDER BY cents) AS BIGINT) AS rk FROM s
        ), ranked AS (
          SELECT pos, rk, n,
                 least({RG.CALIB_BINS - 1},
                       ({RG.CALIB_BINS} * (rk - 1)) // (n - 1)) AS bin
          FROM r0, n_t
        ), gstats AS (
          SELECT max(n) AS n, CAST(sum(pos) AS BIGINT) AS o,
                 sum((rk - 1) * (rk - 1)) AS spp,
                 sum((rk - 1) * pos) AS spo
          FROM ranked
        ), bins AS (
          SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
                 CAST(sum(pos) AS BIGINT) AS o_b,
                 sum(rk - 1) AS s_b, max(n) AS n
          FROM ranked GROUP BY bin
        ), comp AS (
          SELECT
            CAST(sum(CAST(round(n_b * ({_BR_PB} - {_BR_OB})
                 * ({_BR_PB} - {_BR_OB}) * 1e6) AS BIGINT)) AS BIGINT)
                AS rel_micro,
            CAST(sum(CAST(round(n_b
                 * ({_BR_OB} - o_all / (CAST(n AS DOUBLE) * 1.0))
                 * ({_BR_OB} - o_all / (CAST(n AS DOUBLE) * 1.0))
                 * 1e6) AS BIGINT)) AS BIGINT) AS res_micro
          FROM bins, (SELECT o AS o_all FROM gstats)
        ), core AS (
          SELECT n AS n_obs,
                 round((CAST(spp AS DOUBLE) / ((n - 1) * CAST(n - 1 AS DOUBLE))
                        - 2.0 * CAST(spo AS DOUBLE) / (n - 1) + o)
                       / CAST(n AS DOUBLE), 6) AS brier_score,
                 round(rel_micro / 1e6 / CAST(n AS DOUBLE), 6) AS reliability,
                 round(res_micro / 1e6 / CAST(n AS DOUBLE), 6) AS resolution,
                 round((o / CAST(n AS DOUBLE))
                       * (1.0 - o / CAST(n AS DOUBLE)), 6) AS uncertainty
          FROM gstats, comp
        )
        SELECT *, round(brier_score
                        - (reliability - resolution + uncertainty), 6)
                   AS decomp_residual
        FROM core
    """


QUERIES["allen_interval_relations"] = TP.allen_interval_relations
ORACLE["allen_interval_relations"] = f"""
        WITH promos AS (
          SELECT user_id, epoch_us(ts) AS a1,
                 epoch_us(ts) + {TP.PROMO_WINDOW_US} AS a2
          FROM events WHERE event_type = 'signup'
        ), g AS (
          SELECT event_id, user_id, ts,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        ), e AS (
          SELECT user_id, ts,
                 CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > {TP.SESSION_GAP_US}
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_idx
          FROM g
        ), sess AS (
          SELECT user_id, session_idx,
                 epoch_us(min(ts)) AS b1, epoch_us(max(ts)) AS b2
          FROM e GROUP BY user_id, session_idx
        )
        SELECT {TP.ALLEN_CASE} AS relation,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM promos p JOIN sess s USING (user_id)
        GROUP BY relation
    """

QUERIES["atkinson_index"] = RG.atkinson_index
ORACLE["atkinson_index"] = """
        WITH spend AS (
          SELECT c.c_nationkey, o.o_custkey,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS x
          FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
          GROUP BY c.c_nationkey, o.o_custkey
          HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) > 0
        ), mom AS (
          SELECT c_nationkey,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 sum(CAST(round(ln(CAST(x AS DOUBLE)) * 1000000000.0)
                       AS BIGINT)) AS sl
          FROM spend GROUP BY c_nationkey
        )
        SELECT c_nationkey, n AS n_customers,
               round((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6)
                   AS mean_spend,
               round(exp(CAST(sl AS DOUBLE) / 1e9 / CAST(n AS DOUBLE)) / 100.0, 6)
                   AS geo_mean_spend,
               round(1.0 - exp(CAST(sl AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))
                     / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                   + CAST(0 AS DOUBLE)
                   AS atkinson_e1
        FROM mom
    """

QUERIES["binseg_changepoints"] = ML.binseg_changepoints
ORACLE["binseg_changepoints"] = """
        WITH daily AS (
          SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1
        ), pre AS (
          SELECT d,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
                 CAST(sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
                 sum(c * c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS ss
          FROM daily
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS kt, CAST(sum(c) AS BIGINT) AS st,
                 sum(c * c) AS sst
          FROM daily
        ), cand0 AS (
          SELECT d, k, s, ss, kt, st, sst, (cast(ss as double) - cast(s as double) * cast(s as double) / cast(k as double)) + (cast(sst - ss as double)    - cast(st - s as double) * cast(st - s as double)      / cast(nullif(kt - k, 0) as double)) AS sse2
          FROM pre, tot WHERE k < kt
        ), best0 AS (
          SELECT d AS t1_d, k AS k1, s AS s1, ss AS ss1, sse2 AS sse2_best
          FROM (SELECT *, row_number() OVER (ORDER BY sse2 ASC, d ASC) AS rn
                FROM cand0) WHERE rn = 1
        ), root AS (
          SELECT CAST(0 AS INT) AS level, 'root' AS side,
                 CAST(t1_d AS BIGINT) AS break_day,
                 CAST(k1 AS BIGINT) AS n_left,
                 CAST(kt - k1 AS BIGINT) AS n_right,
                 round((cast(sst as double) - cast(st as double) * cast(st as double) / cast(kt as double)) - sse2_best, 6) AS gain
          FROM best0, tot
        ), seg AS (
          SELECT * FROM pre, best0, tot
        ), children AS (
          SELECT d, k,
                 CASE WHEN k < k1 THEN 'left'
                      WHEN k > k1 AND k < kt THEN 'right' END AS side,
                 CASE WHEN k < k1 THEN (cast(ss as double) - cast(s as double) * cast(s as double) / cast(nullif(k, 0) as double)) + (cast(ss1 - ss as double)    - cast(s1 - s as double) * cast(s1 - s as double)      / cast(nullif(k1 - k, 0) as double))
                      WHEN k > k1 AND k < kt THEN (cast(ss - ss1 as double) - cast(s - s1 as double) * cast(s - s1 as double)   / cast(nullif(k - k1, 0) as double)) + (cast(sst - ss as double)    - cast(st - s as double) * cast(st - s as double)      / cast(nullif(kt - k, 0) as double)) END AS sse,
                 CASE WHEN k < k1 THEN cast(ss1 as double) - cast(s1 as double) * cast(s1 as double) / cast(nullif(k1, 0) as double)
                      WHEN k > k1 AND k < kt THEN cast(sst - ss1 as double) - cast(st - s1 as double) * cast(st - s1 as double)   / cast(nullif(kt - k1, 0) as double) END
                     AS parent_sse,
                 CASE WHEN k < k1 THEN k ELSE k - k1 END AS nl,
                 CASE WHEN k < k1 THEN k1 - k ELSE kt - k END AS nr
          FROM seg
        ), child_rows AS (
          SELECT CAST(1 AS INT) AS level, side,
                 CAST(d AS BIGINT) AS break_day,
                 CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
                 round(parent_sse - sse, 6) AS gain
          FROM (SELECT *, row_number() OVER (PARTITION BY side
                              ORDER BY sse ASC, d ASC) AS rn
                FROM children WHERE side IS NOT NULL) WHERE rn = 1
        )
        SELECT * FROM root UNION ALL SELECT * FROM child_rows
    """

QUERIES["rfm_segmentation"] = TP.rfm_segmentation
ORACLE["rfm_segmentation"] = f"""
        WITH ev AS (
          SELECT user_id, ts, CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'
        ), anchor AS (
          SELECT epoch_us(max(ts)) AS t_max FROM ev
        ), per_user AS (
          SELECT user_id,
                 t_max - epoch_us(max(ts)) AS recency_us,
                 CAST(count(*) AS BIGINT) AS frequency,
                 CAST(sum(cents) AS BIGINT) AS monetary_cents
          FROM ev, anchor GROUP BY user_id, t_max
        ), n_t AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM per_user
        ), scored AS (
          SELECT user_id, recency_us, frequency, monetary_cents,
                 CAST({TP.RFM_TIERS} * (row_number() OVER (
                     ORDER BY recency_us DESC, user_id ASC) - 1) // n + 1
                   AS INT) AS r_tier,
                 CAST({TP.RFM_TIERS} * (row_number() OVER (
                     ORDER BY frequency ASC, user_id ASC) - 1) // n + 1
                   AS INT) AS f_tier,
                 CAST({TP.RFM_TIERS} * (row_number() OVER (
                     ORDER BY monetary_cents ASC, user_id ASC) - 1) // n + 1
                   AS INT) AS m_tier
          FROM per_user, n_t
        )
        SELECT r_tier, f_tier, m_tier,
               CAST(count(*) AS BIGINT) AS n_users,
               round(CAST(sum(recency_us) AS DOUBLE) / count(*)
                     / 86400000000.0, 6) AS avg_recency_days,
               round(CAST(sum(frequency) AS DOUBLE) / count(*), 6)
                   AS avg_frequency,
               round(CAST(sum(monetary_cents) AS DOUBLE) / count(*) / 100.0, 6)
                   AS avg_monetary
        FROM scored GROUP BY r_tier, f_tier, m_tier
    """


QUERIES["cluster_purity"] = S.cluster_purity
QUERIES["pq_distortion_audit"] = S.pq_distortion_audit
QUERIES["ivf_recall_sweep"] = S.ivf_recall_sweep

QUERIES["dtw_daily_series"] = RG.dtw_daily_series
# the recursive CTE walks the SAME anti-diagonal recurrence: iteration k
# holds diagonals k (prev) and k-1 (pp); each new diagonal is a
# dependency-free list_transform, exactly mirroring the Spark fold
ORACLE["dtw_daily_series"] = f"""
        WITH RECURSIVE daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS clk,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS buy
          FROM events GROUP BY CAST(ts AS DATE)
        ), bnd AS (
          SELECT min(d) AS d0, max(d) AS d1 FROM daily
        ), spine AS (
          SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
          FROM bnd
        ), grid AS (
          SELECT s.d, coalesce(clk, 0) AS clk, coalesce(buy, 0) AS buy
          FROM spine s LEFT JOIN daily USING (d)
        ), packed AS (
          SELECT list(clk ORDER BY d) AS va,
                 list(buy ORDER BY d) AS vb,
                 CAST(count(*) AS INT) AS n
          FROM grid
        ), state(k, prev, pp) AS (
          SELECT 1,
                 list_transform(range(0, n + 1),
                                i -> CAST({RG.DTW_INF} AS BIGINT)),
                 list_transform(range(0, n + 1),
                                i -> CAST(CASE WHEN i = 0 THEN 0
                                          ELSE {RG.DTW_INF} END AS BIGINT))
          FROM packed
          UNION ALL
          SELECT k + 1,
                 list_transform(range(0, n + 1), i ->
                   CAST(CASE WHEN i >= greatest(1, k + 1 - n)
                              AND i <= least(n, k + 1 - 1)
                        THEN abs(va[CAST(i AS INT)]
                                 - vb[CAST(k + 1 - i AS INT)])
                             + least(prev[CAST(i AS INT)],
                                     prev[CAST(i + 1 AS INT)],
                                     pp[CAST(i AS INT)])
                        ELSE {RG.DTW_INF} END AS BIGINT)),
                 prev
          FROM state, packed WHERE k < 2 * n
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               prev[n + 1] AS dtw_distance,
               round(prev[n + 1] / CAST(2 * n - 1 AS DOUBLE), 6) AS dtw_per_step
        FROM state, packed WHERE k = 2 * n
    """


# ---------- round-8: remaining co-witness capped twins (VERDICT r7 #3) ----------
# The three costliest still-uncapped co-witness consumers get certified
# bounded-emit twins over the shared capped projection, the same
# cap-folded positional-chunk-join oracle pattern as the round-7 three.
# The exact forms stay registered as the oracle-exact demos.

QUERIES["adamic_adar_scores_capped"] = G.adamic_adar_scores_capped
ORACLE["adamic_adar_scores_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        adj AS (
          SELECT city_key, src_a AS a, src_b AS b FROM cw
          UNION ALL SELECT city_key, src_b AS a, src_a AS b FROM cw
        ), deg AS (
          SELECT city_key, a AS m2, CAST(count(*) AS BIGINT) AS deg
          FROM adj GROUP BY city_key, a
        ), adjc AS (
          -- per-node neighbor cap (VERDICT r9 #3): 2-hop paths ride
          -- truncated lists; degrees/anti-join stay on the full adj
          SELECT city_key, a, b FROM (
            SELECT city_key, a, b, row_number() OVER (
                     PARTITION BY city_key, a ORDER BY b) AS rn
            FROM adj)
          WHERE rn <= {G.PROJ_NEIGHBOR_CAP}
        ), scored AS (
          SELECT h1.city_key, h1.a AS src, h2.b AS rec,
                 CAST(sum(CAST(round(1000000.0 / ln(CAST(d.deg AS DOUBLE)))
                               AS BIGINT)) AS BIGINT) AS s
          FROM adjc h1
          JOIN adjc h2 ON h2.city_key = h1.city_key AND h2.a = h1.b
          JOIN deg d ON d.city_key = h1.city_key AND d.m2 = h1.b
          WHERE h1.a <> h2.b AND d.deg > 1
          GROUP BY h1.city_key, h1.a, h2.b
        ), nond AS (
          SELECT sc.* FROM scored sc
          WHERE NOT EXISTS (
            SELECT 1 FROM adj d2
            WHERE d2.city_key = sc.city_key AND d2.a = sc.src
              AND d2.b = sc.rec)
        )
        SELECT city_key, src, rec,
               round(s / 1000000.0, 6) AS aa_score, CAST(rank AS INT) AS rank
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY city_key, src
                   ORDER BY s DESC, rec ASC) AS rank
          FROM nond)
        WHERE rank <= {G.REC_TOP_N}
    """.replace("{WSQL}", _WITNESS_SQL)

QUERIES["local_clustering_coeff_capped"] = G.local_clustering_coeff_capped
ORACLE["local_clustering_coeff_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        proj AS (SELECT city_key, src_a AS a, src_b AS b FROM cw),
        deg AS (
          SELECT city_key, node, CAST(count(*) AS BIGINT) AS degree
          FROM (SELECT city_key, a AS node FROM proj
                UNION ALL SELECT city_key, b FROM proj)
          GROUP BY city_key, node
        ), tri AS (
          SELECT e1.city_key, e1.a, e1.b, e2.b AS c
          FROM proj e1
          JOIN proj e2 ON e2.city_key = e1.city_key AND e2.a = e1.b
          JOIN proj e3 ON e3.city_key = e1.city_key AND e3.a = e1.a
                      AND e3.b = e2.b
        ), corner AS (
          SELECT city_key, node, CAST(count(*) AS BIGINT) AS n_triangles
          FROM (SELECT city_key, a AS node FROM tri
                UNION ALL SELECT city_key, b FROM tri
                UNION ALL SELECT city_key, c FROM tri)
          GROUP BY city_key, node
        )
        SELECT d.city_key, d.node, d.degree,
               CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles,
               CASE WHEN d.degree >= 2
                    THEN round(2 * coalesce(c.n_triangles, 0)
                               / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
                    ELSE 0.0 END AS clustering_coeff
        FROM deg d LEFT JOIN corner c USING (city_key, node)
    """.replace("{WSQL}", _WITNESS_SQL)

QUERIES["ktruss_edges_capped"] = G.ktruss_edges_capped
ORACLE["ktruss_edges_capped"] = _truss_sql(capped=True)

QUERIES["co_witness_recommendations_capped"] = G.co_witness_recommendations_capped
ORACLE["co_witness_recommendations_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        adj AS (
          SELECT city_key, src_a AS a, src_b AS b FROM cw
          UNION ALL SELECT city_key, src_b AS a, src_a AS b FROM cw
        ), adjc AS (
          -- per-node neighbor cap (VERDICT r9 #3): 2-hop paths ride
          -- truncated lists; the direct-edge anti-join stays on adj
          SELECT city_key, a, b FROM (
            SELECT city_key, a, b, row_number() OVER (
                     PARTITION BY city_key, a ORDER BY b) AS rn
            FROM adj)
          WHERE rn <= {G.PROJ_NEIGHBOR_CAP}
        ), counts AS (
          SELECT h1.city_key, h1.a AS src, h2.b AS rec,
                 CAST(count(DISTINCT h1.b) AS BIGINT) AS shared_partners
          FROM adjc h1
          JOIN adjc h2 ON h2.city_key = h1.city_key AND h2.a = h1.b
          WHERE h1.a <> h2.b
          GROUP BY h1.city_key, h1.a, h2.b
        ), nond AS (
          SELECT c.* FROM counts c
          WHERE NOT EXISTS (
            SELECT 1 FROM adj d
            WHERE d.city_key = c.city_key AND d.a = c.src AND d.b = c.rec)
        )
        SELECT city_key, src, rec, shared_partners, CAST(rank AS INT) AS rank
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY city_key, src
                   ORDER BY shared_partners DESC, rec ASC) AS rank
          FROM nond)
        WHERE rank <= {G.REC_TOP_N}
    """.replace("{WSQL}", _WITNESS_SQL)

QUERIES["tip_decomposition_capped"] = G.tip_decomposition_capped
ORACLE["tip_decomposition_capped"] = _tip_sql(capped=True)


# ---------- round-9: the last three co-witness capped twins (VERDICT r8 #2) ----------
# Every co-witness consumer now has a registered bounded-emit form
# (11/11).  The exact forms stay registered as documented oracle-exact
# demos; EXACT_DEMO_QUERIES below makes that convention machine-checked
# (tests/test_graph_pipeline.py::test_exact_demo_convention_is_closed).

QUERIES["city_triangle_stats_capped"] = G.city_triangle_stats_capped
ORACLE["city_triangle_stats_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        proj AS (SELECT city_key, src_a AS u, src_b AS v FROM cw),
        deg AS (
          SELECT city_key, node, count(*) AS d
          FROM (SELECT city_key, u AS node FROM proj
                UNION ALL SELECT city_key, v AS node FROM proj) t
          GROUP BY city_key, node
        ), tri AS (
          SELECT e1.city_key, CAST(count(*) AS BIGINT) AS n_triangles
          FROM proj e1
          JOIN proj e2 ON e2.city_key = e1.city_key AND e2.u = e1.u AND e2.v > e1.v
          JOIN proj e3 ON e3.city_key = e1.city_key AND e3.u = e1.v AND e3.v = e2.v
          GROUP BY e1.city_key
        ), wed AS (
          SELECT city_key, CAST(sum(d * (d - 1)) AS BIGINT) // 2 AS n_wedges
          FROM deg GROUP BY city_key
        ), ne AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n_proj_edges
          FROM proj GROUP BY city_key
        )
        SELECT ne.city_key, ne.n_proj_edges, w.n_wedges,
               CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
               round(CASE WHEN w.n_wedges > 0
                          THEN 3.0 * coalesce(t.n_triangles, 0) / w.n_wedges
                          ELSE 0.0 END, 6) AS transitivity
        FROM ne
        JOIN wed w ON w.city_key = ne.city_key
        LEFT JOIN tri t ON t.city_key = ne.city_key
    """.replace("{WSQL}", _WITNESS_SQL)

QUERIES["degree_assortativity_capped"] = G.degree_assortativity_capped
ORACLE["degree_assortativity_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        deg AS (
          SELECT city_key, node, count(*) AS d
          FROM (SELECT city_key, src_a AS node FROM cw
                UNION ALL SELECT city_key, src_b AS node FROM cw) t
          GROUP BY city_key, node
        ), ed AS (
          SELECT c.city_key, da.d AS da, db.d AS db
          FROM cw c
          JOIN deg da ON da.city_key = c.city_key AND da.node = c.src_a
          JOIN deg db ON db.city_key = c.city_key AND db.node = c.src_b
        ), agg AS (
          SELECT city_key, count(*) AS m, sum(da + db) AS s1,
                 sum(da * db) AS sxy, sum(da * da + db * db) AS sxx
          FROM ed GROUP BY city_key
        )
        SELECT city_key, CAST(m AS BIGINT) AS n_proj_edges,
               round(CASE WHEN 2 * m * sxx - s1 * s1 <> 0
                          THEN CAST(4 * m * sxy - s1 * s1 AS DOUBLE)
                               / (2 * m * sxx - s1 * s1)
                          ELSE NULL END, 6) AS assortativity
        FROM agg
    """.replace("{WSQL}", _WITNESS_SQL)

QUERIES["contrastive_pairs_capped"] = G.contrastive_pairs_capped
ORACLE["contrastive_pairs_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        adj AS (
          SELECT city_key, src_a AS a, src_b AS b FROM cw
          UNION ALL SELECT city_key, src_b AS a, src_a AS b FROM cw
        ), nodes AS (SELECT DISTINCT city_key, a AS node FROM adj),
        nnc AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n_nodes
          FROM nodes GROUP BY city_key
        ),
        anchors AS (
          SELECT n.city_key, n.node AS anchor
          FROM nodes n JOIN nnc USING (city_key)
          WHERE ('0x' || substr(md5(n.node), 1, 4))::BIGINT * nnc.n_nodes
                < {65536 * G.CONTRAST_ANCHOR_K}
        ),
        pos AS (
          SELECT city_key, anchor, other, 1 AS label, rnk FROM (
            SELECT an.city_key, an.anchor, ad.b AS other,
                   row_number() OVER (
                       PARTITION BY an.city_key, an.anchor
                       ORDER BY md5(concat_ws('|', an.anchor, 'p', ad.b)),
                                ad.b) AS rnk
            FROM anchors an
            JOIN adj ad ON ad.city_key = an.city_key AND ad.a = an.anchor
          ) WHERE rnk <= {G.CONTRAST_POS}
        ),
        neg AS (
          SELECT city_key, anchor, other, 0 AS label, rnk FROM (
            SELECT an.city_key, an.anchor, nd.node AS other,
                   row_number() OVER (
                       PARTITION BY an.city_key, an.anchor
                       ORDER BY md5(concat_ws('|', an.anchor, 'n', nd.node)),
                                nd.node) AS rnk
            FROM anchors an
            JOIN nodes nd ON nd.city_key = an.city_key
                         AND nd.node <> an.anchor
            WHERE NOT EXISTS (
              SELECT 1 FROM adj ad
              WHERE ad.city_key = an.city_key AND ad.a = an.anchor
                AND ad.b = nd.node)
          ) WHERE rnk <= {G.CONTRAST_NEG}
        )
        SELECT city_key, anchor, other, CAST(label AS INT) AS label,
               CAST(rnk AS INT) AS rnk
        FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
    """.replace("{WSQL}", _WITNESS_SQL)


# Two MORE exact-default consumers the convention sweep itself found
# (beyond VERDICT r8 #2's three): city_transitivity and cowitness_lift
# also rode the uncapped projection.  Closed the same way — body
# refactor + capped twin + cap-folded oracle.

QUERIES["city_transitivity_capped"] = G.city_transitivity_capped
ORACLE["city_transitivity_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        proj AS (SELECT city_key, src_a AS a, src_b AS b FROM cw),
        deg AS (
          SELECT city_key, node, CAST(count(*) AS BIGINT) AS degree
          FROM (SELECT city_key, a AS node FROM proj
                UNION ALL SELECT city_key, b FROM proj)
          GROUP BY city_key, node
        ), wed AS (
          SELECT city_key, CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(degree * (degree - 1) // 2) AS BIGINT) AS wedges
          FROM deg GROUP BY city_key
        ), tri AS (
          SELECT e1.city_key, CAST(count(*) AS BIGINT) AS triangles
          FROM proj e1
          JOIN proj e2 ON e2.city_key = e1.city_key AND e2.a = e1.b
          JOIN proj e3 ON e3.city_key = e1.city_key AND e3.a = e1.a
                      AND e3.b = e2.b
          GROUP BY e1.city_key
        )
        SELECT w.city_key, w.n_nodes, w.wedges,
               CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
               round(CASE WHEN w.wedges = 0 THEN NULL
                     ELSE 3.0 * cast(coalesce(t.triangles, 0) as double)
                          / cast(w.wedges as double) END, 6)
                   AS transitivity
        FROM wed w LEFT JOIN tri t USING (city_key)
    """.replace("{WSQL}", _WITNESS_SQL)

QUERIES["cowitness_lift_capped"] = G.cowitness_lift_capped
ORACLE["cowitness_lift_capped"] = f"""
        WITH {_CO_CAPPED_CTES},
        deg AS (
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
    """.replace("{WSQL}", _WITNESS_SQL)


# ---------- round-10: per-node neighbor-cap accounting (VERDICT r9 #3) ----------
# The 2-hop capped consumers (adamic_adar_scores_capped,
# co_witness_recommendations_capped) now truncate each node's adjacency
# list to G.PROJ_NEIGHBOR_CAP before the h1⋈h2 join; this query prices
# every dropped adjacency entry and the expansion bound before/after —
# the no-silent-caps ledger, mirror of co_witness_bucket_stats.

QUERIES["neighbor_cap_stats"] = G.neighbor_cap_stats
ORACLE["neighbor_cap_stats"] = f"""
        WITH {_CO_CAPPED_CTES},
        adj AS (
          SELECT city_key, src_a AS a, src_b AS b FROM cw
          UNION ALL SELECT city_key, src_b AS a, src_a AS b FROM cw
        ), deg AS (
          SELECT city_key, a, CAST(count(*) AS BIGINT) AS deg
          FROM adj GROUP BY city_key, a
        ), adjc AS (
          SELECT city_key, a, b FROM (
            SELECT city_key, a, b, row_number() OVER (
                     PARTITION BY city_key, a ORDER BY b) AS rn
            FROM adj)
          WHERE rn <= {G.PROJ_NEIGHBOR_CAP}
        ), keep AS (
          SELECT city_key, b AS m, CAST(count(*) AS BIGINT) AS keepers
          FROM adjc GROUP BY city_key, b
        ), lst AS (
          SELECT city_key, a AS m, CAST(count(*) AS BIGINT) AS out_deg
          FROM adjc GROUP BY city_key, a
        ), emit AS (
          SELECT CAST(sum(keepers * out_deg) AS BIGINT)
                     AS capped_two_hop_emit
          FROM keep JOIN lst USING (city_key, m)
        ), dstat AS (
          SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(max(deg) AS BIGINT) AS max_proj_degree,
                 CAST(sum(CASE WHEN deg > {G.PROJ_NEIGHBOR_CAP}
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_capped_nodes,
                 CAST(sum(CASE WHEN deg > {G.PROJ_NEIGHBOR_CAP}
                               THEN deg - {G.PROJ_NEIGHBOR_CAP}
                               ELSE 0 END) AS BIGINT)
                     AS dropped_neighbors,
                 CAST(sum(deg * deg) AS BIGINT) AS sum_deg_sq
          FROM deg
        )
        SELECT dstat.*, emit.capped_two_hop_emit FROM dstat, emit
    """.replace("{WSQL}", _WITNESS_SQL)


# The capped-vs-exact registry convention, machine-readable (VERDICT r8
# #3): every registered query whose plan rides the UNCAPPED co-witness
# projection (`co_witness_pairs` / an uncapped `_co_pairs` call) must be
# listed here as a documented oracle-exact demo — each has a `*_capped`
# production twin registered beside it.  A new consumer that silently
# defaults onto the k²/2 exact projection fails
# tests/test_graph_pipeline.py::test_exact_demo_convention_is_closed.
EXACT_DEMO_QUERIES = {
    "co_witness_pairs": "co_witness_pairs_capped",
    "city_triangle_stats": "city_triangle_stats_capped",
    "degree_assortativity": "degree_assortativity_capped",
    "co_witness_recommendations": "co_witness_recommendations_capped",
    "contrastive_pairs": "contrastive_pairs_capped",
    "adamic_adar_scores": "adamic_adar_scores_capped",
    "neighborhood_jaccard": "neighborhood_jaccard_capped",
    "butterfly_stats": "butterfly_stats_capped",
    "local_clustering_coeff": "local_clustering_coeff_capped",
    "rich_club_coefficient": "rich_club_coefficient_capped",
    "tip_decomposition": "tip_decomposition_capped",
    "ktruss_edges": "ktruss_edges_capped",
    "city_transitivity": "city_transitivity_capped",
    "cowitness_lift": "cowitness_lift_capped",
}


# ---------- driver-window ordering (auto-derived, round 7+) ----------
#
# The driver's CORRECTNESS gate certifies the first 50 insertion-order
# entries of QUERIES each round.  Rounds 1-6 hand-pinned this window and
# round 6 shipped with a stale one (the pin landed before CORRECTNESS_r06
# did), so the rotation tripwire in tests/test_driver_window.py went red.
# Per VERDICT r6 #5 the window is now DERIVED at import time from the
# checked-in CORRECTNESS_r*.json history: never-certified oracled queries
# first (priority names, then registry insertion order), so rotation can
# never be stale again.  The tripwire test stays as a backstop.

def _history_rounds(repo_root: str) -> list:
    """[(round_number, rows_dict)] per checked-in CORRECTNESS_r*.json,
    ascending by round.  Empty when no history exists (round 1, or an
    installed copy without the driver artifacts).  The glob pattern is
    shared verbatim with tests/test_driver_window.py — two-digit round
    files (CORRECTNESS_r10.json+) sort numerically here, not lexically."""
    import glob as _glob
    import json as _json
    import re as _re

    out = []
    for path in _glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as fh:
                rows = _json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            out.append((int(m.group(1)), rows))
    out.sort(key=lambda t: t[0])
    return out


def _row_green(v) -> bool:
    return (
        isinstance(v, dict)
        and bool(v.get("rows_match"))
        and bool(v.get("schema_match"))
        and bool(v.get("hash_match"))
    )


def _certification_state(repo_root: str) -> tuple:
    """(certified, last_green_round).

    certified: names whose LATEST driver row is fully green
    (rows+schema+hash).  A red row in a later round drops the name, so a
    regressed query rotates back into the window automatically — the
    simhash_near_pairs r1 precedent needed manual re-windowing under the
    old any-round-green rule.

    last_green_round: name -> most recent round with a fully-green row,
    used to pad the window longest-ago-certified-first once the
    never-certified backlog dips below 50."""
    latest = {}
    last_green = {}
    for rnd, rows in _history_rounds(repo_root):
        for k, v in rows.items():
            green = _row_green(v)
            latest[k] = green
            if green:
                last_green[k] = rnd
    return {k for k, green in latest.items() if green}, last_green


import os

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CERTIFIED, _LAST_GREEN_ROUND = _certification_state(_REPO_ROOT)

# Front-loaded per VERDICT r6 #1: the benched + scale-probed round-6
# additions, then the round-4 scale-probed family; anything here that is
# already certified (or not yet registered) is skipped automatically.
_WINDOW_PRIORITY = [
    "gpd_tail_fit",
    "hurst_rs_daily",
    "rfm_segmentation",
    "dtw_daily_series",
    "cluster_purity",
    "ivf_recall_sweep",
    "allen_interval_relations",
    "pq_distortion_audit",
    "binseg_changepoints",
    "atkinson_index",
    "brown_forsythe_levene",
    "granger_lag1_daily",
    "peak_concurrency",
    "compaction_shards",
    "yule_k",
    "knn_hubness_audit",
    "winsorized_mean_by_type",
    "fano_factor_daily",
    "brier_decomposition",
    "mrl_prefix_recall",
    "dsir_resample",
    # round-7 additions (VERDICT r6 #2): certify the capped consumers
    "neighborhood_jaccard_capped",
    "butterfly_stats_capped",
    "rich_club_coefficient_capped",
]

_backlog = [
    k
    for k in [*_WINDOW_PRIORITY, *QUERIES]
    if k in QUERIES and k in ORACLE and k not in _CERTIFIED
]
_seen = set()
_backlog = [k for k in _backlog if not (k in _seen or _seen.add(k))]
# When the backlog dips below 50, pad with ORACLED certified entries,
# longest-ago-certified first (ties broken by registry insertion order),
# so the window is always exactly 50 live oracle-checkable queries and
# stale certifications get re-verified first.
_insertion_index = {k: i for i, k in enumerate(QUERIES)}
_padding = sorted(
    (k for k in QUERIES if k in ORACLE and k not in set(_backlog)),
    key=lambda k: (_LAST_GREEN_ROUND.get(k, 0), _insertion_index[k]),
)
_DRIVER_WINDOW = (_backlog + _padding)[:50]

assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
_unoracled = [k for k in _DRIVER_WINDOW if k not in ORACLE]
assert not _unoracled, f"driver window entries without oracles: {_unoracled}"
QUERIES = {
    k: QUERIES[k]
    for k in [*_DRIVER_WINDOW, *(k for k in QUERIES if k not in set(_DRIVER_WINDOW))]
}
