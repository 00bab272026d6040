"""Graph/analytics operators — SURVEY.md §2.J, the reference's raison d'être.

J1  per-city witness subgraph: ONE declarative DAG (join + filter + distance
    column) grouped by city_key — not the reference's per-city AQL loop
    (arango_queries.py:145-156).  Fully oracle-checkable.
J2/J3  betweenness centrality + weighted PageRank per city graph, computed
    on the driver (one Arrow collect of the edges, then native numpy
    implementations of the exact networkx algorithms the reference calls,
    arango_queries.py:161-167, city by city) — like the reference, which
    runs networkx in its own process.  Rows-only check + invariant unit
    tests + a networkx comparison on every test city.
J4  normalization ÷ city mean with nan→0 (arango_queries.py:169-175) —
    done per city beside the metrics.
J6  MIN_CITY_SIZE threshold on deduped edge count (arango_queries.py:159).

Testdata mapping: hotspots→supplier, witnesses→customer (distinct node
namespaces 'S<k>' / 'C<k>'), valid witness edges→lineitem⋈orders with
l_returnflag = 'N', city→supplier's nation, coords→deterministic synthetics.
``witness_subgraph`` is the one witness-edge definition: the sync cycle's
witnesses collection, the metrics and every graph query read its persisted
edge set, and ``witness_arcs`` is its distinct (city, src, dst) projection.

Scale: the edge build is one fact-fact shuffle join on orderkey (a hot
orderkey is split by AQE's skew join).  The metrics need no shuffle, but
the driver holds the whole witness edge set and the metric rows: 20k edges
at benchmark scale, 200k (152k metric rows) at sf0.1.  A source whose
witness edges outgrow one driver needs a per-city distributed pass again.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..functions.graphalgs import ArcGraph, betweenness_centrality, hits, pagerank
from ..functions.scalars import city_key, haversine_m, synthetic_lat, synthetic_lon
from ..io import read_table, spread
from ..session import cached, clear_caches

MIN_CITY_SIZE = 5  # reference: etl.py:106-108 MIN_CITY_SIZE env, threshold on edge rows


# perfbench calls this name; it clears every cached entry of the session
clear_edge_cache = clear_caches


# One persisted valid-edge table per (session, sf_dir): the witnesses
# collection write, the combined metrics pass and every graph query are
# consumers of the SAME edge set, so a sync cycle runs the fact-fact join
# once (reference: etl.py imports the witnesses once per cycle and the
# metrics read them back).  At cluster scale this persist is
# MEMORY_AND_DISK by default — a production pipeline would write the edge
# table to storage once per cycle instead.
def witness_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: valid witness edges per city with haversine distance — the AQL
    1-hop traversal (arango_queries.py:147-156) as one join DAG,
    materialized once per (session, sf_dir).  src = challengee hotspot
    ('S<suppkey>'), dst = witness ('C<custkey>'), city = challengee's
    nation; columns city_key, src, dst, distance_m, edge_ts."""
    return cached(spark, "edges", sf_dir, lambda: _build_witness_subgraph(spark, sf_dir))


def _build_witness_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the validity predicate runs AT THE SCAN (parquet pushdown), before
    # spreading
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate")
        .filter(F.col("l_returnflag") == "N")
    )
    # spread: the fact file scans as a handful of row groups locally, which
    # would run the per-edge trig on as many cores; a no-op on a well-split
    # 100 TB source (see io.spread)
    li = spread(li)
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = read_table(spark, sf_dir, "region")

    # city_key is a function of the (tiny) nation×region dim: hash it ONCE
    # per city before the broadcast, not once per edge row after the join —
    # the classic compute-on-the-dim rewrite Catalyst can't do for you
    # (it cannot know md5 commutes with the join)
    city_dim = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "n_nationkey",
            city_key().alias("city_key"),
        )
    )

    dist = haversine_m(
        synthetic_lat(F.col("l_suppkey")),
        synthetic_lon(F.col("l_suppkey")),
        synthetic_lat(F.col("o_custkey")),
        synthetic_lon(F.col("o_custkey")),
    )
    # the one fact-fact shuffle (on orderkey); a hot orderkey is split at
    # runtime by AQE's skew join
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .join(F.broadcast(city_dim), sup.s_nationkey == city_dim.n_nationkey)
        .select(
            "city_key",
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("dst"),
            F.round(dist, 3).alias("distance_m"),
            F.col("l_shipdate").alias("edge_ts"),
        )
        .persist()
    )


def witness_arcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (city_key, src, dst) arcs of :func:`witness_subgraph`
    (not cached itself: each consumer plans the distinct over the
    persisted edges)."""
    return witness_subgraph(spark, sf_dir).select("city_key", "src", "dst").distinct()


_ALL_METRICS_SCHEMA = StructType(
    [
        StructField("city_key", StringType()),
        StructField("address", StringType()),
        StructField("betweenness_centrality", DoubleType()),
        StructField("betweenness_centrality_n", DoubleType()),
        StructField("pagerank", DoubleType()),
        StructField("pagerank_n", DoubleType()),
        StructField("hub_score", DoubleType()),
        StructField("authority_score", DoubleType()),
    ]
)


_ARROW_METRICS_SCHEMA = pa.schema(
    [
        (f.name, pa.string() if isinstance(f.dataType, StringType) else pa.float64())
        for f in _ALL_METRICS_SCHEMA.fields
    ]
)


def _normalised(x: np.ndarray) -> np.ndarray:
    """J4: ``x`` divided by its mean, 0 where the mean is 0 or a value NaN."""
    mean = x.mean()
    return np.nan_to_num(x / mean, nan=0.0) if mean else np.zeros_like(x)


def _city_all_metrics(city: str, edges: pd.DataFrame) -> pa.Table | None:
    """One city's DiGraph metrics exactly as arango_queries.py:159-175,
    plus HITS (J5), from one graph build shared by all three algorithms.
    ``edges`` come oldest first (by edge_ts, then distance_m), so the
    build's last-wins collapse of repeated arcs is the keep-latest dedup
    (E1, the window row_number()==1 on desc ordering).  None when the
    deduped edges are under MIN_CITY_SIZE (J6 — the reference thresholds
    on the witness collection's deduped edges).  Weights = distance_m."""
    g = ArcGraph.from_arcs(
        edges["src"].to_numpy(), edges["dst"].to_numpy(), edges["distance_m"].to_numpy()
    )
    if len(g.src) < MIN_CITY_SIZE:
        return None
    bc = np.nan_to_num(betweenness_centrality(g), nan=0.0)
    pg = np.nan_to_num(pagerank(g), nan=0.0)
    hubs, auths = hits(g)
    city_col = np.full(len(g.nodes), city, dtype=object)
    return pa.Table.from_arrays(
        [city_col, g.nodes, bc, _normalised(bc), pg, _normalised(pg), hubs, auths],
        schema=_ARROW_METRICS_SCHEMA,
    )


# One combined-metrics result per (session, sf_dir), persisted: the two
# registry queries (city_graph_metrics, city_hits) and the writeback are
# projections of the SAME table, computed once per sync cycle rather than
# once per metric family.
def combined_city_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-city graph metrics (J2/J3/J5 + J4 normalization), computed
    on the driver from the witness subgraph and persisted per session."""
    return cached(spark, "metrics", sf_dir, lambda: _build_city_metrics(spark, sf_dir))


def _build_city_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One Arrow collect of the persisted edges, then the per-city numpy
    # work on the driver, like the reference's own networkx process.  A
    # Python-worker stage would cost ~2.2 s to start its workers in a
    # fresh JVM and ~0.2 s per task on top, several times the metric work
    # itself (see the module docstring for the driver-memory bound).
    edges = (
        witness_subgraph(spark, sf_dir)
        .select("city_key", "src", "dst", "distance_m", "edge_ts")
        .toArrow()
        .to_pandas(date_as_object=False)
        .sort_values(["edge_ts", "distance_m"])
    )
    cities = [
        _city_all_metrics(city, arcs) for city, arcs in edges.groupby("city_key", sort=False)
    ]
    cities = [t for t in cities if t is not None]
    table = pa.concat_tables(cities) if cities else _ARROW_METRICS_SCHEMA.empty_table()
    return spark.createDataFrame(table, _ALL_METRICS_SCHEMA).persist()


def city_graph_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3/J4: per-city betweenness + PageRank, normalized by city mean.

    Plan: one Arrow collect of the witness subgraph, then per city on the
    driver the keep-latest dedup per (src,dst) (E1, the semantic the
    reference gets from onDuplicate='ignore' insert order), the graph
    build and the metrics; no shuffle.  Replaces the reference's
    fork-per-city-chunk orchestration (arango_queries.py:184-208) — and
    fixes its chunk-indexing bug by construction (K2).  Projection of the
    shared combined-metrics table (see combined_city_metrics).
    """
    return combined_city_metrics(spark, sf_dir).select(
        "city_key",
        "address",
        "betweenness_centrality",
        "betweenness_centrality_n",
        "pagerank",
        "pagerank_n",
    )


def city_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: HITS hub/authority per city graph — the metric the reference
    reserves schema columns for but leaves commented out
    (arango_queries.py:168, arango_schema.py:59-60).  Projection of the
    shared combined-metrics table (see combined_city_metrics)."""
    return combined_city_metrics(spark, sf_dir).select(
        "city_key", "address", "hub_score", "authority_score"
    )


def city_graph_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled row-skeleton of ``city_graph_metrics`` (J2/J3 coverage
    bridge).  The metrics numerics have no SQL form, but their ROW SURFACE
    is pure SQL: keep-latest dedup (E1) collapses each (src, dst) arc to one
    edge, so the deduped edge count is COUNT(DISTINCT arc) and the node set
    is the union of arc endpoints of every city clearing MIN_CITY_SIZE (J6).
    tests/test_graph_pipeline.py pins metrics rows == this skeleton, so the
    driver's hash check on this query transitively verifies the numpy
    path's grouping/threshold/dedup behavior.

    Plan: the distinct-arc aggregation shuffles on (city, src, dst); the
    surviving-city filter broadcasts back (cities are a tiny domain)."""
    arcs = witness_arcs(spark, sf_dir)
    big = (
        arcs.groupBy("city_key")
        .agg(F.count(F.lit(1)).alias("n_arcs"))
        .filter(F.col("n_arcs") >= MIN_CITY_SIZE)
        .select("city_key")
    )
    return (
        arcs.join(F.broadcast(big), "city_key")
        .select("city_key", F.explode(F.array("src", "dst")).alias("address"))
        .distinct()
    )


def hotspot_writeback_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-checkable surface of ``hotspot_metrics_writeback``: WHICH
    snapshot rows receive metrics (the J4 join + J6 threshold + E1 dedup
    semantics) as a boolean, leaving only the metric numerics to the
    rows-only check.  Only challengee nodes ('S…') land on hotspot docs."""
    from .relational import hotspot_snapshot

    snap = hotspot_snapshot(spark, sf_dir).drop(
        "betweenness_centrality", "pagerank", "rewards_5d", "hub_score", "authority_score"
    )
    s_nodes = (
        city_graph_nodes(spark, sf_dir)
        .filter(F.col("address").startswith("S"))
        .select(F.expr("CAST(substring(address, 2) AS BIGINT)").alias("address"))
        .distinct()
        .withColumn("has_metrics", F.lit(True))
    )
    return snap.join(s_nodes, "address", "left").withColumn(
        "has_metrics", F.coalesce("has_metrics", F.lit(False))
    )


def hotspot_metrics_writeback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 writeback (etl.py steps 5-6, arango_queries.py:176-177, 307-309):
    the hotspot document with ``rewards_5d`` from the D1 aggregate and the
    six J2-J5 metrics from :func:`combined_city_metrics`.  Only challengee
    nodes ('S…') have hotspot docs.  It carries every stored column, so
    ``io.merge_upsert`` onto the synced hotspots is a plain replace."""
    from .relational import hotspot_document, supplier_rewards

    metrics = (
        combined_city_metrics(spark, sf_dir)
        .filter(F.col("address").startswith("S"))
        .withColumn("address", F.expr("substring(address, 2)").cast("bigint"))
        .drop("city_key")
    )
    return hotspot_document(spark, sf_dir, supplier_rewards(spark, sf_dir), metrics)


# Weakly-connected-components convergence bound (same trade-off as
# operators.dedup MAX_CC_ITERS: a deeper city graph raises ConvergenceError).
MAX_WCC_ITERS = 25


def witness_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components per city over the valid witness edge set
    — "which hotspots/witnesses actually form one connected mesh" (the
    structural question behind the reference's per-city centrality loop,
    arango_queries.py:145-167, answered exactly instead of via scores).

    Node ids are integer-encoded (suppkey·2 for 'S' nodes, custkey·2+1 for
    'C' nodes) so min-label propagation folds longs, giving a monotone
    label-sum convergence scalar; the component id decodes back to the
    minimum-encoded member.  Scale shape mirrors dedup_clusters: per
    iteration one join + one min-groupBy over (city_key, node, label)
    triples — edges come from the shared persisted witness table, and
    nothing wider than three scalar columns ever shuffles.  Fully oracled
    (DuckDB recursive CTE).
    """
    enc_src = (F.expr("cast(substring(src, 2) as bigint)") * 2).alias("a")
    enc_dst = (F.expr("cast(substring(dst, 2) as bigint)") * 2 + 1).alias("b")
    edges = (
        witness_subgraph(spark, sf_dir)
        .select("city_key", enc_src, enc_dst)
        .distinct()
    )
    und = edges.unionByName(
        edges.select("city_key", F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    from .cc import propagate_min_labels

    labels = propagate_min_labels(
        und.select("city_key", F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        und,
        keys=["city_key"],
        max_iters=MAX_WCC_ITERS,
    )
    und.unpersist()
    from pyspark.sql import Window

    dec = "IF(%s %% 2 = 0, concat('S', cast(%s div 2 as string)), concat('C', cast(%s div 2 as string)))"
    return labels.select(
        "city_key",
        F.expr(dec % (("node",) * 3)).alias("node"),
        F.expr(dec % (("label",) * 3)).alias("component_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("city_key", "label"))
        .cast("bigint")
        .alias("component_size"),
    )


# Declarative PageRank: fixed iteration count + per-iteration state
# quantization (round 9dp), the same trick that makes k-means
# oracle-checkable — both engines iterate from identical quantized ranks,
# so the joins/aggregations produce identical results.
PR_ITERS = 3
PR_DAMPING = 0.85


def city_pagerank_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-city PageRank as PURE DataFrame joins — the declarative,
    fully-oracled counterpart of the networkx-exact numpy path
    (city_graph_metrics): PR_ITERS damped power-iteration steps with
    uniform edge weights and dangling-mass redistribution, over the valid
    witness edge set.

    Scale shape per iteration: rank/out-degree join (keyed on (city,
    node)), edge-contribution shuffle keyed on (city, dst) with map-side
    partial sums, and a per-city dangling scalar that broadcasts — the
    textbook distributed PageRank data flow, no driver-side graph, no
    Python.  Every iteration localCheckpoints to truncate lineage.
    """
    edges = witness_arcs(spark, sf_dir).persist()
    nodes = (
        edges.select("city_key", F.col("src").alias("node"))
        .unionByName(edges.select("city_key", F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.groupBy("city_key").agg(F.count(F.lit(1)).alias("n"))
    outdeg = edges.groupBy("city_key", "src").agg(F.count(F.lit(1)).alias("deg"))
    base = nodes.join(F.broadcast(nn), "city_key")
    d = PR_DAMPING
    r = base.select(
        "city_key", "node", "n", F.round(F.expr("cast(1 as double) / n"), 9).alias("r")
    ).localCheckpoint()
    for _ in range(PR_ITERS):
        rd = r.join(
            outdeg.withColumnRenamed("src", "node"), ["city_key", "node"]
        ).select("city_key", F.col("node").alias("src"), (F.col("r") / F.col("deg")).alias("w"))
        contrib = (
            edges.join(rd, ["city_key", "src"])
            .groupBy("city_key", F.col("dst").alias("node"))
            .agg(F.sum("w").alias("c"))
        )
        dang = (
            r.join(
                outdeg.withColumnRenamed("src", "node"),
                ["city_key", "node"],
                "left_anti",
            )
            .groupBy("city_key")
            .agg(F.sum("r").alias("dsum"))
        )
        r = (
            base.join(contrib, ["city_key", "node"], "left")
            .join(F.broadcast(dang), "city_key", "left")
            .select(
                "city_key",
                "node",
                "n",
                F.round(
                    (1 - d) / F.col("n")
                    + d * (F.coalesce("c", F.lit(0.0)) + F.coalesce("dsum", F.lit(0.0)) / F.col("n")),
                    9,
                ).alias("r"),
            )
            .localCheckpoint()
        )
    edges.unpersist()
    return r.select("city_key", "node", F.round("r", 6).alias("pagerank"))


HITS_ITERS = 3


def city_hits_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-city HITS as pure DataFrame joins — declarative, fully-oracled
    counterpart of the numpy path (city_hits): HITS_ITERS
    mutual-reinforcement steps with L1 normalization per step, over the
    valid witness edge set.  authority = normalized in-flow of hub scores,
    hub = normalized out-flow of authority scores.

    Same scale shape as city_pagerank_joins: per step, two keyed
    join+aggregate passes (map-side partial sums) and a per-city
    normalizing scalar that broadcasts; 9dp quantization per step pins
    both engines to identical state.
    """
    edges = witness_arcs(spark, sf_dir).persist()
    nodes = (
        edges.select("city_key", F.col("src").alias("node"))
        .unionByName(edges.select("city_key", F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.groupBy("city_key").agg(F.count(F.lit(1)).alias("n"))
    h = nodes.join(F.broadcast(nn), "city_key").select(
        "city_key", "node", F.round(F.expr("cast(1 as double) / n"), 9).alias("h")
    ).localCheckpoint()

    def _flow(scores, score_col, from_col, to_col, out_col):
        """Sum `score_col` over edges from `from_col` endpoints onto
        `to_col` endpoints, L1-normalize per city, quantize."""
        raw = (
            edges.join(
                scores.withColumnRenamed("node", from_col), ["city_key", from_col]
            )
            .groupBy("city_key", F.col(to_col).alias("node"))
            .agg(F.sum(score_col).alias("raw"))
        )
        filled = nodes.join(raw, ["city_key", "node"], "left").select(
            "city_key", "node", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )
        tot = filled.groupBy("city_key").agg(F.sum("raw").alias("tot"))
        return filled.join(F.broadcast(tot), "city_key").select(
            "city_key", "node", F.round(F.col("raw") / F.col("tot"), 9).alias(out_col)
        )

    for _ in range(HITS_ITERS):
        a = _flow(h, "h", "src", "dst", "a").localCheckpoint()
        h = _flow(a, "a", "dst", "src", "h").localCheckpoint()
    return (
        h.join(a, ["city_key", "node"])
        .select(
            "city_key",
            "node",
            F.round("h", 6).alias("hub_score"),
            F.round("a", 6).alias("authority_score"),
        )
    )


# Deterministic synchronous label propagation: fixed iteration count,
# self-vote (each node's own label joins the neighbor multiset — damps the
# bipartite oscillation sync-LPA is known for), tie-break = smallest label
# among the max-count labels.  State is (string label, integer count) only,
# so unlike PageRank/HITS no float quantization is needed for the oracle.
LP_ITERS = 4


def city_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-city community detection over the witness graph via
    deterministic synchronous label propagation — the classic per-city
    analytics family the reference's networkx loop (arango_queries.py:
    145-167) doesn't cover, expressed as pure DataFrame joins and fully
    oracled (unrolled DuckDB CTEs, registry._labelprop_sql).

    Scale shape per iteration: one label-lookup join keyed on (city, nbr),
    one vote count groupBy on (city, node, label) — combiner-friendly —
    and one argmax window keyed on (city, node).  Only three scalar
    columns ever shuffle; every iteration localCheckpoints to truncate
    lineage.  A mega-city shards across tasks by (city, node) like every
    other keyed shuffle here — no per-city single-task collapse.
    """
    from pyspark.sql import Window

    edges = witness_arcs(spark, sf_dir)
    und = (
        edges.select("city_key", F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .unionByName(
            edges.select("city_key", F.col("dst").alias("node"), F.col("src").alias("nbr"))
        )
        .persist()
    )
    lab = (
        und.select("city_key", "node")
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    argmax = Window.partitionBy("city_key", "node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(LP_ITERS):
        nbr_votes = und.join(
            lab.withColumnRenamed("node", "nbr"), ["city_key", "nbr"]
        ).select("city_key", "node", "label")
        lab = (
            nbr_votes.unionByName(lab)  # self-vote
            .groupBy("city_key", "node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(argmax))
            .filter(F.col("rn") == 1)
            .select("city_key", "node", "label")
            .localCheckpoint()
        )
    und.unpersist()
    from pyspark.sql import Window as W2

    return lab.select(
        "city_key",
        "node",
        F.col("label").alias("community_id"),
        F.count(F.lit(1))
        .over(W2.partitionBy("city_key", "label"))
        .cast("bigint")
        .alias("community_size"),
    )


# Scale guard for the oracle-exact demos (VERDICT r9 #7, closing the
# bare-name question): a caller of an undecorated exact-demo name over a
# corpus with real hubs now gets an explicit refusal pointing at the
# bounded twin, instead of silently building a k²/2 plan.  Two CHEAP
# metrics gate it (sizes only, never a pair emit), cached per
# (session, sf_dir): the max witness-group fan-in (bounds per-group pair
# generation) and the max per-node Σ(|g|−1) over its groups (an upper
# bound on EXACT projection degree — the 2-hop Σ deg² driver, which a
# hub in many small groups inflates without ever tripping the fan-in
# metric).  sf0.1 measures 7 / 183; the r9 10× fan-in probe and the hub
# probe both cross the threshold by design and opt in via the env var.
EXACT_DEMO_MAX_FANIN = 1024
ALLOW_EXACT_DEMO_ENV = "SPARK_GRAFT_ALLOW_EXACT_DEMO"


def _fanin_stats(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(max witness fan-in, max projection-degree bound) for the guard."""
    # both stats derive from the session-cached per-witness member
    # arrays (the same table the pair projections explode), so the
    # guard no longer re-scans + re-shuffles the edge table on its
    # own: groups of size 1 have fan-in 1 and projection-degree
    # contribution 0, so restricting to the cached size>=2 groups
    # cannot change the `worst > EXACT_DEMO_MAX_FANIN` decision.
    # (Degenerate-case note, ADVICE r10: a corpus whose witnesses all
    # have fan-in 1 reports max_fanin 0 here — the stat is floored at
    # 0 for fan-in<=1 corpora; the guard decision is unaffected.)
    groups = _witness_groups_cached(spark, sf_dir)
    g = groups.select(
        "city_key", F.size("ss").alias("k"), F.explode("ss").alias("src")
    )
    row = (
        g.groupBy("city_key", "src")
        .agg(F.sum(F.col("k") - 1).alias("pd"))
        .agg(
            F.coalesce(F.max("pd"), F.lit(0)).alias("max_projdeg_bound"),
        )
        .crossJoin(
            groups.agg(
                F.coalesce(F.max(F.size("ss")), F.lit(0)).alias("max_fanin")
            )
        )
        .collect()[0]
    )
    return int(row["max_fanin"]), int(row["max_projdeg_bound"])


def _guard_exact_demo(spark: SparkSession, sf_dir: str, name: str, twin: str) -> None:
    """Refuse to build an exact-demo plan over a hub-bearing corpus
    unless the caller opted in explicitly (ALLOW_EXACT_DEMO_ENV=1)."""
    if os.environ.get(ALLOW_EXACT_DEMO_ENV) == "1":
        return
    mx_fanin, mx_pd = cached(spark, "fanin", sf_dir, lambda: _fanin_stats(spark, sf_dir))
    worst = max(mx_fanin, mx_pd)
    if worst > EXACT_DEMO_MAX_FANIN:
        raise RuntimeError(
            f"{name} is a documented oracle-exact DEMO whose pair/2-hop emit"
            f" is quadratic in hub size; this corpus has witness fan-in"
            f" {mx_fanin} / projection-degree bound {mx_pd}"
            f" (> {EXACT_DEMO_MAX_FANIN}). Use the bounded production twin"
            f" `{twin}` instead, or set {ALLOW_EXACT_DEMO_ENV}=1 to opt in"
            f" explicitly."
        )


def co_witness_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the witness graph onto hotspots: two
    hotspots are co-witnesses when the same witness node saw both, with
    edge weight = number of shared witnesses (the classic one-mode
    projection that turns S→C sightings into an S–S similarity graph).

    Scale shape: single-scan groupBy on the witness side → in-group pair
    generation from the sorted member array (identical shape to the LSH
    bucket pair gen — never a self-join of the edge table), then a
    groupBy on the (sparse) pair key to accumulate shared-witness counts.
    Only (city, src, dst) id triples ever shuffle.  A "celebrity" witness
    with fan-in k emits k·(k−1)/2 pairs in one task; a production corpus
    with unbounded fan-in caps the group exactly like the LSH hot-bucket
    cap (dedup._bucket_pairs max_bucket + lsh_bucket_stats accounting).
    """

    def build() -> DataFrame:
        _guard_exact_demo(
            spark, sf_dir, "co_witness_pairs", "co_witness_pairs_capped"
        )
        return _pairs_from_groups(_witness_groups_cached(spark, sf_dir)).persist()

    return cached(spark, "pairs", sf_dir, build)


CO_WITNESS_MAX_GROUP = 8

# Per-node neighbor cap for the 2-hop consumers of the capped projection
# (VERDICT r9 #3): the group cap bounds each witness GROUP's pair emit,
# but a hub node that co-occurs in many groups still accumulates an
# unbounded PROJECTION degree, and the h1⋈h2 middle-vertex expansion
# pays Σ_m deg(m)² over projection degrees.  The capped 2-hop consumers
# therefore truncate every node's adjacency list to its
# PROJ_NEIGHBOR_CAP smallest neighbor ids (deterministic — a pure
# function of the projection edge set, replicated verbatim by the
# DuckDB oracles via row_number).  The capped expansion through a
# middle m emits keepers(m)·min(deg(m), cap) — keepers(m) ≤ deg(m) is
# how many OTHER nodes retained m — so total emit ≤ cap·|capped
# adjacency| ≤ cap²·n, LINEAR in node count where the uncapped join
# pays Σ deg² (quadratic in hub degree).  Scores/counts UNDERCOUNT for
# projection hubs; every dropped adjacency entry and the exact
# before/after emit are priced by `neighbor_cap_stats` (no silent caps).
PROJ_NEIGHBOR_CAP = 16


def _symmetrized_adjacency(pairs: DataFrame) -> DataFrame:
    """Both-direction (city_key, a, b) adjacency off a pair table whose
    rows are unique with src_a < src_b — so the output is unique per
    (city_key, a, b) and any window over it is deterministic."""
    cw = pairs.select(
        "city_key", F.col("src_a").alias("a"), F.col("src_b").alias("b")
    )
    return cw.unionByName(
        cw.select("city_key", F.col("b").alias("a"), F.col("a").alias("b"))
    )


def _capped_adjacency(adj: DataFrame, cap: int) -> DataFrame:
    """Truncate each node's neighbor list to its `cap` smallest neighbor
    ids — the deterministic per-node analog of the positional group cap.
    One keyed window sort over the (pairs-sized) adjacency; no extra
    scan of any fact table."""
    from pyspark.sql import Window

    w = Window.partitionBy("city_key", "a").orderBy(F.col("b").asc())
    return (
        adj.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )


def _co_witness_pairs_capped_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached capped projection, the cache twin of
    :func:`co_witness_pairs` — the capped consumer family
    (`*_capped` variants below) shares ONE persisted pair table per
    (session, sf_dir) instead of regenerating pairs per consumer."""
    return cached(
        spark,
        ("pairs", CO_WITNESS_MAX_GROUP),
        sf_dir,
        lambda: _pairs_from_groups(
            _witness_groups_cached(spark, sf_dir), CO_WITNESS_MAX_GROUP
        ).persist(),
    )


def co_witness_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of :func:`co_witness_pairs`: in-group pair
    generation capped at CO_WITNESS_MAX_GROUP src-contiguous chunk size
    (VERDICT r5 #3).  A celebrity witness with fan-in k emits
    O(k·CO_WITNESS_MAX_GROUP) pairs instead of k²/2 — the witness-graph
    analog of the MinHash hot-bucket cap (dedup.LSH_MAX_BUCKET) — and
    every dropped pair is counted by :func:`co_witness_bucket_stats`
    (no silent caps).  Weights therefore UNDERCOUNT shared witnesses
    whose fan-in exceeds the cap; pairs that survive keep exact counts
    of their surviving co-sightings.

    Determinism: chunking is by position in the sorted src array, so
    the surviving pair set is a pure function of the edge set.

    Scale shape: identical single-scan group-collect shape as the exact
    form; the cap bounds the worst task's emit count, which is what
    k²/2 breaks at 100 TB fan-ins.
    """
    return _co_witness_pairs_capped_cached(spark, sf_dir)


def co_witness_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Witness-group-size distribution + cap accounting for the co-witness
    projection — the mirror of ``dedup.lsh_bucket_stats`` for
    :func:`co_witness_pairs_capped`: how many witness groups exist, the
    largest fan-in, the exact pair count, and how many pairs a
    CO_WITNESS_MAX_GROUP-capped run generates vs drops.  Cheap by
    construction — sizes only, no pair materialization."""
    edges = witness_arcs(spark, sf_dir)
    sizes = edges.groupBy("city_key", "dst").agg(F.count(F.lit(1)).alias("k"))
    m = CO_WITNESS_MAX_GROUP
    per = sizes.select(
        "k",
        F.expr("k * (k - 1) div 2").alias("all_pairs"),
        F.expr(
            f"(k div {m}) * ({m} * ({m} - 1) div 2) + (k % {m}) * (k % {m} - 1) div 2"
        ).alias("capped_pairs"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("k") >= 2, 1).otherwise(0)).cast("bigint").alias("n_multi_groups"),
        F.max("k").cast("bigint").alias("max_group_size"),
        F.sum("all_pairs").cast("bigint").alias("all_pairs"),
        F.sum("capped_pairs").cast("bigint").alias("capped_pairs"),
        (F.sum("all_pairs") - F.sum("capped_pairs")).cast("bigint").alias("dropped_pairs"),
    )


def neighbor_cap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-degree distribution + per-node neighbor-cap accounting
    for the capped 2-hop consumers (VERDICT r9 #3) — the mirror of
    :func:`co_witness_bucket_stats` for PROJ_NEIGHBOR_CAP: node count,
    the largest projection degree, how many nodes exceed the cap, every
    adjacency entry the truncation drops, and the EXACT h1⋈h2 emit
    before vs after — uncapped Σ_m deg(m)² vs capped
    Σ_m keepers(m)·min(deg(m), cap), where keepers(m) counts the nodes
    that retained m in their truncated list (≤ deg(m), so the capped
    emit is ≤ cap·|capped adjacency| ≤ cap²·n, linear in node count).
    Cheap by construction: keyed counts over the session-cached capped
    pair projection, sizes only, no path materialization."""
    adj = _symmetrized_adjacency(_co_witness_pairs_capped_cached(spark, sf_dir))
    deg = adj.groupBy("city_key", "a").agg(F.count(F.lit(1)).alias("deg"))
    c = PROJ_NEIGHBOR_CAP
    hop = _capped_adjacency(adj, c)
    keep = hop.groupBy("city_key", F.col("b").alias("m")).agg(
        F.count(F.lit(1)).alias("keepers")
    )
    lst = hop.groupBy("city_key", F.col("a").alias("m")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    emit = keep.join(lst, ["city_key", "m"]).agg(
        F.sum(F.expr("keepers * out_deg")).cast("bigint").alias("capped_two_hop_emit")
    )
    return deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.max("deg").cast("bigint").alias("max_proj_degree"),
        F.sum(F.when(F.col("deg") > c, 1).otherwise(0))
        .cast("bigint")
        .alias("n_capped_nodes"),
        F.sum(F.when(F.col("deg") > c, F.col("deg") - c).otherwise(0))
        .cast("bigint")
        .alias("dropped_neighbors"),
        F.sum(F.expr("deg * deg")).cast("bigint").alias("sum_deg_sq"),
    ).crossJoin(F.broadcast(emit))


def witness_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-city graph shape summary: nodes, edges, max/mean degree,
    bipartite density — the monitoring rollup that decides which cities
    get the expensive metrics pass (and catches pathological fan-in
    before it hits pair generation).

    Scale shape: degree counts are combiner-folded keyed aggregations;
    the rollup is |cities| rows.
    """
    edges = witness_arcs(spark, sf_dir)
    deg = (
        edges.select("city_key", F.col("src").alias("node"))
        .unionByName(edges.select("city_key", F.col("dst").alias("node")))
        .groupBy("city_key", "node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    n_edges = edges.groupBy("city_key").agg(F.count(F.lit(1)).alias("n_edges"))
    n_src = edges.select("city_key", "src").distinct().groupBy("city_key").agg(
        F.count(F.lit(1)).alias("n_hotspots")
    )
    n_dst = edges.select("city_key", "dst").distinct().groupBy("city_key").agg(
        F.count(F.lit(1)).alias("n_witnesses")
    )
    return (
        deg.groupBy("city_key")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("deg").cast("bigint").alias("max_degree"),
            F.round(F.avg("deg"), 6).alias("mean_degree"),
        )
        .join(n_edges, "city_key")
        .join(n_src, "city_key")
        .join(n_dst, "city_key")
        .select(
            "city_key",
            "n_nodes",
            "n_edges",
            "n_hotspots",
            "n_witnesses",
            "max_degree",
            "mean_degree",
            F.round(
                F.col("n_edges") / (F.col("n_hotspots") * F.col("n_witnesses")), 6
            ).alias("bipartite_density"),
        )
    )


KCORE_K = 2
MAX_KCORE_ITERS = 30


def witness_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core of each city's witness graph (iterative peeling: drop nodes
    with degree < KCORE_K, recompute, repeat to fixpoint) — the "stable
    mesh" extraction that strips pendant hotspots/witnesses before
    structural analysis.  Degrees count SIGHTINGS (parallel edges), not
    distinct partners: a node survives while it participates in at least
    K witness events among surviving nodes — on this sparse mesh the
    distinct-partner 2-core is empty (most witnesses see exactly one
    hotspot), while the sighting-count core isolates the active kernel.

    Scale shape per round: one combiner-folded degree count + two
    semi-joins to drop edges touching peeled nodes — only (city, node)
    pairs shuffle; localCheckpoint truncates lineage per round, and the
    driver's convergence check is one monotone-decreasing edge count.
    Rows-only under the driver contract (iterative fixpoint); invariants
    (all surviving degrees >= K, subset of input) are pinned in
    tests/test_graph_pipeline.py.
    """
    edges = (
        witness_subgraph(spark, sf_dir)
        .select("city_key", "src", "dst")
        .localCheckpoint()
    )
    prev = edges.count()
    prev_ckpt = edges
    converged = False
    for _ in range(MAX_KCORE_ITERS):
        deg = (
            edges.select("city_key", F.col("src").alias("node"))
            .unionByName(edges.select("city_key", F.col("dst").alias("node")))
            .groupBy("city_key", "node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # keep is consumed by BOTH semi-join sides — checkpoint the
        # node-sized survivor list once so the degree aggregation over
        # the full edge table runs once per round, not per side
        keep = (
            deg.filter(F.col("deg") >= KCORE_K)
            .select("city_key", "node")
            .localCheckpoint()
        )
        edges = (
            edges.join(
                keep.withColumnRenamed("node", "src"), ["city_key", "src"], "left_semi"
            )
            .join(
                keep.withColumnRenamed("node", "dst"), ["city_key", "dst"], "left_semi"
            )
            .localCheckpoint()
        )
        # release the superseded round state (the ADVICE r8 discipline —
        # executor storage holds one edge-set copy, not one per round)
        _release_local_checkpoint(prev_ckpt)
        _release_local_checkpoint(keep)
        prev_ckpt = edges
        cur = edges.count()
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        from .cc import ConvergenceError

        raise ConvergenceError(
            f"k-core peeling did not reach a fixpoint within {MAX_KCORE_ITERS} "
            "iterations; the surviving edge set is not a k-core"
        )
    return edges


def city_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-city triangle census of the co-witness projection graph
    (hotspots joined when they share a witness): triangle count, wedge
    count, and global transitivity 3T/W — the clustering signal that
    separates a meshed deployment from a hub-and-spoke one.  The witness
    graph itself is bipartite (no odd cycles), so triangles live on the
    one-mode projection (see :func:`co_witness_pairs`).

    Scale shape: the classic degree-ordered orientation (Chiba-Nishizeki /
    "node-iterator++").  Each undirected edge {a,b} is oriented from the
    endpoint with the smaller (degree, id) to the larger, which bounds any
    node's out-degree by O(sqrt(m)); wedges are generated by a self-join
    of oriented edges on their source and closed by one more join against
    the oriented edge set.  A hub with degree d therefore contributes to
    wedge GENERATION only via its (few) out-edges — the d² blowup of the
    naive lexicographic orientation never materializes.  Only (city, id,
    id) triples shuffle; counting each triangle exactly once at its
    minimum-order vertex needs no dedup pass.

    Bounded-emit path: :func:`city_triangle_stats_capped` (registered,
    oracled) runs this same body over the CO_WITNESS_MAX_GROUP-capped
    projection; this bare name stays the documented oracle-exact demo
    (VERDICT r8 #2 — `*_capped` = production, bare = demo).
    """
    return _triangle_stats_body(co_witness_pairs(spark, sf_dir))


def _triangle_stats_body(pairs: DataFrame) -> DataFrame:
    """Triangle census over an arbitrary co-witness pair table."""
    cw = pairs.select(
        "city_key", F.col("src_a").alias("a"), F.col("src_b").alias("b")
    )
    deg = (
        cw.select("city_key", F.col("a").alias("node"))
        .unionByName(cw.select("city_key", F.col("b").alias("node")))
        .groupBy("city_key", "node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        cw.join(
            deg.select("city_key", F.col("node").alias("a"), F.col("d").alias("da")),
            ["city_key", "a"],
        )
        .join(
            deg.select("city_key", F.col("node").alias("b"), F.col("d").alias("db")),
            ["city_key", "b"],
        )
        .select(
            "city_key",
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct("a", "b", "db"),
            )
            .otherwise(F.struct(F.col("b").alias("a"), F.col("a").alias("b"), F.col("da").alias("db")))
            .alias("o"),
        )
        .select(
            "city_key",
            F.col("o.a").alias("lo"),
            F.col("o.b").alias("hi"),
            F.col("o.db").alias("hi_d"),
        )
    )
    e1 = e.select("city_key", "lo", F.col("hi").alias("x"), F.col("hi_d").alias("xd"))
    e2 = e.select("city_key", "lo", F.col("hi").alias("y"), F.col("hi_d").alias("yd"))
    wedges = e1.join(e2, ["city_key", "lo"]).filter(
        (F.col("xd") < F.col("yd"))
        | ((F.col("xd") == F.col("yd")) & (F.col("x") < F.col("y")))
    )
    closing = e.select("city_key", F.col("lo").alias("x"), F.col("hi").alias("y"))
    tri = (
        wedges.select("city_key", "x", "y")
        .join(closing, ["city_key", "x", "y"], "left_semi")
        .groupBy("city_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    stats = (
        deg.groupBy("city_key")
        .agg(
            F.sum(F.expr("d * (d - 1)"))
            .cast("bigint")
            .alias("two_wedges"),
        )
        .select("city_key", (F.col("two_wedges") / 2).cast("bigint").alias("n_wedges"))
    )
    n_edges = cw.groupBy("city_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_proj_edges")
    )
    return (
        n_edges.join(stats, "city_key")
        .join(tri, "city_key", "left")
        .select(
            "city_key",
            "n_proj_edges",
            "n_wedges",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.coalesce("n_triangles", F.lit(0)) / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("transitivity"),
        )
    )


def city_triangle_stats_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`city_triangle_stats` over the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r8 #2, closing
    the last exact-only co-witness consumers): the triangle census runs
    on the bounded pair set, so a celebrity witness contributes
    O(k·cap) projection edges instead of k²/2 before the degree-ordered
    wedge join even starts — the join itself keeps the sqrt(m) oriented
    out-degree bound either way, but at 100 TB the exact projection's
    edge COUNT is what breaks first.  Triangle/wedge counts UNDERCOUNT
    relative to the exact census (monotone in the edge set); drops are
    accounted by :func:`co_witness_bucket_stats`.  Scan count over the
    largest fact table: 1 (the session-cached capped pair table)."""
    return _triangle_stats_body(_co_witness_pairs_capped_cached(spark, sf_dir))


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-city degree assortativity of the co-witness projection: the
    Pearson correlation of endpoint degrees over edges (Newman 2002) —
    positive when well-connected hotspots preferentially co-witness with
    each other (rich club), negative for hub-and-spoke deployments.

    The correlation over the symmetrized edge list reduces to FOUR
    integer aggregates per city — m, Σ(du+dv), Σ(du·dv), Σ(du²+dv²) —
    so the whole statistic is exact-integer arithmetic until one final
    double division: bit-identical across engines, no float accumulation
    order to worry about.  (At extreme degree scale the bigint products
    would move to decimal(38,0); degrees here are bounded by city size.)

    Scale shape: one degree aggregation + two keyed joins to attach
    endpoint degrees + one combiner-folded per-city rollup; only (city,
    node, degree) triples shuffle.  r = (4m·Σxy − S²) / (2m·Σx² − S²)
    over the u<v edge list, S = Σ(du+dv).

    Bounded-emit path: :func:`degree_assortativity_capped` (registered,
    oracled) runs this same body over the capped projection; this bare
    name stays the documented oracle-exact demo (VERDICT r8 #2 —
    `*_capped` = production, bare = demo).
    """
    return _assortativity_body(co_witness_pairs(spark, sf_dir))


def _assortativity_body(pairs: DataFrame) -> DataFrame:
    """Projection-degree assortativity over an arbitrary pair table."""
    cw = pairs.select(
        "city_key", F.col("src_a").alias("a"), F.col("src_b").alias("b")
    )
    deg = (
        cw.select("city_key", F.col("a").alias("node"))
        .unionByName(cw.select("city_key", F.col("b").alias("node")))
        .groupBy("city_key", "node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        cw.join(
            deg.select("city_key", F.col("node").alias("a"), F.col("d").alias("da")),
            ["city_key", "a"],
        )
        .join(
            deg.select("city_key", F.col("node").alias("b"), F.col("d").alias("db")),
            ["city_key", "b"],
        )
    )
    agg = e.groupBy("city_key").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("da") + F.col("db")).alias("s1"),
        F.sum(F.col("da") * F.col("db")).alias("sxy"),
        F.sum(F.col("da") * F.col("da") + F.col("db") * F.col("db")).alias("sxx"),
    )
    num = 4 * F.col("m") * F.col("sxy") - F.col("s1") * F.col("s1")
    den = 2 * F.col("m") * F.col("sxx") - F.col("s1") * F.col("s1")
    return agg.select(
        "city_key",
        F.col("m").cast("bigint").alias("n_proj_edges"),
        F.round(
            F.when(den != 0, num / den).otherwise(F.lit(None).cast("double")), 6
        ).alias("assortativity"),
    )


def degree_assortativity_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`degree_assortativity` over the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r8 #2): the
    four per-city integer moments (m, Σ(du+dv), Σ(du·dv), Σ(du²+dv²))
    derive from the bounded pair set, so the statistic describes the
    capped graph consistently — degrees AND edges both come from the
    same projection, exactly like :func:`rich_club_coefficient_capped`.
    The celebrity k²/2 emit is bounded at O(k·cap); drops accounted by
    :func:`co_witness_bucket_stats`.  Arithmetic stays exact-integer
    until the single final division, same as the exact form."""
    return _assortativity_body(_co_witness_pairs_capped_cached(spark, sf_dir))


REC_TOP_N = 5


def co_witness_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friend-of-friend recommendations on the co-witness projection: for
    each hotspot, the top REC_TOP_N non-adjacent hotspots ranked by how
    many co-witness partners they share (shared desc, id asc — fully
    deterministic) — the classic 2-hop link-prediction query (common
    neighbors) every graph engine ships.

    Scale shape: the 2-hop expansion self-joins the symmetrized adjacency
    on the middle vertex — fan-out is Σ deg(m)², so a production run caps
    or samples celebrity middles exactly like the LSH hot bucket (the
    projection build upstream already bounds fan-in); the distinct-partner
    count and per-source rank window are keyed shuffles on (city, src);
    direct edges are removed with an anti-join, never a filter over a
    materialized cross product.  Only id triples shuffle.
    """
    return _co_witness_recs_body(co_witness_pairs(spark, sf_dir))


def co_witness_recommendations_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`co_witness_recommendations`: rides the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r7 #3), so both
    the projection build AND the Σ deg(m)² middle-vertex expansion are
    bounded: the group cap bounds per-group pair emit, and (VERDICT r9
    #3) each node's neighbor list is additionally truncated to
    PROJ_NEIGHBOR_CAP before the h1⋈h2 join, so a projection hub
    spanning many groups cannot re-inflate the expansion
    (≤ cap·|capped adjacency|, linear in node count; exact before/after
    emit priced by :func:`neighbor_cap_stats`).
    Counts UNDERCOUNT for fan-ins above either cap (group-cap drops
    accounted by :func:`co_witness_bucket_stats`); direct-edge removal
    stays exact.  Scan count over the largest fact table: 1 (the
    session-cached capped pair table)."""
    return _co_witness_recs_body(
        _co_witness_pairs_capped_cached(spark, sf_dir),
        neighbor_cap=PROJ_NEIGHBOR_CAP,
    )


def _co_witness_recs_body(
    pairs: DataFrame, neighbor_cap: int | None = None
) -> DataFrame:
    """Common-neighbor recommendation scoring over an arbitrary
    co-witness pair table — shared by the exact demo (neighbor_cap=None)
    and the capped form (PROJ_NEIGHBOR_CAP).  With a cap, 2-hop paths
    ride per-node truncated neighbor lists; the direct-edge anti-join
    stays exact."""
    from pyspark.sql import Window

    adj = _symmetrized_adjacency(pairs)
    # checkpoint the capped adjacency once for its two hop consumers
    # (same rationale as _adamic_adar_body)
    hop = (
        adj
        if neighbor_cap is None
        else _capped_adjacency(adj, neighbor_cap).localCheckpoint()
    )
    h1 = hop.select("city_key", F.col("a").alias("src"), F.col("b").alias("m"))
    h2 = hop.select("city_key", F.col("a").alias("m"), F.col("b").alias("rec"))
    counts = (
        h1.join(h2, ["city_key", "m"])
        .filter(F.col("src") != F.col("rec"))
        .groupBy("city_key", "src", "rec")
        .agg(F.count_distinct(F.col("m")).cast("bigint").alias("shared_partners"))
    )
    direct = adj.select("city_key", F.col("a").alias("src"), F.col("b").alias("rec"))
    w = Window.partitionBy("city_key", "src").orderBy(
        F.col("shared_partners").desc(), F.col("rec").asc()
    )
    return (
        counts.join(direct, ["city_key", "src", "rec"], "left_anti")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= REC_TOP_N)
    )


# Declarative Brandes: bounded BFS radius (= observed max diameter at the
# test SFs; beyond it the result is radius-bounded betweenness, still
# deterministic) and a deterministic md5 source sample (Brandes-Pich).
BC_LEVELS = 4
# per-city source BUDGET: a node is a source iff its 16-bit md5 prefix
# falls below 65536*K/n — an exact integer compare (md5_16 * n < 65536*K)
# that keeps ~min(n, K) sources per city, making BFS state O(K·n) LINEAR
# in city size instead of the quadratic n²/const a fixed sampling
# fraction gives (a 10× bigger city did 100× the work; now 10×).
# K=16 (was 64, VERDICT r3 #5): this query is the CORRECTNESS-HARNESS
# mirror of the numpy production path (city_graph_metrics), not
# a production query — the budget is sized so the sf0.1 probe stays
# well under 30 s while the oracle compare remains bit-exact (the
# DuckDB twin rebuilds from this same constant).
BC_SRC_K = 16
# dependency deltas accumulate in integer NANO-units so every sum is
# exact bigint arithmetic — order-independent, unlike float partial sums
BC_SCALE = 1_000_000_000


def city_betweenness_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-city betweenness centrality as PURE DataFrame joins — the
    declarative, fully-oracled counterpart of the numpy Brandes
    path (city_graph_metrics), completing the oracled-twin trio beside
    city_pagerank_joins and city_hits_joins.

    Exact Brandes (1 BFS per source, sigma path counts, backward
    dependency accumulation) with two scale knobs, both deterministic:
    sources are a per-city BUDGET of ~min(n, BC_SRC_K) nodes chosen by an
    exact integer md5 threshold (the Brandes-Pich estimator with a hash
    sample instead of an RNG — and a budget instead of a fraction, so
    work stays LINEAR in city size), and BFS unrolls BC_LEVELS levels
    (>= the witness graphs' diameter at the tested SFs, so the
    truncation is vacuous there).  Each per-term
    dependency sigma_v/sigma_w * (1 + delta_w) is rounded to integer
    nano-units BEFORE summation, so every aggregation in both engines is
    exact integer arithmetic — no float-sum order sensitivity anywhere.

    Scale shape: BFS state is (city, source, node, sigma) rows keyed on
    (city, source, node) — the frontier expansion is one edge join +
    map-side-combinable sum per level, the visited check an anti-join;
    the backward pass is the same joins reversed.  Work is
    O(sources x edges) per level — the sampling knob, not a plan change,
    is what keeps a mega-city affordable, exactly like the numpy
    path's Brandes-Pich switch (functions/graphalgs.py).  Each level
    localCheckpoints to truncate lineage.
    """
    edges = witness_arcs(spark, sf_dir)
    # bipartite (S* -> C*): the symmetric union cannot duplicate arcs
    und = edges.select(
        "city_key", F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionByName(
        edges.select("city_key", F.col("dst").alias("a"), F.col("src").alias("b"))
    ).persist()
    nodes = und.select("city_key", F.col("a").alias("node")).distinct()
    nn = nodes.groupBy("city_key").agg(F.count(F.lit(1)).alias("n_nodes"))
    sources = (
        nodes.join(F.broadcast(nn), "city_key")
        .filter(
            F.expr(
                "cast(conv(substring(md5(node), 1, 4), 16, 10) as bigint)"
                f" * n_nodes < {65536 * BC_SRC_K}"
            )
        )
        .drop("n_nodes")
    )
    visited = sources.select(
        "city_key",
        F.col("node").alias("s"),
        F.col("node").alias("v"),
        F.lit(0).alias("dist"),
        F.lit(1).cast("bigint").alias("sigma"),
    ).localCheckpoint()
    frontier = visited
    levels = {0: frontier}
    for lvl in range(1, BC_LEVELS + 1):
        grown = (
            frontier.select(
                F.col("city_key").alias("f_ck"), "s", F.col("v").alias("f_v"), "sigma"
            )
            .join(und, (F.col("f_ck") == und.city_key) & (F.col("f_v") == und.a))
            .select("city_key", "s", F.col("b").alias("w"), "sigma")
            .groupBy("city_key", "s", "w")
            .agg(F.sum("sigma").alias("sigma"))
        )
        new = (
            grown.withColumnRenamed("w", "v")
            .join(visited.select("city_key", "s", "v"), ["city_key", "s", "v"], "left_anti")
            .withColumn("dist", F.lit(lvl))
            .select("city_key", "s", "v", "dist", "sigma")
            .localCheckpoint()
        )
        visited = visited.unionByName(new)
        frontier = new
        levels[lvl] = new
    # backward dependency accumulation in integer nano-units
    delta = levels[BC_LEVELS].select(
        "city_key", "s", "v", "sigma", F.lit(0).cast("bigint").alias("d")
    )
    acc = [delta]
    for lvl in range(BC_LEVELS - 1, 0, -1):
        cur = levels[lvl]
        succ = (
            cur.select(
                F.col("city_key").alias("f_ck"), "s", "v",
                F.col("v").alias("f_v"), "sigma",
            )
            .join(und, (F.col("f_ck") == und.city_key) & (F.col("f_v") == und.a))
            .select("city_key", "s", "v", "sigma", F.col("b").alias("w"))
            .join(
                delta.select(
                    "city_key", "s", F.col("v").alias("w"),
                    F.col("sigma").alias("sigma_w"), F.col("d").alias("d_w"),
                ),
                ["city_key", "s", "w"],
            )
            .groupBy("city_key", "s", "v")
            .agg(
                F.sum(
                    F.round(
                        (F.col("sigma").cast("double") / F.col("sigma_w"))
                        * (F.lit(float(BC_SCALE)) + F.col("d_w"))
                    ).cast("bigint")
                ).alias("d")
            )
        )
        delta = (
            cur.join(succ, ["city_key", "s", "v"], "left")
            .select(
                "city_key", "s", "v", "sigma",
                F.coalesce("d", F.lit(0)).cast("bigint").alias("d"),
            )
            .localCheckpoint()
        )
        acc.append(delta)
    all_delta = acc[0]
    for d in acc[1:]:
        all_delta = all_delta.unionByName(d)
    per_node = all_delta.groupBy("city_key", F.col("v").alias("node")).agg(
        F.sum("d").alias("dsum")
    )
    out = nodes.join(per_node, ["city_key", "node"], "left").select(
        "city_key",
        "node",
        F.round(F.coalesce("dsum", F.lit(0)) / F.lit(2.0 * BC_SCALE), 6).alias("bc"),
    )
    und.unpersist()
    return out


# DeepWalk-style corpus generation: walks per sampled start node, chosen
# by md5 argmin — deterministic "randomness", reproducible across engines
WALK_K = 32  # per-city start-node budget (md5 threshold, like BC_SRC_K)
WALK_N = 2   # walks per start node
WALK_LEN = 3  # steps per walk


def witness_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph→corpus generation (the DeepWalk/node2vec data stage): WALK_N
    walks of WALK_LEN steps from a budgeted sample of start nodes per
    city, each step moving to the neighbor with the MINIMUM
    md5(start|walk|step|neighbor) — a deterministic stand-in for the
    uniform transition that is reproducible across engines and reruns,
    which an RNG walk can never be.  The emitted paths are the training
    sentences a skip-gram embedding trains on.

    Scale shape: walk state is one row per active walk; each step is one
    adjacency join keyed on (city, cur) plus a per-walk argmin window —
    O(walks × avg_degree) rows per step, independent of graph size
    beyond the sampled frontier.  The start budget uses the same exact
    integer md5 threshold as city_betweenness_joins, so a mega-city emits
    ~WALK_K walks, not n.
    """
    from pyspark.sql import Window

    edges = witness_arcs(spark, sf_dir)
    und = edges.select(
        "city_key", F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionByName(
        edges.select("city_key", F.col("dst").alias("a"), F.col("src").alias("b"))
    ).persist()
    nodes = und.select("city_key", F.col("a").alias("node")).distinct()
    nn = nodes.groupBy("city_key").agg(F.count(F.lit(1)).alias("n_nodes"))
    starts = (
        nodes.join(F.broadcast(nn), "city_key")
        .filter(
            F.expr(
                "cast(conv(substring(md5(node), 1, 4), 16, 10) as bigint)"
                f" * n_nodes < {65536 * WALK_K}"
            )
        )
        .drop("n_nodes")
    )
    widx = spark.range(WALK_N).select(F.col("id").cast("int").alias("widx"))
    walks = starts.crossJoin(F.broadcast(widx)).select(
        "city_key",
        F.col("node").alias("start"),
        "widx",
        F.col("node").alias("cur"),
        F.col("node").alias("path"),
    )
    for step in range(1, WALK_LEN + 1):
        cand = (
            walks.select(
                F.col("city_key").alias("w_ck"), "start", "widx",
                F.col("cur").alias("w_cur"), "path",
            )
            .join(und, (F.col("w_ck") == und.city_key) & (F.col("w_cur") == und.a))
            .select(
                "city_key", "start", "widx", "path", F.col("b").alias("nxt"),
                F.md5(
                    F.concat_ws("|", "start", "widx", F.lit(step), F.col("b"))
                ).alias("h"),
            )
        )
        w_pick = Window.partitionBy("city_key", "start", "widx").orderBy("h", "nxt")
        walks = (
            cand.withColumn("r", F.row_number().over(w_pick))
            .filter(F.col("r") == 1)
            .select(
                "city_key", "start", "widx",
                F.col("nxt").alias("cur"),
                F.concat_ws(">", "path", "nxt").alias("path"),
            )
            .localCheckpoint()
        )
    return walks.select("city_key", "start", "widx", "path")


# contrastive sampling over the co-witness projection
CONTRAST_ANCHOR_K = 24  # per-city anchor budget (md5 threshold)
CONTRAST_POS = 3        # positives per anchor
CONTRAST_NEG = 3        # negatives per anchor


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair sampling over the co-witness graph —
    the data stage of graph representation learning (node2vec/GraphSAGE
    negatives): for each budgeted anchor hotspot, up to CONTRAST_POS
    md5-ranked co-witness neighbors as positives (label 1) and
    CONTRAST_NEG md5-ranked same-city NON-neighbors as negatives
    (label 0).  Deterministic ranking replaces the RNG so the sample is
    reproducible across engines and epochs pair with epoch_shuffle.

    Scale shape: anchors are a per-city budget (same integer md5
    threshold as the walks/betweenness sources), so the negative
    candidate pool is O(anchors × city) not O(n²); negatives form via
    anchor×nodes join minus an anti-join on the adjacency; all ranking
    windows are keyed per anchor.  Only id pairs shuffle.

    Bounded-emit path: :func:`contrastive_pairs_capped` (registered,
    oracled) runs this same body over the capped projection; this bare
    name stays the documented oracle-exact demo (VERDICT r8 #2 —
    `*_capped` = production, bare = demo).
    """
    return _contrastive_pairs_body(co_witness_pairs(spark, sf_dir))


def _contrastive_pairs_body(pairs: DataFrame) -> DataFrame:
    """Contrastive pos/neg sampling over an arbitrary pair table."""
    from pyspark.sql import Window

    cw = pairs.select(
        "city_key", F.col("src_a").alias("a"), F.col("src_b").alias("b")
    )
    # no persist: the build-time persist/unpersist pair never survived to
    # an action (same no-op class as the adamic body — review find, r10)
    adj = cw.unionByName(
        cw.select("city_key", F.col("b").alias("a"), F.col("a").alias("b"))
    )
    nodes = adj.select("city_key", F.col("a").alias("node")).distinct()
    nn = nodes.groupBy("city_key").agg(F.count(F.lit(1)).alias("n_nodes"))
    anchors = (
        nodes.join(F.broadcast(nn), "city_key")
        .filter(
            F.expr(
                "cast(conv(substring(md5(node), 1, 4), 16, 10) as bigint)"
                f" * n_nodes < {65536 * CONTRAST_ANCHOR_K}"
            )
        )
        .select("city_key", F.col("node").alias("anchor"))
    )
    w_pos = Window.partitionBy("city_key", "anchor").orderBy("h", "other")
    pos = (
        anchors.join(
            adj.select("city_key", F.col("a").alias("anchor"), F.col("b").alias("other")),
            ["city_key", "anchor"],
        )
        .withColumn("h", F.md5(F.concat_ws("|", "anchor", F.lit("p"), "other")))
        .withColumn("rnk", F.row_number().over(w_pos))
        .filter(F.col("rnk") <= CONTRAST_POS)
        .select("city_key", "anchor", "other", F.lit(1).alias("label"), "rnk")
    )
    neg_cand = (
        anchors.join(nodes, "city_key")
        .filter(F.col("node") != F.col("anchor"))
        .select("city_key", "anchor", F.col("node").alias("other"))
        .join(
            adj.select("city_key", F.col("a").alias("anchor"), F.col("b").alias("other")),
            ["city_key", "anchor", "other"],
            "left_anti",
        )
    )
    neg = (
        neg_cand.withColumn("h", F.md5(F.concat_ws("|", "anchor", F.lit("n"), "other")))
        .withColumn("rnk", F.row_number().over(w_pos))
        .filter(F.col("rnk") <= CONTRAST_NEG)
        .select("city_key", "anchor", "other", F.lit(0).alias("label"), "rnk")
    )
    out = pos.unionByName(neg).select(
        "city_key", "anchor", "other", F.col("label").cast("int").alias("label"),
        F.col("rnk").cast("int").alias("rnk"),
    )
    return out


def contrastive_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`contrastive_pairs` over the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r8 #2): the
    anchor budget already bounds emit per anchor, but the ADJACENCY
    build the positives/negatives sample against is the projection
    itself — capping it bounds the celebrity witness's k²/2 pair
    materialization at O(k·cap).  Positives sample from the capped
    neighbor set (an anchor may see fewer, never different-ranked,
    positives than the exact form); negatives gain the dropped
    cross-chunk pairs as candidates.  Drops accounted by
    :func:`co_witness_bucket_stats`."""
    return _contrastive_pairs_body(_co_witness_pairs_capped_cached(spark, sf_dir))


def adamic_adar_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the co-witness projection — the
    canonical refinement of raw common-neighbor counting
    (co_witness_recommendations): each shared partner m contributes
    1/ln(deg(m)) instead of 1, down-weighting promiscuous middle nodes
    that connect everyone and predict nothing.  Top REC_TOP_N
    non-adjacent candidates per hotspot by score.

    Scale shape: identical join graph to the common-neighbor form (2-hop
    middle-vertex self-join, anti-join removes direct edges) plus one
    broadcast-joined degree table.  Each 1/ln(deg) term rounds to integer
    MICRO-units before summation (the city_betweenness_joins trick), so
    the score aggregation is exact bigint arithmetic — float partial sums
    are order-sensitive and could flip rank order between engines.
    """
    return _adamic_adar_body(co_witness_pairs(spark, sf_dir))


def adamic_adar_scores_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`adamic_adar_scores`: rides the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r7 #3), so a
    celebrity witness bounds projection-pair generation at O(k·cap)
    instead of k²/2 — and because the 2-hop middle-vertex expansion
    fans out along projection edges, its worst-case emit is bounded by
    the capped projection degree too.  Scores UNDERCOUNT for fan-ins
    above the cap (drops accounted by :func:`co_witness_bucket_stats`);
    within the surviving projection the arithmetic is the exact form's.
    Scan count over the largest fact table: 1 (the session-cached capped
    pair table; degrees derive from the projection itself).

    Scale term closed this round (VERDICT r9 #3): the 2-hop expansion
    pays Σ_m deg(m)² over PROJECTION degrees, which the group cap does
    NOT bound for a hub node spanning many groups — so this form also
    truncates each node's neighbor list to PROJ_NEIGHBOR_CAP before the
    h1⋈h2 join (expansion ≤ cap·|capped adjacency|, linear in node
    count; exact before/after emit priced by
    :func:`neighbor_cap_stats`).  Middle-vertex WEIGHTS still use the
    exact projection degree and direct-edge removal stays exact — only
    path ENUMERATION is truncated.  Measured at 10× fan-in (BASELINE.md
    round-9 fan-in probe) the group cap alone held 12.3× wall for 38×
    edges; the hub-heavy direction that probe did not stress is covered
    by the round-10 hub probe (tools/scale_probe_r10_hub.py)."""
    return _adamic_adar_body(
        _co_witness_pairs_capped_cached(spark, sf_dir),
        neighbor_cap=PROJ_NEIGHBOR_CAP,
    )


def _adamic_adar_body(
    pairs: DataFrame, neighbor_cap: int | None = None
) -> DataFrame:
    """Adamic-Adar scoring over an arbitrary co-witness pair table —
    shared by the exact demo (neighbor_cap=None) and the capped
    registered form (PROJ_NEIGHBOR_CAP).  With a cap, 2-hop paths are
    enumerated over per-node truncated neighbor lists; degrees (the
    1/ln(deg) weights) and the direct-edge anti-join stay exact."""
    from pyspark.sql import Window

    # NOTE: no persist here — a lazily-returned plan cannot hold a cache
    # across the call boundary (the old persist/unpersist pair dropped
    # the marker at build time, before any action ever materialized it —
    # review find, round 10).  The symmetrize union is a cheap projection
    # of the already-persisted pair table, so letting the four consumers
    # (deg, h1, h2, direct) recompute it rides that cache instead.
    adj = _symmetrized_adjacency(pairs)
    deg = adj.groupBy("city_key", F.col("a").alias("m")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # the capped adjacency is consumed twice (h1 and h2) and costs a
    # keyed window shuffle to build — checkpoint it once (≤ cap·n rows,
    # node-linear) instead of paying the truncation pass per hop side;
    # the uncapped demo's hop is a free projection of the cached pairs
    hop = (
        adj
        if neighbor_cap is None
        else _capped_adjacency(adj, neighbor_cap).localCheckpoint()
    )
    h1 = hop.select("city_key", F.col("a").alias("src"), F.col("b").alias("m"))
    h2 = hop.select("city_key", F.col("a").alias("m"), F.col("b").alias("rec"))
    scored = (
        h1.join(h2, ["city_key", "m"])
        .filter(F.col("src") != F.col("rec"))
        .join(deg, ["city_key", "m"])
        .filter(F.col("deg") > 1)
        .groupBy("city_key", "src", "rec")
        .agg(
            F.sum(
                F.round(1_000_000.0 / F.log(F.col("deg").cast("double")))
                .cast("bigint")
            ).alias("s")
        )
    )
    direct = adj.select("city_key", F.col("a").alias("src"), F.col("b").alias("rec"))
    w = Window.partitionBy("city_key", "src").orderBy(
        F.col("s").desc(), F.col("rec").asc()
    )
    out = (
        scored.join(direct, ["city_key", "src", "rec"], "left_anti")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= REC_TOP_N)
        .select(
            "city_key", "src", "rec",
            F.round(F.col("s") / 1_000_000.0, 6).alias("aa_score"), "rank",
        )
    )
    return out


def witness_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal graph churn per city: split the witness sightings at the
    integer midpoint of the edge-timestamp range, classify every DISTINCT
    (src, dst) edge as early-only (lost), late-only (new), or stable
    (seen both halves), and report per-city counts + churn rate — the
    topology-drift scorecard that says whether last cycle's centrality
    scores are still trustworthy (the `snapshot_diff` idea applied to
    graph structure).

    Determinism: the split point is exact integer epoch-µs arithmetic;
    per-edge half flags fold with MAX (order-insensitive); all counts
    exact; one rounded division per city.

    Scale shape: one keyed aggregation per distinct edge (the same
    (city, src, dst) key the dedup pass uses), then a city-keyed rollup;
    the 1-row span broadcast is the only other input.
    """
    edges = witness_subgraph(spark, sf_dir).select(
        # l_shipdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is identity
        "city_key", "src", "dst",
        F.unix_micros(F.col("edge_ts").cast("timestamp")).alias("us"),
    )
    span = edges.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid")
    )
    per_edge = (
        edges.crossJoin(F.broadcast(span))
        .groupBy("city_key", "src", "dst")
        .agg(
            F.max(F.expr("IF(us < mid, 1, 0)")).alias("early"),
            F.max(F.expr("IF(us >= mid, 1, 0)")).alias("late"),
        )
    )
    return (
        per_edge.groupBy("city_key")
        .agg(
            F.sum(F.expr("IF(early = 1 AND late = 0, 1L, 0L)")).cast("bigint").alias("n_lost"),
            F.sum(F.expr("IF(early = 0 AND late = 1, 1L, 0L)")).cast("bigint").alias("n_new"),
            F.sum(F.expr("IF(early = 1 AND late = 1, 1L, 0L)")).cast("bigint").alias("n_stable"),
        )
        .select(
            "city_key",
            "n_lost",
            "n_new",
            "n_stable",
            F.round(
                F.expr("(n_lost + n_new) / cast(n_lost + n_new + n_stable as double)"),
                6,
            ).alias("churn_rate"),
        )
    )


def neighborhood_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-equivalence scoring: Jaccard similarity of two
    hotspots' witness NEIGHBORHOODS, |N(a)∩N(b)| / |N(a)∪N(b)| — near 1
    means the pair is seen by the same witnesses (co-located or
    duplicated hardware), the role-detection complement of the
    shared-count ranking in `co_witness_recommendations`.

    Scale shape: the intersection IS the co-witness pair weight (already
    computed group-locally, never via an edge self-join); degrees are one
    keyed count off the distinct edge set; two broadcast-sized joins by
    (city, node).  All-integer inputs, one rounded division.
    """
    pairs = co_witness_pairs(spark, sf_dir)
    return _neighborhood_jaccard_body(spark, sf_dir, pairs)


def _neighborhood_jaccard_body(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Jaccard scoring over an arbitrary co-witness pair table —
    shared by the exact and the capped registered forms."""
    edges = witness_arcs(spark, sf_dir)
    deg = edges.groupBy("city_key", "src").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(
        "city_key", F.col("src").alias("src_a"), F.col("d").alias("deg_a")
    )
    db = deg.select(
        "city_key", F.col("src").alias("src_b"), F.col("d").alias("deg_b")
    )
    return (
        pairs.join(da, ["city_key", "src_a"])
        .join(db, ["city_key", "src_b"])
        .select(
            "city_key",
            "src_a",
            "src_b",
            F.col("shared_witnesses").cast("bigint").alias("shared_witnesses"),
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            F.round(
                F.expr(
                    "shared_witnesses"
                    " / cast(deg_a + deg_b - shared_witnesses as double)"
                ),
                6,
            ).alias("jaccard"),
        )
    )


def neighborhood_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`neighborhood_jaccard`: rides the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r6 #2), so a
    celebrity witness bounds its emit at O(k·cap) instead of k²/2.
    Intersections UNDERCOUNT for fan-ins above the cap (pairs split
    across chunks are not re-merged; the drop is accounted by
    :func:`co_witness_bucket_stats`); degrees stay exact, so the capped
    jaccard is a deterministic lower bound of the exact one."""
    pairs = _co_witness_pairs_capped_cached(spark, sf_dir)
    return _neighborhood_jaccard_body(spark, sf_dir, pairs)


# power-law fit: continuous MLE over degrees >= PL_DMIN
PL_DMIN = 2


def degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent MLE per city over hotspot witness degrees
    (Clauset et al. 2009 continuous approximation): alpha = 1 +
    n / Σ ln(d / (dmin − 0.5)) over degrees >= PL_DMIN — the standard
    "is this graph scale-free" summary that decides whether hub-aware
    algorithms (salting, degree-ordered orientation) are worth running.

    Determinism: each ln term quantizes to integer micro-units before
    the per-city sum (the adamic_adar discipline); the final alpha is
    one double division rounded 6dp.

    Scale shape: degrees are one keyed count off the distinct edge set;
    the fit is a per-city aggregation of (count, micro-sum) — |cities|
    rows out.
    """
    edges = witness_arcs(spark, sf_dir)
    deg = edges.groupBy("city_key", "src").agg(F.count(F.lit(1)).alias("d"))
    lnterm = (
        f"cast(round(ln(d / cast({PL_DMIN} - 0.5 as double)) * 1000000) as bigint)"
    )
    return (
        deg.filter(F.col("d") >= PL_DMIN)
        .select("city_key", F.expr(lnterm).alias("lt"))
        .groupBy("city_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("lt").alias("ls"),
        )
        .filter(F.col("ls") > 0)
        .select(
            "city_key",
            "n_nodes",
            F.round(F.expr("1 + n_nodes / (ls / 1e6)"), 6).alias("alpha_hat"),
        )
    )


def butterfly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite butterfly census per city (Sanei-Mehri et al. 2018):
    butterflies (2×2 bicliques) are THE bipartite clustering motif — the
    triangle has no bipartite analogue, so cohesion is measured as
    B = Σ over hotspot pairs C(shared_witnesses, 2), with caterpillars
    (3-edge paths, Σ over edges (d(u)−1)(d(v)−1)) as the normalizer:
    bipartite clustering = 4B / caterpillars.

    Exactness: B falls out of the ALREADY-grouped co-witness pair
    weights (never an explicit 4-node enumeration); caterpillars from
    two keyed degree joins — every quantity an exact integer, one
    rounded division.

    Scale shape: reuses the co-witness pair table (group-local pair gen,
    LSH-style cap noted there); degrees are keyed counts; joins carry
    (city, node, degree) triples.
    """
    pairs = co_witness_pairs(spark, sf_dir)
    return _butterfly_stats_body(spark, sf_dir, pairs)


def _butterfly_stats_body(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Butterfly census over an arbitrary co-witness pair table —
    shared by the exact and the capped registered forms."""
    edges = witness_arcs(spark, sf_dir)
    bf = pairs.groupBy("city_key").agg(
        F.sum(
            F.expr("shared_witnesses * (shared_witnesses - 1) div 2")
        ).cast("bigint").alias("n_butterflies")
    )
    dsrc = edges.groupBy("city_key", "src").agg(F.count(F.lit(1)).alias("ds"))
    ddst = edges.groupBy("city_key", "dst").agg(F.count(F.lit(1)).alias("dd"))
    cat = (
        edges.join(dsrc, ["city_key", "src"])
        .join(ddst, ["city_key", "dst"])
        .groupBy("city_key")
        .agg(
            F.sum(F.expr("(ds - 1) * (dd - 1)")).cast("bigint").alias("n_caterpillars")
        )
    )
    return (
        cat.join(bf, "city_key", "left")
        .select(
            "city_key",
            F.coalesce("n_butterflies", F.lit(0)).cast("bigint").alias("n_butterflies"),
            "n_caterpillars",
            F.round(
                F.expr(
                    "CASE WHEN n_caterpillars > 0 THEN"
                    " 4 * coalesce(n_butterflies, 0) / cast(n_caterpillars as double)"
                    " ELSE cast(0.0 as double) END"
                ),
                6,
            ).alias("bipartite_clustering"),
        )
    )


def butterfly_stats_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`butterfly_stats` over the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r6 #2): the
    butterfly count is a deterministic lower bound (butterflies whose
    wing pair straddles a chunk boundary are uncounted, with the drop
    priced by :func:`co_witness_bucket_stats`); caterpillars use exact
    degrees, so the clustering ratio is likewise a lower bound."""
    pairs = _co_witness_pairs_capped_cached(spark, sf_dir)
    return _butterfly_stats_body(spark, sf_dir, pairs)


# node2vec bias (Grover & Leskovec 2016) as A-ES exponential-race keys
# (the weighted_sample discipline): transition weight alpha in milli-units
# — backtracking is penalized (alpha = 1/p, p = 4), leaving prev's
# neighborhood mildly so (alpha = 1/q, q = 2), staying neutral.  The
# chosen neighbor is argmin of −ln(u)/alpha with u a 16-bit md5 uniform,
# which IS weighted sampling, made deterministic.
N2V_RETURN_MILLI = 250   # alpha = 1/4
N2V_OUT_MILLI = 500      # alpha = 1/2
N2V_LEN = 3


def node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec second-order biased walks: like :func:`witness_walks`,
    but each transition scores candidates by md5-hash × inverse-alpha,
    where alpha depends on the candidate's relation to the PREVIOUS node
    (1/p to backtrack, 1 inside prev's neighborhood, 1/q to leave it) —
    the p/q dial that interpolates DeepWalk between BFS (structural
    roles) and DFS (communities).  Deterministic: integer 16-bit hash ×
    integer milli-bias, argmin with node tie-break — reproducible across
    engines, which the paper's alias-sampling walk is not.

    Scale shape: one extra keyed join per step versus the first-order
    walk — the (candidate, prev) adjacency probe against the undirected
    edge set — still O(walks × avg_degree) rows per step; the budgeted
    start sample bounds a mega-city exactly as witness_walks documents.
    """
    from pyspark.sql import Window

    edges = witness_arcs(spark, sf_dir)
    und = edges.select(
        "city_key", F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionByName(
        edges.select("city_key", F.col("dst").alias("a"), F.col("src").alias("b"))
    ).persist()
    nodes = und.select("city_key", F.col("a").alias("node")).distinct()
    nn = nodes.groupBy("city_key").agg(F.count(F.lit(1)).alias("n_nodes"))
    starts = (
        nodes.join(F.broadcast(nn), "city_key")
        .filter(
            F.expr(
                "cast(conv(substring(md5(node), 1, 4), 16, 10) as bigint)"
                f" * n_nodes < {65536 * WALK_K}"
            )
        )
        .drop("n_nodes")
    )
    widx = spark.range(WALK_N).select(F.col("id").cast("int").alias("widx"))
    walks = starts.crossJoin(F.broadcast(widx)).select(
        "city_key",
        F.col("node").alias("start"),
        "widx",
        F.lit(None).cast("string").alias("prev"),
        F.col("node").alias("cur"),
        F.col("node").alias("path"),
    )
    adj = und.select(
        F.col("city_key").alias("j_ck"), F.col("a").alias("j_a"),
        F.col("b").alias("j_b"), F.lit(1).alias("is_adj"),
    )
    for step in range(1, N2V_LEN + 1):
        h16 = (
            "cast(conv(substring(md5(concat_ws('|', start,"
            f" cast(widx as string), '{step}', nxt)), 1, 4), 16, 10) as bigint)"
        )
        alpha = (
            "CASE WHEN prev IS NULL THEN 1000L"
            f" WHEN nxt = prev THEN {N2V_RETURN_MILLI}L"
            " WHEN is_adj IS NOT NULL THEN 1000L"
            f" ELSE {N2V_OUT_MILLI}L END"
        )
        cand = (
            walks.select(
                F.col("city_key").alias("w_ck"), "start", "widx", "prev",
                F.col("cur").alias("w_cur"), "path",
            )
            .join(und, (F.col("w_ck") == und.city_key) & (F.col("w_cur") == und.a))
            .select(
                "city_key", "start", "widx", "prev", "path",
                F.col("w_cur").alias("cur"), F.col("b").alias("nxt"),
            )
            .join(
                # edge-sized probe set: keyed join, NOT a broadcast
                adj,
                (F.col("city_key") == F.col("j_ck"))
                & (F.col("nxt") == F.col("j_a"))
                & (F.col("prev") == F.col("j_b")),
                "left",
            )
            # A-ES key: −ln(u)/alpha, u = (h+1)/65536 exact dyadic, so the
            # ln operand is bit-identical in both engines; micro-rounded
            .withColumn(
                "score",
                F.expr(
                    f"cast(round(-ln((({h16}) + 1) / 65536.0)"
                    f" / (({alpha}) / 1000.0) * 1000000) as bigint)"
                ),
            )
        )
        w_pick = Window.partitionBy("city_key", "start", "widx").orderBy(
            "score", "nxt"
        )
        walks = (
            cand.withColumn("r", F.row_number().over(w_pick))
            .filter(F.col("r") == 1)
            .select(
                "city_key", "start", "widx",
                F.col("cur").alias("prev"),
                F.col("nxt").alias("cur"),
                F.concat_ws(">", "path", "nxt").alias("path"),
            )
            .localCheckpoint()
        )
    return walks.select("city_key", "start", "widx", "path")


def local_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hotspot local clustering coefficient on the CO-WITNESS
    projection (the bipartite witness graph itself is triangle-free, so
    clustering only exists after the one-mode projection): cc(v) =
    2·tri(v) / (deg(v)·(deg(v)−1)) — the transitivity score that
    separates tight co-located clusters (cc → 1) from hub-and-spoke
    fan-out (cc → 0), the standard companion to `degree_powerlaw_fit`
    when deciding if a city's graph is clustered or scale-free-ish.

    Determinism: triangle and degree counts are exact integers over the
    distinct projection edge set (src_a < src_b canonical); one rounded
    division per node.

    Scale shape: triangles enumerate via two keyed joins of the
    DEGREE-ORDERED edge list (low-degree node first — the standard
    degree-ordered triangle counting rewrite, round 11) — each triangle
    found exactly once, no node ever joins its full neighborhood both
    ways, and a hub's wedge fan-out is bounded by its out-degree
    O(sqrt(m)); per-corner counts are one explode + keyed agg.  The
    triangle set is orientation-independent, so the oracle stays
    bit-exact.
    """
    return _local_clustering_body(
        co_witness_pairs(spark, sf_dir).select(
            "city_key", F.col("src_a").alias("a"), F.col("src_b").alias("b")
        )
    )


def local_clustering_coeff_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`local_clustering_coeff`: rides the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r7 #3), so the
    triangle enumeration's two keyed joins fan out along a projection
    whose per-witness emit is O(k·cap), never k²/2.  Degrees and
    triangle counts UNDERCOUNT for fan-ins above the cap (drops
    accounted by :func:`co_witness_bucket_stats`); the coefficient stays
    exact arithmetic over the surviving projection.  Scan count over the
    largest fact table: 1 (the session-cached capped pair table)."""
    return _local_clustering_body(
        _co_witness_pairs_capped_cached(spark, sf_dir).select(
            "city_key", F.col("src_a").alias("a"), F.col("src_b").alias("b")
        )
    )


def _local_clustering_body(proj: DataFrame) -> DataFrame:
    """Clustering-coefficient scoring over an arbitrary oriented (a<b)
    projection edge set — shared by the exact and capped forms."""
    deg = (
        proj.select("city_key", F.col("a").alias("node"))
        .unionByName(proj.select("city_key", F.col("b").alias("node")))
        .groupBy("city_key", "node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    # Degree-ordered triangle enumeration (round 11): per-node corner
    # counts only need the triangle SET, which is orientation-independent
    # — see _oriented_triangles.  The old lexicographic two-join paid
    # in(b)·out(b) wedge rows through a mixed-id hub b.  The oriented
    # list is checkpointed once: the enumeration references it three
    # times, and without materialization each reference re-runs the
    # degree agg + two orientation joins (measured 3x plan blowup).
    tris = _oriented_triangles(_oriented_by_degree(proj).localCheckpoint())
    corner = (
        tris.select("city_key", F.col("v0").alias("node"))
        .unionByName(tris.select("city_key", F.col("x").alias("node")))
        .unionByName(tris.select("city_key", F.col("y").alias("node")))
        .groupBy("city_key", "node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        deg.join(corner, ["city_key", "node"], "left")
        .select(
            "city_key",
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.expr(
                        "2 * coalesce(n_triangles, 0)"
                        " / cast(degree * (degree - 1) as double)"
                    ),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


TIP_K = 150  # butterfly-support threshold for the k-tip peel
MAX_TIP_ITERS = 8


def _witness_groups_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached per-witness sorted member arrays (size ≥ 2) off the
    distinct valid edge set — the ONE edge-table pass the exact-demo
    guard, the exact pair projection and the capped pair projection all
    previously re-ran independently (three scan+shuffle passes per sync
    cycle → one; guide §2.4, share the exchange).  The cap applies at
    pair GENERATION, never here, so one groups table serves both
    projections byte-identically."""
    return cached(
        spark,
        "groups",
        sf_dir,
        lambda: witness_arcs(spark, sf_dir)
        .groupBy("city_key", "dst")
        .agg(F.sort_array(F.collect_list("src")).alias("ss"))
        .filter(F.size("ss") >= 2)
        .select("city_key", "ss")
        .persist(),
    )


def _pairs_from_groups(
    groups: DataFrame, max_group: int | None = None
) -> DataFrame:
    """In-group pair generation + weight aggregation over a (city_key,
    ss) member-array table — the shared second half of the projection.

    ``max_group`` caps in-group pair generation to src-contiguous chunks
    of that size — the same idiom as ``dedup._bucket_pairs(max_bucket)``:
    a celebrity witness with fan-in k emits O(k·max_group) pairs instead
    of k²/2, and :func:`co_witness_bucket_stats` accounts for every pair
    the cap drops.  None = exact, every pair."""
    if max_group is None:
        end = "size(ss)"
    else:
        end = f"least((i div {max_group} + 1) * {max_group}, size(ss))"
    pair_gen = (
        "flatten(transform(ss, (a, i) ->"
        f" transform(slice(ss, i + 2, {end} - i - 1),"
        " b -> struct(a AS src_a, b AS src_b))))"
    )
    return (
        groups.select("city_key", F.explode(F.expr(pair_gen)).alias("p"))
        .groupBy(
            "city_key",
            F.col("p.src_a").alias("src_a"),
            F.col("p.src_b").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_witnesses"))
    )


def _co_pairs(edges: DataFrame, max_group: int | None = None) -> DataFrame:
    """Group-local co-witness pair weights over an arbitrary (city_key,
    src, dst) DISTINCT edge set — the `co_witness_pairs` body
    parameterized so iterative peels can recompute pairs per round (the
    session-cached projections ride :func:`_witness_groups_cached`
    instead, sharing one groups pass)."""
    groups = (
        edges.groupBy("city_key", "dst")
        .agg(F.sort_array(F.collect_list("src")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    return _pairs_from_groups(groups, max_group)


def _tip_support(edges: DataFrame, max_group: int | None = None) -> DataFrame:
    """Per-hotspot butterfly support Σ_v C(shared(u,v), 2) from the
    pair weights — a node with no co-witness partner has support 0 and
    is simply absent.  ``max_group`` caps the per-round pair generation
    (the tip_decomposition_capped path)."""
    pairs = _co_pairs(edges, max_group).withColumn(
        "b", F.expr("shared_witnesses * (shared_witnesses - 1) div 2")
    )
    return (
        pairs.select("city_key", F.col("src_a").alias("node"), "b")
        .unionByName(pairs.select("city_key", F.col("src_b").alias("node"), "b"))
        .groupBy("city_key", "node")
        .agg(F.sum("b").cast("bigint").alias("support"))
    )


def tip_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-tip extraction of each city's bipartite witness graph
    (Sarıyüce & Pinar 2018 tip decomposition, fixed-threshold form):
    iteratively peel hotspots whose BUTTERFLY support (number of 2×2
    bicliques through them, the bipartite cohesion motif from
    `butterfly_stats`) falls below TIP_K until fixpoint — the surviving
    hotspots form the k-tip, the dense co-witnessing kernel that
    degree-based k-core cannot see (degree counts edges; tips count
    CLOSED 2×2 structures, so a hub with many one-off witnesses peels
    while a clique of mutually-co-seen hotspots survives).

    Determinism: supports are exact integers off the group-local pair
    weights; peeling is confluent and monotone-shrinking, so the
    unrolled-CTE oracle with ≥ fixpoint rounds matches bit-for-bit
    (same argument as `witness_kcore`).

    Scale shape per round: one dst-grouped pair generation (the LSH
    bucket discipline, hot-witness cap applies) + one keyed support sum
    + one semi-join; only (city, node) and pair-weight rows shuffle;
    localCheckpoint truncates lineage per round; the driver-side
    convergence probe is one monotone edge count.
    """
    return _tip_body(spark, sf_dir)


def tip_decomposition_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`tip_decomposition`: every peel round
    recomputes pair weights with the CO_WITNESS_MAX_GROUP cap (VERDICT
    r7 #3), so the per-round worst-task emit is O(k·cap) even as the
    surviving edge set changes — the iterative analog of the one-shot
    capped projection.  Supports UNDERCOUNT above the cap, so the capped
    peel removes a SUPERSET of the hotspots the exact peel removes (the
    capped k-tip is a subgraph of the exact k-tip); drops are accounted
    by :func:`co_witness_bucket_stats`.  Scan count over the largest
    fact table: 1 (the checkpointed edge set; every round re-joins it,
    never the fact table)."""
    return _tip_body(spark, sf_dir, CO_WITNESS_MAX_GROUP)


def _tip_body(
    spark: SparkSession, sf_dir: str, max_group: int | None = None
) -> DataFrame:
    """Fixed-threshold tip peel over the witness edge set — shared by
    the exact and capped registered forms (``max_group`` flows into the
    per-round pair generation)."""
    if max_group is None:
        # the exact form regenerates UNCAPPED pairs every peel round —
        # the one demo path that does not route through co_witness_pairs
        _guard_exact_demo(
            spark, sf_dir, "tip_decomposition", "tip_decomposition_capped"
        )
    edges = witness_arcs(spark, sf_dir).localCheckpoint()
    prev = edges.count()
    prev_ckpt = edges
    for _ in range(MAX_TIP_ITERS):
        # checkpoint the round's support table so the converged round
        # can RETURN it instead of re-running the pair-gen + support
        # pass over the final edge set: at the fixpoint the edge set did
        # not change, so this table (every present node survived the
        # TIP_K filter, else the round would have peeled it) IS
        # _tip_support(final_edges) — one full pass saved (round 10)
        sup = _tip_support(edges, max_group).localCheckpoint()
        keep = (
            sup.filter(F.col("support") >= TIP_K)
            .select("city_key", F.col("node").alias("src"))
        )
        edges = edges.join(keep, ["city_key", "src"], "left_semi").localCheckpoint()
        # the peel is strictly shrinking and each round's checkpoint
        # supersedes the last — release it so executor storage holds one
        # edge-set copy, not one per round (ADVICE r8, the PPR fix)
        _release_local_checkpoint(prev_ckpt)
        prev_ckpt = edges
        cur = edges.count()
        if cur == prev:
            return sup.select(
                "city_key", F.col("node").alias("src"), "support"
            )
        prev = cur
        _release_local_checkpoint(sup)
    from .cc import ConvergenceError

    raise ConvergenceError(
        f"tip peeling did not reach a fixpoint within {MAX_TIP_ITERS} "
        "iterations"
    )


TRUSS_SUPPORT = 2  # min triangles per surviving edge (a 4-truss)
MAX_TRUSS_ITERS = 8


def _oriented_by_degree(cw: DataFrame) -> DataFrame:
    """Re-orient a canonical (a<b) edge list by (degree, id) — the
    Chiba–Nishizeki / node-iterator++ ordering `_triangle_stats_body`
    already uses: each edge points from the endpoint with the smaller
    (degree, id) to the larger, which bounds any node's out-degree by
    O(sqrt(m)).  A degree-d hub therefore feeds the wedge self-join only
    through its (few) out-edges; the in(hub)·out(hub) wedge emit the
    lexicographic orientation pays on a mixed-id hub (round-11 wedge
    probe: ~(H/2)² intermediate rows) never materializes.  Returns
    (city_key, lo, hi, hi_d) with hi_d = degree(hi) carried for the
    wedge-dedup comparison."""
    deg = (
        cw.select("city_key", F.col("a").alias("node"))
        .unionByName(cw.select("city_key", F.col("b").alias("node")))
        .groupBy("city_key", "node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        cw.join(
            deg.select("city_key", F.col("node").alias("a"), F.col("d").alias("da")),
            ["city_key", "a"],
        )
        .join(
            deg.select("city_key", F.col("node").alias("b"), F.col("d").alias("db")),
            ["city_key", "b"],
        )
        .select(
            "city_key",
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct("a", "b", "db"),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("a"),
                    F.col("a").alias("b"),
                    F.col("da").alias("db"),
                )
            )
            .alias("o"),
        )
        .select(
            "city_key",
            F.col("o.a").alias("lo"),
            F.col("o.b").alias("hi"),
            F.col("o.db").alias("hi_d"),
        )
    )


def _oriented_triangles(e: DataFrame) -> DataFrame:
    """Enumerate each triangle exactly once from a degree-oriented edge
    list (city_key, lo, hi, hi_d): wedges pair a source's out-edges
    (ordered by (degree, id) so each unordered out-pair appears once),
    closed by the oriented third edge.  Returns corner triples
    (city_key, v0, x, y) with v0 the minimum-order vertex and x before
    y in the same order.  The triangle SET is orientation-independent,
    so any consumer counting corners or edges gets bit-identical
    results to the lexicographic form."""
    e1 = e.select("city_key", "lo", F.col("hi").alias("x"), F.col("hi_d").alias("xd"))
    e2 = e.select("city_key", "lo", F.col("hi").alias("y"), F.col("hi_d").alias("yd"))
    wedges = e1.join(e2, ["city_key", "lo"]).filter(
        (F.col("xd") < F.col("yd"))
        | ((F.col("xd") == F.col("yd")) & (F.col("x") < F.col("y")))
    )
    closing = e.select("city_key", F.col("lo").alias("x"), F.col("hi").alias("y"))
    return wedges.join(closing, ["city_key", "x", "y"]).select(
        "city_key", F.col("lo").alias("v0"), "x", "y"
    )


def _oriented_support(ori: DataFrame) -> DataFrame:
    """Triangle support per ORIENTED edge (city_key, lo, hi, hi_d):
    enumerate each triangle once via the degree-ordered two-join
    (round 11 — the old lexicographic orientation paid in(b)·out(b)
    wedge rows through any mixed-id hub b; supports are exact triangle
    counts either way), then credit all three edges IN ORIENTED FORM,
    with hi_d carried through.  The output's key set is therefore a
    ready-to-use oriented edge subset: the truss peel iterates in
    oriented space with no per-round re-orientation, no semi-join, and
    the original (degree, id) order stays a valid total order on every
    shrinking subset."""
    e1 = ori.select("city_key", "lo", F.col("hi").alias("x"), F.col("hi_d").alias("xd"))
    e2 = ori.select("city_key", "lo", F.col("hi").alias("y"), F.col("hi_d").alias("yd"))
    wedges = e1.join(e2, ["city_key", "lo"]).filter(
        (F.col("xd") < F.col("yd"))
        | ((F.col("xd") == F.col("yd")) & (F.col("x") < F.col("y")))
    )
    tris = wedges.join(
        ori.select("city_key", F.col("lo").alias("x"), F.col("hi").alias("y")),
        ["city_key", "x", "y"],
    ).select("city_key", "lo", "x", "xd", "y", "yd")
    return (
        tris.select("city_key", "lo", F.col("x").alias("hi"), F.col("xd").alias("hi_d"))
        .unionByName(
            tris.select("city_key", "lo", F.col("y").alias("hi"), F.col("yd").alias("hi_d"))
        )
        .unionByName(
            tris.select(
                "city_key",
                F.col("x").alias("lo"),
                F.col("y").alias("hi"),
                F.col("yd").alias("hi_d"),
            )
        )
        .groupBy("city_key", "lo", "hi", "hi_d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )


def ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-truss of each city's co-witness projection (Cohen 2008): peel
    EDGES whose triangle support drops below TRUSS_SUPPORT until
    fixpoint — the edge-level cohesion ladder between k-core (node
    degrees — too loose: a hub survives on volume) and cliques (too
    strict): every surviving edge closes ≥ 2 triangles among surviving
    edges, so the 4-truss is the "strong-tie backbone" community
    detectors seed from.  Completes the peeling family: node-degree
    (`witness_kcore`), node-butterfly (`tip_decomposition`), and now
    edge-triangle.

    Determinism: supports are exact triangle counts over the oriented
    edge list; peeling is confluent and monotone-shrinking, so the
    unrolled-CTE oracle matches bit-for-bit.

    Scale shape per round: the oriented two-join triangle enumeration
    (each triangle found once; degree-ordered orientation bounds
    fan-out at scale) + one keyed support count + one semi-join on
    surviving edges; localCheckpoint truncates lineage per round.
    """
    return _ktruss_body(co_witness_pairs(spark, sf_dir))


def ktruss_edges_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`ktruss_edges`: the peel runs over the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r7 #3), so the
    per-round triangle enumeration joins a projection whose per-witness
    emit is O(k·cap), never k²/2.  Supports UNDERCOUNT for fan-ins above
    the cap (drops accounted by :func:`co_witness_bucket_stats`), so the
    capped truss is a subgraph of the exact one — peeling is monotone in
    the edge set.  Scan count over the largest fact table: 1 (the
    session-cached capped pair table; each peel round re-joins the
    checkpointed projection, never the fact table).

    Measured at 10× fan-in (BASELINE.md round-9 fan-in probe): 22.4×
    wall for 38× projection edges — per-edge cost FALLS as density
    grows, because the per-round support join amortizes over fuller
    partitions; the peel round count stays bounded by TRUSS_K."""
    return _ktruss_body(_co_witness_pairs_capped_cached(spark, sf_dir))


def _ktruss_body(pairs: DataFrame) -> DataFrame:
    """Edge-triangle peel over an arbitrary oriented (a<b) co-witness
    pair table — shared by the exact and capped registered forms.

    Round-10 optimization: the filtered support table IS the next
    edge set (its keys are a subset of the current edges), so the old
    per-iteration ``proj ⋉ keep`` semi-join was a no-op join — peel
    directly on the support output.  And at the fixpoint the converged
    iteration's filtered support table already equals the support of
    the final edge set (the edge set did not change), so the final
    re-enumeration pass is returned directly instead of being
    recomputed: N-iteration peel = N triangle passes, down from
    N+1 passes + N semi-joins.  Superseded per-iteration checkpoints
    are released once their successor materializes (the PPR
    discipline), so executor storage holds one edge-set copy.

    Round-11: the peel runs in DEGREE-ORDERED oriented space — edges
    orient once by initial (degree, id) before the loop, the support
    pass (:func:`_oriented_support`) credits triangles to still-
    oriented edges, and the surviving support table is directly the
    next oriented edge set.  The initial order stays a valid total
    order on every shrinking subset, so each round's triangle set is
    exact; only the enumeration's hub fan-out changes (round-11 wedge
    probe: the lexicographic form paid ~(H/2)² wedge rows through a
    mixed-id hub, the oriented form is flat in hub degree)."""
    ori = _oriented_by_degree(
        pairs.select("city_key", F.col("src_a").alias("a"), F.col("src_b").alias("b"))
    ).localCheckpoint()
    prev_ckpt = ori
    prev = ori.count()
    for _ in range(MAX_TRUSS_ITERS):
        sup = (
            _oriented_support(ori)
            .filter(F.col("support") >= TRUSS_SUPPORT)
            .localCheckpoint()
        )
        cur = sup.count()
        _release_local_checkpoint(prev_ckpt)
        prev_ckpt = sup
        if cur == prev:
            return sup.select(
                "city_key",
                F.least("lo", "hi").alias("src_a"),
                F.greatest("lo", "hi").alias("src_b"),
                "support",
            )
        prev = cur
        ori = sup.select("city_key", "lo", "hi", "hi_d")
    from .cc import ConvergenceError

    raise ConvergenceError(
        f"truss peeling did not reach a fixpoint within {MAX_TRUSS_ITERS} "
        "iterations"
    )


def city_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-city degree assortativity of the witness graph: the Pearson
    correlation, over distinct edges, between the OUT-degree of the
    supplier endpoint and the IN-degree of the customer endpoint — "do
    well-connected suppliers witness for well-connected customers?".
    The bipartite form of Newman's assortativity coefficient; negative
    values are the hub-to-leaf pattern typical of radio topologies.

    Degrees are exact integers from two keyed aggregates; the per-city
    moment sums are DECIMAL(38,0)/HUGEINT exact, and the coefficient is
    the shared `corr_pair_expr` expression tree (mlstats) rounded 6 dp.
    Cities with a degenerate side (all equal degrees) surface NULL.

    Scale shape: the edge list shuffles twice on its natural keys
    ((city, src) then (city, dst)) to build degrees, then joins back by
    the same keys — no pair explosion, no window over edges.

    Reference parity: extends /root/reference/src/arango_queries.py's
    per-city metric family (betweenness/pagerank) with the standard
    mixing metric the reference never shipped.
    """
    edges = witness_arcs(spark, sf_dir).persist()
    outdeg = edges.groupBy("city_key", "src").agg(
        F.count(F.lit(1)).cast("bigint").alias("od")
    )
    indeg = edges.groupBy("city_key", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("idg")
    )
    j = edges.join(outdeg, ["city_key", "src"]).join(
        indeg, ["city_key", "dst"]
    )
    mom = j.groupBy("city_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("cast(od as decimal(38,0))")).alias("s_od"),
        F.sum(F.expr("cast(idg as decimal(38,0))")).alias("s_idg"),
        F.sum(F.expr("cast(od as decimal(38,0)) * od")).alias("ss_od"),
        F.sum(F.expr("cast(idg as decimal(38,0)) * idg")).alias("ss_idg"),
        F.sum(F.expr("cast(od as decimal(38,0)) * idg")).alias("sx_od_idg"),
    )
    edges.unpersist()
    from .mlstats import corr_pair_expr

    num_zero = (
        "cast(n as decimal(38,0)) * ss_od - cast(s_od as decimal(38,0))"
        " * s_od = 0 or cast(n as decimal(38,0)) * ss_idg"
        " - cast(s_idg as decimal(38,0)) * s_idg = 0"
    )
    return mom.select(
        "city_key",
        F.col("n").alias("n_edges"),
        F.round(
            F.expr(
                f"if({num_zero}, null, {corr_pair_expr('od', 'idg')})"
            ),
            6,
        ).alias("assortativity"),
    )


# Personalized PageRank: same quantized-iteration discipline as
# city_pagerank_joins, but all teleport AND dangling mass returns to a
# per-city SEED node (the lexicographically-smallest supplier) instead of
# spreading uniformly — the "similar to this node" ranking used for
# seed-based recommendation.
PPR_ITERS = 3
PPR_ALPHA = 0.85
# checkpoint the rank state every N PPR steps (never before step 0): a
# 2-step segment bounds the unrolled plan at 4x while halving the eager
# materialization jobs; AQE shuffle-stage reuse dedups the duplicated
# step inside a segment (see city_ppr_joins loop comment).
PPR_CKPT_EVERY = 2


def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a localCheckpoint's persisted blocks.

    ``DataFrame.unpersist()`` only clears cache-manager entries, not the
    raw RDD persist a localCheckpoint creates, so a superseded handle
    must be released at the RDD layer (ADVICE r8: without this an
    iterative loop pins ITERS+1 checkpointed copies of its state in
    executor storage).  Reaches the checkpointed RDD through the
    analyzed LogicalRDD and drops its blocks with the context's
    ``unpersistRDD``, the release ``RDD.unpersist`` makes after warning
    that a locally checkpointed RDD cannot be recomputed (a superseded
    handle is never read again).  Wrapped so any change in that internal
    surface degrades to the old keep-everything behavior, never to an
    error.
    """
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        rdd.sparkContext().unpersistRDD(rdd.id(), False)
    except Exception:
        pass


def city_ppr_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-city personalized PageRank from a deterministic seed (the
    min supplier node) as pure DataFrame joins — fully oracled via
    unrolled quantized iterations (registry._ppr_sql), the companion of
    city_pagerank_joins with restart mass concentrated on the seed.

    r₀ = 1 on the seed; each step r' = (1−α)·e_seed + α·(Mᵀr +
    dangling·e_seed), ranks re-quantized (round 9) per step so both
    engines iterate identical float64 states.

    Scale shape per iteration: identical to city_pagerank_joins — one
    (city, node) rank/out-degree join, one (city, dst)-keyed
    contribution shuffle with map-side partial sums, and a per-city
    dangling scalar broadcast.  Each superseded per-step checkpoint is
    released once its successor materializes, so executor storage holds
    ONE rank-state copy, not PPR_ITERS+1 (ADVICE r8).  Cluster note:
    localCheckpoint is non-reliable — on a multi-executor cluster with
    dynamic allocation / decommissioning, a lost executor makes the
    truncated lineage unrecoverable; swap in reliable
    ``df.checkpoint()`` (with ``spark.sparkContext.setCheckpointDir``)
    for such deployments, same loop shape.
    """
    edges = witness_arcs(spark, sf_dir).localCheckpoint()
    nodes = (
        edges.select("city_key", F.col("src").alias("node"))
        .unionByName(edges.select("city_key", F.col("dst").alias("node")))
        .distinct()
    )
    seeds = (
        edges.groupBy("city_key")
        .agg(F.min("src").alias("seed"))
    )
    outdeg = edges.groupBy("city_key", "src").agg(
        F.count(F.lit(1)).alias("deg")
    )
    # deg is STATIC across iterations: fold it into the base table once so
    # each step reads it from the carried rank row instead of re-joining
    # outdeg (and anti-joining for the dangling set) every iteration.
    base = (
        nodes.join(F.broadcast(seeds), "city_key")
        .join(
            outdeg.withColumnRenamed("src", "node"),
            ["city_key", "node"],
            "left",
        )
        .localCheckpoint()
    )
    a = PPR_ALPHA
    r = base.select(
        "city_key",
        "node",
        "seed",
        "deg",
        F.expr("if(node = seed, cast(1 as double), cast(0 as double))").alias(
            "r"
        ),
    )
    prev_ckpt = None
    for it in range(PPR_ITERS):
        # r is consumed TWICE per step (contribution flow + dangling
        # mass), so an unchecked loop embeds two copies of the previous
        # step per level — 2^k plan growth.  Checkpointing r at the top
        # of EVERY step (round 8's form) bounds that but pays one eager
        # materialization job per iteration, which at sf0.1 is the
        # dominant cost of the whole query (VERDICT r10 #5: 8v32 ratio
        # 1.00, job-chain-paced).  Round 11 batches TWO steps per
        # checkpoint: plan size stays bounded at 4x per segment, the
        # duplicated-step shuffles inside a segment are deduplicated by
        # AQE's shuffle-stage reuse (measured via the status tracker:
        # batching LOWERS stages-with-tasks 29 -> 28 and tasks 101 -> 96,
        # results byte-identical across cadences), and the step-0
        # checkpoint is skipped outright — r0 is a cheap projection of
        # the already-checkpointed base, so materializing it was a pure
        # extra job.
        if it > 0 and it % PPR_CKPT_EVERY == 0:
            r = r.localCheckpoint(eager=True)
            if prev_ckpt is not None:
                # the new checkpoint no longer reads the old one — free it
                _release_local_checkpoint(prev_ckpt)
            prev_ckpt = r
        rd = r.where(F.col("deg").isNotNull()).select(
            "city_key",
            F.col("node").alias("src"),
            (F.col("r") / F.col("deg")).alias("w"),
        )
        contrib = (
            edges.join(rd, ["city_key", "src"])
            .groupBy("city_key", F.col("dst").alias("node"))
            .agg(F.sum("w").alias("c"))
        )
        dang = (
            r.where(F.col("deg").isNull())
            .groupBy("city_key")
            .agg(F.sum("r").alias("dsum"))
        )
        r = (
            base.join(contrib, ["city_key", "node"], "left")
            .join(F.broadcast(dang), "city_key", "left")
            .select(
                "city_key",
                "node",
                "seed",
                "deg",
                F.round(
                    F.expr(
                        f"cast({1 - a!r} as double)"
                        " * if(node = seed, 1.0, 0.0)"
                        f" + cast({a!r} as double)"
                        " * (coalesce(c, cast(0 as double))"
                        "    + coalesce(dsum, cast(0 as double))"
                        "      * if(node = seed, 1.0, 0.0))"
                    ),
                    9,
                ).alias("r"),
            )
        )
    return r.select("city_key", "node", F.round("r", 6).alias("ppr"))


def city_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (3·triangles / wedges) of each city's
    supplier co-witness projection — the one-number cohesion summary
    whose per-node decomposition is `local_clustering_coeff`: high
    transitivity means co-witnessing is cliquish, not hub-mediated.

    Wedges are Σ_v C(deg_v, 2) over projection degrees (exact
    integers); triangles are counted once each via the ordered
    three-way self-join (a < b < c, string order, the
    local_clustering_coeff discipline).  NULL where the projection has
    no wedge.

    Scale shape: the projection reuses the grouped pair-fold
    (`co_witness_pairs` — per-witness sorted fold off the session-cached
    persist, never an edge self-join); the triangle join is
    projection-sized and city-keyed.

    Bounded-emit path: :func:`city_transitivity_capped` (registered,
    oracled) runs this same body over the CO_WITNESS_MAX_GROUP-capped
    projection; this bare name stays the documented oracle-exact demo
    (VERDICT r8 #2/#3 — found by the machine-checked convention sweep,
    `*_capped` = production, bare = demo).
    """
    return _city_transitivity_body(co_witness_pairs(spark, sf_dir))


def city_transitivity_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`city_transitivity` over the
    CO_WITNESS_MAX_GROUP-capped pair projection: the wedge/triangle
    census runs on the bounded pair set (triangles and wedges both
    UNDERCOUNT, monotone in the edge set), so a celebrity witness's
    k²/2 projection emit is bounded at O(k·cap); drops accounted by
    :func:`co_witness_bucket_stats`.  Scan count over the largest fact
    table: 1 (the session-cached capped pair table)."""
    return _city_transitivity_body(_co_witness_pairs_capped_cached(spark, sf_dir))


def _city_transitivity_body(pairs: DataFrame) -> DataFrame:
    """Global transitivity over an arbitrary co-witness pair table —
    shared by the exact and the capped registered forms."""
    proj = (
        pairs.select(
            "city_key", F.col("src_a").alias("a"), F.col("src_b").alias("b")
        )
        .localCheckpoint()
    )
    deg = (
        proj.select("city_key", F.col("a").alias("node"))
        .unionByName(proj.select("city_key", F.col("b").alias("node")))
        .groupBy("city_key", "node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    wed = deg.groupBy("city_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("degree * (degree - 1) div 2"))
        .cast("bigint")
        .alias("wedges"),
    )
    e1 = proj
    e2 = proj.select(
        "city_key", F.col("a").alias("b"), F.col("b").alias("c")
    )
    e3 = proj.select(
        "city_key", F.col("a").alias("a"), F.col("b").alias("c")
    )
    tri = (
        e1.join(e2, ["city_key", "b"])
        .join(e3, ["city_key", "a", "c"])
        .groupBy("city_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    return wed.join(tri, "city_key", "left").select(
        "city_key",
        "n_nodes",
        "wedges",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
        F.round(
            F.expr(
                "if(wedges = 0, null,"
                " 3.0 * cast(coalesce(triangles, 0) as double)"
                " / cast(wedges as double))"
            ),
            6,
        ).alias("transitivity"),
    )


RICH_CLUB_KS = (1, 2, 4, 8, 16)


def rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the per-city co-witness graph: for each
    degree threshold k, the edge density φ(k) = 2·E_k / (N_k·(N_k−1))
    among hotspots with co-witness degree ≥ k (Zhou & Mondragón 2004) —
    a rising φ(k) means the best-connected hotspots preferentially
    interconnect (a dense core the per-node metrics can't see).  Reads
    next to `degree_powerlaw_fit` (degree tail) and
    `city_assortativity` (pairwise mixing).

    Determinism: degrees, node counts and edge counts are exact
    integers off the distinct co-witness pair set; φ is one division,
    rounded at the surface; NULL for degenerate clubs (N_k < 2).

    Scale shape: pairs come from the group-local projection (never an
    edge self-join); degrees are one keyed count; the k-grid is a
    4-literal explode over the degree table; club edges are two
    broadcast-sized degree joins + a |cities|×|grid| rollup.
    """
    pairs = co_witness_pairs(spark, sf_dir).select(
        "city_key", "src_a", "src_b"
    )
    return _rich_club_body(pairs)


def _rich_club_body(pairs: DataFrame) -> DataFrame:
    """φ(k) grid over an arbitrary co-witness pair set — shared by the
    exact and the capped registered forms.  Degrees are derived FROM
    the pair set, so the capped form's club membership is consistent
    with its own (capped) edge counts."""
    # deg is consumed three times (the k-grid node census + both sides
    # of the club-edge join) — checkpoint the node-sized table once so
    # the union+aggregate pass over the pair table runs once, not thrice
    deg = (
        pairs.select("city_key", F.col("src_a").alias("node"))
        .unionByName(pairs.select("city_key", F.col("src_b").alias("node")))
        .groupBy("city_key", "node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint()
    )
    kgrid = F.array(*[F.lit(k) for k in RICH_CLUB_KS])
    nodes_k = (
        deg.select("city_key", "deg", F.explode(kgrid).alias("k"))
        .where(F.col("deg") >= F.col("k"))
        .groupBy("city_key", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    da = deg.select(
        "city_key", F.col("node").alias("src_a"), F.col("deg").alias("deg_a")
    )
    db = deg.select(
        "city_key", F.col("node").alias("src_b"), F.col("deg").alias("deg_b")
    )
    edges_k = (
        pairs.join(da, ["city_key", "src_a"])
        .join(db, ["city_key", "src_b"])
        .select(
            "city_key",
            F.explode(kgrid).alias("k"),
            "deg_a",
            "deg_b",
        )
        .where((F.col("deg_a") >= F.col("k")) & (F.col("deg_b") >= F.col("k")))
        .groupBy("city_key", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    return (
        nodes_k.join(edges_k, ["city_key", "k"], "left")
        .select(
            "city_key",
            F.col("k").cast("bigint").alias("k"),
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).cast("bigint").alias("n_edges"),
            F.round(
                F.expr(
                    "cast(2 * coalesce(n_edges, 0L) as double)"
                    " / cast(nullif(n_nodes * (n_nodes - 1), 0L) as double)"
                ),
                6,
            ).alias("phi"),
        )
    )


def rich_club_coefficient_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`rich_club_coefficient` over the
    CO_WITNESS_MAX_GROUP-capped pair projection (VERDICT r6 #2): club
    degrees and edge counts both come from the capped pair set, so φ(k)
    stays internally consistent while the worst witness's emit is
    bounded at O(k·cap); :func:`co_witness_bucket_stats` accounts for
    every pair the cap drops."""
    pairs = _co_witness_pairs_capped_cached(spark, sf_dir).select(
        "city_key", "src_a", "src_b"
    )
    return _rich_club_body(pairs)


BFS_MAX_HOPS = 4


def city_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS layer census per city: from a deterministic seed (the
    minimum node id), how many NEW nodes become reachable at each hop
    ≤ BFS_MAX_HOPS over the undirected witness graph — the hop-distance
    profile ("how far is the graph from its anchor") that complements
    `witness_components` (who is connected at all) and
    `city_graph_metrics`' centralities (who is important), and the
    exact mirror of the level-synchronous BFS a cluster engine runs.

    Determinism: pure set arithmetic on integer node ids — each layer
    is distinct neighbors of the previous layer minus all visited
    nodes; no scores, no floats anywhere.

    Scale shape: BFS_MAX_HOPS rounds of frontier⋈edges joins keyed on
    (city, node) with a visited anti-join — frontier and visited hold
    (city, node) pairs only; the edge table is derived once.  This is
    the textbook Pregel/GraphX BFS expressed as joins, so the 100 TB
    form is the same plan with the edge table bucketed by city.
    """
    edges = witness_arcs(spark, sf_dir)
    # the reversed copy cannot collide with the forward copy (src ids
    # are 'S'-prefixed suppliers, dst ids 'C'-prefixed customers —
    # witness_subgraph construction), and each copy is distinct because
    # edges is, so the union IS distinct: the former outer .distinct()
    # was a full extra shuffle of the doubled edge table for nothing
    # (round 10; guide §2.4 — a distinct on data that is already unique)
    und = edges.select(
        "city_key", F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionByName(
        edges.select(
            "city_key", F.col("dst").alias("a"), F.col("src").alias("b")
        )
    )
    # the edge table is probed once per hop and the frontier state
    # feeds back into itself — checkpoint both so hop k's plan doesn't
    # re-derive hops 0..k-1 (the waterfill/PPR lesson)
    und = und.localCheckpoint(eager=True)
    # min() is duplicate-blind, so the seed needs no distinct node
    # census — one aggregate straight off the checkpointed edge table
    seed = und.groupBy("city_key").agg(F.min("a").alias("node"))
    frontier = seed.select("city_key", "node").localCheckpoint(eager=True)
    # visited is kept as the plain union of the per-hop frontier
    # checkpoints: hop frontiers are pairwise DISJOINT by construction
    # (each excludes all visited) and individually distinct, so the
    # union needs no dedup shuffle and no checkpoint of its own — the
    # anti-join probes a union of ≤ BFS_MAX_HOPS checkpointed legs.
    # (Previously visited carried its own distinct + eager checkpoint
    # per hop: one redundant shuffle and one redundant job × 4 hops.)
    visited = frontier
    layers = [
        frontier.select(
            "city_key", F.lit(0).cast("int").alias("hop"), "node"
        )
    ]
    for hop in range(1, BFS_MAX_HOPS + 1):
        # rename the frontier's columns before joining back to the edge
        # table it derives from (self-join lineage would be ambiguous)
        fr = frontier.select(
            F.col("city_key").alias("fc"), F.col("node").alias("fn")
        )
        nbrs = (
            fr.join(und, F.expr("city_key = fc AND a = fn"))
            .select("city_key", F.col("b").alias("node"))
            .distinct()
        )
        frontier = nbrs.join(
            visited.select(
                F.col("city_key").alias("vc"), F.col("node").alias("vn")
            ),
            F.expr("city_key = vc AND node = vn"),
            "left_anti",
        )
        if hop < BFS_MAX_HOPS:
            # the last layer never feeds back (no hop probes it, visited
            # is done) — checkpointing it would be one dead eager job +
            # materialization; it flows lazily into the final census
            frontier = frontier.localCheckpoint(eager=True)
            visited = visited.unionByName(frontier)
        layers.append(
            frontier.select(
                "city_key", F.lit(hop).cast("int").alias("hop"), "node"
            )
        )
    out = layers[0]
    for ly in layers[1:]:
        out = out.unionByName(ly)
    return out.groupBy("city_key", "hop").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


def cowitness_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-witness lift against the degree-preserving null model: for
    every hotspot pair, observed shared witnesses over the
    configuration-model expectation dₐ·d_b / n_witnesses — lift > 1
    means the pair co-occurs MORE than their popularity alone predicts
    (genuine co-location), the significance correction
    `co_witness_recommendations`' raw shared counts lack (popular
    hotspots co-occur with everyone).

    Determinism: shared counts, witness degrees and the per-city
    witness census are exact integers off the distinct edge set; lift
    is one division at the surface.

    Scale shape: pair weights come from the group-local projection;
    degrees and the census are keyed counts; two broadcast-sized joins
    per pair row.

    Bounded-emit path: :func:`cowitness_lift_capped` (registered,
    oracled) runs this same body over the CO_WITNESS_MAX_GROUP-capped
    projection; this bare name stays the documented oracle-exact demo
    (VERDICT r8 #2/#3 — found by the machine-checked convention sweep,
    `*_capped` = production, bare = demo).
    """
    return _cowitness_lift_body(spark, sf_dir, co_witness_pairs(spark, sf_dir))


def cowitness_lift_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`cowitness_lift` over the
    CO_WITNESS_MAX_GROUP-capped pair projection: pair generation (the
    only k²/2 term in this plan) is bounded at O(k·cap) while the null
    model's witness degrees and per-city witness census stay EXACT —
    they are cheap keyed counts off the distinct edge set with no emit
    problem.  Surviving pairs therefore carry exact expectations under
    an UNDERCOUNTED observed shared_witnesses (lift is a lower bound
    for pairs touched by the cap); drops accounted by
    :func:`co_witness_bucket_stats`."""
    return _cowitness_lift_body(
        spark, sf_dir, _co_witness_pairs_capped_cached(spark, sf_dir)
    )


def _cowitness_lift_body(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Configuration-model lift over an arbitrary co-witness pair table
    — shared by the exact and the capped registered forms.  Degrees and
    the witness census always come from the full edge set (the null
    model), only the observed pair weights vary with the projection."""
    edges = witness_arcs(spark, sf_dir)
    deg = edges.groupBy("city_key", "src").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    nw = (
        edges.select("city_key", "dst")
        .distinct()
        .groupBy("city_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_witnesses"))
    )
    da = deg.select(
        "city_key", F.col("src").alias("src_a"), F.col("d").alias("deg_a")
    )
    db = deg.select(
        "city_key", F.col("src").alias("src_b"), F.col("d").alias("deg_b")
    )
    return (
        pairs.join(da, ["city_key", "src_a"])
        .join(db, ["city_key", "src_b"])
        .join(F.broadcast(nw), "city_key")
        .select(
            "city_key",
            "src_a",
            "src_b",
            F.col("shared_witnesses").cast("bigint").alias(
                "shared_witnesses"
            ),
            "deg_a",
            "deg_b",
            "n_witnesses",
            F.round(
                F.expr(
                    "cast(shared_witnesses * n_witnesses as double)"
                    " / cast(deg_a * deg_b as double)"
                ),
                6,
            ).alias("lift"),
        )
    )
