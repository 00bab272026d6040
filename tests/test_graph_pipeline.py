"""Invariant + determinism tests for the per-city graph metrics pipeline
(J2/J3/J4 have no SQL oracle — these carry their correctness, SURVEY §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from helium_arango_etl_spark.operators.graph import city_graph_metrics, witness_subgraph
from helium_arango_etl_spark.session import clear_caches


@pytest.fixture(scope="module")
def metrics(spark, sf_dir):
    df = city_graph_metrics(spark, sf_dir)
    df.cache()
    df.count()
    yield df
    # unpersist so later plan-shape tests don't see an InMemoryTableScan
    df.unpersist()


def test_pagerank_sums_to_one_per_city(metrics):
    sums = metrics.groupBy("city_key").agg(F.sum("pagerank").alias("s")).collect()
    assert len(sums) > 0
    for r in sums:
        assert r["s"] == pytest.approx(1.0, abs=1e-6), r["city_key"]


def test_betweenness_nonnegative(metrics):
    assert metrics.filter(F.col("betweenness_centrality") < 0).count() == 0


def test_normalized_means_are_one(metrics):
    # pagerank_n = pagerank / city mean  =>  mean(pagerank_n) == 1 per city
    rows = metrics.groupBy("city_key").agg(F.avg("pagerank_n").alias("m")).collect()
    for r in rows:
        assert r["m"] == pytest.approx(1.0, abs=1e-6)


def test_min_city_size_threshold(spark, sf_dir, metrics):
    # every city with >= MIN_CITY_SIZE deduped edges appears; smaller ones don't
    from pyspark.sql import Window

    from helium_arango_etl_spark.operators.graph import MIN_CITY_SIZE

    edges = witness_subgraph(spark, sf_dir)
    w = Window.partitionBy("city_key", "src", "dst").orderBy(F.col("edge_ts").desc(), F.col("distance_m").desc())
    deduped = edges.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    counts = {r["city_key"]: r["c"] for r in deduped.groupBy("city_key").agg(F.count("*").alias("c")).collect()}
    emitted = {r["city_key"] for r in metrics.select("city_key").distinct().collect()}
    expected = {c for c, n in counts.items() if n >= MIN_CITY_SIZE}
    assert emitted == expected


def test_metrics_deterministic(spark, sf_dir, metrics):
    a = sorted(map(str, metrics.collect()))
    b = sorted(map(str, city_graph_metrics(spark, sf_dir).collect()))
    assert a == b


def test_metrics_rows_match_oracled_skeleton(spark, sf_dir, metrics):
    """city_graph_nodes is the oracled SQL skeleton of the driver-side
    numpy metrics: identical (city_key, address) row sets means the
    driver's hash check on the skeleton transitively pins the numpy path's
    grouping, threshold, and dedup behavior."""
    from helium_arango_etl_spark.operators.graph import city_graph_nodes

    skel = {(r["city_key"], r["address"]) for r in city_graph_nodes(spark, sf_dir).collect()}
    got = {(r["city_key"], r["address"]) for r in metrics.select("city_key", "address").collect()}
    assert got == skel


def test_city_pagerank_joins_sums_to_one_per_city(spark, sf_dir):
    """Declarative PageRank invariant: damped power iteration with dangling
    redistribution conserves probability mass — ranks in every city sum to
    ~1 (up to the per-iteration 9dp quantization)."""
    from pyspark.sql import functions as F

    from helium_arango_etl_spark.operators.graph import city_pagerank_joins

    sums = (
        city_pagerank_joins(spark, sf_dir)
        .groupBy("city_key")
        .agg(F.sum("pagerank").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sums
    for row in sums:
        assert abs(row["s"] - 1.0) < 1e-4, (row["city_key"], row["s"])


def test_witness_kcore_invariants(spark, sf_dir):
    """K-core invariants: every surviving node has degree >= K inside the
    core, the core is a subset of the input edge set, and peeling is
    idempotent (the core's own degrees already satisfy K, so one more
    round removes nothing)."""
    from pyspark.sql import functions as F

    from helium_arango_etl_spark.operators.graph import (
        KCORE_K,
        witness_kcore,
        witness_subgraph,
    )

    core = witness_kcore(spark, sf_dir)
    n_core = core.count()
    assert n_core > 0  # the sighting-count core is non-empty on the testdata
    assert n_core <= witness_subgraph(spark, sf_dir).select(
        "city_key", "src", "dst"
    ).count()
    deg = (
        core.select("city_key", F.col("src").alias("node"))
        .unionByName(core.select("city_key", F.col("dst").alias("node")))
        .groupBy("city_key", "node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    assert deg.filter(F.col("deg") < KCORE_K).count() == 0


def test_city_betweenness_joins_matches_pure_python_brandes(spark, sf_dir):
    """Cross-engine parity alone can't catch a shared algorithmic bug in
    the unrolled Brandes (Spark plan and oracle SQL are mirrors of each
    other), so pin the result against an INDEPENDENT textbook Brandes in
    pure Python over the same edges, source sample, radius bound, and
    nano-unit rounding."""
    import collections
    import hashlib

    from helium_arango_etl_spark.operators.graph import (
        BC_LEVELS,
        BC_SCALE,
        BC_SRC_K,
        city_betweenness_joins,
    )

    edges = {
        (r["city_key"], r["src"], r["dst"])
        for r in witness_subgraph(spark, sf_dir)
        .select("city_key", "src", "dst")
        .distinct()
        .collect()
    }
    adj = collections.defaultdict(lambda: collections.defaultdict(set))
    for ck, s, d in edges:
        adj[ck][s].add(d)
        adj[ck][d].add(s)

    expected = {}
    for ck, g in adj.items():
        dsum = collections.defaultdict(int)
        n_city = len(g)
        for s in g:
            if int(hashlib.md5(s.encode()).hexdigest()[:4], 16) * n_city >= 65536 * BC_SRC_K:
                continue
            dist = {s: 0}
            sigma = {s: 1}
            frontier = [s]
            order = []
            for lvl in range(1, BC_LEVELS + 1):
                grown = collections.defaultdict(int)
                for v in frontier:
                    for w in g[v]:
                        grown[w] += sigma[v]
                frontier = []
                for w, sg in grown.items():
                    if w not in dist:
                        dist[w] = lvl
                        sigma[w] = sg
                        frontier.append(w)
                        order.append(w)
            delta = collections.defaultdict(int)
            for v in reversed(order):
                for w in g[v]:
                    if dist.get(w) == dist[v] + 1:
                        delta[v] += round(
                            (sigma[v] / sigma[w]) * (float(BC_SCALE) + delta[w])
                        )
                dsum[v] += delta[v]
        for node in g:
            expected[(ck, node)] = round(dsum[node] / (2.0 * BC_SCALE), 6)

    got = {
        (r["city_key"], r["node"]): r["bc"]
        for r in city_betweenness_joins(spark, sf_dir).collect()
    }
    assert got.keys() == expected.keys()
    mismatches = {k: (got[k], expected[k]) for k in got if got[k] != expected[k]}
    assert not mismatches, list(mismatches.items())[:5]
    assert any(v > 0 for v in got.values())


def test_co_witness_cap_celebrity_fixture(spark):
    """Cap semantics on a constructed celebrity witness (VERDICT r5 #3):
    one witness with fan-in 20 under CO_WITNESS_MAX_GROUP=8 must emit
    pairs only inside src-contiguous chunks of 8/8/4 — C(8,2)·2 + C(4,2)
    = 62 pairs, never the 190 of the exact form — and the accounting
    math must report exactly the 128 dropped."""
    from helium_arango_etl_spark.operators.graph import (
        CO_WITNESS_MAX_GROUP,
        _co_pairs,
    )

    assert CO_WITNESS_MAX_GROUP == 8
    edges = spark.createDataFrame(
        [("c1", f"h{i:02d}", "celebrity") for i in range(20)]
        + [("c1", "h00", "w2"), ("c1", "h01", "w2")],
        "city_key string, src string, dst string",
    )
    capped = _co_pairs(edges, CO_WITNESS_MAX_GROUP).collect()
    exact = _co_pairs(edges).collect()

    assert sum(r["shared_witnesses"] for r in exact) == 190 + 1
    assert sum(r["shared_witnesses"] for r in capped) == 62 + 1

    # every surviving celebrity pair lives inside one chunk of 8
    chunk = lambda s: int(s[1:]) // CO_WITNESS_MAX_GROUP
    celeb_pairs = [
        (r["src_a"], r["src_b"])
        for r in capped
        if not (r["src_a"] == "h00" and r["src_b"] == "h01")
    ]
    assert all(chunk(a) == chunk(b) for a, b in celeb_pairs), celeb_pairs
    # the small witness survives untouched, stacking weight on (h00, h01)
    w = {(r["src_a"], r["src_b"]): r["shared_witnesses"] for r in capped}
    assert w[("h00", "h01")] == 2

    # accounting mirror: k=20 -> all=190, capped=62, dropped=128 (plus
    # the k=2 group: 1 pair, uncapped)
    m = CO_WITNESS_MAX_GROUP
    k = 20
    capped_math = (k // m) * (m * (m - 1) // 2) + (k % m) * (k % m - 1) // 2
    assert capped_math == 62


def test_capped_consumers_bounded_on_celebrity(spark):
    """The registered capped consumers (VERDICT r6 #2) inherit the
    bounded emit: on the same celebrity fixture, club degrees and
    butterfly counts computed from the capped pair set are strict lower
    bounds of the exact ones, and the capped pair count is exactly the
    chunked 62 + 1 — the property that keeps the family alive at 100 TB
    fan-ins."""
    from pyspark.sql import functions as F

    from helium_arango_etl_spark.operators.graph import (
        CO_WITNESS_MAX_GROUP,
        _co_pairs,
        _rich_club_body,
    )

    edges = spark.createDataFrame(
        [("c1", f"h{i:02d}", "celebrity") for i in range(20)]
        + [("c1", "h00", "w2"), ("c1", "h01", "w2")],
        "city_key string, src string, dst string",
    )
    capped = _co_pairs(edges, CO_WITNESS_MAX_GROUP)
    exact = _co_pairs(edges)
    assert capped.count() == 62 + 0  # (h00,h01) merges into one pair row
    assert exact.count() == 190

    # butterfly lower bound: sum C(w, 2) over pairs
    bf = lambda df: (
        df.agg(
            F.sum(F.expr("shared_witnesses * (shared_witnesses - 1) div 2"))
        ).collect()[0][0]
        or 0
    )
    assert bf(capped) <= bf(exact)

    # rich-club: capped max pair-degree is bounded by what 8-chunks emit
    # (each node pairs with at most 7 chunk-mates per witness + small
    # witnesses), while the exact form sees the full 19 + 1
    deg_max = lambda df: (
        _rich_club_body(df.select("city_key", "src_a", "src_b"))
        .agg(F.max("n_nodes"))
        .collect()[0][0]
    )
    exact_deg = (
        exact.select(F.col("src_a").alias("n"))
        .unionByName(exact.select(F.col("src_b").alias("n")))
        .groupBy("n")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    capped_deg = (
        capped.select(F.col("src_a").alias("n"))
        .unionByName(capped.select(F.col("src_b").alias("n")))
        .groupBy("n")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # h00/h01: 19 distinct celebrity partners (the extra w2 co-sighting
    # merges into the existing (h00, h01) pair row as weight, not a row)
    assert exact_deg == 19
    assert capped_deg <= CO_WITNESS_MAX_GROUP  # chunk-mates only (7) + w2 (1)
    assert deg_max(capped) <= deg_max(exact)


def test_round8_capped_twins_bounded_on_celebrity(spark):
    """The round-8 capped twins (VERDICT r7 #3: adamic-adar, local
    clustering, k-truss) inherit the bounded emit on the celebrity
    fixture: projection degrees are chunk-bounded, the capped truss is a
    subgraph of the exact truss, and the capped adamic-adar actually
    FINDS cross-chunk candidates the exact near-clique cannot have."""
    from pyspark.sql import functions as F

    from helium_arango_etl_spark.operators.graph import (
        CO_WITNESS_MAX_GROUP,
        _adamic_adar_body,
        _co_pairs,
        _ktruss_body,
        _local_clustering_body,
    )

    # celebrity fan-in 20, a small witness (w2), and a BRIDGE witness
    # (w3) whose pair crosses the 8-chunk boundary — without it the
    # capped projection is a disjoint union of chunk-cliques and
    # adamic-adar is trivially empty on both sides
    edges = spark.createDataFrame(
        [("c1", f"h{i:02d}", "celebrity") for i in range(20)]
        + [("c1", "h00", "w2"), ("c1", "h01", "w2")]
        + [("c1", "h07", "w3"), ("c1", "h08", "w3")],
        "city_key string, src string, dst string",
    )
    exact = _co_pairs(edges).localCheckpoint()
    capped = _co_pairs(edges, CO_WITNESS_MAX_GROUP).localCheckpoint()

    ab = lambda p: p.select(
        "city_key", F.col("src_a").alias("a"), F.col("src_b").alias("b")
    )

    # local clustering: capped projection degree is chunk-bounded
    # (7 chunk-mates + the w2 partner), exact sees the full 19
    lcc_exact = {r["node"]: r for r in _local_clustering_body(ab(exact)).collect()}
    lcc_capped = {r["node"]: r for r in _local_clustering_body(ab(capped)).collect()}
    assert max(r["degree"] for r in lcc_exact.values()) == 19
    assert max(r["degree"] for r in lcc_capped.values()) <= CO_WITNESS_MAX_GROUP
    assert all(
        lcc_capped[n]["n_triangles"] <= lcc_exact[n]["n_triangles"]
        for n in lcc_capped
    )

    # k-truss: peeling is monotone in the edge set, so the capped truss
    # is a subgraph of the exact truss with lower-bound supports
    tr_exact = {
        (r["city_key"], r["src_a"], r["src_b"]): r["support"]
        for r in _ktruss_body(exact).collect()
    }
    tr_capped = {
        (r["city_key"], r["src_a"], r["src_b"]): r["support"]
        for r in _ktruss_body(capped).collect()
    }
    assert set(tr_capped) <= set(tr_exact)
    assert all(tr_capped[k] <= tr_exact[k] for k in tr_capped)

    # adamic-adar + common-neighbor recs: the exact projection of one
    # celebrity witness is a near-clique (every pair adjacent -> zero
    # non-adjacent candidates); the capped projection leaves cross-chunk
    # pairs non-adjacent, so candidates exist and every one avoids the
    # capped adjacency
    from helium_arango_etl_spark.operators.graph import _co_witness_recs_body

    assert _adamic_adar_body(exact).count() == 0
    assert _co_witness_recs_body(exact).count() == 0
    adj_capped = {
        (r["src_a"], r["src_b"]) for r in capped.collect()
    } | {(r["src_b"], r["src_a"]) for r in capped.collect()}
    for body in (_adamic_adar_body, _co_witness_recs_body):
        got = body(capped).collect()
        assert got, f"{body.__name__} should find cross-chunk candidates"
        for r in got:
            assert (r["src"], r["rec"]) not in adj_capped
            assert r["rank"] >= 1

    # the remaining bounded-emit bodies (registered as capped twins in
    # round 9 — city_triangle_stats_capped, degree_assortativity_capped,
    # contrastive_pairs_capped): triangle census, assortativity,
    # contrastive sampling
    from helium_arango_etl_spark.operators.graph import (
        _assortativity_body,
        _contrastive_pairs_body,
        _triangle_stats_body,
    )

    tri_exact = {r["city_key"]: r for r in _triangle_stats_body(exact).collect()}
    tri_capped = {r["city_key"]: r for r in _triangle_stats_body(capped).collect()}
    assert tri_capped["c1"]["n_triangles"] <= tri_exact["c1"]["n_triangles"]
    assert tri_capped["c1"]["n_proj_edges"] <= tri_exact["c1"]["n_proj_edges"]
    assert _assortativity_body(capped).count() == 1
    cp = _contrastive_pairs_body(capped).collect()
    assert all(r["label"] in (0, 1) for r in cp)

    # tip support: the capped per-round support is a lower bound, so the
    # capped peel removes a superset of hotspots (monotone peel)
    from helium_arango_etl_spark.operators.graph import _tip_support

    sup_exact = {
        (r["city_key"], r["node"]): r["support"]
        for r in _tip_support(edges).collect()
    }
    sup_capped = {
        (r["city_key"], r["node"]): r["support"]
        for r in _tip_support(edges, CO_WITNESS_MAX_GROUP).collect()
    }
    assert set(sup_capped) <= set(sup_exact)
    assert all(sup_capped[k] <= sup_exact[k] for k in sup_capped)


def test_exact_demo_convention_is_closed():
    """Machine check of the capped-vs-exact registry convention
    (VERDICT r8 #3): sweep every registered graph-module query's source
    for the uncapped co-witness projection accessors; the flagged set
    must equal EXACT_DEMO_QUERIES exactly, and every demo's `*_capped`
    production twin must be registered AND oracled and actually ride
    the capped projection.  A new consumer that silently defaults onto
    the k²/2 exact projection fails here; so does a demo entry whose
    twin went missing."""
    import inspect
    import re

    import helium_arango_etl_spark.operators.graph as G
    from helium_arango_etl_spark.registry import (
        EXACT_DEMO_QUERIES,
        ORACLE,
        QUERIES,
    )

    flagged = set()
    for name, fn in QUERIES.items():
        if getattr(fn, "__module__", "") != G.__name__:
            continue
        src = inspect.getsource(fn)
        if re.search(r"\bco_witness_pairs\(spark", src):
            flagged.add(name)
            continue
        # an uncapped direct pair/support/peel call (single-arg
        # _co_pairs/_tip_support, or _tip_body without a cap argument)
        for m in re.finditer(r"\b(_co_pairs|_tip_support)\(([^)]*)\)", src):
            if "," not in m.group(2):
                flagged.add(name)
        if re.search(r"\b_tip_body\(\s*spark,\s*sf_dir\s*\)", src):
            flagged.add(name)

    assert flagged == set(EXACT_DEMO_QUERIES), (
        f"unmarked exact-projection consumers: {sorted(flagged - set(EXACT_DEMO_QUERIES))}; "
        f"stale demo entries: {sorted(set(EXACT_DEMO_QUERIES) - flagged)}"
    )
    for demo, twin in EXACT_DEMO_QUERIES.items():
        assert twin in QUERIES, f"{demo}: production twin {twin} not registered"
        assert twin in ORACLE, f"{demo}: production twin {twin} not oracled"
        twin_src = inspect.getsource(QUERIES[twin])
        assert (
            "_co_witness_pairs_capped_cached" in twin_src
            or "CO_WITNESS_MAX_GROUP" in twin_src
        ), f"{twin}: does not ride the capped projection"


def test_round9_capped_twins_bounded_on_celebrity(spark):
    """The round-9 registered twins (transitivity, lift) inherit the
    bounded emit on the celebrity fixture: capped wedge/triangle counts
    are lower bounds, and capped lift rows keep EXACT null-model
    degrees under an undercounted observed weight."""
    from pyspark.sql import functions as F

    from helium_arango_etl_spark.operators.graph import (
        CO_WITNESS_MAX_GROUP,
        _city_transitivity_body,
        _co_pairs,
    )

    edges = spark.createDataFrame(
        [("c1", f"h{i:02d}", "celebrity") for i in range(20)]
        + [("c1", "h00", "w2"), ("c1", "h01", "w2")],
        "city_key string, src string, dst string",
    )
    exact = _co_pairs(edges).localCheckpoint()
    capped = _co_pairs(edges, CO_WITNESS_MAX_GROUP).localCheckpoint()

    tr_exact = _city_transitivity_body(exact).collect()[0]
    tr_capped = _city_transitivity_body(capped).collect()[0]
    assert tr_capped["wedges"] <= tr_exact["wedges"]
    assert tr_capped["triangles"] <= tr_exact["triangles"]
    # the exact projection of one celebrity witness is a clique:
    # transitivity 1.0; the capped one keeps only chunk-cliques, still
    # internally transitive
    assert tr_exact["transitivity"] == 1.0

    # lift twin: deg/nw come from the edge set (exact null model, its
    # per-SF parity is pinned by the oracle), so the capped-vs-exact
    # delta is entirely in the pair weights — the surviving capped
    # weights are an exact-form subset with undercounted counts
    w_exact = {
        (r["src_a"], r["src_b"]): r["shared_witnesses"] for r in exact.collect()
    }
    w_capped = {
        (r["src_a"], r["src_b"]): r["shared_witnesses"] for r in capped.collect()
    }
    assert set(w_capped) <= set(w_exact)
    assert all(w_capped[k] <= w_exact[k] for k in w_capped)


def test_exact_demo_guard_refuses_hub_corpus(spark, tmp_path, monkeypatch):
    """The exact-demo scale guard (VERDICT r9 #7): on a corpus whose
    projection-degree bound crosses EXACT_DEMO_MAX_FANIN, the bare demo
    names refuse with a pointer to the capped twin; the capped twins
    keep working; SPARK_GRAFT_ALLOW_EXACT_DEMO=1 opts back in.  The
    fixture is the hub-star shape: every witness group has size 2 (the
    fan-in metric alone stays tiny) but the hub's Σ(|g|−1) = 1100."""
    import datetime

    import pytest as _pytest

    from helium_arango_etl_spark.operators import graph as G

    n = 1100
    sf = str(tmp_path)
    ts = datetime.datetime(2024, 1, 1)
    li = [(i, 1, "N", ts) for i in range(n)] + [
        (i, 100 + i, "N", ts) for i in range(n)
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_suppkey long, l_returnflag string,"
        " l_shipdate timestamp",
    ).write.parquet(sf + "/lineitem.parquet")
    spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "o_orderkey long, o_custkey long"
    ).write.parquet(sf + "/orders.parquet")
    spark.createDataFrame(
        [(s, 0) for s in [1] + [100 + i for i in range(n)]],
        "s_suppkey long, s_nationkey long",
    ).write.parquet(sf + "/supplier.parquet")
    spark.createDataFrame(
        [(0, "NATION0", 0)], "n_nationkey long, n_name string, n_regionkey long"
    ).write.parquet(sf + "/nation.parquet")
    spark.createDataFrame(
        [(0, "R0")], "r_regionkey long, r_name string"
    ).write.parquet(sf + "/region.parquet")

    monkeypatch.delenv(G.ALLOW_EXACT_DEMO_ENV, raising=False)
    clear_caches(spark)
    with _pytest.raises(RuntimeError, match="co_witness_pairs_capped"):
        G.co_witness_pairs(spark, sf)
    with _pytest.raises(RuntimeError, match="tip_decomposition_capped"):
        G.tip_decomposition(spark, sf)
    # the bounded production twins keep working on the same corpus
    assert G.co_witness_pairs_capped(spark, sf).count() == n
    assert G.neighbor_cap_stats(spark, sf).collect()[0]["max_proj_degree"] == n

    # explicit opt-in restores the demo (fresh caches so the guard re-runs)
    monkeypatch.setenv(G.ALLOW_EXACT_DEMO_ENV, "1")
    clear_caches(spark)
    assert G.co_witness_pairs(spark, sf).count() == n
    G.clear_edge_cache(spark)

    # the corpus-squared ANN demo has the same guard on vector count
    from helium_arango_etl_spark.operators import similarity as S

    from pyspark.sql import functions as F

    sf2 = str(tmp_path / "emb")
    spark.range(S.EXACT_DEMO_MAX_VECTORS + 1).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64),"
            " i -> cast((id % i) + 1 as double))"
        ).alias("embedding"),
        F.lit("l").alias("label"),
    ).write.parquet(sf2 + "/embeddings.parquet")
    monkeypatch.delenv(G.ALLOW_EXACT_DEMO_ENV, raising=False)
    S.clear_emb_cache(spark)
    with _pytest.raises(RuntimeError, match="mutual_knn_graph_lsh"):
        S.mutual_knn_graph(spark, sf2)
    S.clear_emb_cache(spark)


def test_neighbor_cap_bounds_projection_hub(spark):
    """Per-node neighbor cap on the 2-hop consumers (VERDICT r9 #3): a
    PROJECTION hub — one node co-witnessed with a distinct partner in 30
    small groups, so the GROUP cap never binds but projection degree is
    30 > PROJ_NEIGHBOR_CAP — must have its h1⋈h2 expansion truncated to
    its 16 smallest-id neighbors, with the emit matching the
    keepers(m)·out_deg(m) accounting exactly, while middle WEIGHTS keep
    the exact degree (ln 30, not ln 16)."""
    import math

    from pyspark.sql import functions as F

    from helium_arango_etl_spark.operators.graph import (
        PROJ_NEIGHBOR_CAP,
        _adamic_adar_body,
        _capped_adjacency,
        _co_pairs,
        _co_witness_recs_body,
        _symmetrized_adjacency,
    )

    assert PROJ_NEIGHBOR_CAP == 16
    n = 30
    edges = spark.createDataFrame(
        [("c1", "hub", f"w{i:02d}") for i in range(n)]
        + [("c1", f"p{i:02d}", f"w{i:02d}") for i in range(n)],
        "city_key string, src string, dst string",
    )
    # every witness group has size 2: the group cap (8) never binds, so
    # capped pairs == exact pairs — the hub's degree survives to the
    # projection untouched
    pairs = _co_pairs(edges, 8).localCheckpoint()
    assert pairs.count() == n
    adj = _symmetrized_adjacency(pairs).localCheckpoint()
    hop = _capped_adjacency(adj, PROJ_NEIGHBOR_CAP).localCheckpoint()

    # hub keeps exactly its 16 smallest partners; every partner keeps hub
    kept = sorted(
        r["b"] for r in hop.filter(F.col("a") == "hub").collect()
    )
    assert kept == [f"p{i:02d}" for i in range(PROJ_NEIGHBOR_CAP)]
    assert hop.filter(F.col("b") == "hub").count() == n

    # exact emit Σ deg² = 30² + 30·1²; capped emit = keepers·out_deg
    # summed: hub 30·16 + 16 partners kept by hub at 1·1 each
    h1 = adj.select("city_key", F.col("a").alias("src"), F.col("b").alias("m"))
    h2 = adj.select("city_key", F.col("a").alias("m"), F.col("b").alias("rec"))
    assert h1.join(h2, ["city_key", "m"]).count() == n * n + n
    c1 = hop.select("city_key", F.col("a").alias("src"), F.col("b").alias("m"))
    c2 = hop.select("city_key", F.col("a").alias("m"), F.col("b").alias("rec"))
    capped_emit = c1.join(c2, ["city_key", "m"]).count()
    assert capped_emit == n * PROJ_NEIGHBOR_CAP + PROJ_NEIGHBOR_CAP
    # ...which is what neighbor_cap_stats' keepers⋈out_deg ledger prices
    keep = hop.groupBy(F.col("b").alias("m")).count().withColumnRenamed(
        "count", "keepers"
    )
    lst = hop.groupBy(F.col("a").alias("m")).count().withColumnRenamed(
        "count", "out_deg"
    )
    priced = (
        keep.join(lst, "m")
        .agg(F.sum(F.expr("keepers * out_deg")))
        .collect()[0][0]
    )
    assert priced == capped_emit

    # capped recs: every partner still reaches the hub middle (its own
    # 1-entry list survives the cap), but the hub's OUT-list is
    # truncated, so recommendation targets collapse to the 16 kept
    # partners — and every (src, rec) pair the capped form emits exists
    # in the exact one
    rec_exact = _co_witness_recs_body(pairs).collect()
    rec_capped = _co_witness_recs_body(
        pairs, neighbor_cap=PROJ_NEIGHBOR_CAP
    ).collect()
    pe = {(r["src"], r["rec"]) for r in rec_exact}
    pc = {(r["src"], r["rec"]) for r in rec_capped}
    assert pc <= pe
    assert {r["src"] for r in rec_capped} == {f"p{i:02d}" for i in range(n)}
    assert {r["rec"] for r in rec_capped} <= {
        f"p{i:02d}" for i in range(PROJ_NEIGHBOR_CAP)
    }
    assert {r["src"] for r in rec_exact} == {f"p{i:02d}" for i in range(n)}
    assert all(r["shared_partners"] == 1 for r in rec_capped)

    # capped adamic-adar: same truncation shape, and the 1/ln(deg)
    # weight uses the EXACT hub degree 30 — truncation changes which
    # paths are enumerated, never the middle's weight
    aa_capped = _adamic_adar_body(pairs, neighbor_cap=PROJ_NEIGHBOR_CAP).collect()
    assert {r["src"] for r in aa_capped} == {f"p{i:02d}" for i in range(n)}
    assert {r["rec"] for r in aa_capped} <= {
        f"p{i:02d}" for i in range(PROJ_NEIGHBOR_CAP)
    }
    want = round(round(1_000_000.0 / math.log(float(n))) / 1_000_000.0, 6)
    assert all(r["aa_score"] == want for r in aa_capped)


@pytest.mark.parametrize("seed", [3, 17, 41])
def test_capped_pairs_invariants_random_bipartite(spark, seed):
    """Cap-vs-exact invariants on varied bipartite edge sets: the capped
    pair set is a subset of the exact one, every capped weight is a
    lower bound of its exact weight, and the per-group accounting
    formula (co_witness_bucket_stats' capped_pairs math) predicts the
    capped distinct-pair count exactly."""
    import random

    from helium_arango_etl_spark.operators.graph import (
        CO_WITNESS_MAX_GROUP,
        _co_pairs,
    )

    rng = random.Random(seed)
    rows = sorted(
        {
            (f"c{rng.randrange(2)}", f"s{rng.randrange(30):02d}", f"w{rng.randrange(6)}")
            for _ in range(220)
        }
    )
    edges = spark.createDataFrame(rows, "city_key string, src string, dst string")
    exact = {
        (r["city_key"], r["src_a"], r["src_b"]): r["shared_witnesses"]
        for r in _co_pairs(edges).collect()
    }
    capped = {
        (r["city_key"], r["src_a"], r["src_b"]): r["shared_witnesses"]
        for r in _co_pairs(edges, CO_WITNESS_MAX_GROUP).collect()
    }
    assert set(capped) <= set(exact)
    assert all(capped[k] <= exact[k] for k in capped)

    # accounting: per-(city, dst) group of size k, the chunked form emits
    # (k div m)*C(m,2) + C(k mod m, 2) pairs; summed over groups this must
    # equal the total capped pair EMISSIONS (= sum of capped weights)
    m = CO_WITNESS_MAX_GROUP
    from collections import Counter

    sizes = Counter((c, d) for c, _, d in rows)
    expected = sum(
        (k // m) * (m * (m - 1) // 2) + (k % m) * (k % m - 1) // 2
        for k in sizes.values()
    )
    assert sum(capped.values()) == expected
    assert sum(exact.values()) == sum(k * (k - 1) // 2 for k in sizes.values())


@pytest.mark.parametrize("sf01", ["/root/testdata/sf0.1"])
def test_sf01_witness_components_partition_invariants(spark, sf01):
    """witness_components' DuckDB oracle is container-infeasible at sf0.1
    (recursive CTE spills >70 GB — COVERAGE.md round-7 note), so pin the
    sf0.1 behavior Spark-side: components PARTITION the node set, every
    edge's endpoints share a component id, and the component id is the
    component's minimum node (the canonical-label convention)."""
    from pyspark.sql import functions as F

    from helium_arango_etl_spark.operators.graph import (
        witness_components,
        witness_subgraph,
    )

    comp = witness_components(spark, sf01).localCheckpoint()
    edges = (
        witness_subgraph(spark, sf01).select("city_key", "src", "dst").distinct()
    )
    nodes = (
        edges.select("city_key", F.col("src").alias("node"))
        .unionByName(edges.select("city_key", F.col("dst").alias("node")))
        .distinct()
    )
    # partition: every node appears exactly once
    assert comp.count() == nodes.count()
    assert comp.groupBy("city_key", "node").count().filter("count > 1").count() == 0
    # edge consistency: both endpoints in one component
    ca = comp.select(
        "city_key", F.col("node").alias("src"), F.col("component_id").alias("cs")
    )
    cb = comp.select(
        "city_key", F.col("node").alias("dst"), F.col("component_id").alias("cd")
    )
    bad = (
        edges.join(ca, ["city_key", "src"]).join(cb, ["city_key", "dst"])
        .filter(F.col("cs") != F.col("cd"))
        .count()
    )
    assert bad == 0
    # canonical label: the id is the MIN-ENCODED member (suppkey·2 /
    # custkey·2+1 — the operator's integer encoding, not string order)
    enc = (
        "IF(substring(node, 1, 1) = 'S',"
        " cast(substring(node, 2) as bigint) * 2,"
        " cast(substring(node, 2) as bigint) * 2 + 1)"
    )
    mins = (
        comp.withColumn("e", F.expr(enc))
        .groupBy("city_key", "component_id")
        .agg(F.min("e").alias("me"))
    )
    enc_id = enc.replace("node", "component_id")
    assert mins.filter(F.expr(enc_id) != F.col("me")).count() == 0
    # and the id is itself a member of its component
    member = comp.select("city_key", F.col("component_id").alias("cid"), "node")
    ids = comp.select("city_key", F.col("component_id").alias("cid")).distinct()
    orphan = ids.join(
        member.filter(F.col("cid") == F.col("node")), ["city_key", "cid"], "left_anti"
    )
    assert orphan.count() == 0


@pytest.mark.parametrize("sf01", ["/root/testdata/sf0.1"])
def test_sf01_city_hits_joins_agrees_with_pandas_twin(spark, sf01):
    """city_hits_joins' unrolled-HITS oracle is container-infeasible at
    sf0.1, so cross-check the declarative form against the INDEPENDENT
    driver-side numpy HITS path (city_hits) at sf0.1 instead: same row set,
    and scores agree within the per-step 9dp-quantization drift."""
    from pyspark.sql import functions as F

    from helium_arango_etl_spark.operators.graph import city_hits, city_hits_joins

    a = {
        (r["city_key"], r["node"]): (r["hub_score"], r["authority_score"])
        for r in city_hits_joins(spark, sf01).collect()
    }
    b = {
        (r["city_key"], r["address"]): (r["hub_score"], r["authority_score"])
        for r in city_hits(spark, sf01).collect()
    }
    shared = set(a) & set(b)
    # the numpy path drops sub-threshold cities; joins form covers all
    assert shared == set(b)
    assert len(shared) > 0
    # the joins form is a FIXED-iteration contract (HITS_ITERS steps,
    # exactness pinned by its DuckDB oracle at sf0.001/0.01) while the
    # numpy path power-iterates to convergence — so agreement is an
    # envelope + correlation check, not bit equality
    worst = max(
        max(abs(a[k][0] - b[k][0]), abs(a[k][1] - b[k][1])) for k in shared
    )
    assert worst < 0.05, worst
    import statistics

    ks = sorted(shared)
    for i in (0, 1):  # hub, authority
        xs = [a[k][i] for k in ks]
        ys = [b[k][i] for k in ks]
        r = statistics.correlation(xs, ys)
        # measured truncation gap at sf0.1: hub r≈0.999, authority
        # r≈0.986 — the bar catches sign flips, normalization bugs and
        # dropped rows, not the known fixed-iteration truncation
        assert r > 0.97, (i, r)
