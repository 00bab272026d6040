"""Closed-form and invariant tests for the native graph algorithms
(these replace networkx, so they carry the J2/J3 correctness burden —
SURVEY.md §5 item 2)."""

from __future__ import annotations

import math

import pytest

from helium_arango_etl_spark.functions import graphalgs
from helium_arango_etl_spark.functions.graphalgs import ArcGraph


# the toy graphs below are (src, dst, weight) edge lists checked per node
# name: these wrap the array-valued algorithms into {node: score} maps
def _graph(edges):
    return ArcGraph.from_arcs(*(zip(*edges) if edges else ((), (), ())))


def _by_node(graph, scores):
    return {node: float(v) for node, v in zip(graph.nodes, scores)}


def pagerank(edges):
    g = _graph(edges)
    return _by_node(g, graphalgs.pagerank(g))


def betweenness_centrality(edges):
    g = _graph(edges)
    return _by_node(g, graphalgs.betweenness_centrality(g))


def hits(edges):
    g = _graph(edges)
    hubs, auths = graphalgs.hits(g)
    return _by_node(g, hubs), _by_node(g, auths)


def test_pagerank_two_cycle():
    pr = pagerank([("a", "b", 1.0), ("b", "a", 1.0)])
    assert pr["a"] == pytest.approx(0.5, abs=1e-9)
    assert pr["b"] == pytest.approx(0.5, abs=1e-9)


def test_pagerank_sums_to_one_with_dangling():
    pr = pagerank([("a", "b", 1.0)])  # b is dangling
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-9)
    assert pr["b"] > pr["a"]


def test_pagerank_weight_sensitivity():
    # a splits rank 3:1 between b and c — heavier arc gets more
    pr = pagerank([("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)])
    assert pr["b"] > pr["c"]
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-8)
    # the rank above teleport baseline should split exactly 3:1 (n=3 nodes)
    extra_b = pr["b"] - (1 - 0.85) / 3
    extra_c = pr["c"] - (1 - 0.85) / 3
    assert extra_b / extra_c == pytest.approx(3.0, rel=1e-4)


def test_pagerank_duplicate_arc_last_wins():
    # DiGraph.add_weighted_edges_from overwrites the weight for dup arcs
    a = pagerank([("a", "b", 9.0), ("a", "c", 1.0), ("a", "b", 1.0)])
    b = pagerank([("a", "b", 1.0), ("a", "c", 1.0)])
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_betweenness_path3():
    # a->b->c: b carries the single (a,c) shortest path; scale 1/((3-1)(3-2))=1/2
    bc = betweenness_centrality([("a", "b", 1.0), ("b", "c", 1.0)])
    assert bc["b"] == pytest.approx(0.5, abs=1e-12)
    assert bc["a"] == 0.0 and bc["c"] == 0.0


def test_betweenness_path4():
    bc = betweenness_centrality([("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)])
    # b on (a,c),(a,d); c on (a,d),(b,d); scale 1/(3*2)
    assert bc["b"] == pytest.approx(2 / 6, abs=1e-12)
    assert bc["c"] == pytest.approx(2 / 6, abs=1e-12)


def test_betweenness_split_paths():
    # two equal-length paths a->{b,c}->d: each intermediate carries 0.5 of (a,d)
    bc = betweenness_centrality(
        [("a", "b", 1.0), ("a", "c", 1.0), ("b", "d", 1.0), ("c", "d", 1.0)]
    )
    assert bc["b"] == pytest.approx(0.5 / 6, abs=1e-12)
    assert bc["c"] == pytest.approx(0.5 / 6, abs=1e-12)


def test_betweenness_exact_above_a_thousand_nodes():
    # 800 sources -> 10 hubs -> 800 sinks, each hub serving its own 80
    # sources and 80 sinks: a hub lies on the one shortest path of each of
    # its 80*80 (source, sink) pairs, and no other node lies inside a path
    hubs, fan = 10, 80
    edges = [
        (f"{end}{h:02d}_{i:02d}", f"h{h:02d}", 1.0)
        if end == "a"
        else (f"h{h:02d}", f"{end}{h:02d}_{i:02d}", 1.0)
        for h in range(hubs)
        for i in range(fan)
        for end in ("a", "z")
    ]
    bc = betweenness_centrality(edges)
    n = len(bc)
    assert n == 2 * hubs * fan + hubs == 1610
    expected = fan * fan / ((n - 1) * (n - 2))
    assert expected == pytest.approx(0.002474, abs=1e-6)
    for node, v in bc.items():
        assert v == pytest.approx(expected if node[0] == "h" else 0.0, abs=1e-15), node


def test_tiny_graphs_zero():
    assert betweenness_centrality([("a", "b", 1.0)]) == {"a": 0.0, "b": 0.0}
    assert pagerank([]) == {}
    assert betweenness_centrality([]) == {}


def test_pagerank_no_nan():
    pr = pagerank([("a", "a", 1.0)])  # self-loop
    assert not any(math.isnan(v) for v in pr.values())


def test_hits_star():
    # hub h points at a,b,c: h is the only hub; a,b,c equal authorities
    hubs, auths = hits([("h", "a", 1.0), ("h", "b", 1.0), ("h", "c", 1.0)])
    assert hubs["h"] == pytest.approx(1.0, abs=1e-9)
    assert hubs["a"] == hubs["b"] == hubs["c"] == 0.0
    for k in ("a", "b", "c"):
        assert auths[k] == pytest.approx(1 / 3, abs=1e-9)
    assert sum(hubs.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(auths.values()) == pytest.approx(1.0, abs=1e-9)


def test_hits_two_cycle_symmetric():
    hubs, auths = hits([("a", "b", 1.0), ("b", "a", 1.0)])
    assert hubs["a"] == pytest.approx(hubs["b"], abs=1e-9)
    assert auths["a"] == pytest.approx(auths["b"], abs=1e-9)


def test_hits_empty():
    assert hits([]) == ({}, {})


def test_city_metrics_match_networkx(spark, sf_dir):
    """Every city of the smoke data through combined_city_metrics against
    networkx on the same keep-latest graph: betweenness with
    ``nx.betweenness_centrality``, PageRank with the pure-Python
    ``_pagerank_python`` (``nx.pagerank`` needs scipy) and HITS with
    ``_hits_python`` on the graph without weights (J5 semantics)."""
    nx = pytest.importorskip("networkx")
    from networkx.algorithms.link_analysis.hits_alg import _hits_python
    from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

    from helium_arango_etl_spark.operators.graph import (
        MIN_CITY_SIZE,
        combined_city_metrics,
        witness_subgraph,
    )

    edges = (
        witness_subgraph(spark, sf_dir)
        .toPandas()
        .sort_values(["city_key", "src", "dst", "edge_ts", "distance_m"])
        .drop_duplicates(["city_key", "src", "dst"], keep="last")
    )
    got = {
        (r["city_key"], r["address"]): r
        for r in combined_city_metrics(spark, sf_dir).collect()
    }
    want_keys = set()
    cities = 0
    for city, arcs in edges.groupby("city_key"):
        if len(arcs) < MIN_CITY_SIZE:
            continue
        cities += 1
        weighted = nx.DiGraph()
        weighted.add_weighted_edges_from(arcs[["src", "dst", "distance_m"]].itertuples(index=False))
        unweighted = nx.DiGraph(list(zip(arcs["src"], arcs["dst"])))
        bc = nx.betweenness_centrality(weighted)
        pg = _pagerank_python(weighted)
        hubs, auths = _hits_python(unweighted)
        for node in weighted:
            want_keys.add((city, node))
            row = got[(city, node)]
            assert row["betweenness_centrality"] == pytest.approx(bc[node], abs=1e-12)
            assert row["pagerank"] == pytest.approx(pg[node], abs=1e-12)
            assert row["hub_score"] == pytest.approx(hubs[node], abs=1e-12)
            assert row["authority_score"] == pytest.approx(auths[node], abs=1e-12)
    assert cities > 0
    assert set(got) == want_keys


def test_h3_fallback_latlng_null_safe(spark):
    from helium_arango_etl_spark.functions.h3geo import geojson_point, h3_to_latlng

    df = spark.createDataFrame(
        [("8828308281fffff",), ("8828308281fffff",), (None,)], ["cell"]
    )
    rows = df.select(h3_to_latlng("cell").alias("ll"), geojson_point(df.cell).alias("pt")).collect()
    # deterministic, valid ranges, identical for identical cells
    assert rows[0]["ll"] == rows[1]["ll"]
    assert -90 <= rows[0]["ll"]["lat"] <= 90 and -180 <= rows[0]["ll"]["lon"] <= 180
    # GeoJSON coordinate order is [lon, lat]
    assert rows[0]["pt"]["coordinates"] == [rows[0]["ll"]["lon"], rows[0]["ll"]["lat"]]
    # null cell -> null coordinates (reference's TypeError branch)
    assert rows[2]["ll"]["lat"] is None and rows[2]["pt"]["coordinates"] is None


# Golden vectors from the public h3 documentation (h3geo.org quickstart /
# API reference): cell id -> approximate cell-center latlng.  Coordinates
# are doc-rounded, so the tolerance is loose; the EXACT check is
# UDF-vs-library equality below.
H3_GOLDEN = [
    ("85283473fffffff", 37.345793, -122.037630),  # res-5, Silicon Valley
    ("8928308280fffff", 37.776702, -122.418459),  # res-9, San Francisco
]


def test_h3_real_cell_decode(spark):
    """Real-library path of the H5 gate, exercised THROUGH the Spark pandas
    UDF (not just the library): golden cells from the public h3 spec must
    decode to their published centers, the UDF must agree with
    h3.cell_to_latlng exactly, and a latlng->cell->latlng roundtrip must
    land on the same cell.  Skipped where h3 is absent (the fallback path
    has its own tests)."""
    import pytest

    from helium_arango_etl_spark.functions.h3geo import _HAVE_H3, h3_to_latlng

    if not _HAVE_H3:
        pytest.skip("h3 not installed in this container")
    import h3

    df = spark.createDataFrame([(c,) for c, _, _ in H3_GOLDEN], ["cell"])
    got = {
        r["cell"]: (r["ll"]["lat"], r["ll"]["lon"])
        for r in df.select("cell", h3_to_latlng("cell").alias("ll")).collect()
    }
    for cell, glat, glon in H3_GOLDEN:
        lat, lon = got[cell]
        # exact: the UDF used the real library, not the md5 fallback
        assert (lat, lon) == h3.cell_to_latlng(cell)
        # golden: published center within doc-rounding tolerance
        assert abs(lat - glat) < 1e-3 and abs(lon - glon) < 1e-3, (cell, lat, lon)
        # roundtrip at the cell's own resolution
        assert h3.latlng_to_cell(lat, lon, h3.get_resolution(cell)) == cell


def test_h3_fallback_is_deterministic_and_in_range():
    from helium_arango_etl_spark.functions.h3geo import _fallback_latlng

    lat, lon = _fallback_latlng("not-a-real-cell")
    assert _fallback_latlng("not-a-real-cell") == (lat, lon)
    assert -90.0 <= lat <= 90.0 and -180.0 <= lon <= 180.0
