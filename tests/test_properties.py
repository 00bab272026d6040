"""Property-based tests (hypothesis).

graphalgs carry the J2/J3 correctness burden with no oracle — here they are
checked against independent brute-force implementations on random small
graphs.  Merge sinks are checked for their algebraic contracts on random
keyed tables (slow path: few examples, Spark per example).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from .test_graphalgs import betweenness_centrality, pagerank

# --- random small digraphs: list of (u, v, w) over <= 8 nodes ---

edges_strategy = st.lists(
    st.tuples(
        st.integers(0, 7).map(lambda i: f"n{i}"),
        st.integers(0, 7).map(lambda i: f"n{i}"),
        st.floats(0.5, 10.0, allow_nan=False),
    ),
    min_size=1,
    max_size=20,
).filter(lambda es: any(u != v for u, v, _ in es))


def _naive_bc(edges):
    """Brandes-free reference: enumerate ALL shortest paths via BFS layer
    DAG counting, accumulate pair dependencies directly."""
    nodes = sorted({u for u, v, _ in edges} | {v for u, v, _ in edges})
    adj = {n: set() for n in nodes}
    for u, v, _ in edges:
        adj[u].add(v)
    n = len(nodes)
    bc = dict.fromkeys(nodes, 0.0)
    for s in nodes:
        # BFS distances
        dist = {s: 0}
        frontier = [s]
        while frontier:
            nxt = []
            for u in frontier:
                for v in sorted(adj[u]):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            frontier = sorted(set(nxt))
        # path counts in distance order, from explicit predecessor scan
        sigma = dict.fromkeys(nodes, 0)
        sigma[s] = 1
        for u in sorted(dist, key=lambda x: dist[x]):
            if u == s:
                continue
            sigma[u] = sum(sigma[p] for p in nodes if u in adj[p] and dist.get(p) == dist[u] - 1)
        # dependency accumulation from explicit predecessor scan
        delta = dict.fromkeys(nodes, 0.0)
        for w in sorted(dist, key=lambda x: -dist[x]):
            for p in nodes:
                if w in adj[p] and dist.get(p) == dist[w] - 1:
                    delta[p] += sigma[p] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    if n > 2:
        for k in bc:
            bc[k] /= (n - 1) * (n - 2)
    else:
        bc = dict.fromkeys(nodes, 0.0)
    return bc


@given(edges_strategy)
@settings(max_examples=80, deadline=None)
def test_betweenness_matches_naive(edges):
    arc = {}
    for u, v, w in edges:
        arc[(u, v)] = w
    dedup = [(u, v, w) for (u, v), w in arc.items()]
    got = betweenness_centrality(dedup)
    want = _naive_bc(dedup)
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-9), (k, dedup)


def _naive_pagerank(edges, alpha=0.85, iters=200):
    nodes = sorted({u for u, v, _ in edges} | {v for u, v, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    for u, v, w in edges:
        W[idx[u], idx[v]] = w
    out = W.sum(axis=1)
    P = np.divide(W, out[:, None], out=np.zeros_like(W), where=out[:, None] > 0)
    x = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangle = alpha * x[out == 0].sum()
        x = alpha * x @ P + (dangle + 1 - alpha) / n
    return {node: x[idx[node]] for node in nodes}


@given(edges_strategy)
@settings(max_examples=80, deadline=None)
def test_pagerank_matches_dense_power_iteration(edges):
    arc = {}
    for u, v, w in edges:
        arc[(u, v)] = w
    dedup = [(u, v, w) for (u, v), w in arc.items()]
    got = pagerank(dedup)
    want = _naive_pagerank(dedup)
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-4), (k, dedup)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


# --- merge sink contracts on random keyed tables ---

rows_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 1000)), min_size=0, max_size=12
)


def _keyed_rows(spark, rows):
    """(frame, dict) of a keyed table; the last occurrence of a key wins
    inside a batch, for determinism."""
    d = {}
    for k, v in rows:
        d[str(k)] = v
    return spark.createDataFrame([(k, v) for k, v in d.items()], "_key STRING, val LONG"), d


@given(old_rows=rows_strategy, new_rows=rows_strategy)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_contracts(spark, old_rows, new_rows):
    from helium_arango_etl_spark.io import merge_ignore, merge_upsert

    old_df, old_d = _keyed_rows(spark, old_rows)
    new_df, new_d = _keyed_rows(spark, new_rows)

    up = {r["_key"]: r["val"] for r in merge_upsert(old_df, new_df).collect()}
    ig = {r["_key"]: r["val"] for r in merge_ignore(old_df, new_df).collect()}

    assert up == {**old_d, **new_d}  # new wins
    assert ig == {**new_d, **old_d}  # old wins


@given(old_rows=rows_strategy, new_rows=rows_strategy)
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_append_only_store_matches_merge_ignore(spark, tmp_path, old_rows, new_rows):
    """The store's append-only ignore merge holds exactly merge_ignore's rows."""
    import uuid

    from helium_arango_etl_spark.io import merge_ignore
    from helium_arango_etl_spark.plans.sync import _write_merged, read_collection

    old_df, _ = _keyed_rows(spark, old_rows)
    new_df, _ = _keyed_rows(spark, new_rows)
    out = str(tmp_path / uuid.uuid4().hex)
    _write_merged(spark, out, "edges", old_df, "ignore")
    _write_merged(spark, out, "edges", new_df, "ignore")

    def rows(df):
        return sorted((r["_key"], r["val"]) for r in df.collect())

    assert rows(read_collection(spark, out, "edges")) == rows(merge_ignore(old_df, new_df))


# --- min-label propagation vs union-find on random undirected graphs ---

cc_edges_strategy = st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)),
    min_size=0,
    max_size=25,
)


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical label = min node id in component
    out = {}
    for x in range(n_nodes):
        root = find(x)
        out.setdefault(root, []).append(x)
    return {x: min(members) for root, members in out.items() for x in members}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=cc_edges_strategy)
def test_min_label_propagation_matches_union_find(spark, edges):
    from pyspark.sql import functions as F

    from helium_arango_etl_spark.operators.cc import propagate_min_labels

    n = 12
    expected = _union_find_components(n, edges)
    nodes = spark.range(n).select(
        F.col("id").alias("node"), F.col("id").alias("label")
    )
    und_rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    if und_rows:
        und = spark.createDataFrame(und_rows, "a long, b long")
    else:
        und = spark.createDataFrame([], "a long, b long")
    got = {
        r["node"]: r["label"]
        for r in propagate_min_labels(nodes, und, keys=[], max_iters=20).collect()
    }
    assert got == expected


# --- BPE run-parity greedy merge vs a straightforward fold ---

words_strategy = st.lists(
    st.text(alphabet="ab", min_size=2, max_size=12), min_size=1, max_size=25
)
pair_strategy = st.tuples(
    st.sampled_from(["a", "b"]), st.sampled_from(["a", "b"])
)


def _greedy_merge(symbols, a, b):
    """Textbook left-to-right BPE merge: scan once, merging (a, b) and
    skipping the consumed symbol — the fold the SQL closed form must
    reproduce, including overlap chains like (a,a) on 'aaaa'."""
    out, i = [], 0
    while i < len(symbols):
        if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


@given(words=words_strategy, pair=pair_strategy)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_run_parity_merge_matches_fold(spark, words, pair):
    """The run-parity closed form (operators/textops._bpe_merge_once's
    rebuild: keep even offsets within maximal runs of match positions) is
    only correct if it equals the sequential greedy fold on EVERY input —
    random a/b words maximize overlap chains, the hard case."""
    from pyspark.sql import Window, functions as F

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(set(words))], ["wid", "w"]
    ).withColumn(
        "t", F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    )
    a, b = pair
    pos = df.select(
        "wid", F.explode(F.expr("sequence(1, length(w) - 1)")).alias("i"), "t"
    ).filter(
        (F.expr("element_at(t, i)") == F.lit(a))
        & (F.expr("element_at(t, i + 1)") == F.lit(b))
    )
    w_rn = Window.partitionBy("wid").orderBy("i")
    runs = pos.withColumn("run", F.col("i") - F.row_number().over(w_rn))
    kept = (
        runs.withColumn("start", F.min("i").over(Window.partitionBy("wid", "run")))
        .filter((F.col("i") - F.col("start")) % 2 == 0)
        .groupBy("wid")
        .agg(F.collect_list("i").alias("kept"))
    )
    merged = (
        df.join(kept, "wid", "left")
        .withColumn("kept", F.coalesce("kept", F.expr("array()")))
        .select(
            "wid",
            "w",
            F.expr(
                f"filter(transform(sequence(1, size(t)), i ->"
                f" CASE WHEN array_contains(kept, i)"
                f"      THEN concat(element_at(t, i), element_at(t, i + 1))"
                f"      WHEN array_contains(kept, i - 1) THEN NULL"
                f"      ELSE element_at(t, i) END), x -> x IS NOT NULL)"
            ).alias("m"),
        )
    )
    for r in merged.collect():
        assert r["m"] == _greedy_merge(list(r["w"]), a, b), (r["w"], a, b, r["m"])
