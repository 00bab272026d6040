"""The session cache serves fresh results when an input file changes under
a live session, and unpersists what it replaces."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

from helium_arango_etl_spark.operators.dedup import signature_table
from helium_arango_etl_spark.operators.graph import witness_subgraph
from helium_arango_etl_spark.operators.similarity import embedding_table
from helium_arango_etl_spark.operators.textops import tokenized_corpus
from helium_arango_etl_spark.session import cached, clear_caches


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _copy(sf_dir: str, tmp_path) -> str:
    d = str(tmp_path / "sf")
    os.makedirs(d)
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), os.path.join(d, f))
    return d


def _halve(path: str) -> None:
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path + ".tmp")
    os.replace(path + ".tmp", path)


@pytest.mark.parametrize(
    "build, table",
    [
        (witness_subgraph, "lineitem"),
        (tokenized_corpus, "documents"),
        (embedding_table, "embeddings"),
        (signature_table, "documents"),
    ],
    ids=["witness_subgraph", "tokenized_corpus", "embedding_table", "signature_table"],
)
def test_rewritten_input_is_not_served_stale(spark, sf_dir, tmp_path, build, table):
    d = _copy(sf_dir, tmp_path)

    clear_caches(spark)
    start = _persisted_ids(spark)
    before = build(spark, d).count()
    ours = _persisted_ids(spark) - start
    assert ours, "the cached frame was never persisted"

    _halve(os.path.join(d, f"{table}.parquet"))
    after = build(spark, d).count()  # same session, no clear in between
    fresh = spark.newSession()
    want = build(fresh, d).count()
    clear_caches(fresh)
    assert want < before
    assert after == want

    assert len(_persisted_ids(spark) - start) <= len(ours)
    assert not ours & _persisted_ids(spark), "stale frame still persisted"
    clear_caches(spark)
    assert not _persisted_ids(spark) - start


def test_rewrite_releases_every_stale_entry_of_the_dir(spark, sf_dir, tmp_path):
    """Rebuilding the edge table must also drop the stale metrics table
    built from it: Spark's cache would serve that persisted frame to any
    new plan over the same files."""
    from helium_arango_etl_spark.operators.graph import (
        _build_city_metrics,
        combined_city_metrics,
    )

    d = _copy(sf_dir, tmp_path)

    clear_caches(spark)
    start = _persisted_ids(spark)
    before = combined_city_metrics(spark, d).count()
    assert len(_persisted_ids(spark) - start) == 2  # edges and metrics

    _halve(os.path.join(d, "lineitem.parquet"))
    witness_subgraph(spark, d).count()
    assert len(_persisted_ids(spark) - start) == 1  # the new edges only
    direct = _build_city_metrics(spark, d)  # same plan as the dropped entry
    try:
        assert direct.count() != before
    finally:
        direct.unpersist()
    clear_caches(spark)
    assert not _persisted_ids(spark) - start


def test_unchanged_input_is_built_once(spark, tmp_path):
    d = str(tmp_path / "sf")
    os.makedirs(d)
    open(os.path.join(d, "t.parquet"), "w").close()
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    clear_caches(spark)
    assert cached(spark, "k", d, build) == 1
    assert cached(spark, "k", d, build) == 1
    assert cached(spark, "k", None, build) == 2  # another key
    with open(os.path.join(d, "t.parquet"), "w") as f:
        f.write("x")
    assert cached(spark, "k", d, build) == 3
    clear_caches(spark)
    assert cached(spark, "k", d, build) == 4
    clear_caches(spark)


def test_concurrent_callers_share_one_build(spark, tmp_path):
    """Eight threads (more than the test session's cores) ask for the same
    entries at once: each entry is built once and every thread gets the
    one object that build made."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    open(os.path.join(d, "t.parquet"), "w").close()
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.2)  # every thread asks while the first build runs
        return object()

    start = threading.Barrier(8, timeout=30)

    def ask(i):
        start.wait()
        return [cached(spark, k, d, build) for k in ("a", "b", "a", "b")[i % 2 :]]

    clear_caches(spark)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(ask, range(8), timeout=60))
    finally:
        sys.setswitchinterval(interval)
        clear_caches(spark)
    assert len(calls) == 2
    assert len({id(v) for vs in got for v in vs}) == 2
