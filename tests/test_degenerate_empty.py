"""Cross-engine parity on FULLY EMPTY tables, for every oracled query.

The last rung of the pathological ladder (test_degenerate_parity.py
covers degenerate ROWS): a 100 TB pipeline routinely feeds an operator
an empty slice — a day with no data, a filter that matched nothing, a
brand-new tenant.  Round 8's empty-table probe found 13 defects here:
4 engine crashes (a div-by-zero LITERAL in markov_stationary's uniform
init, empty-side estimates in join_cardinality_audit, 0/0 Jaccard in
set_ops_battery, DuckDB ln(0) in optimal_histogram_bins) and 9
one-row-vs-zero-row shape divergences between Spark global aggregates
and the oracles' group-over-empty chains — all harmonized to the
"empty in, empty out" convention (or exact-zero counters where a
0-row summary is the documented shape).
"""

from __future__ import annotations

import pytest

from helium_arango_etl_spark.registry import ORACLE, QUERIES

from .test_degenerate_parity import _compare

SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string"
    ),
    "supplier": "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp"
    ),
    "events": (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ),
    "documents": "doc_id long, text string, lang string, source string, n_chars long",
    "embeddings": "vec_id long, label string, embedding array<float>",
}

EMPTY_OPS = sorted(n for n in ORACLE if n != "sql_rewards_summary")


@pytest.fixture(scope="module")
def degen_empty(spark, tmp_path_factory):
    import duckdb

    from helium_arango_etl_spark.operators.dedup import clear_sig_cache
    from helium_arango_etl_spark.operators.graph import clear_edge_cache
    from helium_arango_etl_spark.operators.similarity import clear_emb_cache
    from helium_arango_etl_spark.operators.textops import clear_tok_cache

    tmp = str(tmp_path_factory.mktemp("degen_empty"))
    for t, sch in SCHEMAS.items():
        spark.createDataFrame([], sch).write.parquet(f"{tmp}/{t}.parquet")
    con = duckdb.connect()
    for t in SCHEMAS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet/*.parquet'"
        )
    for clear in (clear_edge_cache, clear_sig_cache, clear_emb_cache, clear_tok_cache):
        clear(spark)
    yield tmp, con
    for clear in (clear_edge_cache, clear_sig_cache, clear_emb_cache, clear_tok_cache):
        clear(spark)


@pytest.mark.parametrize("name", EMPTY_OPS)
def test_empty_tables_parity(spark, degen_empty, name):
    tmp, con = degen_empty
    _compare(spark, tmp, con, name)


def _assert_no_city_metrics(spark, sf_dir):
    """No city clears MIN_CITY_SIZE: the metrics queries return no rows
    in their declared types, and the writeback returns every hotspot
    document with null graph metrics.  Returns the writeback rows."""
    from pyspark.sql.types import DoubleType, StringType

    from helium_arango_etl_spark.operators.relational import HOTSPOT_ANALYTICS

    for name in ("city_graph_metrics", "city_hits"):
        df = QUERIES[name](spark, sf_dir)
        assert df.collect() == []
        for f in df.schema.fields:
            want = StringType() if f.name in ("city_key", "address") else DoubleType()
            assert f.dataType == want, (name, f)
    wb = QUERIES["hotspot_metrics_writeback"](spark, sf_dir)
    metric_cols = [c for c in HOTSPOT_ANALYTICS if c != "rewards_5d"]
    assert all(wb.schema[c].dataType == DoubleType() for c in metric_cols)
    rows = wb.collect()
    assert all(r[c] is None for r in rows for c in metric_cols)
    return rows


def test_empty_tables_city_metrics(spark, degen_empty):
    tmp, _ = degen_empty
    assert _assert_no_city_metrics(spark, tmp) == []


def test_under_threshold_witnesses_city_metrics(spark, sf_dir, tmp_path):
    """A witness set of fewer than MIN_CITY_SIZE arcs in all: edges reach
    the metrics build, but no city clears the threshold."""
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from helium_arango_etl_spark.operators.graph import MIN_CITY_SIZE, witness_subgraph
    from helium_arango_etl_spark.session import clear_caches

    d = str(tmp_path / "sf")
    os.makedirs(d)
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), os.path.join(d, f))
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    li = li.filter(pc.equal(li["l_returnflag"], "N")).slice(0, MIN_CITY_SIZE - 1)
    pq.write_table(li, os.path.join(d, "lineitem.parquet"))
    try:
        assert 0 < witness_subgraph(spark, d).count() < MIN_CITY_SIZE
        rows = _assert_no_city_metrics(spark, d)
        assert len(rows) == pq.read_metadata(os.path.join(sf_dir, "supplier.parquet")).num_rows
    finally:
        clear_caches(spark)
