"""Temporal + sketch operators: the distributed prefix pattern must equal
the single-partition reference form, and the sketch must behave like an
estimator (not just hash-match its own oracle)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from helium_arango_etl_spark.operators.sketch import HLL_M, hll_distinct
from helium_arango_etl_spark.operators.temporal import (
    SEQ_LEN,
    height_asof,
    height_asof_naive,
    pack_sequences,
)

from .test_plan_quality import plan_of


def test_height_asof_equals_global_window(spark, sf_dir):
    """The bucket-carry distributed form must produce exactly the global
    ordered-window result (same multiset of rows)."""
    fast = height_asof(spark, sf_dir).collect()
    naive = height_asof_naive(spark, sf_dir).collect()
    key = lambda r: (r.l_orderkey, r.l_linenumber, r.l_shipdate, r.height)
    assert sorted(map(key, fast)) == sorted(map(key, naive))


def test_height_asof_is_running_max_semantics(spark, sf_dir):
    """Every height must be the max block height at-or-before the ship
    date (checked against a broadcast-computed reference on the driver)."""
    from helium_arango_etl_spark.io import read_table

    blocks = sorted(
        (r.o_orderdate, r.o_orderkey)
        for r in read_table(spark, sf_dir, "orders")
        .select("o_orderdate", "o_orderkey")
        .collect()
    )
    import bisect

    ts_list = [b[0] for b in blocks]
    # prefix max of heights in date order
    pmax = []
    cur = None
    for _, h in blocks:
        cur = h if cur is None or h > cur else cur
        pmax.append(cur)
    for r in height_asof(spark, sf_dir).limit(500).collect():
        i = bisect.bisect_right(ts_list, r.l_shipdate)
        expect = pmax[i - 1] if i > 0 else None
        assert r.height == expect, (r, expect)


def test_height_asof_plan_is_distributed(spark, sf_dir):
    """The big union window must run partitioned on the time bucket — a
    SinglePartition exchange feeding a window over the fact stream is the
    scale bug this operator exists to avoid.  (The carry table's global
    window is fine: it is one row per month.)"""
    plan = plan_of(height_asof(spark, sf_dir))
    assert re.search(r"hashpartitioning\(tb", plan), plan


def test_pack_sequences_invariants(spark, sf_dir):
    rows = pack_sequences(spark, sf_dir).orderBy("doc_id").collect()
    assert rows
    cum = 0
    for r in rows:
        assert 0 <= r.start_offset < SEQ_LEN
        assert r.start_bin * SEQ_LEN + r.start_offset == cum
        assert r.end_bin >= r.start_bin
        assert r.n_bins == r.end_bin - r.start_bin + 1
        if r.n_tokens > 0:
            # last token of the doc lands inside end_bin
            assert (cum + r.n_tokens - 1) // SEQ_LEN == r.end_bin
        cum += r.n_tokens


def test_hll_estimate_quality_and_shape(spark, sf_dir):
    row = hll_distinct(spark, sf_dir).collect()[0]
    assert row.n_registers == HLL_M
    assert row.n_exact > 0
    # m=64 gives ~13% standard error; allow 4 sigma
    assert abs(row.rel_error) < 0.55, row
    # rerun is bit-identical (no RNG anywhere)
    again = hll_distinct(spark, sf_dir).collect()[0]
    assert row == again


def test_hll_merges_across_partitions(spark, sf_dir):
    """The register table must be identical no matter how the input is
    partitioned — the mergeability that makes a sketch a sketch."""
    from helium_arango_etl_spark.io import read_table

    ev = read_table(spark, sf_dir, "events").select("event_id")
    base = hll_distinct(spark, sf_dir).collect()[0]

    # recompute over a 1-partition copy through the same expressions
    from helium_arango_etl_spark.operators import sketch as K

    one = (
        ev.coalesce(1)
        .select(F.md5(F.col("event_id").cast("string")).alias("h"))
        .select(F.expr(K._REG).alias("reg"), F.expr(K._TAIL).alias("x"))
        .select("reg", F.expr(K._RANK).alias("rank"))
        .groupBy("reg")
        .agg(F.max("rank").alias("mr"))
    )
    many = (
        ev.repartition(16)
        .select(F.md5(F.col("event_id").cast("string")).alias("h"))
        .select(F.expr(K._REG).alias("reg"), F.expr(K._TAIL).alias("x"))
        .select("reg", F.expr(K._RANK).alias("rank"))
        .groupBy("reg")
        .agg(F.max("rank").alias("mr"))
    )
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))
    assert base.n_exact > 0


def test_cms_never_undercounts_and_merges(spark, sf_dir):
    """CMS guarantees estimate >= exact; the counter table must merge by
    cell-wise addition across corpus splits."""
    from helium_arango_etl_spark.operators.sketch import cms_token_counts

    rows = cms_token_counts(spark, sf_dir).collect()
    assert rows
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.cms_estimate >= r.n_exact for r in rows)


def test_ann_batch_topk_consistent_with_single_query(spark, sf_dir):
    """Batch top-k restricted to the single-query op's query vector must be
    a prefix of its ranking (same ordering, same scores)."""
    from helium_arango_etl_spark.operators.similarity import (
        BATCH_K,
        QUERY_VEC_ID,
        ann_batch_topk,
        ann_cosine_topk,
    )
    from pyspark.sql import functions as F

    batch = (
        ann_batch_topk(spark, sf_dir)
        .filter(F.col("q_id") == QUERY_VEC_ID)
        .orderBy("rank")
        .collect()
    )
    single = ann_cosine_topk(spark, sf_dir).collect()[:BATCH_K]
    assert [(r.vec_id, r.cosine_sim) for r in batch] == [
        (r.vec_id, r.cosine_sim) for r in single
    ]


def test_scd2_intervals_partition_the_timeline(spark, sf_dir):
    """SCD2 invariants: per user, version 1..k dense, exactly one open
    (is_current) interval, intervals abut exactly (valid_to == next
    valid_from), and consecutive intervals change state."""
    from helium_arango_etl_spark.operators.temporal import scd2_history

    rows = scd2_history(spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in ivs] == list(range(1, len(ivs) + 1))
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to_us"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"], user
            assert a["event_type"] != b["event_type"], user
