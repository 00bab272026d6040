"""Streaming follower tests (L1/L4/L5): the availableNow stream must produce
exactly the batch backfill's payments table, and a checkpointed re-run must
be a no-op."""

from __future__ import annotations

from helium_arango_etl_spark.io import read_table
from helium_arango_etl_spark.plans.sync import backfill_payments, payment_edges, read_collection
from helium_arango_etl_spark.streaming.follower import evict_witnesses, follow_payments

from .test_sync_plans import _files


def _hash(df):
    cols = sorted(df.columns)
    return sorted(str(tuple(str(r[c]) for c in cols)) for r in df.collect())


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    out = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    follow_payments(spark, sf_dir, out, ckpt)  # availableNow backfill
    streamed = read_collection(spark, out, "payments")
    batch = payment_edges(read_table(spark, sf_dir, "events")).dropDuplicates(["_key"])
    assert _hash(streamed) == _hash(batch)


def test_processing_time_follower_returns_its_query(spark, sf_dir, tmp_path):
    """The polling trigger (L2) hands back the running query: the caller
    drains it and stops it, and the store then holds the same payments
    key set as the availableNow backfill."""
    polled = str(tmp_path / "polled")
    query = follow_payments(spark, sf_dir, polled, str(tmp_path / "ckpt_polled"), processing_time="1 second")
    try:
        assert query.isActive
        query.processAllAvailable()
    finally:
        query.stop()
    assert not query.isActive
    backfilled = str(tmp_path / "backfilled")
    done = follow_payments(spark, sf_dir, backfilled, str(tmp_path / "ckpt_backfilled"))
    assert not done.isActive

    def keys(out):
        return sorted(r["_key"] for r in read_collection(spark, out, "payments").select("_key").collect())

    assert keys(polled) == keys(backfilled)
    assert keys(polled)


def test_checkpointed_rerun_is_noop(spark, sf_dir, tmp_path):
    out = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    follow_payments(spark, sf_dir, out, ckpt)
    h1 = _hash(read_collection(spark, out, "payments"))
    follow_payments(spark, sf_dir, out, ckpt)  # same checkpoint: no new files
    h2 = _hash(read_collection(spark, out, "payments"))
    assert h1 == h2


def test_retention_eviction(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from helium_arango_etl_spark.plans.sync import build_witnesses, sync_inventories

    out = str(tmp_path / "store")
    sync_inventories(spark, sf_dir, out)
    before = read_collection(spark, out, "witnesses")
    cutoff = before.agg(F.expr("percentile(unix_timestamp(time), 0.5)")).first()[0]
    import datetime

    cutoff_ts = datetime.datetime.utcfromtimestamp(cutoff)
    n_keep = before.filter(F.col("time") >= F.lit(cutoff_ts)).count()
    evict_witnesses(spark, out, cutoff_ts)
    after = read_collection(spark, out, "witnesses")
    assert after.count() == n_keep > 0


def test_stream_appends_to_batch_built_store(spark, sf_dir, tmp_path):
    """The follower's sink is the append-only merge: streaming the whole
    events table onto a store backfilled from half of it adds files but
    leaves the committed ones untouched (same names, sizes, mtimes), and
    the re-delivered keys are not duplicated."""
    half = tmp_path / "half"
    read_table(spark, sf_dir, "events").filter("event_id % 2 = 0").write.parquet(str(half / "events.parquet"))
    out = str(tmp_path / "store")
    backfill_payments(spark, str(half), out)
    before = _files(tmp_path / "store" / "payments")
    follow_payments(spark, sf_dir, out, str(tmp_path / "ckpt"))
    after = _files(tmp_path / "store" / "payments")
    assert {f: after[f] for f in before} == before
    assert len(after) > len(before)
    batch = payment_edges(read_table(spark, sf_dir, "events")).dropDuplicates(["_key"])
    assert _hash(read_collection(spark, out, "payments")) == _hash(batch)
