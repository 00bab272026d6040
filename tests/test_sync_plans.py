"""Pipeline-level golden + idempotency tests (SURVEY.md §5.3-5.4): the
reference's core operational guarantee is that re-syncs and chunked
backfills converge to identical collections (content-hash keys +
upsert/ignore sinks, etl.py:143-147)."""

from __future__ import annotations

import os
import uuid
import warnings

import pytest
from pyspark.sql import functions as F

from helium_arango_etl_spark.io import read_table
from helium_arango_etl_spark.operators.relational import hotspot_document
from helium_arango_etl_spark.plans import sync
from helium_arango_etl_spark.plans.sync import (
    MAX_DATA_FILES,
    _write_merged,
    backfill_payments,
    payment_edges,
    read_collection,
    sync_inventories,
)


INVENTORIES = ("accounts", "hotspots", "cities", "balances", "witnesses")


def _table_hash(df):
    cols = sorted(df.columns)
    return sorted(
        str(tuple(str(r[c]) for c in cols)) for r in df.collect()
    )


def test_full_sync_and_rerun_identical(spark, sf_dir, tmp_path):
    out = str(tmp_path / "store")
    sync_inventories(spark, sf_dir, out)
    first = {n: _table_hash(read_collection(spark, out, n)) for n in INVENTORIES}
    sync_inventories(spark, sf_dir, out)  # re-run: upsert/ignore must be no-ops
    second = {n: _table_hash(read_collection(spark, out, n)) for n in first}
    assert first == second


def _keys(spark, out):
    return {n: {r["_key"] for r in read_collection(spark, out, n).select("_key").collect()} for n in INVENTORIES}


def _failing_merge(monkeypatch, fail):
    """Make ``sync_inventories``' merges of the ``fail`` collections raise
    at once, while the others run for real."""
    real = sync._write_merged

    def merge(spark, out_dir, name, new, mode):
        if name in fail:
            raise RuntimeError(f"injected {name} failure")
        real(spark, out_dir, name, new, mode)

    monkeypatch.setattr(sync, "_write_merged", merge)


def test_failed_merge_waits_for_the_others_and_reruns_clean(spark, sf_dir, tmp_path, monkeypatch):
    out = str(tmp_path / "store")
    _failing_merge(monkeypatch, {"balances"})
    with pytest.raises(RuntimeError, match="injected balances"):
        sync_inventories(spark, sf_dir, out)
    monkeypatch.undo()
    # the other merges finished and committed before the call raised, and
    # left neither a staging directory nor an aside copy
    assert sorted(os.listdir(out)) == sorted(n for n in INVENTORIES if n != "balances")
    for n in INVENTORIES:
        if n != "balances":
            assert read_collection(spark, out, n).count() > 0, n

    sync_inventories(spark, sf_dir, out)
    fresh = str(tmp_path / "fresh")
    sync_inventories(spark, sf_dir, fresh)
    assert _keys(spark, out) == _keys(spark, fresh)
    assert sorted(os.listdir(out)) == sorted(INVENTORIES)


def test_first_failure_in_collection_order_is_raised(spark, sf_dir, tmp_path, monkeypatch):
    # witnesses starts first, balances comes first in COLLECTIONS
    _failing_merge(monkeypatch, {"witnesses", "balances"})
    with pytest.raises(RuntimeError, match="injected balances") as raised:
        sync_inventories(spark, sf_dir, str(tmp_path / "store"))
    assert any("injected witnesses" in note for note in raised.value.__notes__)


def test_sync_jobs_run_in_the_callers_job_group(spark, sf_dir, tmp_path):
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    group = f"sync-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "sync under the caller's job group")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            sync_inventories(spark, sf_dir, str(tmp_path / "store"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped
    assert list(sc.statusTracker().getJobIdsForGroup(group))
    assert [str(w.message) for w in caught if issubclass(w.category, UserWarning)] == []


def test_backfill_chunking_equivalence(spark, sf_dir, tmp_path):
    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    backfill_payments(spark, sf_dir, one, n_chunks=1)
    backfill_payments(spark, sf_dir, many, n_chunks=4)
    h1 = _table_hash(read_collection(spark, one, "payments"))
    h4 = _table_hash(read_collection(spark, many, "payments"))
    assert h1 == h4
    # and re-running the chunked backfill changes nothing (first-write-wins)
    backfill_payments(spark, sf_dir, many, n_chunks=3)
    assert _table_hash(read_collection(spark, many, "payments")) == h4


def test_backfill_covers_unbounded_build(spark, sf_dir, tmp_path):
    out = str(tmp_path / "store")
    backfill_payments(spark, sf_dir, out, n_chunks=2)
    stored = read_collection(spark, out, "payments")
    direct = payment_edges(read_table(spark, sf_dir, "events"))  # no bounds
    assert stored.count() == direct.dropDuplicates(["_key"]).count()


def test_hotspots_nested_shape(spark, sf_dir):
    hs = hotspot_document(spark, sf_dir)
    schema = {f.name: f.dataType.simpleString() for f in hs.schema.fields}
    assert schema["location_details"].startswith("struct<city_key:string")
    assert schema["geo_location"] == "struct<type:string,coordinates:array<double>>"
    row = hs.filter(F.col("location_details.city_key").isNotNull()).first()
    assert row["geo_location"]["type"] == "Point"
    assert len(row["geo_location"]["coordinates"]) == 2
    # analytics columns null-initialized (reference H15)
    assert row["pagerank"] is None and row["hub_score"] is None
    # gateway status (C2): odd addresses online, the rest null
    status = {r["address"]: r["online"] for r in hs.select("address", "online").collect()}
    assert status and all(v == ("online" if a % 2 == 1 else None) for a, v in status.items())


def test_witnesses_keep_latest_unique_pairs(spark, sf_dir):
    from helium_arango_etl_spark.plans.sync import build_witnesses

    w = build_witnesses(spark, sf_dir)
    assert w.count() == w.select("_key").distinct().count()
    assert w.filter(~F.col("_from").startswith("hotspots/")).count() == 0


def test_partial_upsert_merges_attributes(spark, tmp_path):
    """A5: importBulk(onDuplicate='update') merges by _key — an upsert
    that carries only some columns replaces those and keeps the stored
    values of the rest; a new key gets nulls for what it lacks."""
    out = str(tmp_path / "store")
    old = spark.createDataFrame(
        [("a", "x", 1.0), ("b", "y", 2.0)], "_key string, name string, score double"
    )
    _write_merged(spark, out, "docs", old, "upsert")
    new = spark.createDataFrame([("b", 9.0), ("c", 3.0)], "_key string, score double")
    _write_merged(spark, out, "docs", new, "upsert")
    got = {r["_key"]: (r["name"], r["score"]) for r in read_collection(spark, out, "docs").collect()}
    assert got == {"a": ("x", 1.0), "b": ("y", 9.0), "c": (None, 3.0)}


def test_metrics_upsert_keeps_hotspot_attributes(spark, sf_dir, tmp_path):
    """The metrics writeback upserted onto synced hotspots, the way a
    cycle stores it, keeps one document shape: the stored columns are
    exactly the hotspot document's, the location/geo columns and the
    balance survive, and the writeback fills in the rewards and every
    graph metric (reference etl.py steps 5-6)."""
    from helium_arango_etl_spark.io import merge_upsert, read_parquet, write_keyed
    from helium_arango_etl_spark.operators.graph import hotspot_metrics_writeback
    from helium_arango_etl_spark.registry import ORACLE

    from .parity import run_oracle

    out = str(tmp_path / "store")
    sync_inventories(spark, sf_dir, out)
    wb = hotspot_metrics_writeback(spark, sf_dir)
    merged = merge_upsert(
        read_collection(spark, out, "hotspots"),
        wb.withColumn("_key", wb["address"].cast("string")),
    )
    write_keyed(merged, str(tmp_path / "hotspots.next"))
    stored = read_parquet(spark, str(tmp_path / "hotspots.next"))
    doc = hotspot_document(spark, sf_dir)
    assert stored.columns == doc.columns
    assert not {"long_city", "long_country", "city_key"} & set(stored.columns)
    assert stored.count() == doc.count()
    for c in ("location_details", "geo_location", "balance"):
        assert stored.filter(F.col(c).isNull()).count() == 0, c
    rows = stored.select("address", "rewards_5d", "pagerank", "hub_score", "authority_score").collect()
    oracle = run_oracle(ORACLE["rewards_5d"], sf_dir)
    expected = {
        int(a): None if r != r else float(r)
        for a, r in zip(oracle["s_suppkey"], oracle["rewards_5d"])
    }
    assert {r["address"]: r["rewards_5d"] for r in rows} == expected
    assert any(v is not None for v in expected.values())
    assert any(r["pagerank"] is not None for r in rows)
    for c in ("hub_score", "authority_score"):
        assert all((r[c] is None) == (r["pagerank"] is None) for r in rows), c


def test_compact_parquet_reduces_files_preserving_rows(spark, sf_dir, tmp_path):
    """Compaction must hit the computed file count, preserve content
    exactly, and not lose rows on the repartition (under-split) path."""
    from helium_arango_etl_spark.io import compact_parquet, read_table

    src = str(tmp_path / "frag")
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.repartition(37).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "compact")
    n_files = compact_parquet(spark, src, out, target_rows=ev.count() // 3 + 1)
    assert n_files == 3
    import os

    parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(parts) == 3
    before = {r["event_id"] for r in ev.collect()}
    after = {r["event_id"] for r in spark.read.parquet(out).collect()}
    assert before == after


# ---------- append-only store: commits, crashes, recovery ----------


def _files(path):
    """{data file name: (size, mtime_ns)} of a collection directory."""
    stats = {f: os.stat(os.path.join(path, f)) for f in os.listdir(path)}
    return {
        f: (s.st_size, s.st_mtime_ns)
        for f, s in stats.items()
        if f.endswith(".parquet") and not f.startswith(".")
    }


def _keyed(spark, keys, tag):
    return spark.createDataFrame([(str(k), tag) for k in keys], "_key STRING, src STRING")


class _FailingRename:
    """``os.rename`` that raises on call number ``fail_at`` (0-based)."""

    def __init__(self, fail_at):
        self.fail_at, self.calls, self.real = fail_at, 0, os.rename

    def __call__(self, src, dst):
        if self.calls == self.fail_at:
            raise OSError("injected crash")
        self.calls += 1
        self.real(src, dst)


def test_ignore_merge_appends_without_touching_committed_files(spark, tmp_path):
    out = str(tmp_path / "store")
    _write_merged(spark, out, "edges", _keyed(spark, range(20), "base"), "ignore")
    before = _files(tmp_path / "store" / "edges")
    # keys 15..19 are re-delivered, 25 twice within the delta
    _write_merged(spark, out, "edges", _keyed(spark, [*range(15, 30), 25], "delta"), "ignore")
    after = _files(tmp_path / "store" / "edges")
    assert {f: after[f] for f in before} == before
    assert len(after) > len(before)
    got = {r["_key"]: r["src"] for r in read_collection(spark, out, "edges").collect()}
    assert len(got) == read_collection(spark, out, "edges").count() == 30
    assert {k for k, s in got.items() if s == "base"} == {str(k) for k in range(20)}


def test_append_crash_after_k_renames_converges(spark, tmp_path, monkeypatch):
    base, delta = _keyed(spark, range(10), "base"), _keyed(spark, range(5, 40), "delta")
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    # without AQE coalescing the delta's dedup shuffle writes one file per partition
    coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        for out in (clean, crashed):
            _write_merged(spark, out, "edges", base, "ignore")
        _write_merged(spark, clean, "edges", delta, "ignore")
        n = len(_files(os.path.join(clean, "edges"))) - len(_files(os.path.join(crashed, "edges")))
        assert n >= 3
        rename = _FailingRename(fail_at=n // 2)
        monkeypatch.setattr(os, "rename", rename)
        with pytest.raises(OSError, match="injected"):
            _write_merged(spark, crashed, "edges", delta, "ignore")
        monkeypatch.undo()
        assert rename.calls == n // 2
        # the committed part is readable, the rest waits in a stale staging dir
        assert read_collection(spark, crashed, "edges").count() < 35
        assert any(e.startswith("edges_") for e in os.listdir(crashed))
        _write_merged(spark, crashed, "edges", delta, "ignore")
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
    assert _table_hash(read_collection(spark, crashed, "edges")) == _table_hash(
        read_collection(spark, clean, "edges")
    )
    assert sorted(os.listdir(crashed)) == ["edges"]


def test_stale_staging_swept_before_next_merge(spark, tmp_path):
    out = tmp_path / "store"
    _write_merged(spark, str(out), "edges", _keyed(spark, range(3), "base"), "ignore")
    for stale in ("edges_ab12cd_e/data", "edges_0000zzzz", "witnesses_ab12cd34/data"):
        os.makedirs(out / stale)
    (out / "edges_ab12cd_e" / "data" / "part-0.parquet").write_bytes(b"junk")
    _write_merged(spark, str(out), "edges", _keyed(spark, [7], "delta"), "ignore")
    # only this collection's staging dirs are swept
    assert sorted(os.listdir(out)) == ["edges", "witnesses_ab12cd34"]
    assert read_collection(spark, str(out), "edges").count() == 4


def test_replace_crash_between_renames_keeps_previous_version(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "store")
    v1, v2 = _keyed(spark, range(6), "v1"), _keyed(spark, range(3, 9), "v2")
    _write_merged(spark, out, "accounts", v1, "upsert")
    first = _table_hash(read_collection(spark, out, "accounts"))
    # rename 0 moves the live dir aside, rename 1 (moving the staged one in) fails
    monkeypatch.setattr(os, "rename", _FailingRename(fail_at=1))
    with pytest.raises(OSError, match="injected"):
        _write_merged(spark, out, "accounts", v2, "upsert")
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(out, "accounts"))
    assert _table_hash(read_collection(spark, out, "accounts")) == first
    _write_merged(spark, out, "accounts", v2, "upsert")
    expected = _table_hash(v2.unionByName(_keyed(spark, range(3), "v1")))
    assert _table_hash(read_collection(spark, out, "accounts")) == expected
    assert sorted(os.listdir(out)) == ["accounts"]


def test_unreadable_collection_raises(spark, tmp_path):
    out = tmp_path / "store"
    _write_merged(spark, str(out), "edges", _keyed(spark, range(5), "base"), "ignore")
    (part,) = _files(out / "edges")
    data = (out / "edges" / part).read_bytes()
    (out / "edges" / part).write_bytes(data[: len(data) // 2])
    (out / "edges" / f".{part}.crc").unlink()
    with pytest.raises(Exception, match="(?i)parquet"):
        _write_merged(spark, str(out), "edges", _keyed(spark, [9], "delta"), "ignore")


def test_noop_merges_commit_nothing(spark, sf_dir, tmp_path):
    """Re-running the ignore merges of sync_inventories (witnesses) and of
    backfill_payments leaves their file lists byte-identical."""
    from helium_arango_etl_spark.plans.sync import build_witnesses

    out = str(tmp_path / "store")
    backfill_payments(spark, sf_dir, out, n_chunks=2)
    _write_merged(spark, out, "witnesses", build_witnesses(spark, sf_dir), "ignore")
    before = {c: _files(tmp_path / "store" / c) for c in ("payments", "witnesses")}
    backfill_payments(spark, sf_dir, out, n_chunks=1)
    _write_merged(spark, out, "witnesses", build_witnesses(spark, sf_dir), "ignore")
    assert {c: _files(tmp_path / "store" / c) for c in before} == before


def test_file_count_fold(spark, tmp_path):
    """70 one-row merges: the merge that passes MAX_DATA_FILES folds the
    collection into one version, so at most that many files remain and
    the rows are unchanged.  The first 62 appends are planted as the files
    a merge commits (one tiny parquet file each), the rest run for real."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "store"
    _write_merged(spark, str(out), "edges", _keyed(spark, [0], "base"), "ignore")
    for k in range(1, 63):
        pq.write_table(
            pa.table({"_key": [str(k)], "src": ["delta"]}), out / "edges" / f"part-planted-{k:03}.parquet"
        )
    counts = []
    for k in range(63, 71):
        _write_merged(spark, str(out), "edges", _keyed(spark, [k], "delta"), "ignore")
        counts.append(len(_files(out / "edges")))
    assert max(counts) <= MAX_DATA_FILES == 64
    assert counts[:3] == [64, 1, 2]  # the 65th file triggered the fold
    expected = _table_hash(_keyed(spark, [0], "base").unionByName(_keyed(spark, range(1, 71), "delta")))
    assert _table_hash(read_collection(spark, str(out), "edges")) == expected


def test_backfill_seam_quirk_b2(spark, tmp_path):
    """B2 as a seam predicate: a row exactly on the interior seam is dropped
    with two chunks and kept with one; a row without ts matches no chunk."""
    import datetime as dt

    sf = tmp_path / "sf"
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, ts, 10 + i, "purchase", 1.0, '{"k": %d}' % i)
        for i, ts in enumerate([t0, t0 + dt.timedelta(seconds=5), t0 + dt.timedelta(seconds=10), None])
    ]
    spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    amounts = {}
    for n in (1, 2):
        out = str(tmp_path / f"out{n}")
        backfill_payments(spark, str(sf), out, n_chunks=n)
        amounts[n] = sorted(r["amount"] for r in read_collection(spark, out, "payments").collect())
    assert amounts == {1: [0, 1, 2], 2: [0, 2]}
