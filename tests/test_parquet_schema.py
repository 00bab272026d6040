"""Schema-pinned parquet reads: ``io.parquet_schema`` takes the schema from
one footer on the driver, so building a read runs no Spark job, and the
schema is the one Spark's own inference would give."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from helium_arango_etl_spark.io import TABLES, parquet_schema, read_table
from helium_arango_etl_spark.plans.sync import (
    COLLECTIONS,
    _read_store,
    backfill_payments,
    read_collection,
    sync_inventories,
)
from helium_arango_etl_spark.streaming.follower import _events_stream

from .test_degenerate_empty import SCHEMAS as EMPTY_SCHEMAS
from .test_degenerate_parity import _combined_fixture


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("schema_store"))
    sync_inventories(spark, sf_dir, out)
    backfill_payments(spark, sf_dir, out)
    return out


@pytest.fixture(scope="module")
def degenerate_dir(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("schema_degen"))
    _combined_fixture(spark, tmp)
    return tmp


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("schema_empty"))
    for t, sch in EMPTY_SCHEMAS.items():
        spark.createDataFrame([], sch).write.parquet(f"{tmp}/{t}.parquet")
    return tmp


def _assert_inferred(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    pinned = spark.read.schema(parquet_schema(path)).parquet(path).schema
    assert pinned == spark.read.parquet(path).schema, path


def test_building_reads_runs_no_job(spark, sf_dir, store):
    sc = spark.sparkContext
    group = f"no-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build reads without an action")
    try:
        frames = [read_table(spark, sf_dir, t) for t in TABLES]
        frames += [read_collection(spark, store, c) for c in COLLECTIONS]
        frames += [_read_store(spark, store, c) for c in COLLECTIONS]
        frames.append(_events_stream(spark, sf_dir))
        assert all(f.columns for f in frames)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("table", TABLES)
def test_table_schema_matches_inference(spark, sf_dir, degenerate_dir, empty_dir, table):
    for root in (sf_dir, degenerate_dir, empty_dir):
        _assert_inferred(spark, os.path.join(root, f"{table}.parquet"))


@pytest.mark.parametrize("collection", COLLECTIONS)
def test_store_schema_matches_inference(spark, store, collection):
    _assert_inferred(spark, os.path.join(store, collection))


_TS = [dt.datetime(2024, 1, 1, 12, 30, 15, 123456)]

SYNTHETIC = {
    "ts_ns": (pa.array(_TS, pa.timestamp("ns")), {}),
    "ts_int96": (pa.array(_TS, pa.timestamp("ns")), {"use_deprecated_int96_timestamps": True}),
    "ts_utc": (pa.array(_TS, pa.timestamp("us", tz="UTC")), {}),
    "ts_naive": (pa.array(_TS, pa.timestamp("us")), {}),
    "date32": (pa.array([dt.date(2024, 1, 1)], pa.date32()), {}),
    "decimal128": (pa.array([decimal.Decimal("12.34")], pa.decimal128(10, 2)), {}),
    "list_float": (pa.array([[1.0, None]], pa.list_(pa.float32())), {}),
    "nested_struct": (
        pa.array(
            [{"x": 1, "y": {"z": "a", "w": [2]}}],
            pa.struct([("x", pa.int64()), ("y", pa.struct([("z", pa.string()), ("w", pa.list_(pa.int32()))]))]),
        ),
        {},
    ),
}


@pytest.mark.parametrize("kind", sorted(SYNTHETIC))
def test_synthetic_file_schema_matches_inference(spark, tmp_path, kind):
    values, write_opts = SYNTHETIC[kind]
    path = str(tmp_path / f"{kind}.parquet")
    pq.write_table(pa.table({"c": values, "k": pa.array([1], pa.int64())}), path, **write_opts)
    _assert_inferred(spark, path)


def test_directory_skips_success_and_checksum_files(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.parquet.crc").write_bytes(b"junk")
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), d / "part-0.parquet")
    pq.write_table(pa.table({"a": [2], "b": ["y"]}), d / "part-1.parquet")
    _assert_inferred(spark, str(d))
    assert parquet_schema(str(d)).fieldNames() == ["a", "b"]


def test_collection_without_data_file_raises(spark, tmp_path):
    d = tmp_path / "store" / "edges"
    d.mkdir(parents=True)
    (d / "_SUCCESS").write_bytes(b"")
    with pytest.raises(FileNotFoundError, match="no parquet data file"):
        read_collection(spark, str(tmp_path / "store"), "edges")
    with pytest.raises(Exception, match="(?i)parquet"):
        spark.read.parquet(str(d))
