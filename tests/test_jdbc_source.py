"""JDBC partitioned-read source: option plumbing verified without a live
database (the container has none) — the reader wiring is exercised against
a stub, the option builder against its contract."""

from __future__ import annotations

import pytest

from helium_arango_etl_spark.io import jdbc_scan_options, read_jdbc_table

URL = "jdbc:postgresql://db:5432/blockchain"


def test_partitioned_scan_options_complete():
    opts = jdbc_scan_options(
        URL,
        "rewards",
        partition_column="block",
        lower_bound=100,
        upper_bound=1_000_000,
        num_partitions=256,
    )
    assert opts["url"] == URL and opts["dbtable"] == "rewards"
    assert opts["partitionColumn"] == "block"
    assert opts["lowerBound"] == "100" and opts["upperBound"] == "1000000"
    assert opts["numPartitions"] == "256"
    assert opts["fetchsize"] == "10000"


def test_unpartitioned_scan_has_no_partition_keys():
    opts = jdbc_scan_options(URL, "blocks")
    assert "partitionColumn" not in opts and "numPartitions" not in opts


def test_incomplete_partition_spec_raises():
    """Spark silently degrades to a single-connection scan when the spec is
    partial — the builder must refuse instead."""
    with pytest.raises(ValueError, match="ALL of"):
        jdbc_scan_options(URL, "rewards", partition_column="block", lower_bound=1)


def test_extra_options_pass_through():
    opts = jdbc_scan_options(URL, "blocks", pushDownPredicate=True, queryTimeout=30)
    assert opts["pushDownPredicate"] == "True" and opts["queryTimeout"] == "30"


class _StubReader:
    def __init__(self):
        self.fmt = None
        self.opts = {}

    def format(self, fmt):
        self.fmt = fmt
        return self

    def options(self, **kw):
        self.opts.update(kw)
        return self

    def load(self):
        return ("loaded", self.fmt, dict(self.opts))


class _StubSpark:
    def __init__(self):
        self.read = _StubReader()


def test_read_jdbc_table_wires_reader():
    result, fmt, opts = read_jdbc_table(
        _StubSpark(),
        URL,
        "rewards",
        partition_column="block",
        lower_bound=0,
        upper_bound=500,
        num_partitions=8,
    )
    assert result == "loaded" and fmt == "jdbc"
    assert opts["numPartitions"] == "8" and opts["dbtable"] == "rewards"
