"""Local emulation of the driver's Spark-vs-DuckDB oracle compare.

Mirrors the contract in __spark_entry__.py: run the Spark plan and the oracle
SQL on the same parquet tables, materialize BOTH results through pandas (the
driver does — Spark via toPandas, DuckDB via .df()), sort columns by name,
sort rows, compare canonicalized values.

Materializing through pandas is the load-bearing part: DuckDB's .df() path
renders DECIMAL as float64 and wide integer aggregates (HUGEINT) as float64,
while Spark's toPandas keeps Decimal objects and int32/int64 — CORRECTNESS_r01
proved the driver hashes those differently even when values are identical.
Fetching raw rows on both sides (the round-1 harness) hid exactly that class
of mismatch.  This harness also rejects driver-fragile output surfaces
outright: Decimal cells and top-level list/array cells (the driver's pandas
canonicalizer cannot sort list-typed columns).
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import numpy as np
import pandas as pd

from helium_arango_etl_spark.io import TABLES


def _canon(v):
    if v is None or v is pd.NaT:
        return "␀"
    if isinstance(v, float):  # covers np.float64 (a float subclass)
        if math.isnan(v):
            return "NaN"
        return repr(float(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        ts = pd.Timestamp(v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v)
        # DuckDB's .df() materializes DATE as midnight datetime64 while Spark
        # keeps datetime.date objects; the driver hashes them equal (r01:
        # date_battery et al. green), so midnight normalizes to date form
        if ts == ts.normalize():
            return ts.date().isoformat()
        return ts.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def check_driver_safe(pdf: pd.DataFrame, name: str = "?") -> None:
    """Reject output surfaces the driver's canonicalizer mishandles:
    Decimal cells (hash diverges from DuckDB's float64 rendering) and
    top-level list/array cells (pandas sort_values: unhashable type)."""
    for c in pdf.columns:
        sample = next((v for v in pdf[c] if v is not None and v is not pd.NaT), None)
        assert not isinstance(sample, decimal.Decimal), (
            f"{name}.{c}: Decimal in registry-facing output — the driver hashes "
            "Spark Decimal vs DuckDB float64 differently; cast the final column to DOUBLE"
        )
        assert not isinstance(sample, (list, np.ndarray)), (
            f"{name}.{c}: top-level array column — the driver's canonicalizer "
            "cannot sort list cells; array_join it or split into scalars"
        )


def _rowset(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    rows = list(pdf[cols].itertuples(index=False, name=None))
    return sorted(tuple(_canon(v) for v in r) for r in rows)


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    # a fixed cap, so an oracle that blows up fails here instead of
    # borrowing most of the host's memory
    con = duckdb.connect(config={"memory_limit": "2GB"})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    pdf = con.execute(sql).df()
    con.close()
    return pdf


def assert_parity(spark, query_fn, sql: str, sf_dir: str, name: str = "?"):
    s_pdf = query_fn(spark, sf_dir).toPandas()
    d_pdf = run_oracle(sql, sf_dir)
    check_driver_safe(s_pdf, name=name)
    assert sorted(s_pdf.columns) == sorted(d_pdf.columns), (
        f"{name}: column mismatch spark={sorted(s_pdf.columns)} duckdb={sorted(d_pdf.columns)}"
    )
    assert len(s_pdf) == len(d_pdf), f"{name}: rowcount spark={len(s_pdf)} duckdb={len(d_pdf)}"
    s_set, d_set = _rowset(s_pdf), _rowset(d_pdf)
    for i, (a, b) in enumerate(zip(s_set, d_set)):
        assert a == b, f"{name}: first differing row {i}:\n  spark ={a}\n  duckdb={b}"
