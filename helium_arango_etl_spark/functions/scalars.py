"""Scalar column expressions mirroring the reference's H-battery (SURVEY.md §2.H).

All are pure Column builders over pyspark.sql.functions — whole-stage-codegen
eligible, no Python crossing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def content_key(*cols: Column | str) -> Column:
    """md5 content-hash key over a canonical '|'-joined rendering of fields.

    Reference hashes ``json.dumps`` of the raw JSONB payload
    (blockchain_queries.py:224, 243) — key-order-sensitive and
    whitespace-sensitive, so we deliberately deviate (SURVEY.md §2 H2):
    the key is md5 of the *extracted* fields joined with '|'.  Same
    idempotency property (equal content -> equal key), deterministic across
    engines.
    """
    rendered = [F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"), F.lit("")) for c in cols]
    return F.md5(F.concat_ws("|", *rendered))


def arango_id(collection: str, key: Column | str) -> Column:
    """'collection/<key>' document id (reference: 'accounts/' + payer,
    blockchain_queries.py:226-227, 310-311)."""
    key_col = F.col(key) if isinstance(key, str) else key
    return F.concat(F.lit(collection + "/"), key_col.cast("string"))


def city_key() -> Column:
    """md5 city key over the ``n_name``/``r_name`` columns.  ``concat_ws``
    skips nulls: a row no location joined keys as ``md5('')``."""
    return F.md5(F.concat_ws("|", "n_name", "r_name"))


EARTH_RADIUS_M = 6371008.8


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters between two lat/lon pairs (degrees).

    Replaces AQL GEO_DISTANCE (arango_queries.py:152) with a codegen'd trig
    expression — no geo index needed because the reference only ever computes
    pairwise distance between already-joined vertices (SURVEY.md §1.2).
    """
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def synthetic_lat(key: Column) -> Column:
    """Deterministic pseudo-latitude in (-60, 60) derived from an integer key.

    The testdata carries no geo columns; geo operators are exercised on
    synthesized-but-deterministic coordinates that any engine (Spark or the
    DuckDB oracle) reproduces from the same arithmetic.
    """
    return (F.pmod(key.cast("bigint") * F.lit(37), F.lit(120)) - F.lit(60)).cast("double")


def synthetic_lon(key: Column) -> Column:
    """Deterministic pseudo-longitude in (-180, 180) from an integer key."""
    return (F.pmod(key.cast("bigint") * F.lit(91), F.lit(360)) - F.lit(180)).cast("double")


def end_of_day_ts(ts: Column) -> Column:
    """Unix seconds of the midnight *after* ts — reference's dead-code helper
    ``timestamp_for_end_of_day`` (blockchain_queries.py:36-39), kept for parity."""
    return F.unix_timestamp(F.date_add(F.to_date(ts), 1).cast("timestamp"))
