"""SparkSession factory tuned for this engine.

Defaults chosen for correctness-at-scale first, local testing second:

- AQE on (runtime join-strategy selection, shuffle coalescing, skew-join
  splitting) — replaces the reference's hand-rolled process-level
  parallelism (arango_queries.py:322-349 time-slicing, :184-208 city
  chunking) with Spark's own planner.
- Arrow on — every Python crossing (applyInPandas graph metrics) is
  vectorized, never row-at-a-time.
- Session timezone pinned to UTC — the reference stores unix seconds and
  timezone-aware timestamps (blockchain_tables.py:123, 196); pinning avoids
  local-tz drift between engines and between executors.
- ``spark.sql.shuffle.partitions`` kept modest for local[{N}] test runs; on a
  real cluster AQE's coalescing makes the static number mostly irrelevant.

Shared intermediate frames (witness edges, signatures, embeddings, token
arrays, ...) are memoized per session by :func:`cached`, keyed on the
input directory's file fingerprint so a rewritten input is never served
stale.
"""

from __future__ import annotations

import os
import threading
import weakref
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "helium-arango-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


# One memo table for the whole engine: session -> {(key, sf_dir): (fp, value)}.
# WeakKey so a closed session's entries die with it.  _LOCK serializes every
# lookup, eviction and build; it is reentrant because a build may ask for
# another entry (the city metrics read the witness edges).
_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
_LOCK = threading.RLock()


def _fingerprint(sf_dir: str | None) -> tuple:
    """(path, size, mtime_ns) of every file under ``sf_dir`` — pure
    ``os.stat``, no Spark job.  Covers Spark-written tables (directories
    of part files) as well as single parquet files."""
    if sf_dir is None:
        return ()
    parts = []
    for root, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
                parts.append((p, st.st_size, st.st_mtime_ns))
            except OSError:
                parts.append((p, -1, -1))
    return tuple(parts)


def _release(value: Any) -> None:
    if isinstance(value, DataFrame) and value.is_cached:
        value.unpersist()


def cached(spark: SparkSession, key: Any, sf_dir: str | None, build: Callable[[], Any]) -> Any:
    """Return this session's memoized ``build()`` for ``(key, sf_dir)``.

    An entry is reused only while the files under ``sf_dir`` keep the
    fingerprint they had when it was built.  A lookup first unpersists and
    drops every entry of ``sf_dir`` built under another fingerprint: Spark's
    CacheManager would otherwise substitute a stale persisted frame into
    any new plan over the same paths.  ``build`` persists its own result if
    it is a DataFrame worth keeping resident.  ``sf_dir=None`` keys a value
    that depends on no input files.

    Safe for concurrent callers: the fingerprint, the eviction, the lookup
    and the build run under one lock, so threads asking for one entry get
    the one object a single ``build`` made, and an eviction only drops
    entries whose files changed after they were handed out."""
    with _LOCK:
        per_session = _CACHE.setdefault(spark, {})
        fp = _fingerprint(sf_dir)
        for k in [k for k, (f, _) in per_session.items() if k[1] == sf_dir and f != fp]:
            _release(per_session.pop(k)[1])
        entry = per_session.get((key, sf_dir))
        if entry is None:
            entry = per_session[(key, sf_dir)] = (fp, build())
        return entry[1]


def clear_caches(spark: SparkSession) -> None:
    """Drop every memoized entry of this session and unpersist the
    persisted DataFrames among them."""
    with _LOCK:
        entries = _CACHE.pop(spark, {})
    for _, value in entries.values():
        _release(value)
