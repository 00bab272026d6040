"""Inventory sync + dynamic-collection backfill plans.

Reference lifecycle (SURVEY.md §3):
- ``sync_inventories`` (etl.py:77-109): snapshot collections (accounts,
  hotspots, cities, balances) fully re-imported each cycle; witnesses
  imported first-write-wins (retention is ``follower.evict_witnesses``).
  Rewards and metrics reach hotspots via ``graph.hotspot_metrics_writeback``.
- ``sync_dynamic_collections`` (etl.py:111-130): payments backfilled in
  fixed-size block chunks, each chunk importBulk'd with onDuplicate='ignore'
  — re-running any chunk is a no-op (content-hash keys).

Here each collection is one DataFrame DAG -> keyed parquet via the merge
sinks in ``io``.  The payments chunk loop survives only as its observable
effect, a seam predicate inside one plan, and the idempotency tests assert
1-chunk == N-chunk == re-run equality (the reference's core operational
guarantee, L4/L5).

Store layout: ``<out_dir>/<collection>`` is a directory of immutable
parquet files keyed by ``_key``.  An ``ignore`` merge (the reference's
``importBulk(onDuplicate='ignore')``) anti-joins the delta against the
committed keys only and adds the fresh rows as new files, each moved in by
one atomic ``os.rename``; committed files are never rewritten or deleted,
so a crash mid-commit leaves a subset of the fresh rows and the re-run adds
the rest.  An ``upsert`` snapshot, a retention pass and the small-file fold
commit a whole new version through :func:`_replace`, which renames the live
directory aside to ``<collection>.prev`` before renaming the staged one in;
readers restore ``.prev`` if a crash fell between the two renames.  Spark
writes into ``<out_dir>/<collection>_<random>/data``; a stale staging
directory is swept by the next merge.  One writer per collection at a time.
``sync_inventories`` keeps that rule while it runs its five merges
concurrently, one driver thread per collection on the caller's session: it
waits for all of them and only then raises the first failure.  At scale
these would be Delta tables with MERGE and a transaction log (see the
``io`` module notes).
"""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
import tempfile
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import arango_id, content_key
from ..io import compact_parquet, fresh_rows, merge_upsert, read_parquet, read_table
from ..operators.graph import witness_subgraph
from ..operators.relational import cities, hotspot_document
from ..operators.windows import daily_balances_nested

COLLECTIONS = ("accounts", "hotspots", "cities", "balances", "payments", "witnesses")

# an append-only collection holding more data files than this is folded
# into one version (io.compact_parquet sizing) by the merge that crossed it
MAX_DATA_FILES = 64


# ---------- vertex collections (snapshot semantics) ----------


def build_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """accounts vertex: account_inventory snapshot + _key = address
    (reference: blockchain_queries.py:73-82)."""
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").cast("string").alias("_key"),
        F.col("c_custkey").alias("address"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )


def build_cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cities vertex (D3 distinct + md5 key, blockchain_queries.py:90-112)."""
    return cities(spark, sf_dir).withColumn("_key", F.col("city_key"))


def build_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """balances vertex: per-account daily_balances array
    (arango_schema.py:95-102; the reference's disabled-as-slow query)."""
    return daily_balances_nested(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("_key"),
        F.col("daily_balances"),
    )


# ---------- edge collections (append/ignore semantics) ----------


def payment_edges(events: DataFrame) -> DataFrame:
    """payments edges from an events frame, batch or streaming: _key =
    content hash, _from/_to = account ids (blockchain_queries.py:220-257;
    v1 shape).  The backfill and the stream follower both call this."""
    fields = F.from_json(F.col("props"), "k INT")
    return events.filter(F.col("event_type").isin("purchase", "signup")).select(
        content_key(F.col("event_id"), F.col("user_id"), fields["k"]).alias("_key"),
        arango_id("accounts", F.col("user_id")).alias("_from"),
        arango_id("accounts", F.pmod(F.col("user_id") * 7 + fields["k"], F.lit(1000))).alias("_to"),
        fields["k"].alias("amount"),
        F.col("ts").alias("time"),
    )


def build_witnesses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """witnesses edges: the session's persisted valid edge set
    (``witness_subgraph``, which the metrics writeback reads too),
    keep-latest per (src,dst) pair (E1), _key = md5(challengee+witness)
    (blockchain_queries.py:306)."""
    from pyspark.sql import Window

    edges = witness_subgraph(spark, sf_dir)
    w = Window.partitionBy("src", "dst").orderBy(F.col("edge_ts").desc(), F.col("distance_m").desc())
    return (
        edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.md5(F.concat_ws("|", "src", "dst")).alias("_key"),
            arango_id("hotspots", F.col("src")).alias("_from"),
            arango_id("hotspots", F.col("dst")).alias("_to"),
            "city_key",
            "distance_m",
            F.col("edge_ts").alias("time"),
        )
    )


# ---------- store ----------


def _store_path(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, name)


def _recover(path: str) -> None:
    """Settle a :func:`_replace` that stopped between or after its renames:
    with the live directory gone, the aside copy is the committed version
    and goes back; with both present, the new version is committed and the
    aside copy is dropped."""
    prev = path + ".prev"
    if os.path.isdir(prev):
        if os.path.isdir(path):
            shutil.rmtree(prev)
        else:
            os.rename(prev, path)


def _sweep_staging(out_dir: str, name: str) -> None:
    """Delete staging directories an interrupted write of ``name`` left."""
    stale = re.compile(re.escape(name) + r"_[a-z0-9_]{8}")  # tempfile.mkdtemp names
    for entry in os.listdir(out_dir):
        if stale.fullmatch(entry):
            shutil.rmtree(os.path.join(out_dir, entry), ignore_errors=True)


def _replace(out_dir: str, name: str, write: Callable[[str], object]) -> None:
    """Commit a whole new version of a collection: ``write`` fills a staging
    path, the live directory is renamed aside to ``<name>.prev``, the staged
    one is renamed in, and the aside copy is dropped.  Every committed
    version stays readable at each step (see :func:`_recover`)."""
    path = _store_path(out_dir, name)
    staging = tempfile.mkdtemp(prefix=f"{name}_", dir=out_dir)
    write(os.path.join(staging, "data"))
    prev = path + ".prev"
    if os.path.isdir(path):
        os.rename(path, prev)
    os.rename(os.path.join(staging, "data"), path)
    shutil.rmtree(prev, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)


def _data_files(path: str) -> list[str]:
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith("."))


def _read_store(spark: SparkSession, out_dir: str, name: str) -> DataFrame | None:
    """The committed collection, or None if it was never written.  Its
    schema comes from its footer, so building the frame runs no Spark job.
    A collection that exists but cannot be read raises rather than being
    taken for an empty one."""
    path = _store_path(out_dir, name)
    _recover(path)
    if not os.path.isdir(path):
        return None
    return read_parquet(spark, path)


def _write_merged(
    spark: SparkSession, out_dir: str, name: str, new: DataFrame, mode: str
) -> None:
    """Merge ``new`` into the stored collection with upsert/ignore semantics.

    ``upsert`` commits ``merge_upsert(old, new)`` as a new version.
    ``ignore`` writes only ``io.fresh_rows`` against the committed keys and
    moves each new part file into the live directory; a merge with no
    fresh rows commits nothing, and the merge that takes a collection past
    ``MAX_DATA_FILES`` data files folds it into one version.  The first
    write of a collection is a whole version either way."""
    os.makedirs(out_dir, exist_ok=True)
    _sweep_staging(out_dir, name)
    if mode == "upsert":
        old = _read_store(spark, out_dir, name)
        merged = new if old is None else merge_upsert(old, new)
        _replace(out_dir, name, merged.write.parquet)
        return
    keys = _read_store(spark, out_dir, name)
    if keys is None:
        _replace(out_dir, name, new.dropDuplicates(["_key"]).write.parquet)
        return
    path = _store_path(out_dir, name)
    staging = tempfile.mkdtemp(prefix=f"{name}_", dir=out_dir)
    staged = os.path.join(staging, "data")
    written = Observation()
    fresh_rows(keys, new).observe(written, F.count(F.lit(1)).alias("rows")).write.parquet(staged)
    if written.get["rows"]:
        for f in _data_files(staged):
            os.rename(os.path.join(staged, f), os.path.join(path, f))
    shutil.rmtree(staging)
    if len(_data_files(path)) > MAX_DATA_FILES:
        _replace(out_dir, name, lambda dest: compact_parquet(spark, path, dest))


def read_collection(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    path = _store_path(out_dir, name)
    _recover(path)
    return read_parquet(spark, path)


# ---------- sync orchestration ----------


# sync_inventories' merges in submission order: witnesses, the longest
# chain, first, so FIFO scheduling gives its tasks priority
_INVENTORIES = (
    ("witnesses", build_witnesses, "ignore"),
    ("balances", build_balances, "upsert"),
    ("accounts", build_accounts, "upsert"),
    ("hotspots", hotspot_document, "upsert"),
    ("cities", build_cities, "upsert"),
)


def sync_inventories(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Entry point 1 (etl.py:77-109): snapshot refresh of all vertex
    collections + witness import.  Snapshots use upsert (full re-import is
    idempotent); witnesses use ignore (first write wins).

    The five merges share no output and no persisted frame other than the
    witness edges, which only the witnesses merge reads, so they run
    concurrently: one driver thread per collection on ``spark``, each
    started as a ``pyspark.InheritableThread`` with its own copy of the
    caller's job group, description and tags.  The call returns once every
    merge has finished and then raises the first failure in
    ``COLLECTIONS`` order, with any others added as notes; the merges that
    succeeded stay committed.  Each collection still has one writer at a
    time, so a retry after a failure is a plain re-run."""
    failures: dict[str, BaseException] = {}

    def merge(name: str, build: Callable[[SparkSession, str], DataFrame], mode: str) -> None:
        try:
            _write_merged(spark, out_dir, name, build(spark, sf_dir), mode)
        except BaseException as e:  # raised below, in the caller's thread
            failures[name] = e

    threads = [
        InheritableThread(merge, args=inventory, session=spark) for inventory in _INVENTORIES
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    raised = [failures[n] for n in COLLECTIONS if n in failures]
    if raised:
        for other in raised[1:]:
            raised[0].add_note(f"another inventory merge failed too: {other!r}")
        raise raised[0]


def backfill_payments(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 1
) -> None:
    """Entry point 2 (etl.py:111-130): payments backfill as one plan and one
    first-write-wins merge.  The reference imports ``n_chunks`` time windows
    with strict bounds (B2), so a row exactly at an interior seam is skipped
    and a row without a time matches no window.  Here the chunk loop is a
    seam predicate: rows with a null ``ts`` are always dropped, and for
    ``n_chunks > 1`` so are rows at ``lo + i * (hi - lo) / n_chunks``
    (``0 < i < n_chunks``, events' min/max ``ts``) — the only extra jobs
    are that min/max probe.  The default seams fall between the testdata's
    microsecond timestamps, so no row is lost (the 1-chunk == N-chunk
    test)."""
    events = read_table(spark, sf_dir, "events")
    keep = F.col("ts").isNotNull()
    if n_chunks > 1:
        us = F.unix_micros("ts")
        lo, hi = events.agg(F.min(us), F.max(us)).first()
        if lo is not None:
            span = dt.timedelta(microseconds=hi - lo) / n_chunks
            seams = [lo + i * span // dt.timedelta(microseconds=1) for i in range(1, n_chunks)]
            keep = keep & ~us.isin(seams)
    _write_merged(spark, out_dir, "payments", payment_edges(events.filter(keep)), "ignore")
