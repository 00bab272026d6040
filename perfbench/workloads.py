"""The three benchmark workloads and their output checks.

Every workload drives the engine only through its public functions and
times one closed-loop client: the next operation starts when the previous
one (and its untimed output check) is done.

- ``full_sync``: one operation is a whole sync cycle into an empty store.
- ``incremental_follow``: one operation merges one small delta batch into a
  prebuilt store and reads the payments count back.
- ``analytics_mix``: one operation is a pass over a fixed list of registry
  queries, each materialized with the ``noop`` writer.

Each ``full_sync`` cycle and each ``analytics_mix`` pass runs on a new
SparkSession over the shared, warm SparkContext: the engine memoizes
persisted frames per session, so a new session (after the public
``clear_*_cache`` hooks and ``catalog.clearCache()``) is how an operation
starts with every per-session cache empty.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import time
import traceback
from dataclasses import dataclass, field

import duckdb

import gen

# (query, operator family) in the order one analytics pass runs them.  A
# pass runs on a cold JVM in every run (see run.py), so the list keeps one
# query per family to keep a run short: on a 4-core guest the
# wider list (plus hotspot_snapshot, payment_v2_exploded, daily_balances,
# city_ppr_joins, rich_club_coefficient_capped, semantic_dedup, ndcg_at_k)
# cost another 25 s per run.  Each kept query reads one per-session cache
# (edges, signatures, embeddings, tokens) or none.
MIX = (
    ("rewards_5d", "relational"),
    ("keep_latest_witness", "windows"),
    ("city_graph_metrics", "graph"),
    ("near_dup_keep", "dedup"),
    ("ivf_topk", "similarity"),
    ("bpe_merge_rules", "textops"),
)
FAMILIES = ("relational", "windows", "graph", "dedup", "similarity", "textops")

# city_graph_metrics has no SQL oracle; its rows must equal the oracled
# skeleton city_graph_nodes on the key columns
SKELETON = {"city_graph_metrics": ("city_graph_nodes", ("city_key", "address"))}

COLLECTIONS = ("accounts", "hotspots", "cities", "balances", "witnesses", "payments")
SYNC_CHUNKS = 4
# untimed deltas merged before the follower is timed: delta latency keeps
# falling over the first few merges (JIT, first run of the merge plan), and
# a follower is a long-running process
WARMUP_DELTAS = 3


@dataclass
class Op:
    latency_s: float
    ok: bool
    error: str = ""
    parts: dict[str, float] = field(default_factory=dict)
    span_id: int | None = None


@dataclass
class Context:
    """What a workload gets from the runner."""

    engine: object  # the imported engine modules, see run.load_engine
    base: object  # the SparkSession get_spark returned
    tracer: object
    run_dir: str
    seed: int
    scale: float
    seconds: float
    notes: dict = field(default_factory=dict)


def _fresh_session(ctx: Context, old):
    """Drop the per-session caches of ``old`` and return a new session."""
    e = ctx.engine
    if old is not None:
        e.graph.clear_edge_cache(old)
        e.dedup.clear_sig_cache(old)
        e.similarity.clear_emb_cache(old)
        e.textops.clear_tok_cache(old)
    # persisted frames without a public hook (the combined graph metrics,
    # k-means centroids) are unpersisted here; the new session then starts
    # with empty memo tables so none of them is reused
    ctx.base.catalog.clearCache()
    return ctx.base.newSession()


def _loop(ctx: Context, run_op) -> list[Op]:
    """Run operations until ``ctx.seconds`` of wall time have passed; at
    least one operation always runs."""
    ops: list[Op] = []
    start = time.perf_counter()
    while not ops or time.perf_counter() - start < ctx.seconds:
        t = time.perf_counter()
        try:
            op = run_op(len(ops))
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            op = Op(time.perf_counter() - t, False, traceback.format_exc(limit=3))
        if op is None:
            break
        ops.append(op)
    return ops


def _timed(ctx: Context, parts: dict[str, float], name: str, layer: str, fn) -> None:
    """Run ``fn`` in a span; add its wall time to ``parts["<layer>.<name>_s"]``."""
    t = time.perf_counter()
    with ctx.tracer.span(name, layer):
        fn()
    key = f"{layer}.{name}_s"
    parts[key] = parts.get(key, 0.0) + time.perf_counter() - t


# ---------- full_sync ----------

def expected_key_digests(con: duckdb.DuckDBPyConnection, data: str) -> dict[str, tuple[int, int]]:
    """(row count, xor of key hashes) per collection, computed by DuckDB
    straight from the input tables with the engine's key definitions."""
    t = {n: f"read_parquet('{data}/{n}.parquet') AS {n}" for n in gen.TABLES}
    keys = {
        "accounts": f"SELECT CAST(c_custkey AS VARCHAR) k FROM {t['customer']}",
        "hotspots": f"SELECT CAST(s_suppkey AS VARCHAR) k FROM {t['supplier']}",
        "cities": f"""SELECT DISTINCT md5(concat_ws('|', n_name, r_name)) k
                      FROM {t['nation']} JOIN {t['region']} ON n_regionkey = r_regionkey""",
        "balances": f"SELECT DISTINCT CAST(user_id AS VARCHAR) k FROM {t['events']}",
        "witnesses": f"""SELECT DISTINCT md5(concat_ws('|', 'S' || l_suppkey, 'C' || o_custkey)) k
                         FROM {t['lineitem']} JOIN {t['orders']} ON l_orderkey = o_orderkey
                         JOIN {t['supplier']} ON l_suppkey = s_suppkey
                         JOIN {t['nation']} ON s_nationkey = n_nationkey
                         JOIN {t['region']} ON n_regionkey = r_regionkey
                         WHERE l_returnflag = 'N'""",
        "payments": _payment_keys_sql(t["events"]),
    }
    return {c: _digest(con, q) for c, q in keys.items()}


def _payment_keys_sql(events: str) -> str:
    return f"""SELECT DISTINCT md5(concat_ws('|', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
                                   coalesce(json_extract_string(props, '$.k'), ''))) k
               FROM {events} WHERE event_type IN ('purchase', 'signup')"""


def _digest(con: duckdb.DuckDBPyConnection, key_sql: str) -> tuple[int, int]:
    n, x = con.execute(f"SELECT count(*), coalesce(bit_xor(hash(k)), 0) FROM ({key_sql})").fetchone()
    return int(n), int(x)


def store_digests(con: duckdb.DuckDBPyConnection, store: str) -> dict[str, tuple[int, int]]:
    return {
        c: _digest(con, f"SELECT _key k FROM read_parquet('{store}/{c}/*.parquet')")
        for c in COLLECTIONS
    }


def _upsert_writeback(ctx: Context, spark, data: str, store: str) -> None:
    """Write per-city graph metrics back onto the stored hotspots
    (upsert keyed by hotspot address), replacing the collection."""
    e = ctx.engine
    wb = e.graph.hotspot_metrics_writeback(spark, data)
    new = wb.withColumn("_key", wb["address"].cast("string"))
    merged = e.io.merge_upsert(e.sync.read_collection(spark, store, "hotspots"), new)
    staged = os.path.join(store, "hotspots.next")
    e.io.write_keyed(merged, staged)
    shutil.rmtree(os.path.join(store, "hotspots"))
    os.rename(staged, os.path.join(store, "hotspots"))


def full_sync(ctx: Context) -> list[Op]:
    e = ctx.engine
    data = os.path.join(ctx.run_dir, "data")
    store = os.path.join(ctx.run_dir, "store")
    gen.generate_base(data, ctx.seed, ctx.scale)
    con = duckdb.connect()
    expected = expected_key_digests(con, data)
    state = {"session": None, "digests": None}

    def cycle(i: int) -> Op:
        shutil.rmtree(store, ignore_errors=True)
        spark = state["session"] = _fresh_session(ctx, state["session"])
        parts = {}
        t0 = time.perf_counter()
        with ctx.tracer.span("cycle", "bench") as root:
            _timed(ctx, parts, "sync_inventories", "plans.sync",
                   lambda: e.sync.sync_inventories(spark, data, store))
            _timed(ctx, parts, "backfill_payments", "plans.sync",
                   lambda: e.sync.backfill_payments(spark, data, store, n_chunks=SYNC_CHUNKS))
            _timed(ctx, parts, "hotspot_metrics_writeback", "operators.graph",
                   lambda: _upsert_writeback(ctx, spark, data, store))
        latency = time.perf_counter() - t0
        got = store_digests(con, store)
        errors = [f"{c}: store {got[c]} != expected {expected[c]}"
                  for c in COLLECTIONS if got[c] != expected[c]]
        if state["digests"] is not None and got != state["digests"]:
            errors.append("key-set digest differs from the first cycle")
        state["digests"] = state["digests"] or got
        ctx.notes["store_bytes"] = _dir_bytes(store)
        return Op(latency, not errors, "; ".join(errors), parts, root.id if root else None)

    try:
        return _loop(ctx, cycle)
    finally:
        con.close()


# ---------- incremental_follow ----------

def incremental_follow(ctx: Context) -> list[Op]:
    e = ctx.engine
    data = os.path.join(ctx.run_dir, "data")
    store = os.path.join(ctx.run_dir, "store")
    gen.generate_base(data, ctx.seed, ctx.scale)
    # one batch per 0.25 s of measuring is more than any run can merge
    batches = gen.generate_deltas(
        os.path.join(ctx.run_dir, "deltas"), ctx.seed, ctx.scale,
        WARMUP_DELTAS + max(16, int(ctx.seconds * 4)))
    spark = ctx.base
    with ctx.tracer.span("build_store", "bench"):
        e.sync.backfill_payments(spark, data, store, n_chunks=1)
    con = duckdb.connect()
    try:
        expected = _digest(con, _payment_keys_sql(f"read_parquet('{data}/events.parquet')"))[0]
    finally:
        con.close()
    state = {"count": e.sync.read_collection(spark, store, "payments").count()}
    ctx.notes["delta_input_bytes"] = 0
    if state["count"] != expected:
        raise RuntimeError(f"store build: {state['count']} payments, expected {expected}")

    def delta(i: int) -> Op | None:
        if i >= len(batches):
            return None
        b = batches[i]
        out = {}
        t0 = time.perf_counter()
        with ctx.tracer.span("delta", "bench") as root:
            with ctx.tracer.span("backfill_payments", "plans.sync"):
                e.sync.backfill_payments(spark, b["path"], store, n_chunks=1)
            with ctx.tracer.span("read_collection", "plans.sync"):
                out["n"] = e.sync.read_collection(spark, store, "payments").count()
        latency = time.perf_counter() - t0
        want = state["count"] + b["fresh_payment_keys"]
        state["count"] = out["n"]
        ctx.notes["delta_input_bytes"] += os.path.getsize(os.path.join(b["path"], "events.parquet"))
        ctx.notes["store_bytes"] = _dir_bytes(store)
        ok = out["n"] == want
        err = "" if ok else f"delta {i}: {out['n']} payments, expected {want}"
        return Op(latency, ok, err, {}, root.id if root else None)

    warmup = [delta(i) for i in range(WARMUP_DELTAS)]
    ctx.notes["delta_input_bytes"] = 0
    # a failed warm-up merge is reported with the timed ones
    ops = [o for o in warmup if not o.ok]
    return ops + _loop(ctx, lambda i: delta(WARMUP_DELTAS + i))


# ---------- analytics_mix ----------

def _fingerprint_exprs(df):
    """Order-insensitive aggregates of a result that DuckDB can reproduce
    from the oracle SQL: row count, and per column its non-null count plus
    a type-appropriate sum."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    exprs = [F.count(F.lit(1)).alias("n")]
    for f in df.schema.fields:
        c, dt = F.col(f"`{f.name}`"), f.dataType
        exprs.append(F.count(c).alias(f"nn:{f.name}"))
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            exprs.append(F.sum(c.cast("decimal(38,0)")).alias(f"sum:{f.name}"))
        elif isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            exprs.append(F.sum(c.cast("double")).alias(f"fsum:{f.name}"))
        elif isinstance(dt, T.StringType):
            exprs.append(F.sum(F.length(c).cast("decimal(38,0)")).alias(f"sum_len:{f.name}"))
        elif isinstance(dt, T.BooleanType):
            exprs.append(F.sum(c.cast("int").cast("decimal(38,0)")).alias(f"sum_true:{f.name}"))
        elif isinstance(dt, T.TimestampType):
            exprs.append(F.sum(F.unix_micros(c).cast("decimal(38,0)")).alias(f"sum_us:{f.name}"))
        elif isinstance(dt, T.DateType):
            exprs.append(F.sum(F.unix_date(c).cast("decimal(38,0)")).alias(f"sum_days:{f.name}"))
    return exprs


_DUCK_AGG = {
    "nn": "count({c})",
    "sum": "sum(CAST({c} AS HUGEINT))",
    "fsum": "sum(CAST({c} AS DOUBLE))",
    "sum_len": "sum(length({c}))",
    "sum_true": "sum(CAST({c} AS INTEGER))",
    "sum_us": "sum(epoch_us({c}))",
    "sum_days": "sum({c} - DATE '1970-01-01')",
}


def oracle_fingerprint(con, sql: str, keys: list[str]) -> dict[str, float]:
    """The same aggregates as _fingerprint_exprs, computed by DuckDB over
    the oracle SQL's result."""
    sel = ["count(*)"]
    for k in keys[1:]:
        kind, col = k.split(":", 1)
        sel.append(_DUCK_AGG[kind].format(c=f'"{col}"'))
    row = con.execute(f"SELECT {', '.join(sel)} FROM ({sql}) q").fetchone()
    return dict(zip(keys, row))


def _same(a, b) -> bool:
    if a is None or b is None:
        return (a is None or a == 0) and (b is None or b == 0)
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))


def compare_fingerprints(got: dict, want: dict) -> list[str]:
    return [f"{k}: {got.get(k)} != {want.get(k)}" for k in want if not _same(got.get(k), want[k])]


def analytics_mix(ctx: Context) -> list[Op]:
    from pyspark.sql import Observation

    e = ctx.engine
    data = os.path.join(ctx.run_dir, "data")
    gen.generate_base(data, ctx.seed, ctx.scale)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracles: dict[str, dict] = {}
    state = {"session": None, "first_counts": None}
    module = {q: e.registry.QUERIES[q].__module__.rsplit(".", 1)[-1] for q, _ in MIX}

    def mix_pass(i: int) -> Op:
        spark = state["session"] = _fresh_session(ctx, state["session"])
        parts: dict[str, float] = {}
        observed = {}

        def run_query(q: str) -> None:
            # building the frame is timed too: some queries run eager jobs
            # (training, guards, split probes) while planning
            df = e.registry.QUERIES[q](spark, data)
            df.observe(observed[q], *_fingerprint_exprs(df)).write.format("noop").mode("overwrite").save()

        with ctx.tracer.span("pass", "bench") as root:
            for q, family in MIX:
                observed[q] = Observation(f"p{i}_{q}")
                _timed(ctx, parts, q, f"operators.{module[q]}", lambda: run_query(q))
        latency = sum(parts.values())
        families = {f"mix.{f}_s": 0.0 for f in FAMILIES}
        for q, family in MIX:
            families[f"mix.{family}_s"] += parts[f"operators.{module[q]}.{q}_s"]
        errors = []
        counts = {}
        for q, _ in MIX:
            got = observed[q].get
            counts[q] = got["n"]
            if q not in oracles:
                oracles[q] = _oracle_for(e, con, q, got)
            errors += [f"{q}: {m}" for m in compare_fingerprints(got, oracles[q])]
        if state["first_counts"] is None:
            state["first_counts"] = counts
        elif counts != state["first_counts"]:
            errors.append(f"row counts changed from the first pass: {counts}")
        return Op(latency, not errors, "; ".join(errors), families, root.id if root else None)

    try:
        return _loop(ctx, mix_pass)
    finally:
        con.close()


def _oracle_for(e, con, q: str, got: dict) -> dict:
    if q in SKELETON:
        twin, cols = SKELETON[q]
        keys = ["n"] + [k for k in got if k != "n" and k.split(":", 1)[1] in cols]
        return oracle_fingerprint(con, e.registry.ORACLE[twin], keys)
    return oracle_fingerprint(con, e.registry.ORACLE[q], list(got))


def collection_of(path: str, store: str) -> str | None:
    """The store collection a Spark write targets: plans.sync stages each
    merge in ``<store>/<collection>_<random>/data``, the writeback in
    ``<store>/hotspots.next``."""
    rel = os.path.relpath(path, store)
    head = re.match(r"[a-z]+", rel.split(os.sep, 1)[0])
    return head.group(0) if head and head.group(0) in COLLECTIONS else None


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {
    "full_sync": full_sync,
    "incremental_follow": incremental_follow,
    "analytics_mix": analytics_mix,
}
