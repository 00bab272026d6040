"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``), one parquet file each,
with the schemas and value distributions of the engine's synthetic test
data, and the delta ``events`` batches the incremental follower merges.

Everything is a function of ``seed`` and ``scale``: the same arguments give
byte-identical files (pinned by ``tests/test_gen.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("purchase", "signup", "click", "view", "error")
PAYMENT_TYPES = ("purchase", "signup")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("blue", "red", "hot", "cold", "new", "old", "small", "large")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EMB_DIM = 64
N_LABELS = 10

EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")
ORDER_START = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # through 2001-08-01
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
DELTA_SPAN_US = 600 * 1_000_000  # one delta batch covers ten minutes

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DELTA_ROWS = 2000
REDELIVER_SHARE = 0.10


def _write(table: pa.Table, path: str) -> None:
    # one row group per file at the benchmark's scale, like the engine's
    # test data; uncompressed files are cheap to write
    pq.write_table(table, path, compression="none", row_group_size=1 << 20)


def _days(rng: np.random.Generator, n: int, offset: int = 0) -> np.ndarray:
    d = ORDER_START + rng.integers(0, ORDER_DAYS, n).astype("timedelta64[D]")
    return (d + np.timedelta64(offset, "D")).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(
    rng: np.random.Generator, first_id: int, n: int, start_us: int, span_us: int, n_users: int
) -> dict[str, np.ndarray]:
    ts = np.sort(rng.integers(start_us, start_us + span_us, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def _events_table(ev: dict[str, np.ndarray]) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(ev["event_id"], pa.int64()),
            "ts": pa.array(ev["ts"].astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(ev["user_id"], pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in ev["event_type"]], pa.string()),
            "value": pa.array(ev["value"], pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in ev["k"]], pa.string()),
        }
    )


_EVENT_START_US = int((EVENT_START - EPOCH_US).astype(np.int64))


def _base_events(seed: int, n: dict[str, int]) -> dict[str, np.ndarray]:
    # a stream of its own, so the delta generator can rebuild the base
    # events without replaying every other table's draws
    rng = np.random.default_rng([seed, 2])
    return _events(rng, 0, n["events"], _EVENT_START_US, EVENT_SPAN_US, n["users"])


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (1.0 = TPC-H scale factor 1)."""
    return {
        "customer": max(50, int(150_000 * scale)),
        "supplier": max(25, int(10_000 * scale)),
        "part": max(100, int(200_000 * scale)),
        "orders": max(500, int(1_500_000 * scale)),
        "lineitem": max(2000, int(6_000_000 * scale)),
        # the event stream is kept ten times denser than the star schema so
        # the payments collection dwarfs one delta batch
        "events": max(1000, int(10_000_000 * scale)),
        "users": max(50, int(150_000 * scale)),
        "documents": max(200, int(50_000 * scale)),
        "embeddings": max(200, int(50_000 * scale)),
    }


def generate_base(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten base tables into ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    rng = np.random.default_rng([seed, 0])

    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}),
        os.path.join(out_dir, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )

    nc = n["customer"]
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )

    ns = n["supplier"]
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        os.path.join(out_dir, "supplier.parquet"),
    )

    npt = n["part"]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(npt), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, npt), rng.integers(0, 8, npt))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npt)],
                "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npt)],
                "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(npt) % 1000) / 10.0, 1),
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )

    no = n["orders"]
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
                "o_orderdate": pa.array(_days(rng, no), pa.timestamp("us")),
                "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )

    nl = n["lineitem"]
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npt, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
                "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
                "l_shipdate": pa.array(_days(rng, nl, offset=1), pa.timestamp("us")),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )

    _write(_events_table(_base_events(seed, n)), os.path.join(out_dir, "events.parquet"))

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(nd), pa.int64()),
                "text": texts,
                "lang": [LANGS[i] for i in rng.choice(len(LANGS), nd, p=LANG_P)],
                "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    ne = n["embeddings"]
    centers = rng.standard_normal((N_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, ne)
    vecs = 0.14 * centers[labels] + rng.standard_normal((ne, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(ne), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {t: pq.read_metadata(os.path.join(out_dir, f"{t}.parquet")).num_rows for t in TABLES}


def generate_deltas(out_dir: str, seed: int, scale: float, n_batches: int) -> list[dict]:
    """Write ``n_batches`` delta directories ``<out_dir>/<i>/events.parquet``.

    Each batch holds about ``DELTA_ROWS`` events timestamped after the base
    data (and after every earlier batch); about ``REDELIVER_SHARE`` of its
    rows are exact re-deliveries of rows from the base table or an earlier
    batch, which the ignore-merge must drop.  Returns, per batch, its path
    and the number of fresh payment keys it carries.
    """
    n = sizes(scale)
    rng = np.random.default_rng([seed, 1])
    # the base stream, regenerated rather than read back, is the pool
    # re-deliveries are drawn from
    pool = _base_events(seed, n)

    batches = []
    next_id = n["events"]
    t0 = _EVENT_START_US + EVENT_SPAN_US
    for b in range(n_batches):
        n_old = int(DELTA_ROWS * REDELIVER_SHARE)
        n_new = DELTA_ROWS - n_old + int(rng.integers(-100, 101))
        fresh = _events(rng, next_id, n_new, t0 + b * DELTA_SPAN_US, DELTA_SPAN_US, n["users"])
        pick = rng.choice(len(pool["event_id"]), n_old, replace=False)
        batch = {c: np.concatenate([fresh[c], pool[c][pick]]) for c in fresh}
        d = os.path.join(out_dir, f"{b:04d}")
        os.makedirs(d, exist_ok=True)
        _write(_events_table(batch), os.path.join(d, "events.parquet"))
        fresh_keys = int(np.isin(fresh["event_type"], [EVENT_TYPES.index(t) for t in PAYMENT_TYPES]).sum())
        batches.append({"path": d, "fresh_payment_keys": fresh_keys, "rows": n_new + n_old})
        pool = {c: np.concatenate([pool[c], fresh[c]]) for c in pool}
        next_id += n_new
    return batches
