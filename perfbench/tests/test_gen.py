import hashlib
import os

import pyarrow.parquet as pq

import gen

SCALE = 0.001


def _digests(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_base_tables_are_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    counts = gen.generate_base(str(a), 7, SCALE)
    gen.generate_base(str(b), 7, SCALE)
    gen.generate_base(str(c), 8, SCALE)
    assert set(counts) == set(gen.TABLES)
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)


def test_deltas_are_byte_identical_per_seed(tmp_path):
    a = gen.generate_deltas(str(tmp_path / "a"), 7, SCALE, 3)
    b = gen.generate_deltas(str(tmp_path / "b"), 7, SCALE, 3)
    assert [x["fresh_payment_keys"] for x in a] == [x["fresh_payment_keys"] for x in b]
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")


def test_deltas_follow_the_base_and_redeliver_old_rows(tmp_path):
    gen.generate_base(str(tmp_path / "base"), 3, SCALE)
    base = pq.read_table(str(tmp_path / "base" / "events.parquet")).to_pydict()
    batches = gen.generate_deltas(str(tmp_path / "d"), 3, SCALE, 2)
    seen = {(e, u, p) for e, u, p in zip(base["event_id"], base["user_id"], base["props"])}
    last_base_ts = max(base["ts"])
    for b in batches:
        t = pq.read_table(os.path.join(b["path"], "events.parquet")).to_pydict()
        rows = list(zip(t["event_id"], t["user_id"], t["props"], t["event_type"], t["ts"]))
        fresh = [r for r in rows if r[:3] not in seen]
        old = [r for r in rows if r[:3] in seen]
        assert len(old) == int(gen.DELTA_ROWS * gen.REDELIVER_SHARE)
        assert all(r[4] > last_base_ts for r in fresh)
        assert b["fresh_payment_keys"] == sum(r[3] in gen.PAYMENT_TYPES for r in fresh)
        seen |= {r[:3] for r in fresh}
