"""Seeded commit round for the commits_and_queries workload, and a replay model.

`generate` writes the op log: the user dimension and the batches of an
append, an equality-delete merge, a CDC fold, a merge-on-read range
delete and a paired branch write (fact append plus dimension upsert).
The harness applies them in that order through the engine's
ManifestTable / TableGroup API.

`replay` applies the same round to an in-memory model of the fact and
dimension tables. Compaction and vacuum change no content, so the model
ignores them. `table_hash` is an order-insensitive hash of a row set.
"""
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

FACT_COLS = ("event_id", "user_id", "event_type", "value")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
N_SEGMENTS = 7
FRESH_ID_BASE = 1_000_000
SIZES = {"append": 2000, "merge": 1000, "cdc_keys": 800, "cdc_repeat": 0.2,
         "cdc_delete": 0.3, "delete_span": 300, "branch_fact": 500,
         "branch_dim": 20}


def load_events(sf_dir):
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=list(FACT_COLS))
    cols = [t.column(c).to_pylist() for c in FACT_COLS]
    return {r[0]: r[1:] for r in zip(*cols)}


def _fact_table(rows):
    return pa.table({c: pa.array([r[i] for r in rows], type=t) for i, (c, t) in
                     enumerate(zip(FACT_COLS, (pa.int64(), pa.int64(),
                                               pa.string(), pa.float64())))})


def _write(path, table):
    pq.write_table(table, path, compression="snappy")


def segment_of(user_id, salt=0):
    return f"seg-{(user_id + salt) % N_SEGMENTS}"


def generate(out_dir, seed, sf_dir):
    """Write `<out_dir>/dim.parquet`, `<out_dir>/ops/*.parquet` and
    `<out_dir>/oplog.json`; return the op log."""
    rng = random.Random(seed)
    ops_dir = os.path.join(out_dir, "ops")
    os.makedirs(ops_dir, exist_ok=True)
    events = load_events(sf_dir)
    users = sorted({v[0] for v in events.values()})
    _write(os.path.join(out_dir, "dim.parquet"), pa.table({
        "user_id": pa.array(users, type=pa.int64()),
        "segment": pa.array([segment_of(u) for u in users], type=pa.string())}))
    known = list(events)  # ids ever assigned; live or not
    fresh = FRESH_ID_BASE

    def new_ids(n):
        nonlocal fresh
        ids = list(range(fresh, fresh + n))
        fresh += n
        known.extend(ids)
        return ids

    def row(i):
        return (i, rng.choice(users), rng.choice(EVENT_TYPES),
                round(rng.uniform(0.0, 500.0), 2))

    p = lambda name: os.path.join(ops_dir, f"{name}.parquet")
    _write(p("append"), _fact_table([row(i) for i in new_ids(SIZES["append"])]))
    half = SIZES["merge"] // 2
    merge_ids = rng.sample(known, half) + new_ids(SIZES["merge"] - half)
    _write(p("merge"), _fact_table([row(i) for i in merge_ids]))
    keys = rng.sample(known, SIZES["cdc_keys"] // 2) + new_ids(SIZES["cdc_keys"] // 2)
    changes = []
    for k in keys:
        for s in range(2 if rng.random() < SIZES["cdc_repeat"] else 1):
            op = "D" if rng.random() < SIZES["cdc_delete"] else "U"
            changes.append(row(k) + (len(changes) + 1, op))
    rng.shuffle(changes)
    cdc = _fact_table([c[:4] for c in changes])
    cdc = cdc.append_column("seq", pa.array([c[4] for c in changes], type=pa.int64()))
    cdc = cdc.append_column("op", pa.array([c[5] for c in changes], type=pa.string()))
    _write(p("cdc"), cdc)
    lo = rng.choice(known)
    _write(p("branch_fact"), _fact_table([row(i) for i in new_ids(SIZES["branch_fact"])]))
    dim_users = sorted(rng.sample(users, SIZES["branch_dim"]))
    _write(p("branch_dim"), pa.table({
        "user_id": pa.array(dim_users, type=pa.int64()),
        "segment": pa.array([segment_of(u, 1) for u in dim_users], type=pa.string())}))
    oplog = {"seed": seed, "delete_lo": lo, "delete_hi": lo + SIZES["delete_span"],
             "sizes": SIZES}
    with open(os.path.join(out_dir, "oplog.json"), "w") as f:
        json.dump(oplog, f, separators=(",", ":"))
    return oplog


def _rows(path):
    t = pq.read_table(path)
    return list(zip(*[t.column(c).to_pylist() for c in t.column_names]))


def replay(out_dir, sf_dir):
    """Fact and dimension state after the round:
    ({event_id: (user_id, event_type, value)}, {user_id: segment})."""
    with open(os.path.join(out_dir, "oplog.json")) as f:
        log = json.load(f)
    fact = load_events(sf_dir)
    dim = dict(_rows(os.path.join(out_dir, "dim.parquet")))
    p = lambda name: os.path.join(out_dir, "ops", f"{name}.parquet")
    for name in ("append", "merge"):  # keyed upserts; appends are fresh ids
        for rw in _rows(p(name)):
            fact[rw[0]] = rw[1:]
    winners = {}
    for rw in _rows(p("cdc")):  # highest seq per key wins
        if rw[0] not in winners or rw[4] > winners[rw[0]][4]:
            winners[rw[0]] = rw
    for k, rw in winners.items():
        if rw[5] == "D":
            fact.pop(k, None)
        else:
            fact[k] = rw[1:4]
    lo, hi = log["delete_lo"], log["delete_hi"]
    for k in [k for k in fact if lo <= k <= hi]:
        del fact[k]
    for rw in _rows(p("branch_fact")):
        fact[rw[0]] = rw[1:]
    dim.update(_rows(p("branch_dim")))
    return fact, dim


def mv_rows(fact, dim):
    """The fact-join-dimension view: segment -> (row count, value sum)."""
    out = {}
    for user, _, value in fact.values():
        seg = dim.get(user)
        if seg is not None:
            n, s = out.get(seg, (0, 0.0))
            out[seg] = (n + 1, s + value)
    return out


def table_hash(rows):
    """Order-insensitive hash of an iterable of row tuples."""
    h = 0
    for r in rows:
        d = hashlib.blake2b("|".join(map(repr, r)).encode(), digest_size=8).digest()
        h = (h + int.from_bytes(d, "big")) % (1 << 64)
    return f"{h:016x}"
