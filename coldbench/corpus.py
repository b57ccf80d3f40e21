"""Seeded corpus generator for the cold-posture benchmark.

Builds, from one integer seed and nothing else:

- ``base``: an sf0.1-sized star schema plus events and embeddings, with
  the schemas of the repository's fixtures (FIXTURES.md);
- ``x10``: a 10x replica of ``base`` with per-replica key offsets, the
  scheme of ``tools/scale_smoke.py`` (6 M lineitem, 1 M events);
- ``backlog``: ``base``'s events as ``events.parquet`` and, under
  ``backlog/``, split by event_id into equal parquet files with strictly
  increasing mtimes, for the file stream source.

A seed changes keys' assignment, values and row order. It does not
change table sizes or the selectivity of any headline predicate: every
column a predicate or a grouping reads (dates, market segment, return
flag and line status, event type, orders per customer, lines per order)
is a fixed multiset that the seed only permutes.

Usage: python3 coldbench/corpus.py <base|x10|backlog> <seed> <out_dir>
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_VECTORS = 2_000
EMBED_DIM = 64
N_LABELS = 10
REPLICAS = 10
BACKLOG_FILES = 2

_DONE = "_corpus.json"
_US_PER_DAY = 86_400_000_000


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype("int64"))


def _spread(n: int, lo_us: int, hi_us: int, step_us: int) -> np.ndarray:
    """n values evenly spread over [lo, hi], snapped to `step_us`: a
    fixed multiset, so predicate selectivities never depend on the seed."""
    raw = lo_us + (np.arange(n, dtype=np.int64) * (hi_us - lo_us)) // max(n - 1, 1)
    return raw - (raw - lo_us) % step_us


def _balanced(values, n: int, rng) -> np.ndarray:
    """Exactly equal counts of each value (remainder to the first ones),
    in seeded order."""
    return rng.permutation(np.resize(np.asarray(values), n))


def _money(rng, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def base_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    ck = rng.permutation(N_CUSTOMER)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -99_999, 999_999, N_CUSTOMER),
        "c_mktsegment": _balanced(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], N_CUSTOMER, rng),
    })

    sk = rng.permutation(N_SUPPLIER)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -99_999, 999_999, N_SUPPLIER),
    })

    ok = rng.permutation(N_ORDERS)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        # every customer holds exactly N_ORDERS / N_CUSTOMER orders
        "o_custkey": pa.array(_balanced(np.arange(N_CUSTOMER), N_ORDERS, rng),
                              pa.int64()),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), N_ORDERS),
        "o_totalprice": _money(rng, 100_000, 50_000_000, N_ORDERS),
        "o_orderdate": _ts(rng.permutation(_spread(
            N_ORDERS, _day_us("1995-01-01"), _day_us("2001-08-01"), _US_PER_DAY))),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), N_ORDERS),
    })

    # lines per order: the fixed multiset {1..7} (mean 4), seeded order
    per_order = np.resize(np.arange(1, 8), N_ORDERS)
    deficit = N_LINEITEM - int(per_order.sum())
    per_order[np.flatnonzero(per_order == 1)[:deficit]] += 1
    per_order = rng.permutation(per_order)
    l_orderkey = np.repeat(np.arange(N_ORDERS), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_linenumber = np.arange(N_LINEITEM) - starts + 1
    flags = _balanced(np.arange(6), N_LINEITEM, rng)
    order = rng.permutation(N_LINEITEM)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_orderkey[order], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(l_linenumber[order], pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 90_000, 10_500_000, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": _ts(rng.permutation(_spread(
            N_LINEITEM, _day_us("1995-01-02"), _day_us("2001-11-04"), _US_PER_DAY))),
    })

    # events arrive in time order: event_id is the arrival rank
    ts = np.sort(rng.integers(_day_us("2024-01-01"), _day_us("2024-01-31"), N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": _balanced(["click", "error", "purchase", "signup", "view"],
                                N_EVENTS, rng),
        "value": _money(rng, 0, 56_000, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    emb = (rng.standard_normal((N_VECTORS, EMBED_DIM)) * 0.15).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(rng.permutation(N_VECTORS), pa.int64()),
        "embedding": _embedding_array(emb),
        "label": pa.array(_balanced(np.arange(N_LABELS), N_VECTORS, rng), pa.int32()),
    })
    return out


def _embedding_array(emb: np.ndarray) -> pa.Array:
    n, dim = emb.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(emb.reshape(-1), pa.float32()))


# table -> key columns offset per replica, by entity (tools/scale_smoke.py)
_KEYED = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_suppkey": "supp"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "embeddings": {"vec_id": "vec"},
}
_STRIDE = {"cust": N_CUSTOMER, "order": N_ORDERS, "supp": N_SUPPLIER,
           "event": N_EVENTS, "user": N_USERS, "vec": N_VECTORS}


def replica_tables(base: dict[str, pa.Table]) -> dict[str, pa.Table]:
    """REPLICAS copies of every keyed table. Replica i offsets each key
    by i * stride (foreign keys with their dimension, so per-replica join
    fan-out equals the base), rotates embedding coordinates by i and
    offsets labels by i * N_LABELS; region, nation, timestamps and
    values stay as they are."""
    out = {t: base[t] for t in ("region", "nation")}
    for tname, keys in _KEYED.items():
        src = base[tname]
        reps = []
        for i in range(REPLICAS):
            t = src
            for col, ent in keys.items():
                j = t.schema.get_field_index(col)
                shifted = t.column(col).to_numpy() + i * _STRIDE[ent]
                t = t.set_column(j, col, pa.array(shifted, t.schema.field(col).type))
            if tname == "embeddings":
                emb = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
                t = t.set_column(1, "embedding", _embedding_array(np.roll(emb, i, axis=1)))
                t = t.set_column(2, "label", pa.array(
                    t.column("label").to_numpy() + i * N_LABELS, pa.int32()))
            reps.append(t)
        out[tname] = pa.concat_tables(reps)
    return out


def _write_tables(tables: dict[str, pa.Table], out_dir: str, row_group_size=None) -> None:
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=row_group_size)


def write_backlog(events: pa.Table, out_dir: str, n_files: int = BACKLOG_FILES) -> None:
    """Equal event_id ranges, one parquet file each, with strictly
    increasing mtimes: the file source replays in mtime order."""
    per = len(events) // n_files
    assert per * n_files == len(events)
    for i in range(n_files):
        dst = os.path.join(out_dir, f"{i:03d}.parquet")
        pq.write_table(events.slice(i * per, per), dst)
        os.utime(dst, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))


def generate(kind: str, seed: int, out_dir: str) -> dict:
    """Write corpus `kind` for `seed` into `out_dir` (replacing it) and
    return its manifest {kind, seed, rows: {table: n}}."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    base = base_tables(seed)
    if kind == "base":
        tables = base
        _write_tables(tables, out_dir)
    elif kind == "x10":
        tables = replica_tables(base)
        # 250k-row groups: scans split at row-group boundaries
        _write_tables(tables, out_dir, row_group_size=250_000)
    elif kind == "backlog":
        tables = {"events": base["events"]}
        _write_tables(tables, out_dir)
        os.makedirs(os.path.join(out_dir, "backlog"))
        write_backlog(base["events"], os.path.join(out_dir, "backlog"))
    else:
        raise ValueError(f"unknown corpus kind {kind!r}")
    users = len(np.unique(tables["events"].column("user_id").to_numpy()))
    manifest = {"kind": kind, "seed": seed, "users": users,
                "rows": {t: tab.num_rows for t, tab in tables.items()}}
    with open(os.path.join(out_dir, _DONE), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def ensure(kind: str, seed: int, root: str) -> str:
    """The directory of corpus `kind` for `seed` under `root`, generated
    unless a complete copy is already there. The name carries a digest
    of this generator's source, so an edited generator never reuses an
    old copy. Other copies of the same kind are removed first, so at
    most one per kind stays on disk."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    out_dir = os.path.join(root, f"{kind}-seed{seed}-{version}")
    if os.path.isfile(os.path.join(out_dir, _DONE)):
        return out_dir
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.startswith(f"{kind}-"):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    generate(kind, seed, out_dir)
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
