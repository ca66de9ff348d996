"""Seeded input generation for the benchmark workloads.

Every workload starts from the base tables in `perfbench/data` (the sf0.01
fixture set: TPC-H-like star tables plus `events`, `documents` and
`embeddings`) and derives its inputs from the seed alone:

- `relabel`: each id domain gets a seeded permutation of its own values,
  applied consistently to every column that refers to it, and every table's
  rows are shuffled. Sizes and value domains do not change.
- `event_chunks`: a time-ordered sequence of small `events` files for the
  streaming workload; copy r of the base events is shifted r whole spans
  forward in time, so the sequence can be as long as a run needs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# id domain -> (table, column) pairs that carry it
DOMAINS = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "user_id": [("events", "user_id")],
    "event_id": [("events", "event_id")],
    # one id space: vector v embeds document v, and sim13 joins them
    "doc_id": [("documents", "doc_id"), ("embeddings", "vec_id")],
}


def load_base():
    return {t: pq.read_table(os.path.join(BASE, f"{t}.parquet")).replace_schema_metadata(None)
            for t in TABLES}


def _remap(col, mapping):
    """Apply a value->value dict to an int64 arrow column (nulls kept)."""
    keys = np.fromiter(mapping.keys(), dtype=np.int64)
    vals = np.fromiter(mapping.values(), dtype=np.int64)
    arr = col.to_numpy(zero_copy_only=False)
    mask = pc.is_null(col).to_numpy(zero_copy_only=False)
    filled = np.where(mask, keys[0], arr).astype(np.int64)
    order = np.argsort(keys)
    idx = np.searchsorted(keys[order], filled)
    out = vals[order][idx]
    return pa.array(out, type=col.type, mask=mask)


def _set(table, name, arr):
    return table.set_column(table.schema.get_field_index(name), name, arr)


def relabel(tables, rng):
    """Seeded id permutation within each domain, then a row shuffle."""
    out = dict(tables)
    for refs in DOMAINS.values():
        values = np.unique(np.concatenate([
            pc.drop_null(out[t][c]).to_numpy() for t, c in refs]))
        mapping = dict(zip(values.tolist(), rng.permutation(values).tolist()))
        for t, c in refs:
            out[t] = _set(out[t], c, _remap(out[t][c].combine_chunks(), mapping))
    return {t: tb.take(pa.array(rng.permutation(tb.num_rows))) for t, tb in out.items()}


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for t, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{t}.parquet"))


def event_chunks(events, n_chunks, chunk_rows, out_dir):
    """`n_chunks` time-ordered files of `chunk_rows` events each."""
    os.makedirs(out_dir, exist_ok=True)
    ts = events["ts"]
    t0 = pc.min(ts).as_py()
    days = (pc.max(ts).as_py() - t0).days + 1
    span_e = int(pc.max(events["event_id"]).as_py()) + 1
    base = events.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    need = n_chunks * chunk_rows
    parts = []
    r = 0
    while sum(p.num_rows for p in parts) < need:
        shift = pa.scalar(np.timedelta64(r * days, "D").astype("timedelta64[us]"))
        t = _set(base, "ts", pc.add(base["ts"], shift))
        parts.append(_set(t, "event_id", pc.add(base["event_id"], r * span_e)))
        r += 1
    seq = pa.concat_tables(parts)
    paths = []
    for k in range(n_chunks):
        p = os.path.join(out_dir, f"chunk_{k:05d}.parquet")
        pq.write_table(seq.slice(k * chunk_rows, chunk_rows), p)
        paths.append(p)
    return paths
