"""Output checks, made outside the timed region.

Batch ops: each op's check-pass result against its DuckDB oracle on the
same generated inputs (the oracle side is cached per seed). Stream sinks:
each sink's final table against its batch twin over all the chunks it
was fed.
A missing output, an oracle error or any difference is a failure."""
import datetime
import hashlib
import math
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """Columns by name, comparable dtypes, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].dt.tz_localize(None) if getattr(df[c].dt, "tz", None) else df[c]
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            if df[c].map(lambda v: isinstance(v, datetime.date) or v is None).all():
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                df[c] = df[c].map(lambda v: None if v is None or (
                    isinstance(v, float) and math.isnan(v)) else str(
                        v.tolist() if hasattr(v, "tolist") else v))
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def diff(mine, oracle):
    """None when equal, else a one-line reason."""
    a, b = canon(mine), canon(oracle)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if not a.equals(b):
        bad = [c for c in a.columns if not a[c].equals(b[c])]
        return f"values differ in {bad}"
    return None


def connect(data_dir, root):
    con = duckdb.connect(config={"threads": 2})
    con.sql(f"SET file_search_path='{root}'")
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracle_frame(con, sql, cache_dir, name):
    key = hashlib.sha256(sql.encode()).hexdigest()[:12]
    path = Path(cache_dir) / f"{name}-{key}.pkl"
    if path.exists():
        return pd.read_pickle(path)
    df = con.sql(sql).df()
    path.parent.mkdir(parents=True, exist_ok=True)
    df.to_pickle(path)
    return df


def batch(rec, data_dir, out_dir, cache_dir, root):
    con = connect(data_dir, root)
    fails = []
    for name, status in sorted(rec["check"].items()):
        if status != "ok":
            fails.append(f"{name}: {status}")
            continue
        sql = rec["oracles"].get(name)
        if sql is None:
            fails.append(f"{name}: no oracle")
            continue
        try:
            oracle = oracle_frame(con, sql, cache_dir, name)
        except Exception as e:  # an oracle that cannot run is a failure
            fails.append(f"{name}: oracle error {e}")
            continue
        why = diff(pd.read_parquet(Path(out_dir) / name), oracle)
        if why:
            fails.append(f"{name}: {why}")
    return fails


def stream(rec, out_dir, root):
    dumps = rec["region"]["sink_dumps"]
    fails = []
    for sink in dumps:
        if dumps[sink] != "ok":
            fails.append(f"{sink} sink: {dumps[sink]}")
            continue
        files = rec["region"]["fed"]
        con = duckdb.connect(config={"threads": 2})
        con.sql(f"SET file_search_path='{root}'")
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet({files!r})")
        if sink == "merge":
            twin = con.sql("SELECT * FROM events").df()
        else:
            twin = con.sql("SELECT event_id, user_id, ts, value FROM events").df()
        why = diff(pd.read_parquet(Path(out_dir) / sink), twin)
        if why:
            fails.append(f"{sink} sink: {why}")
    return fails


def run(wl, rec, data_dir, out_dir, cache_dir, root):
    if wl["kind"] == "stream":
        return stream(rec, out_dir, root)
    return batch(rec, data_dir, out_dir, cache_dir, root)
