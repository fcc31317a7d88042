"""DuckDB oracle digests and the matching digests of the program's results.

Both sides go through the same normalization as ``tools/preflight.py``
(columns by name, rows sorted, timestamps in microseconds, nullable ints
widened) and are then hashed, so a result matches its oracle exactly when
preflight would call the two frames equal.
"""
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

# The benchmark's own oracles, for operations that are not registry keys.
# `enrich` is TimeSeries2.enrichTrades: each click carries the latest
# view quote (deduplicated to max value per user and ts) at or before it.
OWN_SQL = {
    "scan": "SELECT event_id, ts, user_id, event_type, value, props FROM events",
    "enrich": """
        WITH q AS (SELECT user_id AS q_uid, ts AS q_ts, max(value) AS qv
                   FROM events WHERE event_type = 'view' GROUP BY 1, 2),
             t AS (SELECT event_id, user_id, ts, value,
                          CAST(json_extract_string(props, '$.k') AS BIGINT) AS sz
                   FROM events WHERE event_type = 'click')
        SELECT t.event_id, t.user_id, t.ts, t.value, t.sz, q.qv AS mid
        FROM t ASOF LEFT JOIN q ON t.user_id = q.q_uid AND t.ts >= q.q_ts""",
}
OWN_SQL["readback"] = OWN_SQL["enrich"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """Same recipe as ``norm`` in tools/preflight.py."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) in ("Int32", "Int64"):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
    cols = list(df.columns)
    df = df.sort_values(by=cols, na_position="first", kind="mergesort")
    return df.reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    """Hash of a normalized frame: names, dtypes and every value. NaN
    equals NaN and -0.0 equals 0.0, as in a pandas ``equals`` compare."""
    h = hashlib.sha256()
    h.update(repr([(c, str(df[c].dtype)) for c in df.columns]).encode())
    h.update(str(len(df)).encode())
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            a = s.to_numpy() + 0.0
            h.update(np.where(np.isnan(a), np.nan, a).tobytes())
        elif s.dtype.kind in "biumM":
            h.update(np.ascontiguousarray(s.to_numpy()).tobytes())
        else:
            h.update("\x1f".join(map(repr, s.tolist())).encode())
    return h.hexdigest()


def connect(data_dir):
    """DuckDB views over the generated tables, as preflight creates them."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        t = name[:-len(".parquet")]
        p = os.path.join(data_dir, name)
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        if t == "events":
            ty = con.sql(f"SELECT typeof(ts) FROM {src} LIMIT 1").fetchone()[0]
            ts = "make_timestamp(ts) AS ts" if ty == "BIGINT" else "ts"
            con.sql(f"CREATE VIEW events AS SELECT event_id, {ts}, "
                    f"user_id, event_type, value, props FROM {src}")
        else:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def oracle_digests(data_dir, sqls):
    """{op: {"digest", "rows"}} of each oracle query on the generated data."""
    con = connect(data_dir)
    out = {}
    for op, sql in sorted(sqls.items()):
        df = norm(con.sql(sql).df())
        out[op] = {"digest": digest(df), "rows": len(df)}
    return out


def result_digest(parquet_dir):
    """Digest of one result the program wrote as parquet."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    df = norm(con.sql(f"SELECT * FROM '{parquet_dir}/*.parquet'").df())
    return {"digest": digest(df), "rows": len(df)}
