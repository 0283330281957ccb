"""DuckDB oracles for the correctness gates (run outside timed regions).

Each oracle recomputes a workload's expected output from the generated
input files alone.  Rows compare as order-insensitive multisets with
floats compared exactly, the same rule as ``tests/oracle.py``.
"""

from __future__ import annotations

import datetime
import math
import os
import re
from decimal import Decimal

import duckdb

SLICE_RE = r"slice-(\d+)\.parquet"
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _slices_sql(drop_dir: str) -> str:
    return (
        "SELECT *, CAST(regexp_extract(filename, '" + SLICE_RE + "', 1) AS BIGINT) AS slice, "
        "epoch_ns(ts) // 1000 AS ts_us "
        f"FROM read_parquet('{os.path.join(drop_dir, 'slice-*.parquet')}', filename = true)"
    )


def fold_ttl_expected(drop_dir: str, ttl_secs: int) -> list[tuple]:
    """Final upsert table of the TTL fold over time-ordered slices: a
    user's statistics restart whenever its latest event in a slice is at
    least the TTL after its latest event in the previous slice it appeared
    in; the surviving row folds the user's last such epoch.  Columns:
    user_id, total_visits, first_event_id, last_event_id, n_event_types,
    first_ts_us, last_ts_us."""
    ttl_us = ttl_secs * 1_000_000
    sql = f"""
    WITH r AS ({_slices_sql(drop_dir)}),
    s AS (SELECT user_id, slice, max(ts_us) AS mts FROM r GROUP BY user_id, slice),
    e AS (
        SELECT user_id, slice,
               CASE WHEN mts - lag(mts) OVER w >= {ttl_us} THEN 1 ELSE 0 END AS brk
        FROM s WINDOW w AS (PARTITION BY user_id ORDER BY slice)),
    ep AS (
        SELECT user_id, slice,
               sum(brk) OVER (PARTITION BY user_id ORDER BY slice
                              ROWS UNBOUNDED PRECEDING) AS epoch
        FROM e),
    keep AS (
        SELECT user_id, slice FROM ep
        QUALIFY epoch = max(epoch) OVER (PARTITION BY user_id))
    SELECT r.user_id, count(*), min(event_id), max(event_id),
           count(DISTINCT event_type), min(ts_us), max(ts_us)
    FROM r JOIN keep USING (user_id, slice)
    GROUP BY r.user_id
    """
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()


def lifecycle_expected(drop_dir: str, delay_s: int, window_s: int) -> list[tuple]:
    """Windowed counts after watermark dedup over the micro-batch schedule
    (one slice per batch, in slice order).

    Batch k drops rows at or behind the late-event watermark, which is the
    previous batch's eviction watermark: the latest event time (in ms) of
    the slices before k - 1, minus the delay.  Surviving rows are counted
    once per event_id.  A window is emitted once the final eviction
    watermark (latest event time of all slices minus the delay) reaches
    its end.  Columns: window_start_us, event_type, n.

    A no-data batch between two slices advances the late-event watermark
    by one slice; the generator keeps late events behind both readings, so
    the expected rows do not depend on where such batches fall.
    """
    delay_ms = delay_s * 1000
    win_us = window_s * 1_000_000
    sql = f"""
    WITH r AS ({_slices_sql(drop_dir)}),
    m AS (SELECT slice, max(ts_us) // 1000 AS max_ms FROM r GROUP BY slice),
    wm AS (
        SELECT m.slice,
               (SELECT max(p.max_ms) FROM m p WHERE p.slice < m.slice - 1) - {delay_ms} AS late_ms
        FROM m),
    live AS (
        SELECT DISTINCT r.event_id, r.event_type, r.ts_us
        FROM r JOIN wm USING (slice)
        WHERE wm.late_ms IS NULL OR r.ts_us > wm.late_ms * 1000),
    w AS (
        SELECT ts_us - ((ts_us % {win_us}) + {win_us}) % {win_us} AS window_start_us,
               event_type
        FROM live)
    SELECT window_start_us, event_type, count(*) AS n
    FROM w
    WHERE (window_start_us + {win_us}) // 1000 <= (SELECT max(max_ms) FROM m) - {delay_ms}
    GROUP BY ALL
    """
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()


def tpch_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def tables_read(oracle_sql: str) -> set[str]:
    """The TPC-H tables an oracle query names."""
    return set(re.findall(r"\b(" + "|".join(TPCH_TABLES) + r")\b", oracle_sql))


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def _equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        return fa == fb or (math.isnan(fa) and math.isnan(fb))
    return a == b


def diff_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the two row multisets agree, else a short description."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    got = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    want = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_equal(a, b) for a, b in zip(g, w)):
            return f"row {g} != expected {w}"
    return None


def tpch_check(con: duckdb.DuckDBPyConnection, oracle_sql: str, columns: list[str], rows: list) -> str | None:
    """Compare a Spark result (``columns``, collected ``rows``) with the
    registry oracle, columns matched by sorted name."""
    cur = con.execute(oracle_sql)
    names = [d[0] for d in cur.description]
    if sorted(names) != sorted(columns):
        return f"columns {sorted(columns)} != expected {sorted(names)}"
    want_order = sorted(range(len(names)), key=lambda i: names[i])
    got_order = sorted(range(len(columns)), key=lambda i: columns[i])
    want = [tuple(r[i] for i in want_order) for r in cur.fetchall()]
    got = [tuple(r[i] for i in got_order) for r in rows]
    return diff_rows(got, want)
