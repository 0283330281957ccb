"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its DuckDB oracle on the same sf dir and
compares row count, column-name set, and the order-insensitive multiset of
values (columns sorted by name — the driver's hashing contract). Floats
compare EXACTLY (bit-for-bit), matching the driver's value-hash: a 1e-9
tolerance here once hid a last-ulp oracle literal bug (q106) that the
driver then caught — the local gate must be at least as strict as the
real one.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb

from spark_state_provider_spark.tables import TABLE_NAMES, table_path

FLOAT_ABS_TOL = 0.0  # exact — the driver hashes values, no slack


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


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


def _values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= FLOAT_ABS_TOL
    return a == b


def compare_all(spark, sf_dir: str, names, max_workers: int = 12) -> list[str]:
    """``compare_query`` over many names with OVERLAPPING Spark jobs
    (guide §2.6): at tiny test scale each query's wall time is fixed
    scheduling/collect latency, not compute, so independent queries in
    flight together cut a whole-registry sweep several-fold. Returns the
    sorted failure list ("name: error"). Streaming conf windows are
    serialized by ``_streaming_session``'s internal lock; results are
    partition-count invariant (pinned by the adversarial-geometry sweep),
    so batch queries overlapping a pinned window stay correct."""
    from concurrent.futures import ThreadPoolExecutor

    from spark_state_provider_spark.session import ensure_active_session
    from spark_state_provider_spark.sources.python_source import (
        register_all_python_sources,
    )

    register_all_python_sources(spark)

    def one(name: str) -> str | None:
        # worker threads map to fresh JVM threads with NO active session;
        # Python-data-source lookups resolve through it (session.py)
        ensure_active_session(spark)
        try:
            compare_query(spark, sf_dir, name)
            return None
        except Exception as e:
            return f"{name}: {str(e)[:160]}"

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return sorted(f for f in pool.map(one, names) if f)


def compare_query(spark, sf_dir: str, name: str) -> None:
    """Assert the Spark query matches its DuckDB oracle (driver contract)."""
    from spark_state_provider_spark.operators import registry

    spec = registry.get(name)
    assert spec.oracle is not None, f"{name} has no oracle"
    compare_frame(spec.fn(spark, sf_dir), sf_dir, spec.oracle, name)


def compare_frame(sdf, sf_dir: str, oracle: str, name: str) -> None:
    """Assert a Spark DataFrame matches a DuckDB oracle query."""
    spark_cols = sorted(sdf.columns)
    spark_rows = [
        tuple(_norm(row[c]) for c in spark_cols) for row in sdf.collect()
    ]

    con = duckdb_connect(sf_dir)
    cur = con.execute(oracle)
    duck_cols_raw = [d[0] for d in cur.description]
    duck_rows_raw = cur.fetchall()
    order = sorted(range(len(duck_cols_raw)), key=lambda i: duck_cols_raw[i])
    duck_cols = [duck_cols_raw[i] for i in order]
    duck_rows = [tuple(_norm(r[i]) for i in order) for r in duck_rows_raw]
    con.close()

    assert spark_cols == duck_cols, (
        f"{name}: column mismatch spark={spark_cols} duckdb={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duckdb={len(duck_rows)}"
    )

    spark_rows.sort(key=_sort_key)
    duck_rows.sort(key=_sort_key)
    mismatches = []
    for i, (sr, dr) in enumerate(zip(spark_rows, duck_rows)):
        if not all(_values_equal(a, b) for a, b in zip(sr, dr)):
            mismatches.append((i, sr, dr))
            if len(mismatches) >= 5:
                break
    assert not mismatches, f"{name}: value mismatches (spark vs duckdb): {mismatches}"
