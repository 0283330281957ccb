"""Seeded load generator for the benchmark, independent of the program.

It writes the inputs the program is then pointed at:

* ``events``: a drop directory of time-ordered parquet slices in the
  program's event schema (``streaming.sources.EVENT_SCHEMA``), one file per
  slice.  The traffic dimensions are parameters: key count, Zipf exponent
  of the key popularity, events per slice, redelivered-duplicate share,
  late-event share and the event-time span the slices cover.
* ``tpch``: the seven TPC-H-shaped tables (same columns, types and value
  domains as the repository's testdata) at a given scale factor.

The same seed and parameters give byte-identical files.  Every function
returns the sizes it wrote; the command line prints them as JSON::

    python3 perfbench/gen.py --seed 7 --out /tmp/drop events --slices 8
    python3 perfbench/gen.py --seed 7 --out /tmp/sf tpch --sf 0.01
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "cart", "purchase", "search", "share", "like", "login")

# Arrow twin of ``streaming.sources.EVENT_SCHEMA`` (the run checks the two
# agree before it measures anything).
EVENT_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

# 2021-01-04T00:00:00Z, a Monday, in microseconds.
T0_US = 1_609_718_400 * 1_000_000
# Slice k's files get mtime MTIME0 + k: the file source replays files in
# modification-time order, so slice order never rests on write timing.
MTIME0 = 1_600_000_000


@dataclasses.dataclass(frozen=True)
class EventSpec:
    """Traffic dimensions of one generated event stream."""

    keys: int = 2000
    zipf: float = 1.1
    events_per_slice: int = 2000
    slices: int = 8
    dup_share: float = 0.0
    late_share: float = 0.0
    span_s: int = 28 * 24 * 3600
    # Events redelivered or arriving late refer back at most this far; the
    # state_lifecycle job's watermark delay (kept >= 2 slice widths, so a
    # duplicate always meets its original's dedup state).
    late_delay_s: int = 0

    @property
    def slice_us(self) -> int:
        return self.span_s * 1_000_000 // self.slices


def _write(table: pa.Table, path: str, mtime: int | None = None) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def zipf_keys(rng: np.random.Generator, keys: int, exponent: float, n: int) -> np.ndarray:
    """``n`` user ids drawn from a Zipf popularity over ``keys`` ids.  Ranks
    map to ids through a seeded permutation, so hot keys land on arbitrary
    ids (and so on arbitrary state partitions)."""
    weights = 1.0 / np.arange(1, keys + 1, dtype=np.float64) ** exponent
    ranks = rng.choice(keys, size=n, p=weights / weights.sum())
    ids = rng.permutation(keys).astype(np.int64) + 1_000
    return ids[ranks]


def event_slices(seed: int, spec: EventSpec) -> list[dict[str, np.ndarray]]:
    """The stream as a list of per-slice column dicts (no files written).

    Slice k holds fresh events with event time inside
    ``[T0 + k*w, T0 + (k+1)*w)`` for slice width ``w``, plus (from slice 1)
    ``dup_share`` exact copies of events of this or the previous slice and
    (from slice 2) ``late_share`` fresh events whose time lies more than
    ``late_delay_s`` before slice k - 2 began, i.e. behind the watermark
    (with that delay) of batch k and of batch k - 1.
    """
    rng = np.random.default_rng(seed)
    w = spec.slice_us
    next_id = 1
    out: list[dict[str, np.ndarray]] = []
    prev: dict[str, np.ndarray] | None = None
    for k in range(spec.slices):
        n = spec.events_per_slice
        n_late = int(n * spec.late_share) if k >= 2 else 0
        n_dup = int(n * spec.dup_share) if k >= 1 else 0
        n_new = n - n_late - n_dup
        lo = T0_US + k * w
        ts = np.sort(rng.integers(lo, lo + w, size=n_new))
        cols = {
            "event_id": np.arange(next_id, next_id + n_new, dtype=np.int64),
            "ts": ts,
            "user_id": zipf_keys(rng, spec.keys, spec.zipf, n_new),
            "event_type": rng.integers(0, len(EVENT_TYPES), size=n_new),
            "value": rng.integers(0, 100_000, size=n_new),
        }
        next_id += n_new
        if n_late:
            hi = lo - 2 * w - spec.late_delay_s * 1_000_000 - 60_000_000
            late = {
                "event_id": np.arange(next_id, next_id + n_late, dtype=np.int64),
                "ts": rng.integers(hi - w, hi, size=n_late),
                "user_id": zipf_keys(rng, spec.keys, spec.zipf, n_late),
                "event_type": rng.integers(0, len(EVENT_TYPES), size=n_late),
                "value": rng.integers(0, 100_000, size=n_late),
            }
            next_id += n_late
            cols = {c: np.concatenate([cols[c], late[c]]) for c in cols}
        if n_dup:
            pool = cols if prev is None else {
                c: np.concatenate([prev[c], cols[c]]) for c in cols
            }
            pick = rng.choice(len(pool["event_id"]), size=n_dup, replace=False)
            cols = {c: np.concatenate([cols[c], pool[c][pick]]) for c in cols}
        order = rng.permutation(len(cols["event_id"]))
        cols = {c: v[order] for c, v in cols.items()}
        out.append(cols)
        prev = cols
    return out


def _events_table(cols: dict[str, np.ndarray]) -> pa.Table:
    types = np.asarray(EVENT_TYPES, dtype=object)[cols["event_type"]]
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(cols["value"] / 100.0, pa.float64()),
            "props": pa.array([f"p{v % 97}" for v in cols["value"]], pa.string()),
        },
        schema=EVENT_ARROW_SCHEMA,
    )


def slice_path(drop_dir: str, k: int) -> str:
    return os.path.join(drop_dir, f"slice-{k:05d}.parquet")


def write_slice(drop_dir: str, k: int, cols: dict[str, np.ndarray]) -> int:
    """Write slice ``k`` into the drop directory; returns its bytes."""
    return _write(_events_table(cols), slice_path(drop_dir, k), MTIME0 + k)


def write_events(seed: int, spec: EventSpec, drop_dir: str) -> dict:
    slices = event_slices(seed, spec)
    sizes = [write_slice(drop_dir, k, s) for k, s in enumerate(slices)]
    return {
        "kind": "events",
        "seed": seed,
        **dataclasses.asdict(spec),
        "rows": int(sum(len(s["event_id"]) for s in slices)),
        "bytes": int(sum(sizes)),
        "distinct_keys": int(len(np.unique(np.concatenate([s["user_id"] for s in slices])))),
    }


# --------------------------------------------------------------------------
# TPC-H-shaped tables
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("blue", "red", "green", "small", "large", "steel", "brass", "anvil", "widget", "gear")
DAY_US = 86_400 * 1_000_000
ORDER_DATE0_US = 788_918_400 * 1_000_000  # 1995-01-01
ORDER_DAYS = 2404  # through 2001-08-01


def _money(rng, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents + 1, size=n) / 100.0


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size=n)], pa.string())


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 100)
    n_supp = max(int(10_000 * sf), 20)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 1_000)
    n_li = 4 * n_ord
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, -99_999, 999_999, n_cust), f64),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, -99_999, 999_999, n_supp), f64),
        }
    )
    words = np.asarray(PART_WORDS, dtype=object)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(
                words[rng.integers(0, len(words), n_part)] + " " + words[rng.integers(0, len(words), n_part)]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(_money(rng, 90_000, 99_990, n_part), f64),
        }
    )
    odate = ORDER_DATE0_US + rng.integers(0, ORDER_DAYS, n_ord) * DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 100_000, 50_000_000, n_ord), f64),
            "o_orderdate": pa.array(odate, ts),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    l_ord = np.sort(rng.integers(0, n_ord, n_li))
    # line numbers 1.. within each order
    starts = np.r_[0, np.flatnonzero(np.diff(l_ord)) + 1]
    lnum = np.arange(n_li) - np.repeat(starts, np.diff(np.r_[starts, n_li])) + 1
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ord, i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(lnum, i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, 90_000, 10_500_000, n_li), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": pa.array(odate[l_ord] + rng.integers(1, 122, n_li) * DAY_US, ts),
        }
    )
    return t


def write_tpch(seed: int, sf: float, out_dir: str) -> dict:
    tables = tpch_tables(seed, sf)
    sizes = {
        name: _write(table, os.path.join(out_dir, f"{name}.parquet"))
        for name, table in tables.items()
    }
    return {
        "kind": "tpch",
        "seed": seed,
        "sf": sf,
        "rows": {name: table.num_rows for name, table in tables.items()},
        "bytes": int(sum(sizes.values())),
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    sub = ap.add_subparsers(dest="kind", required=True)
    ev = sub.add_parser("events")
    for f in dataclasses.fields(EventSpec):
        ev.add_argument(f"--{f.name.replace('_', '-')}", type=type(f.default), default=f.default)
    tp = sub.add_parser("tpch")
    tp.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args(argv)
    if a.kind == "events":
        spec = EventSpec(**{f.name: getattr(a, f.name) for f in dataclasses.fields(EventSpec)})
        print(json.dumps(write_events(a.seed, spec, a.out)))
    else:
        print(json.dumps(write_tpch(a.seed, a.sf, a.out)))


if __name__ == "__main__":
    main()
