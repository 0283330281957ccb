"""Unit tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

import numpy as np

import gen
import oracles
import progress
import run
import spans
import stats

BENCHMARK_JSON = os.path.join(run.REPO_ROOT, "BENCHMARK.json")


def _files(d):
    return sorted(os.listdir(d))


def test_generator_is_deterministic_per_seed(tmp_path):
    spec = gen.EventSpec(keys=50, events_per_slice=40, slices=4, dup_share=0.1, late_share=0.1, late_delay_s=3600)
    a, b, c = (str(tmp_path / x) for x in "abc")
    info_a = gen.write_events(7, spec, a)
    info_b = gen.write_events(7, spec, b)
    gen.write_events(8, spec, c)
    assert info_a == info_b
    assert info_a["rows"] == 160 and info_a["bytes"] > 0
    assert _files(a) == _files(b) == [f"slice-{k:05d}.parquet" for k in range(4)]
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == []
    assert any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False) for f in _files(a))
    # slices replay in name order because their mtimes increase with it
    mtimes = [os.path.getmtime(os.path.join(a, f)) for f in _files(a)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def test_tpch_generator_is_deterministic_per_seed(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert gen.write_tpch(3, 0.001, a) == gen.write_tpch(3, 0.001, b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert len(match) == 7 and not mismatch and not errors


def test_late_events_trail_every_watermark_reading():
    spec = gen.EventSpec(events_per_slice=200, slices=6, late_share=0.1, span_s=6 * 3600, late_delay_s=3 * 3600)
    slices = gen.event_slices(1, spec)
    w = spec.slice_us
    for k in range(6):
        ts = slices[k]["ts"]
        late = ts < gen.T0_US + k * w
        assert late.sum() == (20 if k >= 2 else 0)
        if k >= 2:
            assert ts[late].max() < gen.T0_US + (k - 2) * w - spec.late_delay_s * 1_000_000


def test_metric_names_are_valid_and_match_benchmark_json():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert all(stats.valid_metric_name(n) for n in names)
    assert not stats.valid_metric_name("bad name")
    assert not stats.valid_metric_name("x" * 65)
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert stats.tail(range(1, 101)) == (90, 90)
    # 21 samples: p52 has 10 above its rank, p53 only 9
    assert stats.tail(range(1, 22)) == (52, 11)
    # too few samples for any percentile at or above the median
    assert stats.tail([5, 1, 3]) == (50, 3)
    pct, value = stats.tail(range(1000))
    assert pct == 99 and 1000 - (value + 1) >= 10


def test_pass_count_is_fixed_by_seconds_and_minimum():
    from workloads import WORKLOADS

    with open(BENCHMARK_JSON) as f:
        seconds = json.load(f)["run_seconds"]
    counts = {name: run.pass_count(w, seconds) for name, w in WORKLOADS.items()}
    assert counts == {"fold_ttl": 1, "state_lifecycle": 1, "tpch_batch": 2}
    tpch = WORKLOADS["tpch_batch"]
    assert run.pass_count(tpch, 1) == tpch.MIN_PASSES
    assert run.pass_count(tpch, 4 * tpch.PASS_S) == 4


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0]) == 0.0
    assert abs(stats.spread([9, 10, 10, 11]) - 0.15) < 1e-12


def test_rocksdb_mapping_tolerates_missing_keys():
    empty = progress.rocksdb_layers([[{}], [{"customMetrics": {}}], []])
    assert set(empty) == {f"state.rocksdb.{n}" for n in progress.ROCKSDB_METRICS} | {
        "state.rocksdb.bytes_written",
        "state.rocksdb.block_cache_hit_ratio",
    }
    assert all(v == 0.0 for v in empty.values())
    # an older key name is accepted; gauges keep the last batch's value
    got = progress.rocksdb_layers(
        [
            [{"customMetrics": {"rocksdbLoadLatency": 5, "rocksdbSstFileSize": 100, "rocksdbPutCount": 2}}],
            [{"customMetrics": {"rocksdbLoadLatencyMs": 7, "rocksdbSstFileSize": 40,
                                "rocksdbReadBlockCacheHitCount": 3, "rocksdbReadBlockCacheMissCount": 1}}],
        ]
    )
    assert got["state.rocksdb.load_ms"] == 12
    assert got["state.rocksdb.sst_bytes"] == 40
    assert got["state.rocksdb.put_count"] == 2
    assert got["state.rocksdb.block_cache_hit_ratio"] == 0.75


def test_batch_layers_from_progress_events():
    batches = [
        {"numInputRows": 10, "durationMs": {"triggerExecution": 50, "addBatch": 40},
         "stateOperators": [{"numRowsTotal": 10, "numRowsUpdated": 10, "commitTimeMs": 3}]},
        {"numInputRows": 0, "durationMs": {"triggerExecution": 20},
         "stateOperators": [{"numRowsTotal": 8, "numRowsRemoved": 2, "commitTimeMs": 1}]},
    ]
    got = progress.batch_layers(batches)
    assert got["engine.batches"] == 2 and got["sources.input_rows"] == 10
    assert got["engine.add_batch_ms"] == 40 and got["state.commit_ms"] == 4
    assert got["state.rows_total"] == 8 and got["state.rows_removed"] == 2
    start, end = progress.batch_interval_ns({"timestamp": "2026-01-01T00:00:01.250Z", "durationMs": {"triggerExecution": 20}})
    assert end - start == 20_000_000 and start % 1_000_000 == 0


def test_self_time_subtracts_child_spans():
    t = spans.Tracer(enabled=True)
    with t.span("workload", "w"):
        with t.span("phase", "p"):
            pass
    w, p = t.spans
    w["start"], w["end"], p["start"], p["end"] = 0, 100_000_000, 10_000_000, 90_000_000
    t.add("batch", "b1", 20_000_000, 50_000_000)
    t.add("batch", "b2", 40_000_000, 60_000_000)  # overlaps b1
    t.add("handler", "h", 21_000_000, 22_000_000)
    assert [s["parent"] for s in t.spans] == [None, 0, 1, 1, 2]
    self_ms = t.self_time_ms()
    assert self_ms["workload"] == 20.0
    assert self_ms["phase"] == 40.0  # 80 ms minus the 40 ms the batches cover
    assert self_ms["batch"] == 30.0 + 20.0 - 1.0
    assert self_ms["handler"] == 1.0
    off = spans.Tracer(enabled=False)
    with off.span("workload", "w"):
        off.add("batch", "b", 0, 1)
    assert off.spans == []


def _simulate_fold(slices, ttl_us):
    """The TTL fold as the program's handler applies it, batch by batch."""
    state = {}
    for cols in slices:
        for user in np.unique(cols["user_id"]):
            sel = cols["user_id"] == user
            ids, ts, types = cols["event_id"][sel], cols["ts"][sel], cols["event_type"][sel]
            st = state.get(user)
            if st is not None and ts.max() - st[6] >= ttl_us:
                st = None
            if st is None:
                st = [int(user), 0, ids.min(), ids.max(), set(), ts.min(), ts.max()]
            st[1] += len(ids)
            st[2], st[3] = min(st[2], ids.min()), max(st[3], ids.max())
            st[4] |= set(types.tolist())
            st[5], st[6] = min(st[5], ts.min()), max(st[6], ts.max())
            state[user] = st
    return [(u, n, int(a), int(b), len(t), int(f), int(l)) for u, n, a, b, t, f, l in state.values()]


def test_fold_oracle_matches_a_direct_simulation(tmp_path):
    spec = gen.EventSpec(keys=80, zipf=1.1, events_per_slice=150, slices=5, span_s=20 * 24 * 3600)
    drop = str(tmp_path / "drop")
    gen.write_events(4, spec, drop)
    want = _simulate_fold(gen.event_slices(4, spec), 3 * 24 * 3600 * 1_000_000)
    got = oracles.fold_ttl_expected(drop, 3 * 24 * 3600)
    assert oracles.diff_rows(got, want) is None
    assert oracles.diff_rows(got[1:], want) is not None


def test_lifecycle_oracle_matches_a_direct_simulation(tmp_path):
    slice_s, delay_s, window_s = 3600, 3 * 3600, 900
    spec = gen.EventSpec(keys=1000, zipf=0.6, events_per_slice=300, slices=6, dup_share=0.1,
                         late_share=0.05, span_s=6 * slice_s, late_delay_s=delay_s)
    drop = str(tmp_path / "drop")
    gen.write_events(5, spec, drop)
    slices = gen.event_slices(5, spec)
    delay_us, win_us = delay_s * 1_000_000, window_s * 1_000_000
    seen, counts, max_ts = set(), {}, None
    for cols in slices:
        wm = None if max_ts is None else max_ts - delay_us
        for eid, ts, et in zip(cols["event_id"], cols["ts"], cols["event_type"]):
            if (wm is not None and ts <= wm) or eid in seen:
                continue
            seen.add(eid)
            key = (int(ts - ts % win_us), gen.EVENT_TYPES[et])
            counts[key] = counts.get(key, 0) + 1
        max_ts = cols["ts"].max() if max_ts is None else max(max_ts, cols["ts"].max())
    final_wm = max_ts - delay_us
    want = [(s, t, n) for (s, t), n in counts.items() if s + win_us <= final_wm]
    assert oracles.diff_rows(oracles.lifecycle_expected(drop, delay_s, window_s), want) is None


def test_tables_read_from_oracle_sql():
    sql = "SELECT * FROM customer JOIN orders ON c_custkey = o_custkey, lineitem l WHERE l_partkey > 0"
    assert oracles.tables_read(sql) == {"customer", "orders", "lineitem"}
