"""Benchmark entry point.

    python3 perfbench/run.py --workload fold_ttl --seed 1 --seconds 8 --trace 0

Runs one workload against the program in this checkout and prints, as its
last stdout line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (from a
traced run) with ``--trace 1``.  Exits 2 without a result when the program
is not importable from the checkout.  See NOTES.md for the workloads and
what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
WORKLOAD_NAMES = ("fold_ttl", "state_lifecycle", "tpch_batch")

TPCH_QUERIES = (
    "q33_tpch_q3", "q33b_tpch_q10", "q33c_tpch_q18", "q33d_tpch_q6", "q33e_tpch_q14",
    "q34_tpch_q5", "q45_tpch_q4", "q45b_tpch_q7", "q45c_tpch_q12", "q45d_tpch_q13",
    "q45e_tpch_q15", "q45f_tpch_q22", "q63_tpch_q1", "q63b_tpch_q8", "q63c_tpch_q9",
    "q63d_tpch_q19", "q63e_tpch_q21", "q73_tpch_q2", "q73b_tpch_q11", "q73c_tpch_q16",
    "q73d_tpch_q20", "q73e_tpch_q22",
)  # fmt: skip

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
    "suite_s": "s",
}

PER_LAYER = {
    "stateful.all_updates_ms": "ms",
    "stateful.handler_calls": "count",
    "stateful.handler_ms": "ms",
    "stateful.protocol_ms": "ms",
    "stateful.updates_per_key": "ratio",
    "harness.drain_s": "s",
    "harness.upsert_rows": "count",
    "harness.upsert_bytes": "bytes",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.commit_ms": "ms",
    "state.removals_ms": "ms",
    "state.memory_bytes": "bytes",
    "state.rocksdb.put_count": "count",
    "state.rocksdb.get_count": "count",
    "state.rocksdb.changelog_commit_ms": "ms",
    "state.rocksdb.file_sync_ms": "ms",
    "state.rocksdb.flush_ms": "ms",
    "state.rocksdb.compaction_ms": "ms",
    "state.rocksdb.writer_stall_ms": "ms",
    "state.rocksdb.bytes_written": "bytes",
    "state.rocksdb.sst_bytes": "bytes",
    "state.rocksdb.block_cache_hit_ratio": "ratio",
    "state.rocksdb.load_ms": "ms",
    "state.rocksdb.replay_changelog_files": "count",
    "state.rocksdb.replay_changelog_ms": "ms",
    "state.write_amp": "ratio",
    "state_reader.read_state_s": "s",
    "state_reader.rows": "count",
    "state_reader.change_feed_s": "s",
    "state_reader.change_rows": "count",
    "state_reader.metadata_s": "s",
    "recovery_s": "s",
    "state_scan_rows_per_s": "1/s",
    "sources.input_rows": "count",
    "sources.get_batch_ms": "ms",
    "sources.latest_offset_ms": "ms",
    "engine.batches": "count",
    "engine.query_planning_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "engine.add_batch_ms": "ms",
    **{f"tpch.{q}_s": "s" for q in TPCH_QUERIES},
    "proc.peak_rss_mb": "MB",
    "proc.jvm_gc_ms": "ms",
    "proc.jvm_heap_used_mb": "MB",
    "span.workload_self_ms": "ms",
    "span.phase_self_ms": "ms",
    "span.call_self_ms": "ms",
    "span.batch_self_ms": "ms",
    "span.handler_self_ms": "ms",
    "trace.overhead_pct": "%",
    "failed_ratio": "ratio",
}


class Run:
    """What one benchmark run shares with its workload."""

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.listener = None


def _program_importable() -> str | None:
    """None when the program imports from this checkout, else why not."""
    sys.path.insert(0, REPO_ROOT)
    try:
        import spark_state_provider_spark
    except ImportError as e:
        return f"program not importable: {e}"
    path = os.path.abspath(spark_state_provider_spark.__file__)
    if not path.startswith(REPO_ROOT + os.sep):
        return f"program imported from {path}, outside the checkout {REPO_ROOT}"
    return None


def _start_session(run: Run) -> None:
    import host
    import progress

    if run.spark is not None:
        run.spark.stop()
    run.spark = host.build_session()
    run.listener = progress.Progress()
    run.spark.streams.addListener(run.listener)


def pass_count(wl, seconds: float) -> int:
    """Timed passes for ``--seconds``: the workload's nominal pass length
    (``PASS_S``, one warm pass on a 4-vCPU host) divided into it, at least
    the workload's ``MIN_PASSES``."""
    return max(wl.MIN_PASSES, round(seconds / wl.PASS_S))


def measure(name: str, seed: int, seconds: float, traced_run: bool) -> dict:
    import host
    import stats
    import spans
    from workloads import WORKLOADS

    work = os.path.join(REPO_ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    host.remove(work)
    os.makedirs(work)
    cpus = host.prepare_env(work)
    os.chdir(work)  # anything Spark drops in its working directory stays in the run's dir
    tracer = spans.Tracer(enabled=False)
    run = Run(seed, work, tracer)
    wl = WORKLOADS[name](run)
    try:
        from spark_state_provider_spark import operators

        rep_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            _start_session(run)
            operators.load_all()
            inputs = wl.generate()
            rep_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = wl.warm_up()
        warm_s = time.perf_counter() - t0 - warm.check_s
        setup_s = stats.median(rep_s) + warm_s
        jvm = host.Jvm(run.spark)

        passes, traced_flags = [], []
        rss = [host.peak_rss_mb()]
        # A fixed number of passes, so every run of a workload does the same
        # work: a count that depended on how fast the passes ran would
        # change what the median is taken over from run to run.
        # A traced run times one pass untraced, for the tracing overhead,
        # then one traced pass; per-layer metrics carry no bound.
        flags = [False, True] if traced_run else [False] * pass_count(wl, seconds)
        for traced in flags:
            tracer.enabled = traced
            gc0 = jvm.gc_ms()
            with tracer.span("workload", f"{name} pass {len(passes)}"):
                p = wl.run_pass(traced)
            tracer.enabled = False
            p.layers["proc.jvm_gc_ms"] = jvm.gc_ms() - gc0
            p.layers["proc.jvm_heap_used_mb"] = jvm.heap_used_mb()
            rss.append(host.peak_rss_mb())
            passes.append(p)
            traced_flags.append(traced)
    finally:
        if run.spark is not None:
            host.shutdown(run.spark)
        os.chdir(REPO_ROOT)
        host.remove(work)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    attempted = warm.attempted + sum(p.attempted for p in passes)
    failures = warm.failures + [f for p in passes for f in p.failures]
    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)

    peak_rss = max(r["driver"] + r["jvm"] + r["workers"] for r in rss)
    plain = [p for p, t in zip(passes, traced_flags) if not t]
    units = [u for p in plain for u in p.units_ms]
    tail_pct, tail_ms = stats.tail(units)
    summary = {
        "workload": name,
        "seed": seed,
        "cpus": cpus,
        "inputs": inputs,
        "setup_reps_s": rep_s,
        "warmup_s": warm_s,
        "passes": len(plain),
        "batches": len(units),
        "batch_tail_pct": tail_pct,
        "rss_mb": rss[-1],
    }
    # metric -> the samples its value is the median of
    samples: dict[str, list[float]] = {}
    if traced_run:
        traced = [p for p, t in zip(passes, traced_flags) if t]
        metrics = {k: 0.0 for k in PER_LAYER}
        for key in {k for p in traced for k in p.layers}:
            samples[key] = [p.layers.get(key, 0.0) for p in traced]
        for layer, ms in tracer.self_time_ms().items():
            metrics[f"span.{layer}_self_ms"] = ms / len(traced)
        plain_s = stats.median([p.wall_s for p in plain])
        metrics["trace.overhead_pct"] = (stats.median([p.wall_s for p in traced]) / plain_s - 1) * 100
        metrics["failed_ratio"] = len(failures) / attempted
        metrics["proc.peak_rss_mb"] = peak_rss
        units_of = PER_LAYER
        path = os.path.join(REPO_ROOT, ".perfbench_traces", f"{name}-seed{seed}.json")
        tracer.dump(path)
        summary["trace_file"] = os.path.relpath(path, REPO_ROOT)
        summary["traced_passes"] = len(traced)
    else:
        samples = {
            "events_per_s": [p.events / p.events_s for p in plain],
            "batch_p50_ms": units,
            "suite_s": [p.wall_s for p in plain],
        }
        metrics = {"setup_s": setup_s, "batch_tail_ms": tail_ms}
        units_of = END_TO_END
    metrics.update({k: stats.median(v) for k, v in samples.items()})
    summary["spread"] = {k: stats.spread(v) for k, v in samples.items()}
    unknown = set(metrics) - set(units_of)
    if unknown:
        raise RuntimeError(f"metrics missing from the declared list: {sorted(unknown)}")
    print(json.dumps(summary))
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units_of.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    why = _program_importable()
    if why:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2
    result = measure(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
