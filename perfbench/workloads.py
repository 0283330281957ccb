"""The three workloads.

Each workload generates its inputs from the seed, runs one untimed
warm-up pass and then timed passes.  A pass is the workload's fixed unit
of work: one backlog drain (``fold_ttl``), one write/restart/read cycle
over a fresh checkpoint (``state_lifecycle``) or one run of the 22 TPC-H
queries (``tpch_batch``).  ``run_pass`` returns a ``Pass``; its
correctness gates run after the pass clock stops.
"""

from __future__ import annotations

import dataclasses
import json
import os
import random
import time

import numpy as np

import gen
import oracles
import progress
import spans
from host import remove

TTL_SECS = 3 * 24 * 3600


@dataclasses.dataclass
class Warm:
    check_s: float  # time spent in gates, which set-up time leaves out
    attempted: int
    failures: list[str]


@dataclasses.dataclass
class Pass:
    wall_s: float  # suite_s sample
    events: float  # input records the pass processed
    events_s: float  # the part of wall_s events_per_s divides by
    units_ms: list[float]  # per micro-batch / per query latencies
    layers: dict[str, float]
    attempted: int = 0
    failures: list[str] = dataclasses.field(default_factory=list)


class Workload:
    name = ""
    PASS_S = 1.0  # nominal seconds of one warm pass on a 4-vCPU host
    MIN_PASSES = 1

    def __init__(self, run):
        self.run = run  # run.Run: spark, listener, tracer, seed, work dir

    @property
    def spark(self):
        return self.run.spark

    def generate(self) -> dict:
        raise NotImplementedError

    def warm_up(self) -> Warm:
        """One untimed pass, gated like a timed one."""
        raise NotImplementedError

    def run_pass(self, traced: bool) -> Pass:
        raise NotImplementedError

    def _stream(self, drop_dir: str):
        from spark_state_provider_spark.streaming.sources import EVENT_SCHEMA

        return (
            self.spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop_dir)
        )

    def _record_batches(self, batches: list[dict]) -> None:
        for b in batches:
            start, end = progress.batch_interval_ns(b)
            self.run.tracer.add("batch", f"batch {b['batchId']}", start, end)


def _check_schema(spark, drop_dir: str) -> None:
    """The generator's slices must carry the program's event schema."""
    from spark_state_provider_spark.streaming.sources import EVENT_SCHEMA

    want = spark.createDataFrame([], EVENT_SCHEMA).schema
    got = spark.read.parquet(drop_dir).schema
    if [(f.name, f.dataType) for f in got] != [(f.name, f.dataType) for f in want]:
        raise RuntimeError(f"generated slices have schema {got}, program expects {want}")


# --------------------------------------------------------------------------


class FoldTtl(Workload):
    """``stateful.user_statistics_stream`` with a 3-day TTL, drained by
    ``harness.run_upsert_table``: one AvailableNow query per pass drains
    the whole backlog of slices (a closed loop with one client)."""

    name = "fold_ttl"
    PASS_S = 9.0
    SPEC = gen.EventSpec(keys=3000, zipf=1.1, events_per_slice=500, slices=3, span_s=28 * 24 * 3600)
    WARM_SLICES = 2

    def generate(self) -> dict:
        work = self.run.work
        self.drop = os.path.join(work, "fold_drop")
        self.warm = os.path.join(work, "fold_warm")
        remove(self.drop)
        remove(self.warm)
        slices = gen.event_slices(self.run.seed, self.SPEC)
        sizes = [gen.write_slice(self.drop, k, s) for k, s in enumerate(slices)]
        for k in range(self.WARM_SLICES):
            gen.write_slice(self.warm, k, slices[k])
        self.input_bytes = float(sum(sizes))
        self.events = float(sum(len(s["event_id"]) for s in slices))
        self.keys_per_slice = [len(np.unique(s["user_id"])) for s in slices]
        return {
            "slices": self.SPEC.slices,
            "events_per_slice": self.SPEC.events_per_slice,
            "keys": self.SPEC.keys,
            "zipf": self.SPEC.zipf,
            "span_days": self.SPEC.span_s / 86400,
            "rows": int(self.events),
            "bytes": int(self.input_bytes),
            "distinct_keys_per_slice": self.keys_per_slice,
        }

    def warm_up(self) -> Warm:
        _check_schema(self.spark, self.warm)
        out, _, _ = self._drain(self.warm)
        t = time.perf_counter()
        failure = self._check(out, self.warm)
        return Warm(time.perf_counter() - t, 1, [f"fold_ttl warm-up output: {failure}"] if failure else [])

    def _drain(self, drop_dir: str):
        from spark_state_provider_spark.streaming import harness, stateful

        lis, tracer = self.run.listener, self.run.tracer
        before = lis.terminated
        with tracer.span("call", "user_statistics_stream"):
            sdf = stateful.user_statistics_stream(self._stream(drop_dir), ttl_secs=TTL_SECS)
        t0 = time.perf_counter()
        with tracer.span("call", "run_upsert_table"):
            out = harness.run_upsert_table(sdf, ["user_id"])
        drain_s = time.perf_counter() - t0
        lis.wait_terminated(before + 1)
        return out, drain_s, lis.take()

    def _check(self, out, drop_dir: str) -> str | None:
        from pyspark.sql import functions as F

        got = out.select(
            "user_id",
            "total_visits",
            "first_event_id",
            "last_event_id",
            "n_event_types",
            F.unix_micros("first_ts"),
            F.unix_micros("last_ts"),
        ).collect()
        return oracles.diff_rows([tuple(r) for r in got], oracles.fold_ttl_expected(drop_dir, TTL_SECS))

    def run_pass(self, traced: bool) -> Pass:
        from spark_state_provider_spark.streaming import stateful

        tracer = self.run.tracer
        handler_dir = os.path.join(self.run.work, "handler_spans")
        original = stateful.make_ttl_handler
        if traced:
            remove(handler_dir)
            os.makedirs(handler_dir)
            stateful.make_ttl_handler = spans.traced_handler_factory(original, handler_dir)
        try:
            with tracer.span("phase", "drain"):
                out, drain_s, batches = self._drain(self.drop)
        finally:
            stateful.make_ttl_handler = original

        layers = progress.batch_layers(batches)
        data = [b for b in batches if b.get("numInputRows", 0) > 0]
        layers["stateful.all_updates_ms"] = float(
            sum(op.get("allUpdatesTimeMs", 0) for b in batches for op in _fold_ops(b))
        )
        updated = sum(op.get("numRowsUpdated", 0) for b in data[1:] for op in _fold_ops(b))
        keys = sum(self.keys_per_slice[1 : len(data)])
        layers["stateful.updates_per_key"] = updated / keys if keys else 0.0
        layers["harness.drain_s"] = drain_s
        layers["state.write_amp"] = layers["state.rocksdb.bytes_written"] / self.input_bytes
        if traced:
            self._record_batches(batches)
            calls = spans.read_handler_spans(handler_dir)
            for pid, start, end in calls:
                tracer.add("handler", f"handler pid {pid}", start, end, pid=pid)
            handler_ms = sum(end - start for _, start, end in calls) / 1e6
            layers["stateful.handler_calls"] = float(len(calls))
            layers["stateful.handler_ms"] = handler_ms
            layers["stateful.protocol_ms"] = layers["stateful.all_updates_ms"] - handler_ms

        failures = []
        failure = self._check(out, self.drop)
        if failure:
            failures.append(f"fold_ttl output: {failure}")
        layers["harness.upsert_rows"] = float(out.count())
        layers["harness.upsert_bytes"] = float(sum(os.path.getsize(_local(p)) for p in out.inputFiles()))
        return Pass(
            wall_s=drain_s,
            events=self.events,
            events_s=drain_s,
            units_ms=[progress.trigger_ms(b) for b in batches],
            layers=layers,
            attempted=1,
            failures=failures,
        )


def _fold_ops(batch: dict) -> list[dict]:
    return [
        op
        for op in batch.get("stateOperators") or []
        if op.get("operatorName") == "applyInPandasWithState"
    ]


def _await(query, timeout_s: int = 120) -> None:
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"streaming query did not drain within {timeout_s}s")


def _local(uri: str) -> str:
    return uri[len("file:") :] if uri.startswith("file:") else uri


# --------------------------------------------------------------------------


class StateLifecycle(Workload):
    """JVM-only stateful operators over a persistent checkpoint: a
    watermarked ``dropDuplicatesWithinWatermark`` on event_id feeding a
    windowed count, written to a parquet sink.  A pass writes the first
    slices (one AvailableNow drain), then restarts the query once per
    newly dropped slice, then reads the state back through
    ``streaming.state_reader``."""

    name = "state_lifecycle"
    PASS_S = 7.0
    WRITE_SLICES = 2
    RESTARTS = 1
    SLICE_S = 3600
    DELAY_S = 3 * 3600
    WINDOW_S = 15 * 60
    SPEC = gen.EventSpec(
        keys=50_000,
        zipf=0.6,
        events_per_slice=2000,
        slices=WRITE_SLICES + RESTARTS,
        dup_share=0.10,
        late_share=0.05,
        span_s=SLICE_S * (WRITE_SLICES + RESTARTS),
        late_delay_s=DELAY_S,
    )

    def generate(self) -> dict:
        self.slices = gen.event_slices(self.run.seed, self.SPEC)
        self.passes = 0
        return {
            "write_slices": self.WRITE_SLICES,
            "restarts": self.RESTARTS,
            "events_per_slice": self.SPEC.events_per_slice,
            "dup_share": self.SPEC.dup_share,
            "late_share": self.SPEC.late_share,
            "slice_s": self.SLICE_S,
            "watermark_delay_s": self.DELAY_S,
            "window_s": self.WINDOW_S,
            "rows": int(sum(len(s["event_id"]) for s in self.slices)),
        }

    def warm_up(self) -> Warm:
        probe = os.path.join(self.run.work, "schema_probe")
        gen.write_slice(probe, 0, self.slices[0])
        _check_schema(self.spark, probe)
        remove(probe)
        result, check_s = self._pass(self.slices[: 1 + self.RESTARTS], write=1, traced=False)
        return Warm(check_s, result.attempted, result.failures)

    def run_pass(self, traced: bool) -> Pass:
        return self._pass(self.slices, self.WRITE_SLICES, traced)[0]

    def _start(self, drop, ckpt, out):
        from pyspark.sql import functions as F

        return (
            self._stream(drop)
            .withWatermark("ts", f"{self.DELAY_S} seconds")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy(F.window("ts", f"{self.WINDOW_S} seconds"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.unix_micros("window.start").alias("window_start_us"), "event_type", "n")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def _pass(self, slices, write: int, traced: bool) -> tuple[Pass, float]:
        """One write/restart/read cycle over ``slices``, the first
        ``write`` of them present from the start; returns the pass and the
        seconds its gates took."""
        from spark_state_provider_spark.streaming import state_reader

        spark, lis, tracer = self.spark, self.run.listener, self.run.tracer
        self.passes += 1
        base = os.path.join(self.run.work, f"life_{self.passes}")
        drop, staging = os.path.join(base, "drop"), os.path.join(base, "staging")
        ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "out")
        sizes = [gen.write_slice(drop if k < write else staging, k, s) for k, s in enumerate(slices)]
        before = lis.terminated
        recoveries, restart_first = [], []
        read: dict[str, float] = {}

        t_pass = time.perf_counter()
        with tracer.span("phase", "write"):
            with tracer.span("call", "start+awaitTermination"):
                q = self._start(drop, ckpt, out)
                _await(q)
        write_s = time.perf_counter() - t_pass
        with tracer.span("phase", "restart"):
            for k in range(write, len(slices)):
                # the generator drops the next slice; the query restarts
                os.rename(gen.slice_path(staging, k), gen.slice_path(drop, k))
                with tracer.span("call", "start+awaitTermination"):
                    t0 = time.time_ns()
                    q = self._start(drop, ckpt, out)
                    _await(q)
                first = json.loads(q.recentProgress[0].json)
                recoveries.append((progress.batch_interval_ns(first)[1] - t0) / 1e9)
                restart_first.append(first)
        with tracer.span("phase", "read"):
            with tracer.span("call", "state_metadata"):
                t0 = time.perf_counter()
                meta = state_reader.state_metadata(spark, ckpt).collect()
                read["state_reader.metadata_s"] = time.perf_counter() - t0
            op = next(r for r in meta if r["operatorName"] == "dedupeWithinWatermark")
            last = int(op["maxBatchId"])
            with tracer.span("call", "read_state"):
                t0 = time.perf_counter()
                state_reader.read_state(spark, ckpt, operator_id=op["operatorId"]).write.format(
                    "noop"
                ).mode("overwrite").save()
                read["state_reader.read_state_s"] = time.perf_counter() - t0
            with tracer.span("call", "read_state_changes"):
                t0 = time.perf_counter()
                changes = state_reader.read_state_changes(
                    spark, ckpt, max(last - 2, 1), last, operator_id=op["operatorId"]
                ).count()
                read["state_reader.change_feed_s"] = time.perf_counter() - t0
        wall_s = time.perf_counter() - t_pass

        # ---- gates, outside the pass clock ----
        t_check = time.perf_counter()
        lis.wait_terminated(before + 1 + len(slices) - write)
        batches = lis.take()
        failures = []
        expected = oracles.lifecycle_expected(drop, self.DELAY_S, self.WINDOW_S)
        got = spark.read.parquet(out).collect()
        failure = oracles.diff_rows([tuple(r) for r in got], expected)
        if failure:
            failures.append(f"state_lifecycle output: {failure}")
        for first in restart_first:
            ops = first.get("stateOperators") or []
            loaded = sum(
                progress.rocksdb_metric(o.get("customMetrics") or {}, progress.ROCKSDB_METRICS[m][0])
                for o in ops
                for m in ("load_ms", "replay_changelog_files")
            )
            if loaded <= 0:
                failures.append(f"restart batch {first['batchId']} loaded no state from the checkpoint")
        dedup_last = next(
            (
                o
                for b in reversed(batches)
                for o in b.get("stateOperators") or []
                if o.get("operatorName") == "dedupeWithinWatermark"
            ),
            {},
        )
        rows = state_reader.read_state(spark, ckpt, operator_id=op["operatorId"]).count()
        if rows != dedup_last.get("numRowsTotal"):
            failures.append(f"read_state rows {rows} != numRowsTotal {dedup_last.get('numRowsTotal')}")
        if changes <= 0:
            failures.append("read_state_changes returned no rows")
        check_s = time.perf_counter() - t_check
        remove(base)

        layers = progress.batch_layers(batches)
        layers.update(read)
        layers["state_reader.rows"] = float(rows)
        layers["state_reader.change_rows"] = float(changes)
        layers["state.write_amp"] = layers["state.rocksdb.bytes_written"] / float(sum(sizes))
        layers["recovery_s"] = float(np.median(recoveries)) if recoveries else 0.0
        layers["state_scan_rows_per_s"] = rows / read["state_reader.read_state_s"]
        if traced:
            self._record_batches(batches)
        result = Pass(
            wall_s=wall_s,
            events=float(sum(len(s["event_id"]) for s in slices[:write])),
            events_s=write_s,
            units_ms=[progress.trigger_ms(b) for b in batches],
            layers=layers,
            attempted=1 + len(recoveries) + 3,
            failures=failures,
        )
        return result, check_s


# --------------------------------------------------------------------------


class TpchBatch(Workload):
    """The 22 registry queries whose names contain ``tpch``, run back to
    back by one client into a noop sink, in a seeded order."""

    name = "tpch_batch"
    PASS_S = 15.0
    # The JIT is still warming after the cold round, and a warming round is
    # the most sensitive to other load on the host (three busy processes on
    # 4 vCPUs slowed the first warm round 60%, the fourth 20%): one timed
    # round made the suite's time swing between runs, so a run times two.
    MIN_PASSES = 2
    SF = 0.01

    def generate(self) -> dict:
        from spark_state_provider_spark.operators import registry

        self.sf_dir = os.path.join(self.run.work, "tpch")
        remove(self.sf_dir)
        info = gen.write_tpch(self.run.seed, self.SF, self.sf_dir)
        names = sorted(n for n in registry.all_queries() if "tpch" in n)
        if len(names) != 22:
            raise RuntimeError(f"expected 22 tpch queries in the registry, found {len(names)}")
        random.Random(self.run.seed).shuffle(names)
        self.names = names
        self.specs = {n: registry.get(n) for n in names}
        self.rows_read = float(
            sum(info["rows"][t] for n in names for t in oracles.tables_read(self.specs[n].oracle or ""))
        )
        return {"sf": self.SF, "rows": info["rows"], "bytes": info["bytes"], "order": names}

    def warm_up(self) -> Warm:
        """Runs every query once, collecting its result, and compares each
        with its registry oracle."""
        results = {}
        for n in self.names:
            df = self.specs[n].fn(self.spark, self.sf_dir)
            results[n] = (df.columns, df.collect())
        t = time.perf_counter()
        failures = []
        with oracles.tpch_connect(self.sf_dir) as con:
            for n, (cols, rows) in results.items():
                failure = oracles.tpch_check(con, self.specs[n].oracle, cols, rows)
                if failure:
                    failures.append(f"{n}: {failure}")
        return Warm(time.perf_counter() - t, len(results), failures)

    def run_pass(self, traced: bool) -> Pass:
        tracer = self.run.tracer
        per: dict[str, float] = {}
        failures = []
        t_pass = time.perf_counter()
        with tracer.span("phase", "queries"):
            for n in self.names:
                with tracer.span("call", n):
                    t0 = time.perf_counter()
                    try:
                        self.specs[n].fn(self.spark, self.sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                    except Exception as e:  # a failed query is counted, the pass goes on
                        failures.append(f"{n}: {type(e).__name__}: {str(e)[:200]}")
                    per[n] = time.perf_counter() - t0
        wall_s = time.perf_counter() - t_pass
        return Pass(
            wall_s=wall_s,
            events=self.rows_read,
            events_s=wall_s,
            units_ms=[v * 1000 for v in per.values()],
            layers={f"tpch.{n}_s": v for n, v in per.items()},
            attempted=len(self.names),
            failures=failures,
        )


WORKLOADS = {w.name: w for w in (FoldTtl, StateLifecycle, TpchBatch)}
