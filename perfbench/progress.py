"""Micro-batch readings from Spark's public ``StreamingQueryProgress``.

``Progress`` is a ``StreamingQueryListener`` that keeps every progress
event it receives (as the parsed JSON dict) so the benchmark can time
micro-batches and read the state store's metrics without touching the
program.  ``batch_layers`` turns a list of those dicts into the
``state.*``, ``state.rocksdb.*``, ``sources.*`` and ``engine.*`` per-layer
metrics.
"""

from __future__ import annotations

import datetime as dt
import json
import threading

from pyspark.sql.streaming import StreamingQueryListener

# state.rocksdb.<name> -> (customMetrics keys in order of preference, how a
# pass aggregates them).  Key names differ across Spark versions; a name
# with none of its keys present reads 0.
ROCKSDB_METRICS: dict[str, tuple[tuple[str, ...], str]] = {
    "put_count": (("rocksdbPutCount",), "sum"),
    "get_count": (("rocksdbGetCount",), "sum"),
    "changelog_commit_ms": (("rocksdbChangeLogWriterCommitLatencyMs",), "sum"),
    "file_sync_ms": (("rocksdbCommitFileSyncLatencyMs",), "sum"),
    "flush_ms": (("rocksdbCommitFlushLatency",), "sum"),
    "compaction_ms": (("rocksdbTotalCompactionLatencyMs", "rocksdbCommitCompactLatency"), "sum"),
    "writer_stall_ms": (("rocksdbWriterStallLatencyMs",), "sum"),
    "sst_bytes": (("rocksdbSstFileSize",), "last"),
    "load_ms": (("rocksdbLoadLatencyMs", "rocksdbLoadLatency"), "sum"),
    "replay_changelog_files": (("rocksdbNumReplayChangelogFiles",), "sum"),
    "replay_changelog_ms": (("rocksdbReplayChangeLogLatencyMs",), "sum"),
}
# Summed into state.rocksdb.bytes_written: RocksDB's own writes plus its
# flush and compaction writes.
BYTES_WRITTEN_KEYS = (
    "rocksdbTotalBytesWritten",
    "rocksdbTotalBytesWrittenByFlush",
    "rocksdbTotalBytesWrittenByCompaction",
)
CACHE_HIT_KEY = "rocksdbReadBlockCacheHitCount"
CACHE_MISS_KEY = "rocksdbReadBlockCacheMissCount"

DURATIONS = {
    "sources.get_batch_ms": "getBatch",
    "sources.latest_offset_ms": "latestOffset",
    "engine.query_planning_ms": "queryPlanning",
    "engine.wal_commit_ms": "walCommit",
    "engine.commit_offsets_ms": "commitOffsets",
    "engine.add_batch_ms": "addBatch",
}


def rocksdb_metric(custom: dict, keys: tuple[str, ...]) -> float:
    """First of ``keys`` present in one operator's ``customMetrics``."""
    for k in keys:
        if k in custom:
            return float(custom[k])
    return 0.0


def rocksdb_layers(operators: list[list[dict]]) -> dict[str, float]:
    """``state.rocksdb.*`` for one pass from per-batch operator lists
    (``progress["stateOperators"]`` of each batch, in batch order)."""
    out = {f"state.rocksdb.{name}": 0.0 for name in ROCKSDB_METRICS}
    out["state.rocksdb.bytes_written"] = 0.0
    hits = misses = 0.0
    last_gauge: dict[tuple[str, int], float] = {}
    for ops in operators:
        for i, op in enumerate(ops):
            custom = op.get("customMetrics") or {}
            for name, (keys, how) in ROCKSDB_METRICS.items():
                v = rocksdb_metric(custom, keys)
                if how == "sum":
                    out[f"state.rocksdb.{name}"] += v
                else:
                    last_gauge[(name, i)] = v
            out["state.rocksdb.bytes_written"] += sum(
                float(custom.get(k, 0)) for k in BYTES_WRITTEN_KEYS
            )
            hits += float(custom.get(CACHE_HIT_KEY, 0))
            misses += float(custom.get(CACHE_MISS_KEY, 0))
    for (name, _), v in last_gauge.items():
        out[f"state.rocksdb.{name}"] += v
    out["state.rocksdb.block_cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    return out


def batch_layers(batches: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one pass from its progress events."""
    out: dict[str, float] = {
        "engine.batches": float(len(batches)),
        "sources.input_rows": float(sum(b.get("numInputRows", 0) for b in batches)),
    }
    for name, key in DURATIONS.items():
        out[name] = float(sum(b.get("durationMs", {}).get(key, 0) for b in batches))
    ops = [b.get("stateOperators") or [] for b in batches]
    last = ops[-1] if ops else []
    out["state.rows_total"] = float(sum(op.get("numRowsTotal", 0) for op in last))
    out["state.memory_bytes"] = float(
        max((sum(op.get("memoryUsedBytes", 0) for op in o) for o in ops), default=0)
    )
    for name, key in (
        ("state.rows_updated", "numRowsUpdated"),
        ("state.rows_removed", "numRowsRemoved"),
        ("state.commit_ms", "commitTimeMs"),
        ("state.removals_ms", "allRemovalsTimeMs"),
    ):
        out[name] = float(sum(op.get(key, 0) for o in ops for op in o))
    out.update(rocksdb_layers(ops))
    return out


def trigger_ms(batch: dict) -> float:
    return float(batch["durationMs"]["triggerExecution"])


def batch_interval_ns(batch: dict) -> tuple[int, int]:
    """Wall-clock ``(start, end)`` of a micro-batch in epoch nanoseconds."""
    start = dt.datetime.strptime(batch["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start_ns = round(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) * 1_000_000
    return start_ns, start_ns + int(trigger_ms(batch)) * 1_000_000


class Progress(StreamingQueryListener):
    """Collects progress events and counts terminated queries.

    The listener bus delivers a query's events in order, so once its
    termination is counted every progress event of that query has been
    collected: start N queries, then ``wait_terminated(before + N)``.
    """

    def __init__(self):
        self._cond = threading.Condition()
        self.events: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        parsed = json.loads(event.progress.json)
        with self._cond:
            self.events.append(parsed)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated += 1
            self._cond.notify_all()

    def wait_terminated(self, count: int, timeout: float = 60.0) -> None:
        with self._cond:
            if not self._cond.wait_for(lambda: self.terminated >= count, timeout):
                raise TimeoutError("streaming query termination was never reported")

    def take(self) -> list[dict]:
        """Return and forget the events collected so far."""
        with self._cond:
            out, self.events = self.events, []
        return out
