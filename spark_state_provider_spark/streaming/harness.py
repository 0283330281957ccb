"""Run-to-completion harness for streaming queries.

``Trigger.AvailableNow`` drains every pending micro-batch then stops — the
deterministic test/verification mode. Two sinks:

* memory sink (complete/append modes) — the reference's own test sink
  (RedistateTest.scala:33-38);
* a DISTRIBUTED keyed upsert via ``foreachBatch`` for update-mode stateful
  operators, where "latest row per key" is the semantic result: each
  micro-batch MERGEs into a keyed parquet table (anti-join + union +
  version-swap), the executor-side emulation of what Delta/Iceberg MERGE
  does natively. No per-key data ever crosses the driver — at 100 TB the
  per-batch work is one broadcast-sized anti-join (update mode emits only
  changed keys) plus a rewrite of the target, exactly the copy-on-write
  MERGE cost profile.

Per-batch cost of the upsert sink: ONE run of the upstream (stateful)
plan, whose output is cached for the batch, then an anti-join + union
over that cache and the rewrite of the target. A cache block lost to
eviction or an executor failure only costs a recompute of its partition,
and that recompute is idempotent: the state store reloads version N-1
and re-commits the same version N.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def run_to_memory(
    sdf: DataFrame,
    name: str,
    output_mode: str,
    timeout_secs: int = 180,
) -> DataFrame:
    """Start writeStream→memory with AvailableNow, await, return the table."""
    spark = sdf.sparkSession
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    # under the pid-scoped scratch parent: rmtree'd in the finally below
    # on the normal path, and swept by the dead-pid rule if the process
    # dies mid-stream (a killed run used to leak its checkpoint forever)
    from spark_state_provider_spark.scratch import scratch_dir

    ckpt = tempfile.mkdtemp(
        prefix=f"ckpt_{name}_", dir=scratch_dir("memck", wipe=False)
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_secs)
    finally:
        q.stop()
        # drained + stopped: the memory-sink table lives in the session,
        # the checkpoint is ephemeral — remove, don't leak across runs
        shutil.rmtree(ckpt, ignore_errors=True)
    if not finished:
        raise TimeoutError(
            f"streaming query {name!r} did not drain within {timeout_secs}s"
        )
    return spark.table(name)


def run_upsert_table(
    sdf: DataFrame,
    key_cols: list[str],
    timeout_secs: int = 180,
) -> DataFrame:
    """Drain an update-mode stream into a keyed parquet table, keeping the
    LAST row emitted per key, and return the final table (lazy DataFrame).

    Each micro-batch performs a distributed MERGE: previous version
    ANTI-JOIN batch keys (drop superseded rows) ∪ batch rows, written as a
    new version directory; the previous version is deleted once the new one
    is committed. Update-mode stateful operators emit one row per CHANGED
    key per batch, so the anti-join's build side stays small regardless of
    total state size — the same cost shape as a Delta/Iceberg MERGE, with
    no per-batch ``collect()`` to the driver.

    Each micro-batch runs the upstream plan exactly once. Batch 0 writes
    ``batch_df`` directly; later batches persist it for the duration of
    the merge, so the anti-join keys and the union read the cached rows
    instead of re-running the stateful handler, its Arrow exchange and a
    state-store reload + commit a second time. The merged write fills the
    cache (no separate ``count()`` job) and the cache is dropped in a
    ``finally``, so a failed write leaks no blocks. A lost cached block is
    an idempotent recompute (see the module docstring).
    """
    spark = sdf.sparkSession
    # roots nest under the pid-scoped scratch dir: the version dirs are
    # read lazily (cannot delete here), but the parent is removed at
    # process exit and stale copies from dead pids are swept (the
    # prefix-only mkdtemp used before this leaked one dir per run)
    from spark_state_provider_spark.scratch import scratch_dir

    parent = scratch_dir("upsert", wipe=False)
    root = tempfile.mkdtemp(prefix="run_", dir=parent)
    ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=parent)
    latest: dict[str, str | None] = {"path": None}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        prev = latest["path"]
        new_path = os.path.join(root, f"v{batch_id}")
        if prev is None:  # first version: batch_df has a single consumer
            batch_df.write.mode("overwrite").parquet(new_path)
            latest["path"] = new_path
            return
        # two consumers below: uncached, each would re-run the stateful plan
        batch_df.persist()
        try:
            cur = batch_df.sparkSession.read.parquet(prev)
            merged = cur.join(
                batch_df.select(*key_cols), key_cols, "left_anti"
            ).unionByName(batch_df)
            merged.write.mode("overwrite").parquet(new_path)
        finally:
            batch_df.unpersist()
        latest["path"] = new_path
        shutil.rmtree(prev, ignore_errors=True)

    q = (
        sdf.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_secs)
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    if not finished:
        raise TimeoutError(
            f"streaming upsert did not drain within {timeout_secs}s"
        )
    if latest["path"] is None:  # zero micro-batches: empty result, same schema
        return spark.createDataFrame([], schema=sdf.schema)
    return spark.read.parquet(latest["path"])

