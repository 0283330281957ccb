"""Streaming operator tests: real micro-batch runs over the RocksDB state
store, asserted against batch twins (stronger than the reference's visual
``show()`` assertion — SURVEY.md §5).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_state_provider_spark import operators
from spark_state_provider_spark.operators import registry

operators.load_all()
from spark_state_provider_spark.streaming.sources import stream_events
from spark_state_provider_spark.streaming.state_timeout import state_timeout
from spark_state_provider_spark.tables import load_table

from tests.oracle import compare_query


def test_stream_dedup_matches_batch(spark, sf_dir):
    compare_query(spark, sf_dir, "q20s_stream_dedup")


def test_stream_window_matches_batch(spark, sf_dir):
    compare_query(spark, sf_dir, "q21s_stream_window")


def test_stream_user_stats_matches_batch(spark, sf_dir):
    compare_query(spark, sf_dir, "q24s_stream_user_stats")


def test_stream_stream_join_matches_batch(spark, sf_dir):
    compare_query(spark, sf_dir, "q26_stream_stream_join")


def test_watermark_emits_only_closed_windows(spark, sf_dir):
    out = registry.get("q23_watermark").fn(spark, sf_dir)
    emitted = {r["window_start"]: r["n_events"] for r in out.collect()}
    batch = {
        r["w"]["start"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # every emitted window matches the batch count exactly...
    for ws, n in emitted.items():
        assert batch[ws] == n, (ws, n, batch[ws])
    # ...and append mode withheld the windows the watermark never passed
    assert 0 < len(emitted) < len(batch)


def test_stream_session_windows_subset_of_batch(spark, sf_dir):
    """Every emitted (closed) streaming session must exist with identical
    bounds/counts in the batch session computation; open sessions withheld."""
    out = registry.get("q22s_stream_session_window").fn(spark, sf_dir)
    emitted = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in out.collect()
    }
    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in registry.get("q22_session_window").fn(spark, sf_dir).collect()
    }
    assert emitted, "expected at least one closed session"
    for key, n in emitted.items():
        assert batch[key] == n, (key, n, batch.get(key))
    assert len(emitted) < len(batch)  # trailing sessions stay open


def test_stream_ttl_resets_long_idle_users(spark, sf_dir):
    """With a 3-day TTL, a user idle >3 days between batches restarts their
    fold — total_visits must be <= the batch count, and < for some user iff
    an idle gap that long exists in the data."""
    out = {r["user_id"]: r for r in registry.get("q25s_stream_ttl").fn(spark, sf_dir).collect()}
    batch = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(out) == set(batch)
    for uid, row in out.items():
        assert row["total_visits"] <= batch[uid]


def test_state_timeout_writer_helper(spark, sf_dir, tmp_path):
    """EP3 parity: stateTimeout forces queryName + checkpoint and records the
    per-query TTL conf; the streaming query then runs under those settings."""
    ev = stream_events(spark, sf_dir, 2)
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    writer = counts.writeStream.format("memory").outputMode("complete")
    ckpt = str(tmp_path / "ckpt")
    writer = state_timeout(
        writer, spark.conf, query_name="tmo_query", expiry_secs=60,
        checkpoint_location=ckpt,
    )
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.stateExpirySecs.tmo_query"
    ) == "60"
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert q.name == "tmo_query"
    got = {r["user_id"]: r["n"] for r in spark.table("tmo_query").collect()}
    batch = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_state_timeout_requires_checkpoint(spark, sf_dir):
    ev = stream_events(spark, sf_dir, 2)
    writer = ev.writeStream.format("memory")
    spark.conf.unset("spark.sql.streaming.checkpointLocation")
    with pytest.raises(ValueError, match="checkpointLocation"):
        state_timeout(writer, spark.conf, query_name="x", expiry_secs=5)


def test_left_outer_stream_join_contains_inner(spark, sf_dir):
    """Matched rows of the streaming left join == the batch inner join;
    null-padded rows only for clicks with no purchase in-window."""
    inner = {
        (r["click_id"], r["purchase_id"])
        for r in registry.get("q26_stream_stream_join").fn(spark, sf_dir).collect()
    }
    left = registry.get("q26b_stream_stream_left_join").fn(spark, sf_dir).collect()
    matched = {
        (r["click_id"], r["purchase_id"]) for r in left if r["purchase_id"] is not None
    }
    assert matched == inner
    inner_clicks = {c for c, _ in inner}
    for r in left:
        if r["purchase_id"] is None:
            assert r["click_id"] not in inner_clicks, r


def test_state_parts_env_overrides_call_site_pin(spark, monkeypatch):
    """SSPS_STREAM_STATE_PARTS must WIN over explicit call-site pins
    (round-9 verdict #7): the pins are local-bench store-commit tunings,
    and a cluster deployment sizes state partitioning to its volume via
    the env without editing call sites."""
    from spark_state_provider_spark.operators.streaming_queries import (
        _streaming_session,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SSPS_STREAM_STATE_PARTS", "12")
    with _streaming_session(spark, state_parts=4):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "12"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    monkeypatch.delenv("SSPS_STREAM_STATE_PARTS")
    with _streaming_session(spark, state_parts=4):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_upsert_runs_stateful_handler_once_per_key_per_batch(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The upsert MERGE reads each micro-batch twice (anti-join keys +
    union); it must not re-run the stateful plan for the second read. The
    handler runs in Python workers, so each call appends a line to a file:
    over a 3-batch stream the call count must equal the sum of distinct
    keys per batch, and the table must still match the batch oracle."""
    import os

    from spark_state_provider_spark.operators.streaming_queries import (
        _streaming_session,
    )
    from spark_state_provider_spark.streaming import stateful
    from spark_state_provider_spark.streaming.harness import run_upsert_table
    from spark_state_provider_spark.streaming.sources import split_events_dir

    from tests.oracle import compare_frame

    n_batches = 3
    calls_log = str(tmp_path / "handler_calls.log")
    fold = stateful.user_statistics_handler

    def counting_handler(key, pdfs, state):
        with open(calls_log, "a") as f:
            f.write(f"{key[0]}\n")
        yield from fold(key, pdfs, state)

    monkeypatch.setattr(stateful, "user_statistics_handler", counting_handler)
    with _streaming_session(spark):
        ev = stream_events(spark, sf_dir, n_batches)
        table = run_upsert_table(
            stateful.user_statistics_stream(ev), ["user_id"]
        )

    slices_dir = split_events_dir(spark, sf_dir, n_batches)
    slices = sorted(d for d in os.listdir(slices_dir) if d.startswith("slice="))
    assert len(slices) == n_batches  # one file per trigger → one batch each
    expected_calls = sum(
        spark.read.parquet(os.path.join(slices_dir, d))
        .select("user_id")
        .distinct()
        .count()
        for d in slices
    )
    with open(calls_log) as f:
        n_calls = sum(1 for _ in f)
    assert n_calls == expected_calls
    compare_frame(
        table,
        sf_dir,
        registry.get("q24s_stream_user_stats").oracle,
        "upsert_once_per_batch",
    )
