"""Structured-Streaming replay: availableNow over the epoch-partitioned
log must converge to the oracle state, and re-running after checkpoint
loss must be a no-op thanks to the table's epoch ledger."""

from __future__ import annotations

import shutil
from time import monotonic

from pyspark.sql import functions as F

from etl_gmaps_spark.datagen import gen_base, gen_changelog
from etl_gmaps_spark.oracle import replay_oracle
from etl_gmaps_spark.schemas import TARGET_SCHEMA
from etl_gmaps_spark.streaming.stream_replay import run_availablenow
from etl_gmaps_spark.tableio import SnapshotTable
from tests.conftest import assert_table_equal


def test_streaming_replay_matches_oracle(spark, tmp_path, capsys):
    base = gen_base(spark, n_docs=200, seed=21)
    log = gen_changelog(spark, n_docs=200, n_events=2000, seed=21, epoch_size=500, dup_epochs=())
    log_path = str(tmp_path / "log")
    log.write.partitionBy("epoch").parquet(log_path)
    schema = spark.read.parquet(log_path).schema

    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), TARGET_SCHEMA, base_df=base)
    t0 = monotonic()
    res = run_availablenow(spark, log_path, table, str(tmp_path / "ckpt"), schema=schema)
    wall = monotonic() - t0
    assert res["events"] == 2000
    # the shared commit step reports deletes and stale drops (no GC
    # horizon exists on a streamed table, so nothing is dropped)
    assert res["deletes"] > 0 and res["stale_dropped"] == 0
    # ... and its phase split, summed over micro-batches, as data
    assert set(res["phases"]) == {
        "stats_collect", "write_buckets", "post_write", "snapshot_commit",
        "maintain", "batch_other",
    }
    assert all(v >= 0 for v in res["phases"].values())
    assert sum(res["phases"].values()) <= wall
    assert "[prof]" not in capsys.readouterr().out

    expected = replay_oracle(base.toPandas(), log.toPandas())
    assert_table_equal(table.read(), expected)

    # checkpoint loss → full re-stream. Whether micro-batches are
    # ledger-skipped (same slicing) or re-applied (different slicing),
    # the row-level _lsn guard keeps the final state identical.
    shutil.rmtree(str(tmp_path / "ckpt"))
    run_availablenow(spark, log_path, table, str(tmp_path / "ckpt2"), schema=schema)
    assert_table_equal(table.read(), expected)


def test_row_level_guard_rejects_stale_replay(spark, tmp_path):
    """Deliver a NEWER batch first, then replay an OLDER overlapping
    slice out of order — the _lsn guard must keep every newer row and
    the tombstone must keep deleted keys dead (the failure mode that
    batch-level ledgers cannot catch)."""
    base = gen_base(spark, n_docs=50, seed=33)
    log = gen_changelog(spark, n_docs=50, n_events=600, seed=33, epoch_size=200, dup_epochs=())
    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), TARGET_SCHEMA, base_df=base)
    from etl_gmaps_spark.streaming.replay import Replayer

    r = Replayer(table)
    r.apply_batch(log.filter(F.col("lsn") > 300), epoch=901)  # newer half first
    r.apply_batch(log.filter(F.col("lsn") <= 400), epoch=902)  # overlapping older slice
    expected = replay_oracle(base.toPandas(), log.toPandas())
    assert_table_equal(table.read(), expected)


def test_streaming_replay_into_mor_table(spark, tmp_path):
    """The streaming sink path composes with merge-on-read: availableNow
    micro-batches write per-bucket deltas, reads reconcile, and the
    final state equals the oracle."""
    base = gen_base(spark, n_docs=150, seed=33)
    log = gen_changelog(
        spark, n_docs=150, n_events=1500, seed=33, epoch_size=500, dup_epochs=()
    )
    log_path = str(tmp_path / "log")
    log.write.partitionBy("epoch").parquet(log_path)
    schema = spark.read.parquet(log_path).schema

    table = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), TARGET_SCHEMA, base_df=base, merge_mode="mor"
    )
    res = run_availablenow(
        spark, log_path, table, str(tmp_path / "ckpt"), schema=schema,
        auto_compact=False,  # the test inspects + manually folds deltas
    )
    assert res["events"] == 1500
    # deltas really were written (merge-on-read took effect)
    resolved = table._resolve(table.snapshot())
    assert any(e.get("deltas") for e in resolved.values())
    expected = replay_oracle(base.toPandas(), log.toPandas())
    assert_table_equal(table.read(), expected)
    # compact folds the stream's deltas; state unchanged
    table.compact()
    resolved = table._resolve(table.snapshot())
    assert not any(e.get("deltas") for e in resolved.values())
    assert_table_equal(table.read(), expected)


def test_streaming_lww_gate_drops_stale_events(spark, tmp_path):
    """applyInPandasWithState online gate (reference J2 deduper,
    deduper/hashmap.go): per key only strictly-increasing lsns pass,
    across micro-batch boundaries, with state in the checkpoint."""
    import pandas as pd

    from etl_gmaps_spark.streaming.stateful import streaming_lww_gate

    # two files read as separate micro-batches (maxFilesPerTrigger=1):
    # file 2 replays stale lsns from file 1 plus some fresh ones
    log_dir = tmp_path / "gate_log"
    b1 = pd.DataFrame(
        {"doc_id": ["a", "a", "b"], "lsn": [3, 1, 5], "payload": ["a3", "a1", "b5"]}
    )
    b2 = pd.DataFrame(
        # c/1 appears TWICE in the same micro-batch: byte-identical
        # replayed-delivery duplicates that the state ratchet alone
        # can't separate — the gate must emit it exactly once
        {"doc_id": ["a", "a", "b", "c", "c"], "lsn": [2, 7, 5, 1, 1],
         "payload": ["stale", "a7", "dup", "c1", "c1"]}
    )
    log_dir.mkdir()
    b1.to_parquet(log_dir / "batch-000.parquet")
    b2.to_parquet(log_dir / "batch-001.parquet")

    stream = (
        spark.readStream.schema("doc_id string, lsn long, payload string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(log_dir))
    )
    q = (
        streaming_lww_gate(stream)
        .writeStream.format("memory")
        .queryName("gated")
        .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("gated").collect()
    got = {(r["doc_id"], r["lsn"]): r["payload"] for r in rows}
    # batch1: a/1 then a/3 pass (sorted within batch), b/5 passes
    # batch2: a/2 stale (< 3), a/7 passes, b/5 duplicate, c/1 passes
    # exactly once despite arriving twice in one micro-batch
    assert got == {
        ("a", 1): "a1", ("a", 3): "a3", ("b", 5): "b5",
        ("a", 7): "a7", ("c", 1): "c1",
    }
    assert len(rows) == 5  # no intra-batch duplicate emissions

def test_windowed_event_stats_with_watermark(spark, tmp_path):
    """Watermarked windowed aggregation (reference A1/A3 live counters,
    streaming-native). Three availableNow runs over one checkpoint —
    the watermark persists and advances between runs: run 2 delivers a
    late-but-tolerated event (admitted into its window) and a too-late
    event (dropped); run 3 pushes the watermark past the open windows
    and finalizes them. Append mode emits each window exactly once."""
    import datetime as dt

    import pandas as pd

    from etl_gmaps_spark.streaming.progress import windowed_event_stats

    t0 = dt.datetime(2023, 11, 14, 12, 0, 0)

    def ts(minute, second=0):
        return t0 + dt.timedelta(minutes=minute, seconds=second)

    log_dir = tmp_path / "wm_log"
    log_dir.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")
    out_dir = str(tmp_path / "wm_out")

    def run(name):
        # file sink: the one built-in sink that resumes from a
        # checkpoint (memory sink cannot), so the watermark persists
        # across the three runs; returns CUMULATIVE finalized windows
        stream = (
            spark.readStream.schema(
                "doc_id string, lsn long, source string, ts timestamp"
            ).parquet(str(log_dir))
        )
        q = (
            windowed_event_stats(stream, window="1 minute", late_tolerance="2 minutes")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["window_start"].minute: (r["events"], r["max_lsn"])
            for r in spark.read.parquet(out_dir).collect()
        }

    # run 1: on-time events at minutes 0 and 10 -> watermark 10-2=8;
    # the minute-0 window finalizes, minute-10 stays open
    pd.DataFrame(
        {"doc_id": ["a", "b", "c"], "lsn": [1, 2, 3], "source": ["web"] * 3,
         "ts": [ts(0), ts(0, 30), ts(10)]}
    ).to_parquet(log_dir / "b0.parquet", coerce_timestamps="us")
    assert run("wm1") == {0: (2, 2)}

    # run 2: minute-9 event is late but >= watermark 8 -> admitted
    # (window [9,10) end 10 > 8: stays open); minute-1 event's window
    # ended at 2 <= 8 -> dropped by the watermark
    pd.DataFrame(
        {"doc_id": ["d", "e"], "lsn": [4, 5], "source": ["web"] * 2,
         "ts": [ts(9), ts(1)]}
    ).to_parquet(log_dir / "b1.parquet", coerce_timestamps="us")
    assert run("wm2") == {0: (2, 2)}  # nothing NEW finalizes

    # run 3: minute-13 event advances the watermark to 11 -> the open
    # minute-9 (with the tolerated late event) and minute-10 windows
    # finalize; the too-late minute-1 event appears NOWHERE
    pd.DataFrame(
        {"doc_id": ["f"], "lsn": [6], "source": ["web"],
         "ts": [ts(13)]}
    ).to_parquet(log_dir / "b2.parquet", coerce_timestamps="us")
    assert run("wm3") == {0: (2, 2), 9: (1, 4), 10: (1, 3)}


def test_lww_gate_restart_under_rocksdb_state(spark, tmp_path):
    """VERDICT r3 #8: the gate's per-key state must survive a query
    restart under the RocksDB state-store provider (the at-scale
    provider: state on local disk, changelog checkpointing). Run 1
    admits lsns; run 2 — a NEW query over the SAME checkpoint — must
    still drop lsns that run 1 already admitted."""
    import pandas as pd
    import pytest

    from etl_gmaps_spark.streaming.stateful import (
        enable_rocksdb_state,
        streaming_lww_gate,
    )

    if not enable_rocksdb_state(spark):
        pytest.skip("RocksDBStateStoreProvider not on classpath")
    try:
        log_dir = tmp_path / "rdb_log"
        log_dir.mkdir()
        ckpt = str(tmp_path / "rdb_ckpt")
        out_dir = str(tmp_path / "rdb_out")
        schema = "doc_id string, lsn long, payload string"

        def run():
            # file sink: the one built-in sink that resumes from a
            # checkpoint (memory sink cannot)
            stream = spark.readStream.schema(schema).parquet(str(log_dir))
            q = (
                streaming_lww_gate(stream)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        pd.DataFrame(
            {"doc_id": ["a", "b"], "lsn": [3, 5], "payload": ["a3", "b5"]}
        ).to_parquet(log_dir / "b0.parquet")
        run()
        # restart: state must remember a<=3 and b<=5 across queries
        pd.DataFrame(
            {"doc_id": ["a", "a", "b"], "lsn": [2, 7, 5],
             "payload": ["stale", "a7", "dup"]}
        ).to_parquet(log_dir / "b1.parquet")
        run()
        got = {
            (r["doc_id"], r["lsn"]): r["payload"]
            for r in spark.read.schema(schema).parquet(out_dir).collect()
        }
        assert got == {("a", 3): "a3", ("b", 5): "b5", ("a", 7): "a7"}
    finally:
        for k in (
            "spark.sql.streaming.stateStore.providerClass",
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        ):
            spark.conf.unset(k)
