"""Incremental engine scenarios (SURVEY.md §5 strategy, FIXTURES.md #2/#3):
exactly-once epochs, crash-resume, schema evolution, checkpoint lineage.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_gmaps_spark.datagen import gen_base, gen_changelog
from etl_gmaps_spark.oracle import replay_oracle
from etl_gmaps_spark.schemas import TARGET_SCHEMA
from etl_gmaps_spark.streaming.replay import InjectedCrash, Replayer
from etl_gmaps_spark.tableio import SnapshotTable
from tests.conftest import assert_table_equal


def make_table(spark, tmp_path, base=None, n_buckets=8):
    return SnapshotTable.create(
        spark, str(tmp_path / "tbl"), TARGET_SCHEMA, key_col="doc_id",
        n_buckets=n_buckets, base_df=base,
    )


def test_incremental_replay_matches_oracle(spark, tmp_path, capsys):
    base = gen_base(spark, n_docs=300, seed=42)
    log = gen_changelog(spark, n_docs=300, n_events=3000, seed=42, epoch_size=500)
    table = make_table(spark, tmp_path, base)
    m = Replayer(table).run(log)
    assert m.epochs_applied > 0 and m.events_processed == 3000  # dupes dropped
    # every commit reports its phase split as data, never as prints
    commit_phases = {
        "stats_collect", "write_buckets", "post_write", "snapshot_commit",
        "maintain", "batch_other",
    }
    applied = [info for info in m.per_epoch if not info["skipped"]]
    assert applied
    for info in applied:
        assert set(info["phases"]) == commit_phases
        assert all(v >= 0 for v in info["phases"].values())
    assert set(m.phases) == commit_phases | {"epoch_listing"}
    assert all(v >= 0 for v in m.phases.values())
    assert sum(m.phases.values()) <= m.elapsed_sec
    assert "[prof]" not in capsys.readouterr().out
    expected = replay_oracle(base.toPandas(), log.toPandas())
    assert_table_equal(table.read(), expected)
    assert Replayer(table).is_done(log)


def test_replay_takes_merge_key_from_table(spark, tmp_path):
    """The Replayer merges on the table's own key column: a table keyed
    on ``key`` instead of ``doc_id`` replays oracle-equal."""
    base = gen_base(spark, n_docs=200, seed=44)
    log = gen_changelog(spark, n_docs=200, n_events=1500, seed=44, epoch_size=500)
    keyed_base = base.withColumnRenamed("doc_id", "key")
    table = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), keyed_base.schema, key_col="key",
        n_buckets=8, base_df=keyed_base,
    )
    Replayer(table).run(log.withColumnRenamed("doc_id", "key"))
    expected = replay_oracle(base.toPandas(), log.toPandas())
    assert_table_equal(table.read().withColumnRenamed("key", "doc_id"), expected)


def test_exactly_once_rerun_is_noop(spark, tmp_path):
    base = gen_base(spark, n_docs=200, seed=1)
    log = gen_changelog(spark, n_docs=200, n_events=2000, seed=1, epoch_size=400)
    table = make_table(spark, tmp_path, base)
    Replayer(table).run(log)
    v1 = table.snapshot()["version"]
    m2 = Replayer(table).run(log)  # full replay of already-applied log
    assert m2.epochs_applied == 0 and m2.epochs_skipped > 0
    assert table.snapshot()["version"] == v1  # zero new commits
    expected = replay_oracle(base.toPandas(), log.toPandas())
    assert_table_equal(table.read(), expected)


def test_crash_resume(spark, tmp_path):
    base = gen_base(spark, n_docs=200, seed=3)
    log = gen_changelog(spark, n_docs=200, n_events=2500, seed=3, epoch_size=250)
    table = make_table(spark, tmp_path, base)
    with pytest.raises(InjectedCrash):
        Replayer(table).run(log, fail_after_epochs=3)
    assert not Replayer(table).is_done(log)
    m = Replayer(table).run(log)  # resume: skips the 3 committed epochs
    assert m.epochs_skipped >= 3
    expected = replay_oracle(base.toPandas(), log.toPandas())
    assert_table_equal(table.read(), expected)


def test_schema_evolution_mid_stream(spark, tmp_path):
    """Batches before the split lack `lang`; later ones carry it. The
    engine must ALTER-ADD the column and backfill nulls."""
    base = gen_base(spark, n_docs=150, seed=5)
    log = gen_changelog(
        spark, n_docs=150, n_events=2000, seed=5, epoch_size=500,
        evolve_at=1000, dup_epochs=(),
    )
    table = make_table(spark, tmp_path, base)
    r = Replayer(table)
    for e in [0, 1]:  # pre-split batches genuinely lack the column
        r.apply_batch(log.filter(F.col("epoch") == e).drop("lang"), epoch=e)
    assert "lang" not in [f.name for f in table.schema().fields]
    for e in [2, 3]:
        r.apply_batch(log.filter(F.col("epoch") == e), epoch=e)
    assert "lang" in [f.name for f in table.schema().fields]
    expected = replay_oracle(base.toPandas(), log.toPandas())
    assert_table_equal(table.read(), expected)
    # rows last written pre-split hold null lang
    assert table.read().filter(F.col("lang").isNull()).count() > 0


def test_checkpoint_lineage(spark, tmp_path):
    base = gen_base(spark, n_docs=200, seed=11)
    log = gen_changelog(spark, n_docs=200, n_events=2000, seed=11, epoch_size=500)
    table = make_table(spark, tmp_path, base)
    Replayer(table).run(log)
    ckpt = pd.DataFrame(table.checkpoint_rows())
    assert set(ckpt.columns) == {"partition", "last_lsn", "rows_applied", "bytes", "epoch", "updated_at"}
    assert ckpt["last_lsn"].max() == 2000  # high-water mark == max lsn
    assert ckpt["rows_applied"].sum() == 2000  # dupes applied once
    assert (ckpt["bytes"] > 0).all()


def test_merge_conflict_detection(spark, tmp_path):
    """Two writers racing to the same version: exactly one commits."""
    from etl_gmaps_spark.tableio import CommitConflict

    base = gen_base(spark, n_docs=50, seed=13)
    table = make_table(spark, tmp_path, base)
    snap = table.snapshot()
    clash = dict(snap, version=snap["version"] + 1)
    table._commit_snapshot(dict(clash))
    with pytest.raises(CommitConflict):
        table._commit_snapshot(dict(clash))


def test_delete_reinsert_across_batches(spark, tmp_path):
    """Explicit D-then-I on one key across separate commits (FIXTURES.md
    delete→reinsert scenario, isolated from the generator)."""
    base = gen_base(spark, n_docs=10, seed=17)
    table = make_table(spark, tmp_path, base)
    r = Replayer(table)
    d1 = spark.createDataFrame(
        [(1, 0, "D", "doc-00000003", None, None, None, None)],
        "lsn long, epoch long, op string, doc_id string, tokens array<int>, n_tok int, source string, ts timestamp",
    )
    r.apply_batch(d1, epoch=0)
    assert table.read().filter(F.col("doc_id") == "doc-00000003").count() == 0
    d2 = spark.createDataFrame(
        [(2, 1, "I", "doc-00000003", [9, 9, 9], 3, "web", None)],
        "lsn long, epoch long, op string, doc_id string, tokens array<int>, n_tok int, source string, ts timestamp",
    )
    r.apply_batch(d2, epoch=1)
    row = table.read().filter(F.col("doc_id") == "doc-00000003").collect()
    assert len(row) == 1 and row[0]["tokens"] == [9, 9, 9]
