"""Physical-plan assertions: the scale-design claims in README.md
("filter pushed to scan", "broadcast the small side", "partial
aggregation map-side") verified against the actual Catalyst output, so
a regression that silently de-optimizes a plan fails the suite."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from etl_gmaps_spark.plans import queries as catalog

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_changelog_lsn_filter_reaches_scan(spark, tmp_path):
    """read_changelog(since_lsn) must push the range predicate into the
    parquet scan (PushedFilters), not evaluate it post-scan only."""
    from etl_gmaps_spark.datagen import gen_changelog
    from etl_gmaps_spark.sources.changelog import read_changelog

    log_path = str(tmp_path / "log")
    gen_changelog(spark, n_docs=100, n_events=1000, seed=3).write.parquet(log_path)
    plan = plan_of(read_changelog(spark, log_path, since_lsn=500))
    assert "PushedFilters" in plan
    assert "GreaterThan(lsn,500)" in plan


def test_changelog_column_pruning(spark, tmp_path):
    """A two-column projection must prune the scan's ReadSchema."""
    from etl_gmaps_spark.datagen import gen_changelog
    from etl_gmaps_spark.sources.changelog import read_changelog

    log_path = str(tmp_path / "log")
    gen_changelog(spark, n_docs=100, n_events=1000, seed=3).write.parquet(log_path)
    plan = plan_of(read_changelog(spark, log_path).select("doc_id", "lsn"))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "tokens" not in read_schema[0]


def test_broadcast_enrich_uses_broadcast_join(spark):
    plan = plan_of(catalog.QUERIES["broadcast_enrich_region"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lww_reduce_has_partial_aggregation(spark):
    """cdc_lww_tokens' max_by reduce must partial-aggregate map-side
    (HashAggregate with Partial before the exchange) — a hot doc_id
    sends one row per map task, not its whole event stream."""
    plan = plan_of(catalog.QUERIES["cdc_lww_tokens"](spark, SF))
    assert "partial_max_by" in plan or "Partial" in plan
    assert "HashAggregate" in plan


def test_topk_uses_take_ordered(spark):
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject, not a global
    sort (priority_queue_claim / topk_by_distance, SURVEY W2/W3)."""
    plan = plan_of(catalog.QUERIES["priority_queue_claim"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", "")


def test_anti_join_stays_broadcastable(spark):
    """J1 anti-join consolidation broadcasts the key side at this
    scale; no shuffled sort-merge anti join."""
    plan = plan_of(catalog.QUERIES["anti_join_new_keys"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ngram_posting_join_is_broadcast(spark):
    """The Jaccard posting self-join must broadcast (hot posting lists
    would otherwise serialize into single sort-merge tasks)."""
    plan = plan_of(catalog.QUERIES["ngram_jaccard_dedupe"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_read_pending_broadcasts_checkpoint(spark, tmp_path):
    from etl_gmaps_spark.datagen import gen_base, gen_changelog
    from etl_gmaps_spark.schemas import TARGET_SCHEMA
    from etl_gmaps_spark.sources.changelog import read_pending
    from etl_gmaps_spark.streaming.replay import Replayer
    from etl_gmaps_spark.tableio import SnapshotTable

    base = gen_base(spark, n_docs=100, seed=3)
    log = gen_changelog(spark, n_docs=100, n_events=1000, seed=3, epoch_size=500)
    log_path = str(tmp_path / "log")
    log.write.parquet(log_path)
    table = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=4, base_df=base
    )
    r = Replayer(table)
    r.apply_batch(log.filter(F.col("epoch") == 0), epoch=0)
    pending = read_pending(spark, log_path, table)
    plan = plan_of(pending)
    # checkpoint side broadcast + global low-water mark pushed to scan
    assert "BroadcastHashJoin" in plan
    assert "GreaterThan(lsn," in plan
    # and the result is exactly the unapplied epoch
    assert pending.count() == log.filter(F.col("epoch") == 1).count()


def test_replay_winner_semijoin_is_shuffled_hash(spark, tmp_path, monkeypatch):
    """Replayer.apply_batch fetches winner rows with a shuffled hash
    semi-join at every batch size: its SHUFFLE_HASH hint outranks
    size-based broadcast even when the cached winner-key side is tiny,
    as here. The batch payload shuffles once, hash-partitioned on
    (key, lsn), so a hot key is not one skewed partition."""
    from etl_gmaps_spark.datagen import gen_base, gen_changelog
    from etl_gmaps_spark.schemas import TARGET_SCHEMA
    from etl_gmaps_spark.streaming.replay import Replayer
    from etl_gmaps_spark.tableio import SnapshotTable

    base = gen_base(spark, n_docs=200, seed=5)
    log = gen_changelog(spark, n_docs=200, n_events=2000, seed=5, epoch_size=2000)
    table = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=8, base_df=base
    )
    plans, merge = [], table.merge

    def spy(src, **kw):
        plans.append(plan_of(src))
        return merge(src, **kw)

    monkeypatch.setattr(table, "merge", spy)
    Replayer(table).run(log)
    (plan,) = plans
    assert "ShuffledHashJoin" in plan and "LeftSemi" in plan
    assert "BroadcastHashJoin" not in plan
    assert re.search(r"hashpartitioning\(doc_id#\d+, lsn#\d+", plan)


def test_merge_bucket_alignment_one_file_per_bucket(spark, tmp_path):
    """The MERGE write path is bucket-ALIGNED: the join inputs are
    hash-partitioned on the key into exactly n_buckets partitions
    (Spark's partitioner == bucket_expr, both Murmur3), so the merged
    output is written with no post-join shuffle and each touched
    bucket dir gets EXACTLY ONE file. >1 file per bucket means the
    alignment broke (an extra exchange crept in between join and
    write)."""
    import os

    from etl_gmaps_spark.datagen import gen_base, gen_changelog
    from etl_gmaps_spark.schemas import TARGET_SCHEMA
    from etl_gmaps_spark.streaming.replay import Replayer
    from etl_gmaps_spark.tableio import SnapshotTable, bucket_expr

    root = str(tmp_path / "tbl")
    base = gen_base(spark, n_docs=400, seed=11)
    log = gen_changelog(spark, n_docs=400, n_events=4000, seed=11, epoch_size=4000)
    table = SnapshotTable.create(spark, root, TARGET_SCHEMA, n_buckets=8, base_df=base)
    Replayer(table).run(log)
    snap = table.snapshot()
    assert snap["version"] == 2
    for b, files in table.files_map().items():
        assert len(files) == 1, f"bucket {b}: {len(files)} files (alignment broken)"
    # rows physically live in the dir their key hashes to; the commit's
    # snapshot dir carries a per-attempt nonce (s2-<hex>), so resolve it
    # from the manifest instead of hard-coding the name
    s2_dirs = {
        os.path.dirname(os.path.dirname(f))
        for fl in table.files_map().values()
        for f in fl
    }
    assert len(s2_dirs) == 1  # one commit -> one snapshot data dir
    s2_dir = next(iter(s2_dirs))
    assert os.path.basename(s2_dir).startswith("s2")
    df = spark.read.parquet(s2_dir)
    mismatch = df.withColumn(
        "_calc", bucket_expr("doc_id", 8)
    ).filter(F.col("_calc") != F.col("_bucket")).count()
    assert mismatch == 0


def test_merge_window_adds_no_extra_exchange(spark):
    """The CoW merge shape — stored rows and the batch unioned, one
    repartition(B, key), then the _latest window — shuffles exactly
    once: the window reuses the repartition's hash partitioning, so
    there is one REPARTITION_BY_NUM exchange and no
    ENSURE_REQUIREMENTS exchange."""
    from etl_gmaps_spark.tableio.snapshot_table import _latest

    def side(n, seq):
        return spark.range(n).select(
            F.concat(F.lit("k"), "id").alias("doc_id"),
            F.col("id").alias("_lsn"),
            F.lit(seq).alias("_seq"),
        )

    merged = _latest(
        side(1000, 0).unionByName(side(500, 1)).repartition(8, F.col("doc_id")),
        "doc_id",
    )
    plan = plan_of(merged)
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert "ENSURE_REQUIREMENTS" not in plan
    assert "Window" in plan


def test_merge_source_dedupe_adds_no_exchange(spark):
    """Merge source dedupe: dropDuplicates on the merge key AFTER the bucket
    repartition must execute in-partition — one REPARTITION exchange,
    nothing else (the replay hot path relies on this: it dropped its
    own pre-merge max_by shuffle in favor of this free dedupe)."""
    df = spark.range(1000).select(
        F.concat(F.lit("k"), (F.col("id") % 300)).alias("_s_key"),
        F.col("id").alias("payload"),
    )
    plan = plan_of(df.repartition(8, F.col("_s_key")).dropDuplicates(["_s_key"]))
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert "ENSURE_REQUIREMENTS" not in plan
