"""spark-submit entry point for the CDC replay engine.

Cluster usage (north rule: spark-submit --py-files, multi-executor):

    zip -r etl_gmaps_spark.zip etl_gmaps_spark
    spark-submit --py-files etl_gmaps_spark.zip \
        [--packages org.apache.iceberg:iceberg-spark-runtime-...:<ver>] \
        jobs/replay_job.py --log s3://bucket/change_log \
        --table /warehouse/tokens_table --n-buckets 1024 --salt 16

Local sandbox smoke:

    python jobs/replay_job.py --generate 100000 --workdir /tmp/replay_job
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--log", help="change-log path (parquet, ideally epoch-partitioned)")
    ap.add_argument("--table", help="target SnapshotTable root (or Iceberg identifier with --table-format iceberg)")
    ap.add_argument(
        "--table-format", choices=("snapshot", "iceberg"), default="snapshot",
        help="snapshot = file-layout SnapshotTable at --table PATH; iceberg = "
        "catalog identifier (cat.db.table) via IcebergTable — requires "
        "iceberg-spark-runtime on the classpath and a catalog conf; the "
        "same Replayer drives either",
    )
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--salt", type=int, default=0, help="explicit LWW salt buckets (0 = partial-agg only)")
    ap.add_argument("--batch-epochs", type=int, default=1)
    ap.add_argument(
        "--merge-mode", choices=("cow", "mor"), default="cow",
        help="copy-on-write bucket rewrites or merge-on-read deltas (new tables only)",
    )
    ap.add_argument(
        "--max-epochs", type=int, default=None,
        help="bound this run to the K oldest pending epochs (source fetch cap)",
    )
    ap.add_argument("--stream", action="store_true", help="use Structured Streaming availableNow")
    ap.add_argument(
        "--no-auto-compact", action="store_true",
        help="disable the MoR threshold-compaction policy after each commit",
    )
    ap.add_argument("--generate", type=int, default=0, help="generate a synthetic log of N events first")
    ap.add_argument("--workdir", default="/tmp/replay_job")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    if args.table_format == "iceberg" and args.merge_mode != "cow":
        # IcebergTable delegates merge strategy to Iceberg itself:
        # silently ignoring the flag would hand a user CoW MERGEs while
        # they believe they are A/B-testing merge-on-read
        ap.error(
            "--merge-mode applies to SnapshotTable only; for Iceberg set the "
            "table property write.merge.mode=merge-on-read instead"
        )
    if args.stream and (args.salt or args.batch_epochs != 1 or args.max_epochs is not None):
        # the streaming driver slices its own micro-batches
        # (maxFilesPerTrigger) and reduces them unsalted: these flags
        # would be silently ignored
        ap.error("--salt, --batch-epochs and --max-epochs apply to batch mode only, not --stream")

    from etl_gmaps_spark.schemas import TARGET_SCHEMA
    from etl_gmaps_spark.session import get_spark
    from etl_gmaps_spark.streaming.replay import Replayer
    from etl_gmaps_spark.tableio import SnapshotTable

    spark = get_spark("cdc-replay-job", cpus=args.cpus)

    log_path = args.log
    table_path = args.table
    def _make_table(base_df=None):
        if args.table_format == "iceberg":
            from etl_gmaps_spark.tableio.iceberg_table import IcebergTable

            if not spark.catalog.tableExists(table_path):
                return IcebergTable.create(
                    spark, table_path, TARGET_SCHEMA,
                    n_buckets=args.n_buckets, base_df=base_df,
                )
            return IcebergTable(spark, table_path)
        if not SnapshotTable.exists(table_path):
            return SnapshotTable.create(
                spark, table_path, TARGET_SCHEMA, n_buckets=args.n_buckets,
                base_df=base_df, merge_mode=args.merge_mode,
            )
        return SnapshotTable(spark, table_path)

    table = None
    if args.generate:
        from etl_gmaps_spark.datagen import gen_base, gen_changelog

        os.makedirs(args.workdir, exist_ok=True)
        log_path = log_path or os.path.join(args.workdir, "log")
        table_path = table_path or os.path.join(args.workdir, "table")
        n_docs = max(1000, args.generate // 50)
        gen_changelog(
            spark, n_docs=n_docs, n_events=args.generate, epoch_size=max(1, args.generate // 4)
        ).write.mode("overwrite").partitionBy("epoch").parquet(log_path)
        table = _make_table(base_df=gen_base(spark, n_docs=n_docs))

    if table is None:
        table = _make_table()

    if args.stream:
        from etl_gmaps_spark.streaming.stream_replay import run_availablenow

        schema = spark.read.parquet(log_path).schema
        res = run_availablenow(
            spark, log_path, table, os.path.join(args.workdir, "stream_ckpt"),
            schema=schema, auto_compact=not args.no_auto_compact,
        )
        res["phases"] = {k: round(v, 3) for k, v in res["phases"].items()}
        print(json.dumps({"mode": "stream", "master": spark.sparkContext.master, **res}))
    else:
        log = spark.read.parquet(log_path)
        m = Replayer(
            table, salt_buckets=args.salt, auto_compact=not args.no_auto_compact
        ).run(
            log, batch_epochs=args.batch_epochs, max_epochs=args.max_epochs
        )
        print(
            json.dumps(
                {
                    "mode": "batch",
                    # actual master, so a cluster submit is verifiable
                    # from the output (a builder .master() override once
                    # silently turned local-cluster submits into local)
                    "master": spark.sparkContext.master,
                    # effective shuffle sizing, so launcher-provided
                    # --conf survival (and the cluster-aware default
                    # when none is given) is verifiable the same way
                    "shuffle_partitions": int(
                        spark.conf.get("spark.sql.shuffle.partitions")
                    ),
                    "events": m.events_processed,
                    "events_per_sec": round(m.events_per_sec, 1),
                    "epochs_applied": m.epochs_applied,
                    "epochs_skipped": m.epochs_skipped,
                    "deletes": m.deletes,
                    "stale_dropped": m.events_stale_dropped,
                    # where the replay wall went, summed over commits
                    "phases": {k: round(v, 3) for k, v in m.phases.items()},
                    "final_rows": table.read().count(),
                    # SnapshotTable reports its version; IcebergTable's
                    # descriptor has no version key (the catalog owns it)
                    "snapshot": table.snapshot().get("version", -1),
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
