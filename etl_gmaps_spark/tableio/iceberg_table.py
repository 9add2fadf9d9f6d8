"""IcebergTable — same TableIO surface over a real Iceberg catalog.

Usable only when the iceberg-spark-runtime jar is on the session
classpath (not present in this sandbox — detected at runtime, tests
skip). Kept so the engine is a constructor change away from real
Iceberg on a cluster: `spark-submit --packages
org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>` plus a hadoop
catalog conf, and `open_table(..., fmt="iceberg")`.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_gmaps_spark.tableio.snapshot_table import (
    LSN,
    OP,
    CommitResult,
    EpochSet,
    _normalize_epochs,
)


def iceberg_available(spark: SparkSession) -> bool:
    # Class.forName, NOT attribute access: py4j resolves a missing class
    # path to a silent JavaPackage object instead of raising, so
    # `_jvm.org.apache.iceberg.Snapshot` reported the jar present on
    # every classpath (latent until round 4's gated e2e test ran it)
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.Snapshot"
        )
        return True
    except Exception:
        return False


# --- SQL generation (pure functions, unit-testable without the jar) ---
# The sandbox cannot EXECUTE these (no iceberg-spark-runtime), but
# tests/test_skew_and_maintenance.py parses every statement with
# Spark's own SQL parser, so the syntax is verified in-sandbox and only
# Iceberg-side resolution is deferred to a real cluster.

def create_table_sql(
    identifier: str, schema: T.StructType, key_col: str, n_buckets: int
) -> str:
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    return (
        f"CREATE TABLE {identifier} ({cols}) USING iceberg "
        f"PARTITIONED BY (bucket({n_buckets}, {key_col}))"
    )


def add_column_sql(identifier: str, name: str, data_type: T.DataType) -> str:
    return f"ALTER TABLE {identifier} ADD COLUMN {name} {data_type.simpleString()}"


def epoch_property_sql(
    identifier: str, epoch: int, snapshot_id: int, events: int = 0
) -> str:
    """Epoch-ledger stamp: a table property the engine fully controls.

    NOT ``spark.wap.id``: Iceberg only records wap.id when
    ``write.wap.enabled=true``, and with WAP enabled every commit is
    STAGED (invisible to reads until published) — either way the
    session conf is the wrong mechanism (silently ignored on a default
    table, or breaking read() parity on a WAP one). A plain
    TBLPROPERTIES key publishes normally, survives in table metadata,
    and maps epoch → the snapshot that applied it."""
    return (
        f"ALTER TABLE {identifier} SET TBLPROPERTIES "
        f"('cdc.epoch.{int(epoch)}'='{int(snapshot_id)}:{int(events)}')"
    )


def ranges_property_sql(identifier: str, ranges: list[tuple[int, int]]) -> str:
    """Ledger rollup stamp: every epoch inside any half-open ``b:w``
    range is applied and its per-epoch property may be unset —
    SnapshotTable.EpochSet parity. One property, stamped in ONE atomic
    ALTER, so the rollup has no crash window between two stamps. Each
    contiguous replay — zero-based, 1-based, mid-binlog-resumed, or the
    streaming ledger namespace at 10^9 — compacts to one ``b:w`` pair, so
    metadata stays O(fragmentation) instead of one property per epoch
    forever."""
    packed = ",".join(f"{int(b)}:{int(w)}" for b, w in ranges)
    return (
        f"ALTER TABLE {identifier} SET TBLPROPERTIES "
        f"('cdc.epoch.ranges'='{packed}')"
    )


def gc_horizon_property_sql(
    identifier: str, horizon: int, epoch: int | None = None
) -> str:
    """Stale-replay guard stamp (`cdc.gc.horizon`): Iceberg deletes
    remove the row outright — no tombstone survives to reject a late
    replay of an older binlog segment re-inserting a deleted key — so
    after any delete-bearing commit the Replayer advances this horizon
    to the batch's high-water lsn and drops lower-lsn events as stale
    (SnapshotTable keeps real tombstones and only advances its horizon
    when GC physically collects them). ``epoch`` stamps
    `cdc.gc.horizon.epoch` in the same atomic ALTER: the highest epoch
    provably entirely below the horizon, which excuses sub-horizon
    ledger fragmentation from the contiguity checks."""
    pairs = f"'cdc.gc.horizon'='{int(horizon)}'"
    if epoch is not None:
        pairs += f", 'cdc.gc.horizon.epoch'='{int(epoch)}'"
    return f"ALTER TABLE {identifier} SET TBLPROPERTIES ({pairs})"


def unset_epochs_sql(identifier: str, epochs: list[int]) -> str:
    keys = ", ".join(f"'cdc.epoch.{int(e)}'" for e in epochs)
    return f"ALTER TABLE {identifier} UNSET TBLPROPERTIES ({keys})"


def checkpoint_property_sql(identifier: str, rows: list[dict]) -> str:
    """Per-partition lineage (north rule: (partition, last_lsn,
    rows_applied, bytes) after any failure) as `cdc.ckpt.<p>` table
    properties — n_buckets entries, bounded, committed through the same
    catalog the data commits through. Value format is positional:
    last_lsn:rows_applied:bytes:epoch:updated_at_iso (updated_at may be
    empty)."""
    pairs = ", ".join(
        f"'cdc.ckpt.{int(r['partition'])}'='{_encode_ckpt(r)}'" for r in rows
    )
    return f"ALTER TABLE {identifier} SET TBLPROPERTIES ({pairs})"


def _encode_ckpt(r: dict) -> str:
    ts = r.get("updated_at")
    ts_s = ts.isoformat() if hasattr(ts, "isoformat") else (ts or "")
    return (
        f"{int(r['last_lsn'])}:{int(r['rows_applied'])}:{int(r.get('bytes', 0))}"
        f":{int(r.get('epoch', 0))}:{ts_s}"
    )


def _decode_ckpt(partition: int, value: str) -> dict:
    from datetime import datetime

    lsn, rows, nbytes, epoch, ts_s = value.split(":", 4)
    return {
        "partition": int(partition),
        "last_lsn": int(lsn),
        "rows_applied": int(rows),
        "bytes": int(nbytes),
        "epoch": int(epoch),
        "updated_at": datetime.fromisoformat(ts_s) if ts_s else None,
    }


def merge_sql(
    identifier: str, key: str, payload_cols: list[str], op_col: str = "op",
    source_view: str = "_cdc_source", lsn_col: str | None = None,
) -> str:
    """The exactly-once apply statement (SnapshotTable.merge parity):
    delete winners drop the row, update winners replace the payload,
    unseen non-delete keys insert. ``payload_cols`` excludes ``op_col``.

    ``lsn_col`` (when the target stores it, the Replayer path) adds the
    ROW-LEVEL last-writer-wins guard to both MATCHED arms — a stale
    lower-lsn re-delivery is a per-row no-op even when the epoch ledger
    cannot see it, mirroring SnapshotTable's ``_lsn`` guard. One
    difference stays and is documented: Iceberg DELETE physically
    removes the row (no tombstone), so a stale upsert arriving AFTER a
    delete would re-insert; the epoch ledger is what prevents that
    ordering (epochs are lsn-monotone and applied ascending)."""
    sets = ", ".join(f"t.{c} = s.{c}" for c in payload_cols)
    cols = ", ".join(payload_cols)
    vals = ", ".join(f"s.{c}" for c in payload_cols)
    # NULL-safe: bootstrap/base rows carry no lsn yet — any real lsn
    # beats them (ANSI NULL comparison would make the arm never fire)
    guard = (
        f" AND (t.{lsn_col} IS NULL OR s.{lsn_col} >= t.{lsn_col})" if lsn_col else ""
    )
    return f"""
        MERGE INTO {identifier} t USING {source_view} s
        ON t.{key} = s.{key}
        WHEN MATCHED AND s.{op_col} = 'D'{guard} THEN DELETE
        WHEN MATCHED{guard} THEN UPDATE SET {sets}
        WHEN NOT MATCHED AND s.{op_col} != 'D' THEN INSERT ({cols}) VALUES ({vals})
    """


class IcebergTable:
    """MERGE INTO / table-properties implementation on Iceberg SQL,
    exposing the same surface SnapshotTable gives the Replayer — so
    ``Replayer(IcebergTable(spark, ident)).run(log)`` IS the north-star
    path (binlog tail → exactly-once MERGE upserts into Iceberg,
    resumable, per-partition lineage) with no replay-loop changes.

    Ledger: `cdc.epoch.<epoch>` = `<snapshot_id>:<events>` properties
    stamped after each MERGE, rolled up into `cdc.epoch.ranges`.
    Lineage: `cdc.ckpt.<partition>` properties (last_lsn, rows_applied,
    bytes, epoch, updated_at). Row-level LWW: the replay path stores
    the lsn column in the target and the MERGE arms carry a NULL-safe
    `s.lsn >= t.lsn` guard. Only exercised when the runtime jar exists
    (tools/verify_iceberg.py)."""

    # rolled-up epochs keep their per-epoch property for this many
    # recent epochs (commit_log attribution window); older ones are
    # unset — membership is covered by the ranges property alone
    KEEP_RECENT_EPOCHS = 64

    # Iceberg MERGE deletes remove the row outright — no tombstone
    # survives to reject a later stale re-insert. Replayer.apply_batch
    # branches on this: True advances the gc horizon after every
    # delete-bearing commit, False (SnapshotTable keeps tombstones, so
    # its horizon only advances when GC physically collects them) runs
    # the tombstone-GC tick instead.
    deletes_are_immediate = True

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier
        if not iceberg_available(spark):
            raise RuntimeError("iceberg-spark-runtime jar not on classpath")

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        identifier: str,
        schema: T.StructType,
        key_col: str = "doc_id",
        n_buckets: int = 16,
        base_df: DataFrame | None = None,
    ) -> "IcebergTable":
        spark.sql(create_table_sql(identifier, schema, key_col, n_buckets))
        spark.sql(
            f"ALTER TABLE {identifier} SET TBLPROPERTIES "
            f"('cdc.key_col'='{key_col}', 'cdc.n_buckets'='{int(n_buckets)}')"
        )
        t = cls(spark, identifier)
        if base_df is not None:
            base_df.writeTo(identifier).append()
        return t

    def read(self) -> DataFrame:
        return self.spark.table(self.identifier)

    def snapshot(self) -> dict[str, Any]:
        """Replayer-facing table descriptor (the keys the replay loop
        reads from SnapshotTable.snapshot): merge_mode is always 'cow'
        — Iceberg's own MERGE strategy (CoW by default,
        write.merge.mode=merge-on-read to flip) is the engine's
        equivalent knob and lives in table properties, not here."""
        props = self._properties()
        return {
            "merge_mode": "cow",
            "key_col": props.get("cdc.key_col", "doc_id"),
            "n_buckets": int(props.get("cdc.n_buckets", 16)),
        }

    def _properties(self) -> dict[str, str]:
        return {
            r["key"]: str(r["value"])
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {self.identifier}").collect()
        }

    def checkpoint_rows(self) -> list[dict] | None:
        """Per-partition lineage from the `cdc.ckpt.<p>` properties
        merge() stamps (crash-resume seed, SnapshotTable parity)."""
        rows = [
            _decode_ckpt(int(k[len("cdc.ckpt."):]), v)
            for k, v in self._properties().items()
            if k.startswith("cdc.ckpt.")
        ]
        return sorted(rows, key=lambda r: r["partition"]) or None

    def schema(self) -> T.StructType:
        return self.read().schema

    def _epoch_ledger(
        self,
    ) -> tuple[list[tuple[int, int]], dict[int, tuple[int, int]]]:
        """(ranges, {epoch: (snapshot_id, events)}) from the
        `cdc.epoch.*` table properties merge() stamps. SHOW
        TBLPROPERTIES is metadata-only (no data scan) and — unlike
        snapshot summaries — needs no write.wap.enabled or session conf
        to round-trip. Bounded: merge() rolls contiguous runs up into
        `cdc.epoch.ranges` (one ``b:w`` pair per run, whatever its
        numbering — zero-based, 1-based, mid-binlog, or the streaming
        namespace) and unsets the covered per-epoch keys, so metadata
        stays O(fragmentation) no matter how many epochs applied
        (EpochSet parity). merge() only ever stamps normalized ranges,
        so the parsed list is sorted, disjoint and non-adjacent."""
        ranges: list[tuple[int, int]] = []
        out: dict[int, tuple[int, int]] = {}
        for k, v in self._properties().items():
            if k.startswith("cdc.epoch."):
                suffix = k[len("cdc.epoch."):]
                if suffix == "ranges":
                    ranges = [
                        (int(b), int(w))
                        for b, _, w in (p.partition(":") for p in v.split(",") if p)
                    ]
                    continue
                snap_s, _, ev_s = v.partition(":")
                out[int(suffix)] = (int(snap_s), int(ev_s or 0))
        return ranges, out

    def gc_horizon(self) -> int:
        """Highest lsn below which arriving events must be dropped as
        stale (0 = no delete has ever been applied): their target keys
        may have been deleted, and Iceberg keeps no tombstone to guard
        the re-insert. See `gc_horizon_property_sql`."""
        return int(self._properties().get("cdc.gc.horizon", 0))

    def gc_horizon_epoch(self) -> int:
        """Highest epoch provably entirely below gc_horizon (-1 =
        none); sub-horizon ledger fragmentation is excused from the
        contiguity checks (SnapshotTable.gc_horizon_epoch parity)."""
        return int(self._properties().get("cdc.gc.horizon.epoch", -1))

    def advance_gc_horizon(self, lsn: int, epoch: int | None = None) -> None:
        cur = self.gc_horizon()
        if int(lsn) > cur:
            if epoch is not None:
                epoch = max(int(epoch), self.gc_horizon_epoch())  # monotone
            self.spark.sql(
                gc_horizon_property_sql(self.identifier, int(lsn), epoch=epoch)
            )

    def applied_epochs(self) -> EpochSet:
        ranges, ledger = self._epoch_ledger()
        # keys inside a range are the retained attribution tail —
        # already covered; keeping them in `explicit` would
        # double-count len()/iter()
        return EpochSet(
            ranges=ranges,
            explicit={
                e for e in ledger if not any(b <= e < w for b, w in ranges)
            },
        )

    def commit_log(
        self,
        latest: int | None = None,
        status: str | None = None,
        epoch: int | None = None,
    ) -> list[dict]:
        """S4/O3 parity with SnapshotTable.commit_log: the job-ledger
        select (newest first, optional filters, LIMIT) answered from
        Iceberg's `.snapshots` metadata table joined with the
        `cdc.epoch.*` property ledger."""
        _, ledger = self._epoch_ledger()
        # one snapshot can carry several epochs (millisecond commit
        # ties are attributed via .refs, but a caller may also batch),
        # so the inversion is snapshot -> LIST — a dict comprehension
        # would silently drop colliding epochs. snapshot_id 0 marks a
        # state-no-op merge (no snapshot produced): applied in the
        # ledger, present in applied_epochs(), but on no snapshot row.
        # Range-covered epochs older than the attribution window no
        # longer carry snapshot attribution (their properties were
        # unset); their snapshots list epochs: [] — the same
        # information loss SnapshotTable accepts when its EpochSet
        # compacts, and the latest-jobs queries this surface serves
        # only read the recent window.
        by_snap: dict[int, list[tuple[int, int]]] = {}
        for e, (snap, ev) in ledger.items():
            if snap:
                by_snap.setdefault(snap, []).append((e, ev))
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.identifier}.snapshots "
            "ORDER BY committed_at DESC"
        ).collect()
        out: list[dict] = []
        for r in rows:
            entries = sorted(by_snap.get(r.snapshot_id, []))
            c = {
                "snapshot": r.snapshot_id,
                "status": "ok",
                "epochs": [e for e, _ in entries],
                "events": sum(ev for _, ev in entries),
            }
            if status is not None and c["status"] != status:
                continue
            if epoch is not None and epoch not in c["epochs"]:
                continue
            out.append(c)
        return out[:latest] if latest else out

    def _current_snapshot_id(self) -> int | None:
        """The snapshot the main branch points at, from the `.refs`
        metadata table — exact even when two commits share a
        millisecond `committed_at` (ORDER BY committed_at LIMIT 1 is
        not). None on a fresh table with no snapshot yet."""
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.identifier}.refs WHERE name = 'main'"
        ).collect()
        return int(rows[0][0]) if rows else None

    def merge(
        self,
        winners: DataFrame,
        epoch: int | list[int] | None = None,
        checkpoint_rows: list[dict] | None = None,
        stats: dict[str, Any] | None = None,
        touched_buckets: list[int] | None = None,
    ) -> CommitResult:
        """SnapshotTable.merge surface over Iceberg SQL, so the same
        Replayer drives either sink (north rule: exactly-once MERGE
        upserts into Iceberg). Differences, all documented: the merge
        key is the first column of ``winners`` (the Replayer's key-first
        convention); ``touched_buckets`` is accepted and ignored
        (Iceberg's own bucket-partition pruning replaces the
        manifest-window optimization — the parameter exists so one
        Replayer call serves both sinks); the row-level LWW guard joins
        the MERGE arms whenever ``lsn`` is in the target or the source,
        so unlike SnapshotTable.merge (which requires a non-null lsn in
        both modes) an lsn-less batch still merges here, unguarded —
        the guard stays conditional until this path can run against the
        Iceberg runtime jar; the source is dropDuplicates'd on the key
        (MERGE requires unique source keys); ``checkpoint_rows``
        (lineage dicts) land as `cdc.ckpt.<p>` properties."""
        epochs = (
            None if epoch is None
            else [int(epoch)] if isinstance(epoch, int)
            else [int(e) for e in epoch]
        )
        ranges, ledger = self._epoch_ledger()

        def _applied(e: int) -> bool:
            return any(b <= e < w for b, w in ranges) or e in ledger

        # `epochs and`: an EMPTY epoch list is vacuously all-applied but
        # has no epochs[-1]; SnapshotTable treats it as an un-ledgered
        # merge, so the parity surface must too
        if epochs and all(_applied(e) for e in epochs):
            return CommitResult(-1, -1, 0, 0, epochs[-1])
        payload = [f.name for f in winners.schema.fields if f.name != OP]
        target_cols = {f.name for f in self.schema().fields}
        for f in winners.schema.fields:
            if f.name not in target_cols and f.name != OP:
                self.spark.sql(add_column_sql(self.identifier, f.name, f.dataType))
        key = winners.columns[0]
        winners.dropDuplicates([key]).createOrReplaceTempView("_cdc_source")
        guard = LSN if LSN in target_cols | set(payload) else None
        pre = self._current_snapshot_id()
        self.spark.sql(merge_sql(self.identifier, key, payload, OP, lsn_col=guard))
        post = self._current_snapshot_id()
        # a MERGE that changes zero rows produces NO new snapshot —
        # attributing "the latest snapshot" would stamp the epoch onto
        # the PREVIOUS commit. snapshot_id 0 = applied-but-no-op.
        snap = post if post is not None and post != pre else 0
        if checkpoint_rows is not None:
            for i in range(0, len(checkpoint_rows), 100):
                self.spark.sql(
                    checkpoint_property_sql(
                        self.identifier, checkpoint_rows[i : i + 100]
                    )
                )
        if epochs:
            # Stamp AFTER the MERGE commits. A crash in the window
            # between the two leaves the epoch unstamped and the replay
            # re-runs the MERGE — which is state-idempotent for a unique
            # keyed LWW winner set (matched-update rewrites the same
            # values; a replayed insert matches and updates; a replayed
            # delete finds no match and the NOT MATCHED arm excludes
            # op='D'), so at-least-once stamping still yields
            # exactly-once table state. A grouped commit (list epoch)
            # stamps every member onto the one snapshot; events go on
            # the last so commit_log sums stay exact.
            events = int((stats or {}).get("events", 0))
            for e in epochs:
                # never overwrite an epoch stamped by an EARLIER attempt:
                # after a crash mid-group-stamp the resume's MERGE is a
                # state no-op (snap=0), and re-stamping the already-
                # stamped members would erase their real snapshot
                # attribution from the ledger
                if _applied(e):
                    continue
                self.spark.sql(
                    epoch_property_sql(
                        self.identifier, e, snap, events if e == epochs[-1] else 0
                    )
                )
            # roll contiguous runs into the ranges property so the
            # per-epoch ledger stays O(fragmentation), not O(epochs):
            # without this, 10^5 epochs = 10^5 table properties and
            # every merge's applied-check scans all of them. Runs of
            # length >= 2 become/extend/MERGE ranges (a late-filled gap
            # joins its neighbors); singletons stay per-epoch keys. The
            # stored ranges are always normalized, so they compare as is.
            new_ranges, _ = _normalize_epochs(ranges, set(ledger) | set(epochs))
            if new_ranges != ranges:
                # ONE atomic stamp; a crash before the unsets below
                # leaves covered keys standing — membership unchanged
                # (range ∪ keys), swept by the next merge
                self.spark.sql(ranges_property_sql(self.identifier, new_ranges))
            # unset range-covered keys EXCEPT a recent window per range
            # (their membership is already covered; keeping each
            # range's newest tail preserves commit_log's
            # snapshot->epoch attribution for the latest-jobs queries
            # in EVERY ledger namespace — batch and streaming). Keys in
            # no range are genuine sparse members — never swept.
            drop = sorted(
                e
                for e in set(ledger) | set(epochs)
                if any(
                    b <= e < w - self.KEEP_RECENT_EPOCHS
                    for b, w in new_ranges
                )
            )
            for i in range(0, len(drop), 100):  # bounded statements
                self.spark.sql(unset_epochs_sql(self.identifier, drop[i : i + 100]))
        # no phase split (empty phases): the Replayer books this MERGE
        # under batch_other
        return CommitResult(-1, snap, -1, -1, epochs[-1] if epochs else None)
