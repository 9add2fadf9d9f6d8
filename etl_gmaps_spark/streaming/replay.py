"""Micro-batch replay driver (SURVEY.md §3.4, §7.1 steps 5-7).

Drives the change log through the table in epoch-sized commits:

    for epoch in epochs(log) ascending:
        skip if epoch in ledger            # exactly-once re-apply
        winners = LWW reduce over slice    # per-key max-LSN
        MERGE + checkpoint + ledger        # one atomic snapshot commit

Mirrors of the reference:
  * epoch skip = ON CONFLICT DO NOTHING on job UUID
    (postgres/provider.go:108-111) and result rows
    (postgres/resultwriter.go:83)
  * batch loop = the 50-row/60-s sink flush + 10-row queue claim cycle
    (resultwriter.go:26-48, provider.go:20,148-244)
  * done condition = exiter.isDone: processed == max
    (exiter/exiter.go:87-100)
  * per-partition checkpoint rows = the job lineage log
    (0_AGENTE_GOSOM/src/core_logic.py:488-514) + status flips
    (provider.go:152-165)

Crash-resume: the epoch ledger and checkpoint are written inside the
same snapshot commit as the data, so a crash at ANY point leaves the
table at the last fully-committed epoch; re-running the replayer skips
committed epochs and re-applies the in-flight one.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from time import monotonic

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from etl_gmaps_spark.tableio.snapshot_table import (
    LSN,
    OP,
    OUT_OF_BAND_EPOCH_BASE,
    EpochSet,
    SnapshotTable,
    bucket_expr,
    observed,
)

# the change-log envelope (schemas.CHANGELOG_SCHEMA): total-order lsn,
# epoch slice, op discriminator and event time. Every column that is
# neither envelope nor the table's key column is payload.
EPOCH = "epoch"
ENVELOPE_COLS = (LSN, EPOCH, OP, "ts")

# tombstone-GC cadence: a GC tick runs on commits whose snapshot id is
# a multiple of this (see Replayer.apply_batch)
GC_EVERY = 16
# lgConfigK of the replayed-delivery sketch (hll_sketch_agg, DataSketches
# HLL): 2^16 registers, relative standard error ~1.04/sqrt(65536) ~ 0.41%.
# Its aggregation buffer is ONE binary field; approx_count_distinct at
# the same precision (rsd=0.005, HLL++ p=16) carries 6,554 long fields,
# and every stage downstream of the observation then ships a ~2 MiB
# task binary.
DUP_SKETCH_LG_K = 16


def dup_metrics() -> list[Column]:
    """The replayed-delivery observation over a batch: raw rows and
    the sketch estimate of distinct lsn (lsns are unique per event, so
    a replayed epoch shows as raw > distinct)."""
    return [
        F.count(F.lit(1)).alias("raw_rows"),
        F.hll_sketch_estimate(F.hll_sketch_agg(LSN, DUP_SKETCH_LG_K)).alias("approx_rows"),
    ]


def dup_tripped(raw_rows: int, approx_rows: int, k: int) -> bool:
    """True when a slice of ``k`` epochs physically holds a replayed
    epoch. One replayed epoch adds ~raw/(k+1) rows, so the trip level
    scales with k instead of a fixed 10% that a >=10-epoch group
    dilutes past (one dup epoch in 10 is +10% raw). Floor: 0.03 x the
    estimate, over 7 sigma of the sketch's ~0.41% error, so noise never
    trips it; it resolves one dup epoch up to k~30. A miss past that
    only inflates ledger stats (~3%); merge output stays exact via the
    row-level lsn guard."""
    approx = approx_rows or 1
    trip = max(0.4 * raw_rows / (k + 1), 0.03 * approx)
    return raw_rows - approx > trip


def _utc(dt):
    """Session timezone is UTC; collected naive datetimes are UTC wall
    time — tag them so pyarrow/tz-aware comparisons are consistent."""
    from datetime import timezone

    if dt is None or dt.tzinfo is not None:
        return dt
    return dt.replace(tzinfo=timezone.utc)


class InjectedCrash(RuntimeError):
    """Raised by the fail-injection hook in crash-resume tests."""


@dataclass
class ReplayMetrics:
    epochs_applied: int = 0
    epochs_skipped: int = 0
    events_processed: int = 0
    # events refused because their lsn is below the table's GC horizon:
    # the tombstones that would have guarded them were physically
    # collected, so applying them could resurrect deleted keys. Stale
    # by the table's own contract (state is complete through the
    # horizon); counted, never silently applied.
    events_stale_dropped: int = 0
    # keys whose winning (max-lsn) event in their commit was a delete
    deletes: int = 0
    elapsed_sec: float = 0.0
    per_epoch: list[dict] = field(default_factory=list)
    # wall-seconds per commit phase, summed over all commits (see
    # apply_batch), plus run()'s epoch_listing: cluster jobs
    # (stats_collect, write_buckets, maintain, epoch_listing) vs
    # driver-serial work (post_write footer/ckpt, snapshot_commit JSON,
    # batch_other glue). The Amdahl evidence for the N->4N scaling
    # claim: the serial share bounds achievable efficiency.
    phases: dict = field(default_factory=dict)

    @property
    def events_per_sec(self) -> float:
        return self.events_processed / self.elapsed_sec if self.elapsed_sec else 0.0

    def add(self, info: dict, n_epochs: int = 1) -> None:
        """Fold one ``Replayer.apply_batch`` result into the totals —
        the one accounting both drivers use."""
        self.per_epoch.append(info)
        for k, val in info["phases"].items():
            self.phases[k] = self.phases.get(k, 0.0) + val
        if info["skipped"]:
            return
        self.epochs_applied += n_epochs
        self.events_processed += info["events"]
        self.events_stale_dropped += info["stale_dropped"]
        self.deletes += info["deletes"]


class Replayer:
    def __init__(
        self,
        table: SnapshotTable,
        salt_buckets: int = 0,
        auto_compact: bool = True,
        gc_tombstones: bool = True,
    ):
        self.table = table
        self.salt_buckets = salt_buckets
        # MoR maintenance policy (VERDICT r3 #4): after each commit on a
        # merge-on-read table, compact the buckets whose delta chain
        # crossed the SnapshotTable.maintenance_plan thresholds. Keeps
        # read cost bounded during long small-epoch replays without a
        # hand-scheduled job; the plan check itself is driver-side
        # metadata, no Spark job.
        self.auto_compact = auto_compact
        # tombstone GC policy (VERDICT r4 #3): roughly every GC_EVERY
        # commits (anchored to the table's persistent snapshot version,
        # so bounded-fetch polls and fresh Replayers share one cadence),
        # rewrite any bucket whose GC-eligible tombstone mass (deleted
        # guard rows below the replay low-water mark) crosses the
        # maintenance_plan ratio. The mass check is ONE narrow Spark
        # aggregation (key + 2 meta columns), hence the coarser cadence
        # than the metadata-only auto_compact check. Applies to BOTH
        # merge modes — CoW tables accumulate tombstones too.
        self.gc_tombstones = gc_tombstones
        # deletes applied since the last GC check. None = unknown (a
        # fresh Replayer may face tombstones a PREVIOUS run left, so
        # the first cadence tick always checks); afterwards an
        # insert/update-only replay skips the tombstone_stats
        # aggregation — but ONLY while the last check saw no
        # above-the-mark residue (_gc_residue): tombstones whose lsn
        # exceeded the then low-water mark become eligible later as the
        # mark advances, without any new delete arriving, so skipping
        # on "no new deletes" alone would defer their collection
        # forever on a delete-burst-then-insert-only workload.
        self._gc_deletes: int | None = None
        # True = the last GC check saw tombstones above its low-water
        # mark (they WILL become eligible as the mark advances); False =
        # it saw none; None = no check has run yet (always check).
        self._gc_residue: bool | None = None
        # gc_horizon cache: read from table metadata once per Replayer,
        # then maintained locally (this process is the only horizon
        # writer while it replays — GC and delete-stamps both run here).
        # A stale-low cached value only under-drops, which is safe; the
        # per-batch metadata round-trip it replaces is pure hot-loop
        # overhead (SHOW TBLPROPERTIES on Iceberg). gc_horizon_epoch is
        # cached the same way, read lazily by the first safety-gate
        # check (_collect_safe) and re-read after a GC commit stamps it.
        self._horizon: int | None = None
        self._horizon_epoch: int | None = None
        self._ckpt: dict[int, dict] | None = None  # partition -> lineage row

    def _merged_checkpoint_rows(self, stats: list[dict]) -> list[dict]:
        """Cumulative per-partition lineage, merged driver-side.

        The checkpoint is n_buckets rows — pushing it through Spark
        would cost a Python-worker-backed job per batch for nothing
        (plus ~150 ms per default partition). Seeded once from the last
        committed snapshot (crash-resume source of truth), then kept in
        memory and written via pyarrow inside each commit.
        """
        if self._ckpt is None:
            prev = self.table.checkpoint_rows()
            self._ckpt = {int(r["partition"]): dict(r) for r in prev} if prev is not None else {}
        for s in stats:
            p = s["partition"]
            old = self._ckpt.get(p)
            if old is None:
                self._ckpt[p] = dict(s)
            else:
                self._ckpt[p] = {
                    "partition": p,
                    "last_lsn": max(old["last_lsn"], s["last_lsn"]),
                    "rows_applied": old["rows_applied"] + s["rows_applied"],
                    "bytes": old["bytes"] + s["bytes"],
                    "epoch": s["epoch"],
                    "updated_at": max(
                        (t for t in (old.get("updated_at"), s.get("updated_at")) if t is not None),
                        default=None,
                    ),
                }
        return [dict(r) for r in self._ckpt.values()]

    # ------------------------------------------------------------ batch
    def apply_batch(self, batch: DataFrame, epoch: int | list[int]) -> dict:
        """The one commit step of both drivers (``run`` and
        ``stream_replay.run_availablenow``): LWW-reduce one epoch slice
        (or group of epochs committed as one snapshot), commit it
        atomically, then run the post-commit policy — MoR auto-compact,
        delete accounting, and the horizon advance (sinks whose deletes
        are immediate) or the tombstone-GC tick, both behind
        _collect_safe. Counts ``events``, ``winners`` (keys written),
        ``deletes`` (keys whose winner is a delete), ``stale_dropped``.

        ``phases`` splits the call's wall-seconds: ``stats_collect``,
        the sink's merge phases, ``maintain`` (the post-commit policy)
        and ``batch_other``, the remainder (planning, dup check,
        checkpoint merge), so the phases sum to the call's wall."""
        t0 = monotonic()
        epochs = [epoch] if isinstance(epoch, int) else list(epoch)
        applied = self.table.applied_epochs()
        if all(e in applied for e in epochs):
            return {"epoch": epochs[-1], "skipped": True, "events": 0, "phases": {}}

        snap = self.table.snapshot()
        key_col, n_buckets = snap["key_col"], snap["n_buckets"]

        # GC-horizon guard: tombstones with lsn below the horizon have
        # been physically collected (SnapshotTable.compact GC leg), or
        # the sink deletes rows outright (Iceberg) — the row-level
        # guard against stale re-insertion no longer exists below it.
        # A late replay of an older, never-applied binlog segment could
        # therefore resurrect deleted keys. Such events are stale by
        # the table's own contract (its state is complete through the
        # horizon: a mid-binlog bootstrap starts from a snapshot that
        # already reflects them), so they are DROPPED and counted —
        # never silently applied. Zero cost on the normal path: the
        # filter and its counter only enter the plan when a horizon
        # exists, and pending epochs' lsns all exceed it anyway.
        stale_obs = None
        pre_batch = None
        if self._horizon is None:
            self._horizon = self.table.gc_horizon()
        horizon = self._horizon
        if horizon:
            pre_batch = batch
            stale_obs = Observation()
            batch = batch.observe(
                stale_obs, F.count(F.lit(1)).alias("pre_rows")
            ).filter(F.col(LSN) >= F.lit(horizon))

        # ONE full scan of the batch serves every pre-merge need
        # (VERDICT r1 #2 — the separate stats job and the merge job's
        # own winner-agg rebuild were two more full scans per epoch,
        # pure fixed cost that throttled N→4N scaling):
        #   * per-KEY hash aggregation (primitive counters only — count,
        #     max lsn, byte sum, max ts, winner-is-delete) collapses the
        #     stream map-side;
        #     a hot key sends one counter row per map task, no payload.
        #   * the per-BUCKET lineage stats (checkpoint granularity) are
        #     a rollup of the per-key rows — bucket = f(key).
        #   * the winner-key set for the semi-join is a projection of
        #     the same cached rows, so the join's build side reads
        #     n_keys cached rows instead of rescanning the batch.
        # Replayed-batch dedupe detection rides the SAME scan via
        # observe(): global raw count vs an HLL sketch of distinct lsn
        # (exact count_distinct would re-shuffle every event — lsns are
        # unique, zero map-side reduction). Duplicates only arrive as
        # whole replayed epochs of byte-identical rows; the trip level
        # (dup_tripped) must resolve ONE such epoch inside a
        # batch_epochs-grouped slice, where it is only ~1/k of the rows,
        # hence the 2^16-register sketch (DUP_SKETCH_LG_K). The EXACT
        # dedup'd counters are recomputed on that rare path below.
        ev_bytes = F.coalesce(F.col("n_tok") * 4, F.lit(0)) + F.length(key_col) + 16
        dup_obs = Observation()
        obs_batch = batch.observe(dup_obs, *dup_metrics())
        counters = [
            F.count(F.lit(1)).alias("_cnt"),
            F.max(LSN).alias("last_lsn"),
            F.sum(ev_bytes).alias("_bytes"),
            F.max("ts").alias("updated_at"),
            # 1 when the key's winning (max-lsn) event is a delete: the
            # delete count rides the same partial/final aggregation
            F.max_by((F.col(OP) == "D").cast("int"), LSN).alias("_del"),
        ]
        if self.salt_buckets and self.salt_buckets > 1:
            # explicit two-phase reduce for pathological hot keys: the
            # salt comes from the LSN, so one key's events spread over
            # salt_buckets reducers before the final per-key merge.
            salt = F.pmod(F.xxhash64(F.col(LSN)), F.lit(self.salt_buckets))
            keyed = (
                obs_batch.groupBy(key_col, salt.alias("_salt"))
                .agg(*counters)
                .groupBy(key_col)
                .agg(
                    F.sum("_cnt").alias("_cnt"),
                    F.max("last_lsn").alias("last_lsn"),
                    F.sum("_bytes").alias("_bytes"),
                    F.max("updated_at").alias("updated_at"),
                    F.max_by("_del", "last_lsn").alias("_del"),
                )
            )
        else:
            keyed = obs_batch.groupBy(key_col).agg(*counters)
        keyed = keyed.persist()
        payload_cols = [c for c in batch.columns if c not in ENVELOPE_COLS + (key_col,)]
        win = keyed.select(F.col(key_col).alias("_w_key"), "last_lsn")
        # The SHUFFLE_HASH hint outranks size-based broadcast, so at
        # every batch size this is a shuffled hash semi-join: every
        # event's payload shuffles once, hash-partitioned on
        # (key, lsn), so a hot key's events spread over all partitions
        # instead of landing in one skewed one, and nothing sorts the
        # payload (sort-merge would; the two-phase reduce exists to
        # avoid that). tests/test_physical_plans.py pins the shape.
        cand = batch.alias("_b").join(
            win.hint("shuffle_hash").alias("_w"),
            (F.col(f"_b.{key_col}") == F.col("_w._w_key"))
            & (F.col(f"_b.{LSN}") == F.col("_w.last_lsn")),
            "leftsemi",
        )
        # cand has unique keys already — only the winner (key, lsn) row
        # of each key survives the semi-join; the sole exception is
        # replayed delivery, where the SAME winner row appears as
        # byte-identical copies. Collapsing those here used to cost a
        # full groupBy(max_by) shuffle of the winner payload EVERY
        # epoch; instead the merge collapses them in-partition after its
        # own bucket repartition (see SnapshotTable.merge): the CoW
        # _latest window and the MoR dropDuplicates both run there —
        # zero extra shuffle on the hot path.
        src = cand.select(key_col, OP, LSN, *payload_cols)
        t = monotonic()
        stats_rows = [
            r.asDict()
            for r in keyed.groupBy(bucket_expr(key_col, n_buckets).alias("_p"))
            .agg(
                F.sum("_cnt").alias("_raw_rows"),
                F.max("last_lsn").alias("last_lsn"),
                F.sum("_bytes").alias("_raw_bytes"),
                F.max("updated_at").alias("updated_at"),
                # A3 live metrics (the reference's live progress
                # counters, tlmt + exiter.IncrPlacesCompleted analog):
                # winner keys and winning deletes, from the same collect
                F.count(F.lit(1)).alias("_winners"),
                F.sum("_del").alias("_deletes"),
            )
            .collect()
        ]
        phases = {"stats_collect": monotonic() - t}
        # dup detection (dup_tripped): dup_obs rode the keyed-agg
        # scan; the collect above makes it available.
        # pyspark quirk (measured on 4.1): when an action's aggregation
        # collects ZERO groups — here, every event in the batch dropped
        # by the horizon filter — NO observation on that plan is
        # retrievable (AssertionError from toPyRow). The condition is
        # directly visible as an empty stats collect (zero groups means
        # zero surviving rows, exactly), so gate on that rather than a
        # blanket except that would also mask real failures.
        if stats_rows:
            dup = observed(dup_obs, "replay dup count")
        else:
            dup = {"raw_rows": 0, "approx_rows": 0}
        stale_dropped = 0
        if stale_obs is not None:
            # both observations rode the same completed scan; dropped =
            # rows seen before the horizon filter minus rows after it.
            # All-stale batch: one narrow count on the pre-filter frame
            # — off the hot path by construction.
            pre_rows = (
                int(observed(stale_obs, "replay stale count")["pre_rows"] or 0)
                if stats_rows
                else pre_batch.count()
            )
            stale_dropped = pre_rows - int(dup["raw_rows"] or 0)
        if dup_tripped(dup["raw_rows"], dup["approx_rows"], len(epochs)):
            # rare path: the slice physically contains a replayed epoch —
            # recompute the EXACT deduped row/byte counters (narrow
            # projection first: the payload never enters this shuffle)
            dedup_stats = (
                batch.select(
                    bucket_expr(key_col, n_buckets).alias("_p"),
                    F.col(LSN).alias("_lsn_d"),
                    ev_bytes.alias("_ev_bytes"),
                )
                .dropDuplicates(["_lsn_d"])
                .groupBy("_p")
                .agg(F.count(F.lit(1)).alias("_rows"), F.sum("_ev_bytes").alias("_bytes"))
                .collect()
            )
            by_p = {r["_p"]: (r["_rows"], r["_bytes"]) for r in dedup_stats}
            for r in stats_rows:
                r["rows_applied"], r["_raw_bytes"] = by_p.get(r["_p"], (0, 0))
        else:
            for r in stats_rows:
                r["rows_applied"] = r["_raw_rows"]
        stats = [
            {
                "partition": int(r["_p"]),
                "last_lsn": int(r["last_lsn"]),
                "rows_applied": int(r["rows_applied"]),
                "bytes": int(r["_raw_bytes"] or 0),
                "epoch": int(epochs[-1]),
                "updated_at": _utc(r["updated_at"]),
            }
            for r in stats_rows
        ]
        events = sum(r["rows_applied"] for r in stats)
        winners = sum(int(r["_winners"]) for r in stats_rows)
        deletes = sum(int(r["_deletes"] or 0) for r in stats_rows)
        last_lsn = max((s["last_lsn"] for s in stats), default=None)
        ckpt = self._merged_checkpoint_rows(stats)

        res = self.table.merge(
            src,
            epoch=epochs,
            checkpoint_rows=ckpt,
            stats={"events": events},
            touched_buckets=[s["partition"] for s in stats],
        )
        phases.update(res.phases)
        keyed.unpersist()
        # post-commit policy
        t = monotonic()
        compacted = 0
        if (
            self.auto_compact
            and snap["merge_mode"] == "mor"
            and res.buckets_rewritten
        ):
            c = self.table.maintain()
            compacted = c.buckets_rewritten if c is not None else 0
        if self._gc_deletes is not None:
            self._gc_deletes += deletes
        if self.table.deletes_are_immediate:
            # the sink deletes rows outright (Iceberg): no tombstone is
            # left to stop a late older segment re-inserting the key, so
            # advance the persisted horizon to this batch's high-water
            # lsn as soon as a delete commits — such events are dropped
            # as stale instead. While the gate refuses, the gap's
            # deletes stay unguarded until it closes: the honest trade
            # for a tombstone-less sink (an advanced horizon would
            # silently discard the gap's events when they drain).
            if deletes and self._collect_safe(applied, epochs):
                self.table.advance_gc_horizon(last_lsn, epoch=max(epochs))
                self._horizon = max(self._horizon, last_lsn)
                self._horizon_epoch = max(self._horizon_epoch, max(epochs))
        elif (
            # GC cadence rides the table's PERSISTENT snapshot version,
            # not a per-run commit counter: a driver that polls with
            # max_epochs=K < GC_EVERY (or builds a fresh Replayer per
            # poll, jobs/replay_job.py) would reset a local counter
            # every invocation and never GC
            self.gc_tombstones
            and int(res.snapshot_id or 0) % GC_EVERY == 0
            and self._collect_safe(applied, epochs)
        ):
            self._maybe_gc_tombstones()
        phases["maintain"] = monotonic() - t
        # last, as the remainder: the phases sum to this call's wall
        phases["batch_other"] = monotonic() - t0 - sum(phases.values())
        return {
            "epoch": epochs[-1],
            "skipped": False,
            "events": events,
            "stale_dropped": stale_dropped,
            "last_lsn": last_lsn,
            "winners": winners,
            "deletes": deletes,
            "snapshot": res.snapshot_id,
            "buckets_rewritten": res.buckets_rewritten,
            "buckets_compacted": compacted,
            "phases": phases,
        }

    def _collect_safe(self, applied: EpochSet, epochs: list[int]) -> bool:
        """Safety gate of the horizon advance and the GC tick. Epochs
        are lsn-monotone slices applied ascending, so while the IN-BAND
        post-commit ledger is contiguous above gc_horizon_epoch (gaps at
        or below it hold only horizon-dropped events) no un-applied
        event has a lower lsn than an applied one. Out-of-band keys
        (the streaming namespace) label micro-batches, not lsn ranges:
        such commits never move the horizon or GC, and 10^9+ is never
        stamped as the horizon epoch. No metadata round-trip."""
        if any(e >= OUT_OF_BAND_EPOCH_BASE for e in epochs):
            return False
        if self._horizon_epoch is None:
            self._horizon_epoch = self.table.gc_horizon_epoch()
        ledger = EpochSet(applied.ranges, applied.explicit | set(epochs))
        return ledger.contiguous_in_band(above=self._horizon_epoch)

    # -------------------------------------------------------------- run
    def run(
        self,
        log: DataFrame,
        fail_after_epochs: int | None = None,
        batch_epochs: int = 1,
        max_epochs: int | None = None,
    ) -> ReplayMetrics:
        """Replay the whole log; resumable and idempotent: pending
        epochs go ``batch_epochs`` at a time through ``apply_batch``.

        ``fail_after_epochs`` injects a crash after N successful commits
        (test hook for the crash-resume scenario).

        ``max_epochs`` is the bounded-fetch cap (SURVEY.md O4, the
        reference's maxDepth scroll bound, gmaps/job.go:289-357): one
        invocation applies at most the N oldest pending epochs, then
        returns. Because the ledger/checkpoint advance per commit, the
        next invocation resumes exactly where this one stopped — the
        driver-loop analog of a source that fetches K pages per poll.
        """
        m = ReplayMetrics()
        t0 = monotonic()

        done = self.table.applied_epochs()
        epochs = [
            r[0]
            for r in log.select(EPOCH).distinct().orderBy(EPOCH).collect()
        ]
        pending = [e for e in epochs if e not in done]
        m.phases["epoch_listing"] = monotonic() - t0
        m.epochs_skipped = len(epochs) - len(pending)
        if max_epochs is not None:
            pending = pending[:max_epochs]

        for group_start in range(0, len(pending), batch_epochs):
            group = [int(e) for e in pending[group_start : group_start + batch_epochs]]
            batch = log.filter(F.col(EPOCH).isin(group))
            m.add(self.apply_batch(batch, epoch=group), n_epochs=len(group))
            if fail_after_epochs is not None and m.epochs_applied >= fail_after_epochs:
                m.elapsed_sec = monotonic() - t0
                raise InjectedCrash(f"injected crash after {m.epochs_applied} epochs")
        m.elapsed_sec = monotonic() - t0
        return m

    def _maybe_gc_tombstones(self) -> None:
        """Run the tombstone-GC maintenance pass at the replay low-water
        mark, below which no event can reach row-level apply again.
        Behind _collect_safe any applied lsn qualifies; the min
        per-bucket checkpointed last_lsn is the conservative pick."""
        if self._gc_deletes == 0 and self._gc_residue is False:
            # no deletes since the last check AND that check saw no
            # above-the-mark residue: no bucket's eligible tombstone
            # mass can have changed — skip the full-table aggregation.
            # (Either None = unknown prior state: fall through. Residue
            # matters because an advancing low-water mark makes
            # above-mark tombstones eligible without any new delete.)
            return
        ckpt = self._ckpt or {}
        lwm = min((int(r["last_lsn"]) for r in ckpt.values()), default=None)
        if not lwm:
            return
        self._gc_deletes = 0
        stats = self.table.tombstone_stats(before_lsn=lwm)
        self._gc_residue = any(
            s["dead_total"] > s["dead"] for s in stats.values()
        )
        # one plan call carries both legs: the delta-chain thresholds
        # (metadata-only) ride along ONLY when auto-compaction is ON —
        # with auto_compact=False this cadence must be GC-only, or it
        # silently re-enables the compaction the caller turned off —
        # and the tombstone leg reuses the aggregation above (the ratio
        # predicate lives in maintenance_plan, one source of truth).
        todo = self.table.maintenance_plan(delta_legs=self.auto_compact, tombstones=stats)
        if not todo:
            return
        # eligible tombstones in delta-triggered buckets ride the
        # rewrite for free — same pass, same low-water mark
        self.table.compact(buckets=todo, tombstones_before=lwm)
        # the compact commit advanced the persisted horizon to lwm (and
        # may have stamped its epoch); keep the in-process caches in step
        self._horizon = max(self._horizon or 0, lwm)
        self._horizon_epoch = None

    def is_done(self, log: DataFrame) -> bool:
        """exiter.isDone analog: every epoch in the log is in the ledger.

        The applied set is (ranges, sparse explicit) — after a long
        contiguous replay it is ONE integer, so the predicate pushed to
        the scan is a range test plus a small isin, never a 10^7-element
        literal list."""
        done = self.table.applied_epochs()
        if not done:
            return log.select(EPOCH).distinct().count() == 0
        applied = F.lit(False)
        for b, w in done.ranges:
            applied = applied | (
                (F.col(EPOCH) >= F.lit(int(b)))
                & (F.col(EPOCH) < F.lit(int(w)))
            )
        if done.explicit:
            applied = applied | F.col(EPOCH).isin([int(e) for e in done.explicit])
        remaining = log.select(EPOCH).distinct().filter(~applied).count()
        return remaining == 0


