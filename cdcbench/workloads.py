"""The CDC benchmark workloads and the harness they share.

Every workload is a closed loop with one caller: the next commit or read
starts when the previous one returns. Each run has three parts:

* set-up (``setup_s``): session start, three table bootstraps (median
  kept) and one untimed warm-up operation (epoch 0, a scan and a
  lookup) on the first of them;
* the measured window of ``--seconds``: the workload's own loop, after
  which every workload reads its resulting tables back (a full scan of
  each and ``LOOKUPS`` bucket lookups on the last one);
* checks outside the timed window: the final table against the
  reference state, row for row.

See README.md for why each workload exists and which layer it loads.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import stats
from spans import Span, Tracer

N_BUCKETS = 8
LOOKUPS = 4  # buckets 0..3 of the last table
# no new ingest operation starts after this many seconds of the run, so
# the slowest traced run still ends well inside its 180 s limit
DEADLINE_S = 100


@dataclass(frozen=True)
class Shape:
    log: gen.LogParams
    merge_mode: str


SHAPES = {
    "backlog_cow": Shape(gen.LogParams(n_docs=50_000, n_epochs=2, epoch_size=60_000), "cow"),
    "stream_mor": Shape(
        gen.LogParams(n_docs=20_000, n_epochs=3, epoch_size=19_000, pct_delete=40), "mor"
    ),
}


class Bench:
    """State of one benchmark run: counters, timings and the tracer."""

    def __init__(self, workload: str, seconds: int, traced: bool, run_dir: str):
        self.t_start = time.monotonic()
        self.workload = workload
        self.shape = SHAPES[workload]
        self.seconds = seconds
        self.traced = traced
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.diag: dict = {}
        self.commit_marks: list[float] = []
        self.ops: list[tuple[str, bool, float]] = []  # (kind, traced, wall seconds)
        self.op_spans: list[Span] = []
        self.gauges: list[dict] = []
        self.spark = None
        self.tracer = Tracer(self._sc)
        self._n_tables = 0
        self._n_ckpts = 0
        self._merge_orig = None

    # ------------------------------------------------------------ basics
    def _sc(self):
        return self.spark.sparkContext if self.spark is not None else None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"[cdcbench] FAILED {what}: {detail}", file=sys.stderr, flush=True)

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failed attempt."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # a benchmark run must survive and report failures
            self.fail(what, traceback.format_exc())
            return None

    def install_commit_hook(self) -> None:
        """Record when each commit becomes visible (``merge`` returns) and
        count every commit as an attempted operation."""
        from etl_gmaps_spark.tableio.snapshot_table import SnapshotTable

        orig = SnapshotTable.__dict__["merge"]
        bench = self

        def merge(table, *args, **kwargs):
            bench.attempted += 1
            try:
                out = orig(table, *args, **kwargs)
            except Exception:
                bench.fail("commit", traceback.format_exc())
                raise
            bench.commit_marks.append(time.monotonic())
            return out

        SnapshotTable.merge = merge
        self._merge_orig = orig

    def remove_hooks(self) -> None:
        """Undo the commit hook, then the spans (installed before it)."""
        if self._merge_orig is not None:
            from etl_gmaps_spark.tableio.snapshot_table import SnapshotTable

            SnapshotTable.merge = self._merge_orig
        self.tracer.unwrap_all()

    # ------------------------------------------------------------ tables
    def new_table(self, base_df):
        from etl_gmaps_spark.schemas import TARGET_SCHEMA
        from etl_gmaps_spark.tableio import SnapshotTable

        self._n_tables += 1
        return SnapshotTable.create(
            self.spark,
            self.path(f"t{self._n_tables}"),
            TARGET_SCHEMA,
            n_buckets=N_BUCKETS,
            base_df=base_df,
            merge_mode=self.shape.merge_mode,
        )

    def live_bytes(self, table) -> int:
        return sum(os.path.getsize(f) for fl in table.files_map().values() for f in fl)

    def written_bytes(self, table) -> int:
        """Bytes written by data and compaction commits (the ledger)."""
        props = table.snapshot()["properties"]
        rolled = (props.get("commits_rollup") or {}).get("bytes_rewritten", 0)
        return rolled + sum(c.get("bytes_rewritten", 0) for c in props.get("commits", []))

    def gauge(self, table) -> None:
        # _resolve: the manifest view, base and delta files per bucket
        chains = [len(e.get("deltas", [])) for e in table._resolve(table.snapshot()).values()]
        self.gauges.append(
            {
                "delta_chain_max": max(chains, default=0),
                "files_live": sum(len(fl) for fl in table.files_map().values()),
            }
        )

    # ------------------------------------------------------- operations
    def timed_op(self, kind: str, fn, *args):
        """One closed-loop operation. In the traced run, operations of
        each kind alternate between untraced and traced, starting
        untraced, so the difference of their walls is the tracing
        overhead."""
        traced = self.traced and sum(1 for k, _, _ in self.ops if k == kind) % 2 == 1
        if traced:
            self.tracer.enable()
            root, restore = self.tracer.open("bench.op")
            root.attrs["kind"] = kind
        t0 = time.monotonic()
        try:
            return fn(*args)
        finally:
            wall = time.monotonic() - t0
            if traced:
                self.tracer.close(root, restore)
                self.tracer.disable()
                self.op_spans.append(root)
            self.ops.append((kind, traced, wall))

    def ingest(self, run_fn) -> dict:
        """Run one ingest operation; return its wall and commit intervals.

        Commits are counted by the commit hook; an exception outside a
        commit counts as one more failed operation."""
        first, failed_before = len(self.commit_marks), self.failed
        t0 = time.monotonic()
        try:
            out = self.timed_op("ingest", run_fn)
        except Exception:  # counted, and the run goes on to report it
            if self.failed == failed_before:
                self.attempted += 1
                self.fail("ingest", traceback.format_exc())
            out = None
        t1 = time.monotonic()
        marks = self.commit_marks[first:]
        intervals = [b - a for a, b in zip([t0] + marks[:-1], marks)]
        return {"wall": t1 - t0, "intervals": intervals, "out": out, "traced": self.ops[-1][1]}


# ------------------------------------------------------------------ reads
def _count_and_tokens(df):
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x)).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def scan(table) -> tuple[int, int]:
    """Full scan, as a training loader would: row count and token checksum."""
    return _count_and_tokens(table.read())


def lookup(table, bucket: int) -> tuple[int, int]:
    """Live rows of one bucket: row count and token checksum."""
    from pyspark.sql import functions as F
    from etl_gmaps_spark.tableio.snapshot_table import DELETED_COL

    live = table.read_buckets([bucket]).filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
    return _count_and_tokens(live)


class Reads:
    """Timed reads, each checked against the reference: a scan must
    return the reference's row count and token sum, a lookup those of
    its bucket (grouped by Spark from the reference rows)."""

    def __init__(self, bench: Bench, ref: pa.Table, ref_path: str):
        from etl_gmaps_spark.tableio.snapshot_table import bucket_expr

        self.b = bench
        self.scan_s: list[float] = []
        self.lookup_s: list[float] = []
        self.want_scan = (ref.num_rows, check.token_sum(ref))
        self.want_bucket = _count_and_tokens_by(
            bench.spark.read.parquet(ref_path), bucket_expr("doc_id", N_BUCKETS)
        )

    def _run(self, kind: str, fn, want, into: list[float]) -> None:
        t0 = time.monotonic()
        got = self.b.attempt(kind, self.b.timed_op, kind, fn)
        if got is None:
            return
        into.append(time.monotonic() - t0)
        if got != want:
            self.b.fail(kind, f"got (rows, token sum) {got}, want {want}")

    def scan(self, table) -> None:
        self._run("scan", lambda: scan(table), self.want_scan, self.scan_s)

    def lookup(self, table, b: int) -> None:
        self._run("lookup", lambda: lookup(table, b), self.want_bucket.get(b, (0, 0)), self.lookup_s)


def _count_and_tokens_by(df, key) -> dict[int, tuple[int, int]]:
    from pyspark.sql import functions as F

    rows = (
        df.groupBy(key.alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x)).alias("s"),
        )
        .collect()
    )
    return {int(r["k"]): (int(r["n"]), int(r["s"] or 0)) for r in rows}


# --------------------------------------------------------------- workloads
def run_workload(bench: Bench, inputs: dict) -> dict:
    """Set up, run the window, read back and check. Returns
    ``{metric: (value, unit)}`` for every end-to-end metric."""
    from etl_gmaps_spark.tableio import SnapshotTable

    spark = bench.spark
    shape = bench.shape
    base_df = spark.read.parquet(inputs["base"])
    log_df = spark.read.parquet(inputs["log"])

    # ---- set-up: three bootstraps (median kept), one warm-up operation
    # (epoch 0 through the ingest path, a scan and a lookup, on the first
    # table)
    boots, pool = [], []
    for _ in range(3):
        t0 = time.monotonic()
        pool.append(bench.new_table(base_df))
        boots.append(time.monotonic() - t0)
    epochs = list(range(shape.log.n_epochs))
    t0 = time.monotonic()
    warm = pool.pop(0)
    _apply(bench, warm, spark.read.parquet(inputs["warm_log"]), inputs["warm_log"])
    scan(warm)
    lookup(warm, 0)
    warm_s = time.monotonic() - t0
    bench.diag.update(bootstrap_s=[round(x, 3) for x in boots], warmup_s=round(warm_s, 3))
    setup_s = bench.diag["session_s"] + stats.median(boots) + warm_s

    # ---- measured window: the whole log, repeated on fresh tables
    ops: list[dict] = []  # one per ingest operation: its table and result
    t_window = time.monotonic()
    while True:
        tbl = pool.pop(0) if pool else bench.new_table(base_df)
        c = bench.ingest(lambda: _apply(bench, tbl, log_df, inputs["log"]))
        ops.append({**c, "table": tbl})
        if c["traced"]:
            bench.gauge(tbl)
        # the traced run needs an untraced, a traced and another
        # untraced operation: the first one still pays some cold JIT
        enough = len(ops) >= (3 if bench.traced else 1)
        if time.monotonic() - t_window >= bench.seconds and enough:
            break
        # a slow host must not push the run past its time limit
        if time.monotonic() - bench.t_start > DEADLINE_S and len(ops) >= 2:
            break
    bench.diag["ingest_window_s"] = round(time.monotonic() - t_window, 3)

    # ---- reference state (untimed): every operation applied the same log
    t0 = time.monotonic()
    ref = check.reference_state(pq.read_table(inputs["base"]), gen.read_log(inputs["log"], epochs))
    ref_path = bench.path("ref.parquet")
    pq.write_table(ref, ref_path)
    reads = Reads(bench, ref, ref_path)
    bench.diag["reference_s"] = round(time.monotonic() - t0, 3)

    # ---- read-back: a scan of every resulting table, lookups on the last
    t_reads = time.monotonic()
    for op in ops:
        reads.scan(op["table"])
    last = ops[-1]["table"]
    for b in range(LOOKUPS):
        reads.lookup(last, b)
    bench.diag["read_window_s"] = round(time.monotonic() - t_reads, 3)

    # ---- final-state check, row for row (untimed)
    check_final(bench, ref, lambda: last.read().select(*check.COLS).toArrow())

    # space amplification: live bytes over the same state written fresh
    fresh = SnapshotTable.create(
        spark, bench.path("fresh"), last.schema(), n_buckets=N_BUCKETS,
        base_df=spark.read.parquet(ref_path), merge_mode="cow",
    )
    space_amp = bench.live_bytes(last) / max(1, bench.live_bytes(fresh))
    log_bytes = gen.log_bytes(inputs["log"], epochs)
    write_amp = bench.written_bytes(last) / max(1, log_bytes)

    # ---- summary
    events = [_events(op["out"]) for op in ops]
    events_per_s = stats.median([e / op["wall"] for e, op in zip(events, ops)])
    intervals = [x for op in ops for x in op["intervals"]]
    # tails and read latencies go to the detail line: a run yields too
    # few commits and lookups for a percentile with ten samples beyond
    # it, and the reads spread too widely across runs to carry a bound
    # (see README)
    c_tail, c_pct, c_n = stats.tail(intervals)
    l_tail, l_pct, l_n = stats.tail(reads.lookup_s)
    bench.diag.update(
        ingest_ops=len(ops),
        ingest_walls=[round(op["wall"], 3) for op in ops],
        commits=c_n,
        commit_tail_s=round(c_tail, 3),
        commit_tail_pct=round(c_pct, 1),
        scans=len(reads.scan_s),
        scan_p50_s=round(stats.median(reads.scan_s), 3),
        lookups=l_n,
        lookup_p50_s=round(stats.median(reads.lookup_s), 3),
        lookup_tail_s=round(l_tail, 3),
        lookup_tail_pct=round(l_pct, 1),
        events=sum(events),
        log_bytes=log_bytes,
        compactions=sum(
            1 for c in last.snapshot()["properties"].get("commits", []) if c.get("kind") == "compact"
        ),
    )
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (events_per_s, "1/s"),
        "commit_p50_s": (stats.median(intervals), "s"),
        "write_amp": (write_amp, "ratio"),
        "space_amp": (space_amp, "ratio"),
    }


def check_final(bench: Bench, ref: pa.Table, read) -> None:
    """One final-state check: ``read()`` must return exactly the
    reference rows. An exception or any differing row is a failure."""
    got = bench.attempt("final-state read", read)
    if got is not None:
        bad = check.mismatched_rows(ref, got)
        if bad:
            bench.fail("final-state check", f"{bad} rows differ from the reference")


def _events(out) -> int:
    if out is None:
        return 0
    if isinstance(out, dict):  # run_availablenow
        return int(out.get("events", 0))
    return int(out.events_processed)  # ReplayMetrics


def _apply(bench: Bench, table, log_df, log_dir: str):
    """Apply the whole log to ``table`` through the workload's ingest
    path: ``Replayer.run``, or ``run_availablenow`` over ``log_dir``."""
    from etl_gmaps_spark.streaming import stream_replay
    from etl_gmaps_spark.streaming.replay import Replayer

    if bench.workload == "stream_mor":
        bench._n_ckpts += 1
        return stream_replay.run_availablenow(
            bench.spark,
            log_dir,
            table,
            bench.path(f"ckpt-{bench._n_ckpts}"),
            schema=log_df.schema,
            max_files_per_trigger=1,
        )
    return Replayer(table).run(log_df)
