"""Per-layer metrics of the traced run, from spans and Spark status.

Ingest figures are per traced ingest operation (one replay of the whole
log), except the ``*_per_commit`` ratios: times are inclusive (``.s``)
or exclusive of child spans (``.self_s``); bytes come from the completed
stages of the jobs whose job group is the span's own. Read figures are
per traced read-back operation: ``table.read.*`` per full scan,
``table.read_buckets.*`` per bucket lookup. A read operation is the
engine call plus the action that consumes its lazy result, so its wall
is the read layer's whole cost.
"""

from __future__ import annotations

from collections import defaultdict

import stats
from spans import Span

META = "table.meta."


def self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return {
        s.id: stats.self_time(s.start, s.end, [(c.start, c.end) for c in kids.get(s.id, [])])
        for s in spans
    }


class Subtree:
    """The spans under a set of root spans, with their Spark jobs."""

    def __init__(self, spans: list[Span], roots: list[Span], jobs: list[dict], stages: dict):
        by_id = {s.id: s for s in spans}
        root_ids = {r.id for r in roots}

        def rooted(s: Span | None) -> bool:
            while s is not None:
                if s.id in root_ids:
                    return True
                s = by_id.get(s.parent) if s.parent is not None else None
            return False

        self.spans = [s for s in spans if rooted(s)]
        self.n = max(1, len(roots))
        self.wall = sum(r.end - r.start for r in roots) / self.n
        self.selfs = self_times(self.spans)
        self.stages = stages
        group_span = {s.group: s for s in self.spans if s.group}
        self.jobs: dict[str, list[dict]] = defaultdict(list)
        for j in jobs:
            s = group_span.get(j.get("jobGroup"))
            if s is not None:
                self.jobs[s.name].append(j)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name)) / self.n

    def self_total(self, name: str) -> float:
        return sum(self.selfs[s.id] for s in self.named(name)) / self.n

    def count(self, name: str) -> float:
        return len(self.named(name)) / self.n

    def attr(self, names: tuple[str, ...], key: str) -> float:
        return sum(s.attrs.get(key, 0) for n in names for s in self.named(n)) / self.n

    def n_jobs(self) -> int:
        return sum(len(js) for js in self.jobs.values())

    def _stages(self, names):
        for name in names:
            for j in self.jobs.get(name, []):
                for sid in j.get("stageIds", []):
                    st = self.stages.get((sid, 0))
                    if st is not None and st.get("status") == "COMPLETE":
                        yield st

    def stage_sum(self, key: str, *names: str) -> float:
        names = names or tuple(self.jobs)
        return sum(st.get(key, 0) or 0 for st in self._stages(names)) / self.n

    def task_skew(self, name: str) -> float:
        """Sum of per-stage max task time over sum of per-stage median
        task time, over the span's stages with two or more tasks."""
        top = mid = 0.0
        for st in self._stages([name]):
            q = (st.get("taskMetricsDistributions") or {}).get("executorRunTime")
            if st.get("numTasks", 0) >= 2 and q:
                mid += q[0]
                top += q[-1]
        return top / mid if mid else 0.0


def layer_metrics(
    spans: list[Span],
    roots: dict[str, list[Span]],
    jobs: list[dict],
    stages: dict[tuple[int, int], dict],
    gauges: list[dict],
    overhead_s: float,
) -> tuple[dict[str, tuple[float, str]], dict]:
    """Return (per-layer metrics, accounting detail). ``roots`` maps an
    operation kind (``ingest``, ``scan``, ``lookup``) to the root spans
    of its traced operations."""
    ing = Subtree(spans, roots.get("ingest", []), jobs, stages)
    scans = Subtree(spans, roots.get("scan", []), jobs, stages)
    looks = Subtree(spans, roots.get("lookup", []), jobs, stages)
    session = [s for s in spans if s.name == "session.get_spark"]

    commits = ing.count("table.merge")
    events_in = ing.attr(("replay.apply_batch",), "events")
    winners = ing.attr(("replay.apply_batch",), "winners")
    by_id = {s.id: s for s in ing.spans}
    meta_outer = [
        s for s in ing.spans
        if s.name.startswith(META)
        and not (s.parent in by_id and by_id[s.parent].name.startswith(META))
    ]

    def per_commit(x: float) -> float:
        return x / commits if commits else 0.0

    m = {
        "session.get_spark.s": (sum(s.end - s.start for s in session), "s"),
        "replay.run.self_s": (ing.self_total("replay.run"), "s"),
        "replay.apply_batch.s": (ing.total("replay.apply_batch"), "s"),
        "replay.apply_batch.self_s": (ing.self_total("replay.apply_batch"), "s"),
        "replay.apply_batch.shuffle_bytes": (ing.stage_sum("shuffleWriteBytes", "replay.apply_batch"), "bytes"),
        "replay.apply_batch.task_skew": (ing.task_skew("replay.apply_batch"), "ratio"),
        "replay.jobs_per_commit": (per_commit(ing.n_jobs() / ing.n), "count"),
        "replay.events_in": (events_in, "count"),
        "replay.winners_out": (winners, "count"),
        "replay.reduce_ratio": (winners / events_in if events_in else 0.0, "ratio"),
        "replay.stale_dropped": (ing.attr(("replay.apply_batch",), "stale_dropped"), "count"),
        "table.merge.s": (ing.total("table.merge"), "s"),
        "table.merge.self_s": (ing.self_total("table.merge"), "s"),
        "table.merge.shuffle_bytes": (ing.stage_sum("shuffleWriteBytes", "table.merge"), "bytes"),
        "table.merge.spill_bytes": (ing.stage_sum("diskBytesSpilled", "table.merge"), "bytes"),
        "table.rows_written": (ing.attr(("table.merge", "table.compact"), "rows_written"), "count"),
        "table.bytes_written": (ing.attr(("table.merge", "table.compact"), "bytes_rewritten"), "bytes"),
        "table.meta.calls_per_commit": (per_commit(len(meta_outer) / ing.n), "count"),
        "table.meta.s": (sum(s.end - s.start for s in meta_outer) / ing.n, "s"),
        "table.maintain.s": (ing.total("table.maintain"), "s"),
        "table.compact.s": (ing.total("table.compact"), "s"),
        "table.compact.calls": (ing.count("table.compact"), "count"),
        "table.delta_chain_max": (max((g["delta_chain_max"] for g in gauges), default=0), "count"),
        "table.files_live": (gauges[-1]["files_live"] if gauges else 0, "count"),
        "table.read.s": (scans.wall, "s"),
        "table.read.shuffle_bytes": (scans.stage_sum("shuffleWriteBytes"), "bytes"),
        "table.read_buckets.s": (looks.wall, "s"),
        "stream.run.self_s": (ing.self_total("stream.run"), "s"),
        "stream.micro_batches": (ing.attr(("stream.run",), "micro_batches"), "count"),
        "trace.op_wall_s": (ing.wall, "s"),
        "trace.unspanned_s": (ing.self_total("bench.op"), "s"),
        "trace.overhead_s": (overhead_s, "s"),
    }
    # accounting: the self times of all spans under the traced ingest
    # operations, the unspanned remainder (bench.op) included, add up to
    # the operations' wall time
    per_name: dict[str, float] = defaultdict(float)
    for s in ing.spans:
        per_name[s.name] += ing.selfs[s.id] / ing.n
    detail = {
        "traced_ops": {k: len(v) for k, v in roots.items()},
        "spans": len(ing.spans),
        "jobs": ing.n_jobs(),
        "self_s_by_layer": {k: round(v, 4) for k, v in sorted(per_name.items())},
        "self_sum_s": round(sum(per_name.values()), 4),
        "op_wall_s": round(ing.wall, 4),
    }
    return m, detail
