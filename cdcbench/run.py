"""CDC engine benchmark: one workload, one run, one JSON result line.

Usage, from the repository root:

    python3 cdcbench/run.py --workload stream_mor --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the same
workload with spans around the engine's layer entry points and the Spark
UI on, and prints the per-layer metrics instead. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a ``{"detail": ...}`` object with diagnostics. Everything the run writes
goes under ``.cdcbench_work/`` in the current directory. Workloads and
metrics are described in ``cdcbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backlog_cow", "stream_mor")
CACHE_KEEP = 8  # cached input sets kept (oldest pruned first)


def _prepare_env(work: str) -> None:
    """Keep every file the JVM and PySpark write inside ``work`` and size
    the driver for a small host. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_GRAFT_EXTRA_JAVA"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    # the launcher JVM that spark-submit starts first gets neither option
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # never defer to an outer launcher: this benchmark owns its session
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def _prune_cache(cache: str) -> None:
    if not os.path.isdir(cache):
        return
    entries = sorted(
        (os.path.getmtime(os.path.join(cache, d)), d) for d in os.listdir(cache)
    )
    for _, d in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _install_spans(bench) -> None:
    """Wrap the public entry points of each measured layer."""
    from etl_gmaps_spark import session
    from etl_gmaps_spark.streaming import replay, stream_replay
    from etl_gmaps_spark.tableio import snapshot_table

    t = bench.tracer
    T = snapshot_table.SnapshotTable

    def keep(*fields):
        def on_result(span, out):
            for f in fields:
                v = out.get(f) if isinstance(out, dict) else getattr(out, f, None)
                if v is not None:
                    span.attrs[f] = v
        return on_result

    t.wrap(session, "get_spark", "session.get_spark", jobs=False)
    t.wrap(replay.Replayer, "run", "replay.run")
    t.wrap(replay.Replayer, "apply_batch", "replay.apply_batch",
           on_result=keep("events", "winners", "stale_dropped"))
    t.wrap(stream_replay, "run_availablenow", "stream.run", on_result=keep("micro_batches", "events"))
    t.wrap(T, "create", "table.create")
    t.wrap(T, "merge", "table.merge", on_result=keep("rows_written", "bytes_rewritten"))
    t.wrap(T, "compact", "table.compact", on_result=keep("rows_written", "bytes_rewritten"))
    for name in ("maintain", "tombstone_stats", "read", "read_buckets"):
        t.wrap(T, name, f"table.{name}")
    for name in ("snapshot", "applied_epochs", "checkpoint_rows", "gc_horizon", "gc_horizon_epoch"):
        t.wrap(T, name, f"table.meta.{name}", jobs=False)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_gmaps_spark", "__init__.py")):
        print(f"cdcbench: no etl_gmaps_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(os.getcwd(), ".cdcbench_work")
    _prepare_env(work)
    import gen
    import workloads as wl

    bench = wl.Bench(args.workload, args.seconds, bool(args.trace), os.path.join(work, f"run-{os.getpid()}"))
    os.makedirs(bench.run_dir, exist_ok=True)
    _prune_cache(os.path.join(work, "cache"))
    inputs, gen_s = gen.cached_inputs(
        os.path.join(work, "cache"), args.workload, bench.shape.log, args.seed
    )
    bench.diag["generate_s"] = round(gen_s, 3)

    from etl_gmaps_spark import session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        _install_spans(bench)
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
        bench.tracer.enable()
    ncpu = len(os.sched_getaffinity(0))
    try:
        t0 = time.monotonic()
        bench.spark = session.get_spark("cdcbench", cpus=ncpu, shuffle_partitions=ncpu, extra_conf=conf)
        bench.diag["session_s"] = round(time.monotonic() - t0, 3)
        bench.tracer.disable()
        bench.install_commit_hook()
        metrics = wl.run_workload(bench, inputs)
        metrics["peak_rss_mb"] = (_peak_rss_mb(bench.spark), "MB")
        if args.trace:
            metrics = _traced_metrics(bench)
        bench.diag["calib_s"] = _calibrate(bench.spark, ncpu)
        if args.trace:
            bench.tracer.dump(os.path.join(work, f"spans-{args.workload}.jsonl"))
    finally:
        bench.remove_hooks()
        if bench.spark is not None:
            _stop(bench.spark)
        shutil.rmtree(bench.run_dir, ignore_errors=True)

    bench.diag["error_rate"] = bench.failed / max(1, bench.attempted)
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed, **bench.diag}}))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _stop(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _calibrate(spark, ncpu: int) -> float:
    """Fixed-work noise sentinel (as in bench.py): hash a fixed number of
    int64s per core in one job. A reading far above its usual value marks
    a slow host window."""
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    spark.range(0, 20_000_000 * ncpu, 1, ncpu).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_003)))
    ).collect()
    return round(time.monotonic() - t0, 3)


def _traced_metrics(bench) -> dict:
    import layers
    import stats
    from spans import spark_status

    jobs, stages = spark_status(bench.spark.sparkContext)
    roots: dict[str, list] = {}
    for r in bench.op_spans:
        roots.setdefault(r.attrs["kind"], []).append(r)
    ingest = [(tr, w) for k, tr, w in bench.ops if k == "ingest"]
    walls = {t: [w for tr, w in ingest[1:] if tr == t] for t in (True, False)}
    overhead = (
        stats.median(walls[True]) - stats.median(walls[False])
        if walls[True] and walls[False] else 0.0
    )
    m, detail = layers.layer_metrics(bench.tracer.spans, roots, jobs, stages, bench.gauges, overhead)
    bench.diag["trace"] = {
        **detail,
        "overhead_walls": {"traced": walls[True], "untraced": walls[False]},
    }
    return m


if __name__ == "__main__":
    sys.exit(main())
