"""Self-tests of the benchmark's own logic (no Spark session needed).

Run from the repository root:  python3 -m pytest cdcbench -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer  # noqa: E402

SMALL = gen.LogParams(n_docs=300, n_epochs=3, epoch_size=400, pct_delete=30, hot_keys=3)


def _small_inputs(seed: int = 7) -> tuple[pa.Table, pa.Table]:
    base = gen.base_table(SMALL, seed)
    log = pa.concat_tables([gen.epoch_table(SMALL, seed, e) for e in range(SMALL.n_epochs)])
    return base, log


# ----------------------------------------------------------- percentiles
def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == pytest.approx(2.5)


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = stats.tail(xs)
    assert (pct, n) == (90.0, 100)
    assert sum(1 for x in xs if x > value) >= 10
    assert sum(1 for x in xs if x > stats.percentile(xs, pct + 1)) < 10


def test_tail_falls_back_to_max_on_few_samples():
    assert stats.tail([0.3, 0.1, 0.2]) == (0.3, 100.0, 3)
    # 19 samples: a percentile with ten beyond it would sit below the median
    assert stats.tail([float(i) for i in range(19)]) == (18.0, 100.0, 19)
    with pytest.raises(ValueError):
        stats.tail([])


# ------------------------------------------------------------- self time
def test_self_time_subtracts_union_of_children():
    # children overlap each other and one pokes out of the parent
    children = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert stats.covered(0.0, 10.0, children) == pytest.approx(4.0)
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(6.0)
    assert stats.self_time(0.0, 10.0, []) == pytest.approx(10.0)


def test_self_times_account_for_the_root_wall():
    spans = [
        Span(1, "bench.op", None, 0.0, 10.0),
        Span(2, "replay.run", 1, 1.0, 9.0),
        Span(3, "replay.apply_batch", 2, 2.0, 5.0),
        Span(4, "table.merge", 3, 3.0, 4.5),
        Span(5, "replay.apply_batch", 2, 5.5, 8.0),
    ]
    selfs = layers.self_times(spans)
    assert selfs == pytest.approx({1: 2.0, 2: 2.5, 3: 1.5, 4: 1.5, 5: 2.5})
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_tracer_nests_spans_and_restores_job_group():
    class FakeContext:
        def __init__(self):
            self.props = {"spark.jobGroup.id": "outer"}

        def getLocalProperty(self, k):
            return self.props.get(k)

        def setLocalProperty(self, k, v):
            self.props[k] = v

    sc = FakeContext()
    tracer = Tracer(lambda: sc)

    class Layer:
        def work(self):
            seen.append(sc.props["spark.jobGroup.id"])
            return 1

    seen: list[str] = []
    tracer.wrap(Layer, "work", "layer.work")
    tracer.enable()
    root, restore = tracer.open("bench.op")
    assert Layer().work() == 1
    assert sc.props["spark.jobGroup.id"] == root.group
    tracer.close(root, restore)
    tracer.disable()
    tracer.unwrap_all()
    assert sc.props["spark.jobGroup.id"] == "outer"
    op, work = tracer.spans
    assert work.parent == op.id and seen == [work.group]
    assert Layer.work.__name__ == "work" and Layer().work() == 1


# ------------------------------------------------------------ generation
def test_generation_is_seeded():
    a, b = gen.epoch_table(SMALL, 1, 0), gen.epoch_table(SMALL, 1, 0)
    assert a.equals(b)
    assert not a.equals(gen.epoch_table(SMALL, 2, 0))
    deletes = a.filter(pc.equal(a.column("op"), "D"))
    assert deletes.num_rows > 0 and deletes.column("tokens").null_count == deletes.num_rows


# ------------------------------------------------------ reference and gate
def test_reference_matches_replay_oracle():
    from etl_gmaps_spark.oracle import replay_oracle

    base, log = _small_inputs()
    # a replayed epoch: byte-identical duplicate rows must apply once
    log = pa.concat_tables([log, gen.epoch_table(SMALL, 7, 1)])
    ours = check.reference_state(base, log)
    want = replay_oracle(base.to_pandas(), log.to_pandas())
    want_tbl = pa.Table.from_pandas(want[list(check.COLS)], preserve_index=False)
    assert check.mismatched_rows(ours, want_tbl) == 0
    assert ours.num_rows == len(want)


def test_gate_counts_a_corrupted_row():
    base, log = _small_inputs()
    ref = check.reference_state(base, log)
    assert check.mismatched_rows(ref, ref) == 0

    tokens = ref.column("tokens").to_pylist()
    tokens[5] = [t + 1 for t in tokens[5]]
    bad = ref.set_column(1, "tokens", pa.array(tokens, type=pa.list_(pa.int32())))
    assert check.mismatched_rows(ref, bad) == 1
    assert check.mismatched_rows(ref, ref.slice(1)) == 1  # a missing row
    assert check.mismatched_rows(ref, pa.concat_tables([ref, ref.slice(0, 1)])) >= 1


def test_corrupted_final_state_is_a_failed_operation():
    import workloads

    base, log = _small_inputs()
    ref = check.reference_state(base, log)
    n_tok = ref.column("n_tok").to_pylist()
    n_tok[0] += 1
    bad = ref.set_column(2, "n_tok", pa.array(n_tok, type=pa.int32()))

    bench = workloads.Bench("backlog_cow", 1, False, "unused")
    workloads.check_final(bench, ref, lambda: ref)
    assert (bench.attempted, bench.failed) == (1, 0)
    workloads.check_final(bench, ref, lambda: bad)
    assert (bench.attempted, bench.failed) == (2, 1)
