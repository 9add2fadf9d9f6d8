"""Property-based testing (hypothesis): arbitrary op sequences replayed
through the engine must equal the oracle — beyond the seeded fixtures."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_gmaps_spark.operators.lww import batch_replay
from etl_gmaps_spark.oracle import replay_oracle

KEYS = [f"doc-{i:08d}" for i in range(6)]  # few keys → dense op collisions

event = st.tuples(
    st.sampled_from(KEYS),
    st.sampled_from(["I", "U", "D"]),
    st.lists(st.integers(0, 50256), min_size=1, max_size=6),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(event, min_size=1, max_size=40), st.randoms())
def test_random_op_sequences_match_oracle(spark_session_holder, events, rnd):
    spark = spark_session_holder
    rows = []
    for lsn, (doc, op, toks) in enumerate(events, start=1):
        if op == "D":
            rows.append((lsn, lsn // 10, op, doc, None, None, None))
        else:
            rows.append((lsn, lsn // 10, op, doc, toks, len(toks), "web"))
    rnd.shuffle(rows)  # storage order != lsn order
    pdf = pd.DataFrame(
        rows, columns=["lsn", "epoch", "op", "doc_id", "tokens", "n_tok", "source"]
    )
    log = spark.createDataFrame(
        pdf,
        "lsn long, epoch long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    got = batch_replay(None, log).toPandas()
    want = replay_oracle(None, pdf)
    got["tokens"] = got["tokens"].map(lambda v: None if v is None else tuple(v))
    want["tokens"] = want["tokens"].map(lambda v: None if v is None else tuple(v))
    got = got.sort_values("doc_id").reset_index(drop=True)[sorted(got.columns)]
    want = want.sort_values("doc_id").reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# hypothesis can't take pytest fixtures directly as given() args; shim it
import pytest  # noqa: E402


@pytest.fixture(name="spark_session_holder")
def _holder(spark):
    return spark


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(event, min_size=1, max_size=30),
    st.sampled_from(["cow", "mor"]),
    st.integers(min_value=1, max_value=3),
    st.randoms(),
)
def test_random_streams_through_full_engine(
    spark_session_holder, events, merge_mode, batch_epochs, rnd
):
    """End-to-end property: arbitrary op streams through the REAL table
    engine (SnapshotTable commits + Replayer loop) in both merge modes
    and with random commit grouping equal the oracle, and a full re-run
    of the same log is a no-op (epoch-ledger idempotence)."""
    import shutil
    import tempfile

    from etl_gmaps_spark.schemas import TARGET_SCHEMA
    from etl_gmaps_spark.streaming.replay import Replayer
    from etl_gmaps_spark.tableio import SnapshotTable

    spark = spark_session_holder
    rows = []
    for lsn, (doc, op, toks) in enumerate(events, start=1):
        if op == "D":
            rows.append((lsn, lsn // 10, op, doc, None, None, None))
        else:
            rows.append((lsn, lsn // 10, op, doc, toks, len(toks), "web"))
    rnd.shuffle(rows)
    pdf = pd.DataFrame(
        rows, columns=["lsn", "epoch", "op", "doc_id", "tokens", "n_tok", "source"]
    )
    # engine log schema carries an event timestamp (CHANGELOG_SCHEMA);
    # deterministic from lsn so replays are bit-identical
    pdf["ts"] = pd.to_datetime(pdf["lsn"], unit="s", utc=True)
    log = spark.createDataFrame(
        pdf,
        "lsn long, epoch long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string, ts timestamp",
    )
    want = replay_oracle(None, pdf.drop(columns=["ts"]))
    want = want.sort_values("doc_id").reset_index(drop=True)
    workdir = tempfile.mkdtemp(prefix="prop_engine_")
    try:
        table = SnapshotTable.create(
            spark, f"{workdir}/t", TARGET_SCHEMA, n_buckets=4, merge_mode=merge_mode
        )
        m1 = Replayer(table).run(log, batch_epochs=batch_epochs)
        assert m1.events_processed == len(rows)
        v1 = table._current_version()

        def state() -> pd.DataFrame:
            got = table.read().toPandas().sort_values("doc_id").reset_index(drop=True)
            got["tokens"] = got["tokens"].map(
                lambda v: None if v is None else tuple(v)
            )
            return got[sorted(got.columns)]

        w = want.copy()
        w["tokens"] = w["tokens"].map(lambda v: None if v is None else tuple(v))
        pd.testing.assert_frame_equal(state(), w[sorted(w.columns)], check_dtype=False)
        # idempotent re-run: every epoch already in the ledger
        m2 = Replayer(table).run(log, batch_epochs=batch_epochs)
        assert m2.events_processed == 0
        assert table._current_version() == v1
        pd.testing.assert_frame_equal(state(), w[sorted(w.columns)], check_dtype=False)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(event, min_size=4, max_size=30),
    st.lists(
        st.sampled_from(["compact", "maintain", "expire", "noop"]),
        min_size=1,
        max_size=4,
    ),
    st.randoms(),
)
def test_random_maintenance_interleavings_preserve_state(
    spark_session_holder, events, maintenance_ops, rnd
):
    """Round-4 property: arbitrary interleavings of the table's
    maintenance surface (threshold maintain(), full compact(), snapshot
    expiry, nothing) BETWEEN commits of a merge-on-read replay must
    never change the observable state — the final table equals the
    oracle, and a fresh handle on the same root reads the same rows."""
    import shutil
    import tempfile

    from etl_gmaps_spark.schemas import TARGET_SCHEMA
    from etl_gmaps_spark.streaming.replay import Replayer
    from etl_gmaps_spark.tableio import SnapshotTable, snapshot_table

    spark = spark_session_holder
    rows = []
    for lsn, (doc, op, toks) in enumerate(events, start=1):
        if op == "D":
            rows.append((lsn, lsn // 10, op, doc, None, None, None))
        else:
            rows.append((lsn, lsn // 10, op, doc, toks, len(toks), "web"))
    rnd.shuffle(rows)
    pdf = pd.DataFrame(
        rows, columns=["lsn", "epoch", "op", "doc_id", "tokens", "n_tok", "source"]
    )
    pdf["ts"] = pd.to_datetime(pdf["lsn"], unit="s", utc=True)
    log = spark.createDataFrame(
        pdf,
        "lsn long, epoch long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string, ts timestamp",
    )
    want = replay_oracle(None, pdf.drop(columns=["ts"]))
    want = want.sort_values("doc_id").reset_index(drop=True)
    want["tokens"] = want["tokens"].map(lambda v: None if v is None else tuple(v))
    workdir = tempfile.mkdtemp(prefix="prop_maint_")
    try:
        table = SnapshotTable.create(
            spark, f"{workdir}/t", TARGET_SCHEMA, n_buckets=4, merge_mode="mor"
        )
        r = Replayer(table, auto_compact=False)  # interleave explicitly instead
        epochs = sorted(pdf["epoch"].unique())
        for i, e in enumerate(epochs):
            r.apply_batch(log.filter(log.epoch == int(e)), epoch=int(e))
            op = maintenance_ops[i % len(maintenance_ops)]
            if op == "compact":
                table.compact()
            elif op == "maintain":
                with pytest.MonkeyPatch.context() as mp:
                    mp.setattr(snapshot_table, "COMPACT_MAX_CHAIN", 2)
                    mp.setattr(snapshot_table, "COMPACT_MAX_DELTA_RATIO", 0.1)
                    table.maintain()
            elif op == "expire":
                table.expire_snapshots(keep_last=2)
        got = table.read().toPandas().sort_values("doc_id").reset_index(drop=True)
        got["tokens"] = got["tokens"].map(lambda v: None if v is None else tuple(v))
        pd.testing.assert_frame_equal(
            got[sorted(got.columns)], want[sorted(want.columns)], check_dtype=False
        )
        # a fresh handle (new process analog) resolves to the same state
        again = SnapshotTable(spark, f"{workdir}/t").read().count()
        assert again == len(want)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
