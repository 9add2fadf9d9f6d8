"""Reference state and correctness gate.

The reference is computed here with pyarrow/NumPy, independently of the
engine: the base rows (lsn 0) and every log event are sorted by
(doc_id, lsn desc), the first row per key wins, and keys whose winner is
a delete are dropped. Duplicate log lsns (replayed epochs) apply once.
``test_cdcbench.py`` checks this function against
``etl_gmaps_spark.oracle.replay_oracle`` on a small log.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

COLS = ("doc_id", "tokens", "n_tok", "source")
SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ]
)


def _canon(t: pa.Table) -> pa.Table:
    t = t.select(list(COLS)).cast(SCHEMA)
    return t.take(pc.sort_indices(t, sort_keys=[("doc_id", "ascending")])).combine_chunks()


def reference_state(base: pa.Table | None, log: pa.Table) -> pa.Table:
    """Final table after applying ``log`` over ``base`` by last-writer-wins."""
    log = log.select(["lsn", "op", *COLS]).cast(
        pa.schema([pa.field("lsn", pa.int64()), pa.field("op", pa.string()), *SCHEMA])
    )
    _, first = np.unique(log.column("lsn").to_numpy(), return_index=True)
    log = log.take(pa.array(np.sort(first)))
    parts = [log]
    if base is not None:
        b = _canon(base)
        parts.append(
            pa.table(
                {
                    "lsn": pa.array(np.zeros(b.num_rows, dtype=np.int64)),
                    "op": pa.array(["U"] * b.num_rows, type=pa.string()),
                    **{c: b.column(c) for c in COLS},
                }
            )
        )
    allrows = pa.concat_tables(parts)
    order = pc.sort_indices(allrows, sort_keys=[("doc_id", "ascending"), ("lsn", "descending")])
    ordered = allrows.take(order)
    keys = ordered.column("doc_id").to_numpy(zero_copy_only=False)
    first_of_key = np.ones(len(keys), dtype=bool)
    first_of_key[1:] = keys[1:] != keys[:-1]
    winners = ordered.filter(pa.array(first_of_key))
    live = winners.filter(pc.not_equal(winners.column("op"), "D"))
    return _canon(live)


def token_sum(t: pa.Table) -> int:
    s = pc.sum(pc.list_flatten(t.column("tokens"))).as_py()
    return int(s or 0)


def mismatched_rows(expected: pa.Table, got: pa.Table) -> int:
    """Rows that are missing, extra or different on doc_id, tokens,
    n_tok and source. 0 means the tables hold exactly the same rows."""
    e, g = _canon(expected), _canon(got)
    if e.equals(g):
        return 0

    def rows(t: pa.Table) -> dict:
        return {
            r["doc_id"]: (tuple(r["tokens"] or ()), r["n_tok"], r["source"])
            for r in t.to_pylist()
        }

    er, gr = rows(e), rows(g)
    bad = len(er.keys() ^ gr.keys())
    bad += sum(1 for k in er.keys() & gr.keys() if er[k] != gr[k])
    # duplicate keys in the engine output are mismatches too
    bad += g.num_rows - len(gr)
    return max(bad, 1)
