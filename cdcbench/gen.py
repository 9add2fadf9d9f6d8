"""Seeded input generator for the CDC benchmark.

Builds the target base table and the change log with NumPy (PCG64 seeded
from ``--seed``) and writes them with pyarrow, so generation costs about
a second and needs no Spark job. The shape follows
``etl_gmaps_spark.datagen``: ``doc-%08d`` keys, 1..``max_tok`` token ids
per row, an I/U/D op mix, ``hot_frac`` of events on ``hot_keys`` keys,
inserts that may mint keys past the base range, and rows stored in
scrambled lsn order inside each epoch.

Outputs are cached under ``<cache_root>/<name>-<hash of params>-s<seed>``;
a directory is only reused when its ``_params.json`` matches exactly.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = np.array(["web", "books", "code", "wiki"], dtype=object)
TS0 = 1_700_000_000


@dataclass(frozen=True)
class LogParams:
    n_docs: int
    n_epochs: int
    epoch_size: int
    pct_delete: int = 15
    pct_insert: int = 25
    hot_keys: int = 5
    hot_frac: float = 0.30
    max_tok: int = 64


def _tokens(rng: np.random.Generator, n_tok: np.ndarray) -> pa.ListArray:
    offsets = np.zeros(len(n_tok) + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _keys(nums: np.ndarray) -> pa.Array:
    return pa.array(np.char.mod("doc-%08d", nums).astype(object), type=pa.string())


def base_table(p: LogParams, seed: int) -> pa.Table:
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    n_tok = rng.integers(1, p.max_tok + 1, size=p.n_docs, dtype=np.int32)
    return pa.table(
        {
            "doc_id": _keys(np.arange(p.n_docs)),
            "tokens": _tokens(rng, n_tok),
            "n_tok": pa.array(n_tok, type=pa.int32()),
            "source": pa.array(SOURCES[rng.integers(0, 4, size=p.n_docs)], type=pa.string()),
        }
    )


def epoch_table(p: LogParams, seed: int, epoch: int) -> pa.Table:
    """Events of one epoch (lsns ``epoch*epoch_size+1 ..``), scrambled.

    Each epoch draws from its own PCG64 stream, so an epoch's content
    depends only on (params, seed, epoch)."""
    rng = np.random.Generator(np.random.PCG64([seed, 2, epoch]))
    n = p.epoch_size
    lsn = np.arange(epoch * n + 1, (epoch + 1) * n + 1, dtype=np.int64)
    r_op = rng.integers(0, 100, size=n)
    op = np.where(
        r_op < p.pct_insert, "I", np.where(r_op < 100 - p.pct_delete, "U", "D")
    ).astype(object)
    hot = rng.random(n) < p.hot_frac
    new_space = p.n_docs + p.n_docs // 2
    doc = np.where(
        hot,
        rng.integers(0, p.hot_keys, size=n),
        np.where(op == "I", rng.integers(0, new_space, size=n), rng.integers(0, p.n_docs, size=n)),
    )
    is_del = op == "D"
    n_tok = rng.integers(1, p.max_tok + 1, size=n, dtype=np.int32)
    n_tok_live = np.where(is_del, 0, n_tok).astype(np.int32)
    tokens = _tokens(rng, n_tok_live)
    # deletes carry no payload: null tokens / n_tok / source
    mask = pa.array(is_del)
    tokens = pa.ListArray.from_arrays(tokens.offsets, tokens.values, mask=mask)
    source = SOURCES[rng.integers(0, 4, size=n)].copy()
    source[is_del] = None
    tbl = pa.table(
        {
            "lsn": pa.array(lsn),
            "op": pa.array(op, type=pa.string()),
            "doc_id": _keys(doc),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, type=pa.int32(), mask=is_del),
            "source": pa.array(source, type=pa.string()),
            "ts": pa.array((TS0 + lsn) * 1_000_000, type=pa.timestamp("us", tz="UTC")),
        }
    )
    return tbl.take(pa.array(rng.permutation(n)))


def log_bytes(log_dir: str, epochs: list[int]) -> int:
    total = 0
    for e in epochs:
        d = os.path.join(log_dir, f"epoch={e}")
        total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet"))
    return total


def cached_inputs(cache_root: str, name: str, p: LogParams, seed: int) -> tuple[dict, float]:
    """Return ({"base", "log", "warm_log": path}, seconds spent generating).

    The log is hive-partitioned by epoch (``log/epoch=K/part-0.parquet``,
    one file per epoch) so a batch replay prunes to its slice and a file
    stream with ``maxFilesPerTrigger=1`` sees one epoch per micro-batch.
    Seconds are 0.0 on a cache hit."""
    import time

    params = {"name": name, "seed": seed, **asdict(p)}
    digest = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:10]
    root = os.path.join(cache_root, f"{name}-{digest}-s{seed}")
    paths = {
        "base": os.path.join(root, "base"),
        "log": os.path.join(root, "log"),
        # epoch 0 alone: the source of the warm-up operation
        "warm_log": os.path.join(root, "warm_log"),
    }
    marker = os.path.join(root, "_params.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            if json.load(fh) == params:
                return paths, 0.0
    t0 = time.monotonic()
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(paths["base"])
    pq.write_table(base_table(p, seed), os.path.join(paths["base"], "part-0.parquet"))
    for e in range(p.n_epochs):
        d = os.path.join(paths["log"], f"epoch={e}")
        os.makedirs(d)
        pq.write_table(epoch_table(p, seed, e), os.path.join(d, "part-0.parquet"))
    shutil.copytree(os.path.join(paths["log"], "epoch=0"), os.path.join(paths["warm_log"], "epoch=0"))
    with open(marker, "w") as fh:
        json.dump(params, fh)
    return paths, time.monotonic() - t0


def read_log(log_dir: str, epochs: list[int]) -> pa.Table:
    parts = []
    for e in epochs:
        t = pq.read_table(os.path.join(log_dir, f"epoch={e}", "part-0.parquet"))
        parts.append(t.append_column("epoch", pa.array(np.full(t.num_rows, e, dtype=np.int64))))
    return pa.concat_tables(parts)
