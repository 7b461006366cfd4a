"""Seeded input generator for the benchmark workloads.

The rows follow the tokens-table shape the engine is built for
(``doc_id:string, tokens:array<int32>, n_tok:int32, source:string``), but
the generator lives here so that a change to ``plc/data.py`` cannot change
what the benchmark feeds the engine. The same (workload, seed) always gives
the same rows.

Stored doc ids are ``<prefix>-<even number>``. An odd number between two
stored ids is absent from the store but sorts inside a chunk's
[min_doc_id, max_doc_id] range, so only the chunk bloom filter can prune it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = np.array(["web", "books", "code", "wiki"])
_SALT = {"ingest": 1, "serve": 2, "append": 3}


def rng_for(workload: str, seed: int, stream: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _SALT[workload], stream])


def _table(rng: np.random.Generator, ids: np.ndarray, n_tok: np.ndarray,
           flat: np.ndarray, prefix: str) -> pa.Table:
    offsets = np.zeros(len(n_tok) + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    return pa.table({
        "doc_id": pa.array([f"{prefix}-{2 * i:010d}" for i in ids]),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets),
                                           pa.array(flat, pa.int32())),
        "n_tok": pa.array(n_tok.astype(np.int32)),
        "source": pa.array(SOURCES[rng.integers(0, 4, len(ids))]),
    })


def _lengths(rng: np.random.Generator, n_rows: int, scale: float, base: int,
             cap: int) -> np.ndarray:
    """Pareto(2.5)-skewed document lengths (a heavy tail, so the pipeline's
    straggler salting has rows above its threshold), rescaled so that they
    sum to exactly their expected total: every seed moves the same number
    of raw bytes."""
    n = np.minimum(rng.pareto(2.5, n_rows) * scale + base, cap)
    total = int(n_rows * (scale / 1.5 + base))
    n = np.maximum(1, np.floor(n * (total / n.sum()))).astype(np.int64)
    rem = total - int(n.sum())  # the rounding remainder
    if not 0 <= rem <= n_rows:
        raise ValueError(f"length rescale left {rem} tokens over {n_rows} rows")
    n[:rem] += 1
    return n


def zipf_corpus(rng: np.random.Generator, n_rows: int, *, scale: float,
                base: int, prefix: str) -> pa.Table:
    """Zipf(1.1) token ids (a dictionary-heavy codec mix). Rows arrive in
    random doc_id order, so the encode shuffle does real placement work."""
    n_tok = _lengths(rng, n_rows, scale, base, 32768)
    flat = np.minimum(rng.zipf(1.1, int(n_tok.sum())), VOCAB - 1)
    return _table(rng, rng.permutation(n_rows), n_tok, flat, prefix)


def runs_corpus(rng: np.random.Generator, n_rows: int, *, prefix: str
                ) -> pa.Table:
    """Short documents whose tokens come in runs over a narrow id range:
    a codec mix (run-length / frame-of-reference) unlike the Zipf
    corpus's dictionary-heavy one."""
    n_tok = _lengths(rng, n_rows, 40, 8, 4096)
    total = int(n_tok.sum())
    run_len = rng.geometric(0.25, total)  # mean run of 4 equal tokens
    n_runs = int(np.searchsorted(np.cumsum(run_len), total)) + 1
    values = rng.integers(1000, 1400, n_runs)
    flat = np.repeat(values, run_len[:n_runs])[:total]
    return _table(rng, rng.permutation(n_rows), n_tok, flat, prefix)


def absent_key(present: str) -> str:
    """The odd-numbered neighbour of a stored ``<prefix>-<even>`` id: never
    stored, and inside the key range of the chunk that holds ``present``."""
    prefix, num = present.rsplit("-", 1)
    return f"{prefix}-{int(num) + 1:0{len(num)}d}"


def raw_token_bytes(tbl: pa.Table) -> int:
    """Raw int32 token bytes: the throughput denominator."""
    return 4 * int(np.asarray(tbl.column("n_tok")).sum())


def parquet_zstd_bytes(tbl: pa.Table, path: str) -> int:
    """Bytes of a parquet-cpp zstd + dictionary file of the same rows: the
    reference the store's size is compared with (``bytes_ratio``)."""
    pq.write_table(tbl, path, compression="zstd", use_dictionary=True)
    return os.path.getsize(path)
