"""Golden bytes: what ``encode`` and ``pack_chunk`` store, pinned to
absolute digests. Every other byte test compares two runs of the same
code; these catch a change that alters stored bytes the same way in both
runs (chunk cutting, codec selection, the codec constants).

A digest is sha256 over the store's chunks in (part_id, chunk_idx)
order, each as ``part_id:chunk_idx:n_rows:sha256(payload)``. A change
that alters stored bytes on purpose must argue for it and re-pin these
values."""

import hashlib
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pytest

from plc.chunk import EncodeConfig, pack_chunk
from plc.pipeline import PipelineConfig, encode


def _store_digest(dst: str) -> tuple[int, int, str]:
    """(chunks, enc_bytes, digest) of every committed chunk of ``dst``."""
    import pyarrow.parquet as pq

    from plc.datasource import _committed_data_files, _PlanFS

    rows = []
    for f in _committed_data_files(_PlanFS(dst)):
        pid = int(f.rsplit("/part_id=", 1)[1].split("/", 1)[0])
        t = pq.read_table(f, columns=["chunk_idx", "n_rows", "enc_bytes",
                                      "payload"])
        for ci, n, eb, p in zip(*(t.column(c).to_pylist()
                                  for c in t.column_names)):
            assert eb == len(p)
            rows.append((pid, ci, n, eb, hashlib.sha256(p).hexdigest()))
    rows.sort()
    h = hashlib.sha256()
    for pid, ci, n, _, d in rows:
        h.update(f"{pid}:{ci}:{n}:{d}\n".encode())
    return len(rows), sum(r[3] for r in rows), h.hexdigest()


def _fuzz_table(spark):
    """A seeded table in the fuzz test's shape: three doc_id styles
    mixed, pareto token lengths, null token lists and null sources."""
    rng = np.random.default_rng(2024)
    rows = []
    for i in range(600):
        style = i % 3
        doc = (f"doc-{i:08d}" if style == 0 else
               f"{chr(33 + int(rng.integers(0, 90)))}{i:06d}~é" if style == 1
               else f"s{int(rng.integers(0, 5))}/p{i}")
        ln = int(rng.pareto(2.0) * 20) if rng.random() < 0.9 else 0
        toks = (rng.integers(0, 50257, min(ln, 4000)).tolist()
                if rng.random() > 0.05 else None)
        rows.append((doc, toks, ["web", "code", None][int(rng.integers(0, 3))]))
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, source string")


# (chunks, enc_bytes, digest) per store
GOLDEN_STORES = {
    "sf001_default": (4, 20665, "9f20bb84974018f51a9a99e9114c135583b20666"
                                "8b89a9b95891e7e32b56bc56"),
    "sf001_small_cap": (15, 27700, "c3e841c4ed3d3a8c339a09090ac5b130cb7c2e"
                                   "72a2a2c23a4f78680d20c7c6ac"),
    "fuzz": (14, 24171, "be8b676335b9faec25a9f389d18a1243efb60a9e23968dd8e1"
                        "5eca7405152445"),
}


@pytest.mark.parametrize("name", sorted(GOLDEN_STORES))
def test_encode_store_bytes_are_pinned(spark, name):
    import __spark_entry__ as E

    if name == "fuzz":
        df = _fuzz_table(spark)
        cfg = PipelineConfig(num_partitions=3, straggler_parts=2,
                             skew_quantile=0.95, max_chunk_values=700)
    else:
        df = E.tokens_view(spark, "/root/testdata/sf0.01")
        cfg = (PipelineConfig(num_partitions=4, straggler_parts=2)
               if name == "sf001_default" else
               PipelineConfig(num_partitions=3, straggler_parts=2,
                              max_chunk_values=2_000))
    dst = tempfile.mkdtemp(prefix=f"plc_golden_{name}_")
    try:
        encode(spark, df, dst, cfg, mode="overwrite")
        assert _store_digest(dst) == GOLDEN_STORES[name]
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def _regime_batches() -> dict:
    """FIXTURES.md §1 value regimes plus the string, float and large-plane
    paths of the codec selector, each as one batch (seed 42)."""
    rng = np.random.default_rng(42)

    def tokens(rows, ids=None, src=None):
        n = len(rows)
        return pa.RecordBatch.from_pydict({
            "doc_id": pa.array(ids or [f"doc-{i:012d}" for i in range(n)]),
            "tokens": pa.array(rows, pa.list_(pa.int32())),
            "n_tok": pa.array([len(r) for r in rows], pa.int32()),
            "source": pa.array(src or list(np.array(
                ["web", "books", "code", "wiki"])[rng.integers(0, 4, n)])),
        })

    def lens(lo=10, hi=200, n=500):
        return rng.integers(lo, hi, n)

    out = {
        "uniform": tokens([rng.integers(0, 50257, k).tolist()
                           for k in lens()]),
        "zipf": tokens([np.minimum(rng.zipf(1.1, k), 50256).tolist()
                        for k in lens()]),
        "small-range": tokens([rng.integers(1000, 1255, k).tolist()
                               for k in lens()]),
        "runs": tokens([np.sort(rng.integers(0, 50, k)).tolist()
                        for k in lens()]),
        "constant": tokens([[7] * int(k) for k in lens(1, 50)]),
        "empty-edge": tokens([[], [1], [], [2**31 - 1, -(2**31)], []]),
        "width-sweep": tokens([[0, (1 << w) - 1, 1 << (w - 1)]
                               for w in range(1, 32) for _ in range(8)]),
        "skew": tokens([[5] * (32768 if i == 0 else 128)
                        for i in range(500)]),
        "uuid-ids": tokens([[1, 2]] * 2000, ids=[
            "%032x" % int(rng.integers(0, 2**62)) for _ in range(2000)]),
        "dup-ids-sorted-source": tokens(
            [[3]] * 2000, ids=[f"d{int(i)}" for i in rng.integers(0, 9, 2000)],
            src=sorted(["web", "books", "code", "wiki"] * 500)),
        "nulls": pa.RecordBatch.from_pydict({
            "doc_id": pa.array([f"n{i}" for i in range(3000)]),
            "tokens": pa.array([None if i % 7 == 0 else [i % 300, i]
                                for i in range(3000)], pa.list_(pa.int32())),
            "a": pa.array([None if i % 5 == 0 else i * 3
                           for i in range(3000)], pa.int64()),
            "s": pa.array([None if i % 4 == 0 else f"v{i % 50}"
                           for i in range(3000)]),
        }),
        "floats-long-strings": pa.RecordBatch.from_pydict({
            "doc_id": pa.array([f"f{i:05d}" for i in range(6000)]),
            "x": pa.array(rng.normal(size=6000), pa.float64()),
            "y": pa.array(rng.random(6000).astype(np.float32)),
            "text": pa.array(["lorem ipsum %d " % i * 60
                              for i in range(6000)]),
        }),
        # planes past the large-plane zstd threshold: incompressible
        # (the sample-compress gate) and skewed (byte-plane split)
        "large-uniform": tokens([rng.integers(0, 2**31 - 1, 1 << 20)
                                 .tolist()]),
        "large-zipf": tokens([np.minimum(rng.zipf(1.1, 1 << 20),
                                         50256).tolist()]),
    }
    return out


# (len(blob), sha256(blob)) per regime
GOLDEN_CHUNKS = {
    "uniform": (106049,
        "507184746eac53f0d19dc44c15794b0d6023a163c2836a8f224e1667135c250c"),
    "zipf": (62736,
        "bcc680b47bf7cd1b9bfa675218fe395eff4f3402d6a4485bebc78f503a061049"),
    "small-range": (52673,
        "d7689cc6f18f596f4810dd9191653d45f22ccb14460f19b47067c62939509a7b"),
    "runs": (21327,
        "ac223351ca36983eddb9b35650a2f22d0a09421cb594fb0a35b1f0e3102cc623"),
    "constant": (1445,
        "da64fc444da820858b0f2ff18ce6ba20875a6f79fcb196a0952500f9e0557bc2"),
    "empty-edge": (321,
        "2c06a6611c899da0cb0836288ee700f416a26f76b6984005e7d6131987496534"),
    "width-sweep": (915,
        "141944557099ffd51c84f7c9e80b6f3229eeb4960b9100e4166d6fe329adc199"),
    "skew": (735,
        "32aa015a65c7de00f2b17d41783f7deadaae2c6b1e335e6b0851a7da4371bca8"),
    "uuid-ids": (19642,
        "592ae656109cee0a623f9d41828fa776e405972c8e0c385f52a1e862fb53031d"),
    "dup-ids-sorted-source": (1203,
        "551f460994996e51e91b6ab5f20e68163ae1dfe301f95d417445223a4891ab8f"),
    "nulls": (14284,
        "311aef2fe23dddfc01dd9db0202278a86326a0665bcf3aef6e52a17f3a3708fd"),
    "floats-long-strings": (80018,
        "56ecaf3768a893fdf910998edb9a980c1c0a8d9a6c61e456ca8620626679290e"),
    "large-uniform": (4063484,
        "2a68b289c544595730c7f5ac3e04836eefa754e2f8aab6615345061a8b258c61"),
    "large-zipf": (1164909,
        "f6e4439e897adcf66780029b2605f8c2977665efebda6d8b9364052a0be6867b"),
    "uuid-ids-second-chunk": (9903,
        "8a9766d5942cbc68ca26132ea4942494d982feb575c6c2c0ec4db937f4ee03e3"),
}


def test_pack_chunk_bytes_are_pinned():
    got = {}
    batches = _regime_batches()
    for name, batch in batches.items():
        blob, _ = pack_chunk(batch, EncodeConfig())
        got[name] = (len(blob), hashlib.sha256(blob).hexdigest())
    # the FSST table trained on a column's first chunk is reused for
    # the next chunk of the same writer task
    cfg = EncodeConfig()
    ids = batches["uuid-ids"]
    pack_chunk(ids.slice(0, 1000), cfg)
    blob, _ = pack_chunk(ids.slice(1000), cfg)
    got["uuid-ids-second-chunk"] = (len(blob),
                                    hashlib.sha256(blob).hexdigest())
    assert got == GOLDEN_CHUNKS
