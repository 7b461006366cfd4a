"""The one chunk cutter (plc.chunk.cut_chunks) and the one row-weight
rule (null n_tok counts as 0), as every writer applies them:
``encode``, ``df.write.format("plc")`` and ``writeStream.format("plc")``
all keep each chunk at most ``max_chunk_values`` of weight."""

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from plc.chunk import EncodeConfig, cut_chunks, row_weights, unpack_chunk
from plc.pipeline import PipelineConfig, decode, encode, verify


def _batch(n_tok, start=0):
    n = len(n_tok)
    return pa.RecordBatch.from_pydict({
        "doc_id": [f"d{start + i:05d}" for i in range(n)],
        "n_tok": pa.array(n_tok, pa.int32()),
    })


def test_cut_chunks_cuts_inside_batches_and_across_runs():
    b1 = _batch([3, 3, 3, 3, 20, 1, 1])
    b2 = _batch([2, 2, None, 9], start=7)
    runs = [(0, b1.slice(0, 6), row_weights(b1, "n_tok")[:6]),
            (0, b2, row_weights(b2, "n_tok")),
            (1, b1.slice(6), row_weights(b1, "n_tok")[6:])]
    rows = list(cut_chunks(iter(runs), EncodeConfig(), "n_tok", max_vals=7))
    got = [(r.column("part_id")[0].as_py(), r.column("chunk_idx")[0].as_py(),
            r.column("n_rows")[0].as_py(), r.column("n_tokens")[0].as_py())
           for r in rows]
    # 3+3 | 3+3 | 20 alone (over the cap) | 1+2+2+null(0) | 9 alone | part 1
    assert got == [(0, 0, 2, 6), (0, 1, 2, 6), (0, 2, 1, 20),
                   (0, 3, 4, 5), (0, 4, 1, 9), (1, 5, 1, 1)]
    docs = [d for r in rows for d in
            unpack_chunk(r.column("payload")[0].as_py()).column("doc_id")
            .to_pylist()]
    assert docs == [f"d{i:05d}" for i in (0, 1, 2, 3, 4, 5, 7, 8, 9, 10, 6)]
    assert row_weights(b2, "_w").tolist() == [1, 1, 1, 1]


def _reference_cuts(runs, cap):
    """The cutting rule row by row: close the chunk before a row that
    would carry it past ``cap`` or that starts another part. A chunk
    that is full stays open only for the zero-weight rows that follow
    it in the same run. (part_id, chunk_idx, n_rows, weight) per chunk."""
    out, part, n, wsum = [], None, 0, 0
    for pid, weights in runs:
        for i, w in enumerate(weights):
            if n and (pid != part or wsum + w > cap
                      or (i == 0 and wsum >= cap)):
                out.append((part, len(out), n, wsum))
                n = wsum = 0
            part, n, wsum = pid, n + 1, wsum + int(w)
    if n:
        out.append((part, len(out), n, wsum))
    return out


@pytest.mark.parametrize("seed", range(6))
def test_cut_chunks_matches_the_row_by_row_rule(monkeypatch, seed):
    import plc.chunk as C

    monkeypatch.setattr(C, "enc_row", lambda buf, cfg, pid, ci, w, wcol: (
        pid, ci, sum(b.num_rows for b in buf), w))
    rng = np.random.default_rng(seed)
    cap = int(rng.integers(1, 300))
    # a run that fills a chunk exactly, then one that starts with zeros
    weights = [(0, np.array([cap - 1, 1, 0])), (0, np.array([0, 0, 1]))]
    for pid in np.sort(rng.integers(0, 4, 12)):
        w = rng.integers(0, 2 * cap, int(rng.integers(0, 40)))
        w[rng.random(w.size) < 0.5] //= 8  # mostly small rows
        w[rng.random(w.size) < 0.2] = 0  # null n_tok weighs 0
        weights.append((int(pid), w))
    runs = [(pid, pa.RecordBatch.from_pydict(
        {"n_tok": pa.array(w, pa.int32())}), w.astype(np.int64))
        for pid, w in weights]
    got = list(cut_chunks(iter(runs), EncodeConfig(), "n_tok", cap))
    assert got == _reference_cuts(weights, cap)


def _token_table(n=1500, seed=5):
    """Token rows of pareto lengths, a few far over the small cap."""
    rng = np.random.default_rng(seed)
    lens = np.minimum(rng.pareto(1.5, n) * 15 + 1, 400).astype(int)
    lens[::97] = 900
    return pa.table({
        "doc_id": [f"doc-{i:06d}" for i in range(n)],
        "tokens": pa.array([rng.integers(0, 50257, k).tolist()
                            for k in lens], pa.list_(pa.int32())),
        "n_tok": pa.array(lens, pa.int32()),
        "source": pa.array(np.array(["web", "code", "book"])[
            rng.integers(0, 3, n)]),
    })


@pytest.fixture(scope="module")
def sources(spark):
    work = tempfile.mkdtemp(prefix="plc_cap_")
    tok = _token_table()
    out = {}
    for kind, tbl in (("n_tok", tok),
                      ("rows", tok.drop_columns(["tokens", "n_tok"]))):
        d = os.path.join(work, f"src_{kind}")
        os.makedirs(d)
        for i in range(2):  # two files: two stream batches
            pq.write_table(tbl.slice(750 * i, 750), f"{d}/part-{i}.parquet")
        out[kind] = d
    yield work, out
    shutil.rmtree(work, ignore_errors=True)


def _write(spark, writer, src, dst, cap, work):
    df = spark.read.parquet(src)
    if writer == "encode":
        encode(spark, df, dst, PipelineConfig(
            num_partitions=3, straggler_parts=2, max_chunk_values=cap))
    elif writer == "format":
        (df.repartition(3).write.format("plc")
         .option("max_chunk_values", str(cap)).mode("overwrite").save(dst))
    else:
        q = (spark.readStream.schema(df.schema)
             .option("maxFilesPerTrigger", "1").parquet(src)
             .writeStream.format("plc")
             .option("max_chunk_values", str(cap))
             .option("checkpointLocation", dst + "_ckpt")
             .trigger(availableNow=True).start(dst))
        q.awaitTermination(300)
        q.stop()
    return df


@pytest.mark.parametrize("kind", ["n_tok", "rows"])
@pytest.mark.parametrize("cap", [40, 2000])
@pytest.mark.parametrize("writer", ["encode", "format", "stream"])
def test_every_writer_keeps_chunks_under_the_cap(spark, sources, writer,
                                                  cap, kind):
    from plc.datasource import register

    register(spark)
    work, srcs = sources
    dst = os.path.join(work, f"{writer}_{cap}_{kind}")
    df = _write(spark, writer, srcs[kind], dst, cap, work)
    chunks = (spark.read.format("plc").option("view", "chunks").load(dst)
              .select("n_rows", "n_tokens").collect())
    over = [tuple(r) for r in chunks
            if r["n_tokens"] > cap and r["n_rows"] != 1]
    assert not over, over
    assert sum(r["n_rows"] for r in chunks) == 1500
    want_w = (df.agg(F.sum("n_tok")).collect()[0][0] if kind == "n_tok"
              else 1500)
    assert sum(r["n_tokens"] for r in chunks) == want_w
    got = sorted(tuple(r) for r in
                 decode(spark, dst).select("doc_id", "source").collect())
    assert got == sorted(tuple(r) for r in
                         df.select("doc_id", "source").collect())


def _null_weight_table(spark, work):
    """2,000 token rows, every 50th with a null n_tok."""
    rng = np.random.default_rng(9)
    lens = rng.integers(1, 200, 2000)
    lens[7] = 5000  # a straggler when stragglers are on
    tbl = pa.table({
        "doc_id": [f"doc-{i:06d}" for i in range(2000)],
        "tokens": pa.array([rng.integers(0, 50257, k).tolist()
                            for k in lens], pa.list_(pa.int32())),
        "n_tok": pa.array([None if i % 50 == 0 else int(k)
                           for i, k in enumerate(lens)], pa.int32()),
        "source": ["web"] * 2000,
    })
    pq.write_table(tbl, work + "/src.parquet")
    return spark.read.parquet(work + "/src.parquet")


@pytest.mark.parametrize("stragglers", [None, 0])
def test_encode_counts_a_null_weight_as_zero(spark, stragglers):
    """A null ``n_tok`` weighs 0 for the plan's τ sample, straggler
    routing, the chunk cutter and resume's pending predicate; the stored
    value stays null."""
    from plc.datasource import _PlanFS, _read_manifest

    work = tempfile.mkdtemp(prefix="plc_nullw_")
    try:
        df = _null_weight_table(spark, work)
        dst = work + "/store"
        cfg = (PipelineConfig() if stragglers is None else
               PipelineConfig(num_partitions=4, straggler_parts=stragglers,
                              max_chunk_values=20_000))
        encode(spark, df, dst, cfg)
        assert verify(spark, df, dst)["mismatches"] == 0
        out = decode(spark, dst)
        assert out.count() == 2000
        assert out.filter(F.col("n_tok").isNull()).count() == 40
        # resume from a half-deleted manifest: the null-weight rows of the
        # uncommitted parts are encoded again, not dropped
        man = _read_manifest(_PlanFS(dst))
        parts = os.path.join(dst, "_manifest", "parts")
        shutil.rmtree(parts)
        os.makedirs(parts)
        pq.write_table(man.filter(pc.equal(
            pc.bit_wise_and(man.column("part_id"), 1), 0)),
            parts + "/manifest-half.parquet")
        assert decode(spark, dst).count() < 2000
        rep = encode(spark, df, dst, cfg, resume=True)
        assert rep["newly_encoded"] > 0
        res = verify(spark, df, dst)
        assert res["mismatches"] == 0 and res["rows_decoded"] == 2000, res
    finally:
        shutil.rmtree(work, ignore_errors=True)
