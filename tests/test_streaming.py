"""Structured Streaming tests: the ``writeStream.format("plc")`` sink
(exactly-once via one atomically written manifest per batch in a plain
store), stream-root reads and lifecycle, and watermarked window aggs."""

import glob
import os
import re
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from plc import data as D
from plc.pipeline import PipelineConfig
from plc.streaming import decode_stream, windowed_token_stats

SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _mkfiles(src_dir, n_files=2, rows=400, seed0=0):
    for i in range(n_files):
        p = os.path.join(src_dir, f"part-{seed0 + i:03d}.parquet")
        D.synth_tokens_parquet(p, rows, regime="zipf", seed=seed0 + i)


def _sink(spark, stream, dst, ckpt):
    """Run the plc stream sink over everything available, then stop."""
    from plc.datasource import register

    register(spark)
    q = (stream.writeStream.format("plc")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start(dst))
    q.awaitTermination(300)
    q.stop()


def test_stream_encode_decode_roundtrip(spark):
    src = tempfile.mkdtemp(prefix="plc_ssrc_")
    dst = tempfile.mkdtemp(prefix="plc_sdst_")
    ckpt = tempfile.mkdtemp(prefix="plc_sck_")
    try:
        _mkfiles(src, n_files=2)
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        _sink(spark, stream, dst, ckpt)
        out = decode_stream(spark, dst)
        assert out.count() == 800
        batch = spark.read.parquet(src)
        assert (out.agg(F.sum("n_tok")).collect()[0][0]
                == batch.agg(F.sum("n_tok")).collect()[0][0])

        # incremental: two more files, same checkpoint → only new rows added
        _mkfiles(src, n_files=2, seed0=10)
        _sink(spark, stream, dst, ckpt)
        assert decode_stream(spark, dst).count() == 1600

        # exactly-once: re-running with the same checkpoint and no new
        # input must not duplicate anything
        _sink(spark, stream, dst, ckpt)
        assert decode_stream(spark, dst).count() == 1600
    finally:
        for d in (src, dst, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_windowed_stats_stream_matches_batch(spark):
    src = tempfile.mkdtemp(prefix="plc_wsrc_")
    try:
        rows = [(f"d{i}", [1, 2], 2,
                 f"2026-01-01 {i % 24:02d}:{(i * 7) % 60:02d}:00")
                for i in range(200)]
        df = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, ts_s string"
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        df.write.mode("overwrite").parquet(src)

        batch_res = {r["window_start"]: (r["n_rows"], r["total_tokens"])
                     for r in windowed_token_stats(df).collect()}

        stream = spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, ts timestamp"
        ).parquet(src)
        agg = windowed_token_stats(stream)
        q = (agg.writeStream.format("memory").queryName("winstats")
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        stream_res = {r["window_start"]: (r["n_rows"], r["total_tokens"])
                      for r in spark.sql("select * from winstats").collect()}
        assert stream_res == batch_res and len(batch_res) == 24
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_decode_stream_ignores_uncommitted_batch(spark):
    src = tempfile.mkdtemp(prefix="plc_usrc_")
    dst = tempfile.mkdtemp(prefix="plc_udst_")
    ckpt = tempfile.mkdtemp(prefix="plc_uck_")
    try:
        _mkfiles(src, n_files=1)
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        _sink(spark, stream, dst, ckpt)
        n = decode_stream(spark, dst).count()
        assert n == 400
        # fake an in-flight batch: its data file is written, its manifest
        # not committed
        real = glob.glob(os.path.join(dst, "data", "part_id=*",
                                      "*.parquet"))[0]
        shutil.copy(real, os.path.join(
            os.path.dirname(real),
            "part-00000-b999-0123456789ab-ba9876543210.parquet"))
        assert decode_stream(spark, dst).count() == n
    finally:
        for d in (src, dst, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_stateful_dedup_across_microbatches(spark):
    """applyInPandasWithState: content seen in an earlier microbatch must
    be dropped in later ones; first occurrence wins."""
    from plc.streaming import stateful_dedup_stream

    src = tempfile.mkdtemp(prefix="plc_dsrc_")
    try:
        rows1 = [(f"a{i}", [i, i + 1, i + 2], 3, "web") for i in range(50)]
        rows2 = ([(f"b{i}", [i, i + 1, i + 2], 3, "web")     # dups of batch 1
                  for i in range(20)] +
                 [(f"c{i}", [900 + i, i, i], 3, "web") for i in range(30)])
        spark.createDataFrame(rows1, SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(src, "f1"))
        spark.createDataFrame(rows2, SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(src, "f2"))
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(src + "/*/"))
        out = stateful_dedup_stream(stream, n_buckets=8)
        q = (out.writeStream.format("memory").queryName("sdedup")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        got = spark.sql("select * from sdedup").collect()
        ids = sorted(r["doc_id"] for r in got)
        # 50 from batch1 + 30 new from batch2; the 20 b* dups dropped
        assert len(ids) == 80, len(ids)
        assert not any(i.startswith("b") for i in ids)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_session_window_stats(spark):
    """Session windows: events within the gap merge, a gap splits."""
    rows = [("a", [1], 1, "2026-01-01 10:00:00"),
            ("b", [1], 1, "2026-01-01 10:04:00"),
            ("c", [1], 1, "2026-01-01 10:07:00"),
            ("d", [1], 1, "2026-01-01 11:00:00")]
    df = (spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, ts_s string")
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s"))
    res = windowed_token_stats(df, session_gap="5 minutes").collect()
    sizes = sorted(r["n_rows"] for r in res)
    assert sizes == [1, 3]


def test_compact_stream(spark):
    from plc.streaming import compact_stream
    from plc.pipeline import verify

    src = tempfile.mkdtemp(prefix="plc_csrc_")
    dst = tempfile.mkdtemp(prefix="plc_cdst_")
    ckpt = tempfile.mkdtemp(prefix="plc_cck_")
    out = tempfile.mkdtemp(prefix="plc_cout_") + "/compacted"
    try:
        _mkfiles(src, n_files=2)
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        _sink(spark, stream, dst, ckpt)
        rep = compact_stream(spark, dst, out)
        assert rep["rows"] == 800
        assert verify(spark, decode_stream(spark, dst), out,
                      method="checksum")["mismatches"] == 0
    finally:
        for d in (src, dst, ckpt, os.path.dirname(out)):
            shutil.rmtree(d, ignore_errors=True)


def test_bloom_state_is_fixed_size():
    """VERDICT r2 #4 done-criterion: dedup state is O(1) per bucket —
    the Bloom byte array has the same length after 10 inserts and after
    100k inserts, and inserted elements are always found (no false
    negatives, ever)."""
    import numpy as np

    from plc.streaming import _bloom_positions

    m_bits = 1 << 20
    bloom = np.zeros(m_bits // 8, np.uint8)
    rng = np.random.default_rng(7)

    def insert(h1, h2):
        pos = _bloom_positions(h1, h2, m_bits)
        bits = np.zeros(m_bits, dtype=bool)
        bits[pos.ravel().astype(np.int64)] = True
        np.bitwise_or(bloom, np.packbits(bits, bitorder="little"),
                      out=bloom)

    def contains(h1, h2):
        pos = _bloom_positions(h1, h2, m_bits)
        bi = (pos >> np.uint64(3)).astype(np.int64)
        mk = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
        return ((bloom[bi] & mk) == mk).all(axis=0)

    small1 = rng.integers(0, 2**63, 10).astype(np.uint64)
    small2 = rng.integers(0, 2**63, 10).astype(np.uint64)
    insert(small1, small2)
    size_after_small = bloom.nbytes
    big1 = rng.integers(0, 2**63, 100_000).astype(np.uint64)
    big2 = rng.integers(0, 2**63, 100_000).astype(np.uint64)
    insert(big1, big2)
    assert bloom.nbytes == size_after_small == m_bits // 8
    assert contains(small1, small2).all()  # no false negatives
    assert contains(big1, big2).all()
    # false-positive rate stays near theory at this load (n=100k, m=2^20,
    # k=7 -> (1-e^{-kn/m})^k ~ 0.7%): probe fresh random hashes
    probe1 = rng.integers(0, 2**63, 20_000).astype(np.uint64)
    probe2 = rng.integers(0, 2**63, 20_000).astype(np.uint64)
    fpr = contains(probe1, probe2).mean()
    assert fpr < 0.03, fpr


def test_format_stream_sink_writes_committed_batch_stores(spark):
    """df.writeStream.format("plc") — the declarative stream sink: the
    root is one store (one plan, one data tree) and each microbatch
    commits one file-naming manifest ``batch-<id>.parquet``; the tasks
    write batch-tagged files straight through pyarrow.fs via the
    streaming.sql.batchId task property (no renames). The batch reader,
    decode_stream and readStream all consume it unchanged."""
    import glob as g

    from plc.datasource import register

    register(spark)
    src = tempfile.mkdtemp(prefix="plc_fssrc_")
    dst = tempfile.mkdtemp(prefix="plc_fsdst_") + "/store"
    ckpt = tempfile.mkdtemp(prefix="plc_fsck_")
    try:
        _mkfiles(src, n_files=4, rows=200)
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "2").parquet(src))
        q = (stream.writeStream.format("plc")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start(dst))
        q.awaitTermination(300)
        assert not q.isActive
        mans = sorted(os.listdir(dst + "/_manifest/parts"))
        assert len(mans) >= 2  # maxFilesPerTrigger split the input
        assert all(re.fullmatch(r"batch-[0-9]+\.parquet", m) for m in mans)
        assert sorted(os.listdir(dst)) == ["_manifest", "data"]
        assert sorted(os.listdir(dst + "/_manifest")) == ["parts",
                                                          "plan.json"]
        files = g.glob(dst + "/data/part_id=*/*.parquet")
        assert files and all(re.match(r"part-[0-9]{5}-b[0-9]+-",
                                      os.path.basename(f)) for f in files)
        total = 4 * 200
        # batch read over the stream root (manifest-named files only)
        assert spark.read.format("plc").load(dst).count() == total
        # decode_stream sees the same store
        assert decode_stream(spark, dst).count() == total
        # readStream over the sink's own output
        out = (spark.readStream.format("plc").load(dst)
               .groupBy().count()
               .writeStream.outputMode("complete").format("memory")
               .queryName("plc_sink_rt").trigger(availableNow=True)
               .start())
        out.awaitTermination(300)
        got = spark.sql("select * from plc_sink_rt").collect()
        assert got and got[0]["count"] == total
        # an orphan planted in a committed part dir is invisible
        pdir = sorted(g.glob(dst + "/data/part_id=*"))[0]
        realf = g.glob(pdir + "/*.parquet")[0]
        shutil.copy(realf, pdir + "/part-zombie.parquet")
        assert spark.read.format("plc").load(dst).count() == total
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(os.path.dirname(dst), ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_format_stream_sink_committed_batch_is_immutable(spark):
    """Review findings r5: a committed batch (its manifest present) must
    survive abort() of a failed replay attempt; a genuine replay commit
    (same fingerprint) is an idempotent no-op that drops only the
    replay's files; a commit with DIFFERENT content (a new stream reusing
    the dst with a fresh checkpoint) is refused instead of silently
    destroying committed data. Every sweep touches only the batch's own
    tagged files."""
    from plc.datasource import PLCCommit, PLCStreamWriter

    dst = tempfile.mkdtemp(prefix="plc_fsim_") + "/store"
    schema = spark.createDataFrame([], SCHEMA).schema
    w = PLCStreamWriter(dst, schema, None)
    pdir = dst + "/data/part_id=0"
    os.makedirs(pdir)

    def put(tag, data=b"x"):
        name = f"part-00000-{tag}-0123456789ab-{os.urandom(6).hex()}.parquet"
        with open(f"{pdir}/{name}", "wb") as f:
            f.write(data)
        return name

    def there(name):
        return os.path.exists(f"{pdir}/{name}")

    crashed = put("b0")  # an earlier attempt of batch 0 that never committed
    f1 = put("b0")
    msg = PLCCommit(0, f1, 1, 10, 40, 160, 80, "a", "b")
    w.commit([msg], 0)
    manifest = dst + "/_manifest/parts/batch-0.parquet"
    assert os.path.exists(manifest)
    assert there(f1) and not there(crashed)
    # a FAILED replay attempt aborts after the original commit: the
    # committed data survives, the replay's own files (always fresh
    # uuid names — never the committed winner) are swept
    f1b = put("b0", b"r")
    w.abort([PLCCommit(0, f1b, 1, 10, 40, 160, 80, "a", "b"), None], 0)
    assert os.path.exists(manifest) and there(f1) and not there(f1b)
    # genuine replay (same fingerprint): idempotent, replay's file dropped
    f2 = put("b0", b"y")
    w.commit([PLCCommit(0, f2, 1, 10, 40, 160, 80, "a", "b")], 0)
    assert there(f1) and not there(f2)
    # dst reuse by a different stream (different content): refused
    with pytest.raises(RuntimeError, match="immutable"):
        w.commit([PLCCommit(0, "f3.parquet", 1, 999, 0, 0, 0, "a", "b")], 0)
    # an UNcommitted batch aborts clean: its tagged files go, and
    # nothing of batch 0 does
    f4 = put("b1")
    w.abort([msg], 1)
    assert not there(f4) and there(f1)
    assert os.listdir(dst + "/_manifest/parts") == ["batch-0.parquet"]


def test_format_stream_sink_on_file_uri(spark):
    """The stream sink resolves its target through _PlanFS like the batch
    writer — a file:// URI works end-to-end (the same path s3:///hdfs://
    take on clusters)."""
    import glob as g

    from plc.datasource import register

    register(spark)
    src = tempfile.mkdtemp(prefix="plc_fsuri_src_")
    base = tempfile.mkdtemp(prefix="plc_fsuri_dst_")
    ckpt = tempfile.mkdtemp(prefix="plc_fsuri_ck_")
    try:
        _mkfiles(src, n_files=2, rows=150)
        dst = "file://" + base + "/store"
        q = (spark.readStream.schema(SCHEMA).parquet(src)
             .writeStream.format("plc")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start(dst))
        q.awaitTermination(300)
        local = base + "/store"
        assert g.glob(local + "/_manifest/parts/batch-*.parquet")
        assert spark.read.format("plc").load(dst).count() == 300
        assert decode_stream(spark, local).count() == 300
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_lifecycle_compact_then_expire(spark):
    """VERDICT r5 #3 — stream-root lifecycle: sink 5 microbatches through
    the FORMAT stream sink, compact them into one store, check all three
    readers agree on the compacted output, then expire exactly the
    compacted batches (manifest-first delete) and check the compacted
    store still reads green while the stream root is empty of them."""
    import glob as g

    from plc.datasource import register
    from plc.pipeline import verify
    from plc.streaming import (committed_batches, compact_stream,
                               expire_stream_batches)

    register(spark)
    src = tempfile.mkdtemp(prefix="plc_lcsrc_")
    root = tempfile.mkdtemp(prefix="plc_lcroot_") + "/stream"
    out = tempfile.mkdtemp(prefix="plc_lcout_") + "/compacted"
    ckpt = tempfile.mkdtemp(prefix="plc_lcck_")
    try:
        _mkfiles(src, n_files=5, rows=120)
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = (stream.writeStream.format("plc")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start(root))
        q.awaitTermination(300)
        batches = committed_batches(spark, root)
        assert batches == [0, 1, 2, 3, 4]
        srcdf = spark.read.parquet(src)
        total = srcdf.count()

        rep = compact_stream(spark, root, out,
                             PipelineConfig(num_partitions=3,
                                            straggler_parts=0))
        assert sorted(rep["batch_ids"]) == batches
        # three readers on the compacted store: decode(), the format
        # reader, and verify() against the original source rows
        from plc.pipeline import decode

        assert decode(spark, out).count() == total
        assert spark.read.format("plc").load(out).count() == total
        assert verify(spark, srcdf, out)["mismatches"] == 0

        removed = expire_stream_batches(spark, root, rep["batch_ids"])
        assert removed == rep["batch_ids"]
        assert committed_batches(spark, root) == []
        assert not g.glob(root + "/_manifest/parts/*.parquet")
        assert not g.glob(root + "/data/part_id=*/*.parquet")
        # expiry is idempotent and skips non-existent ids
        assert expire_stream_batches(spark, root, rep["batch_ids"]) == []
        # compacted store unaffected by the expiry
        assert spark.read.format("plc").load(out).count() == total
        assert verify(spark, srcdf, out)["mismatches"] == 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_format_reader_batch_ids_option(spark):
    """The batch_ids option pins a stream-root scan to exactly the named
    committed batches (the race-free compact cycle's read path); ids
    that are not committed are rejected, on a stream root and on a store
    that has no stream batches."""
    from plc.pipeline import PipelineConfig, encode

    work = tempfile.mkdtemp(prefix="plc_bids_")
    root, src = work + "/stream", work + "/in"
    os.makedirs(src)
    try:
        _mkfiles(src, n_files=3, rows=300)
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        _sink(spark, stream, root, work + "/ckpt")
        all_rows = spark.read.format("plc").load(root).count()
        assert all_rows == 900
        sub = (spark.read.format("plc").option("batch_ids", "0,2")
               .load(root))
        assert sub.count() == 600
        with pytest.raises(Exception, match="not committed"):
            (spark.read.format("plc").option("batch_ids", "0,7")
             .load(root).count())
        store = work + "/store"  # written by encode: no stream batches
        encode(spark, spark.read.parquet(src), store,
               PipelineConfig(num_partitions=2, straggler_parts=0))
        with pytest.raises(Exception, match="not committed"):
            (spark.read.format("plc").option("batch_ids", "1")
             .load(store).count())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stream_root_reads_as_a_plain_store(spark, monkeypatch):
    """A 3-batch stream root is one store: format("plc") (data and
    chunks views), store_agg, decode and verify all read it. Planning a
    read makes one listdir of the manifests and one read per batch
    manifest, and no per-batch exists/plan read; a sink commit reads no
    manifest but its own batch's. A query with another schema and
    encode(resume=True) are refused."""
    import plc
    from plc.datasource import PLCCommit, PLCReader, PLCStreamWriter, _PlanFS

    work = tempfile.mkdtemp(prefix="plc_plainroot_")
    root, src = work + "/stream", work + "/in"
    os.makedirs(src)
    try:
        _mkfiles(src, n_files=3, rows=300)
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        _sink(spark, stream, root, work + "/ckpt")
        srcdf = spark.read.parquet(src)
        want = sorted(tuple(r) for r in srcdf.select("doc_id", "n_tok")
                      .collect())
        df = spark.read.format("plc").load(root)
        assert sorted(tuple(r) for r in df.select("doc_id", "n_tok")
                      .collect()) == want
        assert sorted(tuple(r) for r in plc.decode(spark, root)
                      .select("doc_id", "n_tok").collect()) == want
        assert plc.verify(spark, srcdf, root)["mismatches"] == 0
        chunks = spark.read.format("plc").option("view", "chunks").load(root)
        assert chunks.agg(F.sum("n_rows")).collect()[0][0] == 900
        agg = plc.store_agg(spark, root).collect()[0]
        assert (agg["n_rows"], agg["sum_w"]) == (
            900, srcdf.agg(F.sum("n_tok")).collect()[0][0])

        calls = []
        for meth in ("exists", "listdir", "read_json", "read_parquet"):
            orig = getattr(_PlanFS, meth)

            def spy(self, *a, _m=meth, _o=orig):
                calls.append((_m, a[0] if a else ""))
                return _o(self, *a)

            monkeypatch.setattr(_PlanFS, meth, spy)
        PLCReader(root, df.schema).partitions()
        parts = os.path.join("_manifest", "parts")
        assert [c for c in calls if c[0] == "listdir"] == [("listdir", parts)]
        assert [c for c in calls if c[0] == "read_json"] == [
            ("read_json", os.path.join("_manifest", "plan.json"))]
        assert not [c for c in calls if c[0] == "exists"]
        assert sorted(os.path.basename(p) for m, p in calls
                      if m == "read_parquet") == [
            f"batch-{b}.parquet" for b in range(3)]

        # a replayed commit of batch 1 reads batch 1's manifest only
        man = pq.read_table(os.path.join(root, parts, "batch-1.parquet"))
        w = PLCStreamWriter(root, df.schema, None)
        calls.clear()
        w.commit([PLCCommit(**r) for r in man.to_pylist()], 1)
        assert [os.path.basename(p) for m, p in calls
                if m == "read_parquet"] == ["batch-1.parquet"]
        assert ("listdir", parts) not in calls
        monkeypatch.undo()
        assert df.count() == 900

        with pytest.raises(ValueError, match="differs"):
            PLCStreamWriter(root, srcdf.drop("source").schema, None)
        with pytest.raises(ValueError, match="stream writer"):
            plc.encode(spark, srcdf, root, resume=True)
        assert df.count() == 900
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_old_stream_root_layout_is_refused(spark):
    """A stream root of the old layout (``batch=<id>/`` sub-stores, no
    root plan) raises a ValueError that says to re-run the stream into
    a fresh dst, from format("plc"), decode, gc and the sink."""
    import plc
    from plc.datasource import PLCStreamWriter, register

    root = tempfile.mkdtemp(prefix="plc_oldroot_")
    try:
        os.makedirs(os.path.join(root, "batch=0", "_manifest", "parts"))
        register(spark)
        with pytest.raises(Exception, match="re-run the stream"):
            spark.read.format("plc").load(root).count()
        with pytest.raises(ValueError, match="re-run the stream"):
            plc.decode(spark, root)
        with pytest.raises(ValueError, match="re-run the stream"):
            plc.gc(root, grace_sec=0)
        with pytest.raises(ValueError, match="re-run the stream"):
            PLCStreamWriter(root, spark.createDataFrame([], SCHEMA).schema,
                            None)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_READSTREAM_CHILD = """
import os, sys
sys.path.insert(0, sys.argv[1])  # the driver imports plc; no PYTHONPATH
import pyarrow as pa, pyarrow.parquet as pq
from pyspark.sql import SparkSession
from plc.datasource import register

work = sys.argv[2]
spark = (SparkSession.builder.master("local[1]")
         .config("spark.sql.shuffle.partitions", "1")
         .config("spark.ui.enabled", "false").getOrCreate())
register(spark)
src, root = os.path.join(work, "in"), os.path.join(work, "root")
os.makedirs(src)
pq.write_table(pa.table({"doc_id": [f"d{i:04d}" for i in range(100)],
                         "n_tok": pa.array(range(100), pa.int32())}),
               os.path.join(src, "a.parquet"))
q = (spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
     .writeStream.format("plc")
     .option("checkpointLocation", os.path.join(work, "ck_sink"))
     .trigger(availableNow=True).start(root))
q.awaitTermination(240)
q.stop()
print("format", spark.read.format("plc").load(root).count())
q = (spark.readStream.format("plc").load(root).writeStream.format("memory")
     .queryName("plc_child_t")
     .option("checkpointLocation", os.path.join(work, "ck_src"))
     .trigger(availableNow=True).start())
q.awaitTermination(240)
err = q.exception()
print("error", err)
print("stream", spark.sql("select count(*) from plc_child_t").first()[0])
spark.stop()
"""


def test_read_stream_without_repo_on_pythonpath():
    """``spark.readStream.format("plc")`` works in a driver whose
    PYTHONPATH lacks plc and whose cwd is outside the repo: Spark's
    streaming source runner unpickles the data source from the zip
    ``register`` ships, as batch reads and the sink do."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = tempfile.mkdtemp(prefix="plc_rs_child_")
    try:
        script = os.path.join(work, "child.py")
        with open(script, "w") as f:
            f.write(_READSTREAM_CHILD)
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        proc = subprocess.run(
            [sys.executable, script, repo, work], cwd=work, env=env,
            capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = proc.stdout.splitlines()
        assert "format 100" in out, proc.stdout
        assert "error None" in out, proc.stdout[-3000:]
        assert "stream 100" in out, proc.stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
