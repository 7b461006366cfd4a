"""Commit-protocol and metadata-path tests: manifests become visible
atomically and a failed write leaves the committed state as it was
(fault injection into the manifest write, the encoder, the part-file
writer after a file is closed, gc's sweep, and every step of a stream
sink batch; a zombie file landing after the commit), every reader
resolves committed files the same way — from the manifest's named
files alone, with no part-dir listing — also for stores with empty
parts, multi-file parts and stray files, a manifest that names no
files is refused, read errors surface instead of being swallowed, and
unsupported URIs fail with a clear error."""

import glob
import os
import shutil
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo
from pyspark.sql.types import StructType

from plc import data as D
from plc.datasource import (PLCCommit, PLCReader, _commit_store, _load_plan,
                            _PlanFS, _read_manifest, register)
from plc.pipeline import PipelineConfig, decode, encode, verify


@pytest.fixture(scope="module")
def src_df(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("commit_src") / "tokens.parquet")
    D.synth_tokens_parquet(p, 300, regime="zipf", seed=7)
    return spark.read.parquet(p)


def _inject_manifest_fault(monkeypatch):
    """Make pyarrow's parquet writer emit a few bytes and then fail —
    the shape of a crash (or full disk) part-way through a manifest."""
    def broken(table, where, *args, **kwargs):
        where.write(b"PAR1 truncated")
        raise OSError("injected fault mid-manifest")

    monkeypatch.setattr(pq, "write_table", broken)


def _visible_manifests(dst):
    return sorted(glob.glob(os.path.join(dst, "_manifest", "parts",
                                         "*.parquet")))


def _rows(spark, dst):
    return sorted(tuple(r) for r in decode(spark, dst)
                  .select("doc_id", "n_tok").collect())


def test_empty_parts_read_through_the_committed_file_resolver(spark,
                                                              src_df):
    """300 rows over 4 range parts + the default 4 straggler parts leave
    straggler parts with no rows (zero-row manifest markers, no part
    dir). A point lookup must still take the path-pinned scan: the right
    row back, and no semi-join anywhere in the executed plan."""
    dst = tempfile.mkdtemp(prefix="plc_emptyparts_")
    try:
        rep = encode(spark, src_df, dst, PipelineConfig(num_partitions=4),
                     mode="overwrite")
        man = _read_manifest(_PlanFS(dst))
        empty = [p for p, n in zip(man.column("part_id").to_pylist(),
                                   man.column("n_rows").to_pylist())
                 if n == 0]
        assert len(empty) == 3, man.to_pylist()
        assert rep["rows"] == 300
        want = src_df.orderBy("doc_id").limit(120).collect()[-1]
        out = decode(spark, dst, doc_id_min=want["doc_id"],
                     doc_id_max=want["doc_id"])
        got = out.collect()
        assert [(r["doc_id"], r["n_tok"]) for r in got] == \
            [(want["doc_id"], want["n_tok"])]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" not in plan, plan
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_pipeline_manifest_fault_keeps_old_state_and_resume_converges(
        spark, src_df, monkeypatch):
    """A manifest write that fails part-way never leaves a truncated
    manifest visible: readers keep seeing the previously committed parts
    (none on a fresh encode, a subset after a partial commit), and
    encode(resume=True) then reaches the clean run's bytes."""
    cfg = PipelineConfig(num_partitions=4, straggler_parts=0)
    work = tempfile.mkdtemp(prefix="plc_manfault_")
    clean, dst = work + "/clean", work + "/store"
    try:
        clean_rep = encode(spark, src_df, clean, cfg)
        want = _rows(spark, clean)

        # fresh encode: the data lands, the manifest write fails
        with monkeypatch.context() as m:
            _inject_manifest_fault(m)
            with pytest.raises(OSError, match="injected"):
                encode(spark, src_df, dst, cfg)
        assert _visible_manifests(dst) == []
        assert not glob.glob(os.path.join(dst, "_manifest", "parts", ".*"))
        assert decode(spark, dst).count() == 0
        register(spark)
        assert spark.read.format("plc").load(dst).count() == 0

        rep = encode(spark, src_df, dst, cfg, resume=True)
        assert rep["enc_bytes"] == clean_rep["enc_bytes"]
        assert _rows(spark, dst) == want

        # partial commit: keep parts 0-1 committed, the rest is data on
        # disk without a manifest row; the resumed commit then fails
        _commit_only_parts_below(dst, 2)
        old = _rows(spark, dst)
        assert 0 < len(old) < len(want)
        with monkeypatch.context() as m:
            _inject_manifest_fault(m)
            with pytest.raises(OSError, match="injected"):
                encode(spark, src_df, dst, cfg, resume=True)
        assert [os.path.basename(f) for f in _visible_manifests(dst)] == \
            ["manifest-partial.parquet"]
        assert _rows(spark, dst) == old

        rep = encode(spark, src_df, dst, cfg, resume=True)
        assert rep["enc_bytes"] == clean_rep["enc_bytes"]
        assert _rows(spark, dst) == want
        assert verify(spark, src_df, dst)["mismatches"] == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_format_commit_fault_keeps_old_store(spark, src_df, monkeypatch):
    """The format writer's commit (driver side) under the same fault: an
    overwrite whose manifest write fails leaves the old store readable
    with its old rows; the retried commit publishes the new store."""
    register(spark)
    work = tempfile.mkdtemp(prefix="plc_fmtfault_")
    dst, staged = work + "/store", work + "/staged"
    try:
        old_df = src_df.filter(F.col("n_tok") % 2 == 0)
        old_df.write.format("plc").mode("overwrite").save(dst)
        src_df.write.format("plc").mode("overwrite").save(staged)
        old = _rows(spark, dst)
        new = _rows(spark, staged)
        assert old != new

        # stage the new generation's files next to the old ones, exactly
        # where a format write's tasks put them before the driver commits
        man = _read_manifest(_PlanFS(staged)).to_pylist()
        for r in man:
            if r["file"]:
                pdir = os.path.join(dst, "data", f"part_id={r['part_id']}")
                os.makedirs(pdir, exist_ok=True)
                shutil.copy(os.path.join(staged, "data",
                                         f"part_id={r['part_id']}",
                                         r["file"]), pdir)
        msgs = [PLCCommit(r["part_id"], r["file"], r["n_chunks"],
                          r["n_rows"], r["n_tokens"], r["raw_bytes"],
                          r["enc_bytes"], r["min_doc_id"], r["max_doc_id"])
                for r in man]
        plan = _load_plan(staged)
        schema = StructType.fromJson(plan["schema"])
        with monkeypatch.context() as m:
            _inject_manifest_fault(m)
            with pytest.raises(OSError, match="injected"):
                _commit_store(_PlanFS(dst), msgs, plan["weight_col"],
                              schema)
        assert [os.path.basename(f) for f in _visible_manifests(dst)] == \
            ["manifest-0.parquet"]
        assert _rows(spark, dst) == old
        assert spark.read.format("plc").load(dst).count() == len(old)

        _commit_store(_PlanFS(dst), msgs, plan["weight_col"], schema)
        assert _rows(spark, dst) == new
        assert spark.read.format("plc").load(dst).count() == len(new)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_bloom_read_error_propagates(spark, src_df, monkeypatch):
    """The planner asks for the bloom column only when the file has one,
    so an IO error on that read is a real error and must surface — not
    be retried away as if the column were missing."""
    dst = tempfile.mkdtemp(prefix="plc_bloomerr_")
    try:
        encode(spark, src_df, dst,
               PipelineConfig(num_partitions=2, straggler_parts=0),
               mode="overwrite")
        schema = StructType.fromJson(_load_plan(dst)["schema"])
        probe = src_df.agg(F.min("doc_id")).collect()[0][0]
        orig = _PlanFS.read_parquet

        def flaky(self, path, columns):
            if columns is not None and "bloom" in columns:
                raise OSError("injected read error")
            return orig(self, path, columns)

        monkeypatch.setattr(_PlanFS, "read_parquet", flaky)
        r = PLCReader(dst, schema)
        list(r.pushFilters([EqualTo(("doc_id",), probe)]))
        with pytest.raises(OSError, match="injected read error"):
            r.partitions()
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_unsupported_uri_scheme_raises_value_error(spark):
    with pytest.raises(ValueError, match="nosuchfs://"):
        _PlanFS("nosuchfs://bucket/store")
    with pytest.raises(ValueError, match="nosuchfs://"):
        decode(spark, "nosuchfs://bucket/store")


_STREAM_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _run_stream(spark, fmt, src, dst, ckpt):
    """Sink every file landed in ``src`` into ``dst``, one per batch."""
    q = (spark.readStream.schema(_STREAM_SCHEMA)
         .option("maxFilesPerTrigger", "1").parquet(src)
         .writeStream.format(fmt).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start(dst))
    try:
        q.awaitTermination(300)
    finally:
        q.stop()


@pytest.fixture(scope="module")
def stream_inputs(spark, tmp_path_factory):
    """Two input files, and a clean stream root of them (one batch each,
    landed one at a time)."""
    work = tmp_path_factory.mktemp("stream_clean")
    files = [str(work / f"f{i}.parquet") for i in (0, 1)]
    D.synth_tokens_parquet(files[0], 200, seed=1)
    D.synth_tokens_parquet(files[1], 150, seed=2)
    register(spark)
    src, clean = work / "in", str(work / "clean")
    src.mkdir()
    for f in files:
        shutil.copy(f, src)
        _run_stream(spark, "plc", str(src), clean, str(work / "ckpt"))
    return files, clean


@pytest.mark.parametrize("case", ["task", "commit-abort", "commit-crash",
                                  "manifest-abort", "manifest-crash"])
def test_stream_sink_crash_matrix(spark, tmp_path, stream_inputs, case):
    """The stream sink's batch 1 fails at each step: a task raises after
    writing its file; the commit raises before writing
    ``batch-1.parquet``; the manifest write itself fails part-way. A
    commit fault runs with Spark's abort() afterwards and with abort()
    skipped, as in a driver crash. Readers (format("plc"), readStream,
    decode) see batch 0 only; gc(grace_sec=0) removes exactly the failed
    attempt's files; re-running the query on the same checkpoint then
    commits batch 1 once, chunk for chunk equal to a clean run."""
    import posixpath

    import plc
    from plc.datasource import PLCDataSource, PLCStreamWriter
    from plc.streaming import committed_batches

    fault, _, mode = case.partition("-")
    abort_runs = mode != "crash"

    class FaultWriter(PLCStreamWriter):
        def write(self, iterator):
            msg = super().write(iterator)
            if fault == "task":
                raise RuntimeError("injected fault after the task's file")
            return msg

        def commit(self, messages, batchId):
            if fault == "commit":
                raise OSError("injected fault before the batch manifest")
            write_atomic = self.pfs.write_atomic

            def broken(rel, write):
                def partial(f):
                    f.write(b"PAR1 truncated")
                    raise OSError("injected fault mid-manifest")

                batch = posixpath.basename(rel).startswith("batch-")
                write_atomic(rel, partial if batch else write)

            self.pfs.write_atomic = broken
            super().commit(messages, batchId)

        def abort(self, messages, batchId):
            if abort_runs:
                super().abort(messages, batchId)

    class FaultSource(PLCDataSource):
        @classmethod
        def name(cls):
            return "plc_sink_fault"

        def streamWriter(self, schema, overwrite):
            return FaultWriter(self._path(), schema,
                               self.options.get("max_chunk_values"))

    register(spark)
    spark.dataSource.register(FaultSource)
    files, clean = stream_inputs
    src, dst, ckpt = (str(tmp_path / d) for d in ("in", "store", "ckpt"))
    os.makedirs(src)
    shutil.copy(files[0], src)
    _run_stream(spark, "plc", src, dst, ckpt)
    old = _rows(spark, dst)
    before = _data_files(dst)
    assert before == _named_files(dst) and len(old) == 200

    shutil.copy(files[1], src)
    with pytest.raises(Exception, match="injected fault"):
        _run_stream(spark, "plc_sink_fault", src, dst, ckpt)
    assert committed_batches(spark, dst) == [0]
    assert os.listdir(os.path.join(dst, "_manifest", "parts")) == \
        ["batch-0.parquet"]
    assert _rows(spark, dst) == old
    assert sorted(tuple(r) for r in spark.read.format("plc").load(dst)
                  .select("doc_id", "n_tok").collect()) == old
    name = "plc_sink_fault_" + case.replace("-", "_")
    q = (spark.readStream.format("plc").load(dst).groupBy().count()
         .writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    assert spark.sql(f"select * from {name}").collect()[0]["count"] == 200
    # the failed attempt's files: gone after abort(), left by a crash
    leftover = _data_files(dst) - before
    assert bool(leftover) == (not abort_runs)
    rep = plc.gc(dst, grace_sec=0)
    assert sorted(rep["removed"]) == sorted(leftover)
    assert _data_files(dst) == before == _named_files(dst)

    _run_stream(spark, "plc", src, dst, ckpt)
    assert committed_batches(spark, dst) == [0, 1]
    want = sorted(tuple(r) for f in files for r in spark.read.parquet(f)
                  .select("doc_id", "n_tok").collect())
    assert _rows(spark, dst) == want and len(want) == 350
    assert _chunk_digests(dst) == _chunk_digests(clean)
    assert _data_files(dst) == _named_files(dst)
    assert plc.gc(dst, grace_sec=0)["removed"] == []


def _part_ids_on_disk(dst):
    return {int(d.split("=", 1)[1])
            for d in os.listdir(os.path.join(dst, "data"))
            if d.startswith("part_id=")}


def _data_files(dst):
    """Every file under the data dir, checksum sidecars included."""
    return {os.path.join(dp, f)
            for dp, _, fs in os.walk(os.path.join(dst, "data")) for f in fs}


def _sidecar(path):
    d, name = os.path.split(path)
    return os.path.join(d, f".{name}.crc")


def _plant_crc(spark, path):
    """Rewrite ``path`` through Hadoop's checksummed local filesystem,
    which leaves the valid ``.<name>.crc`` sidecar that Spark's parquet
    sink wrote next to each data file of older ``encode`` stores."""
    jvm = spark._jvm
    with open(path, "rb") as f:
        data = f.read()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration())
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    out.write(bytearray(data))
    out.close()
    assert os.path.exists(_sidecar(path))


def _named_files(dst):
    man = _read_manifest(_PlanFS(dst))
    return {os.path.join(dst, "data", f"part_id={pid}", f)
            for pid, f in zip(man.column("part_id").to_pylist(),
                              man.column("file").to_pylist()) if f}


def _chunk_digests(dst):
    """md5 of every committed chunk's payload, stats and bloom, sorted."""
    import hashlib

    def md5(v):
        return hashlib.md5(v.encode() if isinstance(v, str)
                           else v or b"").hexdigest()

    out = []
    for f in _named_files(dst):
        t = pq.read_table(f, columns=["payload", "stats", "bloom"])
        out += [tuple(md5(v) for v in r) for r in zip(
            *(t.column(c).to_pylist() for c in t.column_names))]
    return sorted(out)


def _commit_only_parts_below(dst, n):
    """Rewrite the manifest to commit only parts < n: the state of a
    store whose later parts' data was written but never committed."""
    man = _read_manifest(_PlanFS(dst))
    for f in _visible_manifests(dst):
        os.remove(f)
    pq.write_table(man.filter(pc.less(man.column("part_id"), n)),
                   os.path.join(dst, "_manifest", "parts",
                                "manifest-partial.parquet"))


def test_pipeline_data_write_fault_keeps_old_state_and_resume_converges(
        spark, src_df, monkeypatch):
    """The pipeline's Spark write job fails part-way (the encoder raises
    in one part) while resuming a store with two committed parts:
    decode, format("plc") and verify see exactly the committed parts,
    gc leaves no uncommitted part dir behind, and encode(resume=True)
    then reaches the clean run's bytes and rows."""
    import plc
    from plc import pipeline

    cfg = PipelineConfig(num_partitions=4, straggler_parts=0)
    work = tempfile.mkdtemp(prefix="plc_datafault_")
    clean, dst = work + "/clean", work + "/store"
    try:
        clean_rep = encode(spark, src_df, clean, cfg)
        want = _rows(spark, clean)
        # old state: parts 0-1 committed, parts 2-3 never were
        encode(spark, src_df, dst, cfg)
        _commit_only_parts_below(dst, 2)
        old = _rows(spark, dst)
        assert 0 < len(old) < len(want)

        real = pipeline._make_encoder

        def failing(plan, cfg):
            inner = real(plan, cfg)

            def encode_batches(batches):
                for out in inner(batches):
                    if 3 in out.column("part_id").to_pylist():
                        raise RuntimeError("injected encoder fault")
                    yield out

            return encode_batches

        with monkeypatch.context() as m:
            m.setattr(pipeline, "_make_encoder", failing)
            with pytest.raises(Exception, match="injected encoder fault"):
                encode(spark, src_df, dst, cfg, resume=True)
        assert [os.path.basename(f) for f in _visible_manifests(dst)] == \
            ["manifest-partial.parquet"]
        assert _rows(spark, dst) == old
        register(spark)
        assert spark.read.format("plc").load(dst).count() == len(old)
        res = verify(spark, src_df, dst, sample_parts=1.0)
        assert res["mismatches"] == 0 and res["rows_decoded"] == len(old)
        plc.gc(dst, grace_sec=0)
        assert _part_ids_on_disk(dst) <= {0, 1}
        assert _rows(spark, dst) == old

        rep = encode(spark, src_df, dst, cfg, resume=True)
        assert rep["enc_bytes"] == clean_rep["enc_bytes"]
        assert rep["rows"] == clean_rep["rows"]
        assert _rows(spark, dst) == want
        plc.gc(dst, grace_sec=0)
        assert _part_ids_on_disk(dst) == {0, 1, 2, 3}
        assert _rows(spark, dst) == want
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stray_file_in_committed_pipeline_part_is_invisible_and_gc_reclaims_it(
        spark, src_df):
    """An aged stray ``part-zombie.parquet`` (a copy of a real data file,
    so reading it would add rows) in a committed pipeline part dir is
    invisible to decode, format("plc"), store_agg and checksum verify;
    gc removes it and nothing else — every named file and its Hadoop
    checksum sidecar survive, and a plain Spark read still passes."""
    import time

    import plc
    from plc.datasource import store_agg

    dst = tempfile.mkdtemp(prefix="plc_stray_")
    try:
        encode(spark, src_df, dst,
               PipelineConfig(num_partitions=4, straggler_parts=0),
               mode="overwrite")
        want = _rows(spark, dst)
        pdir = os.path.join(dst, "data", "part_id=1")
        named = glob.glob(os.path.join(pdir, "*.parquet"))[0]
        # a store encoded through Spark's parquet sink has a checksum
        # sidecar next to each data file
        _plant_crc(spark, named)
        before = _data_files(dst)
        assert _sidecar(named) in before
        stray = os.path.join(pdir, "part-zombie.parquet")
        shutil.copy(named, stray)
        past = time.time() - 7200
        for f in before | {stray}:  # every file past gc's grace period
            os.utime(f, (past, past))

        assert _rows(spark, dst) == want
        register(spark)
        assert spark.read.format("plc").load(dst).count() == len(want)
        assert store_agg(spark, dst).collect()[0]["n_rows"] == len(want)
        assert verify(spark, src_df, dst)["mismatches"] == 0

        rep = plc.gc(dst, grace_sec=3600)
        assert rep["removed"] == [stray]
        assert _data_files(dst) == before
        n_chunks = pc.sum(_read_manifest(_PlanFS(dst))
                          .column("n_chunks")).as_py()
        assert spark.read.parquet(os.path.join(dst, "data")) \
            .select("chunk_idx").count() == n_chunks
        assert _rows(spark, dst) == want
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_manifest_without_file_column_is_refused(spark, src_df):
    """A manifest written before every writer named its files cannot say
    which files are committed: decode, format("plc") and
    encode(resume=True) raise a ValueError that says to re-encode, and
    re-encoding with mode='overwrite' works."""
    cfg = PipelineConfig(num_partitions=2, straggler_parts=0)
    dst = tempfile.mkdtemp(prefix="plc_oldshape_")
    try:
        encode(spark, src_df, dst, cfg, mode="overwrite")
        for f in _visible_manifests(dst):
            pq.write_table(pq.read_table(f).drop_columns(["file"]), f)
        with pytest.raises(ValueError, match="re-encode"):
            decode(spark, dst)
        register(spark)
        with pytest.raises(Exception, match="re-encode"):
            spark.read.format("plc").load(dst).count()
        with pytest.raises(ValueError, match="re-encode"):
            encode(spark, src_df, dst, cfg, resume=True)
        encode(spark, src_df, dst, cfg, mode="overwrite")
        assert verify(spark, src_df, dst)["mismatches"] == 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_noshuffle_multi_file_parts_have_one_manifest_row_per_file(
        spark, src_df):
    """encode(shuffle="none") over three round-robin input splits writes
    several data files per part: the manifest has one row per file,
    naming it, committed_parts counts distinct parts, and a part-sampled
    verify picks whole-part ranges merged over the part's files."""
    from plc.pipeline import _sampled_part_ranges

    dst = tempfile.mkdtemp(prefix="plc_multifile_")
    try:
        rep = encode(spark, src_df.repartition(3), dst,
                     PipelineConfig(num_partitions=4, straggler_parts=0,
                                    shuffle="none"), mode="overwrite")
        man = _read_manifest(_PlanFS(dst)).to_pylist()
        on_disk = {(int(os.path.basename(os.path.dirname(f))
                        .split("=", 1)[1]), os.path.basename(f))
                   for f in glob.glob(os.path.join(dst, "data", "part_id=*",
                                                   "*.parquet"))}
        assert {(r["part_id"], r["file"]) for r in man} == on_disk
        assert len(man) == len(on_disk) > 4
        assert rep["committed_parts"] == len({r["part_id"] for r in man}) \
            == 4
        assert rep["rows"] == 300

        merged = {}
        for r in man:
            lo, hi = merged.get(r["part_id"],
                                (r["min_doc_id"], r["max_doc_id"]))
            merged[r["part_id"]] = (min(lo, r["min_doc_id"]),
                                    max(hi, r["max_doc_id"]))
        for seed in (0, 1):
            ranges = _sampled_part_ranges(spark, dst, 0.5, seed)
            assert len(ranges) == 2
            assert set(ranges) <= set(merged.values())
            res = verify(spark, src_df, dst, sample_parts=0.5, seed=seed)
            assert res["mismatches"] == 0
            assert 0 < res["rows_decoded"] < 300
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_point_lookup_planning_lists_no_part_dir(spark, src_df,
                                                 monkeypatch):
    """Planning a decode point lookup resolves the committed files from
    the manifest alone: it lists no ``part_id=`` dir, on a pipeline store
    and on a format store."""
    work = tempfile.mkdtemp(prefix="plc_nolist_")
    pipe, fmt = work + "/pipe", work + "/fmt"
    try:
        encode(spark, src_df, pipe, PipelineConfig(num_partitions=4),
               mode="overwrite")
        register(spark)
        (src_df.repartitionByRange(3, "doc_id").write.format("plc")
         .mode("overwrite").save(fmt))
        key = src_df.orderBy("doc_id").limit(77).collect()[-1]["doc_id"]
        seen = []
        orig = _PlanFS.listdir

        def spy(self, rel=""):
            seen.append(rel)
            return orig(self, rel)

        monkeypatch.setattr(_PlanFS, "listdir", spy)
        for d in (pipe, fmt):
            seen.clear()
            got = decode(spark, d, doc_ids=[key]).select("doc_id").collect()
            assert [r["doc_id"] for r in got] == [key]
            assert os.path.join("_manifest", "parts") in seen, seen
            assert not [r for r in seen if "part_id=" in r], seen
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_part_writer_crash_after_file_keeps_old_state_and_resume_converges(
        spark, src_df, monkeypatch):
    """A resumed encode's task crashes right after its part writer closed
    part 3's file: decode, format("plc") and checksum verify see the old
    state, no file of the failed job is left, and encode(resume=True)
    then reaches the clean run's bytes, rows and chunks."""
    from plc import pipeline

    cfg = PipelineConfig(num_partitions=4, straggler_parts=0)
    work = tempfile.mkdtemp(prefix="plc_writerfault_")
    clean, dst = work + "/clean", work + "/store"
    try:
        clean_rep = encode(spark, src_df, clean, cfg)
        want = _rows(spark, clean)
        # old state: parts 0-2 committed; part 3's data is on disk from
        # an attempt that never committed, so only part 3 is pending
        encode(spark, src_df, dst, cfg)
        _commit_only_parts_below(dst, 3)
        old = _rows(spark, dst)
        assert 0 < len(old) < len(want)
        before = _data_files(dst)

        real = pipeline._write_part_files

        def failing(pfs, jobid, rows):
            for m in real(pfs, jobid, rows):
                yield m
                if m.part_id == 3:
                    raise RuntimeError("injected part-writer fault")

        with monkeypatch.context() as m:
            m.setattr(pipeline, "_write_part_files", failing)
            with pytest.raises(Exception, match="injected part-writer"):
                encode(spark, src_df, dst, cfg, resume=True)
        assert _data_files(dst) == before  # no file of the failed job
        assert [os.path.basename(f) for f in _visible_manifests(dst)] == \
            ["manifest-partial.parquet"]
        assert _rows(spark, dst) == old
        register(spark)
        assert spark.read.format("plc").load(dst).count() == len(old)
        res = verify(spark, src_df, dst, sample_parts=1.0)
        assert res["mismatches"] == 0 and res["rows_decoded"] == len(old)

        rep = encode(spark, src_df, dst, cfg, resume=True)
        assert rep["enc_bytes"] == clean_rep["enc_bytes"]
        assert rep["rows"] == clean_rep["rows"]
        assert _rows(spark, dst) == want
        assert _chunk_digests(dst) == _chunk_digests(clean)
        # the uncommitted attempt's part-3 file is swept at commit
        assert _data_files(dst) == _named_files(dst)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_zombie_file_after_commit_is_invisible_and_gc_removes_only_it(
        spark, src_df):
    """A task attempt of another job that finishes after the commit
    lands a file with a foreign job id in a committed part dir: every
    reader ignores it and gc(grace_sec=0) removes it and nothing else."""
    import plc
    from plc.datasource import store_agg

    dst = tempfile.mkdtemp(prefix="plc_zombie_")
    try:
        encode(spark, src_df, dst,
               PipelineConfig(num_partitions=4, straggler_parts=0),
               mode="overwrite")
        want = _rows(spark, dst)
        before = _data_files(dst)
        assert before == _named_files(dst)
        pdir = os.path.join(dst, "data", "part_id=1")
        zombie = os.path.join(pdir, "part-00001-0123456789ab-ba9876543210"
                                    ".parquet")
        shutil.copy(glob.glob(os.path.join(pdir, "*.parquet"))[0], zombie)

        assert _rows(spark, dst) == want
        register(spark)
        assert spark.read.format("plc").load(dst).count() == len(want)
        assert store_agg(spark, dst).collect()[0]["n_rows"] == len(want)
        assert verify(spark, src_df, dst)["mismatches"] == 0

        assert plc.gc(dst, grace_sec=0)["removed"] == [zombie]
        assert _data_files(dst) == before
        assert _rows(spark, dst) == want
    finally:
        shutil.rmtree(dst, ignore_errors=True)


@pytest.mark.parametrize("fault", [OSError, RuntimeError],
                         ids=["io_error", "crash"])
def test_gc_stopped_mid_sweep_keeps_store_and_rerun_finishes(
        spark, src_df, monkeypatch, fault):
    """gc's delete_file fails after k deletions — an IO error gc steps
    over, or a crash that stops it: the store still reads exactly, and a
    second gc removes every remaining unnamed file and the uncommitted
    part dir."""
    import pyarrow.fs as pafs

    import plc

    dst = tempfile.mkdtemp(prefix="plc_gcfault_")
    try:
        encode(spark, src_df, dst,
               PipelineConfig(num_partitions=4, straggler_parts=0),
               mode="overwrite")
        want = _rows(spark, dst)
        named = _data_files(dst)
        strays = []
        for pid in (0, 2, 3, 7):
            pdir = os.path.join(dst, "data", f"part_id={pid}")
            os.makedirs(pdir, exist_ok=True)
            strays.append(os.path.join(pdir, f"part-stray-{pid}.parquet"))
            shutil.copy(sorted(named)[0], strays[-1])

        deleted = []

        class FailingFS(pafs.LocalFileSystem):
            def delete_file(self, path):
                if len(deleted) == 2:
                    raise fault("injected delete fault")
                super().delete_file(path)
                deleted.append(path)

        orig = _PlanFS._resolve

        def resolve(self, path):
            orig(self, path)
            self.fs = FailingFS()

        with monkeypatch.context() as m:
            m.setattr(_PlanFS, "_resolve", resolve)
            if fault is OSError:
                assert len(plc.gc(dst, grace_sec=0)["removed"]) == 2
            else:
                with pytest.raises(RuntimeError, match="injected delete"):
                    plc.gc(dst, grace_sec=0)
        assert len(deleted) == 2 and set(deleted) < set(strays)
        assert _rows(spark, dst) == want
        register(spark)
        assert spark.read.format("plc").load(dst).count() == len(want)

        rep = plc.gc(dst, grace_sec=0)
        assert sorted(rep["removed"]) == sorted(set(strays) - set(deleted))
        assert _data_files(dst) == named
        assert _part_ids_on_disk(dst) == {0, 1, 2, 3}
        assert _rows(spark, dst) == want
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_format_overwrite_sweeps_sidecars_and_unused_part_dirs(spark,
                                                               src_df):
    """A format("plc") overwrite of a 6-part store whose data files have
    Hadoop checksum sidecars (as every store encoded through Spark's
    parquet sink has) with a 2-part write leaves no sidecar of a
    replaced file and no part dir the new manifest does not use."""
    dst = tempfile.mkdtemp(prefix="plc_sidecars_")
    try:
        encode(spark, src_df, dst,
               PipelineConfig(num_partitions=6, straggler_parts=0),
               mode="overwrite")
        for f in _named_files(dst):
            _plant_crc(spark, f)
        assert _part_ids_on_disk(dst) == set(range(6))

        register(spark)
        (src_df.repartitionByRange(2, "doc_id").write.format("plc")
         .mode("overwrite").save(dst))
        assert _part_ids_on_disk(dst) == {0, 1}
        assert _data_files(dst) == _named_files(dst)
        assert spark.read.format("plc").load(dst).count() == 300
        assert _rows(spark, dst) == sorted(
            tuple(r) for r in src_df.select("doc_id", "n_tok").collect())
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_encode_commit_reads_the_manifest_at_most_once(spark, src_df,
                                                       monkeypatch):
    """A fresh encode reads no manifest and a resume reads it once, in
    its head: the commit's sweep and report come from the appended rows
    plus the rows the resume read. Both reports equal the totals of the
    manifest on disk, and the resumed store equals a fresh one."""
    from plc import datasource, pipeline
    from plc.datasource import _SUM_COLS

    calls = []
    real = datasource._read_manifest

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    def on_disk(dst, newly_encoded):
        man = real(_PlanFS(dst), ["part_id", *_SUM_COLS])
        raw, enc = (pc.sum(man[c]).as_py() for c in ("raw_bytes",
                                                      "enc_bytes"))
        return {"n_parts": 4,
                "committed_parts": pc.count_distinct(man["part_id"]).as_py(),
                "newly_encoded": newly_encoded,
                "rows": pc.sum(man["n_rows"]).as_py(),
                "tokens": pc.sum(man["n_tokens"]).as_py(),
                "raw_bytes": raw, "enc_bytes": enc, "ratio": raw / enc}

    cfg = PipelineConfig(num_partitions=4, straggler_parts=0)
    work = tempfile.mkdtemp(prefix="plc_commitreads_")
    clean, dst = work + "/clean", work + "/store"
    try:
        for mod in (datasource, pipeline):
            monkeypatch.setattr(mod, "_read_manifest", spy)
        rep = encode(spark, src_df, clean, cfg)
        assert calls == []
        rep.pop("data_path_sec")
        assert rep == on_disk(clean, 4)

        monkeypatch.undo()
        encode(spark, src_df, dst, cfg)
        _commit_only_parts_below(dst, 2)
        for mod in (datasource, pipeline):
            monkeypatch.setattr(mod, "_read_manifest", spy)
        rep = encode(spark, src_df, dst, cfg, resume=True)
        assert len(calls) == 1
        rep.pop("data_path_sec")
        assert rep == on_disk(dst, 2)
        assert (rep["rows"], rep["enc_bytes"]) == (300, on_disk(
            clean, 4)["enc_bytes"])
        assert _data_files(dst) == _named_files(dst)
    finally:
        shutil.rmtree(work, ignore_errors=True)
