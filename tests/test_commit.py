"""Commit-protocol and metadata-path tests: manifests become visible
atomically (fault injection into the manifest write), every reader
resolves committed files the same way (no semi-join fallback, also for
stores with empty parts), read errors surface instead of being
swallowed, and unsupported URIs fail with a clear error."""

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
        man = _read_manifest(_PlanFS(dst))
        for f in _visible_manifests(dst):
            os.remove(f)
        pq.write_table(man.filter(pc.less(man.column("part_id"), 2)),
                       os.path.join(dst, "_manifest", "parts",
                                    "manifest-partial.parquet"))
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
                _commit_store(_PlanFS(dst), "", msgs, plan["weight_col"],
                              schema)
        assert [os.path.basename(f) for f in _visible_manifests(dst)] == \
            ["manifest-0.parquet"]
        assert _rows(spark, dst) == old
        assert spark.read.format("plc").load(dst).count() == len(old)

        _commit_store(_PlanFS(dst), "", msgs, plan["weight_col"], schema)
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


@pytest.mark.parametrize("abort_runs", [True, False],
                         ids=["abort", "crash"])
def test_stream_marker_fault_hides_batch_and_replay_commits_once(
        spark, tmp_path, abort_runs):
    """The stream sink's last commit step under a fault: the batch's
    manifest is committed, then its ``_STREAM_COMMITTED`` marker write
    fails — with Spark's abort() running afterwards, or skipped as in a
    driver crash. The batch stays invisible to ``committed_batches``,
    the batch reader and ``readStream``; re-running the query on the same
    checkpoint commits it exactly once; ``gc`` then removes no file that
    a committed manifest names."""
    from plc.datasource import (_MARKER_REL, PLCDataSource, PLCStreamWriter,
                                gc)
    from plc.streaming import committed_batches

    class MarkerFaultWriter(PLCStreamWriter):
        def commit(self, messages, batchId):
            write_atomic = self.pfs.write_atomic

            def broken(rel, write):
                if rel.endswith(_MARKER_REL):
                    raise OSError("injected fault at the commit marker")
                write_atomic(rel, write)

            self.pfs.write_atomic = broken
            super().commit(messages, batchId)

        def abort(self, messages, batchId):
            if abort_runs:
                super().abort(messages, batchId)

    class MarkerFaultSource(PLCDataSource):
        @classmethod
        def name(cls):
            return "plc_marker_fault"

        def streamWriter(self, schema, overwrite):
            return MarkerFaultWriter(self._path(), schema,
                                     self.options.get("max_chunk_values"))

    register(spark)
    spark.dataSource.register(MarkerFaultSource)
    src, dst, ckpt = (str(tmp_path / d) for d in ("in", "store", "ckpt"))
    os.makedirs(src)
    schema = "doc_id string, tokens array<int>, n_tok int, source string"

    def run(fmt):
        q = (spark.readStream.schema(schema).parquet(src)
             .writeStream.format(fmt).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start(dst))
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    def stream_count():
        q = (spark.readStream.format("plc").load(dst).groupBy().count()
             .writeStream.outputMode("complete").format("memory")
             .queryName("plc_marker_fault_rs").trigger(availableNow=True)
             .start())
        q.awaitTermination(300)
        return spark.sql("select * from plc_marker_fault_rs") \
            .collect()[0]["count"]

    D.synth_tokens_parquet(os.path.join(src, "f0.parquet"), 200, seed=1)
    run("plc")
    first = spark.read.parquet(src).count()
    assert committed_batches(spark, dst) == [(0, f"{dst}/batch=0")]

    D.synth_tokens_parquet(os.path.join(src, "f1.parquet"), 150, seed=2)
    with pytest.raises(Exception, match="injected fault at the commit"):
        run("plc_marker_fault")
    manifest = os.path.join(dst, "batch=1", "_manifest", "parts",
                            "manifest-0.parquet")
    # abort() drops the unmarked batch dir; after a crash the committed
    # manifest is still there, without its marker
    assert os.path.exists(manifest) is not abort_runs
    assert not os.path.exists(os.path.join(dst, "batch=1", _MARKER_REL))
    assert committed_batches(spark, dst) == [(0, f"{dst}/batch=0")]
    assert spark.read.format("plc").load(dst).count() == first
    assert stream_count() == first

    run("plc")
    src_rows = sorted(tuple(r) for r in spark.read.parquet(src)
                      .select("doc_id", "n_tok").collect())
    got = sorted(tuple(r) for r in spark.read.format("plc").load(dst)
                 .select("doc_id", "n_tok").collect())
    assert got == src_rows and len(got) == 350
    assert [b for b, _ in committed_batches(spark, dst)] == [0, 1]

    def named_files():
        out = set()
        for bid in (0, 1):
            rel = f"batch={bid}"
            man = _read_manifest(_PlanFS(dst), rel)
            for pid, f in zip(man.column("part_id").to_pylist(),
                              man.column("file").to_pylist()):
                if f:
                    out.add(os.path.join(dst, rel, "data",
                                         f"part_id={pid}", f))
        return out

    named = named_files()
    assert named and all(os.path.exists(f) for f in named)
    rep = gc(dst, grace_sec=0)
    assert not named & set(rep["removed"])
    assert all(os.path.exists(f) for f in named)
    assert named_files() == named
    assert spark.read.format("plc").load(dst).count() == 350
