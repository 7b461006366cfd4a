"""spark.read.format("plc") — the Python DataSource over the chunk store
(plc/datasource.py): schema, full-table equality, Catalyst column pruning,
filter pushdown → chunk pruning, zero-column count(*), typed columns."""

import glob
import os
import re
import shutil
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq

import pytest
from pyspark.sql import functions as F

from plc.pipeline import PipelineConfig, encode


@pytest.fixture(scope="module")
def store(spark):
    import __spark_entry__ as E

    src = E.tokens_view(spark, "/root/testdata/sf0.01")
    dst = tempfile.mkdtemp(prefix="plc_ds_store_")
    encode(spark, src, dst,
           PipelineConfig(num_partitions=6, straggler_parts=0,
                          max_chunk_values=20_000), mode="overwrite")
    from plc.datasource import register

    register(spark)
    yield src, dst
    shutil.rmtree(dst, ignore_errors=True)


def test_format_roundtrip_and_projection(spark, store):
    src, dst = store
    df = spark.read.format("plc").load(dst)
    assert df.schema == src.schema or set(df.columns) == set(src.columns)
    assert df.count() == src.count()

    def sig(d):
        return d.agg(F.sum(F.xxhash64("doc_id", "n_tok", "source",
                                      F.col("tokens").cast("string"))
                           .cast("decimal(38,0)")).alias("h"),
                     F.count("*").alias("n")).collect()[0]

    assert sig(df) == sig(src)


def test_format_filter_pushdown_prunes(spark, store):
    src, dst = store
    from plc.datasource import PLCReader, _load_plan
    from pyspark.sql.datasource import GreaterThan
    from pyspark.sql.types import StructType

    df = spark.read.format("plc").load(dst)
    tau = 30
    got = df.where(F.col("n_tok") > tau).count()
    want = src.where(F.col("n_tok") > tau).count()
    assert got == want
    # planner-level: the pushed bound must drop at least one chunk
    schema = StructType.fromJson(_load_plan(dst)["schema"])
    r_all = PLCReader(dst, schema)
    n_all = len(r_all.partitions())
    r_f = PLCReader(dst, schema)
    list(r_f.pushFilters([GreaterThan(("n_tok",), 98)]))
    n_pruned = len(r_f.partitions())
    assert n_pruned < n_all, (n_pruned, n_all)


def test_format_in_filter_batch_lookup(spark, store):
    """A pushed ``doc_id IN (...)`` prunes with per-key bloom probes: keys
    absent from the store leave zero partitions even when their values sit
    inside chunk min/max ranges, and a real IN query matches the source."""
    from plc.datasource import PLCReader, _load_plan
    from pyspark.sql.datasource import In
    from pyspark.sql.types import StructType

    src, dst = store
    real = [r["doc_id"] for r in
            src.select("doc_id").orderBy("doc_id").limit(40).collect()]
    keys = real[::13][:3]
    df = spark.read.format("plc").load(dst)
    got = sorted(r["doc_id"] for r in
                 df.where(F.col("doc_id").isin(keys))
                 .select("doc_id").collect())
    assert got == sorted(keys)
    schema = StructType.fromJson(_load_plan(dst)["schema"])
    # absent keys inside the range: bloom must prune every chunk
    r_miss = PLCReader(dst, schema)
    list(r_miss.pushFilters([In(("doc_id",),
                                tuple(k + "-absent" for k in keys))]))
    assert len(r_miss.partitions()) == 0
    # present keys: some chunk survives
    r_hit = PLCReader(dst, schema)
    list(r_hit.pushFilters([In(("doc_id",), tuple(keys))]))
    assert len(r_hit.partitions()) >= 1


def test_planner_reads_stats_lazily_and_scales(spark):
    """VERDICT r3 #2 done-criteria: (a) the planner reads only the typed
    range columns unless a pushed filter needs the stats JSON/bloom —
    at ~10^5 files the stats column (with its up-to-256 KB blooms) is the
    difference between seconds and minutes of driver wall; (b) planning
    ~200 files through the thread pool stays well under a serial footer
    walk's wall."""
    import time

    import __spark_entry__ as E
    from plc.datasource import PLCReader, _load_plan, _PlanFS
    from pyspark.sql.datasource import EqualTo, GreaterThan
    from pyspark.sql.types import StructType

    src = E.tokens_view(spark, "/root/testdata/sf0.01")
    dst = tempfile.mkdtemp(prefix="plc_ds_many_")
    try:
        # ~200 part files: one file per range partition
        encode(spark, src, dst,
               PipelineConfig(num_partitions=200, straggler_parts=0),
               mode="overwrite")
        n_files = len(glob.glob(os.path.join(dst, "data", "part_id=*",
                                             "*.parquet")))
        assert n_files >= 150, n_files
        schema = StructType.fromJson(_load_plan(dst)["schema"])

        reads = []
        orig = _PlanFS.read_parquet

        def spy(self, path, columns):
            # columns=None = whole-table read (manifest entry listing)
            reads.append(tuple(columns) if columns is not None else None)
            return orig(self, path, columns)

        _PlanFS.read_parquet = spy
        try:
            # range-only filter: stats JSON must never be fetched
            r = PLCReader(dst, schema)
            list(r.pushFilters([GreaterThan(("n_tok",), 10)]))
            t0 = time.perf_counter()
            parts = r.partitions()
            wall = time.perf_counter() - t0
            assert parts  # the filter keeps data
            assert not any(c is not None and "stats" in c for c in reads), \
                "stats JSON read without a stats-needing filter"
            # equality probe: blooms ARE consulted, but only for files
            # whose chunks survived the range test
            reads.clear()
            probe = src.agg(F.min("doc_id")).collect()[0][0]
            r2 = PLCReader(dst, schema)
            list(r2.pushFilters([EqualTo(("doc_id",), probe)]))
            r2.partitions()
            n_stats = sum(1 for c in reads
                          if c is not None and "stats" in c)
            assert 1 <= n_stats < n_files / 2, n_stats
        finally:
            _PlanFS.read_parquet = orig
        # (b) wall bound: a serial walk at the measured per-file cost
        # (~10-30 ms each incl. open+footer) would be >> this; the pooled
        # planner at 200 files stays in single-digit seconds even under
        # tenant load
        assert wall < 8.0, f"planning {n_files} files took {wall:.1f}s"
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_format_prefix_pushdown(spark):
    """StringStartsWith pushdown: `startswith`/`LIKE 'p%'` prunes chunks
    via the [prefix, prefix+ε) range — the access pattern of the
    cell-prefixed IVF store (doc_id = 'c<cell>-<id>')."""
    from plc.datasource import PLCReader, _load_plan, _prefix_upper, register
    from pyspark.sql.datasource import StringStartsWith
    from pyspark.sql.types import StructType

    # bound helper edge cases first
    assert _prefix_upper("c00012-") == "c00012." # '-'+1 == '.'
    assert _prefix_upper("ab\U0010ffff") == "ac"
    assert _prefix_upper("\U0010ffff") is None

    df = spark.range(400).select(
        F.format_string("c%05d-%06d", (F.col("id") / 100).cast("int"), "id")
        .alias("doc_id"), F.lit("x").alias("source"))
    dst = tempfile.mkdtemp(prefix="plc_ds_prefix_")
    register(spark)
    try:
        (df.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")
         .write.format("plc").option("max_chunk_values", "100")
         .mode("overwrite").save(dst))
        out = spark.read.format("plc").load(dst) \
            .where(F.col("doc_id").startswith("c00002-"))
        assert out.count() == 100
        schema = StructType.fromJson(_load_plan(dst)["schema"])
        r_all = PLCReader(dst, schema)
        n_all = len(r_all.partitions())
        r_p = PLCReader(dst, schema)
        list(r_p.pushFilters([StringStartsWith(("doc_id",), "c00002-")]))
        n_pruned = len(r_p.partitions())
        assert 1 <= n_pruned < n_all, (n_pruned, n_all)
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_partitions_track_chunks_not_files(spark):
    """A store with ONE big part file still fans out: surviving chunks
    are sliced into ≤ _CHUNKS_PER_PART partitions so scan parallelism
    tracks data volume, not file count — on a cluster, a 4-file store
    must not decode as 4 tasks."""
    import __spark_entry__ as E
    from plc.datasource import (PLCReader, _CHUNKS_PER_PART, _load_plan,
                                register)
    from pyspark.sql.types import StructType

    src = E.tokens_view(spark, "/root/testdata/sf0.01")
    dst = tempfile.mkdtemp(prefix="plc_ds_onefile_")
    try:
        encode(spark, src, dst,
               PipelineConfig(num_partitions=1, straggler_parts=0,
                              max_chunk_values=4_000), mode="overwrite")
        n_files = len(glob.glob(os.path.join(dst, "data", "part_id=*",
                                             "*.parquet")))
        schema = StructType.fromJson(_load_plan(dst)["schema"])
        parts = PLCReader(dst, schema).partitions()
        assert len(parts) > n_files  # more tasks than files
        assert all(len(p.rows) <= _CHUNKS_PER_PART for p in parts)
        # and the sliced read still returns every row exactly once
        register(spark)
        assert spark.read.format("plc").load(dst).count() == src.count()
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_read_selected_touches_only_needed_row_groups():
    """_read_selected maps global row indices to row groups and reads
    only those — the K-chunk/one-file fan-out must not cost ceil(K/4)
    full-file reads."""
    import pyarrow as pa

    from plc.datasource import _PlanFS, _read_selected

    d = tempfile.mkdtemp(prefix="plc_rgsel_")
    try:
        f = os.path.join(d, "t.parquet")
        tbl = pa.table({"v": list(range(20))})
        pq.write_table(tbl, f, row_group_size=3)  # 7 row groups
        pfs = _PlanFS(d)
        got, local = _read_selected(pfs, f, ["v"], [4, 17, 5])
        vals = got.column("v").to_pylist()
        assert [vals[i] for i in local] == [4, 17, 5]
        # only the two needed row groups were read (rows 3..5 and 15..17)
        assert got.num_rows == 6
        # full read path (rows=None) unchanged
        full, loc = _read_selected(pfs, f, ["v"], None)
        assert loc is None and full.num_rows == 20
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_format_written_store_supports_sampled_verify(spark):
    """Regression: a format store's plan holds no part bounds (only the
    schema, weight column and writer), so sampled verify must derive
    part ranges from the MANIFEST, not the plan (it crashed with
    IndexError when it read plan bounds)."""
    from plc.datasource import register
    from plc.pipeline import verify

    register(spark)
    df = spark.range(300).select(
        F.format_string("d%06d", "id").alias("doc_id"),
        F.lit("s").alias("source"))
    dst = tempfile.mkdtemp(prefix="plc_ds_sv_") + "/store"
    try:
        (df.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")
         .write.format("plc").mode("overwrite").save(dst))
        res = verify(spark, df, dst, sample_parts=0.5)
        assert res["mismatches"] == 0 and res["rows_source"] > 0
        assert verify(spark, df, dst)["mismatches"] == 0
    finally:
        shutil.rmtree(os.path.dirname(dst), ignore_errors=True)


def test_format_plan_holds_schema_weight_and_writer(spark):
    """A format store's plan.json is the stream plan's shape; a store
    whose plan still carries the encode-only fields an older format
    writer wrote (n_parts, bounds, tau, straggler_parts, total_rows)
    reads the same."""
    import json

    from plc.datasource import register
    from plc.pipeline import decode

    register(spark)
    df = spark.range(50).select(
        F.format_string("d%04d", "id").alias("doc_id"),
        F.col("id").cast("int").alias("n_tok"))
    dst = tempfile.mkdtemp(prefix="plc_ds_plan_") + "/store"
    try:
        df.repartition(2).write.format("plc").mode("overwrite").save(dst)
        path = os.path.join(dst, "_manifest", "plan.json")
        with open(path) as f:
            plan = json.load(f)
        assert plan == {"schema": df.schema.jsonValue(),
                        "weight_col": "n_tok", "writer": "format"}
        with open(path, "w") as f:
            json.dump({**plan, "n_parts": 2, "bounds": [],
                       "tau": 2**31 - 1, "straggler_parts": 0,
                       "total_rows": 50}, f)
        want = sorted(tuple(r) for r in df.collect())
        assert sorted(tuple(r) for r in
                      spark.read.format("plc").load(dst).collect()) == want
        assert sorted(tuple(r) for r in decode(spark, dst).collect()) == want
    finally:
        shutil.rmtree(os.path.dirname(dst), ignore_errors=True)


def test_format_count_star_is_metadata_only(spark, store):
    src, dst = store
    df = spark.read.format("plc").load(dst)
    assert df.selectExpr("count(*)").collect()[0][0] == src.count()


def test_format_reads_timestamps(spark):
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .withColumn("doc_id", F.format_string("ev-%012d", "event_id")))
    dst = tempfile.mkdtemp(prefix="plc_ds_ev_")
    try:
        encode(spark, ev, dst, PipelineConfig(num_partitions=2,
                                              straggler_parts=0),
               mode="overwrite")
        from plc.datasource import register

        register(spark)
        df = spark.read.format("plc").load(dst)
        assert dict(df.dtypes)["ts"] == dict(ev.dtypes)["ts"]
        a = df.agg(F.min("ts"), F.max("ts"), F.count("*")).collect()
        b = ev.agg(F.min("ts"), F.max("ts"), F.count("*")).collect()
        assert a == b
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_format_ignores_uncommitted_parts(spark, store):
    src, dst = store
    # simulate a crashed encode: a data part dir with no manifest entry
    import pyarrow.parquet as pq

    part_files = glob.glob(os.path.join(dst, "data", "part_id=0",
                                        "*.parquet"))
    fake = os.path.join(dst, "data", "part_id=99")
    os.makedirs(fake, exist_ok=True)
    try:
        shutil.copy(part_files[0], os.path.join(fake, "stale.parquet"))
        df = spark.read.format("plc").load(dst)
        assert df.count() == src.count()  # stale part invisible
    finally:
        shutil.rmtree(fake, ignore_errors=True)


def test_format_write_roundtrip(spark, store):
    """df.write.format('plc') — the declarative encode: range-partitioned
    write, then verify() against the source and read back via the format,
    decode() and metrics() all on the same store."""
    from plc.pipeline import metrics, verify

    src, _ = store
    work = tempfile.mkdtemp(prefix="plc_ds_write_")
    dst = os.path.join(work, "store")
    try:
        (src.repartitionByRange(4, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.format("plc").mode("overwrite").save(dst))
        assert verify(spark, src, dst)["mismatches"] == 0
        assert spark.read.format("plc").load(dst).count() == src.count()
        assert metrics(spark, dst).count() == 4  # one part per partition
        # overwrite replaces state; a second write must not duplicate
        (src.limit(100).repartition(2)
            .write.format("plc").mode("overwrite").save(dst))
        assert spark.read.format("plc").load(dst).count() == 100
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_format_write_requires_doc_id(spark, store):
    src, _ = store
    work = tempfile.mkdtemp(prefix="plc_ds_write_nodoc_")
    try:
        with pytest.raises(Exception, match="doc_id"):
            (src.drop("doc_id").write.format("plc").mode("overwrite")
                .save(os.path.join(work, "s")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_format_stream_read(spark):
    """spark.readStream.format('plc') tails a writeStream.format('plc')
    root: committed batches feed micro-batches (executor-side
    decode), and the aggregate matches the batch ground truth."""
    import __spark_entry__ as E
    from plc.datasource import register

    register(spark)
    work = tempfile.mkdtemp(prefix="plc_ds_stream_")
    src_dir = os.path.join(work, "in")
    os.makedirs(src_dir)
    dst = os.path.join(work, "store")
    try:
        tv = E.tokens_view(spark, "/root/testdata/sf0.001").limit(200)
        tv.write.parquet(os.path.join(src_dir, "f1"))
        stream = (spark.readStream.schema(tv.schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(src_dir + "/*"))
        q = (stream.writeStream.format("plc")
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .trigger(availableNow=True).start(dst))
        q.awaitTermination(180)
        sq = (spark.readStream.format("plc").load(dst)
              .groupBy("source").agg(F.count("*").alias("n"))
              .writeStream.outputMode("complete").format("memory")
              .queryName("plc_ds_stream_t").trigger(availableNow=True)
              .start())
        sq.awaitTermination(180)
        got = {r["source"]: r["n"]
               for r in spark.sql("select * from plc_ds_stream_t").collect()}
        want = {r["source"]: r["n"] for r in
                tv.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)


@pytest.fixture(scope="module")
def prune_stores(spark):
    """One source table (doc_id with absent odd ids between the stored
    even ones, n_tok weight, a nullable string column, a UTC timestamp)
    encoded three ways: the pipeline, the format writer, and a
    ``shuffle="none"`` encode of round-robin input — every part dir of
    that one holds two task files whose chunk_idx both start at 0."""
    import datetime

    import numpy as np
    import pyarrow as pa

    from plc.datasource import register

    rng = np.random.default_rng(5)
    n = 3000
    n_tok = rng.integers(1, 50, n)
    t0 = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
    tbl = pa.table({
        "doc_id": [f"d{2 * i:06d}" for i in range(n)],
        "tokens": pa.array([list(range(k)) for k in n_tok],
                           pa.list_(pa.int32())),
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array([None if i % 11 == 0 else
                            ("web", "book", "code")[i * 7 % 3]
                            for i in range(n)], pa.string()),
        "ts": pa.array([t0 + datetime.timedelta(minutes=17 * i)
                        for i in range(n)], pa.timestamp("us", tz="UTC")),
    })
    work = tempfile.mkdtemp(prefix="plc_prune_")
    pq.write_table(tbl, work + "/src.parquet")
    df = spark.read.parquet(work + "/src.parquet")
    register(spark)
    stores = {"pipeline": work + "/pipe", "format": work + "/fmt",
              "none": work + "/none"}
    encode(spark, df, stores["pipeline"],
           PipelineConfig(num_partitions=4, straggler_parts=0,
                          max_chunk_values=2000), mode="overwrite")
    (df.repartition(3).write.format("plc")
     .option("max_chunk_values", "2000").mode("overwrite")
     .save(stores["format"]))
    encode(spark, df.repartition(2), stores["none"],
           PipelineConfig(num_partitions=3, straggler_parts=0,
                          shuffle="none", max_chunk_values=2000),
           mode="overwrite")
    yield tbl, stores
    shutil.rmtree(work, ignore_errors=True)


@pytest.fixture(scope="module")
def prune_more_stores(spark, prune_stores):
    """``prune_stores``' table in two more shapes: a format store of two
    files whose doc_id ranges overlap plus zero-row marker rows (empty
    writer tasks), and a stream root of three sink batches, one per
    contiguous third of the doc_ids."""
    from plc.datasource import _PlanFS, _read_manifest

    tbl, stores = prune_stores
    work = os.path.dirname(stores["pipeline"])
    df = spark.read.parquet(work + "/src.parquet")
    more = {"markers": work + "/markers", "stream": work + "/stream"}
    (df.repartition(6, F.col("n_tok") % 2).write.format("plc")
     .option("max_chunk_values", "2000").mode("overwrite")
     .save(more["markers"]))
    man = _read_manifest(_PlanFS(more["markers"])).to_pylist()
    files = [m for m in man if m["file"] is not None]
    assert len(files) == 2 and len(man) > 2, man
    assert files[0]["min_doc_id"] <= files[1]["max_doc_id"] \
        and files[1]["min_doc_id"] <= files[0]["max_doc_id"], files
    src = work + "/stream_in"
    os.makedirs(src)
    for i in range(3):
        pq.write_table(tbl.slice(1000 * i, 1000),
                       f"{src}/part-{i}.parquet")
    q = (spark.readStream.schema(df.schema)
         .option("maxFilesPerTrigger", "1").parquet(src)
         .writeStream.format("plc").option("max_chunk_values", "2000")
         .option("checkpointLocation", work + "/stream_ckpt")
         .trigger(availableNow=True).start(more["stream"]))
    q.awaitTermination(300)
    q.stop()
    assert len(glob.glob(more["stream"] + "/_manifest/parts/batch-*")) == 3
    return more


def _format_rows(spark, dst, kw, batch_ids=None) -> list:
    """(doc_id, n_tok) rows of ``decode(**kw)`` read through
    ``format("plc")`` (pinned to ``batch_ids`` when given): single
    ranges and ``doc_ids`` as DataFrame filters the reader's
    ``pushFilters`` gets, multi-ranges as the ``filters`` option."""
    import json

    reader = spark.read.format("plc")
    if batch_ids is not None:
        reader = reader.option("batch_ids", ",".join(map(str, batch_ids)))
    filters = dict(kw.get("filters", {}))
    if "doc_id_min" in kw:
        filters["doc_id"] = (kw["doc_id_min"], kw["doc_id_max"])
    multi = {c: v for c, v in filters.items() if isinstance(v, list)}
    if multi:
        reader = reader.option("filters", json.dumps(multi))
    df = reader.load(dst)
    for col, spec in filters.items():
        if col not in multi:
            lo, hi = spec
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
    if "doc_ids" in kw:
        df = df.filter(F.col("doc_id").isin(kw["doc_ids"]))
    return sorted((r["doc_id"], r["n_tok"]) for r in
                  df.select("doc_id", "n_tok").collect())


def _store_chunks(dst: str) -> dict:
    """(part_id, file name, chunk_idx) → the chunk's doc_ids, for every
    committed chunk of a store, decoded with pyarrow."""
    from plc.chunk import unpack_chunk
    from plc.datasource import _PlanFS, _committed_data_files

    files = _committed_data_files(_PlanFS(dst))
    out = {}
    for f in files:
        pid = int(os.path.basename(os.path.dirname(f)).split("=")[1])
        t = pq.read_table(f, columns=["chunk_idx", "payload"])
        for ci, blob in zip(t.column("chunk_idx").to_pylist(),
                            t.column("payload").to_pylist()):
            key = (pid, os.path.basename(f), ci)
            assert key not in out, f"chunk {key} is not file-unique"
            out[key] = set(unpack_chunk(blob, columns=["doc_id"])
                           .column("doc_id").to_pylist())
    return out


def _expected_mask(tbl, doc_id_min=None, doc_id_max=None, filters=None,
                   doc_ids=None):
    """The rows a decode with these arguments must return, as a pyarrow
    mask over the source table (NULLs never match a range)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = pa.array([True] * tbl.num_rows)
    if doc_id_min is not None:
        m = pc.and_(m, pc.greater_equal(tbl["doc_id"], doc_id_min))
    if doc_id_max is not None:
        m = pc.and_(m, pc.less_equal(tbl["doc_id"], doc_id_max))
    if doc_ids is not None:
        m = pc.and_(m, pc.is_in(tbl["doc_id"], pa.array(doc_ids)))
    for col, spec in (filters or {}).items():
        ranges = spec if isinstance(spec, list) else [spec]
        cm = pa.array([False] * tbl.num_rows)
        for lo, hi in ranges:
            rm = pa.array([True] * tbl.num_rows)
            if lo is not None:
                rm = pc.and_(rm, pc.greater_equal(tbl[col], lo))
            if hi is not None:
                rm = pc.and_(rm, pc.less_equal(tbl[col], hi))
            cm = pc.or_(cm, pc.fill_null(rm, False))
        m = pc.and_(m, cm)
    return m


def _prune_preds(tbl) -> tuple[list, list]:
    """(absent keys, the decode predicate matrix) over ``prune_stores``:
    doc_id point / absent point / range, ``doc_ids`` with absent keys,
    weight, string, UTC temporal and multi-range predicates."""
    import datetime

    ids = tbl["doc_id"].to_pylist()
    absent = [f"d{2 * i + 1:06d}" for i in (10, 700, 2999)]
    utc = datetime.timezone.utc
    return absent, [
        {"filters": {"doc_id": (ids[1234], ids[1234])}},
        {"filters": {"doc_id": (absent[1], absent[1])}},
        {"doc_id_min": ids[500], "doc_id_max": ids[900]},
        {"doc_ids": ids[::97] + absent},
        {"doc_ids": absent},
        {"filters": {"n_tok": (10, 12)}},
        {"filters": {"source": ("book", "book")}},
        {"filters": {"ts": (datetime.datetime(2024, 3, 10, tzinfo=utc),
                            datetime.datetime(2024, 3, 12, tzinfo=utc))}},
        {"filters": {"n_tok": [(1, 2), (48, None)],
                     "doc_id": [(ids[100], ids[300]),
                                (ids[2000], None)]}},
    ]


def test_planner_no_false_negatives(spark, prune_stores,
                                    prune_more_stores):
    """Every chunk holding a matching row survives select_chunks, and
    decode returns exactly the pyarrow-filtered rows — for point, range,
    IN-list (with absent keys), weight, string, temporal and multi-range
    predicates on a pipeline store, a format store, a shuffle="none"
    store whose part dirs hold files with overlapping chunk_idx, a
    format store with overlapping file doc_id ranges and zero-row marker
    rows, and a stream root of several batch manifests, which format
    ("plc") also reads pinned to some of its batches."""
    from plc.pipeline import decode, select_chunks

    tbl, stores = prune_stores
    absent, preds = _prune_preds(tbl)
    for name, dst in {**stores, **prune_more_stores}.items():
        chunks = _store_chunks(dst)
        if name == "none":
            by_file = {}
            for pid, fname, ci in chunks:
                by_file.setdefault(pid, {}).setdefault(fname, set()).add(ci)
            assert any(len(fs) > 1 and set.intersection(*fs.values())
                       for fs in by_file.values()), \
                "fixture lost its overlapping chunk_idx files"
        for kw in preds:
            want = tbl.filter(_expected_mask(tbl, **kw))
            want_ids = set(want["doc_id"].to_pylist())
            enc, _ = select_chunks(spark, dst, **kw)
            kept = set() if enc.isEmpty() else {
                (r[0], r[1], r[2]) for r in enc.select(
                    "part_id", "_metadata.file_name", "chunk_idx").collect()}
            assert kept <= set(chunks), (name, kw)
            missed = [k for k, d in chunks.items()
                      if d & want_ids and k not in kept]
            assert not missed, (name, kw, missed)
            if kw.get("doc_ids") == absent or \
                    kw.get("filters", {}).get("doc_id") == (absent[1],) * 2:
                assert len(kept) <= 2, (name, kw, len(kept))  # bloom FPs
            got = sorted((r["doc_id"], r["n_tok"]) for r in
                         decode(spark, dst, columns=["doc_id", "n_tok"],
                                **kw).collect())
            assert got == sorted(zip(want["doc_id"].to_pylist(),
                                     want["n_tok"].to_pylist())), (name, kw)
        # the predicates prune: a point lookup keeps one chunk
        one = select_chunks(spark, dst, **preds[0])[0].count()
        assert one == 1 < len(chunks), (name, one, len(chunks))
    stream = prune_more_stores["stream"]
    for pin in (None, [1], [0, 2]):
        held = {d for d, _ in _format_rows(spark, stream, {}, pin)}
        assert len(held) == 1000 * (3 if pin is None else len(pin))
        for kw in preds:
            want = tbl.filter(_expected_mask(tbl, **kw))
            assert _format_rows(spark, stream, kw, pin) == sorted(
                (d, n) for d, n in zip(want["doc_id"].to_pylist(),
                                       want["n_tok"].to_pylist())
                if d in held), (pin, kw)


def test_point_lookup_opens_only_admitted_files(spark, prune_stores,
                                                prune_more_stores,
                                                monkeypatch):
    """A point lookup opens only the data files whose manifest doc_id
    range holds the key — in planning and in the payload read — through
    decode, select_chunks and the format reader's planning, on stores
    with disjoint file ranges (pipeline, stream root) and overlapping
    ones. A spy counts every data-file open through ``_PlanFS``."""
    import threading

    from pyspark.sql.datasource import EqualTo

    from plc import pipeline as P
    from plc.datasource import PLCDataSource, _PlanFS, _read_manifest

    tbl, stores = prune_stores
    key = tbl["doc_id"].to_pylist()[1234]
    opened, lock = [], threading.Lock()

    def spy(method):
        def wrapper(self, source, *args, **kwargs):
            if isinstance(source, str) and "/data/part_id=" in source:
                with lock:
                    opened.append(source)
            return method(self, source, *args, **kwargs)
        return wrapper

    for name in ("read_parquet", "open_parquet"):
        monkeypatch.setattr(_PlanFS, name, spy(getattr(_PlanFS, name)))
    monkeypatch.setattr(P, "_DRIVER_DECODE_MAX_BYTES", float("inf"))
    for name, dst in {**stores, **prune_more_stores}.items():
        pfs = _PlanFS(dst)
        man = [m for m in _read_manifest(pfs).to_pylist()
               if m["file"] is not None]
        admitted = {pfs.join("data", f"part_id={m['part_id']}", m["file"])
                    for m in man if m["min_doc_id"] <= key <= m["max_doc_id"]}
        if name in ("pipeline", "stream"):
            assert len(admitted) == 1 < len(man), (name, len(man))
        opened.clear()
        rows = P.decode(spark, dst, filters={"doc_id": (key, key)}).collect()
        assert [r["doc_id"] for r in rows] == [key], name
        assert opened and set(opened) <= admitted, (name, opened)
        opened.clear()
        enc, _ = P.select_chunks(spark, dst, doc_ids=[key])
        assert set(opened) <= admitted, (name, opened)
        assert enc.count() >= 1
        opened.clear()
        source = PLCDataSource({"path": dst})
        reader = source.reader(source.schema())
        list(reader.pushFilters([EqualTo(("doc_id",), key)]))
        parts = reader.partitions()
        assert set(opened) <= admitted and parts, (name, opened)
        assert {p.file for p in parts} <= admitted, name
        got = (spark.read.format("plc").load(dst)
               .filter(F.col("doc_id") == key).select("doc_id").collect())
        assert [r["doc_id"] for r in got] == [key], name


def _both_paths(spark, monkeypatch, dst: str, **kw) -> list:
    """Decode with the driver cap forced to 0 (Spark ``mapInArrow``) and
    to ∞ (driver); assert identical schema, column order and rows and
    return the rows."""
    from plc import pipeline as P

    got = []
    for cap in (0, float("inf")):
        monkeypatch.setattr(P, "_DRIVER_DECODE_MAX_BYTES", cap)
        df = P.decode(spark, dst, **kw)
        got.append((df.schema, df.columns,
                    sorted(df.collect(), key=lambda r: r["doc_id"])))
    assert got[0][0] == got[1][0], (kw, got[0][0], got[1][0])
    assert got[0][1] == got[1][1], (kw, got[0][1], got[1][1])
    assert got[0][2] == got[1][2], kw
    return got[0][2]


def test_driver_and_spark_decode_agree(spark, prune_stores, monkeypatch):
    """The driver path and the Spark path run the same decoder: identical
    rows, schema and column order over the property test's predicate
    matrix (also with ``columns=``), string bounds on a timestamp column
    (Spark's coercion, in a non-UTC session time zone too), and a
    map-typed store."""
    tbl, stores = prune_stores
    ids = tbl["doc_id"].to_pylist()
    _, preds = _prune_preds(tbl)
    ts_str = {"filters": {"ts": ("2024-03-10 00:00:00",
                                 "2024-03-12 06:30:00")}}
    preds += [ts_str,
              {"doc_id_min": ids[10], "doc_ids": ids[:40:3],
               "filters": {"doc_id": [(ids[5], ids[30]), (ids[35], None)]}}]
    for name, dst in stores.items():
        for kw in preds:
            _both_paths(spark, monkeypatch, dst, **kw)
            _both_paths(spark, monkeypatch, dst, **kw,
                        columns=["n_tok", "doc_id"])
    # a non-UTC session zone: string bounds coerce in that zone and the
    # driver path's Arrow frame must not localize the stored timestamps
    src = spark.read.parquet(
        os.path.join(os.path.dirname(stores["pipeline"]), "src.parquet"))
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        lo, hi = ts_str["filters"]["ts"]
        want = sorted((r["doc_id"], r["ts"]) for r in src.filter(
            (F.col("ts") >= lo) & (F.col("ts") <= hi)).collect())
        for dst in stores.values():
            rows = _both_paths(spark, monkeypatch, dst, **ts_str)
            assert [(r["doc_id"], r["ts"]) for r in rows] == want
            rows = _both_paths(spark, monkeypatch, dst,
                               doc_ids=ids[::150])
            assert len(rows) == len(ids[::150])
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    # the map-typed store of test_integration_store, in several chunks
    df = spark.range(300).select(
        F.format_string("doc-%08d", "id").alias("doc_id"),
        F.create_map(F.lit("a"), F.col("id").cast("int"),
                     F.lit("b"), (F.col("id") * 2).cast("int")).alias("attrs"),
        F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(
            F.create_map(F.lit("x"), F.lit(1.5))).alias("sparse"))
    dst = tempfile.mkdtemp(prefix="plc_map_paths_")
    try:
        encode(spark, df, dst, PipelineConfig(num_partitions=2,
                                              straggler_parts=0,
                                              max_chunk_values=40),
               mode="overwrite")
        for kw in ({"filters": {"doc_id": ("doc-00000007",) * 2}},
                   {"doc_id_min": "doc-00000100",
                    "doc_id_max": "doc-00000180"},
                   {"doc_ids": [f"doc-{i:08d}" for i in range(0, 300, 9)],
                    "columns": ["sparse", "doc_id"]}):
            assert _both_paths(spark, monkeypatch, dst, **kw), kw
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_driver_decode_keeps_rows_after_an_emptied_chunk(spark,
                                                         monkeypatch):
    """Three kept chunks in one file, the middle one emptied by the row
    filter: the driver path returns the rows of the chunks on both sides
    of it, like the Spark path."""
    from plc import pipeline as P

    ids = [f"d{2 * i:06d}" for i in range(300)]
    df = spark.createDataFrame([(k, [1], 1) for k in ids],
                               "doc_id string, tokens array<int>, n_tok int")
    dst = tempfile.mkdtemp(prefix="plc_emptied_")
    try:
        encode(spark, df, dst, PipelineConfig(num_partitions=1,
                                              straggler_parts=0,
                                              max_chunk_values=100),
               mode="overwrite")
        gap = f"d{301:06d}"  # inside the middle chunk's range, not stored
        kw = {"filters": {"doc_id": [(ids[5], ids[5]), (gap, gap),
                                     (ids[250], ids[250])]}}
        enc, _ = P.select_chunks(spark, dst, **kw)
        assert enc.count() == 3
        out = P.decode(spark, dst, **kw)
        assert "LocalTableScan" in \
            out._jdf.queryExecution().executedPlan().toString()
        rows = _both_paths(spark, monkeypatch, dst, **kw)
        assert [r["doc_id"] for r in rows] == [ids[5], ids[250]]
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_bounded_lookups_run_no_spark_job(spark, prune_stores,
                                          monkeypatch):
    """Small predicate-bounded decodes are unpacked on the driver:
    collecting a point hit, a bloom-pruned miss, a 48-key and a 100-key
    doc_ids lookup starts no Spark job. A decode with no predicate still
    scans parquet in Spark."""
    from plc import pipeline as P

    tbl, stores = prune_stores
    dst = stores["pipeline"]
    ids = tbl["doc_id"].to_pylist()
    miss = next(k for k in (f"d{2 * i + 1:06d}" for i in range(100, 3000, 7))
                if P.select_chunks(spark, dst,
                                   filters={"doc_id": (k, k)})[0].isEmpty())
    calls = {"hit": ({"filters": {"doc_id": (ids[1234], ids[1234])}}, 1),
             "miss": ({"filters": {"doc_id": (miss, miss)}}, 0),
             "keys48": ({"doc_ids": ids[::61][:48]}, 48),
             "keys100": ({"doc_ids": ids[::29][:100] + [miss]}, 100)}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for name, (kw, n) in calls.items():
            sc.setJobGroup(f"plc-zero-{name}", name)
            assert len(P.decode(spark, dst, **kw).collect()) == n, name
        # control: the Spark path's job must show up; the listener bus is
        # FIFO, so once it has, every earlier job would have too
        monkeypatch.setattr(P, "_DRIVER_DECODE_MAX_BYTES", 0)
        sc.setJobGroup("plc-zero-control", "control")
        P.decode(spark, dst, **calls["hit"][0]).collect()
        deadline = time.time() + 60
        while not tracker.getJobIdsForGroup("plc-zero-control"):
            assert time.time() < deadline, "control job never registered"
            time.sleep(0.1)
        for name in calls:
            assert tracker.getJobIdsForGroup(f"plc-zero-{name}") == [], name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = P.decode(spark, dst)._jdf.queryExecution().executedPlan()
    assert "FileScan parquet" in plan.toString()


def test_planner_probe_scale_matches_brute_force(prune_stores):
    """A 10k-key doc_ids lookup (stored and absent keys) on a many-chunk
    store keeps exactly the chunks a brute-force per-(key, chunk) range +
    bloom_might_contain loop keeps."""
    import json
    from concurrent.futures import ThreadPoolExecutor

    from plc.chunk import bloom_might_contain
    from plc.datasource import (ChunkPlanner, _PlanFS, _committed_data_files,
                                _load_plan)

    tbl, stores = prune_stores
    dst = stores["pipeline"]
    ids = tbl["doc_id"].to_pylist()
    # stored keys from the first fifth of the id range, absent keys
    # inside the last half, the rest beyond every chunk; unsorted
    keys = (ids[:600] + [f"d{2 * i + 1:06d}" for i in range(1500, 3000)]
            + [f"e{i:06d}" for i in range(7900)])[::-1]
    assert len(keys) == 10_000
    pfs = _PlanFS(dst)
    planner = ChunkPlanner(_load_plan(pfs))
    planner.probe(keys)
    with ThreadPoolExecutor(4) as pool:
        files = _committed_data_files(pfs)
        got = {(fc.file, r) for fc in planner.plan(pfs, files, pool)
               for r in fc.rows}
    want, n_chunks = set(), 0
    for f in files:
        t = pq.read_table(f, columns=["min_doc_id", "max_doc_id", "stats",
                                      "bloom"]).to_pylist()
        n_chunks += len(t)
        for i, c in enumerate(t):
            st = json.loads(c["stats"]).get("doc_id", {})
            if any(c["min_doc_id"] <= k <= c["max_doc_id"]
                   and bloom_might_contain(st, k, c["bloom"])
                   for k in keys):
                want.add((f, i))
    assert got == want
    assert 0 < len(want) < n_chunks, (len(want), n_chunks)


def test_stream_root_batch_read_and_marker_gating(spark):
    """Review fixes: (a) a stream root reads as a BATCH union of committed
    batches; (b) a batch whose data files are written but whose manifest
    write stopped at its temp file (crash mid-commit) is invisible to
    both readers."""
    import __spark_entry__ as E
    from plc.datasource import register
    from plc.streaming import decode_stream

    register(spark)
    work = tempfile.mkdtemp(prefix="plc_ds_root_")
    src_dir = os.path.join(work, "in")
    os.makedirs(src_dir)
    dst = os.path.join(work, "store")
    try:
        tv = E.tokens_view(spark, "/root/testdata/sf0.001").limit(150)
        tv.write.parquet(os.path.join(src_dir, "f1"))
        stream = (spark.readStream.schema(tv.schema)
                  .parquet(src_dir + "/*"))
        q = (stream.writeStream.format("plc")
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .trigger(availableNow=True).start(dst))
        q.awaitTermination(180)
        # batch read over the root
        df = spark.read.format("plc").load(dst)
        assert df.count() == 150
        # simulate a partially-committed batch 999: its data files and a
        # manifest naming them under write_atomic's temp name, never moved
        # into place → invisible everywhere
        parts = os.path.join(dst, "_manifest", "parts")
        man = pq.read_table(os.path.join(parts, "batch-0.parquet"))
        names = [None if f is None else f.replace("-b0-", "-b999-")
                 for f in man.column("file").to_pylist()]
        for pid, old, new in zip(man.column("part_id").to_pylist(),
                                 man.column("file").to_pylist(), names):
            if old is not None:
                pdir = os.path.join(dst, "data", f"part_id={pid}")
                shutil.copy(os.path.join(pdir, old), os.path.join(pdir, new))
        pq.write_table(man.set_column(man.column_names.index("file"), "file",
                                      pa.array(names, pa.string())),
                       os.path.join(parts, ".batch-999.parquet.0123.tmp"))
        assert spark.read.format("plc").load(dst).count() == 150
        assert decode_stream(spark, dst).count() == 150
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_format_reads_file_uri(spark, store):
    """The planner routes filesystem access through pyarrow.fs, so a
    ``file:`` URI store reads identically to the plain path (and the same
    machinery resolves s3://, hdfs://, ... on clusters that carry those
    pyarrow filesystems)."""
    from plc.datasource import register

    src, dst = store
    register(spark)
    df = spark.read.format("plc").load(f"file://{dst}")
    assert df.count() == src.count()
    got = {r["source"]: r["n"] for r in
           df.groupBy("source").agg(F.count("*").alias("n")).collect()}
    want = {r["source"]: r["n"] for r in
            src.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_format_write_bad_doc_id_type_fails_at_planning(spark):
    """A non-string doc_id fails at planning time with the cast hint
    (not an executor ArrowTypeError), in the batch writer and the stream
    sink alike."""
    from plc.datasource import register

    register(spark)
    df = spark.range(10).select(F.col("id").alias("doc_id"),
                                F.lit("a").alias("source"))
    want = (r"doc_id to be a string column \(got bigint\); cast it first, "
            r"e\.g\. df\.withColumn\('doc_id'")
    dst = tempfile.mkdtemp(prefix="plc_ds_badtype_")
    try:
        with pytest.raises(Exception, match=want):
            df.write.format("plc").mode("overwrite").save(dst + "/store")
        df.write.parquet(dst + "/in")
        stream = spark.readStream.schema(df.schema).parquet(dst + "/in")
        with pytest.raises(Exception, match=want):
            q = (stream.writeStream.format("plc")
                 .option("checkpointLocation", dst + "/ckpt")
                 .trigger(availableNow=True).start(dst + "/sstore"))
            try:
                q.awaitTermination(180)
            finally:
                q.stop()
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_format_write_uri_and_orphan_invisibility(spark):
    """VERDICT r4 #2: format writes work on pyarrow.fs URIs (file://
    here — the same _PlanFS resolution the read side uses for s3/hdfs),
    the manifest NAMES each part's winning data file, and a zombie/
    speculative-attempt orphan planted in a part dir is invisible to the
    format reader, decode() and verify() alike."""
    import glob as g

    import pyarrow.parquet as papq

    from plc.datasource import register
    from plc.pipeline import decode, verify

    register(spark)
    base = tempfile.mkdtemp(prefix="plc_ds_uri_")
    try:
        src = spark.range(400).select(
            F.format_string("d%07d", F.col("id")).alias("doc_id"),
            F.sequence(F.lit(1), (F.col("id") % 7 + 3).cast("int"))
            .cast("array<int>").alias("tokens"),
            (F.col("id") % 7 + 3).cast("int").alias("n_tok"),
            F.lit("s").alias("source"))
        dst = "file://" + base + "/store"
        (src.repartitionByRange(4, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.format("plc").mode("overwrite").save(dst))
        local = base + "/store"
        n = spark.read.format("plc").load(dst).count()
        assert n == 400
        # manifest names exactly the committed files
        man = papq.read_table(
            g.glob(local + "/_manifest/parts/*.parquet")[0])
        named = [f for f in man.column("file").to_pylist() if f]
        on_disk = {os.path.basename(p) for p in
                   g.glob(local + "/data/part_id=*/*.parquet")}
        assert set(named) == on_disk
        # plant an orphan: a copy of a real part file under a new name
        pdir = sorted(g.glob(local + "/data/part_id=*"))[0]
        realf = g.glob(pdir + "/*.parquet")[0]
        shutil.copy(realf, pdir + "/part-zombie-late-attempt.parquet")
        assert spark.read.format("plc").load(local).count() == 400
        assert decode(spark, local).count() == 400
        res = verify(spark, src, local, method="checksum")
        assert res["mismatches"] == 0, res
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_bloom_point_lookup_prunes_inside_range(spark, store):
    """doc_id bloom pruning: an equality probe for a value that falls
    INSIDE a chunk's [min_doc_id, max_doc_id] range but is absent from the
    store must prune every chunk (range stats alone cannot), while a real
    doc_id still decodes to exactly its row — on both the pipeline
    (select_chunks) and the DataSource (pushed EqualTo)."""
    from plc.datasource import PLCReader, _load_plan
    from plc.pipeline import decode, select_chunks
    from pyspark.sql.datasource import EqualTo
    from pyspark.sql.types import StructType

    src, dst = store
    real = src.select("doc_id").orderBy("doc_id").limit(2).collect()
    probe_real = real[0]["doc_id"]
    probe_fake = probe_real + "-missing"  # sorts between real ids

    n_real = select_chunks(
        spark, dst, filters={"doc_id": (probe_real, probe_real)})[0].count()
    n_fake = select_chunks(
        spark, dst, filters={"doc_id": (probe_fake, probe_fake)})[0].count()
    assert n_real >= 1
    assert n_fake == 0

    rows = decode(spark, dst,
                  filters={"doc_id": (probe_real, probe_real)}).count()
    assert rows == 1

    schema = StructType.fromJson(_load_plan(dst)["schema"])
    for probe, want in ((probe_real, n_real), (probe_fake, 0)):
        r = PLCReader(dst, schema)
        list(r.pushFilters([EqualTo(("doc_id",), probe)]))
        import pyarrow.parquet as _pq

        n_ds = sum(len(p.rows) if p.rows is not None else
                   _pq.read_table(p.file, columns=["chunk_idx"]).num_rows
                   for p in r.partitions())
        assert n_ds == want, (probe, n_ds, want)


def _n_chunks_planned(reader):
    import pyarrow.parquet as _pq

    return sum(len(p.rows) if p.rows is not None else
               _pq.read_table(p.file, columns=["chunk_idx"]).num_rows
               for p in reader.partitions())


def test_or_of_ranges_via_filters_option(spark, store):
    """The Python DS pushdown API never delivers Or trees (flat
    conjunction only), so disjunctive range scans go through
    .option("filters", json) — multi-range chunk pruning at planning
    plus an exact row mask in the reader (VERDICT r4 #6)."""
    import json as _json

    from plc.datasource import PLCReader, _load_plan
    from pyspark.sql.types import StructType

    src, dst = store
    mn, mx = src.agg(F.min("n_tok"), F.max("n_tok")).collect()[0]
    lo_hi, hi_lo = mn + 1, mx - 1  # two tail bands of the distribution
    spec = {"n_tok": [[None, lo_hi], [hi_lo, None]]}
    df = (spark.read.format("plc")
          .option("filters", _json.dumps(spec)).load(dst))
    want = src.filter((F.col("n_tok") <= lo_hi) |
                      (F.col("n_tok") >= hi_lo)).count()
    assert df.count() == want and 0 < want < src.count()
    # rows outside the ranges are filtered EXACTLY (not just pruned)
    bad = df.filter((F.col("n_tok") > lo_hi) &
                    (F.col("n_tok") < hi_lo)).count()
    assert bad == 0

    # chunk-touch accounting: the disjunction prunes chunks (both bands
    # sit in the n_tok distribution tails, so mid-range chunks drop)
    schema = StructType.fromJson(_load_plan(dst)["schema"])
    n_all = _n_chunks_planned(PLCReader(dst, schema))
    spec_narrow = {"n_tok": [[mn, mn], [mx, mx]]}  # extreme tails only
    n_or = _n_chunks_planned(PLCReader(
        dst, schema, filters_opt=_json.dumps(spec_narrow)))
    assert 0 < n_or < n_all, (n_or, n_all)
    # unknown column / temporal column → planning-time error
    with pytest.raises(Exception, match="unknown column"):
        spark.read.format("plc").option(
            "filters", '{"nope": [[1, 2]]}').load(dst).count()


def test_isnotnull_isnull_pushdown_prunes_all_null_chunks(spark):
    """IsNull prunes null-free chunks (explicit user predicate — it may
    trigger the stats fetch); IsNotNull prunes all-NULL chunks but only
    OPPORTUNISTICALLY — Catalyst auto-infers isnotnull() next to every
    comparison, so it must never be the sole trigger of the stats-JSON
    slow path (VERDICT r3 #2 planner fast path; review finding r5)."""
    from plc.datasource import PLCReader, _load_plan, _PlanFS, register
    from pyspark.sql.datasource import (GreaterThan, GreaterThanOrEqual,
                                        IsNotNull, IsNull)
    from pyspark.sql.types import StructType

    register(spark)
    # doc_id range-partitions the store, so source IS NULL for the low
    # half of the id range concentrates all-null chunks there
    src = spark.range(2000).select(
        F.format_string("n%07d", F.col("id")).alias("doc_id"),
        F.sequence(F.lit(1), F.lit(4)).cast("array<int>").alias("tokens"),
        F.lit(4).cast("int").alias("n_tok"),
        F.when(F.col("id") >= 1000, F.lit("web")).alias("source"))
    dst = tempfile.mkdtemp(prefix="plc_ds_nulls_") + "/store"
    encode(spark, src, dst,
           PipelineConfig(num_partitions=4, straggler_parts=0,
                          max_chunk_values=1000), mode="overwrite")
    schema = StructType.fromJson(_load_plan(dst)["schema"])
    n_all = _n_chunks_planned(PLCReader(dst, schema))

    reads = []
    orig = _PlanFS.read_parquet

    def spy(self, path, columns):
        reads.append(tuple(columns) if columns is not None else None)
        return orig(self, path, columns)

    _PlanFS.read_parquet = spy
    try:
        # the realistic Catalyst shape — a comparison plus its inferred
        # isnotnull — must stay on the typed-column fast path (no stats
        # fetch, no pruning regression at 10^5 files)
        r_fast = PLCReader(dst, schema)
        list(r_fast.pushFilters([GreaterThan(("n_tok",), 1),
                                 IsNotNull(("n_tok",))]))
        n_fast = _n_chunks_planned(r_fast)
        assert not any(c == ("stats",) for c in reads), \
            "inferred IsNotNull triggered the stats slow path"
        assert n_fast == n_all
    finally:
        _PlanFS.read_parquet = orig

    # explicit IS NULL: prunes null-free chunks (stats fetch is earned)
    r_in = PLCReader(dst, schema)
    list(r_in.pushFilters([IsNull(("source",))]))
    n_in = _n_chunks_planned(r_in)
    assert n_in < n_all, (n_in, n_all)
    # IsNotNull prunes all-null chunks opportunistically when stats are
    # already being read (here: a generic bound on the same stats-only
    # column, which by itself prunes nothing)
    r_b = PLCReader(dst, schema)
    list(r_b.pushFilters([GreaterThanOrEqual(("source",), "a")]))
    n_bound = _n_chunks_planned(r_b)
    r_nn = PLCReader(dst, schema)
    list(r_nn.pushFilters([GreaterThanOrEqual(("source",), "a"),
                           IsNotNull(("source",))]))
    n_nn = _n_chunks_planned(r_nn)
    assert n_nn < n_bound, (n_nn, n_bound)  # all-null chunks pruned
    assert n_nn + n_in >= n_all             # superset pruning, no loss
    # end-to-end counts stay exact (Spark re-filters)
    df = spark.read.format("plc").load(dst)
    assert df.filter(F.col("source").isNotNull()).count() == 1000
    assert df.filter(F.col("source").isNull()).count() == 1000


def test_filters_option_matches_decode_differentially(spark, store):
    """Differential hardening for the OR-of-ranges option: for random
    multi-range specs, the format read with .option('filters') must
    return exactly the rows decode(filters=) returns (same pruning
    semantics, same exact row mask), including open bounds and ranges
    that select nothing."""
    import json as _json
    import random

    from plc.pipeline import decode

    src, dst = store
    mn, mx = src.agg(F.min("n_tok"), F.max("n_tok")).collect()[0]
    rng = random.Random(20260817)
    for trial in range(6):
        n_ranges = rng.randint(1, 3)
        ranges = []
        for _ in range(n_ranges):
            lo = rng.choice([None, rng.randint(mn - 5, mx + 5)])
            hi = rng.choice([None, rng.randint(mn - 5, mx + 5)])
            if lo is not None and hi is not None and lo > hi:
                lo, hi = hi, lo
            ranges.append([lo, hi])
        spec = {"n_tok": ranges}
        fmt = (spark.read.format("plc")
               .option("filters", _json.dumps(spec)).load(dst)
               .selectExpr("doc_id", "n_tok"))
        dec = decode(spark, dst,
                     filters={"n_tok": [tuple(r) for r in ranges]},
                     columns=["doc_id", "n_tok"])
        got = sorted((r["doc_id"], r["n_tok"]) for r in fmt.collect())
        want = sorted((r["doc_id"], r["n_tok"]) for r in dec.collect())
        assert got == want, (trial, spec, len(got), len(want))


# -- chunks metadata view (stats-backed aggregate fast path, r6) -----------


def test_chunks_view_exact_aggregates(spark, store):
    """sum/min/max/count served from per-chunk metadata must equal the
    same aggregates computed from the decoded data — the served values
    are exact by construction, not estimates."""
    src, dst = store
    ch = spark.read.format("plc").option("view", "chunks").load(dst)
    got = ch.agg(F.sum("n_rows").alias("cnt"),
                 F.sum("n_tokens").alias("sum_w"),
                 F.min("min_w").alias("min_w"),
                 F.max("max_w").alias("max_w"),
                 F.min("min_doc_id").alias("min_doc"),
                 F.max("max_doc_id").alias("max_doc")).collect()[0]
    want = src.agg(F.count("*").alias("cnt"),
                   F.sum("n_tok").alias("sum_w"),
                   F.min("n_tok").alias("min_w"),
                   F.max("n_tok").alias("max_w"),
                   F.min("doc_id").alias("min_doc"),
                   F.max("doc_id").alias("max_doc")).collect()[0]
    assert got.asDict() == want.asDict()
    # null counts ride in the stats JSON: count(col) is servable too
    nn = ch.agg(F.sum("n_rows") - F.sum(
        F.get_json_object("stats", "$.source.nulls").cast("bigint"))
    ).collect()[0][0]
    assert nn == src.where(F.col("source").isNotNull()).count()


def test_chunks_view_store_agg_and_part_ids(spark, store):
    src, dst = store
    from plc.datasource import store_agg

    row = store_agg(spark, dst).collect()[0]
    assert row["n_rows"] == src.count()
    assert row["sum_w"] == src.agg(F.sum("n_tok")).collect()[0][0]
    assert row["n_chunks"] > 1 and row["enc_bytes"] > 0
    # part_id is synthesized from the directory name (not stored in the
    # file): it must cover every committed part
    ch = spark.read.format("plc").option("view", "chunks").load(dst)
    pids = {r[0] for r in ch.select("part_id").distinct().collect()}
    from plc.pipeline import _manifest_path

    want = {r[0] for r in spark.read.parquet(_manifest_path(dst))
            .select("part_id").collect()}
    assert pids == want


def test_chunks_view_never_reads_payload(store, monkeypatch):
    """The 'zero payload bytes' guarantee, asserted at the I/O layer: a
    driver-side pass over the chunks-view reader with the pruned
    projection SELECT sum(n_tokens) must never request the payload column
    (pq.read_table with a column list reads only those column chunks)."""
    from plc.datasource import PLCChunksReader, _PlanFS
    from pyspark.sql.types import StructType

    src, dst = store
    reader = PLCChunksReader(dst, StructType.fromDDL("n_tokens bigint"))
    parts = reader.partitions()
    assert parts
    requested = []
    orig = _PlanFS.read_parquet

    def spy(self, path, columns):
        if "/data/" in path:
            requested.append(columns)
        return orig(self, path, columns)

    monkeypatch.setattr(_PlanFS, "read_parquet", spy)
    total = 0
    for p in parts:
        for rb in reader.read(p):
            import pyarrow.compute as pc

            total += pc.sum(rb.column("n_tokens")).as_py()
    assert requested and all(cols == ["n_tokens"] for cols in requested)
    assert total == src.agg(F.sum("n_tok")).collect()[0][0]


def test_chunks_view_count_star_reads_no_columns(store, monkeypatch):
    """Zero-column projection over the chunks view (counting chunks)
    comes straight from parquet footers — read_parquet is never called
    on a data file."""
    from plc.datasource import PLCChunksReader, _PlanFS
    from pyspark.sql.types import StructType

    src, dst = store
    reader = PLCChunksReader(dst, StructType([]))
    parts = reader.partitions()
    calls = []
    orig = _PlanFS.read_parquet

    def spy(self, path, columns):
        if "/data/" in path:
            calls.append(path)
        return orig(self, path, columns)

    monkeypatch.setattr(_PlanFS, "read_parquet", spy)
    n = sum(rb.num_rows for p in parts for rb in reader.read(p))
    assert not calls
    want = sum(pq.ParquetFile(f).metadata.num_rows for f in
               glob.glob(os.path.join(dst, "data", "*", "*.parquet")))
    assert n == want  # chunk count matches the footers exactly


# -- overwrite crash-safety (deferred delete, r6) --------------------------


def test_format_overwrite_failure_preserves_old_store(spark, store):
    """Overwriting an existing store must destroy nothing at planning
    time: a write job that fails mid-task aborts by deleting only its
    own files, and the old store (manifest + named files) stays fully
    readable (VERDICT r5 'what's wrong' #2)."""
    from plc.pipeline import verify

    src, _ = store
    work = tempfile.mkdtemp(prefix="plc_ds_owr_")
    dst = os.path.join(work, "store")
    try:
        (src.repartitionByRange(3, "doc_id")
            .write.format("plc").mode("overwrite").save(dst))
        before = spark.read.format("plc").load(dst).count()
        poisoned = src.withColumn(
            "n_tok",
            F.when(F.col("n_tok") >= 0,
                   F.expr("raise_error('boom')").cast("int"))
            .otherwise(F.col("n_tok")))
        with pytest.raises(Exception, match="boom"):
            (poisoned.repartition(2)
             .write.format("plc").mode("overwrite").save(dst))
        # old store intact: same rows, verify green, no leaked job files
        assert spark.read.format("plc").load(dst).count() == before
        assert verify(spark, src, dst)["mismatches"] == 0
        files = glob.glob(os.path.join(dst, "data", "*", "*.parquet"))
        named = set()
        for m in glob.glob(os.path.join(dst, "_manifest", "parts",
                                        "*.parquet")):
            named |= set(pq.read_table(m).column("file").to_pylist())
        assert {os.path.basename(f) for f in files} == named
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_format_overwrite_sweeps_stale_generation(spark, store):
    """A successful in-place overwrite commits the new manifest first,
    then reclaims every file of the replaced generation — including
    whole part dirs whose pid the new store doesn't use."""
    src, _ = store
    work = tempfile.mkdtemp(prefix="plc_ds_ows_")
    dst = os.path.join(work, "store")
    try:
        (src.repartitionByRange(4, "doc_id")
            .write.format("plc").mode("overwrite").save(dst))
        old_files = set(glob.glob(os.path.join(dst, "data", "*",
                                               "*.parquet")))
        (src.limit(50).repartition(2)
            .write.format("plc").mode("overwrite").save(dst))
        assert spark.read.format("plc").load(dst).count() == 50
        new_files = set(glob.glob(os.path.join(dst, "data", "*",
                                               "*.parquet")))
        assert not (old_files & new_files)
        # stale pids (2, 3) from the 4-part generation are gone entirely
        dirs = {os.path.basename(d)
                for d in glob.glob(os.path.join(dst, "data", "part_id=*"))}
        assert dirs == {"part_id=0", "part_id=1"}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_encode_resume_on_format_store_raises(spark, store):
    """encode(resume=True) on a format-written store used to be a silent
    no-op (every part committed, pending predicate = false); it now
    fails loudly (ADVICE r5)."""
    from plc.pipeline import PipelineConfig, encode

    src, _ = store
    work = tempfile.mkdtemp(prefix="plc_ds_rsf_")
    dst = os.path.join(work, "store")
    try:
        (src.repartition(2).write.format("plc").mode("overwrite")
            .save(dst))
        with pytest.raises(ValueError, match="format"):
            encode(spark, src, dst, PipelineConfig(num_partitions=2),
                   resume=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# -- orphan GC (r6) --------------------------------------------------------


def test_gc_reclaims_post_sweep_zombies(spark, store):
    """VERDICT r5 missing #4: a zombie attempt finishing AFTER commit's
    best-effort sweep leaves an invisible-but-permanent file; plc.gc
    reclaims it once it ages past the grace period, never touches young
    files or manifest-named data, and the store stays verify-green."""
    import time as _time

    import plc
    from plc.pipeline import verify

    src, _ = store
    work = tempfile.mkdtemp(prefix="plc_ds_gc_")
    dst = os.path.join(work, "store")
    try:
        (src.repartitionByRange(3, "doc_id")
            .write.format("plc").mode("overwrite").save(dst))
        pdir = sorted(glob.glob(os.path.join(dst, "data", "part_id=*")))[0]
        real = glob.glob(os.path.join(pdir, "*.parquet"))[0]
        old_zombie = os.path.join(pdir, "part-zombie-old.parquet")
        young_zombie = os.path.join(pdir, "part-zombie-young.parquet")
        shutil.copy(real, old_zombie)
        shutil.copy(real, young_zombie)
        past = _time.time() - 7200
        os.utime(old_zombie, (past, past))

        rep = plc.gc(dst, grace_sec=3600)
        assert [os.path.basename(p) for p in rep["removed"]] == \
            ["part-zombie-old.parquet"]
        assert rep["kept_young"] == 1
        assert not os.path.exists(old_zombie)
        assert os.path.exists(young_zombie)  # inside grace: protected
        assert os.path.exists(real)          # manifest-named: never GC'd
        assert verify(spark, src, dst)["mismatches"] == 0
        # second pass after the young zombie ages
        os.utime(young_zombie, (past, past))
        rep2 = plc.gc(dst, grace_sec=3600)
        assert [os.path.basename(p) for p in rep2["removed"]] == \
            ["part-zombie-young.parquet"]
        assert verify(spark, src, dst)["mismatches"] == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_gc_stream_root_drops_aged_uncommitted_batch(spark):
    """On a stream root, gc keeps every committed batch's files and
    removes the files of an UNcommitted batch (its data written, its
    manifest never) only once they are older than the grace period."""
    import time as _time

    import plc
    from plc import data as D
    from plc.datasource import register

    register(spark)
    work = tempfile.mkdtemp(prefix="plc_ds_gcs_")
    root, src = work + "/stream", work + "/in"
    os.makedirs(src)
    try:
        for i in (0, 1):
            D.synth_tokens_parquet(os.path.join(src, f"f{i}.parquet"), 300,
                                   regime="zipf", seed=3 + i)
        q = (spark.readStream.schema(spark.read.parquet(src).schema)
             .option("maxFilesPerTrigger", "1").parquet(src)
             .writeStream.format("plc")
             .option("checkpointLocation", work + "/ckpt")
             .trigger(availableNow=True).start(root))
        q.awaitTermination(300)
        q.stop()
        named = set(glob.glob(os.path.join(root, "data", "*", "*.parquet")))
        # crashed batch 2: data files written, no manifest
        crashed = set()
        for f in named:
            d, name = os.path.split(f)
            c = os.path.join(d, re.sub("-b[01]-", "-b2-", name))
            shutil.copy(f, c)
            crashed.add(c)
        assert len(named) == len(crashed) == 2

        rep = plc.gc(root, grace_sec=3600)
        assert rep["removed"] == [] and rep["kept_young"] == 2  # young
        past = _time.time() - 7200
        for f in named | crashed:
            os.utime(f, (past, past))
        rep2 = plc.gc(root, grace_sec=3600)
        assert sorted(rep2["removed"]) == sorted(crashed)
        assert set(glob.glob(os.path.join(root, "data", "*",
                                          "*.parquet"))) == named
        from plc.streaming import decode_stream

        assert decode_stream(spark, root).count() == 600
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_gc_skips_foreign_batch_dir_names(spark):
    """A stream-root dir whose name merely starts with ``batch=`` but is
    not integer-suffixed (user scratch, tooling leftovers) is not a
    batch: gc must skip it untouched instead of crashing on int()."""
    import plc

    root = tempfile.mkdtemp(prefix="plc_ds_gcf_") + "/stream"
    try:
        foreign = os.path.join(root, "batch=tmpjunk")
        os.makedirs(foreign)
        with open(os.path.join(foreign, "notes.txt"), "w") as f:
            f.write("not a batch")
        rep = plc.gc(root, grace_sec=0)
        assert rep["removed"] == []
        assert os.path.isdir(foreign)
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def test_chunks_view_rejects_filters_option(spark, store):
    """The multi-range 'filters' option selects data rows; combining it
    with the metadata view would silently ignore it — it must raise."""
    _src, dst = store
    with pytest.raises(Exception, match="data.*view|filters"):
        (spark.read.format("plc").option("view", "chunks")
         .option("filters", '[{"column": "n_tok", "ranges": [[1, 2]]}]')
         .load(dst).count())
