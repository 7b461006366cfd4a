"""Physical-plan shape tests (SURVEY.md §4): the declarative layer must
produce the plans we designed for — one range shuffle in encode, filter
pushdown into the parquet scan on decode, pruned read schemas for
metrics-only reads. Guards against regressions that correctness tests
cannot see (a plan that silently adds a shuffle still returns right rows)."""

import shutil
import tempfile

import pytest

from plc import data as D
from plc.pipeline import (PipelineConfig, build_plan, codec_report, decode,
                          encode, _make_encoder, _sbucket_col, _manifest_path,
                          ENC_SCHEMA_DDL)


@pytest.fixture(scope="module")
def enc_dir(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "tok.parquet")
    D.synth_tokens_parquet(p, 2000, regime="zipf", seed=42)
    df = spark.read.parquet(p)
    dst = tempfile.mkdtemp(prefix="plc_plans_")
    encode(spark, df, dst, PipelineConfig(num_partitions=4, straggler_parts=2),
           mode="overwrite")
    yield p, dst
    shutil.rmtree(dst, ignore_errors=True)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_encode_plan_has_exactly_one_shuffle(spark, enc_dir):
    src, _ = enc_dir
    df = spark.read.parquet(src)
    cfg = PipelineConfig(num_partitions=4, straggler_parts=2)
    plan = build_plan(spark, df, cfg)
    from pyspark.sql import functions as F

    shuffled = (df.withColumn("_sbucket", _sbucket_col(plan))
                .repartitionByRange(6, "_sbucket", "doc_id")
                .sortWithinPartitions("_sbucket", "doc_id"))
    enc = shuffled.mapInArrow(_make_encoder(plan, cfg), ENC_SCHEMA_DDL)
    p = _physical(enc)
    assert p.count("Exchange") == 1, p
    assert "rangepartitioning" in p, p
    assert "PythonMapInArrow" in p or "MapInArrow" in p, p


def test_decode_bounds_push_into_parquet_scan(spark, enc_dir, monkeypatch):
    """doc_id bounds prune chunks on the driver: on the Spark path (cap
    forced to 0) the decode scan lists a strict subset of the committed
    files, with no join against the manifest and no shuffle of the data
    side."""
    import glob
    import os

    from plc import pipeline as P

    monkeypatch.setattr(P, "_DRIVER_DECODE_MAX_BYTES", 0)
    _, dst = enc_dir
    out = decode(spark, dst, doc_id_min="doc-000000000100",
                 doc_id_max="doc-000000000199")
    p = _physical(out)
    scanned = {f.replace("file://", "").replace("file:", "")
               for f in out.inputFiles()}
    committed = set(glob.glob(os.path.join(dst, "data", "part_id=*",
                                           "*.parquet")))
    assert scanned and scanned < committed, (scanned, committed)
    assert "Join" not in p, p
    assert "Exchange" not in p, p


def test_small_bounded_decode_is_local_relation(spark, enc_dir,
                                                monkeypatch):
    """The same bounded decode under the default cap is unpacked on the
    driver: its optimized plan is a LocalRelation (no scan, no Spark
    job to collect it) and it returns what the Spark path returns."""
    from plc import pipeline as P

    _, dst = enc_dir
    out = decode(spark, dst, doc_id_min="doc-000000000100",
                 doc_id_max="doc-000000000199")
    op = out._jdf.queryExecution().optimizedPlan().toString()
    assert op.lstrip().startswith("LocalRelation"), op
    p = _physical(out)
    assert "LocalTableScan" in p and "FileScan" not in p, p
    assert "MapInArrow" not in p, p
    monkeypatch.setattr(P, "_DRIVER_DECODE_MAX_BYTES", 0)
    want = decode(spark, dst, doc_id_min="doc-000000000100",
                  doc_id_max="doc-000000000199")
    assert "MapInArrow" in _physical(want)
    assert sorted(out.collect()) == sorted(want.collect())


def test_manifest_rollup_reads_pruned_schema(spark, enc_dir):
    """Metric roll-ups over the chunk metadata (``codec_report``) must
    not read the payload column (ReadSchema pruning — the reason metrics
    live beside the blob)."""
    _, dst = enc_dir
    p = _physical(codec_report(spark, dst))
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and all("payload" not in ln for ln in rs), p


def test_partial_aggregation_before_shuffle(spark, enc_dir):
    """The ``codec_report`` roll-up must map-side combine (partial
    aggregation before the exchange) — the partial+final agg capability
    from SURVEY §2 Part B."""
    _, dst = enc_dir
    p = _physical(codec_report(spark, dst))
    lines = p.splitlines()
    i = next((i for i, ln in enumerate(lines) if "partial_sum" in ln), 0)
    assert i and "Exchange" in lines[i - 1], p  # the exchange reads it


def test_query_surface_has_no_global_windows(spark):
    """The two ranking/run-length queries must window per coarse bucket —
    an un-partitioned Window moves every row to one task (a
    straggler-of-one at 100× scale). Guard: no SinglePartition exchange
    feeding a Window in their physical plans."""
    import re

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.01"
    for name in ("range_partition_bounds", "rle_run_lengths"):
        df = E.queries()[name](spark, sf)
        p = _physical(df)
        if "Window" not in p:  # rle_run_lengths returns a local result
            continue
        assert "hashpartitioning(_c" in p, f"{name}: window not bucketed\n{p}"
        assert not re.search(r"Exchange SinglePartition[^\n]*\n\s*\+- Window",
                             p), f"{name}: global window\n{p}"


def test_shuffle_free_mode_has_no_exchange(spark, enc_dir):
    """shuffle='none' (doc_id-clustered input) must produce a plan with no
    Exchange at all, and still round-trip bit-identically."""
    import shutil as _sh
    import tempfile as _tf

    from plc.pipeline import encode as _encode, verify as _verify

    src, _ = enc_dir
    df = spark.read.parquet(src)
    cfg = PipelineConfig(num_partitions=4, straggler_parts=2, shuffle="none")
    plan = build_plan(spark, df, cfg)
    enc = df.mapInArrow(_make_encoder(plan, cfg), ENC_SCHEMA_DDL)
    assert "Exchange" not in _physical(enc)
    dst = _tf.mkdtemp(prefix="plc_nosh_")
    try:
        _encode(spark, df, dst, cfg, mode="overwrite")
        assert _verify(spark, df, dst, method="checksum")["mismatches"] == 0
    finally:
        _sh.rmtree(dst, ignore_errors=True)
