"""End-to-end pipeline tests (SURVEY.md §5.2.3): encode → decode → per-row
token-array equality, manifest completeness, pruning, resume idempotency."""

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from plc import data as D
from plc.pipeline import (PipelineConfig, build_plan, decode, encode, verify,
                          _manifest_path, _pending_predicate, _load_plan)


@pytest.fixture(scope="module")
def src_df(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("src") / "tokens.parquet")
    D.synth_tokens_parquet(p, 2000, regime="zipf", seed=42)
    return spark.read.parquet(p)


def _dst():
    return tempfile.mkdtemp(prefix="plc_enc_")


def test_encode_decode_verify(spark, src_df):
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=6, straggler_parts=2)
        report = encode(spark, src_df, dst, cfg, mode="overwrite")
        assert report["rows"] == 2000
        assert report["ratio"] > 1.5, report
        res = verify(spark, src_df, dst)
        assert res["mismatches"] == 0
        assert res["rows_decoded"] == res["rows_source"] == 2000
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_decode_pruning(spark, src_df):
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=6, straggler_parts=0)
        encode(spark, src_df, dst, cfg, mode="overwrite")
        lo, hi = "doc-000000000100", "doc-000000000199"
        out = decode(spark, dst, doc_id_min=lo, doc_id_max=hi)
        rows = out.select("doc_id").collect()
        assert len(rows) == 100
        assert all(lo <= r[0] <= hi for r in rows)
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_resume_after_partial_run(spark, src_df):
    """Kill-after-k-partitions simulation: commit only part of the manifest,
    resume, and check no duplicates and full coverage (SURVEY.md E3)."""
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=6, straggler_parts=2)
        encode(spark, src_df, dst, cfg, mode="overwrite")
        full = verify(spark, src_df, dst)
        assert full["mismatches"] == 0

        # simulate a crash: drop half the committed manifest rows
        man = spark.read.parquet(_manifest_path(dst))
        keep = man.filter("part_id % 2 = 0")
        kept_ids = {r[0] for r in keep.select("part_id").collect()}
        tmp_man = dst + "_manifest_tmp"
        keep.write.mode("overwrite").parquet(tmp_man)
        shutil.rmtree(_manifest_path(dst))
        shutil.move(tmp_man, _manifest_path(dst))

        report = encode(spark, src_df, dst, cfg, resume=True)
        res = verify(spark, src_df, dst)
        assert res["mismatches"] == 0, "resume must not duplicate or lose rows"
        assert res["rows_decoded"] == 2000
        # previously committed parts must not be re-listed
        man2 = spark.read.parquet(_manifest_path(dst))
        ids = [r[0] for r in man2.select("part_id").collect()]
        assert len(ids) == len(set(ids)), "duplicate manifest entries"
        assert kept_ids <= set(ids)
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_resume_noop_when_complete(spark, src_df):
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=4, straggler_parts=0)
        encode(spark, src_df, dst, cfg, mode="overwrite")
        r1 = json.dumps(verify(spark, src_df, dst), sort_keys=True, default=str)
        encode(spark, src_df, dst, cfg, resume=True)
        r2 = json.dumps(verify(spark, src_df, dst), sort_keys=True, default=str)
        assert r1 == r2
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_fresh_encode_refuses_existing(spark, src_df):
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=4, straggler_parts=0)
        encode(spark, src_df, dst, cfg, mode="overwrite")
        with pytest.raises(FileExistsError):
            encode(spark, src_df, dst, cfg)
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_plan_determinism_and_pending_predicate(spark, src_df):
    cfg = PipelineConfig(num_partitions=5, straggler_parts=2)
    p1 = build_plan(spark, src_df, cfg)
    p2 = build_plan(spark, src_df, cfg)
    assert p1["bounds"] == p2["bounds"] and p1["tau"] == p2["tau"]
    # predicate covering all parts selects every row
    pred = _pending_predicate(p1, committed=set())
    assert src_df.filter(pred).count() == src_df.count()
    # committed everything → selects nothing
    all_ids = set(range(p1["n_parts"] + p1["straggler_parts"]))
    pred0 = _pending_predicate(p1, committed=all_ids)
    assert src_df.filter(pred0).count() == 0


def test_skew_splitting_assigns_straggler_parts(spark, tmp_path):
    """Rows above τ must land in dedicated salted parts (P3)."""
    p = str(tmp_path / "skew.parquet")
    D.synth_tokens_parquet(p, 3000, regime="constant", seed=7)
    df = spark.read.parquet(p)
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=4, straggler_parts=3)
        encode(spark, df, dst, cfg, mode="overwrite")
        plan = _load_plan(dst)
        man = spark.read.parquet(_manifest_path(dst))
        straggler_rows = man.filter(f"part_id >= {plan['n_parts']}") \
            .agg({"n_rows": "sum"}).collect()[0][0]
        n_over = df.filter(f"n_tok > {plan['tau']}").count()
        assert (straggler_rows or 0) == n_over
        assert verify(spark, df, dst)["mismatches"] == 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_checksum_verify_and_column_pruned_decode(spark, src_df):
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=4, straggler_parts=2)
        encode(spark, src_df, dst, cfg, mode="overwrite")
        res = verify(spark, src_df, dst, method="checksum")
        assert res["mismatches"] == 0 and res["method"] == "checksum"
        # column-pruned decode: only doc_id/n_tok frames are decoded
        out = decode(spark, dst, columns=["doc_id", "n_tok"])
        assert out.columns == ["doc_id", "n_tok"]
        assert out.count() == 2000
        tot = out.agg({"n_tok": "sum"}).collect()[0][0]
        src_tot = src_df.agg({"n_tok": "sum"}).collect()[0][0]
        assert tot == src_tot
        # checksum verify must actually FAIL on corrupted data: flip a source row
        from pyspark.sql import functions as F
        bad_src = src_df.withColumn(
            "n_tok", F.when(F.col("doc_id") == "doc-000000000000",
                            F.col("n_tok") + 1).otherwise(F.col("n_tok")))
        res_bad = verify(spark, bad_src, dst, method="checksum")
        assert res_bad["mismatches"] == 1
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_empty_input_encode_decode(spark):
    empty = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string")
    dst = _dst()
    try:
        encode(spark, empty, dst,
               PipelineConfig(num_partitions=2, straggler_parts=0),
               mode="overwrite")
        dec = decode(spark, dst)
        assert dec.count() == 0
        assert dec.columns == ["doc_id", "tokens", "n_tok", "source"]
        assert verify(spark, empty, dst, method="checksum")["mismatches"] == 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_crash_before_manifest_commit_refuses_fresh_run(spark, src_df):
    """A crash between the data write and the manifest commit leaves data +
    plan but no manifest; a fresh mode='error' run must refuse (previously it
    proceeded and zero-row markers could commit stale part dirs)."""
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=6, straggler_parts=0)
        encode(spark, src_df, dst, cfg, mode="overwrite")
        shutil.rmtree(_manifest_path(dst))  # simulated crash point
        with pytest.raises(FileExistsError):
            encode(spark, src_df, dst, cfg)
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_markers_never_commit_stale_part_dirs(spark, src_df):
    """ADVICE repro: crash after data write, then resume with a *smaller*
    input. Parts that now receive no data still hold stale part_id= dirs;
    the zero-row commit markers must delete them, not adopt them."""
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=6, straggler_parts=0)
        encode(spark, src_df, dst, cfg, mode="overwrite")
        shutil.rmtree(_manifest_path(dst))  # crash: data + plan, no manifest
        small = src_df.filter("doc_id < 'doc-000000000500'")
        encode(spark, small, dst, cfg, resume=True)
        dec_rows = decode(spark, dst).count()
        assert dec_rows == small.count() == 500, \
            f"phantom rows decoded: {dec_rows}"
        assert verify(spark, small, dst)["mismatches"] == 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_decode_column_order_and_unknown_raise(spark, src_df):
    dst = _dst()
    try:
        encode(spark, src_df, dst,
               PipelineConfig(num_partitions=4, straggler_parts=0),
               mode="overwrite")
        out = decode(spark, dst, columns=["n_tok", "doc_id"])
        assert out.columns == ["n_tok", "doc_id"], "caller's order, not stored"
        with pytest.raises(ValueError, match="unknown columns"):
            decode(spark, dst, columns=["doc_id", "nope"])
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_tilde_and_non_ascii_doc_ids_roundtrip(spark):
    """doc_ids sorting above '~' or with non-ASCII bytes must route and
    round-trip exactly (the old string-prefix salt key could collide)."""
    rows = [("~~tilde-doc", list(range(9000)), 9000, "web"),
            ("émile-utf8", list(range(8500)), 8500, "web"),
            ("\x7f\x7fhigh", list(range(50)), 50, "books")] + [
        (f"doc-{i:04d}", [i % 97] * 40, 40, "wiki") for i in range(300)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=4, straggler_parts=2,
                             skew_quantile=0.99)
        encode(spark, df, dst, cfg, mode="overwrite")
        assert verify(spark, df, dst)["mismatches"] == 0
        assert decode(spark, dst).count() == 303
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_null_tokens_get_zero_n_tok(spark):
    """size(NULL) = -1 must not leak into n_tok (skews τ and byte metrics)."""
    df = spark.createDataFrame(
        [("a", [1, 2, 3], "web"), ("b", None, "web"), ("c", [], "books")],
        "doc_id string, tokens array<int>, source string")
    from plc.sources import normalize_tokens
    norm = normalize_tokens(df)
    toks = {r["doc_id"]: r["n_tok"] for r in norm.collect()}
    assert toks == {"a": 3, "b": 0, "c": 0}
    dst = _dst()
    try:
        encode(spark, df, dst,
               PipelineConfig(num_partitions=2, straggler_parts=0),
               mode="overwrite")
        out = {r["doc_id"]: r["tokens"] for r in decode(spark, dst).collect()}
        assert out["a"] == [1, 2, 3] and out["b"] is None and out["c"] == []
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_iceberg_fallback_propagates_real_errors(spark, src_df, monkeypatch):
    """Only 'iceberg source unavailable' errors fall back to parquet; real
    read errors (missing table, corrupt metadata) must propagate."""
    from pyspark.sql.readwriter import DataFrameReader
    from plc.sources import read_tokens

    def boom(self, path=None, **kw):
        raise RuntimeError("Table does not exist: prod.db.tokens")

    monkeypatch.setattr(DataFrameReader, "load", boom)
    with pytest.raises(RuntimeError, match="Table does not exist"):
        read_tokens(spark, "prod.db.tokens", fmt="iceberg")

    def no_source(self, path=None, **kw):
        raise Exception("[DATA_SOURCE_NOT_FOUND] Failed to find data "
                        "source: iceberg.")

    monkeypatch.setattr(DataFrameReader, "load", no_source)
    src_path = src_df.inputFiles()[0].rsplit("/", 1)[0].replace("file:", "")
    out = read_tokens(spark, src_path, fmt="iceberg")  # → parquet fallback
    assert out.count() == 2000


def test_embeddings_table_roundtrip(spark):
    """Generic (non-token) tables encode too: float32 list embeddings with a
    string key and no n_tok column (the engine's own testdata shape)."""
    from pyspark.sql import functions as F
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    df = emb.select(
        F.format_string("vec-%010d", "vec_id").alias("doc_id"),
        "vec_id", "embedding", "label")
    dst = _dst()
    try:
        rep = encode(spark, df, dst,
                     PipelineConfig(num_partitions=4, straggler_parts=2),
                     mode="overwrite")
        dec = decode(spark, dst)
        assert dec.schema == df.schema
        assert verify(spark, df, dst)["mismatches"] == 0
        assert rep["rows"] == df.count()
        # float plane actually compresses vs raw float bytes is not
        # guaranteed on random data, but the blob must be < plain parquet
        # of the same rows encoded with zstd (byte-plane split wins there)
        assert rep["enc_bytes"] > 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_stats_pruning_skips_chunks(spark):
    """Per-chunk column stats must prune: an n_tok range predicate skips
    chunks via the typed min_w/max_w columns (parquet-pushable), a source
    predicate via the stats JSON — and the row results stay exact."""
    from pyspark.sql import functions as F
    rows = [(f"doc-{i:06d}", [i % 97] * (10 + i // 100), 10 + i // 100,
             "alpha" if i < 1000 else "beta") for i in range(2000)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=8, straggler_parts=0,
                             max_chunk_values=4096)
        encode(spark, df, dst, cfg, mode="overwrite")
        enc = spark.read.parquet(os.path.join(dst, "data"))
        total_chunks = enc.count()
        assert total_chunks >= 8

        out = decode(spark, dst, filters={"n_tok": (25, None)})
        assert out.count() == df.filter("n_tok >= 25").count()
        kept = enc.filter(F.col("max_w").isNull() |
                          (F.col("max_w") >= 25)).count()
        assert kept < total_chunks, "n_tok pruning skipped no chunks"

        out2 = decode(spark, dst, filters={"source": ("beta", "beta")},
                      columns=["doc_id", "source"])
        assert out2.count() == 1000
        assert out2.columns == ["doc_id", "source"]
        smin = F.get_json_object("stats", "$.source.min")
        kept2 = enc.filter(smin.isNull() | (smin >= "beta")).count()
        assert kept2 < total_chunks, "stats-JSON pruning skipped no chunks"

        with pytest.raises(ValueError, match="unknown filter"):
            decode(spark, dst, filters={"nope": (1, 2)})
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_encode_noshuffle_roundtrip_and_resume(spark, src_df):
    """encode(shuffle="none") of a parquet source — the one encoder for
    doc_id-clustered inputs — is exact, resumes after a partial manifest
    (salted straggler parts included) without rewriting a committed part,
    and a second resume encodes nothing."""
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=6, shuffle="none")
        rep = encode(spark, src_df, dst, cfg, mode="overwrite")
        assert rep["rows"] == 2000
        assert verify(spark, src_df, dst)["mismatches"] == 0

        # crash simulation: keep only even-part manifest rows, resume
        man = spark.read.parquet(_manifest_path(dst))
        keep = man.filter("part_id % 2 = 0")
        tmp_man = dst + "_mtmp"
        keep.write.mode("overwrite").parquet(tmp_man)
        shutil.rmtree(_manifest_path(dst))
        shutil.move(tmp_man, _manifest_path(dst))
        encode(spark, src_df, dst, cfg, resume=True)
        res = verify(spark, src_df, dst)
        assert res["mismatches"] == 0 and res["rows_decoded"] == 2000
        man2 = spark.read.parquet(_manifest_path(dst))
        ids = [r[0] for r in man2.select("part_id").collect()]
        assert len(ids) == len(set(ids))
        # a second no-op resume schedules nothing
        rep3 = encode(spark, src_df, dst, cfg, resume=True)
        assert rep3["newly_encoded"] == 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_resume_noop_schedules_zero_parts(spark, src_df):
    """After a complete run (incl. empty straggler parts), resume must not
    re-encode anything — zero-row manifest markers make it a true no-op."""
    dst = _dst()
    try:
        cfg = PipelineConfig(num_partitions=4, straggler_parts=3)
        r1 = encode(spark, src_df, dst, cfg, mode="overwrite")
        assert r1["committed_parts"] == r1["n_parts"]
        r2 = encode(spark, src_df, dst, cfg, resume=True)
        assert r2["newly_encoded"] == 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_metrics_rollup_reads_manifest(spark, src_df):
    from plc.pipeline import metrics

    dst = _dst()
    try:
        encode(spark, src_df, dst,
               PipelineConfig(num_partitions=4, straggler_parts=0),
               mode="overwrite")
        m = metrics(spark, dst).collect()
        assert len(m) == 4
        assert all(r["ratio"] is None or r["ratio"] > 0 for r in m)
        assert sum(r["n_rows"] for r in m) == 2000
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_encode_noshuffle_many_files(spark, tmp_path):
    """A source of 200 small parquet files encodes exactly through
    encode(shuffle="none") — every file's rows land in their range part
    even though the parts span many input splits."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "many")
    os.makedirs(src)
    rng = np.random.default_rng(5)
    all_rows = []
    for i in range(200):
        docs = [f"doc-{i:04d}-{j:02d}" for j in range(5)]
        toks = [rng.integers(0, 1000, 20).astype(np.int32).tolist()
                for _ in range(5)]
        all_rows += list(zip(docs, toks))
        tbl = pa.table({
            "doc_id": pa.array(docs),
            "tokens": pa.array(toks, pa.list_(pa.int32())),
            "n_tok": pa.array([len(t) for t in toks], pa.int32()),
            "source": pa.array(["web"] * 5),
        })
        pq.write_table(tbl, os.path.join(src, f"part-{i:05d}.parquet"))
    dst = str(tmp_path / "enc")
    df = spark.read.parquet(src)
    rep = encode(spark, df, dst,
                 PipelineConfig(num_partitions=4, shuffle="none"))
    assert rep["rows"] == 1000
    res = verify(spark, df, dst)
    assert res["mismatches"] == 0, res


def test_cli_lookup_point_query(spark, monkeypatch, capsys):
    """`plc lookup --doc-id X` decodes exactly X's row through the
    bloom+range chunk-pruned path (CLI wiring test; the pruning semantics
    themselves are covered in test_datasource)."""
    import json as _json
    import tempfile

    from plc import cli
    from plc import data as D
    from plc.pipeline import PipelineConfig, encode

    work = tempfile.mkdtemp(prefix="plc_cli_lookup_")
    src = work + "/tokens.parquet"
    D.synth_tokens_parquet(src, 300, regime="zipf", seed=9)
    tbl = D.synth_tokens_table(300, regime="zipf", seed=9)
    df = spark.read.parquet(src)
    dst = work + "/store"
    encode(spark, df, dst, PipelineConfig(num_partitions=2,
                                          straggler_parts=0),
           mode="overwrite")
    target = tbl.column("doc_id")[5].as_py()

    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(["lookup", "--dst", dst, "--doc-id", target,
                   "--columns", "doc_id,n_tok"])
    assert rc == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    rows = [_json.loads(ln) for ln in lines]
    assert len(rows) == 1 and rows[0]["doc_id"] == target


def test_batch_lookup_and_multirange_filters(spark):
    """decode(doc_ids=[...]) fetches N scattered keys in one pruned scan:
    absent keys (inside chunk ranges) prune every chunk via the planner's
    bloom probe; present keys return exactly their rows. Multi-range
    filters ({col: [(lo,hi),...]}) OR ranges in one scan and match the
    equivalent row filter."""
    import tempfile

    from plc import data as D
    from plc.pipeline import (PipelineConfig, decode, encode, select_chunks)

    work = tempfile.mkdtemp(prefix="plc_batchlk_")
    src_p = work + "/tokens.parquet"
    D.synth_tokens_parquet(src_p, 400, regime="zipf", seed=11)
    df = spark.read.parquet(src_p)
    dst = work + "/store"
    encode(spark, df, dst,
           PipelineConfig(num_partitions=4, straggler_parts=0,
                          max_chunk_values=5_000), mode="overwrite")
    all_ids = sorted(r[0] for r in df.select("doc_id").collect())
    keys = all_ids[::37][:8]  # scattered across the id range
    # present keys: exactly their rows, one scan
    got = sorted(r["doc_id"] for r in
                 decode(spark, dst, doc_ids=keys)
                 .select("doc_id").collect())
    assert got == sorted(keys)
    # chunk-touch accounting: hits prune to fewer chunks than a full scan
    # (scattered keys in a many-chunk store); absent keys survive only by
    # bloom false positives (bounded budget — ==0 would be a statistical
    # claim, not an invariant), and decode exactness settles them
    n_all = select_chunks(spark, dst)[0].count()
    n_hit = select_chunks(spark, dst, doc_ids=keys)[0].count()
    absent = [k + "-absent" for k in keys]
    assert 1 <= n_hit <= n_all and n_all > 4
    assert select_chunks(spark, dst, doc_ids=absent)[0].count() <= 2
    assert decode(spark, dst, doc_ids=absent).count() == 0
    # multi-range: two disjoint n_tok bands in ONE decode call
    bands = [(0, 10), (200, None)]
    got_n = decode(spark, dst, filters={"n_tok": bands}).count()
    want_n = df.filter((df.n_tok <= 10) | (df.n_tok >= 200)).count()
    assert got_n == want_n and want_n > 0


def test_cli_decode_with_filters(spark, monkeypatch):
    """`plc decode --filters '{"n_tok": [[lo,hi],[lo,null]]}'` routes the
    JSON multi-range spec through decode(filters=) (CLI wiring)."""
    import tempfile

    from plc import cli
    from plc import data as D
    from plc.pipeline import PipelineConfig, encode

    work = tempfile.mkdtemp(prefix="plc_cli_flt_")
    src = work + "/tokens.parquet"
    D.synth_tokens_parquet(src, 300, regime="zipf", seed=9)
    df = spark.read.parquet(src)
    dst = work + "/store"
    encode(spark, df, dst, PipelineConfig(num_partitions=2,
                                          straggler_parts=0),
           mode="overwrite")
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    out = work + "/out.parquet"
    spec = '{"n_tok": [[null, 100], [900, null]]}'
    rc = cli.main(["decode", "--dst", dst, "--out", out,
                   "--columns", "doc_id,n_tok", "--filters", spec])
    assert rc == 0
    got = spark.read.parquet(out)
    want = df.filter((df.n_tok <= 100) | (df.n_tok >= 900)).count()
    assert got.count() == want
    assert got.filter((got.n_tok > 100) & (got.n_tok < 900)).count() == 0


def test_batch_lookup_accepts_int_keys(spark):
    """Review finding r5: doc_ids normalize to strings ONCE at the API
    boundary — raw int keys used to crash in the bloom hasher
    (.encode on int) before any row filter ran."""
    import tempfile

    from plc.pipeline import PipelineConfig, decode, encode
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="plc_intkeys_")
    df = spark.range(100).select(
        F.col("id").cast("string").alias("doc_id"),
        F.sequence(F.lit(1), F.lit(3)).cast("array<int>").alias("tokens"),
        F.lit(3).cast("int").alias("n_tok"),
        F.lit("s").alias("source"))
    dst = work + "/store"
    encode(spark, df, dst,
           PipelineConfig(num_partitions=2, straggler_parts=0),
           mode="overwrite")
    got = sorted(r["doc_id"] for r in
                 decode(spark, dst, doc_ids=[3, 7, 99]).collect())
    assert got == ["3", "7", "99"]


def test_batch_lookup_huge_key_set_filters_in_decoder(spark, monkeypatch,
                                                      tmp_path):
    """A large doc_ids key set is filtered inside the decoder on both the
    driver and the Spark path: no join and no key literal in the plan
    (its size and py4j build time do not grow with the key count),
    exact rows, and the caller's column order."""
    from plc import data as D
    from plc import pipeline as P

    work = str(tmp_path)
    src_p = work + "/tokens.parquet"
    D.synth_tokens_parquet(src_p, 300, regime="zipf", seed=13)
    df = spark.read.parquet(src_p)
    dst = work + "/store"
    P.encode(spark, df, dst,
             P.PipelineConfig(num_partitions=2, straggler_parts=0),
             mode="overwrite")
    present = [r[0] for r in df.select("doc_id").limit(50).collect()]
    keys = present + [f"doc-absent-{i:07d}" for i in range(1_500)]
    for cap in (0, float("inf")):
        monkeypatch.setattr(P, "_DRIVER_DECODE_MAX_BYTES", cap)
        out = P.decode(spark, dst, doc_ids=keys, columns=["doc_id", "n_tok"])
        lp = out._jdf.queryExecution().analyzed().toString()
        assert "Join" not in lp, (cap, lp)
        assert "doc-absent-0000050" not in lp, cap
        assert present[0] not in lp, cap
        got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
        assert got == sorted(present), cap
        assert out.columns == ["doc_id", "n_tok"], cap


def test_sampled_verify_and_codec_report(spark):
    """verify(sample=f) spot-checks the SAME key-deterministic subset on
    both sides (exact over the subset — the 10^12-row operational mode),
    and codec_report breaks storage down per (column, codec) from chunk
    metadata only."""
    import tempfile

    from pyspark.sql import functions as F

    from plc import data as D
    from plc.pipeline import (PipelineConfig, codec_report, encode, verify)

    work = tempfile.mkdtemp(prefix="plc_svfy_")
    src_p = work + "/tokens.parquet"
    D.synth_tokens_parquet(src_p, 500, regime="zipf", seed=13)
    df = spark.read.parquet(src_p)
    dst = work + "/store"
    encode(spark, df, dst, PipelineConfig(num_partitions=3,
                                          straggler_parts=0),
           mode="overwrite")
    full = verify(spark, df, dst)
    assert full["mismatches"] == 0
    for frac in (0.25, 1.0):
        res = verify(spark, df, dst, sample=frac)
        assert res["mismatches"] == 0
        assert res["rows_source"] == res["rows_decoded"]
        if frac < 1.0:
            assert 0 < res["rows_source"] < full["rows_source"]
        else:
            assert res["rows_source"] == full["rows_source"]
    # a corrupted source row in the sampled subset IS caught: flip one
    # row's n_tok and re-verify on the full "sample"
    bad = df.withColumn(
        "n_tok", F.when(F.col("doc_id") == df.first()["doc_id"],
                        F.col("n_tok") + 1).otherwise(F.col("n_tok")))
    assert verify(spark, bad, dst, sample=1.0)["mismatches"] == 1
    import pytest as _pytest
    with _pytest.raises(ValueError, match="sample"):
        verify(spark, df, dst, sample=0.0)

    # part-range sampling: pruned decode, exact over the sampled ranges,
    # strictly fewer rows than the full verify at fraction < 1
    from plc.pipeline import _sampled_part_ranges, select_chunks

    resp = verify(spark, df, dst, sample_parts=1 / 3)
    assert resp["mismatches"] == 0
    assert 0 < resp["rows_source"] == resp["rows_decoded"] \
        < full["rows_source"]
    assert verify(spark, df, dst, sample_parts=1.0)["rows_source"] \
        == full["rows_source"]
    # the sampled ranges actually PRUNE chunks (decode cost scales with
    # the fraction), and a different seed picks a different subset
    ranges = _sampled_part_ranges(spark, dst, 1 / 3, seed=0)
    n_all = select_chunks(spark, dst)[0].count()
    n_sel = select_chunks(spark, dst,
                          filters={"doc_id": ranges})[0].count()
    assert 0 < n_sel < n_all
    seeds = {tuple(_sampled_part_ranges(spark, dst, 1 / 3, seed=s))
             for s in range(6)}
    assert len(seeds) > 1, "seed must rotate the sampled parts"
    with _pytest.raises(ValueError, match="not both"):
        verify(spark, df, dst, sample=0.5, sample_parts=0.5)
    with _pytest.raises(ValueError, match="vacuous|zero rows"):
        verify(spark, df, dst, sample=1e-12)

    rep = codec_report(spark, dst).collect()
    cols = {r["column"] for r in rep}
    assert {"doc_id", "tokens", "n_tok", "source"} <= cols
    assert all(r["n_chunks"] >= 1 for r in rep)
    # per column, the codec-choice shares partition the store's bytes
    for c in cols:
        assert abs(sum(r["chunks_share"] for r in rep
                       if r["column"] == c) - 1.0) < 0.05, c


def test_orphan_part_dirs_not_adopted_on_resume(spark, src_df):
    """ADVICE r5 (medium): a crashed format write leaves orphan
    data/part_id=<pid>/ dirs with task-partition pids that can exceed a
    later encode plan's part count; encode(resume=True) must not adopt
    the orphan chunks as committed data, and its commit sweeps the
    orphan dir away."""
    import glob as _glob
    import shutil as _shutil

    from plc.pipeline import PipelineConfig, decode, encode

    dst = tempfile.mkdtemp(prefix="plc_orphan_")
    try:
        cfg = PipelineConfig(num_partitions=4, straggler_parts=0)
        # simulate the crashed format write: data dirs present (one with
        # pid far beyond the plan's 4 parts), no plan, no manifest
        encode(spark, src_df, dst, cfg, mode="overwrite")
        some_file = _glob.glob(os.path.join(dst, "data", "part_id=0",
                                            "*.parquet"))[0]
        orphan_dir = os.path.join(dst, "data", "part_id=99")
        os.makedirs(orphan_dir)
        _shutil.copy(some_file, os.path.join(orphan_dir, "orphan.parquet"))
        _shutil.rmtree(os.path.join(dst, "_manifest"))

        encode(spark, src_df, dst, cfg, resume=True)
        assert not os.path.exists(orphan_dir)
        got = decode(spark, dst).count()
        assert got == src_df.count()  # orphan chunks were NOT adopted
    finally:
        _shutil.rmtree(dst, ignore_errors=True)


def _scan_files(df) -> set:
    """Local paths of the files a DataFrame's scan lists."""
    return {f.replace("file://", "").replace("file:", "")
            for f in df.inputFiles()}


def test_batch_lookup_scan_pinned_to_planner_files(spark):
    """Batch-lookup chunk pruning runs in the driver-side planner: the
    select_chunks plan has no join, its scan lists exactly the files the
    planner keeps (a strict subset of the committed ones), and rows stay
    exact — including straggler-routed keys on a pipeline store and keys
    on a format-written store."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from plc import data as D
    from pyspark.sql import functions as F

    from plc.datasource import (ChunkPlanner, _PlanFS, _committed_data_files,
                                register)
    from plc.pipeline import (PipelineConfig, _load_plan, decode, encode,
                              select_chunks)

    work = tempfile.mkdtemp(prefix="plc_blkeq_")
    src_p = work + "/tokens.parquet"
    D.synth_tokens_parquet(src_p, 600, regime="zipf", seed=23)
    df = spark.read.parquet(src_p)
    dst = work + "/store"
    # low skew quantile so real straggler rows exist
    encode(spark, df, dst,
           PipelineConfig(num_partitions=4, straggler_parts=2,
                          skew_quantile=0.9, max_chunk_values=5_000),
           mode="overwrite")
    tau = _load_plan(dst)["tau"]
    stragglers = [r["doc_id"] for r in
                  df.filter(F.col("n_tok") > tau).limit(3).collect()]
    normals = [r["doc_id"] for r in
               df.filter(F.col("n_tok") <= tau).limit(5).collect()]
    assert stragglers, "fixture produced no straggler rows"
    keys = stragglers + normals + [d + "-absent" for d in normals[:2]]

    register(spark)
    fdst = work + "/fmt"
    (df.repartitionByRange(3, "doc_id").write.format("plc")
     .mode("overwrite").save(fdst))
    for d in (dst, fdst):
        pfs = _PlanFS(d)
        planner = ChunkPlanner(_load_plan(pfs))
        planner.probe(keys)
        with ThreadPoolExecutor(4) as pool:
            files = _committed_data_files(pfs)
            committed = set(files)
            kept = {fc.file for fc in planner.plan(pfs, files, pool)}
        pruned, _ = select_chunks(spark, d, doc_ids=keys)
        p = pruned._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in p, p
        assert _scan_files(pruned) == kept <= committed, (d, kept)
        one, _ = select_chunks(spark, d, doc_ids=normals[:1])
        assert 1 == len(_scan_files(one)) < len(committed), d
        out = decode(spark, d, doc_ids=keys).select("doc_id")
        assert "Join" not in out._jdf.queryExecution().executedPlan() \
            .toString()
        assert sorted(r["doc_id"] for r in out.collect()) \
            == sorted(stragglers + normals)
    shutil.rmtree(work, ignore_errors=True)


def test_bloom_split_layout_and_legacy_fallback(spark):
    """r7: the doc_id bloom payload lives in its own enc-table column —
    the stats JSON every metadata query parses stays small (< 1 KB/chunk)
    — and point/batch lookups prune on it. A legacy store with the bloom
    embedded in the stats JSON (no bloom column) is not bloom-pruned, but
    its lookups still return exactly the present keys and nothing for
    absent ones."""
    import base64
    import json as _json
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from plc import data as D
    from plc.pipeline import (PipelineConfig, decode, encode, select_chunks)

    work = tempfile.mkdtemp(prefix="plc_bloomsplit_")
    src_p = work + "/tokens.parquet"
    D.synth_tokens_parquet(src_p, 400, regime="zipf", seed=13)
    df = spark.read.parquet(src_p)
    dst = work + "/store"
    encode(spark, df, dst,
           PipelineConfig(num_partitions=4, straggler_parts=0,
                          max_chunk_values=5_000), mode="overwrite")

    # layout: stats JSON small, bloom column carries the bits
    files = sorted(glob.glob(os.path.join(dst, "data", "part_id=*",
                                          "*.parquet")))
    assert files
    got_bloom = False
    for f in files:
        tbl = pq.read_table(f, columns=["stats", "bloom"])
        for i in range(tbl.num_rows):
            st = _json.loads(tbl.column("stats")[i].as_py())
            assert len(tbl.column("stats")[i].as_py()) < 1024
            assert "bloom" not in st.get("doc_id", {})
            if tbl.column("bloom")[i].as_py() is not None:
                got_bloom = True
                assert st["doc_id"]["bloom_m"] > 0
    assert got_bloom

    all_ids = sorted(r[0] for r in df.select("doc_id").collect())
    keys = all_ids[::41][:6]
    absent = [k + "-absent" for k in keys]

    def check(d):
        got = sorted(r["doc_id"] for r in
                     decode(spark, d, doc_ids=keys)
                     .select("doc_id").collect())
        assert got == sorted(keys)
        assert decode(spark, d, doc_ids=absent).count() == 0
        probe = keys[0]
        one = decode(spark, d, filters={"doc_id": (probe, probe)})
        assert [r["doc_id"] for r in one.select("doc_id").collect()] \
            == [probe]

    check(dst)
    assert select_chunks(spark, dst, doc_ids=absent)[0].count() <= 2

    # legacy layout: re-embed the b64 bloom into the stats JSON and drop
    # the bloom column — lookups stay exact (no bloom pruning)
    old = work + "/store_old"
    shutil.copytree(dst, old)
    for f in sorted(glob.glob(os.path.join(old, "data", "part_id=*",
                                           "*.parquet"))):
        tbl = pq.read_table(f)
        stats, blooms = [], tbl.column("bloom")
        for i in range(tbl.num_rows):
            st = _json.loads(tbl.column("stats")[i].as_py())
            bits = blooms[i].as_py()
            if bits is not None:
                st["doc_id"]["bloom"] = \
                    base64.b64encode(bits).decode("ascii")
            stats.append(_json.dumps(st))
        idx = tbl.column_names.index("stats")
        tbl = tbl.set_column(idx, "stats", pa.array(stats, pa.string()))
        tbl = tbl.drop_columns(["bloom"])
        # drop the embedded spark row-metadata (it still lists the bloom
        # column, and Spark trusts it over the physical schema)
        tbl = tbl.replace_schema_metadata(None)
        pq.write_table(tbl, f, compression="none")
    for crc in glob.glob(os.path.join(old, "data", "part_id=*", ".*.crc")):
        os.unlink(crc)  # hadoop checksum sidecars of the replaced files
    check(old)

    # format reader: pushed doc_id IN probes are exact on both layouts
    from plc.datasource import register

    register(spark)
    for d in (dst, old):
        got = (spark.read.format("plc").load(d)
               .where(F.col("doc_id").isin(keys)).count())
        assert got == len(keys)
        n_abs = (spark.read.format("plc").load(d)
                 .where(F.col("doc_id").isin(absent)).count())
        assert n_abs == 0
    shutil.rmtree(work, ignore_errors=True)


def test_placement_sends_each_row_to_its_part_partition(spark, tmp_path):
    """With stragglers in the plan, the encode placement exchange puts
    every row in the reduce partition whose index is the part id the
    encoder gives it: searchsorted over the plan bounds for normal rows,
    ``n_parts + _sbucket - 1`` for stragglers."""
    import numpy as np

    from plc.pipeline import _encoder_input

    p = str(tmp_path / "tokens.parquet")
    D.synth_tokens_parquet(p, 1500, regime="zipf", seed=19)
    df = spark.read.parquet(p)
    cfg = PipelineConfig(num_partitions=5, straggler_parts=3,
                         skew_quantile=0.9)
    plan = build_plan(spark, df, cfg)
    assert len(plan["bounds"]) == 4
    rows = (_encoder_input(df, plan, cfg)
            .select("doc_id", "_sbucket",
                    F.spark_partition_id().alias("p")).collect())
    assert len(rows) == 1500
    docs = np.array([r["doc_id"] for r in rows], dtype=str)
    sb = np.array([r["_sbucket"] for r in rows], dtype=np.int64)
    want = np.searchsorted(np.array(plan["bounds"], dtype=str), docs,
                           side="right")
    want = np.where(sb > 0, plan["n_parts"] + sb - 1, want)
    assert (sb > 0).any(), "fixture produced no straggler rows"
    assert [r["p"] for r in rows] == want.tolist()
