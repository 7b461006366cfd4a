"""Per-layer metrics for the traced run (``--trace 1``).

Every traced run reports the same metric names. A layer a workload does not
exercise reports 0 (for example the stream sink outside ``append``).
Besides the spans recorded around the timed operations, the traced run
makes a few untimed probe calls into each module's public functions after
the timed phase: one ``plc.build_plan`` and one ``plc.encode`` of the
workload's rows, ``pipeline.select_chunks`` for stored and absent keys, a
planned ``format("plc")`` lookup, ``plc.store_agg``, the chunks view, and
single-threaded in-process ``chunk`` / ``fsst`` kernel calls on the same
rows cut into the chunks the pipeline would make.
"""

from __future__ import annotations

import collections
import json
import os
import statistics
import time

import numpy as np
import pyarrow as pa

COLUMNS = ("doc_id", "tokens", "n_tok", "source")
# (column, codec) pairs the three workloads' stores use; any other pair is
# counted in chunk.codec_chunks.other
CODEC_PAIRS = (("doc_id", "fsst"), ("doc_id", "string"), ("doc_id", "zstd"),
               ("tokens", "list"), ("n_tok", "for"), ("n_tok", "forbp"),
               ("n_tok", "zstd"), ("source", "dict"), ("source", "string"),
               ("source", "zstd"))
LAYERS = ("op", "bench", "pipeline", "datasource", "spark", "sink")

PER_LAYER = {
    "chunk.pack_mb_per_cpu_s": "MB/s",
    "chunk.unpack_mb_per_cpu_s": "MB/s",
    "fsst.encode_mb_per_cpu_s": "MB/s",
    **{f"chunk.enc_bytes.{c}": "bytes" for c in COLUMNS},
    **{f"chunk.codec_chunks.{c}.{k}": "count" for c, k in CODEC_PAIRS},
    "chunk.codec_chunks.other": "count",
    "pipeline.plan_s": "s",
    "pipeline.data_path_s": "s",
    "pipeline.commit_s": "s",
    "pipeline.encode_jobs": "count",
    "pipeline.encode_tasks": "count",
    "pipeline.worker_cpu_s": "s",
    "pipeline.jvm_cpu_s": "s",
    "pipeline.select_chunks_ms": "ms",
    "pipeline.chunks_per_hit": "count",
    "pipeline.chunks_per_miss": "count",
    "pipeline.rows_decoded_per_row_returned": "ratio",
    "pipeline.lookup_jobs": "count",
    "datasource.plan_ms": "ms",
    "datasource.partitions": "count",
    "datasource.store_chunks": "count",
    "sink.add_batch_ms": "ms",
    "sink.wal_commit_ms": "ms",
    "sink.trigger_ms": "ms",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.residual_share": "ratio",
    "trace.op_p50_ms": "ms",
    "trace.mix_ms": "ms",
    "trace.bookkeeping_ms": "ms",
    "host.steal_s": "s",
    "host.loadavg_1m": "load",
}


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# ------------------------------------------------------------- kernels


def _chunks(tbl: pa.Table, plan: dict, max_values: int) -> list:
    """The workload's rows cut the way the encoder cuts them: one run of
    chunks per planned part (by the plan's doc_id bounds), each at most
    ``max_values`` tokens."""
    tbl = tbl.sort_by("doc_id")
    ids = np.array(tbl.column("doc_id").to_pylist(), dtype=str)
    part = np.searchsorted(np.array(plan["bounds"], dtype=str), ids,
                           side="right")
    n_tok = np.asarray(tbl.column("n_tok"), dtype=np.int64)
    out = []
    cuts = np.flatnonzero(np.diff(part)) + 1
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(part)]):
        s = int(lo)
        while s < hi:
            cum = np.cumsum(n_tok[s:hi])
            take = max(1, int(np.searchsorted(cum, max_values, side="right")))
            out.append(tbl.slice(s, take).combine_chunks().to_batches()[0])
            s += take
    return out


def _string_plane(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    offs = np.frombuffer(arr.buffers()[1], np.int32, len(arr) + 1,
                         arr.offset * 4).astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], np.uint8, int(offs[-1] - offs[0]),
                         int(offs[0]))
    return data, np.diff(offs)


def kernel_metrics(tbl: pa.Table, plan: dict, max_values: int,
                   passes: int = 3) -> dict:
    from plc.chunk import EncodeConfig, pack_chunk, unpack_chunk
    from plc.fsst import fsst_encode

    batches = _chunks(tbl, plan, max_values)
    raw_mb = 4 * sum(int(np.asarray(b.column("n_tok")).sum())
                     for b in batches) / 1e6
    pack, unpack, fsst = [], [], []
    for _ in range(passes):
        cfg = EncodeConfig()
        c0 = time.process_time()
        blobs = [pack_chunk(b, cfg)[0] for b in batches]
        c1 = time.process_time()
        for blob in blobs:
            unpack_chunk(blob)
        c2 = time.process_time()
        planes = [_string_plane(b.column("doc_id")) for b in batches]
        c3 = time.process_time()
        for data, lengths in planes:
            fsst_encode(data, lengths)
        c4 = time.process_time()
        pack.append(c1 - c0)
        unpack.append(c2 - c1)
        fsst.append(c4 - c3)
    id_mb = sum(len(d) for d, _ in planes) / 1e6
    out = {"chunk.pack_mb_per_cpu_s": raw_mb / statistics.median(pack),
           "chunk.unpack_mb_per_cpu_s": raw_mb / statistics.median(unpack),
           "fsst.encode_mb_per_cpu_s": id_mb / statistics.median(fsst)}
    for c in COLUMNS:
        cfg = EncodeConfig()
        out[f"chunk.enc_bytes.{c}"] = sum(
            len(pack_chunk(b.select([c]), cfg)[0]) for b in batches)
    return out


# --------------------------------------------------------------- probes


def probe(b, wl, dst: str, keys: list[str], want: dict,
          agg_root: str | None = None) -> dict:
    """Untimed calls for the per-layer counts (traced run only)."""
    import plc
    from plc import pipeline
    from plc.procstat import proc_tree_cpu_sec
    from pyspark.sql import functions as F

    spark, tr = b.spark, b.tracer
    out = {}
    df, tbl = wl.df, wl.tbl
    cfg = pipeline.PipelineConfig()

    # write side: a separate plan, then one full encode
    spark.sparkContext.setJobGroup("probe.plan", "probe.plan")
    with tr.span("pipeline.build_plan"):
        t0 = time.perf_counter()
        plan = pipeline.build_plan(spark, df, cfg)
        out["pipeline.plan_s"] = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("probe.encode", "probe.encode")
    cpu0 = proc_tree_cpu_sec()
    py0 = proc_tree_cpu_sec(exclude_comm="java")
    with tr.span("pipeline.encode"):
        t0 = time.perf_counter()
        rep = plc.encode(spark, df, os.path.join(b.work, "probe_store"), cfg)
        wall = time.perf_counter() - t0
    py = proc_tree_cpu_sec(exclude_comm="java") - py0
    out["pipeline.worker_cpu_s"] = py
    out["pipeline.jvm_cpu_s"] = proc_tree_cpu_sec() - cpu0 - py
    out["pipeline.data_path_s"] = rep["data_path_sec"]
    out["pipeline.commit_s"] = wall - out["pipeline.plan_s"] - rep["data_path_sec"]
    out["pipeline.encode_jobs"] = len(tr.job_ids("probe.encode"))
    out["pipeline.encode_tasks"] = tr.tasks_of("probe.encode")

    # read side: chunk selection for stored and absent keys
    spark.sparkContext.setJobGroup("probe.read", "probe.read")
    hit, miss, decoded, ms = [], [], 0, []
    for k in keys:
        with tr.span("pipeline.select_chunks"):
            t0 = time.perf_counter()
            enc, _ = pipeline.select_chunks(spark, dst,
                                            filters={"doc_id": (k, k)})
            ms.append(1e3 * (time.perf_counter() - t0))
        r = enc.agg(F.count(F.lit(1)).alias("c"),
                    F.sum("n_rows").alias("rows")).collect()[0]
        (hit if k in want else miss).append(r["c"])
        decoded += r["rows"] or 0
    out["pipeline.select_chunks_ms"] = _median(ms)
    out["pipeline.chunks_per_hit"] = _median(hit)
    out["pipeline.chunks_per_miss"] = _median(miss)
    out["pipeline.rows_decoded_per_row_returned"] = decoded / max(1, len(hit))
    k = next(k for k in keys if k in want)
    spark.sparkContext.setJobGroup("probe.lookup", "probe.lookup")
    wl.decode_key(dst, k)
    out["pipeline.lookup_jobs"] = len(tr.job_ids("probe.lookup"))
    spark.sparkContext.setJobGroup("probe.read", "probe.read")
    sql = spark.read.format("plc").load(dst).where(F.col("doc_id") == k)
    b.plan(sql)
    out["datasource.partitions"] = sql.rdd.getNumPartitions()

    out["datasource.store_chunks"] = wl.agg_of(agg_root or dst)["n_chunks"]
    codecs = collections.Counter()
    for r in (spark.read.format("plc").option("view", "chunks").load(dst)
              .select("codecs").collect()):
        codecs.update(json.loads(r["codecs"]).items())
    for c, k in CODEC_PAIRS:
        out[f"chunk.codec_chunks.{c}.{k}"] = codecs.pop((c, k), 0)
    out["chunk.codec_chunks.other"] = sum(codecs.values())
    if codecs:
        print(f"codec pairs outside CODEC_PAIRS: {dict(codecs)}", flush=True)
    spark.sparkContext.setJobGroup("bench", "bench")
    out.update(kernel_metrics(tbl, plan, cfg.max_chunk_values))
    return out


def per_layer(b, wl, steal_s: float, load0: float, untraced: str) -> dict:
    """``untraced``: where an untraced run of the same workload and seed
    left its end-to-end metrics, if it was made."""
    out = wl.probe()
    tr = b.tracer
    out["datasource.plan_ms"] = 1e3 * _median(tr.durations("datasource.plan"))
    prog = [p for p in (b.stream.recentProgress if b.stream else [])
            if p["numInputRows"] > 0]
    for name, key in (("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                      ("trigger", "triggerExecution")):
        out[f"sink.{name}_ms"] = _median(p["durationMs"].get(key, 0)
                                         for p in prog)
    n = len(b.samples[wl.headline])
    st = tr.stage_metrics(f"op.{wl.headline}")
    out["spark.executor_run_s"] = st["run_s"] / n
    out["spark.executor_cpu_s"] = st["cpu_s"] / n
    out["spark.gc_s"] = st["gc_s"] / n
    out["spark.shuffle_write_mb"] = st["shuffle_mb"] / n
    selfs = tr.self_times()
    for layer in LAYERS:
        out[f"self_s.{layer}"] = selfs.pop(layer, 0.0)
    if selfs:
        print(f"span layers outside LAYERS: {sorted(selfs)}", flush=True)
    op_wall = sum(sum(tr.durations(f"op.{op}")) for op in b.samples)
    out["trace.residual_share"] = out["self_s.op"] / op_wall
    out["trace.op_p50_ms"] = 1e3 * b.p50(wl.headline)
    out["trace.mix_ms"] = 1e3 * sum(b.p50(op) for op in b.samples)
    out["trace.bookkeeping_ms"] = 1e3 * tr.bookkeeping_s
    if os.path.exists(untraced):
        with open(untraced) as f:
            ref = json.load(f)
        for k in ("op_p50_ms", "mix_ms"):
            d = out[f"trace.{k}"] - ref[k]["value"]
            print(f"tracing overhead {k} {d:+.1f} ms "
                  f"({d / ref[k]['value']:+.1%} of the untraced run)",
                  flush=True)
    else:
        print("tracing overhead: make an untraced run of this seed first",
              flush=True)
    out["host.steal_s"] = steal_s
    out["host.loadavg_1m"] = load0
    spans = os.path.join(os.path.dirname(b.work), "traces")
    os.makedirs(spans, exist_ok=True)
    path = os.path.join(spans, f"{wl.name}-seed{b.seed}.json")
    tr.dump(path)
    print(f"spans written to {os.path.relpath(path)} "
          f"({len(tr.spans)} spans)", flush=True)
    for layer in LAYERS:
        print(f"layer {layer} self_s={out[f'self_s.{layer}']:.3f}", flush=True)
    missing = set(PER_LAYER) - set(out)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER.items()}
