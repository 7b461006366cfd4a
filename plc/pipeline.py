"""Distributed encode/decode pipeline (SURVEY.md §2 P1-P7, §3 E1-E3).

Spark-first layering per BASELINE.json north_rule:
- *planning* is DataFrame-declarative: stats pre-pass (sampled quantiles),
  explicit placement of each ``doc_id`` range part in its own reduce
  partition (``repartitionById`` on the plan's bounds), salt-based skew
  splitting for long-token-array stragglers;
- *encoding* is Arrow-vectorized: one ``mapInArrow`` stage running the
  chunk/codec kernels (plc.chunk) on whole RecordBatches — zero per-row
  Python in the hot path;
- *writing* is the format writer's protocol: the encoder's tasks write
  their part files straight into ``part_id=`` dirs (pyarrow.fs) and hand
  the driver one manifest row per file — chunk payloads never cross back
  to the JVM and no Spark sink runs;
- *operational state* is a lineage manifest naming every data file,
  appended after the data (commit-last) from exactly those rows, so
  interrupted runs resume from the last committed part (P6) and a file
  no manifest names (a crashed attempt's) is never read and is swept at
  the next commit.

Scale notes (designed for ~100 TB / 1000 executors, tested on local[32]):
- one shuffle total (the placement exchange); everything after is map-side;
- partition count: aim for ~256-512 MB of raw tokens per logical part —
  pass ``num_partitions`` explicitly or let the sampled row count choose;
- the exchange routes rows by our own persisted bounds (*deterministic*
  resume identity) as a JVM comparison tree, and the encoder applies the
  same bounds vectorized (np.searchsorted), not per row;
- skewed rows (n_tok > τ = q0.999) get dedicated straggler partitions,
  salted by crc32(doc_id) — AQE skew handling does not cover mapInArrow
  stages, so the salt is explicit;
- decode prunes chunks on the driver (plc.datasource.ChunkPlanner: typed
  min/max, stats JSON, doc_id bloom) and pins the Spark scan to the files
  that keep a chunk, or unpacks a small kept set on the driver with no
  Spark job; no custom Catalyst rule needed.
"""

from __future__ import annotations

import json
import os
import posixpath
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from plc.chunk import (_ENC_ARROW_SCHEMA, MAX_CHUNK_VALUES, EncodeConfig,
                       cut_chunks, row_weights, weight_col)
from plc.datasource import (_MANIFEST_SCHEMA, _PARTS_REL, _PLAN_REL,
                            _PLAN_THREADS, _SUM_COLS, ChunkPlanner,
                            PLCChunkPartition, PLCCommit, _PlanFS,
                            _committed_data_files, _delete_job_files,
                            _load_plan, _manifest_table, _named_entries,
                            _normalize_ranges, _read_chunk_partition,
                            _read_manifest, _sweep_unnamed, _unpack_rows,
                            _write_part_files)

ENC_SCHEMA_DDL = (
    "part_id int, chunk_idx int, n_rows bigint, n_tokens bigint, "
    "raw_bytes bigint, enc_bytes bigint, min_doc_id string, max_doc_id string, "
    "min_w bigint, max_w bigint, stats string, codecs string, bloom binary, "
    "payload binary"
)
# decode() unpacks its kept chunks on the driver (no Spark job) when they
# are predicate-selected and their encoded sizes sum to at most this;
# larger reads run the same decoder in mapInArrow tasks. Measured on a
# 4-core host (local[4], ~95 KB chunks, decode().collect() p50, driver vs
# Spark ms), with reused Python workers no longer re-reading their zips
# per task: every row of 1 / 4 / 8 / 10 / 12 / 16 / 64 kept chunks
# 107/236, 348/397, 821-973/888-987, 918/899, 981-1121/877-986,
# 1342/1163, 5091/3684; one row per kept chunk 55/224 (1), 61/202 (4),
# 113/247 (16), 369/356 (64). The every-row crossover is ~0.8-0.9 MB;
# the cap sits at it
_DRIVER_DECODE_MAX_BYTES = 768 << 10

@dataclass
class PipelineConfig:
    """Knobs for the distributed layer; codec knobs live in EncodeConfig."""

    codec: EncodeConfig = field(default_factory=EncodeConfig)
    num_partitions: int | None = None     # logical range parts (None → auto)
    straggler_parts: int = 4              # k salted parts for skewed rows
    skew_quantile: float = 0.999          # τ = q(n_tok, this)
    max_chunk_values: int = MAX_CHUNK_VALUES  # weight cap per chunk
    shuffle: str = "range"                # "range" | "none" (input already
    #   clustered by doc_id, e.g. a sorted Iceberg table: skips the only
    #   exchange in the pipeline; logical part ids and resume semantics are
    #   unchanged — parts may then just span input splits)


# --------------------------------------------------------------------------
# plan: stats pre-pass → persisted, deterministic partition plan
# --------------------------------------------------------------------------


def _manifest_path(dst: str) -> str:
    return os.path.join(dst, "_manifest", "parts")


_BOUNDS_SAMPLE = 100_000  # most doc_ids sampled for the range bounds


def _weight(wcol: str) -> Column:
    """:func:`plc.chunk.row_weights` as a Column, for τ, skew routing and
    resume: a null ``n_tok`` counts as 0, a table without it weighs 1."""
    return F.lit(1) if wcol == "_w" else F.coalesce(F.col(wcol), F.lit(0))


def build_plan(spark: SparkSession, df: DataFrame, cfg: PipelineConfig) -> dict:
    """Stats pre-pass (P2/P3 planning): sampled range bounds on doc_id plus
    the straggler threshold τ. ONE job total: the exact row count rides the
    sample job as an ``observe`` metric (it used to be a separate full
    count() pass), and the sample itself is the bottom-``target`` rows by
    ``xxhash64(doc_id)`` — a distributed TakeOrdered (per-partition top-k,
    no shuffle), equivalent to a uniform key sample but with a size fixed
    up front, so no count is needed to pick a fraction. All driver-side
    state is O(num_partitions + target)."""
    from pyspark.sql import Observation

    wcol = weight_col(df.columns)
    # sample size scales with the part count (~200 ids per boundary is
    # plenty for even range bounds); _BOUNDS_SAMPLE stays the ceiling.
    # When num_partitions is auto (None) the part count depends on the
    # not-yet-known total, so the ceiling itself is the target.
    target = (min(_BOUNDS_SAMPLE, 10_000 + 200 * cfg.num_partitions)
              if cfg.num_partitions else _BOUNDS_SAMPLE)
    obs = Observation()
    rows = (df.select("doc_id", _weight(wcol))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .orderBy(F.xxhash64("doc_id", F.lit(42)))
            .limit(target).collect())
    total = int(obs.get["n"])
    n_parts = cfg.num_partitions or max(8, min(1024, total // 250_000 + 1))
    sample = sorted(r[0] for r in rows)
    bounds = []
    if len(sample) >= n_parts > 1:
        step = len(sample) / n_parts
        bounds = sorted({sample[int(i * step)] for i in range(1, n_parts)})
    tau = 2**31 - 1
    if cfg.straggler_parts > 0 and rows:
        tau = int(np.quantile(np.array([r[1] for r in rows], dtype=np.int64),
                              cfg.skew_quantile, method="lower"))
    return {
        "n_parts": len(bounds) + 1,
        "bounds": bounds,
        "tau": tau,
        "weight_col": wcol,
        "straggler_parts": cfg.straggler_parts,
        "total_rows": total,
        "schema": df.schema.jsonValue(),
    }


# --------------------------------------------------------------------------
# encoder (runs in executors inside mapInArrow)
# --------------------------------------------------------------------------


def _make_encoder(plan: dict, cfg: PipelineConfig):
    """The encode task body: label each row with its part id and feed
    the runs of one part to :func:`plc.chunk.cut_chunks`."""
    bounds = np.array(plan["bounds"], dtype=str)
    n_parts = plan["n_parts"]
    wcol = plan.get("weight_col", "n_tok")

    def runs(batches):
        for batch in batches:
            docs = batch.column("doc_id").to_numpy(zero_copy_only=False)
            part = (np.searchsorted(bounds, docs.astype(str), side="right")
                    if bounds.size else np.zeros(len(docs), np.int64))
            # straggler routing comes in as the JVM-computed _sbucket column
            # (1+crc32(doc_id)%k for rows over τ, 0 otherwise) — vectorized,
            # and bit-identical to the bucket the shuffle/resume side used
            sb = batch.column("_sbucket").to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            part = np.where(sb > 0, n_parts + sb - 1, part)
            batch = batch.drop_columns(["_sbucket"])
            # group rows by part id (sorted within partition → contiguous)
            order = np.argsort(part, kind="stable")
            if not np.array_equal(order, np.arange(order.size)):
                batch = batch.take(pa.array(order))
                part = part[order]
            w = row_weights(batch, wcol)
            cuts = np.flatnonzero(np.diff(part)) + 1
            for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(part)]):
                yield int(part[lo]), batch.slice(lo, hi - lo), w[lo:hi]

    return lambda batches: cut_chunks(runs(batches), cfg.codec, wcol,
                                      cfg.max_chunk_values)


# --------------------------------------------------------------------------
# E1: encode
# --------------------------------------------------------------------------


def _sbucket_col(plan: dict):
    """P3 skew routing column: 0 for normal rows, 1+crc32(doc_id)%k for
    stragglers (n_tok > τ). Range-partitioning on (_sbucket, doc_id) sends
    stragglers to dedicated salted parts after all normal parts. An explicit
    int column (not string-prefix arithmetic) so doc_ids sorting above '~'
    or containing non-ASCII bytes can never be misrouted."""
    tau, k = plan["tau"], plan["straggler_parts"]
    if k <= 0:
        return F.lit(0).cast("int")
    salt = F.pmod(F.crc32(F.col("doc_id").cast("binary")), F.lit(k))
    w = _weight(plan.get("weight_col", "n_tok"))
    return (F.when(w > tau, salt + 1).otherwise(F.lit(0))
            .cast("int"))


# widest bounds list turned into a JVM comparison tree (depth log2(P));
# beyond it the expression would strain codegen and the sampled range
# exchange takes over (its extra input pass amortizes at that scale)
_PID_EXPR_MAX_BOUNDS = 128


def _pid_expr(plan: dict):
    """The encoder's part id as a Column: its routing arithmetic
    (``np.searchsorted(bounds, doc_id, side="right")``, stragglers to
    ``n_parts + _sbucket - 1``) as a binary-search WHEN tree — O(log P)
    string comparisons per row, built once at plan time. None when the
    plan has no usable bounds or too many for an expression tree."""
    bounds = plan["bounds"]
    if not bounds or len(bounds) > _PID_EXPR_MAX_BOUNDS:
        return None
    n_parts = plan["n_parts"]

    def tree(lo: int, hi: int):
        # parts lo..hi; part index m holds rows with #{b <= doc} == m,
        # so part <= mid  <=>  doc < bounds[mid]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(F.col("doc_id") < F.lit(bounds[mid]),
                      tree(lo, mid)).otherwise(tree(mid + 1, hi))

    pid = tree(0, n_parts - 1)
    if plan["straggler_parts"] > 0:
        pid = F.when(F.col("_sbucket") > 0,
                     F.col("_sbucket") + (n_parts - 1)).otherwise(pid)
    return pid.cast("int")


def _encoder_input(df: DataFrame, plan: dict,
                   cfg: PipelineConfig) -> DataFrame:
    """``df`` with its ``_sbucket`` routing column, placed for the
    encoder: with ``shuffle="range"`` each part lands in its own reduce
    partition. ``repartitionById`` on :func:`_pid_expr` sends part *p*
    to partition *p* in ONE pass over the input; ``repartitionByRange``
    would first run Spark's RangePartitioner sampling job, a SECOND full
    evaluation of the child (scan + tokenize for derived inputs), so it
    is only the fallback for plans with no usable bounds or more than
    ``_PID_EXPR_MAX_BOUNDS``. The encoder labels rows by its own
    searchsorted arithmetic whichever reducer they land on, so placement
    is a clustering hint and can never affect correctness."""
    # _sbucket travels into the encoder in both modes: the mapInArrow
    # workers read it for straggler routing (no Python-side hashing)
    # and drop it
    df = df.withColumn("_sbucket", _sbucket_col(plan))
    if cfg.shuffle == "none":
        return df  # input layout already clusters doc_id; no exchange
    total_parts = plan["n_parts"] + plan["straggler_parts"]
    pid = _pid_expr(plan)
    placed = (df.repartitionById(total_parts, pid) if pid is not None
              else df.repartitionByRange(total_parts, "_sbucket", "doc_id"))
    return placed.sortWithinPartitions("_sbucket", "doc_id")


def _pending_predicate(plan: dict, committed: set[int]):
    """P6 resume: SQL predicate selecting rows of uncommitted parts only.
    Normal parts become doc_id range predicates (parquet row-group skippable);
    straggler parts become (n_tok > τ AND crc32 salt ∈ pending)."""
    bounds, tau = plan["bounds"], plan["tau"]
    n_parts, k = plan["n_parts"], plan["straggler_parts"]
    w = _weight(plan.get("weight_col", "n_tok"))
    preds = []
    pending_normal = [i for i in range(n_parts) if i not in committed]
    not_straggler = (w <= tau) if k > 0 else F.lit(True)
    # merge consecutive part ids into single range predicates
    runs: list[list[int]] = []
    for i in pending_normal:
        if runs and runs[-1][1] == i - 1:
            runs[-1][1] = i
        else:
            runs.append([i, i])
    for lo, hi in runs:
        p = not_straggler
        if lo > 0:
            p = p & (F.col("doc_id") >= bounds[lo - 1])
        if hi < n_parts - 1:
            p = p & (F.col("doc_id") < bounds[hi])
        preds.append(p)
    pending_stragglers = [j for j in range(k) if n_parts + j not in committed]
    if pending_stragglers and k > 0:
        salt = F.pmod(F.crc32(F.col("doc_id").cast("binary")), F.lit(k))
        preds.append((w > tau) & salt.isin(pending_stragglers))
    if not preds:
        return F.lit(False)
    return reduce(lambda a, b: a | b, preds)


def _prepare_state(spark: SparkSession, df: DataFrame, dst: str,
                   cfg: PipelineConfig, resume: bool, mode: str
                   ) -> "tuple[dict, pa.Table | None]":
    """Head of :func:`encode`: fresh-run guard (refuses ANY prior encode
    state — a crash between data write and manifest commit leaves part
    dirs/plan with no manifest), plan load-or-build, and on resume the
    committed manifest rows (part_id, file and the counters), read once."""
    pfs = _PlanFS(dst)
    # only a resume reads the manifest: overwriting must work on a store
    # whose manifest no longer reads
    has_manifest = any(st.path.endswith(".parquet")
                       for st in pfs.listdir(_PARTS_REL))
    prior_state = (has_manifest or pfs.exists(_PLAN_REL)
                   or bool(pfs.listdir("data")))
    if prior_state and not resume:
        if mode == "overwrite":
            pfs.fs.delete_dir(pfs.root)
            has_manifest = False
        else:
            raise FileExistsError(
                f"{dst} already has encode state (manifest, plan, or data); "
                f"pass resume=True or mode='overwrite'")
    pfs.fs.create_dir(pfs.join("_manifest"), recursive=True)

    if resume and pfs.exists(_PLAN_REL):
        plan = _load_plan(pfs)
        if plan.get("writer"):
            # a format-written store commits every part in one job and a
            # stream root has no encode plan, so resume's pending
            # predicate would "succeed" while encoding zero new rows (or
            # garbage). Fail loudly instead (ADVICE r5).
            raise ValueError(
                f"{dst} was written by the {plan['writer']} writer "
                f"(df.write/writeStream.format('plc')), not by encode, "
                f"so resume=True has nothing to resume and would silently "
                f"encode no rows. For incremental ingestion use the "
                f"stream sink (df.writeStream.format('plc')) or encode to "
                f"a fresh dst; to replace the store, re-write with "
                f"mode('overwrite')")
    else:
        plan = build_plan(spark, df, cfg)
        pfs.write_atomic(_PLAN_REL,
                         lambda f: f.write(json.dumps(plan).encode("utf-8")))

    prior = None
    if resume and has_manifest:
        prior = _read_manifest(pfs, ["part_id", "file", *_SUM_COLS])
    return plan, prior


def encode(spark: SparkSession, df: DataFrame, dst: str,
           cfg: PipelineConfig | None = None, *, resume: bool = False,
           mode: str = "error") -> dict:
    """E1 flagship entry: encode ``df`` (doc_id/tokens/n_tok/source shape)
    into ``dst`` with per-partition lineage manifests. Returns a report.

    Lifecycle: plan (stats pre-pass) → range shuffle on salted doc_id →
    mapInArrow tasks that encode and write their part files, returning
    one manifest row per file → manifest append of those rows (the
    commit point) → sweep of every data file the manifest does not name.
    A failed job deletes its own files, so the committed state stays as
    it was and ``resume=True`` picks up from it.
    """
    cfg = cfg or PipelineConfig()
    from plc.util import ensure_shipped

    ensure_shipped(spark)
    # a generic table (no n_tok, no tokens) weighs 1 per row: the chunk
    # cap then counts rows and skew salting is a no-op
    if "n_tok" not in df.columns and "tokens" in df.columns:
        df = df.withColumn("n_tok", F.when(F.col("tokens").isNull(), 0)
                           .otherwise(F.size("tokens")).cast("int"))

    plan, prior = _prepare_state(spark, df, dst, cfg, resume, mode)
    committed = (set() if prior is None
                 else set(prior.column("part_id").to_pylist()))
    if committed:
        df = df.filter(_pending_predicate(plan, committed))

    total_parts = plan["n_parts"] + plan["straggler_parts"]
    pending_parts = total_parts - len(committed)
    if pending_parts <= 0:
        return _report(plan, prior, newly_encoded=0)

    job = _file_job(_encoder_input(df, plan, cfg), _make_encoder(plan, cfg),
                    dst)
    return _write_and_commit(job, dst, plan, prior, committed, total_parts,
                             pending_parts)


# the encode job's output: one manifest row per part file its tasks wrote
_MANIFEST_STRUCT = from_arrow_schema(_MANIFEST_SCHEMA)


def _file_job(placed: DataFrame, encoder, dst: str):
    """``jobid -> DataFrame``: the encode job over ``placed``. Its tasks
    run ``encoder`` and write its enc rows straight into part files whose
    names carry ``jobid`` (:func:`plc.datasource._write_part_files`, the
    format writer's part-file writer), so only one manifest row per file
    crosses back to the JVM, never a chunk payload."""
    pfs = _PlanFS(dst)

    def job(jobid: str) -> DataFrame:
        def write(batches):
            for m in _write_part_files(pfs, jobid, encoder(batches)):
                yield _manifest_table([m]).to_batches()[0]

        return placed.mapInArrow(write, _MANIFEST_STRUCT)

    return job


def _write_and_commit(job, dst: str, plan: dict, prior: "pa.Table | None",
                      committed: set[int], total_parts: int,
                      pending_parts: int) -> dict:
    """Tail of :func:`encode`, the format writer's commit protocol: run
    ``job`` (:func:`_file_job`) under a fresh job id, append exactly the
    manifest rows its tasks return plus a zero-row marker per planned
    part that got none (the commit point), sweep every data file the
    manifest does not name, and report. The sweep's live set and the
    report come from the appended rows plus ``prior`` (the manifest rows
    a resume read), so the commit reads no manifest. A failed job
    deletes its own files and re-raises, leaving the committed state as
    it was."""
    import time
    import uuid

    pfs = _PlanFS(dst)
    jobid = uuid.uuid4().hex[:12]
    t0 = time.perf_counter()
    try:
        rows = job(jobid).collect()
    except BaseException:
        _delete_job_files(pfs, jobid)
        raise
    data_path_sec = time.perf_counter() - t0  # scan+shuffle+encode+write

    man = sorted((PLCCommit(**r.asDict()) for r in rows),
                 key=lambda m: (m.part_id, m.file))
    # zero-row commit markers for planned parts that produced no data (e.g.
    # straggler parts with no rows over τ) — without them resume would
    # re-run those parts forever instead of reaching a true no-op
    present = {m.part_id for m in man}
    man += [PLCCommit(i, None, 0, 0, 0, 0, 0, None, None)
            for i in range(total_parts)
            if i not in present and i not in committed]
    tbl = _manifest_table(man)
    _write_manifest_driver(pfs, tbl)
    if prior is not None:
        new = tbl.select(prior.column_names)
        tbl = pa.concat_tables([prior.cast(new.schema), new])
    try:
        _sweep_unnamed(pfs, committed=_named_entries(tbl))
    except OSError:
        pass  # best-effort: readers ignore unnamed files regardless
    rep = _report(plan, tbl, newly_encoded=pending_parts)
    rep["data_path_sec"] = round(data_path_sec, 3)
    return rep


def _write_manifest_driver(pfs: _PlanFS, tbl: pa.Table) -> None:
    """Append one manifest parquet file driver-side with pyarrow (no
    Spark job) under a unique name, so append semantics hold. It is
    written under a temp name and moved into place, so a failed write
    never leaves a truncated ``*.parquet`` under ``_manifest/parts``."""
    import uuid

    import pyarrow.parquet as _pq

    pfs.write_atomic(
        posixpath.join(_PARTS_REL,
                       f"manifest-{uuid.uuid4().hex[:12]}.parquet"),
        lambda f: _pq.write_table(tbl, f))


def _manifest_totals(man: "pa.Table | None") -> dict:
    """Committed part count (``parts``: distinct part ids — a part can
    have several data files) and column sums of the manifest rows
    ``man`` (part_id and the counters) — O(files) rows; no Spark job."""
    import pyarrow.compute as pc

    if man is None:
        raise FileNotFoundError("the store has no committed manifest")
    return {"parts": pc.count_distinct(man.column("part_id")).as_py(),
            **{c: int(pc.sum(man.column(c)).as_py() or 0)
               for c in _SUM_COLS}}


def _report(plan: dict, man: "pa.Table | None", newly_encoded: int) -> dict:
    tot = _manifest_totals(man)
    raw, enc_b = tot["raw_bytes"], tot["enc_bytes"]
    return {
        "n_parts": plan["n_parts"] + plan["straggler_parts"],
        "committed_parts": tot["parts"], "newly_encoded": newly_encoded,
        "rows": tot["n_rows"], "tokens": tot["n_tokens"],
        "raw_bytes": raw, "enc_bytes": enc_b,
        "ratio": raw / enc_b if enc_b else 0.0,
    }


# --------------------------------------------------------------------------
# E2: decode + verify
# --------------------------------------------------------------------------


def _ranges_cond(ranges: list[tuple], lo_cond, hi_cond):
    """OR over ranges of the AND of per-bound conditions. ``lo_cond`` /
    ``hi_cond`` map a non-None bound to a Column; a fully-open range is
    TRUE (no filtering)."""
    conds = []
    for lo, hi in ranges:
        c = F.lit(True)
        if lo is not None:
            c = c & lo_cond(lo)
        if hi is not None:
            c = c & hi_cond(hi)
        conds.append(c)
    return reduce(lambda a, b: a | b, conds)


def _doc_id_ranges(doc_id_min, doc_id_max, filters: dict) -> list[tuple]:
    """The doc_id row predicate as one OR of inclusive string ranges:
    ``filters["doc_id"]`` (popped) clipped to [doc_id_min, doc_id_max].
    Stored doc_ids are strings, so bounds are normalized with ``str()``
    here, at the API boundary; [] when doc_id is unconstrained."""
    def s(v):
        return None if v is None else str(v)

    def clip(a, b, pick):
        return b if a is None else a if b is None else pick(a, b)

    lo, hi = s(doc_id_min), s(doc_id_max)
    ranges = [(clip(s(a), lo, max), clip(s(b), hi, min)) for a, b in
              _normalize_ranges(filters.pop("doc_id", (None, None)))]
    return [] if ranges == [(None, None)] else ranges


def _plan_chunks(dst: str, filters: dict,
                 doc_ids) -> tuple[_PlanFS, dict, list]:
    """Run :class:`plc.datasource.ChunkPlanner` over the committed files:
    (fs, plan, the files that keep a chunk). ``doc_ids`` are strings."""
    from concurrent.futures import ThreadPoolExecutor

    pfs = _PlanFS(dst)
    plan = _load_plan(pfs)
    planner = ChunkPlanner(plan)
    unknown_f = [c for c in filters if c not in planner.col_types]
    if unknown_f:
        raise ValueError(f"unknown filter columns {unknown_f}")
    for col, spec in filters.items():
        ranges = _normalize_ranges(spec)
        if len(ranges) == 1:
            planner.tighten(col, *ranges[0])
        else:
            planner.add_ranges(col, ranges)
    if doc_ids is not None:
        planner.probe(doc_ids)
    with ThreadPoolExecutor(max_workers=_PLAN_THREADS) as pool:
        kept = planner.plan(pfs, _committed_data_files(pfs), pool)
    return pfs, plan, kept


def _scan_chunks(spark: SparkSession, pfs: _PlanFS, kept: list) -> DataFrame:
    """Spark scan of exactly the planner's kept chunks (enc schema)."""
    if not kept:
        # an Arrow-built frame is a LocalRelation: collecting it runs no
        # job (an empty list would go through parallelize)
        return spark.createDataFrame(_ENC_ARROW_SCHEMA.empty_table(),
                                     ENC_SCHEMA_DDL)
    enc = (spark.read.schema(ENC_SCHEMA_DDL)
           .option("basePath", pfs.uri(pfs.join("data")))
           .parquet(*(pfs.uri(fc.file) for fc in kept)))
    # chunk_idx restarts in every encoder task and one part dir can hold
    # several tasks' files, so only (part_id, file name, chunk_idx) names
    # a chunk; files that keep every chunk need no filter
    partial = {}
    for fc in kept:
        if fc.partial:
            pdir, name = posixpath.split(fc.file)
            pid = posixpath.basename(pdir).split("=", 1)[1]
            partial[f"{pid}/{name}"] = fc.chunk_idx
    if partial:
        fkey = "concat_ws('/', cast(part_id as string), _metadata.file_name)"
        ckey = f"concat_ws('#', {fkey}, cast(chunk_idx as string))"
        enc = enc.filter(~_sql_in(fkey, partial) | _sql_in(
            ckey, [f"{f}#{c}" for f, cs in partial.items() for c in cs]))
    return enc


def select_chunks(spark: SparkSession, dst: str, *,
                  doc_id_min: str | None = None,
                  doc_id_max: str | None = None,
                  filters: dict | None = None,
                  doc_ids: list[str] | None = None
                  ) -> tuple[DataFrame, dict]:
    """Chunk-selection head shared by :func:`verify`, :func:`codec_report`
    and storage-pruning tests (:func:`decode` plans the same way).
    Returns (enc-chunk DataFrame, plan) with one row per surviving chunk,
    so counting its rows shows exactly how many chunks a decode would
    touch.

    Pruning runs on the driver in :class:`plc.datasource.ChunkPlanner`
    (the ``plc`` format reader's planner): each file's manifest doc_id
    range first, then per-chunk doc_id bounds, stats for ``filters`` and
    the doc_id bloom for point and batch lookups. The Spark scan is then
    pinned to the committed files that keep a chunk, read with the
    explicit enc schema (no inference); a file that keeps only some of
    its chunks gets a file-exact residual filter on (part_id, file name,
    chunk_idx). With no predicate no data file is opened: the scan is
    the committed file list. When no chunk survives the result is an
    empty local frame (no Spark job).

    ``filters`` values are inclusive ``(lo, hi)`` tuples or LISTS of them
    (multi-range: a chunk survives if ANY range intersects its stats).
    ``doc_ids`` is the batch point lookup: a chunk survives only if at
    least one key falls in its [min_doc_id, max_doc_id] AND passes its
    bloom. doc_id bounds and keys are compared as strings."""
    filters = dict(filters or {})
    doc = _doc_id_ranges(doc_id_min, doc_id_max, filters)
    pfs, plan, kept = _plan_chunks(
        dst, {**filters, "doc_id": doc} if doc else filters,
        None if doc_ids is None else [str(k) for k in doc_ids])
    return _scan_chunks(spark, pfs, kept), plan


def _sql_in(expr: str, values) -> Column:
    """``expr IN (values)`` parsed from ONE SQL string (Catalyst plans it
    as a hash InSet). Column.isin marshals every literal through py4j:
    10k keys took 5.5 s that way and 0.44 s here (local[2], 4-core VM)."""
    lits = ",".join("'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
                    for v in values)
    return F.expr(f"{expr} IN ({lits})")


def _decode_on_driver(spark: SparkSession, pfs: _PlanFS, kept: list,
                      schema: StructType, flt: dict,
                      keys: "list[str] | None") -> DataFrame:
    """Unpack the kept chunks here with the format reader's loop (one
    partition per kept file) and return them as a local frame: Spark
    runs no job to collect it, and folds filters and projections over
    it into the same local relation."""
    from pyspark.sql.pandas.types import to_arrow_schema

    # one Arrow schema for every batch (Spark's own types for this schema,
    # TimestampType as UTC instants), so the batches concatenate and
    # createDataFrame never reads a tz-naive timestamp as session-zone
    # wall time. A chunk the row filter empties is dropped: createDataFrame
    # ships the table batch by batch, and Spark's Arrow stream reader
    # loses every row after an empty batch (pyspark 4.1)
    target = to_arrow_schema(schema)
    tables = [pa.Table.from_batches([rb]).cast(target)
              for fc in kept
              for rb in _read_chunk_partition(
                  PLCChunkPartition(pfs, fc.file, fc.rows, flt, keys), schema)
              if rb.num_rows]
    return spark.createDataFrame(
        pa.concat_tables(tables) if tables else target.empty_table(), schema)


def decode(spark: SparkSession, dst: str, *, doc_id_min: str | None = None,
           doc_id_max: str | None = None,
           columns: list[str] | None = None,
           filters: dict | None = None,
           doc_ids: list[str] | None = None) -> DataFrame:
    """Read encoded chunks back as the original table. Only committed parts
    are read, and the chunk planner (:func:`select_chunks`) prunes on the
    driver before anything is decoded: first whole files by their
    manifest doc_id range (a file it rules out is never opened), then the
    kept files' chunks by their metadata. ``columns`` prunes at the
    storage level — unrequested column frames are skipped by length
    inside the chunk, never decoded.

    ``filters``: {column: (lo, hi)} inclusive range predicates — or a LIST
    of (lo, hi) tuples per column for multi-range selection (one scan for
    scattered ranges, e.g. IVF probed cells). Chunks whose per-column
    stats exclude every range are skipped entirely — the weight column
    (n_tok) via the typed min_w/max_w columns, everything else via the
    per-chunk stats JSON — then an exact row filter runs on the decoded
    output.

    ``doc_ids``: batch point lookup — fetch exactly these keys in ONE
    pass: chunk pruning by key range and bloom in the planner, then an
    exact row filter.

    The doc_id row filter (bounds, ``doc_ids`` and ``filters["doc_id"]``,
    compared as strings) runs inside the decoder right after each chunk
    is unpacked, so only matching rows reach Spark. Other ``filters``
    columns are exact Spark filters on the decoded rows, with Spark's
    literal coercion (e.g. string bounds on a timestamp column).

    One decoder, two places: when a predicate selected the chunks and
    their ``enc_bytes`` sum to at most ``_DRIVER_DECODE_MAX_BYTES``, they
    are unpacked on the driver into a local frame, and collecting it
    (filtered or projected) runs no Spark job. Those chunks are READ
    WHEN ``decode`` IS CALLED, not when the frame is collected — the
    snapshot the pinned file list already fixes. Every other read (every
    read without a predicate) is a ``mapInArrow`` over a scan of the
    kept files."""
    from plc.util import ensure_shipped

    ensure_shipped(spark)
    filters = dict(filters or {})
    doc = _doc_id_ranges(doc_id_min, doc_id_max, filters)
    flt = {"doc_id": doc} if doc else {}  # row-exact inside the decoder
    keys = None if doc_ids is None else sorted({str(k) for k in doc_ids})
    pfs, plan, kept = _plan_chunks(dst, {**filters, **flt}, keys)
    schema = StructType.fromJson(plan["schema"])
    known = {f.name for f in schema.fields}
    if columns is not None:
        unknown = [c for c in columns if c not in known]
        if unknown:
            raise ValueError(f"unknown columns {unknown}; "
                             f"stored schema has {sorted(known)}")
        # Spark-side range filters need their columns decoded even when
        # the caller did not request them; dropped after the filter
        decode_cols = set(filters) | set(columns)
        schema = StructType(
            [f for f in schema.fields if f.name in decode_cols])
    names = [f.name for f in schema.fields]

    if all(fc.rows is not None for fc in kept) and sum(
            sum(fc.enc_bytes) for fc in kept) <= _DRIVER_DECODE_MAX_BYTES:
        out = _decode_on_driver(spark, pfs, kept, schema, flt, keys)
    else:
        def decode_batches(batches):
            vs = None if keys is None else pa.array(keys, pa.string())
            for batch in batches:
                for p in batch.column("payload"):
                    yield _unpack_rows(p.as_buffer(), names, flt,
                                       vs).select(names)

        out = (_scan_chunks(spark, pfs, kept).select("payload")
               .mapInArrow(decode_batches, schema))
    for col, spec in filters.items():
        out = out.filter(_ranges_cond(
            _normalize_ranges(spec),
            lambda lo, c=col: F.col(c) >= lo,
            lambda hi, c=col: F.col(c) <= hi))
    if columns is not None:
        out = out.select(*columns)  # caller's order, not stored-schema order
    return out


def metrics(spark: SparkSession, dst: str) -> DataFrame:
    """Lineage/compression metrics (P5 read side): the manifest as is,
    one row per committed data file (plus a zero-row marker per empty
    part) with its part id, file name, chunk count, row/token totals,
    raw vs encoded bytes and the resulting ratio — the operational
    dashboard query."""
    man = spark.read.parquet(_manifest_path(dst))
    return (man.withColumn(
        "ratio", F.when(F.col("enc_bytes") > 0,
                        F.round(F.col("raw_bytes") / F.col("enc_bytes"), 4)))
        .orderBy("part_id"))


def codec_report(spark: SparkSession, dst: str) -> DataFrame:
    """Operational codec-mix breakdown: per column, which codec the
    auto-selector chose and over what fraction of the store. Reads only
    the chunk METADATA columns (codecs JSON + byte counters — the
    payload column is never touched, so this is cheap at any store
    size). One row per (column, codec): how many chunks chose that codec
    for that column, and ``chunks_enc_bytes`` / ``chunks_share`` — the
    total encoded size of THOSE CHUNKS and its share of the store (the
    metadata carries whole-chunk sizes, not per-column frame sizes, so
    this reads "X% of store bytes sit in chunks where `tokens` chose
    FORBP", not per-column byte attribution). Within one column the
    shares sum to 1."""
    enc, _ = select_chunks(spark, dst)
    per_col = (enc.select(
        "enc_bytes",
        F.explode(F.from_json("codecs", "map<string,string>"))
        .alias("column", "codec")))
    from pyspark.sql import Window

    total = (per_col.groupBy("column", "codec")
             .agg(F.count("*").alias("n_chunks"),
                  F.sum("enc_bytes").alias("chunks_enc_bytes")))
    # per-column window: every chunk lists every column once, so the
    # column's codec rows sum to the store total — one lazy plan, no
    # eager second metadata scan
    w = Window.partitionBy("column")
    return (total.withColumn(
        "chunks_share",
        F.round(F.col("chunks_enc_bytes")
                / F.sum("chunks_enc_bytes").over(w), 4))
        .orderBy("column", F.desc("chunks_enc_bytes"), "codec"))


def _sampled_part_ranges(spark: SparkSession, dst: str, fraction: float,
                         seed: int) -> list[tuple]:
    """Deterministic part-range sample for :func:`verify`: pick
    ``fraction`` of the committed non-empty parts by md5(seed, part_id)
    order and return their ACTUAL (min_doc_id, max_doc_id) ranges from
    the manifest, each merged over the part's data files — works for any
    store (the format writer commits ``bounds=[]``, so plan bounds are
    not assumed), includes straggler parts, and different seeds rotate
    coverage across runs."""
    import hashlib

    man = _read_manifest(_PlanFS(dst),
                         columns=["part_id", "min_doc_id", "max_doc_id"])
    ranges: dict[int, tuple] = {}
    for r in ([] if man is None else man.to_pylist()):
        if r["min_doc_id"] is not None:
            lo, hi = ranges.get(r["part_id"],
                                (r["min_doc_id"], r["max_doc_id"]))
            ranges[r["part_id"]] = (min(lo, r["min_doc_id"]),
                                    max(hi, r["max_doc_id"]))
    if not ranges:
        raise ValueError(f"{dst} has no committed non-empty parts to "
                         f"sample")
    order = sorted(ranges, key=lambda pid: hashlib.md5(
        f"verify:{seed}:{pid}".encode()).hexdigest())
    k = max(1, round(fraction * len(ranges)))
    return [ranges[pid] for pid in order[:k]]


def verify(spark: SparkSession, src: DataFrame, dst: str,
           method: str = "checksum", sample: float | None = None,
           sample_parts: float | None = None, seed: int = 0) -> dict:
    """P7: per-row token-array equality between source and decoded output
    (BASELINE.json: 'token-array equality per row').

    ``method="join"``: doc_id full-outer equi-join with per-column
    eqNullSafe — exact, names the differing rows, but shuffles both sides.
    ``method="checksum"`` (default): order-insensitive xxhash64 row-checksum
    aggregate on each side — no join shuffle at all (two scans + two tiny
    aggregates), the method that scales to 10^12 rows. The join method is
    kept for debugging (it names the differing rows). Both return
    mismatches == 0 on success.

    ``sample``: verify only the rows whose ``crc32(doc_id)`` falls in the
    given fraction — the SAME key-deterministic subset on both sides, so
    the comparison stays exact over the subset (a random sample would
    select different rows per side and always mismatch). Row-level and
    unbiased, but every chunk is still decoded (a hash predicate cannot
    use range stats).

    ``sample_parts``: verify the ACTUAL manifest doc_id ranges of a
    deterministic fraction of the committed parts — the subset is
    contiguous key ranges, so chunk pruning eliminates the untouched
    parts' chunks entirely: decode cost scales with the fraction, the
    operational spot-check at 10^12 rows. Both sides filter the
    identical inclusive ranges, so the comparison is exact over the
    subset (straggler-part rows inside a sampled range are included on
    both sides alike; overlapping part ranges are fine for the same
    reason). Composes with either method. ``seed`` rotates WHICH parts
    are picked — vary it per run (e.g. the day number) so repeated
    spot-checks sweep the keyspace instead of re-verifying one fixed
    subset.

    Either sampled mode raises if its subset turns out empty: a vacuous
    "0 rows compared, 0 mismatches" pass must never look like a real
    one."""
    if sample is not None and sample_parts is not None:
        raise ValueError("pass sample OR sample_parts, not both")
    if sample_parts is not None:
        if not 0 < sample_parts <= 1:
            raise ValueError(f"sample_parts must be in (0, 1], "
                             f"got {sample_parts}")
        ranges = _sampled_part_ranges(spark, dst, sample_parts, seed)
        dec = decode(spark, dst, filters={"doc_id": ranges})
        src = src.filter(_ranges_cond(
            ranges,
            lambda lo: F.col("doc_id") >= lo,
            lambda hi: F.col("doc_id") <= hi))
    else:
        dec = decode(spark, dst)
    if sample is not None:
        if not 0 < sample <= 1:
            raise ValueError(f"sample must be in (0, 1], got {sample}")
        thresh = max(1, int(sample * (1 << 32)))
        pred = F.crc32(F.col("doc_id").cast("binary")) < thresh
        src, dec = src.filter(pred), dec.filter(pred)
    cols = [c for c in src.columns if c in dec.columns]
    tot = _manifest_totals(_read_manifest(_PlanFS(dst),
                                          ["part_id", *_SUM_COLS]))
    base = {c: tot[c] for c in ("raw_bytes", "enc_bytes")}
    if method == "checksum":
        def _sig(df):
            # decimal(38,0) accumulation: n * 2^63 fits to ~10^18 rows
            h = F.xxhash64(*cols).cast("decimal(38,0)")
            row = df.agg(F.count("*").alias("n"),
                         F.sum(h).alias("hsum"),
                         F.sum(F.pmod(h, F.lit(999999937))).alias("hmod")
                         ).collect()[0]
            return (row["n"], row["hsum"], row["hmod"])

        # the two sides are independent scans — run them as concurrent
        # jobs so the decode side's tail back-fills with the source scan
        # (guide §2.6) instead of serializing two full passes
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_s = pool.submit(_sig, src.select(*cols))
            f_d = pool.submit(_sig, dec.select(*cols))
            s_sig, d_sig = f_s.result(), f_d.result()
        _guard_vacuous(sample, sample_parts, s_sig[0], d_sig[0])
        return {**base, "mismatches": int(s_sig != d_sig),
                "rows_source": s_sig[0], "rows_decoded": d_sig[0],
                "method": "checksum"}
    s = src.select(*cols).alias("s")
    d = dec.select(*cols).alias("d")
    j = s.join(d, F.col("s.doc_id") == F.col("d.doc_id"), "full_outer")
    eq = reduce(lambda a, b: a & b,
                [F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}")) for c in cols])
    bad = j.filter(~eq).count()
    n_s, n_d = src.count(), dec.count()
    _guard_vacuous(sample, sample_parts, n_s, n_d)
    return {**base, "mismatches": bad, "rows_source": n_s,
            "rows_decoded": n_d, "method": "join"}


def _guard_vacuous(sample, sample_parts, n_src: int, n_dec: int) -> None:
    if (sample is not None or sample_parts is not None) \
            and n_src == 0 and n_dec == 0:
        raise ValueError(
            "sampled verify matched zero rows on both sides — a vacuous "
            "pass; raise the fraction (or change the seed) so the subset "
            "is non-empty")
