"""Benchmark harness (driver contract + BASELINE.json metric).

Measures the flagship E1 encode pipeline end-to-end (range shuffle +
mapInArrow codecs + parquet sink + manifest) on a deterministic synthetic
tokens table scaled to the SF of ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1), on ``local[$SPARK_GRAFT_CPUS]``.

Prints ONE JSON line:
  {"metric": "e2e_encode_verify_sec", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, ...extras...}

Extras include raw GB/s throughput, compressed bytes vs the pyarrow
parquet-cpp zstd+dict baseline on the same rows, and the N-vs-4N scaling
evidence required by BASELINE.json north_rule (sandbox substitute: the
same job at local[1] vs local[4], interleaved, with an ABSOLUTE
quiet-baseline contamination gate on process-tree CPU — see the scaling
block's protocol string and BENCH/quiet_baseline.json). Scaling runs can
be skipped with SPARK_GRAFT_SCALING=0.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DO_SCALING = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
ROWS_PER_SF = 2_000_000  # sf0.1 → 200k rows ≈ 215 MB raw tokens


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _session(master: str):
    from pyspark.sql import SparkSession

    return (SparkSession.builder.master(master)
            .appName(f"plc-bench-{master}")
            .config("spark.sql.shuffle.partitions", str(CPUS))
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
            .config("spark.driver.memory", "48g")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .getOrCreate())


def _bench_encode(master: str, src_path: str, n_parts: int,
                  raw_bytes: int, shuffle: str = "range") -> dict:
    """One full E1 run on a fresh session; returns wall/cpu/gbps/bytes.
    ``data_path_sec`` times only the scan→shuffle→encode→write job (the
    part that scales with executors); wall_sec adds planning + manifests.
    ``cpu_sec`` is the process-tree CPU delta over the whole encode call
    (driver + JVM + Python workers) — the tenant-noise-immune work
    measure the scaling protocol uses (plc.procstat)."""
    from plc.pipeline import PipelineConfig, encode
    from plc.procstat import proc_tree_cpu_sec

    spark = _session(master)
    try:
        df = spark.read.parquet(src_path)
        df.count()  # warm executors/page cache so runs compare fairly
        dst = tempfile.mkdtemp(prefix="plc_bench_")
        cfg = PipelineConfig(num_partitions=n_parts, straggler_parts=4,
                             shuffle=shuffle)
        # loadavg BEFORE the run: external load only (sampling after would
        # mostly measure this benchmark's own just-finished threads)
        load_pre = round(os.getloadavg()[0], 1)
        c0 = proc_tree_cpu_sec()
        w0 = proc_tree_cpu_sec(exclude_comm="java")
        t0 = time.perf_counter()
        report = encode(spark, df, dst, cfg, mode="overwrite")
        wall = time.perf_counter() - t0
        cpu = proc_tree_cpu_sec() - c0
        wcpu = proc_tree_cpu_sec(exclude_comm="java") - w0
        shutil.rmtree(dst, ignore_errors=True)
        return {"wall_sec": round(wall, 3),
                "data_path_sec": report["data_path_sec"],
                "cpu_sec": round(cpu, 3),
                "worker_cpu_sec": round(wcpu, 3),
                # whole-box 1-min load sampled BEFORE the run started:
                # external-tenant contamination evidence per sample
                "loadavg": load_pre,
                "gbps": round(raw_bytes / report["data_path_sec"] / 1e9, 4),
                "e2e_gbps": round(raw_bytes / wall / 1e9, 4),
                "enc_bytes": report["enc_bytes"],
                "ratio": round(report["ratio"], 3)}
    finally:
        spark.stop()


def _bench_encode_warm(master: str, src_path: str, n_parts: int,
                       raw_bytes: int) -> dict:
    """Steady-state data path: two encodes on ONE session, report the
    second. The cold number charges JVM codegen + the fork/import of ~32
    Python workers to the data path; on a long-lived cluster (the 100 TB
    deployment shape) workers are warm — this is the number that
    extrapolates."""
    from plc.pipeline import PipelineConfig, encode

    spark = _session(master)
    try:
        df = spark.read.parquet(src_path)
        df.count()
        runs = []
        for _ in range(2):
            dst = tempfile.mkdtemp(prefix="plc_bench_w_")
            rep = encode(spark, df, dst,
                         PipelineConfig(num_partitions=n_parts,
                                        straggler_parts=4),
                         mode="overwrite")
            runs.append(rep["data_path_sec"])
            shutil.rmtree(dst, ignore_errors=True)
        return {"cold_sec": runs[0], "warm_sec": runs[1],
                "warm_gbps": round(raw_bytes / runs[1] / 1e9, 4)}
    finally:
        spark.stop()


def _pyarrow_baseline(src_path: str) -> dict:
    """parquet-cpp zstd+dict on the same rows (single-threaded C++) —
    the stand-in for the reference library (BASELINE.md)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(src_path)
    out = tempfile.mktemp(suffix=".parquet")
    t0 = time.perf_counter()
    pq.write_table(tbl, out, compression="ZSTD", use_dictionary=True)
    wall = time.perf_counter() - t0
    size = os.path.getsize(out)
    os.unlink(out)
    return {"wall_sec": round(wall, 3), "bytes": size}


def main() -> None:
    from plc import data as D

    sf = _sf_from_dir(SF_DIR)
    n_rows = max(2000, int(ROWS_PER_SF * sf))
    src_path = os.path.join(tempfile.gettempdir(),
                            f"plc_bench_tokens_sf{sf}_zipf.parquet")
    D.synth_tokens_parquet(src_path, n_rows, regime="zipf", seed=42)
    raw_bytes = D.raw_token_bytes(src_path)
    # one logical part ≈ ≥2 full-size chunks; capped at the core count so
    # small SFs don't fragment chunks (at production scale parts are ~GB)
    n_parts = max(8, min(CPUS, n_rows // 2000))

    timings: dict[str, float] = {}

    # headline: encode at the configured parallelism — best-of-2 (fresh
    # session each), same tenant-burst guard the decode legs already use
    main_run = min((_bench_encode(f"local[{CPUS}]", src_path, n_parts,
                                  raw_bytes) for _ in range(2)),
                   key=lambda r: r["wall_sec"])
    timings["encode"] = main_run["wall_sec"]
    timings["encode_data_path"] = main_run["data_path_sec"]
    # secondary: shuffle-free path for doc_id-clustered inputs (e.g. sorted
    # Iceberg tables). Same metric pair as the headline run so the two are
    # directly comparable (wall includes planning + manifests; data_path is
    # just scan→encode→write).
    ns = _bench_encode(f"local[{CPUS}]", src_path, n_parts, raw_bytes,
                       shuffle="none")
    timings["encode_noshuffle"] = ns["wall_sec"]
    timings["encode_noshuffle_data_path"] = ns["data_path_sec"]
    # steady-state: second encode on a warm session — the per-worker
    # fork/import and JVM codegen are one-time costs a long-lived cluster
    # never pays per job
    wm = _bench_encode_warm(f"local[{CPUS}]", src_path, n_parts, raw_bytes)
    timings["encode_warm_data_path"] = wm["warm_sec"]

    # decode+verify and the oracle query surface on one session
    import __spark_entry__ as E
    from plc.pipeline import PipelineConfig, encode, verify

    spark = _session(f"local[{CPUS}]")
    try:
        df = spark.read.parquet(src_path)
        dst = tempfile.mkdtemp(prefix="plc_bench_v_")
        encode(spark, df, dst,
               PipelineConfig(num_partitions=n_parts, straggler_parts=4),
               mode="overwrite")
        from plc.pipeline import decode

        # decode-only throughput: full materialization via the noop sink
        # (every chunk decoded, nothing retained) — the decode GB/s figure
        # VERDICT r2 asked bench to report. These legs are seconds-cheap,
        # so best-of-2 keeps a tenant-load burst out of the artifact.
        def _best_of(fn, n=2):
            best = float("inf")
            for _ in range(n):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return round(best, 3)

        timings["decode_only"] = _best_of(
            lambda: decode(spark, dst).write.format("noop")
            .mode("overwrite").save())

        res = {}

        def _run_verify():
            res.update(verify(spark, df, dst, method="checksum"))

        timings["decode_verify"] = _best_of(_run_verify)
        assert res["mismatches"] == 0, res

        # probe-only lookup walls (VERDICT r4 #5): the oracled
        # point_lookup/batch_lookup entries time store-build + probe in
        # one number, hiding probe-path regressions — time just the
        # probes here against the store built above
        probe = "doc-000000000000"
        timings["point_lookup_probe"] = _best_of(
            lambda: decode(spark, dst,
                           filters={"doc_id": (probe, probe)}).collect())
        keys = [f"doc-{i:012d}" for i in range(0, n_rows, 97)]
        timings["batch_lookup_probe"] = _best_of(
            lambda: decode(spark, dst, doc_ids=keys,
                           columns=["doc_id", "n_tok"])
            .agg({"n_tok": "sum"}).collect())
        # format-read wall without the store build (the oracled
        # format_read_agg entry spends most of its time encoding)
        from pyspark.sql import functions as _F

        from plc.datasource import register as _register

        _register(spark)
        fmt = spark.read.format("plc").load(dst)
        timings["format_read_agg_probe"] = _best_of(
            lambda: fmt.where(_F.col("n_tok") > 10).groupBy("source")
            .agg(_F.count("*"), _F.sum("n_tok")).collect())
        shutil.rmtree(dst, ignore_errors=True)

        for name, q in E.queries().items():
            if name in ("encode_manifest", "roundtrip_check"):
                continue  # already covered by encode/decode timings above
            t0 = time.perf_counter()
            q(spark, SF_DIR).collect()
            timings[name] = round(time.perf_counter() - t0, 3)
    finally:
        spark.stop()

    result = {
        "metric": "e2e_encode_verify_sec",
        "value": round(timings["encode"] + timings["decode_verify"], 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "rows": n_rows,
        "raw_token_bytes": raw_bytes,
        "encode_gbps": main_run["gbps"],
        "decode_gbps": round(raw_bytes / timings["decode_only"] / 1e9, 4),
        "enc_bytes": main_run["enc_bytes"],
        "compression_ratio": main_run["ratio"],
        "verify_mismatches": 0,
    }

    baseline = _pyarrow_baseline(src_path)
    result["baseline_parquet_cpp"] = baseline
    result["bytes_vs_baseline"] = round(
        main_run["enc_bytes"] / baseline["bytes"], 4)

    if DO_SCALING:
        # N vs 4N evidence (sandbox substitute for N vs 4N executors).
        # Protocol (also in BENCH/BASELINE.md):
        # - local[1] vs local[4]: this shared box saturates its memory
        #   bandwidth around 8 threads (codec probe: 1→4 efficiency ~1.0,
        #   2→8 borderline), so 1→4 is the widest pair the hardware can
        #   demonstrate; the north rule's N is free.
        # - runs are PAIRED back-to-back (a 1-thread and a 4-thread run
        #   within ~30 s of each other, order alternating per pair):
        #   background-tenant memory traffic inflates cycles/insn as a
        #   slowly-varying multiplicative factor, so the two members of a
        #   pair share the same drift regime and their RATIO cancels it;
        #   alternating order cancels load ramps within the leg. The r4
        #   driver window proved the old cross-arm min-vs-min statistic
        #   biased LOW under drift: the bus-insensitive 1-thread arm
        #   caught a brief quiet moment (cpu 21.44 vs anchor 19.5) the
        #   4-thread arm never saw (27.17+ vs 23.1), scoring 0.789 while
        #   the per-pair ratios of the same samples had median 0.835.
        # - the headline efficiency is CPU-based: process-tree CPU seconds
        #   (driver+JVM+workers, plc.procstat) measure the WORK the job
        #   does, immune to tenant wall noise. efficiency_cpu =
        #   median over CLEAN pairs of cpu(N)/cpu(4N): 1.0 means 4x
        #   parallelism adds zero work, so throughput on real dedicated
        #   executors scales ~linearly; >= 0.8 means at most 1.25x work
        #   inflation — the north rule's bar. The median uses ALL clean
        #   pairs (not the best one), so extending the run cannot cherry-
        #   pick; the legacy min-vs-min figure and wall-clock efficiency
        #   are reported alongside.
        # - ABSOLUTE contamination gate (VERDICT r3 #1): under full
        #   external contention even process-tree CPU inflates (the
        #   contended JVM spins, memory-bus thrash raises cycles/insn for
        #   the Python workers), and a loadavg gate alone provably missed
        #   such a window (BENCH_r03: every 4-thread sample 1.6-5.7x over
        #   quiet at loadavg 1.5-3.6). A sample is CLEAN only if its CPU
        #   and worker-CPU are within gate_factor (1.35x) of the
        #   committed quiet-window baseline (BENCH/quiet_baseline.json) —
        #   an external standard, not the pass threshold, so sampling
        #   until clean cannot bias the statistic. Pairs keep interleaving
        #   until both arms have a clean sample (min 3, max 8 pairs or
        #   ~20 min); efficiency is computed over clean samples only. If
        #   no clean pair exists by the cap, the block is emitted from all
        #   samples with "contaminated": true — an honest failure, not a
        #   silent one.
        def _wait_quiet(max_wait: float = 120.0) -> float:
            # external tenants on this box spin the 4-thread JVM's CPU
            # clock as well as wall; a load-gate before each sample keeps
            # a passing window reachable without unbounded runtime.
            # Threshold 5 (~16% of 32 CPUs): one contended window measured
            # cpu-efficiency 0.72 at loadavg ~4-6 vs 0.83-1.0 quiet, so
            # gating at 8 was demonstrably too permissive
            waited = 0.0
            while os.getloadavg()[0] > 5 and waited < max_wait:
                time.sleep(10)
                waited += 10
            return waited

        qb_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH", "quiet_baseline.json")
        qb, base = {}, None
        if os.path.exists(qb_path):
            with open(qb_path) as f:
                qb = json.load(f)
            base = qb.get(f"sf{sf}")
        gate = float(qb.get("gate_factor", 1.35))
        extend = float(qb.get("extend_factor", 1.15))

        def _drifted(lo_runs, hi_runs) -> bool:
            # between-windows drift: even the best CLEAN sample of an arm
            # sits >extend_factor over the quiet anchor — on EITHER CPU
            # measure (the worker headline can drift while tree CPU stays
            # under the trigger: workers are ~half of tree CPU, so +25%
            # worker drift is only ~+13% tree). Keyed to the committed
            # anchor, never the computed efficiency.
            if base is None:
                return False
            for runs, arm in ((lo_runs, "n"), (hi_runs, "n4")):
                cl = [r for r in runs if _clean(r, arm)]
                if not cl:
                    return True
                if min(r["cpu_sec"] for r in cl) \
                        > extend * base[f"{arm}_cpu_sec"]:
                    return True
                if min(r["worker_cpu_sec"] for r in cl) \
                        > extend * base[f"{arm}_worker_cpu_sec"]:
                    return True
            return False

        def _clean(r: dict, arm: str) -> bool:
            if base is None:
                # no committed baseline for this sf: fall back to a
                # RELATIVE gate — a sample is clean if within gate_factor
                # of its own arm's minimum CPU (the arm min is the best
                # available uncontended estimate). Weaker than the
                # absolute gate (a fully-contended window passes), so the
                # artifact flags baseline_missing below.
                runs = lo_runs if arm == "n" else hi_runs
                floor = min((x["cpu_sec"] for x in runs), default=None)
                if floor is None:
                    return True
                return r["cpu_sec"] <= gate * floor
            return (r["cpu_sec"] <= gate * base[f"{arm}_cpu_sec"] and
                    r["worker_cpu_sec"]
                    <= gate * base[f"{arm}_worker_cpu_sec"])

        MAX_PAIRS, BUDGET_SEC = 8, 1200.0
        lo_runs, hi_runs, pairs = [], [], []
        probe_runs: list[dict] = []
        t_scaling = time.perf_counter()
        # pre-gate (VERDICT r4 #1b): the 4-thread arm is the drift-
        # sensitive one — before committing to the leg, probe it until a
        # sample lands within extend_factor of the committed anchor, or
        # ~5 min passes. Probes are real samples but live in a separate
        # list (n4_probe_* in the full artifact), excluded from hi_runs
        # so the min-based legacy stats aren't seeded with anchor-quality
        # samples on one arm only (ADVICE r5); the bound keeps a fully-
        # drifted window from stalling the bench, and the paired median
        # below stays valid either way.
        if base is not None:
            t_probe = time.perf_counter()
            while True:
                _wait_quiet()
                r = _bench_encode("local[4]", src_path, n_parts, raw_bytes)
                # probes stay OUT of hi_runs (ADVICE r5): anchor-quality
                # pre-gate samples would seed the 4-thread arm's min-based
                # stats while the 1-thread arm gets no equivalent, biasing
                # the legacy min-vs-min figure high vs v2 runs. They are
                # reported separately in the full artifact.
                probe_runs.append(r)
                if (r["cpu_sec"] <= extend * base["n4_cpu_sec"]
                        and r["worker_cpu_sec"]
                        <= extend * base["n4_worker_cpu_sec"]):
                    break
                if time.perf_counter() - t_probe > 300:
                    break
                time.sleep(30)
        for i in range(MAX_PAIRS):
            members = {}
            # alternate which arm runs first so a monotone load ramp
            # inside the leg biases half the pairs each way
            order = ("n", "n4") if i % 2 == 0 else ("n4", "n")
            for arm in order:
                _wait_quiet()
                r = _bench_encode("local[1]" if arm == "n" else "local[4]",
                                  src_path, n_parts, raw_bytes)
                (lo_runs if arm == "n" else hi_runs).append(r)
                members[arm] = r
            pairs.append((members["n"], members["n4"]))
            if base is not None:
                # stop once the paired median rests on >=3 CLEAN pairs
                # (both members within the absolute gate) — per-pair
                # ratios spread ~±0.07 between windows, so a 2-pair
                # median is one bad pair away from noise
                have_clean = sum(
                    1 for a, b in pairs
                    if _clean(a, "n") and _clean(b, "n4")) >= 3
                # drift extension: when even the best CLEAN sample of an
                # arm sits >extend_factor over the quiet anchor, the
                # window is running slow (between-windows tenant drift
                # that passes the 1.35x gate but skews an asymmetric
                # ratio) — keep sampling for a closer-to-anchor sample.
                # Keyed to the external anchor, never to the computed
                # efficiency, so it cannot bias the statistic.
                if have_clean and _drifted(lo_runs, hi_runs):
                    have_clean = False
            else:
                # relative fallback: extend while an arm's samples spread
                # beyond the gate (contamination evidence — the old
                # noisy-keyed extension), since "some sample equals the
                # arm min" is trivially true
                have_clean = (all(_clean(r, "n") for r in lo_runs) and
                              all(_clean(r, "n4") for r in hi_runs))
            if i >= 3 and have_clean:
                break  # >=4 pairs AND >=3 clean pairs
            if time.perf_counter() - t_scaling > BUDGET_SEC and i >= 2:
                break  # bounded wait under sustained contention
        lo_clean = [r for r in lo_runs if _clean(r, "n")] or lo_runs
        hi_clean = [r for r in hi_runs if _clean(r, "n4")] or hi_runs
        if base is not None:
            # PAIR-level: the headline median is computed over clean
            # PAIRS, so the honesty flag must key on the same unit — a
            # window with a clean lo in one pair and a clean hi in
            # another (but no clean pair) would otherwise publish a
            # median of dirty ratios as uncontaminated
            contaminated = not any(_clean(a, "n") and _clean(b, "n4")
                                   for a, b in pairs)
            # the drift extension can exhaust the pair cap without ever
            # finding an anchor-close clean sample — that unresolved
            # state must be visible in the artifact, or a drift-skewed
            # efficiency looks identical to a converged one (the r4c
            # failure mode)
            drift_unresolved = (not contaminated
                                and _drifted(lo_runs, hi_runs))
        else:
            # relative fallback: persistent intra-arm spread past the cap
            # is the only contamination evidence available
            contaminated = not (all(_clean(r, "n") for r in lo_runs)
                                and all(_clean(r, "n4") for r in hi_runs))
            drift_unresolved = False
        from statistics import median

        lo = min(lo_clean, key=lambda r: r["data_path_sec"])
        hi = min(hi_clean, key=lambda r: r["data_path_sec"])
        cpu_lo = min(r["cpu_sec"] for r in lo_clean)
        cpu_hi = min(r["cpu_sec"] for r in hi_clean)
        wcpu_lo = min(r["worker_cpu_sec"] for r in lo_clean)
        wcpu_hi = min(r["worker_cpu_sec"] for r in hi_clean)
        eff_wall = (lo["data_path_sec"] / hi["data_path_sec"]) / 4
        eff_cpu_minmin = cpu_lo / cpu_hi
        eff_wcpu_minmin = wcpu_lo / wcpu_hi
        # headline: median over CLEAN pairs of the back-to-back ratio —
        # the two members of a pair share the drift regime, so the ratio
        # cancels the common multiplicative cycle inflation; the median
        # over ALL clean pairs is robust to the residual and cannot be
        # cherry-picked by extending the run. Falls back to all pairs
        # (with contaminated=true above) when no pair is clean.
        clean_pairs = [(a, b) for a, b in pairs
                       if _clean(a, "n") and _clean(b, "n4")]
        stat_pairs = clean_pairs or pairs
        eff_cpu = median(a["cpu_sec"] / b["cpu_sec"] for a, b in stat_pairs)
        eff_wcpu = median(a["worker_cpu_sec"] / b["worker_cpu_sec"]
                          for a, b in stat_pairs)
        result["scaling"] = {
            # schema_version 3 (since r5): "efficiency" is the MEDIAN of
            # per-pair cpu(N)/cpu(4N) ratios over clean back-to-back
            # pairs at local[1] vs local[4]. v2 (r3-r4) was min-over-arm
            # cpu(N)/cpu(4N) — biased low under between-windows drift
            # (see protocol); v1 (r1-r2) was wall-throughput at local[2]
            # vs local[8]. Do not compare the headline key across schema
            # versions. efficiency_cpu_minmin carries the v2 metric,
            # efficiency_wall the wall metric.
            "schema_version": 3,
            "n_threads": 1, "n4_threads": 4,
            "protocol": ("back-to-back load-gated pairs at local[1] vs "
                         "local[4] (order alternating per pair), min 4 "
                         "/ max 8 pairs, pre-gated on a 4-thread probe "
                         "landing within extend_factor of the anchor "
                         "(<=5 min); a sample is CLEAN iff its "
                         "process-tree CPU and its Python-worker CPU "
                         "are within gate_factor of the committed "
                         "quiet-window baseline "
                         "(BENCH/quiet_baseline.json — an absolute "
                         "external standard, not the pass threshold); "
                         "pairs keep interleaving until >=3 pairs are "
                         "clean AND the best clean sample per arm is "
                         "within extend_factor of the anchor "
                         "(between-windows drift evidence, still keyed "
                         "to the external anchor, never to the computed "
                         "efficiency), and efficiency_cpu = median over "
                         "clean pairs of the back-to-back ratio "
                         "cpu(N)/cpu(4N) — pair members share the drift "
                         "regime so the ratio cancels common cycle "
                         "inflation; the median uses ALL clean pairs, "
                         "never the best. contaminated=true flags a "
                         "window where no clean pair was reachable. "
                         "efficiency_worker_cpu restricts to "
                         "Python-worker CPU (the codec work that "
                         "multiplies with executors); efficiency_wall = "
                         "(wall_N/wall_4N)/4 reported alongside"),
            "quiet_baseline": base, "gate_factor": gate,
            "extend_factor": extend,
            "baseline_missing": base is None,
            "contaminated": contaminated,
            "drift_unresolved": drift_unresolved,
            "n_pairs": len(pairs),
            "n_probe_runs": len(probe_runs),
            "n_clean_pairs": len(clean_pairs),
            "pair_cpu_ratios": [round(a["cpu_sec"] / b["cpu_sec"], 3)
                                for a, b in pairs],
            "pair_worker_cpu_ratios": [
                round(a["worker_cpu_sec"] / b["worker_cpu_sec"], 3)
                for a, b in pairs],
            "pair_clean_flags": [_clean(a, "n") and _clean(b, "n4")
                                 for a, b in pairs],
            "n_clean_flags": [_clean(r, "n") for r in lo_runs],
            "n4_clean_flags": [_clean(r, "n4") for r in hi_runs],
            "n_gbps": lo["gbps"], "n4_gbps": hi["gbps"],
            "n_sec": lo["data_path_sec"], "n4_sec": hi["data_path_sec"],
            "n_cpu_sec": cpu_lo, "n4_cpu_sec": cpu_hi,
            "n_worker_cpu_sec": wcpu_lo, "n4_worker_cpu_sec": wcpu_hi,
            "n_sec_samples": [r["data_path_sec"] for r in lo_runs],
            "n4_sec_samples": [r["data_path_sec"] for r in hi_runs],
            "n_cpu_samples": [r["cpu_sec"] for r in lo_runs],
            "n4_cpu_samples": [r["cpu_sec"] for r in hi_runs],
            "n_worker_cpu_samples": [r["worker_cpu_sec"] for r in lo_runs],
            "n4_worker_cpu_samples": [r["worker_cpu_sec"] for r in hi_runs],
            "n_loadavg_samples": [r["loadavg"] for r in lo_runs],
            "n4_loadavg_samples": [r["loadavg"] for r in hi_runs],
            "n4_probe_cpu_samples": [r["cpu_sec"] for r in probe_runs],
            "n4_probe_worker_cpu_samples": [r["worker_cpu_sec"]
                                            for r in probe_runs],
            "efficiency_wall": round(eff_wall, 3),
            "efficiency_cpu": round(eff_cpu, 3),
            "efficiency_worker_cpu": round(eff_wcpu, 3),
            "efficiency_cpu_minmin": round(eff_cpu_minmin, 3),
            "efficiency_worker_cpu_minmin": round(eff_wcpu_minmin, 3),
            "efficiency": round(eff_cpu, 3),
        }
        # codec-layer scaling (no Spark/IPC — the work that multiplies with
        # executors; far less sensitive to this shared box's tenant noise,
        # see BENCH/BASELINE.md)
        from plc import scaling_probe

        probe = scaling_probe.main(60_000)
        result["codec_scaling"] = {
            "procs": probe["procs"],
            "efficiency_1_to_4": probe["efficiency_1_to_4"],
            "efficiency_2_to_8": probe["efficiency_2_to_8"],
        }

    # The driver records only the LAST 2000 chars of stdout and parses a
    # JSON line out of that tail — BENCH_r03/r04/r05 all came back
    # "parsed": null because the full result (per-sample arrays +
    # protocol prose) outgrew the window (VERDICT r5 #1). The full
    # result goes to a file; stdout gets a compact headline line with a
    # hard size budget.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "bench_full_last.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(_compact_line(result), separators=(",", ":")))


_LINE_BUDGET = 1850  # driver tail capture is 2000 chars; leave margin


def _compact_line(result: dict) -> dict:
    """Headline-only view of the bench result, guaranteed to fit the
    driver's stdout tail. Per-sample arrays, the protocol string and the
    quiet-baseline anchor live only in BENCH/bench_full_last.json (and
    the committed per-round BENCH/ artifacts)."""
    compact = {k: result[k] for k in
               ("metric", "value", "unit", "sf", "rows", "encode_gbps",
                "decode_gbps", "enc_bytes", "bytes_vs_baseline",
                "verify_mismatches") if k in result}
    compact["queries"] = {k: round(v, 2)
                          for k, v in result["queries"].items()}
    if "scaling" in result:
        s = result["scaling"]
        compact["scaling"] = {k: s[k] for k in (
            "schema_version", "efficiency", "efficiency_cpu",
            "efficiency_worker_cpu", "efficiency_wall", "contaminated",
            "drift_unresolved", "baseline_missing", "n_pairs",
            "n_clean_pairs", "n_probe_runs", "pair_cpu_ratios",
            "pair_worker_cpu_ratios") if k in s}
    if "codec_scaling" in result:
        c = result["codec_scaling"]
        compact["codec_scaling"] = {
            "efficiency_1_to_4": c["efficiency_1_to_4"],
            "efficiency_2_to_8": c["efficiency_2_to_8"]}
    compact["full_artifact"] = "BENCH/bench_full_last.json"
    # degrade gracefully if future rounds grow the query surface past
    # the budget: drop per-pair arrays first, then the slowest-to-
    # matter query entries (full values stay in the artifact)
    def _size() -> int:
        return len(json.dumps(compact, separators=(",", ":")))

    if _size() > _LINE_BUDGET and "scaling" in compact:
        compact["scaling"].pop("pair_worker_cpu_ratios", None)
    while _size() > _LINE_BUDGET and len(compact["queries"]) > 8:
        # drop the entry with the longest key first (pure size heuristic;
        # headline encode/decode keys are short and survive)
        victim = max(compact["queries"], key=len)
        compact["queries"].pop(victim)
        compact["queries_truncated"] = True
    return compact


if __name__ == "__main__":
    main()
