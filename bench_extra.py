"""Extra benchmarks for optimization work (guide §1.4): per-query isolated
timing on one session (same configs as bench.py's _session), optional
``.explain("formatted")`` capture to plans/r07/, and an encode phase
breakdown. bench.py itself is FROZEN for measurement — this file exists so
optimization evidence can be gathered without touching it.

Usage:
  python bench_extra.py --queries point_lookup,batch_lookup --repeat 2
  python bench_extra.py --queries all --explain plans/r07 --suffix before
  python bench_extra.py --encode-phases
  python bench_extra.py --probes            # bench.py's probe legs
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session():
    from pyspark.sql import SparkSession

    return (SparkSession.builder.master(f"local[{CPUS}]")
            .appName("plc-bench-extra")
            .config("spark.sql.shuffle.partitions", str(CPUS))
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
            .config("spark.driver.memory", "48g")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .getOrCreate())


def _explain_str(spark, df) -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    return df._jdf.queryExecution().explainString(jmode)


def run_queries(names: list[str], repeat: int, explain_dir: str | None,
                suffix: str) -> dict:
    import __spark_entry__ as E

    qs = E.queries()
    if names == ["all"]:
        names = [n for n in qs
                 if n not in ("encode_manifest", "roundtrip_check")]
    spark = _session()
    out: dict[str, list[float]] = {}
    try:
        for name in names:
            q = qs[name]
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            walls = []
            for r in range(repeat):
                t0 = time.perf_counter()
                df = q(spark, SF_DIR)
                df.collect()
                walls.append(round(time.perf_counter() - t0, 3))
                if r == 0 and explain_dir:
                    os.makedirs(explain_dir, exist_ok=True)
                    with open(os.path.join(
                            explain_dir, f"{name}_{suffix}.txt"), "w") as f:
                        f.write(_explain_str(spark, df))
            out[name] = walls
            print(f"{name}: {walls}", flush=True)
    finally:
        spark.stop()
    return out


def encode_phases() -> dict:
    """Phase breakdown of one encode() run at bench-headline settings:
    plan / shuffle+encode+write (data path) / manifest rollup+write."""
    from plc import data as D
    from plc.pipeline import PipelineConfig, encode
    import plc.pipeline as P

    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    n_rows = max(2000, int(2_000_000 * sf))
    src_path = os.path.join(tempfile.gettempdir(),
                            f"plc_bench_tokens_sf{sf}_zipf.parquet")
    D.synth_tokens_parquet(src_path, n_rows, regime="zipf", seed=42)
    n_parts = max(8, min(CPUS, n_rows // 2000))

    spark = _session()
    res = {}
    try:
        df = spark.read.parquet(src_path)
        df.count()
        # instrument by wrapping the module functions
        t_marks = {}
        orig_build = P.build_plan
        orig_wc = P._write_and_commit

        def build_plan_t(spark, df, cfg):
            t0 = time.perf_counter()
            out = orig_build(spark, df, cfg)
            t_marks["build_plan"] = time.perf_counter() - t0
            return out

        def wc_t(*args):
            t0 = time.perf_counter()
            out = orig_wc(*args)
            t_marks["write_and_commit"] = time.perf_counter() - t0
            return out

        P.build_plan = build_plan_t
        P._write_and_commit = wc_t
        for run in range(2):
            dst = tempfile.mkdtemp(prefix="plc_phase_")
            t0 = time.perf_counter()
            rep = encode(spark, df, dst,
                         PipelineConfig(num_partitions=n_parts,
                                        straggler_parts=4),
                         mode="overwrite")
            wall = time.perf_counter() - t0
            shutil.rmtree(dst, ignore_errors=True)
            res[f"run{run}"] = {
                "wall": round(wall, 3),
                "build_plan": round(t_marks.get("build_plan", 0), 3),
                "write_and_commit":
                    round(t_marks.get("write_and_commit", 0), 3),
                "data_path": rep["data_path_sec"],
                "rollup_manifest": round(
                    t_marks.get("write_and_commit", 0)
                    - rep["data_path_sec"], 3),
                "other": round(wall - t_marks.get("build_plan", 0)
                               - t_marks.get("write_and_commit", 0), 3),
            }
            print(f"run{run}: {res[f'run{run}']}", flush=True)
        P.build_plan = orig_build
        P._write_and_commit = orig_wc
    finally:
        spark.stop()
    return res


def probes() -> dict:
    """bench.py's probe legs (decode_only, verify, point/batch lookup,
    format_read_agg_probe) against a freshly built store."""
    from plc import data as D
    from plc.pipeline import PipelineConfig, decode, encode, verify
    from pyspark.sql import functions as F
    from plc.datasource import register

    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    n_rows = max(2000, int(2_000_000 * sf))
    src_path = os.path.join(tempfile.gettempdir(),
                            f"plc_bench_tokens_sf{sf}_zipf.parquet")
    D.synth_tokens_parquet(src_path, n_rows, regime="zipf", seed=42)
    n_parts = max(8, min(CPUS, n_rows // 2000))
    spark = _session()
    t = {}
    try:
        df = spark.read.parquet(src_path)
        df.count()
        dst = tempfile.mkdtemp(prefix="plc_probe_")
        encode(spark, df, dst,
               PipelineConfig(num_partitions=n_parts, straggler_parts=4),
               mode="overwrite")

        def best2(fn):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return round(best, 3)

        t["decode_only"] = best2(
            lambda: decode(spark, dst).write.format("noop")
            .mode("overwrite").save())
        t["decode_verify"] = best2(
            lambda: verify(spark, df, dst, method="checksum"))
        probe = "doc-000000000000"
        t["point_lookup_probe"] = best2(
            lambda: decode(spark, dst,
                           filters={"doc_id": (probe, probe)}).collect())
        keys = [f"doc-{i:012d}" for i in range(0, n_rows, 97)]
        t["batch_lookup_probe"] = best2(
            lambda: decode(spark, dst, doc_ids=keys,
                           columns=["doc_id", "n_tok"])
            .agg({"n_tok": "sum"}).collect())
        register(spark)
        fmt = spark.read.format("plc").load(dst)
        t["format_read_agg_probe"] = best2(
            lambda: fmt.where(F.col("n_tok") > 10).groupBy("source")
            .agg(F.count("*"), F.sum("n_tok")).collect())
        shutil.rmtree(dst, ignore_errors=True)
        print(json.dumps(t), flush=True)
    finally:
        spark.stop()
    return t


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--explain", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--encode-phases", action="store_true")
    ap.add_argument("--probes", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    result = {}
    if args.encode_phases:
        result["encode_phases"] = encode_phases()
    if args.probes:
        result["probes"] = probes()
    if args.queries:
        result["queries"] = run_queries(args.queries.split(","), args.repeat,
                                        args.explain, args.suffix)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps(result))
