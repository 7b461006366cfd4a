"""How stream-root reads scale with the number of committed sink batches.

Lands one small parquet file per trigger under a
``writeStream.format("plc")`` query (``maxFilesPerTrigger=1``, so every
file is one real sink microbatch) and, once the root holds each of the
requested batch counts, times an absent-key ``format("plc")`` lookup and
``plc.store_agg`` (median of ``--reps`` runs after one warm-up run).
Inputs come from ``benchmark/gen.py`` (the ingest workload's stream
files: Zipf tokens, ``s<NNNN>-`` doc ids per file).

    python BENCH/stream_scale.py [--repo CHECKOUT] [--batches 1,100,400]
                                 [--rows 1000] [--reps 5]

``--repo`` picks the checkout whose ``plc`` is imported (default: the one
holding this script), so the same script measures two commits. Prints
one JSON line per batch count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def _median_ms(fn, reps: int) -> float:
    fn()  # warm-up
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(1e3 * (time.perf_counter() - t0))
    return round(statistics.median(times), 1)


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", default=here)
    ap.add_argument("--batches", default="1,100,400")
    ap.add_argument("--rows", type=int, default=1000)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path[:0] = [repo, os.path.join(repo, "benchmark")]
    # the JVM hands PYTHONPATH to the Python workers it starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p)

    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession, functions as F

    import gen
    import plc

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    plc.register(spark)
    work = tempfile.mkdtemp(prefix="plc_stream_scale_")
    src, root = os.path.join(work, "in"), os.path.join(work, "root")
    os.makedirs(src)
    try:
        landed, key, schema = 0, None, None
        for target in sorted(int(b) for b in args.batches.split(",")):
            while landed < target:
                tbl = gen.zipf_corpus(
                    gen.rng_for("ingest", 1, 1 + landed), args.rows,
                    scale=100, base=32, prefix=f"s{landed:04d}")
                path = os.path.join(src, f"f{landed:05d}.parquet")
                pq.write_table(tbl, path)
                if key is None:
                    key = gen.absent_key(tbl.column("doc_id")[0].as_py())
                    schema = spark.read.parquet(path).schema
                landed += 1
            q = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", "1").parquet(src)
                 .writeStream.format("plc")
                 .option("checkpointLocation", os.path.join(work, "ckpt"))
                 .trigger(availableNow=True).start(root))
            q.awaitTermination()
            q.stop()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

            def lookup():
                rows = (spark.read.format("plc").load(root)
                        .where(F.col("doc_id") == key).collect())
                if rows:
                    raise RuntimeError(f"absent key {key} returned {rows}")

            def agg():
                row = plc.store_agg(spark, root).collect()[0]
                if row["n_rows"] != landed * args.rows:
                    raise RuntimeError(f"store_agg returned {row}")

            print(json.dumps({"batches": target,
                              "lookup_ms": _median_ms(lookup, args.reps),
                              "store_agg_ms": _median_ms(agg, args.reps)}),
                  flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
