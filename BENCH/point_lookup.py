"""Where a serve point lookup's time goes, stage by stage.

Builds the serve workload's store (``benchmark/gen.py``'s run-heavy
corpus, 60k docs, default ``plc.encode``) and, for each of ``--lookups``
stored keys, runs what ``plc.decode(filters={"doc_id": (k, k)}).collect()``
runs on its driver path, one stage at a time:

- ``plan_ms``: the chunk planner (``plc.pipeline._plan_chunks``: manifest
  read, file pruning, per-file metadata, bloom);
- ``read_ms``: the kept chunks' payload bytes (``_read_selected``);
- ``unpack_ms``: unpacking them with the doc_id row filter
  (``_unpack_rows``) and casting to Spark's Arrow schema;
- ``create_df_ms``: ``spark.createDataFrame`` of the resulting table;
- ``collect_ms``: ``collect()`` of that frame;

plus ``files_opened``, the distinct data files any stage opened, and
``decode_ms``, one whole ``decode(...).collect()`` of the same key.

    python BENCH/point_lookup.py [--repo CHECKOUT] [--seed 1]
                                 [--lookups 40] [--cores 4]

``--repo`` picks the checkout whose ``plc`` is imported (default: the one
holding this script), so the same script measures two commits. Prints
one JSON line per lookup, then one with each field's median.
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


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", default=here)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--lookups", type=int, default=40)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path[:0] = [repo, os.path.join(repo, "benchmark")]
    # the JVM hands PYTHONPATH to the Python workers it starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p)

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    import gen
    import plc
    from plc import datasource as DS
    from plc import pipeline as P

    spark = (SparkSession.builder.master(f"local[{args.cores}]")
             .config("spark.driver.memory", "2g")
             .config("spark.sql.shuffle.partitions", str(args.cores))
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    plc.register(spark)

    # every data-file open goes through one of these (the older planner
    # also read the schema with pq.read_schema)
    opened: set[str] = set()

    def spy(owner, name):
        method = getattr(owner, name, None)
        if method is None:
            return

        def wrapper(*a, **kw):
            path = next((x for x in a if isinstance(x, str)), "")
            if "/data/part_id=" in path:
                opened.add(path)
            return method(*a, **kw)

        setattr(owner, name, wrapper)

    for name in ("read_parquet", "open_parquet", "num_rows"):
        spy(DS._PlanFS, name)
    spy(pq, "read_schema")

    work = tempfile.mkdtemp(prefix="plc_point_lookup_")
    try:
        rng = gen.rng_for("serve", args.seed)
        tbl = gen.runs_corpus(rng, 60_000, prefix="doc")
        pq.write_table(tbl, os.path.join(work, "serve.parquet"),
                       row_group_size=4096)
        df = spark.read.schema(
            "doc_id string, tokens array<int>, n_tok int, source string"
        ).parquet(os.path.join(work, "serve.parquet"))
        dst = os.path.join(work, "store")
        plc.encode(spark, df, dst, mode="overwrite")
        schema = StructType.fromJson(P._load_plan(dst)["schema"])
        names = [f.name for f in schema.fields]
        target = to_arrow_schema(schema)
        ids = tbl.column("doc_id").to_pylist()
        keys = [ids[i] for i in rng.choice(len(ids), args.lookups + 1,
                                           replace=False)]

        def lookup(key: str) -> dict:
            opened.clear()
            flt = {"doc_id": [(key, key)]}
            t0 = time.perf_counter()
            pfs, _, kept = P._plan_chunks(dst, flt, None)
            t1 = time.perf_counter()
            payloads = [DS._read_selected(pfs, fc.file, ["payload"], fc.rows)
                        for fc in kept]
            t2 = time.perf_counter()
            tables = []
            for ptbl, local in payloads:
                col = ptbl.column("payload")
                for i in range(len(col)) if local is None else local:
                    rb = DS._unpack_rows(col[i].as_buffer(), names, flt, None)
                    if rb.num_rows:
                        tables.append(pa.Table.from_batches(
                            [rb.select(names)]).cast(target))
            out = pa.concat_tables(tables) if tables else target.empty_table()
            t3 = time.perf_counter()
            frame = spark.createDataFrame(out, schema)
            t4 = time.perf_counter()
            rows = frame.collect()
            t5 = time.perf_counter()
            n_files = len(opened)
            got = P.decode(spark, dst, filters={"doc_id": (key, key)})
            rows2 = got.collect()
            t6 = time.perf_counter()
            if [r["doc_id"] for r in rows] != [key] or rows2 != rows:
                raise RuntimeError(f"lookup of {key} returned {rows}")
            ms = lambda a, b: round(1e3 * (b - a), 2)  # noqa: E731
            return {"plan_ms": ms(t0, t1), "read_ms": ms(t1, t2),
                    "unpack_ms": ms(t2, t3), "create_df_ms": ms(t3, t4),
                    "collect_ms": ms(t4, t5), "decode_ms": ms(t5, t6),
                    "files_opened": n_files,
                    "chunks_kept": sum(len(fc.rows) for fc in kept)}

        lookup(keys[0])  # warm-up
        runs = []
        for key in keys[1:]:
            runs.append(lookup(key))
            print(json.dumps({"key": key, **runs[-1]}), flush=True)
        print(json.dumps({"median": {
            k: statistics.median(r[k] for r in runs) for k in runs[0]},
            "lookups": len(runs), "seed": args.seed,
            "store_files": len(DS._committed_data_files(DS._PlanFS(dst)))}),
            flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
