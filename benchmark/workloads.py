"""The two workloads. Each puts most of its timed work on different plc
layers and checks every result it gets back.

- ``ingest`` (write side): repeated warm ``plc.encode`` of a Zipf corpus,
  checksum ``plc.verify`` of the result, and small files landing one at a
  time under a ``writeStream.format("plc")`` query, each followed by a
  ``format("plc")`` lookup of a key it just committed and ``plc.store_agg``
  on the growing stream root.
- ``serve`` (read side): the store is built during set-up; the timed phase
  reads it with single-key lookups through ``plc.decode`` and through
  ``format("plc")``, IN-list batch lookups, a filtered ``groupBy`` through
  ``format("plc")`` and a full decode to the ``noop`` sink.

A workload has ``setup()``, ``timed(seconds)`` and, for the traced run,
``probe()``. It names its ``headline`` operation (``op_p50_ms``) and its
``bulk`` operation with the raw bytes one call of it moves
(``bulk_mb_per_s``, ``bulk_cpu_s_per_gb``). Timed operations run in blocks,
one block per operation type, in the fixed order of ``BLOCKS``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


class Workload:
    name = headline = bulk = ""
    BLOCKS: dict[str, float] = {}  # operation -> share of the timed phase

    def __init__(self, b):
        self.b = b
        self.spark = b.spark
        self.rng = gen.rng_for(self.name, b.seed)

    def timed(self, seconds: float) -> None:
        for op, share in self.BLOCKS.items():
            self.b.block(op, share * seconds, getattr(self, op))

    def close(self) -> None:
        """Stop what the workload started (the run stops Spark itself)."""

    # ------------------------------------------------------------ helpers

    def _source(self, tbl: pa.Table, name: str):
        path = os.path.join(self.b.work, name)
        pq.write_table(tbl, path, row_group_size=4096)
        return self.spark.read.schema(TOKENS_DDL).parquet(path)

    @staticmethod
    def _index(tbl: pa.Table) -> dict:
        return dict(zip(tbl.column("doc_id").to_pylist(),
                        tbl.column("n_tok").to_pylist()))

    def _lookup_keys(self, tbl: pa.Table, n: int, absent_every: int = 4):
        """Seeded lookup keys: stored ids, with every ``absent_every``-th
        replaced by an absent id inside a stored chunk's key range."""
        ids = tbl.column("doc_id").to_pylist()
        pick = self.rng.choice(len(ids), n, replace=False)
        return [gen.absent_key(ids[i]) if j % absent_every == absent_every - 1
                else ids[i] for j, i in enumerate(pick)]

    @staticmethod
    def _check_rows(rows, key: str, want: dict) -> bool:
        """A stored key returns exactly its row; an absent key none."""
        if key not in want:
            return len(rows) == 0
        return (len(rows) == 1 and rows[0]["doc_id"] == key
                and rows[0]["n_tok"] == want[key]
                and len(rows[0]["tokens"]) == want[key])

    def decode_key(self, dst: str, key: str):
        from plc import pipeline

        with self.b.span("pipeline.decode"):
            df = pipeline.decode(self.spark, dst,
                                 filters={"doc_id": (key, key)})
        with self.b.span("spark.collect"):
            return df.collect()

    def sql_key(self, dst: str, key: str):
        from pyspark.sql import functions as F

        with self.b.span("datasource.load"):
            df = (self.spark.read.format("plc").load(dst)
                  .where(F.col("doc_id") == key))
        self.b.plan(df)
        with self.b.span("spark.collect"):
            return df.collect()

    def agg_of(self, dst: str):
        import plc

        with self.b.span("datasource.store_agg"):
            df = plc.store_agg(self.spark, dst)
        with self.b.span("spark.collect"):
            return df.collect()[0]

    def encode_to(self, df, dst: str) -> dict:
        import plc

        with self.b.span("pipeline.encode"):
            return plc.encode(self.spark, df, dst, mode="overwrite")


class Ingest(Workload):
    name = "ingest"
    headline = bulk = "encode"
    ROWS = 20_000
    FILE_ROWS = 1000
    BLOCKS = {"encode": 0.45, "verify": 0.15, "append": 0.4}

    def setup(self):
        import plc

        self.tbl = gen.zipf_corpus(self.rng, self.ROWS, scale=300, base=64,
                                   prefix="doc")
        self.bulk_bytes = gen.raw_token_bytes(self.tbl)
        self.df = self._source(self.tbl, "ingest.parquet")
        self.ref_bytes = gen.parquet_zstd_bytes(
            self.tbl, os.path.join(self.b.work, "ref.parquet"))
        self.b.record_input("ingest.batch", self.ROWS, self.bulk_bytes)
        self.enc_bytes = None
        self.n_enc = 0
        self.dst = None
        self.encode(timed=False)  # the cold encode
        self.verify(timed=False)

        # stream side: files are generated up front, landed one per step
        plc.register(self.spark)
        self.src = os.path.join(self.b.work, "landing")
        self.stage = os.path.join(self.b.work, "staging")
        os.makedirs(self.src)
        os.makedirs(self.stage)
        self.root = os.path.join(self.b.work, "stream")
        self.query = (self.spark.readStream.schema(TOKENS_DDL)
                      .parquet(self.src).writeStream.format("plc")
                      .option("checkpointLocation",
                              os.path.join(self.b.work, "checkpoint"))
                      .start(self.root))
        self.b.stream = self.query
        self.files: list[pa.Table] = []
        self.landed = 0
        self.append(timed=False)  # the cold stream batch and its reads

    def close(self):
        self.query.stop()

    # ---------------------------------------------------------- batch side

    def encode(self, i: int = 0, timed: bool = True):
        prev = self.dst
        self.dst = os.path.join(self.b.work, f"store{self.n_enc}")
        self.n_enc += 1
        self.b.call("encode", lambda: self.encode_to(self.df, self.dst),
                    self._check_encode, timed=timed)
        if prev:
            shutil.rmtree(prev, ignore_errors=True)

    def _check_encode(self, rep) -> bool:
        if self.enc_bytes is None:
            self.enc_bytes = rep["enc_bytes"]
            self.b.record_store("ingest", rep["enc_bytes"], self.ref_bytes)
        return (rep["rows"] == self.ROWS
                and rep["raw_bytes"] == self.bulk_bytes
                and rep["enc_bytes"] == self.enc_bytes)

    def verify(self, i: int = 0, timed: bool = True):
        from plc import pipeline

        def run():
            with self.b.span("pipeline.verify"):
                return pipeline.verify(self.spark, self.df, self.dst)

        self.b.call("verify", run,
                    lambda v: v["mismatches"] == 0
                    and v["rows_source"] == v["rows_decoded"] == self.ROWS,
                    timed=timed)

    # --------------------------------------------------------- stream side

    def append(self, i: int = 0, timed: bool = True):
        """One step: a file lands, the query commits it, then a lookup of a
        key it carried and the aggregate over the whole stream root."""
        n = len(self.files)
        tbl = gen.zipf_corpus(gen.rng_for(self.name, self.b.seed, 1 + n),
                              self.FILE_ROWS, scale=100, base=32,
                              prefix=f"s{n:04d}")
        self.files.append(tbl)
        name = f"f{n:05d}.parquet"
        staged = os.path.join(self.stage, name)
        pq.write_table(tbl, staged)  # untimed: the file exists, then lands

        def land():
            with self.b.span("bench.land"):
                os.rename(staged, os.path.join(self.src, name))
            with self.b.span("sink.process_all_available"):
                self.query.processAllAvailable()
            return self.query.exception()

        self.b.call("append", land, lambda exc: exc is None, timed=timed)
        self.landed += tbl.num_rows
        want = self._index(tbl)
        key = self._lookup_keys(tbl, 1, absent_every=2)[0]
        self.b.call("fresh_lookup", lambda: self.sql_key(self.root, key),
                    lambda r: self._check_rows(r, key, want), timed=timed)
        self.b.call("store_agg", lambda: self.agg_of(self.root),
                    lambda r: r["n_rows"] == self.landed and r["n_chunks"] > 0,
                    timed=timed)

    def timed(self, seconds: float):
        super().timed(seconds)
        b = self.b
        gb = self.bulk_bytes / 1e9
        b.named("encode_gbps", "GB/s", gb / b.p50("encode"))
        b.named("encode_cpu_s_per_gb", "s/GB", b.p50("encode", cpu=True) / gb)
        b.named("verify_s", "s", b.p50("verify"))
        b.named("append_visible_p50_ms", "ms", 1e3 * b.p50("append"))
        b.named("fresh_lookup_p50_ms", "ms", 1e3 * b.p50("fresh_lookup"))
        b.named("store_agg_ms", "ms", 1e3 * b.p50("store_agg"))
        b.record_input("ingest.stream", self.landed,
                       sum(gen.raw_token_bytes(t) for t in self.files))

    def probe(self):
        from layers import probe

        keys = self._lookup_keys(self.tbl, 4, absent_every=2)
        return probe(self.b, self, self.dst, keys, self._index(self.tbl),
                     agg_root=self.root)


class Serve(Workload):
    name = "serve"
    headline = "point_lookup"
    bulk = "scan"
    ROWS = 60_000
    BATCH_KEYS = 48
    BLOCKS = {"point_lookup": 0.35, "sql_lookup": 0.2, "batch_lookup": 0.15,
              "pushdown": 0.15, "scan": 0.15}

    def setup(self):
        import plc

        self.tbl = gen.runs_corpus(self.rng, self.ROWS, prefix="doc")
        self.bulk_bytes = gen.raw_token_bytes(self.tbl)
        self.tokens = self.bulk_bytes // 4
        self.df = self._source(self.tbl, "serve.parquet")
        self.ref_bytes = gen.parquet_zstd_bytes(
            self.tbl, os.path.join(self.b.work, "ref.parquet"))
        self.b.record_input("serve", self.ROWS, self.bulk_bytes)
        plc.register(self.spark)
        self.dst = os.path.join(self.b.work, "store")
        rep = self.b.call("build", lambda: self.encode_to(self.df, self.dst),
                          lambda r: r["rows"] == self.ROWS, timed=False)
        self.b.record_store("serve", rep["enc_bytes"], self.ref_bytes)
        self.want = self._index(self.tbl)
        self.keys = self._lookup_keys(self.tbl, 400)
        self.batches = [self._lookup_keys(self.tbl, self.BATCH_KEYS)
                        for _ in range(16)]
        # filtered aggregate: a quarter of the key range, the longer half
        # of the documents
        ids = sorted(self.want)
        lo = int(self.rng.integers(0, 3 * len(ids) // 4))
        self.agg_range = (ids[lo], ids[lo + len(ids) // 4])
        self.agg_min_tok = int(np.quantile(self.tbl.column("n_tok"), 0.5))
        self.agg_want = self._agg_expected()
        self.k = 0
        for op in self.BLOCKS:  # the first call of each operation type
            getattr(self, op)(timed=False)

    def _next(self, seq):
        self.k += 1
        return seq[self.k % len(seq)]

    def point_lookup(self, i: int = 0, timed: bool = True):
        key = self._next(self.keys)
        self.b.call("point_lookup", lambda: self.decode_key(self.dst, key),
                    lambda r: self._check_rows(r, key, self.want),
                    timed=timed)

    def sql_lookup(self, i: int = 0, timed: bool = True):
        key = self._next(self.keys)
        self.b.call("sql_lookup", lambda: self.sql_key(self.dst, key),
                    lambda r: self._check_rows(r, key, self.want),
                    timed=timed)

    def batch_lookup(self, i: int = 0, timed: bool = True):
        from plc import pipeline

        keys = self._next(self.batches)
        want = {k: self.want[k] for k in keys if k in self.want}

        def run():
            with self.b.span("pipeline.decode"):
                df = pipeline.decode(self.spark, self.dst, doc_ids=keys)
            with self.b.span("spark.collect"):
                return df.collect()

        self.b.call("batch_lookup", run,
                    lambda rows: len(rows) == len(want) and all(
                        want.get(r["doc_id"]) == r["n_tok"]
                        == len(r["tokens"]) for r in rows), timed=timed)

    def _agg_expected(self) -> dict:
        d = self.tbl.column("doc_id")
        mask = pc.and_(pc.and_(pc.greater_equal(d, self.agg_range[0]),
                               pc.less_equal(d, self.agg_range[1])),
                       pc.greater_equal(self.tbl.column("n_tok"),
                                        self.agg_min_tok))
        f = self.tbl.filter(mask).group_by("source").aggregate(
            [("n_tok", "count"), ("n_tok", "sum")])
        return dict(zip(f.column("source").to_pylist(),
                        zip(f.column("n_tok_count").to_pylist(),
                            f.column("n_tok_sum").to_pylist())))

    def pushdown(self, i: int = 0, timed: bool = True):
        from pyspark.sql import functions as F

        def run():
            with self.b.span("datasource.load"):
                df = (self.spark.read.format("plc").load(self.dst)
                      .where((F.col("doc_id") >= self.agg_range[0])
                             & (F.col("doc_id") <= self.agg_range[1])
                             & (F.col("n_tok") >= self.agg_min_tok))
                      .groupBy("source")
                      .agg(F.count("*").alias("c"), F.sum("n_tok").alias("s")))
            self.b.plan(df)
            with self.b.span("spark.collect"):
                return df.collect()

        self.b.call("pushdown", run,
                    lambda rows: {r["source"]: (r["c"], r["s"]) for r in rows}
                    == self.agg_want, timed=timed)

    def scan(self, i: int = 0, timed: bool = True):
        from pyspark.sql import Observation, functions as F

        from plc import pipeline

        obs = Observation()

        def run():
            with self.b.span("pipeline.decode"):
                df = pipeline.decode(self.spark, self.dst).observe(
                    obs, F.count(F.lit(1)).alias("rows"),
                    F.sum("n_tok").alias("n_tok"),
                    F.sum(F.size("tokens")).alias("tokens"))
            with self.b.span("spark.write_noop"):
                df.write.format("noop").mode("overwrite").save()
            return obs.get

        self.b.call("scan", run,
                    lambda o: o == {"rows": self.ROWS, "n_tok": self.tokens,
                                    "tokens": self.tokens}, timed=timed)

    def timed(self, seconds: float):
        super().timed(seconds)
        b = self.b
        b.named("point_lookup_p50_ms", "ms", 1e3 * b.p50("point_lookup"))
        b.tail("point_lookup")
        b.named("sql_lookup_p50_ms", "ms", 1e3 * b.p50("sql_lookup"))
        b.named("batch_lookup_ms", "ms", 1e3 * b.p50("batch_lookup"))
        b.named("pushdown_query_ms", "ms", 1e3 * b.p50("pushdown"))
        b.named("scan_gbps", "GB/s", self.bulk_bytes / 1e9 / b.p50("scan"))

    def probe(self):
        from layers import probe

        return probe(self.b, self, self.dst, self.keys[:4], self.want)


WORKLOADS = {"ingest": Ingest, "serve": Serve}
