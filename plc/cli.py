"""spark-submit entry point (BASELINE.json north_star: "launched via
spark-submit --py-files on multi-executor clusters").

Usage (cluster) — spark-submit takes a script path, not ``-m``::

    zip -r plc.zip plc
    spark-submit --py-files plc.zip plc/cli.py encode \
        --src <iceberg-table-or-parquet> --dst <out> [--partitions N] ...

Usage (local): ``python -m plc.cli encode --src ... --dst ...``
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(f"plc-{args.cmd}")
    if args.master:
        b = b.master(args.master)
    b = (b.config("spark.sql.execution.arrow.maxRecordsPerBatch",
                  str(args.arrow_batch))
         .config("spark.sql.adaptive.enabled", "true"))
    return b.getOrCreate()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="plc")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def common(p):
        p.add_argument("--master", default=None)
        p.add_argument("--arrow-batch", type=int, default=131072)
        p.add_argument("--dst", required=True)

    p_enc = sub.add_parser("encode", help="E1: encode tokens table")
    common(p_enc)
    p_enc.add_argument("--src", required=True)
    p_enc.add_argument("--format", default="auto",
                       choices=["auto", "iceberg", "parquet"])
    p_enc.add_argument("--partitions", type=int, default=None)
    p_enc.add_argument("--straggler-parts", type=int, default=4)
    p_enc.add_argument("--resume", action="store_true")
    p_enc.add_argument("--overwrite", action="store_true")
    p_enc.add_argument("--no-zstd", action="store_true")
    p_enc.add_argument("--zstd-level", type=int, default=3)
    p_enc.add_argument("--no-shuffle", action="store_true",
                       help="input already clustered by doc_id: skip the "
                            "range exchange")

    p_dec = sub.add_parser("decode", help="E2: decode back to a table")
    common(p_dec)
    p_dec.add_argument("--out", required=True, help="output parquet path")
    p_dec.add_argument("--columns", default=None,
                       help="comma-separated column subset")
    p_dec.add_argument("--doc-id-min", default=None)
    p_dec.add_argument("--doc-id-max", default=None)
    p_dec.add_argument("--filters", default=None,
                       help='JSON range filters, e.g. '
                            '\'{"n_tok": [[0,10],[200,null]]}\' '
                            '(multi-range = OR of ranges, null = open)')

    p_ver = sub.add_parser("verify", help="E2: round-trip verification")
    common(p_ver)
    p_ver.add_argument("--src", required=True)
    p_ver.add_argument("--format", default="auto")
    p_ver.add_argument("--method", default="checksum",
                       choices=["checksum", "join"])
    p_ver.add_argument("--sample", type=float, default=None,
                       help="row-hash sampled fraction (exact over the "
                            "key-deterministic subset)")
    p_ver.add_argument("--sample-parts", type=float, default=None,
                       help="part-range sampled fraction (chunk-pruned "
                            "decode; the continuous spot-check mode)")
    p_ver.add_argument("--seed", type=int, default=0,
                       help="rotates WHICH parts --sample-parts picks; "
                            "vary per run (e.g. day number) to sweep "
                            "the keyspace")

    p_met = sub.add_parser("metrics",
                           help="per-partition lineage/compression metrics")
    common(p_met)

    p_cod = sub.add_parser("codecs",
                           help="per-(column, codec) storage breakdown "
                                "from chunk metadata only")
    common(p_cod)

    p_look = sub.add_parser("lookup",
                            help="point lookup: decode the row(s) of one "
                                 "or more doc_ids (bloom + range chunk "
                                 "pruning; N ids = one batched scan)")
    common(p_look)
    g = p_look.add_mutually_exclusive_group(required=True)
    g.add_argument("--doc-id",
                   help="one doc_id, matched literally (commas included)")
    g.add_argument("--doc-ids",
                   help="comma-separated doc_ids: batch lookup in a "
                        "single pruned scan")
    p_look.add_argument("--columns", default=None,
                        help="comma-separated column subset")

    args = ap.parse_args(argv)
    spark = _spark(args)
    try:
        from plc.chunk import EncodeConfig
        from plc.pipeline import (PipelineConfig, decode, encode, metrics,
                                  verify)
        from plc.sources import read_tokens

        if args.cmd == "encode":
            cfg = PipelineConfig(
                num_partitions=args.partitions,
                straggler_parts=args.straggler_parts,
                shuffle="none" if args.no_shuffle else "range",
                codec=EncodeConfig(use_zstd=not args.no_zstd,
                                   zstd_level=args.zstd_level))
            mode = "overwrite" if args.overwrite else "error"
            df = read_tokens(spark, args.src, args.format)
            rep = encode(spark, df, args.dst, cfg, resume=args.resume,
                         mode=mode)
            print(json.dumps(rep))
        elif args.cmd == "decode":
            cols = args.columns.split(",") if args.columns else None
            flt = json.loads(args.filters) if args.filters else None
            out = decode(spark, args.dst, doc_id_min=args.doc_id_min,
                         doc_id_max=args.doc_id_max, columns=cols,
                         filters=flt)
            out.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"written": args.out}))
        elif args.cmd == "verify":
            df = read_tokens(spark, args.src, args.format)
            res = verify(spark, df, args.dst, method=args.method,
                         sample=args.sample,
                         sample_parts=args.sample_parts, seed=args.seed)
            print(json.dumps(res, default=str))
            return 0 if res["mismatches"] == 0 else 1
        elif args.cmd == "metrics":
            for row in metrics(spark, args.dst).collect():
                print(json.dumps(row.asDict(), default=str))
        elif args.cmd == "codecs":
            from plc.pipeline import codec_report

            for row in codec_report(spark, args.dst).collect():
                print(json.dumps(row.asDict(), default=str))
        elif args.cmd == "lookup":
            cols = args.columns.split(",") if args.columns else None
            if args.doc_id is not None:
                out = decode(spark, args.dst, columns=cols,
                             filters={"doc_id": (args.doc_id, args.doc_id)})
            else:
                ids = [d for d in args.doc_ids.split(",") if d]
                if not ids:
                    raise ValueError("--doc-ids must name at least one id")
                out = decode(spark, args.dst, columns=cols, doc_ids=ids)
            for row in out.collect():
                print(json.dumps(row.asDict(), default=str))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
