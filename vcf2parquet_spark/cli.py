"""Command-line surface — parity with the reference CLI.

Reference (/root/reference/src/cli.rs:44-105):

    vcf2parquet -i IN [-b BATCH] [-c CODEC] [-r BUF] (convert -o OUT | split -f TPL)

Ours (``python -m vcf2parquet_spark ...``):

    convert -i CORPUS -o OUT [-f FORMAT] [-b BATCH] [-c COL=CODEC ...]
    split   -i CORPUS_PARQUET -o OUT [-b BATCH]     # one blocks file per
                                                    # batch (target_rows=batch,
                                                    # the reference's
                                                    # file-per-RecordBatch mode,
                                                    # lib.rs:105-118)
    decode  -o OUT --to PARQUET_DIR [--snapshot-id K]   # K = time travel
    verify  -i CORPUS_PARQUET -o OUT
    history -o OUT                                  # snapshot log (lineage)
    compact -o OUT [--target-rows N]        # small-file rewrite (Iceberg
                                            #   rewrite_data_files analogue)
    expire  -o OUT [--keep-last K]          # reclaim superseded files
    corpus  --rows N --to PARQUET_DIR [--seed 42]   # deterministic test corpus
    dedup   -i DOCS_PARQUET --to OUT        # MinHash+LSH near-dup clusters

Defaults mirror the reference where meaningful: batch 100_000
(cli.rs:114-116); ``-c`` generalizes the file-level codec enum
(cli.rs:119-136) to per-column overrides.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_overrides(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs or []:
        col, _, codec = p.partition("=")
        if not codec:
            raise SystemExit(f"bad -c override {p!r}; expected COL=CODEC")
        out[col] = codec
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="vcf2parquet_spark")
    ap.add_argument("--cores", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    def add_common(p):
        p.add_argument("-i", "--input", required=True,
                       help="corpus path (5-col table)")
        p.add_argument("-f", "--format", default="parquet",
                       choices=["parquet", "jsonl", "json", "csv",
                                "jsonl.xz", "json.xz", "csv.xz"],
                       help="input format; .gz/.bz2 are auto-detected by "
                            "extension, .xz via the binaryFile+lzma path "
                            "(reference: niffler auto-detect, "
                            "vcf2parquet.rs:24-27)")
        p.add_argument("-o", "--output", required=True)
        p.add_argument("-b", "--batch-size", type=int, default=100_000)
        p.add_argument("-c", "--codec", action="append", metavar="COL=CODEC",
                       help="per-column codec override")
        p.add_argument("--residual",
                       choices=["zlib", "zstd", "lz4", "brotli", "gzip",
                                "snappy"],
                       default="zlib",
                       help="general-purpose residual stage behind "
                            "auto-selected base codecs (the reference's "
                            "file-level codec enum, cli.rs:119-136; its "
                            "lzo member is unimplemented by every parquet "
                            "writer incl. the reference's — see "
                            "kernels/codecs.py CASCADES note)")
        p.add_argument("--target-rows", type=int, default=250_000)
        p.add_argument("--clustered", action="store_true",
                       help="shuffle-free path: encode the input parquet "
                            "table's physical rowgroup ranges in place "
                            "(requires -f parquet; the Iceberg-partition "
                            "encode — content bytes never enter the JVM "
                            "or a shuffle)")
        p.add_argument("--long-strings", choices=["fsst", "plain"],
                       default="plain",
                       help="string columns with mean length >= 256 B: "
                            "plain+brotli-9 (default; measured 3.3x "
                            "faster AND tighter on long source text) or "
                            "fsst+residual; FSST keeps short columns "
                            "either way")
        p.add_argument("--read-mode", choices=["mmap", "pre_buffer", "plain"],
                       default="mmap",
                       help="clustered-path rowgroup read strategy: mmap "
                            "(page-cache, local/NVMe), pre_buffer "
                            "(coalesced ranges, object stores), plain")
        p.add_argument("--no-resume", action="store_true")
        p.add_argument("--parquet-version", choices=["1.0", "2.4", "2.6"],
                       default="2.6",
                       help="blocks container page version (ref: "
                            "--parquet-version v1/v2)")

    add_common(sub.add_parser("convert", help="encode to blocks + manifest"))
    add_common(sub.add_parser("split", help="encode, one blocks file per batch"))

    pd = sub.add_parser("decode", help="decode blocks back to parquet")
    pd.add_argument("-o", "--output", required=True, help="blocks table dir")
    pd.add_argument("--to", required=True, help="destination parquet dir")
    pd.add_argument("--include-derived", action="store_true")
    pd.add_argument("--snapshot-id", type=int, default=None,
                    help="time travel: decode the table AS OF this snapshot")

    ph = sub.add_parser("history", help="print the snapshot log")
    ph.add_argument("-o", "--output", required=True, help="blocks table dir")

    pk = sub.add_parser("compact",
                        help="rewrite undersized partitions (small-file fix)")
    pk.add_argument("-o", "--output", required=True)
    pk.add_argument("--target-rows", type=int, default=250_000)

    px = sub.add_parser("expire",
                        help="drop old snapshots + reclaim unreferenced files")
    px.add_argument("-o", "--output", required=True)
    px.add_argument("--keep-last", type=int, default=1)

    pv = sub.add_parser("verify", help="sha256 round-trip check")
    pv.add_argument("-i", "--input", required=True)
    pv.add_argument("-o", "--output", required=True)

    pc_ = sub.add_parser("corpus", help="generate deterministic test corpus")
    pc_.add_argument("--rows", type=int, required=True)
    pc_.add_argument("--to", required=True)
    pc_.add_argument("--seed", type=int, default=42)

    pdd = sub.add_parser(
        "dedup", help="MinHash+LSH near-dup clusters over a document table")
    pdd.add_argument("-i", "--input", required=True,
                     help="parquet with (key, text) columns")
    pdd.add_argument("--to", required=True,
                     help="destination parquet: (key, cluster_id)")
    pdd.add_argument("--text-col", default="text")
    pdd.add_argument("--key-col", default="doc_id")
    pdd.add_argument("-k", type=int, default=8, help="signature lanes")
    pdd.add_argument("--shingle", type=int, default=3)
    pdd.add_argument("--bands", type=int, default=4)
    pdd.add_argument("--rows-per-band", type=int, default=2)
    pdd.add_argument("--max-bucket", type=int, default=1000)

    args = ap.parse_args(argv)

    if args.cmd == "history":   # pure metadata read — no Spark needed
        from vcf2parquet_spark import table as tbl_
        print(json.dumps(tbl_.snapshots(args.output), indent=1))
        return 0
    if args.cmd == "expire":    # pure metadata/file op — no Spark needed
        from vcf2parquet_spark import table as tbl_
        print(json.dumps(tbl_.expire_snapshots(args.output,
                                               keep_last=args.keep_last)))
        return 0

    from pyspark.sql import SparkSession

    from vcf2parquet_spark.session import get_spark
    pre_existing = SparkSession.getActiveSession()
    spark = pre_existing or get_spark(cores=args.cores)
    try:
        if args.cmd in ("convert", "split"):
            from vcf2parquet_spark.encode import encode, encode_clustered
            from vcf2parquet_spark.sources import read_corpus
            target = (args.batch_size if args.cmd == "split"
                      else args.target_rows)
            common = dict(batch_size=args.batch_size,
                          target_rows=target,
                          codec_overrides=_parse_overrides(args.codec),
                          residual=args.residual,
                          long_strings=args.long_strings,
                          resume=not args.no_resume,
                          parquet_version=args.parquet_version)
            if getattr(args, "clustered", False):
                if args.format != "parquet":
                    raise SystemExit("--clustered requires -f parquet")
                job = encode_clustered(spark, args.input, args.output,
                                       read_mode=args.read_mode, **common)
            else:
                df = read_corpus(spark, args.input, fmt=args.format)
                job = encode(spark, df, args.output, **common)
            print(json.dumps(job, indent=1))
        elif args.cmd == "decode":
            from vcf2parquet_spark.decode import decode
            decode(spark, args.output,
                   include_derived=args.include_derived,
                   snapshot_id=args.snapshot_id) \
                .write.mode("overwrite").parquet(args.to)
            print(json.dumps({"decoded_to": args.to,
                              "snapshot_id": args.snapshot_id}))
        elif args.cmd == "verify":
            from vcf2parquet_spark.decode import verify
            res = verify(spark, spark.read.parquet(args.input), args.output)
            print(json.dumps(res))
            return 0 if res["ok"] else 1
        elif args.cmd == "compact":
            from vcf2parquet_spark.maintenance import compact
            print(json.dumps(compact(spark, args.output,
                                     target_rows=args.target_rows)))
        elif args.cmd == "corpus":
            from vcf2parquet_spark.corpus import synth_corpus
            synth_corpus(spark, args.rows, seed=args.seed) \
                .write.mode("overwrite").parquet(args.to)
            print(json.dumps({"rows": args.rows, "to": args.to}))
        elif args.cmd == "dedup":
            from vcf2parquet_spark.functions.dedup import (
                dedup_clusters, lsh_candidates, minhash_signatures)
            docs = spark.read.parquet(args.input)
            sigs = minhash_signatures(docs, text_col=args.text_col,
                                      key_col=args.key_col, k=args.k,
                                      shingle=args.shingle)
            pairs = lsh_candidates(sigs, key_col=args.key_col,
                                   bands=args.bands,
                                   rows_per_band=args.rows_per_band,
                                   max_bucket=args.max_bucket)
            clusters = dedup_clusters(pairs, key_col=args.key_col)
            clusters.write.mode("overwrite").parquet(args.to)
            n_docs = docs.count()
            n_clustered = clusters.count()
            n_groups = clusters.select("cluster_id").distinct().count()
            print(json.dumps({
                "to": args.to, "n_docs": n_docs,
                "n_in_dup_groups": n_clustered, "n_groups": n_groups,
                "n_redundant": n_clustered - n_groups}))
    finally:
        if pre_existing is None:  # don't stop a session we didn't create
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
