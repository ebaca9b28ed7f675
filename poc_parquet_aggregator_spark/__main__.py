"""CLI: python -m poc_parquet_aggregator_spark <command>

Commands:
  gen     --out DIR --docs N [--docs-per-file K] [--seed S]
  encode  --input DIR --out DIR [--by-source] [--zstd-level L]
          (--by-source: buckets sized from each source's token count)
  decode  --out DIR [--sources a,b] [--doc-id-min X --doc-id-max Y]
          [--n-tok-min A --n-tok-max B] [--columns a,b] [--show N]
  verify  --input DIR --out DIR [--fraction F]
  stream  --input DIR --out DIR           (encode new or changed files only)
  manifest --out DIR                       (lineage summary)
  compact --out DIR                        (fold manifest JSONs into JSONL segment)
  compact-data --out DIR                   (delete stem dirs no record names)
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from .plans import get_spark

    return get_spark("cli", extra_conf={"spark.ui.showConsoleProgress": "false"})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="poc_parquet_aggregator_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen")
    g.add_argument("--out", required=True)
    g.add_argument("--docs", type=int, required=True)
    g.add_argument("--docs-per-file", type=int, default=25_000)
    g.add_argument("--seed", type=int, default=42)

    e = sub.add_parser("encode")
    e.add_argument("--input", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--by-source", action="store_true")
    e.add_argument("--zstd-level", type=int, default=3)

    d = sub.add_parser("decode")
    d.add_argument("--out", required=True)
    d.add_argument("--sources")
    d.add_argument("--doc-id-min")
    d.add_argument("--doc-id-max")
    d.add_argument("--columns", help="comma-separated projection (pruned decode)")
    d.add_argument("--n-tok-min", type=int)
    d.add_argument("--n-tok-max", type=int)
    d.add_argument("--show", type=int, default=5)

    v = sub.add_parser("verify")
    v.add_argument("--input", required=True)
    v.add_argument("--out", required=True)
    v.add_argument("--fraction", type=float, default=1.0)

    s = sub.add_parser("stream")
    s.add_argument("--input", required=True)
    s.add_argument("--out", required=True)

    m = sub.add_parser("manifest")
    m.add_argument("--out", required=True)

    c = sub.add_parser("compact")
    c.add_argument("--out", required=True)

    cd = sub.add_parser("compact-data")
    cd.add_argument("--out", required=True)

    args = ap.parse_args(argv)

    if args.cmd == "gen":
        from .sources import write_token_table

        paths = write_token_table(
            args.out, args.docs, seed=args.seed, docs_per_file=args.docs_per_file
        )
        print(json.dumps({"files": len(paths), "out": args.out}))
        return 0

    if args.cmd == "compact":
        from .encode import compact_manifest

        print(json.dumps(compact_manifest(args.out)))
        return 0

    if args.cmd == "compact-data":
        from .encode import compact_encoded

        print(json.dumps(compact_encoded(args.out)))
        return 0

    if args.cmd == "manifest":
        from .encode import read_manifest

        recs = read_manifest(args.out)
        total = {
            "units": len(recs),
            "n_docs": sum(r["n_docs"] for r in recs.values()),
            "n_tokens": sum(r["n_tokens"] for r in recs.values()),
            "bytes_in": sum(r["bytes_in"] for r in recs.values()),
            "bytes_out": sum(r["bytes_out"] for r in recs.values()),
        }
        print(json.dumps(total))
        return 0

    spark = _spark()
    try:
        if args.cmd == "encode":
            from .encode import encode_dataset, encode_dataset_by_source

            if args.by_source:
                metrics = encode_dataset_by_source(
                    spark, args.input, args.out, zstd_level=args.zstd_level
                )
            else:
                metrics = encode_dataset(
                    spark, args.input, args.out, zstd_level=args.zstd_level
                )
            print(json.dumps(metrics, default=str))
        elif args.cmd == "decode":
            from .encode import read_decoded

            sources = args.sources.split(",") if args.sources else None
            rng = (
                (args.doc_id_min, args.doc_id_max)
                if args.doc_id_min and args.doc_id_max
                else None
            )
            cols = args.columns.split(",") if args.columns else None
            trng = (
                (args.n_tok_min, args.n_tok_max)
                if args.n_tok_min is not None and args.n_tok_max is not None
                else None
            )
            df = read_decoded(
                spark, args.out, sources=sources, doc_id_range=rng,
                n_tok_range=trng, columns=cols,
            )
            print(json.dumps({"rows": df.count()}))
            if args.show:
                df.show(args.show, truncate=60)
        elif args.cmd == "verify":
            from .encode import decode_verify

            res = decode_verify(spark, args.input, args.out, fraction=args.fraction)
            print(json.dumps(res))
            return 0 if res["bit_identical"] else 1
        elif args.cmd == "stream":
            from .streaming import encode_stream

            print(json.dumps(encode_stream(spark, args.input, args.out)))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
