"""User-facing CLI over Spark archives — the reference's command surface
(`clp c` / `clg` / `clp x` / `clp-s c|s`) re-expressed as one spark-submit
friendly entry point, so a reference user can run the same five commands
they run today:

    python -m clp_spark.cli compress      --input ... --out ARCHIVE
    python -m clp_spark.cli search        ARCHIVE... "QUERY*" [--count]
    python -m clp_spark.cli extract       ARCHIVE [--raw]
    python -m clp_spark.cli compress-json --input events.parquet --out DIR
    python -m clp_spark.cli search-kql    ARCHIVE 'level: ERROR AND ...'

Semantics provenance (re-derived, NOT ported): search flags mirror clg's
CommandLineArguments (components/core/src/clp/clg/CommandLineArguments.hpp
--ignore-case/--tge/--tle/--count), extract mirrors clp x
(FileDecompressor), the JSON pair mirrors clp-s c/s (clp_s/CommandLine...).
Results stream as NDJSON on stdout (one row object per line; --raw emits
bare text lines), counts as a single JSON object — machine-pipeable like
the reference's msgpack/IR outputs without the binary framing.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="clp_spark.cli", description=__doc__)
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--master", default=None, help="override spark master")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, help):
        return sub.add_parser(name, help=help, parents=[common])

    c = add("compress", "ingest transcripts into an archive (clp c)")
    c.add_argument("--input", required=True, help="input table path (parquet dir)")
    c.add_argument("--out", required=True, help="archive output directory")
    c.add_argument(
        "--synthesize-transcripts", action="store_true",
        help="treat --input as an events table and synthesize the transcript "
        "corpus from it (sandbox test mode)",
    )
    c.add_argument("--n-buckets", type=int, default=16)
    c.add_argument("--no-resume", action="store_true")
    c.add_argument("--no-enrich", action="store_true")

    s = add("search", "wildcard search over archives (clg)")
    s.add_argument("archives", nargs="+")
    s.add_argument("query")
    s.add_argument("--ignore-case", action="store_true")
    s.add_argument("--begin-ts", type=int, default=None, metavar="MS",
                   help="match ts >= MS (clg --tge)")
    s.add_argument("--end-ts", type=int, default=None, metavar="MS",
                   help="match ts <= MS (clg --tle)")
    s.add_argument("--tags", nargs="*", default=None)
    s.add_argument("--count", action="store_true", help="emit only the match count")
    s.add_argument("--count-by-time", type=int, default=None, metavar="BUCKET_MS",
                   help="per-bucket counts, bucket=(ts_ms/B)*B (clo semantics)")
    s.add_argument("--limit", type=int, default=None)
    s.add_argument("--raw", action="store_true", help="emit bare text lines")

    x = add("extract", "decompress an archive back to text (clp x)")
    x.add_argument("archive")
    x.add_argument("--raw", action="store_true")
    x.add_argument("--limit", type=int, default=None)

    cj = add("compress-json", "ingest JSON into a clp_s-style archive")
    cj.add_argument("--input", required=True,
                    help="parquet with a JSON string column, or NDJSON text path")
    cj.add_argument("--out", required=True)
    cj.add_argument("--json-col", default="json")
    cj.add_argument("--format", choices=["parquet", "ndjson"], default=None,
                    help="input format (default: by extension)")
    cj.add_argument("--id-col", default="event_id")
    cj.add_argument("--n-buckets", type=int, default=16)

    sk = add("search-kql", "KQL search over JSON archives (clp-s s)")
    sk.add_argument("archives", nargs="+")
    sk.add_argument("query")
    sk.add_argument("--limit", type=int, default=None)
    return p


def _emit(df, raw: bool, limit: int | None, out) -> int:
    """Stream a result DataFrame as NDJSON (or raw text) without collecting
    it whole on the driver: toLocalIterator pulls one partition at a time."""
    if limit is not None:
        df = df.limit(limit)
    n = 0
    for row in df.toLocalIterator():
        if raw:
            print(row["text"], file=out)
        else:
            d = row.asDict()
            for k, v in d.items():
                if hasattr(v, "isoformat"):
                    d[k] = v.isoformat(sep=" ")
            print(json.dumps(d, default=str), file=out)
        n += 1
    return n


def main(argv: list[str] | None = None, spark=None, out=None) -> int:
    args = build_parser().parse_args(argv)
    out = out or sys.stdout

    from pyspark.sql import functions as F

    from clp_spark.session import get_spark

    if spark is None:
        spark = get_spark(master=args.master, app_name=f"clp-spark-{args.cmd}")

    if args.cmd == "compress":
        import os

        from clp_spark.plans.ingest import ingest
        from clp_spark.sources.transcripts import dim_role, dim_tool, load_transcripts

        if args.synthesize_transcripts:
            transcripts = load_transcripts(spark, os.path.dirname(args.input.rstrip("/")))
        else:
            transcripts = spark.read.parquet(args.input)
        dims = {} if args.no_enrich else {"dim_role": dim_role(spark), "dim_tool": dim_tool(spark)}
        manifest = ingest(
            spark, transcripts, args.out,
            n_buckets=args.n_buckets, resume=not args.no_resume, **dims,
        )
        print(json.dumps(manifest["metrics"]), file=out)
        return 0

    if args.cmd == "search":
        from clp_spark.plans.ingest import search_archives
        from clp_spark.plans.pipeline import ts_millis

        res = search_archives(
            spark, args.archives, args.query,
            tags=args.tags, begin_ts_ms=args.begin_ts, end_ts_ms=args.end_ts,
            ignore_case=args.ignore_case,
        )
        if args.count:
            print(json.dumps({"cnt": res.count()}), file=out)
            return 0
        if args.count_by_time is not None:
            b = args.count_by_time
            buckets = (
                res.withColumn("bucket", (ts_millis("ts") / b).cast("long") * b)
                .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy("bucket")
            )
            _emit(buckets, raw=False, limit=None, out=out)
            return 0
        _emit(res.orderBy("conv_id", "turn_idx"), args.raw, args.limit, out)
        return 0

    if args.cmd == "extract":
        from clp_spark.plans.ingest import decode_archive

        res = decode_archive(spark, args.archive).orderBy("conv_id", "turn_idx")
        _emit(res, args.raw, args.limit, out)
        return 0

    if args.cmd == "compress-json":
        from clp_spark.plans.semistructured import ingest_json_archive

        fmt = args.format or ("parquet" if args.input.endswith(".parquet") else "ndjson")
        if fmt == "parquet":
            df = spark.read.parquet(args.input)
        else:
            df = spark.read.text(args.input)
        if args.json_col not in df.columns and "value" in df.columns:
            df = df.withColumnRenamed("value", args.json_col)
        if args.id_col not in df.columns:
            df = df.withColumn(args.id_col, F.monotonically_increasing_id())
        manifest = ingest_json_archive(
            spark, df, args.out, json_col=args.json_col,
            id_col=args.id_col, n_buckets=args.n_buckets,
        )
        print(json.dumps(manifest), file=out)
        return 0

    if args.cmd == "search-kql":
        from clp_spark.plans.semistructured import search_json_archives_kql

        res = search_json_archives_kql(spark, args.archives, args.query)
        _emit(res, raw=False, limit=args.limit, out=out)
        return 0

    raise AssertionError(f"unhandled cmd {args.cmd}")


if __name__ == "__main__":
    sys.exit(main())
