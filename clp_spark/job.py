"""spark-submit entrypoint for the CLP-style ingest pipeline.

Usage (local sandbox):
    spark-submit --py-files clp_spark.zip -m clp_spark.job ...   # or:
    python -m clp_spark.job --input /root/testdata/sf0.01/events.parquet \
        --synthesize-transcripts --out /tmp/archive

On a cluster, package the library first:
    cd /root/repo && zip -r /tmp/clp_spark.zip clp_spark
    spark-submit --master yarn --py-files /tmp/clp_spark.zip \
        $(python -c 'import clp_spark.job as j; print(j.__file__)') \
        --input s3://bucket/transcripts --out s3://bucket/archive

The job is resumable: re-running with the same --out skips steps recorded in
the manifest checkpoint (see clp_spark/plans/ingest.py).
"""

from __future__ import annotations

import sys


def main(argv: list[str] | None = None) -> int:
    """`cli compress` with these arguments: the flags are cli's."""
    from clp_spark import cli

    return cli.main(["compress", *(sys.argv[1:] if argv is None else argv)])


if __name__ == "__main__":
    sys.exit(main())
