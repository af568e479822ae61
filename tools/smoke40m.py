"""40M-turn full-ingest smoke at local[32] (tmpfs sinks). Prints one line."""

from __future__ import annotations

import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F


def main() -> None:
    from clp_spark.plans.ingest import ingest
    from clp_spark.session import get_spark
    from clp_spark.sources.transcripts import dim_role, dim_tool, load_transcripts

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    t = load_transcripts(spark, "/root/testdata/sf0.1")
    # repartition the 100k RAW rows BEFORE the 400x explode: the fan-out then
    # happens inside each task (no 40M-row shuffle)
    t = (
        t.repartition(64)
        .withColumn("rep", F.explode(F.expr("sequence(0, 399)")))
        .withColumn("conv_id", F.concat_ws("-", "conv_id", "rep"))
        .drop("rep")
    )
    out = "/dev/shm/clp_smoke40m"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    m = ingest(
        spark, t, out,
        dim_role=dim_role(spark), dim_tool=dim_tool(spark),
        resume=False,
    )
    wall = time.perf_counter() - t0
    print(
        "FULL40M:",
        {
            "turns": m["metrics"]["n_turns"],
            "wall_sec": round(wall, 1),
            "turns_per_sec": round(m["metrics"]["n_turns"] / wall),
            "compression_ratio": m["metrics"].get("compression_ratio"),
            "archive_mb": round(m["metrics"]["archive_bytes"] / 1e6, 1),
            "step_secs": m["metrics"]["step_secs"],
        },
        flush=True,
    )
    shutil.rmtree(out, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
