"""Streaming sessionization: native session windows + watermark over an
event stream.

The streaming counterpart of `operators/sessionize.py`: where the batch
operator assigns per-entity session INDEXES with one sort-window, the
stream groups events into `F.session_window` state with a watermark and
emits each session exactly once when it closes (append mode) — the
idiomatic Structured Streaming shape for gap-based sessions (built-in
merging session state, no custom applyInPandasWithState needed).

Boundary convention: Spark's session_window merges an event when its gap
from the previous one is STRICTLY LESS than the gap duration, while the
batch operator keeps an exactly-gap-separated event in-session (boundary
only when gap > threshold). Events exactly ON the boundary (to the
microsecond) therefore differ; real telemetry never lands there, and the
parity test pins agreement on gap-free-of-ties data.

Exactly-once: emitted rows in append mode are CLOSED sessions (watermark
passed end + gap), so they are immutable facts; each micro-batch's rows go
to sessions/batch_id=<id>/ through the ingest sinks' commit helper
(plans.ingest._commit, staging + atomic rename) and is recorded in the
archive manifest format (_manifest.json `batches`) — a redelivered batch
overwrites itself, never double-appends.

At scale: session state is partitioned by the entity key (one shuffle);
watermark bounds state size — sessions older than the delay are evicted as
they emit. Late events inside the delay merge into live session state;
later ones are dropped by the watermark, the documented trade every
streaming sessionizer makes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sessionize import _us
from ..plans.ingest import _commit, _write_manifest, read_manifest

__all__ = ["session_stream", "stream_session_stats", "read_session_sink"]


def session_stream(
    events: DataFrame,
    gap_minutes: float = 30.0,
    watermark_delay: str = "2 hours",
    entity_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Session-window aggregation over a (streaming or batch) events frame.

    Output: (entity, n_events, start_us, end_us, duration_us) per session —
    the same shape as the batch `session_stats` minus the per-entity index
    (a stream has no stable global order to number sessions by)."""
    ts = F.col(ts_col).cast("timestamp")
    gap_s = int(round(gap_minutes * 60))
    return (
        events.select(F.col(entity_col), ts.alias("__ts"))
        .withWatermark("__ts", watermark_delay)
        .groupBy(entity_col, F.session_window("__ts", f"{gap_s} seconds"))
        .agg(
            F.count("*").alias("n_events"),
            _us(F.min("__ts")).alias("start_us"),
            _us(F.max("__ts")).alias("end_us"),
            (_us(F.max("__ts")) - _us(F.min("__ts"))).alias("duration_us"),
        )
        .drop("session_window")
    )


def stream_session_stats(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    gap_minutes: float = 30.0,
    watermark_delay: str = "2 hours",
    entity_col: str = "user_id",
    ts_col: str = "ts",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Run the streaming sessionizer over a parquet file source; closed
    sessions land exactly-once under out_dir/sessions/batch_id=<id>/.
    Resumable: re-running with the same checkpoint continues where the
    stream left off (open session state is in the checkpoint)."""
    os.makedirs(out_dir, exist_ok=True)
    reader = spark.readStream.schema(spark.read.parquet(input_path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sessions = session_stream(
        reader.parquet(input_path), gap_minutes, watermark_delay, entity_col, ts_col
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        manifest = read_manifest(out_dir)
        batches = manifest.setdefault("batches", {})
        key = str(batch_id)
        if key in batches:
            return  # redelivered batch: already committed
        rows = batch_df.count()
        if rows:
            _commit(
                lambda d: batch_df.write.mode("overwrite").parquet(d),
                out_dir,
                f"sessions/batch_id={batch_id}",
            )
        batches[key] = {"n_sessions": rows}
        _write_manifest(out_dir, manifest)

    writer = sessions.writeStream.outputMode("append").foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_session_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """All closed sessions emitted so far."""
    import glob as _glob

    dirs = sorted(_glob.glob(os.path.join(out_dir, "sessions", "batch_id=*")))
    if not dirs:
        raise FileNotFoundError(f"no sessions emitted under {out_dir}")
    return spark.read.parquet(*dirs)
