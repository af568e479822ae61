"""The end-to-end CLP-style ingest job: parse -> encode -> enrich -> route ->
aggregate, with checkpoint/resume, per-partition lineage, and metrics.

Reference shape (SURVEY.md §3.1): clp's compression path writes an archive =
{encoded messages, logtype dictionary, variable dictionary} plus metadata;
the distributed package adds resumable per-task state in a metadata DB
(scheduler/compress/compression_scheduler.py:230+, partition.py:16-107) and
the reducer aggregates counts (reducer/CountOperator.cpp:4-41).

Spark-first re-expression — one ingest() call produces seven sinks:

  out/messages/        encoded turns, hash-partitioned by logtype_bucket
                       (glt-style per-logtype routing, glt/.../LogtypeTable.hpp)
  out/logtype_dict/    (logtype_id, logtype, n_messages, var_kinds)
  out/var_dict/        (var_id, var_str, n_occurrences)
  out/counts_logtype/  per-logtype counts     (north-star aggregate parity)
  out/counts_tool/     per-tool counts
  out/counts_conv/     per-conversation counts
  out/lineage/         per-bucket row/file lineage for the messages sink
  out/_manifest.json   completed-step checkpoint + metrics

A streamed archive (clp_spark/streaming/ingest.py) runs the same staging and
sink builders per micro-batch N (_ingest_steps) and differs only in where
each step commits: out/messages/batch_id=N/logtype_bucket=B/ and
out/<sink>/_deltas/batch_id=N/ for the six aggregate sinks, merged on read
by SINKS' per-column rules; its _manifest.json holds a `batches` map plus
the summed turn count and ts range. open_archive() reads either layout, so
search_archives, decode_archive and readable_dictionaries open both. It also
reads a JSON archive (semistructured.ingest_json_archive), whose json_strings/
stand in for messages: search_archives(..., key_cols=("event_id", "path")).

Design-for-scale notes:
  * One parse feeds all seven sinks, as the reference's compressor parses
    each message once (clp/streaming_archive/writer/Archive.cpp:299-316).
    The parsed frame is persisted once, holding MESSAGE_COLUMNS +
    logtype_bucket + _text_bytes, plus logtype / dict_vars / dict_var_ids
    when a dictionary step or counts_logtype runs. The storage level is
    Spark's default MEMORY_AND_DISK_DESER, so partitions that do not fit in
    memory spill to local disk instead of being re-parsed. The messages
    write fills the cache; every other sink aggregates column-pruned
    InMemoryTableScans of it and never re-reads the messages sink. Only
    lineage.n_files comes from the committed sink (its directory listing).
    A run with one pending step (the messages-only routed path) persists
    nothing.
  * The messages write is SHUFFLE-FREE: rows get a logtype_bucket column and
    each task writes its own per-bucket files (sortWithinPartitions groups a
    task's rows so each task opens one file per bucket at a time). A hot
    logtype therefore spreads across ALL input tasks instead of hammering
    one reducer — routing skew simply cannot happen, which beats
    repartition+AQE for a Zipfian logtype distribution. Small files are
    handled by compact_bucket() (size-tiered merge, the analog of glt's
    combined tables, glt/.../GLTSegment.hpp:83-113).
  * logtype_dict, counts_logtype, counts_tool and lineage are sized by
    templates, tools and buckets, not by data. ONE Spark action (a groupBy
    of staged with count and min/max ts, collected as Arrow) feeds all
    four; the driver rolls it up per sink and writes each through its own
    _commit, as the reference writes its logtype dictionary from memory
    once per archive (LogTypeDictionaryWriter) and counts with one
    partial/final CountOperator aggregate. var_dict and counts_conv grow
    with the data and stay Spark groupBys. _logtype_dict is the one
    logtype-dictionary builder: the JSON archive's too, and
    logtype_dict_frame's for queries over a parsed frame.
  * Each step commits via staging-dir + atomic rename and is recorded in
    the manifest; re-running ingest() skips completed steps (idempotent,
    no append-on-retry double counting). This is the filesystem analog of
    Iceberg snapshot/WAP commits — swap _commit() for an Iceberg
    `writeTo(...).overwritePartitions()` on a real cluster.
  * Metrics come from pyspark.sql.Observation on the messages write (turn
    count, text bytes and the archive's ts range, observed during the
    write, no extra pass) and land in the manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import cache, reduce
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..caching import DRIVER_VALUES, plan_key
from . import pipeline as P

MANIFEST = "_manifest.json"

STEPS = (
    "messages", "logtype_dict", "var_dict",
    "counts_logtype", "counts_tool", "counts_conv", "lineage",
)

MESSAGE_COLUMNS = [
    "conv_id", "turn_idx", "ts", "role", "tool", "logtype_id", "encoded_vars",
]

# Parquet BLOOM FILTER on logtype_id for the messages sink: the
# segment-index prune the reference keeps per segment (clp Query.cpp
# make_sub_queries_relevant_to_segment; SURVEY §4.1 "covered via table
# properties"). search() probes messages with logtype_id.isin(candidates)
# and ids are content HASHES — no clustering, so row-group min/max can
# never skip for them. parquet-mr's skip ladder then is: row groups whose
# chunk is fully dictionary-encoded are skipped via the dictionary page
# itself (exact membership — the small-corpus regime, asserted in tests);
# once cardinality outgrows the dictionary (the 100-TB regime) the writer
# falls back to plain pages and THIS bloom (~6 KiB/row group) takes over
# the row-group skip. Same option surface works for any engine reading the
# archive.
MESSAGES_PARQUET_OPTIONS = {
    "parquet.bloom.filter.enabled#logtype_id": "true",
    "parquet.bloom.filter.expected.ndv#logtype_id": "32768",
}


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST)


def read_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"steps": {}, "metrics": {}}


def _write_manifest(out_dir: str, manifest: dict) -> None:
    tmp = _manifest_path(out_dir) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))


def _commit(df_writer_fn, out_dir: str, step: str, step_secs: dict | None = None) -> str:
    """Write a step to a staging dir, then atomically rename into place.

    Filesystem stand-in for an Iceberg snapshot commit: a crashed write
    leaves the previous sink (if any) and staging garbage, never a
    half-visible sink; retries are idempotent (stale staging dirs are
    removed first). `step` may be a nested path (a stream's
    `messages/batch_id=N`).
    """
    t0 = time.time()
    final = os.path.join(out_dir, step)
    staging = os.path.join(out_dir, "_staging", step)
    shutil.rmtree(staging, ignore_errors=True)
    df_writer_fn(staging)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.replace(staging, final)
    if step_secs is not None:
        step_secs[step] = round(time.time() - t0, 3)
    return final


def ingest(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    *,
    dim_role: DataFrame | None = None,
    dim_tool: DataFrame | None = None,
    n_buckets: int = 16,
    resume: bool = True,
    only_steps: set[str] | None = None,
    dataset: str = "default",
    tags: tuple[str, ...] = (),
    codec: str | None = None,
) -> dict:
    """Run the full ingest job. Returns the manifest (steps + metrics).

    `codec` selects the archive compression codec per job (the reference's
    --compression knob, clp/streaming_compression/: zstd default, lzma,
    passthrough). Parquet codecs here: zstd (default, the reference's
    default too), gzip (the high-ratio/slow slot lzma occupies there —
    parquet-mr has no lzma/xz codec), snappy/lz4_raw (fast), uncompressed
    (= the reference's passthrough); None is the session's parquet codec.
    It applies to every sink of this job: to the Spark writes as the
    per-write option, not session config, and to the four driver-written
    sinks through ARROW_CODECS. A codec outside ARROW_CODECS raises
    ValueError before any sink is written.

    Resumable: completed steps recorded in out/_manifest.json are skipped
    (pass resume=False to force a full rebuild). Every turn is parsed once
    per call: when more than one step is pending, the parsed frame is
    persisted, the first step's write fills the cache and every later step
    reads it. `only_steps` restricts the run to a subset of steps (e.g.
    {"messages"} for the parsed+routed scaling probe).
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest = read_manifest(out_dir) if resume else {"steps": {}, "metrics": {}}
    manifest["dataset"] = dataset
    manifest["tags"] = sorted(tags)
    steps = manifest["steps"]
    resumed_steps = set(steps)
    step_secs = manifest["metrics"].setdefault("step_secs", {})
    t_start = time.time()

    pending = [s for s in STEPS if (only_steps is None or s in only_steps) and s not in steps]

    # The pipeline is shuffle-free after this point, so task parallelism ==
    # input splits. A narrow source (one small file, an exploded literal)
    # would otherwise serialize the whole job on one core; widen it up front.
    # The repartition moves RAW text rows once — far cheaper than shuffling
    # encoded rows later, and a no-op on well-split cluster inputs.
    target = spark.sparkContext.defaultParallelism
    if transcripts.rdd.getNumPartitions() < target:
        transcripts = transcripts.repartition(target)

    # Template and variable STRINGS are read only by the dictionaries and
    # counts_logtype. Without them (the messages-only parsed+routed hot
    # path) use the ids-only Arrow parse — the reference message layout,
    # File.hpp:257-259.
    needs_strings = bool({"logtype_dict", "var_dict", "counts_logtype"} & set(pending))
    parsed = P.parse_encode(transcripts) if needs_strings else P.parse_encode_ids(transcripts)
    if dim_role is not None and dim_tool is not None:
        parsed = P.enrich(parsed, dim_role, dim_tool)
    for step, obs in _ingest_steps(
        parsed, out_dir, pending,
        n_buckets=n_buckets, codec=codec, step_secs=step_secs,
    ):
        if obs is None:
            steps[step] = True
        else:
            steps[step] = {"n_turns": obs["n_turns"]}
            manifest["metrics"].update(obs)
        _write_manifest(out_dir, manifest)

    # archive size + compression ratio (reference ArchiveMetadata's
    # compressed/uncompressed running sizes, clp/streaming_archive/
    # ArchiveMetadata.cpp)
    archive_bytes = 0
    for root, _dirs, files in os.walk(out_dir):
        if "_staging" in root:
            continue
        archive_bytes += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    manifest["metrics"]["archive_bytes"] = archive_bytes
    unc = manifest["metrics"].get("uncompressed_bytes")
    if unc and archive_bytes:
        manifest["metrics"]["compression_ratio"] = round(unc / archive_bytes, 3)
    manifest["metrics"]["wall_sec"] = round(time.time() - t_start, 3)
    _write_manifest(out_dir, manifest)
    if set(steps) - resumed_steps:
        # Sinks rewritten by rename: Spark's CacheManager matches a persisted
        # read by root path, so refresh it or it serves the old files. Session
        # cache keys carry the file listing and need no hook (caching.py).
        spark.catalog.refreshByPath(out_dir)
    return manifest


def _bucket_file_counts(msgs_dir: str) -> dict[int, int]:
    """Parquet files per logtype bucket, from the messages dir listing."""
    return {
        int(d.split("=", 1)[1]): sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(msgs_dir, d))
        )
        for d in os.listdir(msgs_dir)
        if d.startswith("logtype_bucket=")
    }


# Spark's parquet schema of each driver-written sink, nullability included:
# the read path and the delta merge depend on these types.
DRIVER_SCHEMAS = {
    "logtype_dict": pa.schema([
        ("logtype_id", pa.int64()), ("logtype", pa.string()),
        pa.field("n_messages", pa.int64(), False), ("var_kinds", pa.list_(pa.int32())),
    ]),
    "counts_logtype": pa.schema([("logtype", pa.string()), pa.field("cnt", pa.int64(), False)]),
    "counts_tool": pa.schema([("tool", pa.string()), pa.field("cnt", pa.int64(), False)]),
    "lineage": pa.schema([
        ("logtype_bucket", pa.int32()), pa.field("n_rows", pa.int64(), False),
        ("begin_ts_ms", pa.int64()), ("end_ts_ms", pa.int64()), ("n_files", pa.int32()),
    ]),
}


def _table(sink: str, *columns) -> pa.Table:
    schema = DRIVER_SCHEMAS[sink]
    return pa.table(dict(zip(schema.names, columns)), schema=schema)


def _aggregate(staged: DataFrame, keys: list[str]) -> pa.Table:
    """The one Spark action behind the driver sinks: rows and ts range (if
    `staged` has ts) per group of `keys` (at most templates x tools rows),
    collected as Arrow."""
    ts_ms = P.ts_millis("ts")
    ts_range = [F.min(ts_ms).alias("ts_min"), F.max(ts_ms).alias("ts_max")]
    return staged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"), *(ts_range if "ts" in staged.columns else [])
    ).toArrow()


def _logtype_dict(groups: pa.Table, _msgs_dir: str | None) -> pa.Table:
    """(logtype_id, logtype, n_messages, var_kinds) from the groups: the one
    logtype-dictionary builder (reference LogTypeDictionaryWriter). var_kinds
    are each template's placeholder kinds, so messages need no per-row kinds."""
    t = groups.group_by(["logtype_id", "logtype"]).aggregate([("n", "sum")])
    kinds = [P.var_kinds(lt) for lt in t["logtype"].to_pylist()]
    return _table("logtype_dict", t["logtype_id"], t["logtype"], t["n_sum"], kinds)


def logtype_dict_frame(frame: DataFrame) -> DataFrame:
    """The logtype dictionary of a parsed or encoded frame as local rows,
    built once per frame plan; equal rows give equal plan keys, so
    dict_rows' cache hits for rebuilt frames too."""
    keys = ["logtype_id", "logtype"]
    table = DRIVER_VALUES.get_or_load(
        plan_key(frame, "logtype_dict"),
        lambda: _logtype_dict(_aggregate(frame.select(*keys), keys), None),
    )
    return frame.sparkSession.createDataFrame(table)


def _counts(sink: str, key: str):
    """(key, cnt): the groups' rows summed per `key`."""
    return lambda groups, _m: _table(
        sink, *groups.group_by([key]).aggregate([("n", "sum")]).select([key, "n_sum"]).columns
    )


def _lineage(groups: pa.Table, msgs_dir: str) -> pa.Table:
    """Per-bucket rows/files plus the min/max-ts range index that drives
    archive pruning in the reference (clp_s/TimestampEntry.hpp:58-93,
    EvaluateTimestampIndex); file counts list the committed messages dir."""
    t = groups.group_by(["logtype_bucket"]).aggregate(
        [("n", "sum"), ("ts_min", "min"), ("ts_max", "max")]
    )
    files = _bucket_file_counts(msgs_dir)
    return _table(
        "lineage", t["logtype_bucket"], t["n_sum"], t["ts_min_min"], t["ts_max_max"],
        [files.get(b) for b in t["logtype_bucket"].to_pylist()],
    )


# Spark parquet codec -> pyarrow's, so driver-written sinks match the others.
# Spark's "lz4" is Hadoop-framed LZ4, which pyarrow does not write; pyarrow's
# "lz4" is LZ4_RAW.
ARROW_CODECS = {
    "none": "none", "uncompressed": "none", "snappy": "snappy",
    "gzip": "gzip", "lz4_raw": "lz4", "zstd": "zstd",
}


def _parquet_codec(spark: SparkSession, codec: str | None) -> str:
    """`codec` or the session's parquet codec; ValueError if unsupported."""
    name = (codec or spark.conf.get("spark.sql.parquet.compression.codec")).lower()
    if name not in ARROW_CODECS:
        raise ValueError(f"unsupported parquet codec {name!r}, not in {sorted(ARROW_CODECS)}")
    return name


def _write_table(table: pa.Table, d: str, codec: str) -> None:
    """One parquet file from the driver, no larger than Spark's write of the
    same rows: no embedded Arrow schema, plain pages, and zstd at
    parquet-mr's default level 3."""
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        table, os.path.join(d, "part-00000.parquet"), compression=ARROW_CODECS[codec],
        compression_level=3 if codec == "zstd" else None,
        use_dictionary=False, store_schema=False,
    )


class Sink(NamedTuple):
    """An aggregate sink: its builder over the staged frame (a DataFrame)
    or, for a driver sink, over the `group_keys` of the one shared
    aggregate (a DRIVER_SCHEMAS table), plus the committed messages dir;
    its keys; and how each value column merges partial aggregates (a
    stream's per-batch deltas and bases)."""

    build: Callable
    keys: tuple[str, ...]
    merge: dict
    group_keys: tuple[str, ...] = ()


# The six aggregate sinks in STEPS order: the reducer re-expressed. The two
# data-sized ones are Spark jobs; the four driver-sized ones roll up one
# collected aggregate (the CountOperator partial/final split, SURVEY §4.2).
SINKS = {
    "logtype_dict": Sink(
        _logtype_dict, ("logtype_id", "logtype", "var_kinds"), {"n_messages": F.sum},
        ("logtype_id", "logtype"),
    ),
    "var_dict": Sink(
        lambda s, _m: P.build_var_dict(s), ("var_id", "var_str"), {"n_occurrences": F.sum}
    ),
    "counts_logtype": Sink(
        _counts("counts_logtype", "logtype"), ("logtype",), {"cnt": F.sum}, ("logtype",)
    ),
    "counts_tool": Sink(_counts("counts_tool", "tool"), ("tool",), {"cnt": F.sum}, ("tool",)),
    "counts_conv": Sink(
        lambda s, _m: P.per_conversation_counts(s),
        ("conv_id",), {"n_turns": F.sum, "first_ts_ms": F.min, "last_ts_ms": F.max},
    ),
    "lineage": Sink(
        _lineage,
        ("logtype_bucket",),
        {"n_rows": F.sum, "n_files": F.sum, "begin_ts_ms": F.min, "end_ts_ms": F.max},
        ("logtype_bucket",),
    ),
}


def _ingest_steps(
    parsed: DataFrame,
    out_dir: str,
    pending,
    *,
    at: Callable[[str], str] = lambda step: step,
    n_buckets: int = 16,
    codec: str | None = None,
    step_secs: dict | None = None,
):
    """Stage `parsed` once and commit each pending step, in STEPS order, to
    out_dir/at(step); yields (step, metrics) after each commit, where
    metrics is the messages Observation's dict and None for the other steps.

    The staged frame holds MESSAGE_COLUMNS + logtype_bucket, plus
    _text_bytes when `parsed` carries text (IR frames do not) and the
    template/variable strings when `parsed` carries them. It is persisted
    when more than one step is pending: the messages write fills the cache
    and every aggregate sink reads it. The driver sinks share one aggregate
    action, run inside the first pending driver sink's commit so that
    step's time carries it. `codec` (default: the session's parquet codec)
    applies to every sink; an unsupported one raises before any write."""
    codec = _parquet_codec(parsed.sparkSession, codec)
    text_cols = ["_text_bytes"] if "text" in parsed.columns else []
    string_cols = [c for c in ("logtype", "dict_vars", "dict_var_ids") if c in parsed.columns]
    if text_cols:
        parsed = parsed.withColumn("_text_bytes", F.octet_length("text"))
    staged = parsed.withColumn(
        "logtype_bucket", F.pmod(F.col("logtype_id"), F.lit(n_buckets)).cast("int")
    ).select(*MESSAGE_COLUMNS, "logtype_bucket", *text_cols, *string_cols)
    # One pending step (the routed probe) reads staged once; a cache would
    # only add its build cost.
    cached = len(pending) > 1
    if cached:
        staged = staged.persist()
    # group keys no pending driver sink reads are left out of the aggregate
    group_keys = list(dict.fromkeys(k for s in pending if s in SINKS for k in SINKS[s].group_keys))
    groups = cache(lambda: _aggregate(staged, group_keys))

    msgs_dir = os.path.join(out_dir, at("messages"))
    try:
        if "messages" in pending:
            obs = Observation("ingest_messages")
            ts_ms = P.ts_millis("ts")
            text_bytes = [F.sum("_text_bytes").alias("uncompressed_bytes")] if text_cols else []
            msgs = staged.observe(
                obs,
                F.count(F.lit(1)).alias("n_turns"),
                *text_bytes,
                # archive-level ts range for selection pruning (reference
                # archives table begin/end_timestamp,
                # clp_metadata_db_utils.py:27-95)
                F.min(ts_ms).alias("begin_ts_ms"),
                F.max(ts_ms).alias("end_ts_ms"),
            ).select(*MESSAGE_COLUMNS, "logtype_bucket")
            _commit(
                lambda d: msgs.sortWithinPartitions("logtype_bucket")
                .write.mode("overwrite")
                .options(**MESSAGES_PARQUET_OPTIONS, compression=codec)
                .partitionBy("logtype_bucket")
                .parquet(d),
                out_dir,
                at("messages"),
                step_secs,
            )
            yield "messages", obs.get

        for step, sink in SINKS.items():
            if step not in pending:
                continue
            if sink.group_keys:

                def write(d, build=sink.build):
                    _write_table(build(groups(), msgs_dir), d, codec)
            else:
                df = sink.build(staged, msgs_dir)

                def write(d, df=df):
                    df.write.mode("overwrite").option("compression", codec).parquet(d)
            _commit(write, out_dir, at(step), step_secs)
            yield step, None
    finally:
        if cached:
            staged.unpersist()


def compact_bucket(
    spark: SparkSession, out_dir: str, bucket: int, target_files: int = 1
) -> None:
    """Size-tiered compaction of one logtype bucket (analog of glt packing
    small per-logtype tables into combined tables). Rewrites the bucket's
    files into `target_files` files via staging + atomic rename."""
    bucket_dir = os.path.join(out_dir, "messages", f"logtype_bucket={bucket}")
    _commit(
        lambda d: spark.read.parquet(bucket_dir).coalesce(target_files).write.parquet(d),
        out_dir,
        f"messages/logtype_bucket={bucket}",
    )


def open_archive(spark: SparkSession, out_dir: str):
    """(messages, logtype_dict, var_dict) of a batch, streamed or JSON
    archive. A dictionary is its plain directory, or base ∪ live deltas
    merged by SINKS when it has _deltas/. Messages are projected to
    MESSAGE_COLUMNS, so archives of either text layout (a streamed one adds
    a batch_id partition column) union by name; a JSON archive's are its
    json_strings/ keyed by (event_id, path)."""
    from ..streaming.ingest import read_dict_sink

    def sink(name):
        d = os.path.join(out_dir, name)
        if os.path.isdir(os.path.join(d, "_deltas")):
            return read_dict_sink(spark, d)
        return spark.read.parquet(d)

    json_dir = os.path.join(out_dir, "json_strings")
    if os.path.isdir(json_dir):
        msgs = spark.read.parquet(json_dir).select("event_id", "path", "logtype_id", "encoded_vars")
    else:
        msgs = spark.read.parquet(os.path.join(out_dir, "messages")).select(*MESSAGE_COLUMNS)
    return msgs, sink("logtype_dict"), sink("var_dict")


def decode_archive(spark: SparkSession, out_dir: str) -> DataFrame:
    """Round-trip decode of an ingested archive back to original text
    (reference FileDecompressor / JsonConstructor analog) ->
    (conv_id, turn_idx, text); stable (conv_id, turn_idx) ordering restored
    by the caller's sort. One decode (grep.decode): shuffle-free when the
    var dictionary is collectible (the reference decompressor's model:
    dictionaries load fully before reading segments), else with one join
    of each row's slots against the var dictionary."""
    from .grep import decode, dict_rows

    msgs, lt, vd = open_archive(spark, out_dir)
    return decode(msgs, vd, dict_rows(lt, vd))


# perfbench's cache counters wrap this instance's get_or_load
_DICT_CACHE = DRIVER_VALUES


def select_archives(
    archive_dirs: list[str],
    *,
    dataset: str | None = None,
    tags: list[str] | None = None,
    begin_ts_ms: int | None = None,
    end_ts_ms: int | None = None,
) -> list[str]:
    """Archive selection: dataset/tag restriction + ts-range overlap, newest
    first (reference query_scheduler.py:396-434: SQL over the archives
    metadata table with tag IN-subquery and `ORDER BY end_timestamp DESC`).
    Driver-side over manifests — the control-table scan, not a data scan."""
    picked = []
    for d in archive_dirs:
        m = read_manifest(d)
        if dataset is not None and m.get("dataset") != dataset:
            continue
        if tags and not set(tags) & set(m.get("tags", [])):
            continue
        b = m.get("metrics", {}).get("begin_ts_ms")
        e = m.get("metrics", {}).get("end_ts_ms")
        if begin_ts_ms is not None and e is not None and e < begin_ts_ms:
            continue
        if end_ts_ms is not None and b is not None and b > end_ts_ms:
            continue
        picked.append((e if e is not None else 0, d))
    return [d for _, d in sorted(picked, reverse=True)]


def search_archives(
    spark: SparkSession,
    archive_dirs: list[str],
    query: str,
    *,
    tags: list[str] | None = None,
    begin_ts_ms: int | None = None,
    end_ts_ms: int | None = None,
    **search_kw,
) -> DataFrame:
    """Wildcard search across selected archives (the clg-over-many-archives
    path). Content-hash ids are globally deterministic, so unioned messages
    join unioned (deduplicated) dictionaries directly. JSON archives take
    key_cols=("event_id", "path")."""
    from .grep import search

    dirs = select_archives(
        archive_dirs, tags=tags, begin_ts_ms=begin_ts_ms, end_ts_ms=end_ts_ms
    )
    if not dirs:
        raise ValueError("no archive matches the selection")
    # per-archive reads + union: each partitioned root keeps its own
    # partition discovery (one multi-root read would conflict)
    msgs, lt, vd = (
        reduce(DataFrame.unionByName, parts)
        for parts in zip(*(open_archive(spark, d) for d in dirs))
    )
    lt = lt.select("logtype_id", "logtype", "var_kinds").dropDuplicates(["logtype_id"])
    vd = vd.select("var_id", "var_str").dropDuplicates(["var_id"])

    # dictionary rows come from search's dict_rows, keyed by the dictionary
    # plans and their files: repeated queries over one archive set collect once
    return search(
        msgs, lt, vd, query,
        begin_ts_ms=begin_ts_ms, end_ts_ms=end_ts_ms,
        **search_kw,
    )


def compact_archive(
    spark: SparkSession, out_dir: str, max_files_per_bucket: int = 4
) -> dict:
    """Lineage-driven size-tiered compaction: rewrite every bucket whose
    file count exceeds the limit (the glt combined-table policy,
    glt/.../GLTSegment.hpp:83-113 — many small per-logtype tables get
    packed together). Compaction moves no rows, so only lineage.n_files
    changes: it is re-read from the messages dir listing and the sink is
    recommitted from the driver, with no data scan. Returns
    {bucket: files_before} for the compacted buckets."""
    lineage = pq.read_table(os.path.join(out_dir, "lineage"))
    compacted = {}
    for b, n in zip(lineage["logtype_bucket"].to_pylist(), lineage["n_files"].to_pylist()):
        if n > max_files_per_bucket:
            compact_bucket(spark, out_dir, b, target_files=1)
            compacted[b] = n
    if compacted:
        files = _bucket_file_counts(os.path.join(out_dir, "messages"))
        lineage = _table(
            "lineage", *(lineage[c] for c in ("logtype_bucket", "n_rows", "begin_ts_ms", "end_ts_ms")),
            [files.get(b) for b in lineage["logtype_bucket"].to_pylist()],
        )
        codec = _parquet_codec(spark, None)
        _commit(lambda d: _write_table(lineage, d, codec), out_dir, "lineage")
    return compacted


def readable_dictionaries(spark: SparkSession, out_dir: str):
    """Human-readable dictionary views, deterministically ordered
    (reference make_dictionaries_readable/): placeholder bytes rendered as
    \\x11/\\x12/\\x13 markers so templates print safely."""
    _msgs, lt, vd = open_archive(spark, out_dir)
    lt = (
        lt.withColumn(
            "logtype_readable",
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace("logtype", "\x11", "<int>"), "\x12", "<dict>"
                ),
                "\x13",
                "<float>",
            ),
        )
        .select("logtype_id", "logtype_readable", "n_messages")
        .orderBy("logtype_readable")
    )
    vd = vd.select("var_id", "var_str", "n_occurrences").orderBy("var_str")
    return lt, vd
