"""End-to-end ingest job: sink parity, resume-from-checkpoint, round-trip."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from clp_spark.plans import ingest as I
from clp_spark.plans import pipeline as P
from clp_spark.sources.transcripts import dim_role, dim_tool, load_transcripts

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("archive"))
    t = load_transcripts(spark, SF_DIR)
    manifest = I.ingest(
        spark, t, out, dim_role=dim_role(spark), dim_tool=dim_tool(spark)
    )
    return out, manifest


def test_sink_count_parity(spark, archive):
    out, manifest = archive
    t = load_transcripts(spark, SF_DIR)
    n = t.count()
    assert manifest["metrics"]["n_turns"] == n

    msgs = spark.read.parquet(os.path.join(out, "messages"))
    assert msgs.count() == n

    # routed-row equality: every (conv_id, turn_idx) lands in exactly the
    # bucket derived from its logtype hash
    parsed = P.parse_encode(t)
    expect = parsed.select(
        "conv_id", "turn_idx", F.pmod("logtype_id", F.lit(16)).cast("int").alias("b")
    )
    got = msgs.select("conv_id", "turn_idx", F.col("logtype_bucket").alias("b"))
    assert expect.exceptAll(got).count() == 0 and got.exceptAll(expect).count() == 0

    # aggregate sinks match direct recomputation
    cl = spark.read.parquet(os.path.join(out, "counts_logtype"))
    direct = P.per_logtype_counts(parsed)
    assert sorted(map(tuple, cl.collect())) == sorted(map(tuple, direct.collect()))

    # lineage covers every bucket and sums to n
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    rows = {r["logtype_bucket"]: r["n_rows"] for r in lin.collect()}
    assert sum(rows.values()) == n
    buckets = {r["logtype_bucket"] for r in msgs.select("logtype_bucket").distinct().collect()}
    assert set(rows) == buckets


def test_roundtrip_decode(spark, archive):
    out, _ = archive
    t = load_transcripts(spark, SF_DIR)
    dec = I.decode_archive(spark, out).withColumnRenamed("text", "dec_text")
    joined = dec.join(t.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
    assert joined.count() == t.count()
    assert joined.filter("dec_text != text").count() == 0


def test_logtype_dict_builder_equals_spark_oracle(spark, archive):
    """logtype_dict_frame (ingest._logtype_dict over _aggregate's groups) is
    the one logtype-dictionary builder: on sf0.001 its rows equal a Spark
    groupBy oracle in all four columns for the transcript parse, the grok
    parse and the JSON string store, so every parse's var_types equal its
    templates' placeholders. The transcript rows equal ingest()'s sink."""
    from clp_spark.functions.grok import DEFAULT_SCHEMA
    from clp_spark.plans.semistructured import (
        encode_json_strings,
        infer_json_schema,
        json_string_store,
        parse_json,
    )
    from clp_spark.sources.jsonlogs import load_jsonlogs

    out, _ = archive
    cols = ["logtype_id", "logtype", "n_messages", "var_kinds"]

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    t = load_transcripts(spark, SF_DIR)
    df = load_jsonlogs(spark, SF_DIR)
    schema = infer_json_schema(spark, df, "json")
    frames = (
        P.parse_encode(t),
        P.parse_encode_with_schema(t, DEFAULT_SCHEMA),
        encode_json_strings(json_string_store(parse_json(df, "json", schema), schema)),
    )
    for frame in frames:
        oracle = frame.groupBy("logtype_id", "logtype").agg(
            F.count("*").alias("n_messages"), F.first("var_types").alias("var_kinds")
        )
        built = rows(I.logtype_dict_frame(frame))
        assert built and built == rows(oracle)
    sink = spark.read.parquet(os.path.join(out, "logtype_dict"))
    assert rows(sink) == rows(I.logtype_dict_frame(frames[0]))


COUNT_SINKS = ("counts_logtype", "counts_tool", "counts_conv", "lineage")


def _row_set(spark, out, sink, drop=()):
    df = spark.read.parquet(os.path.join(out, sink)).drop(*drop)
    return sorted(repr(tuple(r)) for r in df.collect())


def test_resume_skips_completed_steps(spark, archive):
    out, _ = archive
    first = {s: _row_set(spark, out, s) for s in COUNT_SINKS}
    manifest = I.read_manifest(out)
    # mark the count sinks incomplete and delete them; resume should
    # rebuild ONLY them, with the first run's rows
    for s in COUNT_SINKS:
        del manifest["steps"][s]
        shutil.rmtree(os.path.join(out, s))
    I._write_manifest(out, manifest)
    before_msgs_mtime = os.path.getmtime(os.path.join(out, "messages"))

    t = load_transcripts(spark, SF_DIR)
    m2 = I.ingest(spark, t, out, dim_role=dim_role(spark), dim_tool=dim_tool(spark))
    assert set(COUNT_SINKS) <= set(m2["steps"])
    assert os.path.getmtime(os.path.join(out, "messages")) == before_msgs_mtime
    assert {s: _row_set(spark, out, s) for s in COUNT_SINKS} == first
    cc = spark.read.parquet(os.path.join(out, "counts_conv"))
    assert cc.count() == t.select("conv_id").distinct().count()


def test_ingest_parses_each_turn_once(spark, tmp_path):
    """One full ingest runs the parse UDF over each turn exactly once: the
    summed MapInArrow output rows of the executions it submits (SQL status
    store, readable with the UI off) equal n_turns."""
    from perfbench.tracing import SqlMetrics, metric_sum, within

    sql = SqlMetrics(spark)
    t = load_transcripts(spark, SF_DIR)
    span = {"start": time.time()}
    m = I.ingest(spark, t, str(tmp_path / "arch"),
                 dim_role=dim_role(spark), dim_tool=dim_tool(spark))
    span["end"] = time.time()
    assert set(m["steps"]) == set(I.STEPS)
    rows = metric_sum(within(sql.collect(), span), "MapInArrow", "number of output rows")
    assert rows == m["metrics"]["n_turns"] > 0


DRIVER_SINKS = ("logtype_dict", "counts_logtype", "counts_tool", "lineage")


def test_driver_sinks_come_from_one_execution(spark, tmp_path, monkeypatch):
    """A full ingest builds the four driver-sized sinks from one SQL
    execution (one aggregate collected as Arrow), and no execution outside
    the messages step runs Python workers: the parse runs once, in the
    messages write, and nothing after it leaves the JVM."""
    from perfbench.tracing import SqlMetrics, metric_sum

    sql = SqlMetrics(spark)
    spans = {}
    commit = I._commit

    def traced_commit(fn, out_dir, step, *args, **kwargs):
        spans[step] = (time.time(), None)
        try:
            return commit(fn, out_dir, step, *args, **kwargs)
        finally:
            spans[step] = (spans[step][0], time.time())

    monkeypatch.setattr(I, "_commit", traced_commit)
    t = load_transcripts(spark, SF_DIR)
    start = time.time()
    I.ingest(spark, t, str(tmp_path / "arch"),
             dim_role=dim_role(spark), dim_tool=dim_tool(spark))
    end = time.time()

    def submitted(e, step):
        return spans[step][0] <= e["submitted"] <= spans[step][1]

    ex = [e for e in sql.collect() if start <= e["submitted"] <= end]
    assert [sum(submitted(e, s) for e in ex) for s in DRIVER_SINKS] == [1, 0, 0, 0]
    outside = [e["rows"] for e in ex if not submitted(e, "messages")]
    assert len(outside) == 3  # the aggregate, var_dict and counts_conv
    assert metric_sum(outside, "", "time to run Python workers") == 0


def test_derived_metrics_match_sinks(spark, archive, tmp_path):
    """Values derived in the messages write or from the staged parse agree
    with the sinks: the manifest's ts range is the lineage range,
    counts_logtype is logtype_dict's (logtype, n_messages), and a
    messages-only manifest carries the same ts range, so routed archives
    take part in archive selection."""
    out, manifest = archive
    rng = (
        spark.read.parquet(os.path.join(out, "lineage"))
        .agg(F.min("begin_ts_ms").alias("b"), F.max("end_ts_ms").alias("e"))
        .first()
    )
    metrics = manifest["metrics"]
    assert (metrics["begin_ts_ms"], metrics["end_ts_ms"]) == (rng["b"], rng["e"])
    assert rng["b"] is not None and rng["b"] <= rng["e"]

    cl = spark.read.parquet(os.path.join(out, "counts_logtype"))
    lt = spark.read.parquet(os.path.join(out, "logtype_dict"))
    assert sorted(map(tuple, cl.select("logtype", "cnt").collect())) == sorted(
        map(tuple, lt.select("logtype", "n_messages").collect())
    )

    routed = str(tmp_path / "routed")
    t = load_transcripts(spark, SF_DIR)
    rm = I.ingest(spark, t, routed, only_steps={"messages"})["metrics"]
    assert (rm["begin_ts_ms"], rm["end_ts_ms"]) == (rng["b"], rng["e"])
    assert I.select_archives([routed], begin_ts_ms=rng["e"] + 1) == []
    assert I.select_archives([routed], end_ts_ms=rng["b"] - 1) == []
    assert I.select_archives([routed], begin_ts_ms=rng["b"], end_ts_ms=rng["b"]) == [routed]


def test_sinks_invariant_to_input_partitioning(spark, tmp_path):
    """The same input read as 1, 4 and 32 partitions gives identical row
    sets in all seven sinks. lineage.n_files counts the files each bucket
    was written as, which follows the task layout, so it is left out."""
    t = load_transcripts(spark, SF_DIR)
    outs = []
    for n, df in ((1, t.coalesce(1)), (4, t.repartition(4)), (32, t.repartition(32))):
        assert df.rdd.getNumPartitions() == n
        out = str(tmp_path / f"p{n}")
        I.ingest(spark, df, out, dim_role=dim_role(spark), dim_tool=dim_tool(spark))
        outs.append(out)
    for sink in I.STEPS:
        drop = ("n_files",) if sink == "lineage" else ()
        first, *rest = (_row_set(spark, out, sink, drop) for out in outs)
        assert first and all(r == first for r in rest), sink


def test_crash_leaves_no_partial_sink(spark, tmp_path):
    out = str(tmp_path / "arch")
    t = load_transcripts(spark, SF_DIR)

    boom = RuntimeError("injected")
    orig = I._commit
    calls = {"n": 0}

    def failing_commit(fn, out_dir, step, *args, **kwargs):
        calls["n"] += 1
        if step == "logtype_dict":
            raise boom
        return orig(fn, out_dir, step, *args, **kwargs)

    I._commit = failing_commit
    try:
        with pytest.raises(RuntimeError):
            I.ingest(spark, t, out)
    finally:
        I._commit = orig

    # messages committed, logtype_dict absent (not half-written), manifest
    # reflects exactly the completed steps
    assert os.path.isdir(os.path.join(out, "messages"))
    assert not os.path.isdir(os.path.join(out, "logtype_dict"))
    m = I.read_manifest(out)
    assert "messages" in m["steps"] and "logtype_dict" not in m["steps"]

    # resume completes the job without rewriting messages
    mtime = os.path.getmtime(os.path.join(out, "messages"))
    I.ingest(spark, t, out)
    assert os.path.getmtime(os.path.join(out, "messages")) == mtime
    assert os.path.isdir(os.path.join(out, "logtype_dict"))


@pytest.mark.parametrize("step", ["logtype_dict", "lineage"])
def test_crash_between_commit_and_manifest(spark, archive, tmp_path, monkeypatch, step):
    """A crash after a driver-written sink's rename and before the manifest
    records it: the resume=True rerun commits that step again, and every
    sink is row-identical to an uninterrupted ingest, with the same
    manifest steps."""
    full, _ = archive
    out = str(tmp_path / "arch")
    t = load_transcripts(spark, SF_DIR)
    commit = I._commit

    def commit_then_crash(fn, out_dir, s, *args, **kwargs):
        final = commit(fn, out_dir, s, *args, **kwargs)
        if s == step:
            raise RuntimeError("injected after commit")
        return final

    monkeypatch.setattr(I, "_commit", commit_then_crash)
    with pytest.raises(RuntimeError, match="injected"):
        I.ingest(spark, t, out, dim_role=dim_role(spark), dim_tool=dim_tool(spark))
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(out, step))
    assert step not in I.read_manifest(out)["steps"]

    I.ingest(spark, t, out, dim_role=dim_role(spark), dim_tool=dim_tool(spark), resume=True)
    assert set(I.read_manifest(out)["steps"]) == set(I.read_manifest(full)["steps"])
    for sink in I.STEPS:
        assert _row_set(spark, out, sink) == _row_set(spark, full, sink), sink


def test_compaction_preserves_rows(spark, archive):
    out, _ = archive
    msgs_dir = os.path.join(out, "messages")
    buckets = [
        int(d.split("=")[1])
        for d in os.listdir(msgs_dir)
        if d.startswith("logtype_bucket=")
    ]
    b = buckets[0]
    bucket_dir = os.path.join(msgs_dir, f"logtype_bucket={b}")
    before = spark.read.parquet(bucket_dir).count()
    I.compact_bucket(spark, out, b, target_files=1)
    files = [f for f in os.listdir(bucket_dir) if f.endswith(".parquet")]
    assert len(files) == 1
    assert spark.read.parquet(bucket_dir).count() == before


def test_archive_selection_and_multi_archive_search(spark, tmp_path):
    from pyspark.sql import functions as F

    t = load_transcripts(spark, SF_DIR)
    mid = t.approxQuantile("turn_idx", [0.5], 0)[0]
    early = t.filter(F.col("turn_idx") < 4)
    late = t.filter(F.col("turn_idx") >= 4)
    a1, a2 = str(tmp_path / "arch1"), str(tmp_path / "arch2")
    I.ingest(spark, early, a1, dataset="prod", tags=("blue",))
    I.ingest(spark, late, a2, dataset="prod", tags=("green",))

    m1, m2 = I.read_manifest(a1), I.read_manifest(a2)
    assert m1["tags"] == ["blue"] and m2["dataset"] == "prod"
    assert m1["metrics"]["begin_ts_ms"] <= m1["metrics"]["end_ts_ms"]

    # tag restriction
    assert I.select_archives([a1, a2], tags=["blue"]) == [a1]
    assert set(I.select_archives([a1, a2], dataset="prod")) == {a1, a2}
    assert I.select_archives([a1, a2], dataset="other") == []
    # ts-overlap pruning: a window strictly before a2's begin keeps only a1
    assert I.select_archives([a1, a2], end_ts_ms=m2["metrics"]["begin_ts_ms"] - 1) == [a1]

    # multi-archive search returns the union of per-archive matches
    from clp_spark.plans.grep import search

    hits = I.search_archives(spark, [a1, a2], "commit BEEF")
    n1 = I.search_archives(spark, [a1], "commit BEEF").count()
    n2 = I.search_archives(spark, [a2], "commit BEEF").count()
    assert hits.count() == n1 + n2 > 0


def test_reingest_invalidates_dict_caches(spark, tmp_path):
    """ADVICE r2: re-ingesting into the same path within one session must
    not serve STALE dictionaries — a search for text that only exists in
    the second ingest would otherwise be WontMatch-pruned to empty."""
    from pyspark.sql import functions as F

    arch = str(tmp_path / "arch")
    t = load_transcripts(spark, SF_DIR)
    first = t.filter(F.col("turn_idx") < 2)
    I.ingest(spark, first, arch)
    # populate every cache layer: search + decode through the archive
    assert I.search_archives(spark, [arch], "zzqx_sentinel_token").count() == 0

    second = first.withColumn(
        "text", F.concat(F.lit("zzqx_sentinel_token "), F.col("text"))
    )
    I.ingest(spark, second, arch, resume=False)
    got = I.search_archives(spark, [arch], "zzqx_sentinel_token").count()
    assert got == first.count()  # stale dictionaries would return 0


def test_auto_compaction_by_lineage(spark, tmp_path):
    """Compaction moves no rows: per bucket, n_rows and the ts range stay as
    ingest wrote them, and n_files follows the messages dir listing."""
    out = str(tmp_path / "arch_many")
    t = load_transcripts(spark, SF_DIR).repartition(16)  # 16 files per bucket
    I.ingest(spark, t, out)

    def lineage():
        return {r["logtype_bucket"]: r.asDict()
                for r in spark.read.parquet(os.path.join(out, "lineage")).collect()}

    lin = lineage()
    assert max(r["n_files"] for r in lin.values()) > 4
    before = spark.read.parquet(os.path.join(out, "messages")).count()

    compacted = I.compact_archive(spark, out, max_files_per_bucket=4)
    assert compacted  # something was over the limit
    assert compacted == {b: r["n_files"] for b, r in lin.items() if r["n_files"] > 4}
    lin2 = lineage()
    assert max(r["n_files"] for r in lin2.values()) <= 4
    assert spark.read.parquet(os.path.join(out, "messages")).count() == before
    assert sum(r["n_rows"] for r in lin2.values()) == before
    keep = ("n_rows", "begin_ts_ms", "end_ts_ms")
    assert {b: [r[k] for k in keep] for b, r in lin2.items()} == \
        {b: [r[k] for k in keep] for b, r in lin.items()}
    msgs_dir = os.path.join(out, "messages")
    listed = {
        int(d.split("=")[1]): len([f for f in os.listdir(os.path.join(msgs_dir, d))
                                   if f.endswith(".parquet")])
        for d in os.listdir(msgs_dir) if d.startswith("logtype_bucket=")
    }
    assert {b: r["n_files"] for b, r in lin2.items()} == listed


def test_readable_dictionaries(spark, archive):
    out, _ = archive
    lt, vd = I.readable_dictionaries(spark, out)
    rows = [r["logtype_readable"] for r in lt.collect()]
    assert any("<int>" in r or "<float>" in r or "<dict>" in r for r in rows)
    assert all("\x11" not in r and "\x12" not in r and "\x13" not in r for r in rows)
    assert rows == sorted(rows)
    vs = [r["var_str"] for r in vd.collect()]
    assert vs == sorted(vs) and len(vs) > 0


def _footer_chunk_meta(spark, f):
    """{column: (bloom_offset, encodings)} for row group 0, via parquet-mr
    (the JVM footer reader — pyarrow 16 / duckdb 1.0 don't expose bloom)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(f), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        cols = reader.getFooter().getBlocks().get(0).getColumns()
        out = {}
        for i in range(cols.size()):
            c = cols.get(i)
            out[c.getPath().toDotString()] = (
                c.getBloomFilterOffset(),
                c.getEncodings().toString(),
            )
    finally:
        reader.close()
    return out


def test_messages_sink_rowgroup_skip_machinery(spark, archive, tmp_path):
    """The segment-index prune analog (SURVEY §4.1), both regimes:

    1. At dictionary-encodable cardinality (this corpus), parquet-mr
       deliberately writes NO bloom for logtype_id — the dictionary page is
       the exact row-group membership filter. Assert the chunk really is
       dictionary-encoded.
    2. Past dictionary cardinality (the 100-TB regime), the SAME writer
       options must produce a real bloom filter. Assert footer offset > 0
       on a high-cardinality write through MESSAGES_PARQUET_OPTIONS, with
       a no-bloom column as negative control."""
    import glob

    out, _ = archive
    files = sorted(glob.glob(os.path.join(out, "messages", "*", "*.parquet")))
    assert files
    meta = _footer_chunk_meta(spark, files[0])
    off, encodings = meta["logtype_id"]
    assert off == -1 and "DICTIONARY" in encodings.upper(), meta

    hi = spark.range(100_000).select(
        F.xxhash64("id").alias("logtype_id"), F.col("id").alias("ts")
    )
    d = str(tmp_path / "hi")
    hi.write.mode("overwrite").options(**I.MESSAGES_PARQUET_OPTIONS).parquet(d)
    meta = _footer_chunk_meta(spark, sorted(glob.glob(d + "/*.parquet"))[0])
    assert meta["logtype_id"][0] > 0, meta
    assert meta["ts"][0] == -1, meta


CODECS = ("zstd", "gzip", "snappy", "uncompressed")


def _footer_codecs(sink_dir):
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(sink_dir, "**", "*.parquet"), recursive=True)
    assert files, sink_dir
    codecs = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        codecs |= {md.row_group(g).column(i).compression
                   for g in range(md.num_row_groups) for i in range(md.num_columns)}
    return codecs


def test_codec_knob_applies_to_all_sinks(spark, tmp_path):
    """Per-job compression codec (the reference's --compression knob,
    clp/streaming_compression/): for every codec of the round-trip matrix,
    the pages of all seven sinks, Spark-written and driver-written, carry
    the messages sink's codec. A codec the driver writer cannot match
    raises before any sink is written."""
    t = load_transcripts(spark, SF_DIR)
    n = t.count()
    for codec in CODECS:
        out = str(tmp_path / codec)
        I.ingest(spark, t, out, dim_role=dim_role(spark), dim_tool=dim_tool(spark),
                 codec=codec)
        assert _footer_codecs(os.path.join(out, "messages")) == {codec.upper()}
        for sink in I.STEPS[1:]:
            assert _footer_codecs(os.path.join(out, sink)) == {codec.upper()}, (codec, sink)
        assert spark.read.parquet(os.path.join(out, "messages")).count() == n

    # lz4 is Hadoop-framed LZ4, which the driver writer cannot produce
    for codec in ("brotli", "lz4"):
        bad = str(tmp_path / f"bad_{codec}")
        with pytest.raises(ValueError, match=codec):
            I.ingest(spark, t, bad, codec=codec)
        assert not [s for s in I.STEPS if os.path.exists(os.path.join(bad, s))], codec


def test_codec_matrix_roundtrip_and_ratio_ordering(spark, tmp_path):
    """Every supported codec produces a byte-exact decode round-trip
    (sf0.001 — cheap), and at sf0.01 (where page payloads dominate the
    parquet footer/dictionary fixed costs that drown the codec signal at
    sf0.001) the manifest compression ratios order the way the codecs
    promise: every real codec beats uncompressed, and the high-ratio tier
    (zstd default / gzip, the slot the reference's lzma occupies —
    parquet-mr has no lzma) beats snappy."""
    t_small = load_transcripts(spark, SF_DIR)
    texts = t_small.select("conv_id", "turn_idx", "text")
    for codec in CODECS:
        out = str(tmp_path / f"rt_{codec}")
        I.ingest(spark, t_small, out, dim_role=dim_role(spark),
                 dim_tool=dim_tool(spark), codec=codec)
        dec = I.decode_archive(spark, out).withColumnRenamed("text", "dec_text")
        joined = dec.join(texts, ["conv_id", "turn_idx"])
        assert joined.count() == t_small.count(), codec
        assert joined.filter("dec_text != text").count() == 0, codec

    t_big = load_transcripts(spark, "/root/testdata/sf0.01")
    ratios = {}
    for codec in CODECS:
        m = I.ingest(spark, t_big, str(tmp_path / f"ratio_{codec}"),
                     dim_role=dim_role(spark), dim_tool=dim_tool(spark),
                     codec=codec)
        ratios[codec] = m["metrics"]["compression_ratio"]
    assert ratios["uncompressed"] < min(
        ratios["zstd"], ratios["gzip"], ratios["snappy"]
    ), ratios
    assert ratios["snappy"] < max(ratios["zstd"], ratios["gzip"]), ratios
