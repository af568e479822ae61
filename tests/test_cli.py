"""CLI surface parity (clp c / clg / clp x / clp-s c|s analogs): every
subcommand drives the real library path end-to-end and emits pipeable
NDJSON."""

from __future__ import annotations

import io
import json

import pytest

from clp_spark import cli

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli_archive"))
    rc = cli.main(
        ["compress", "--input", f"{SF_DIR}/events.parquet",
         "--synthesize-transcripts", "--out", out],
        spark=spark,
    )
    assert rc == 0
    return out


def test_cli_compress_sinks_equal_ingest(spark, archive, tmp_path):
    """`compress` writes the seven sinks ingest() writes for the same input
    (enrichment on, the default)."""
    import os

    from clp_spark.plans.ingest import STEPS, ingest
    from clp_spark.sources.transcripts import dim_role, dim_tool, load_transcripts

    out = str(tmp_path / "lib")
    ingest(spark, load_transcripts(spark, SF_DIR), out,
           dim_role=dim_role(spark), dim_tool=dim_tool(spark))

    def rows(root, sink):
        return sorted(repr(tuple(r)) for r in spark.read.parquet(os.path.join(root, sink)).collect())

    assert len(STEPS) == 7
    for sink in STEPS:
        assert rows(archive, sink) == rows(out, sink), sink


def _run(spark, argv):
    buf = io.StringIO()
    rc = cli.main(argv, spark=spark, out=buf)
    assert rc == 0
    return buf.getvalue().splitlines()


def test_cli_search_matches_library(spark, archive):
    lines = _run(spark, ["search", archive, "*commit BEEF*"])
    rows = [json.loads(ln) for ln in lines]
    assert rows and all("commit BEEF" in r["text"] for r in rows)
    from clp_spark.plans.ingest import search_archives

    want = search_archives(spark, [archive], "*commit BEEF*").count()
    assert len(rows) == want


def test_cli_search_count_and_by_time(spark, archive):
    (line,) = _run(spark, ["search", archive, "*commit BEEF*", "--count"])
    cnt = json.loads(line)["cnt"]
    assert cnt > 0
    buckets = [json.loads(ln) for ln in _run(
        spark, ["search", archive, "*commit BEEF*", "--count-by-time", "3600000"]
    )]
    assert sum(b["cnt"] for b in buckets) == cnt
    assert all(b["bucket"] % 3600000 == 0 for b in buckets)


def test_cli_search_raw_and_limit(spark, archive):
    lines = _run(spark, ["search", archive, "*commit BEEF*", "--raw", "--limit", "5"])
    assert len(lines) == 5
    assert all("commit BEEF" in ln for ln in lines)


def test_cli_extract_roundtrips(spark, archive):
    lines = _run(spark, ["extract", archive, "--raw", "--limit", "20"])
    assert len(lines) == 20
    from clp_spark.plans.ingest import decode_archive

    want = [
        r["text"]
        for r in decode_archive(spark, archive)
        .orderBy("conv_id", "turn_idx").limit(20).collect()
    ]
    assert lines == want


def test_cli_on_streamed_archive(spark, tmp_path):
    """search and extract open a streamed archive (delta-log dictionaries,
    batch_id-partitioned messages) and print the batch archive's output
    for the same input."""
    from clp_spark.plans.ingest import ingest
    from clp_spark.sources.transcripts import load_transcripts
    from clp_spark.streaming.ingest import stream_ingest

    t = load_transcripts(spark, SF_DIR)
    inp, streamed, batch = (str(tmp_path / d) for d in ("in", "streamed", "batch"))
    t.repartition(2).write.parquet(inp)
    q = stream_ingest(spark, inp, streamed, str(tmp_path / "ckpt"), schema=t.schema,
                      max_files_per_trigger=1)
    q.awaitTermination(120)
    ingest(spark, t, batch)

    for argv in (["search", "{}", "commit", "--count"], ["extract", "{}"]):
        got = _run(spark, [a.format(streamed) for a in argv])
        want = _run(spark, [a.format(batch) for a in argv])
        assert got == want and got, argv


def test_cli_compress_json_and_search_kql(spark, tmp_path):
    from clp_spark.sources.jsonlogs import load_jsonlogs

    src = str(tmp_path / "events.ndjson")
    with open(src, "w") as f:
        for r in load_jsonlogs(spark, SF_DIR).limit(400).collect():
            f.write(r["json"] + "\n")
    out = str(tmp_path / "json_archive")
    (line,) = _run(spark, ["compress-json", "--input", src,
                           "--format", "ndjson", "--out", out])
    manifest = json.loads(line)
    assert manifest.get("n_records", manifest.get("rows", 400))
    rows = [json.loads(ln) for ln in _run(
        spark, ["search-kql", out, 'level: "ERROR"']
    )]
    assert rows
