"""The session cache's key contract (clp_spark/caching.py): equal keys mean
the same plan over the same files with the same parameters, a rewritten
sink is never served stale, and a restarted session never sees the old
context's broadcasts."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F
from test_ingest import SF_DIR

from clp_spark import caching
from clp_spark.caching import DRIVER_VALUES, FRAMES, SessionCache, persist, plan_key
from clp_spark.operators.dedup import _shingle_hash_rows, minhash_lsh_pairs
from clp_spark.plans import grep as G
from clp_spark.plans import ingest as I
from clp_spark.plans import pipeline as P
from clp_spark.sources.transcripts import dim_role, dim_tool, load_transcripts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(autouse=True)
def _release_session_caches():
    yield
    FRAMES.clear()
    DRIVER_VALUES.clear()


def _docs_rows(dup: tuple[int, int]) -> list[tuple[int, str]]:
    """Four docs of disjoint 12-word vocabularies, except that doc dup[1]
    repeats doc dup[0]: exactly one near-duplicate pair, jaccard 1."""
    text = {i: " ".join(f"w{i}_{j}" for j in range(12)) for i in range(1, 5)}
    text[dup[1]] = text[dup[0]]
    return [(i, text[i]) for i in range(1, 5)]


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df).collect()}


def test_lsh_pairs_keyed_by_parquet_files(spark, tmp_path):
    """Same schema, different parquet dirs: the plan text is identical, the
    answers are not."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame(_docs_rows((1, 2)), "doc_id long, text string").write.parquet(a)
    spark.createDataFrame(_docs_rows((3, 4)), "doc_id long, text string").write.parquet(b)
    assert _pairs(spark.read.parquet(a)) == {(1, 2)}
    assert _pairs(spark.read.parquet(b)) == {(3, 4)}  # as B run alone


def test_lsh_pairs_keyed_by_in_memory_rows(spark):
    schema = "doc_id long, text string"
    a = spark.createDataFrame(_docs_rows((1, 2)), schema)
    b = spark.createDataFrame(_docs_rows((3, 4)), schema)
    assert plan_key(a) != plan_key(b)
    assert plan_key(a.select("text")) == plan_key(a.select("text"))  # rebuilt: equal
    assert _pairs(a) == {(1, 2)}
    assert _pairs(b) == {(3, 4)}


def test_persist_keyed_by_udf_closure(spark, tmp_path):
    """k=2 and k=6 shingle tables differ only inside a Python UDF closure."""
    src = str(tmp_path / "docs")
    spark.createDataFrame(_docs_rows((1, 2)), "doc_id long, text string").write.parquet(src)
    d = spark.read.parquet(src)
    fresh6 = _shingle_hash_rows(d, 6, "text", "doc_id").count()
    n2 = persist(_shingle_hash_rows(d, 2, "text", "doc_id")).count()
    assert n2 != fresh6
    assert persist(_shingle_hash_rows(d, 6, "text", "doc_id")).count() == fresh6


def test_rebuilt_search_hits_dictionary_cache(spark, monkeypatch):
    """Building the same search twice re-mints every expression and CTE id;
    the second dictionary lookup must still be a hit."""
    looked_up = []
    dict_rows = G.dict_rows
    monkeypatch.setattr(
        G, "dict_rows", lambda lt, vd: looked_up.append(dict_rows(lt, vd)) or looked_up[-1]
    )
    for _ in range(2):
        parsed = P.parse_encode(load_transcripts(spark, SF_DIR))
        G.search(
            P.encoded_messages(parsed),
            I.logtype_dict_frame(parsed),
            P.build_var_dict(parsed),
            "used 123 of ",
        )
    assert len(looked_up) == 2
    assert looked_up[1] is looked_up[0]


def test_lru_refreshes_on_hit_and_releases_oldest():
    class Held:
        released = False

        def unpersist(self):
            self.released = True

    cache = SessionCache(max_items=2)
    a, b, c = Held(), Held(), Held()
    cache.get_or_load("a", lambda: a)
    cache.get_or_load("b", lambda: b)
    assert cache.get_or_load("a", lambda: None) is a  # hit: now newest
    cache.get_or_load("c", lambda: c)
    assert b.released and not a.released and not c.released
    assert list(cache._store) == ["a", "c"]
    cache.clear()
    assert a.released and c.released and not cache._store


def test_same_path_rewrite_serves_new_files(spark, tmp_path):
    """Re-ingesting into the same directory (commit by rename) must not
    serve the old archive to a persisted read, a search or a decode."""
    t = load_transcripts(spark, SF_DIR)
    x = t.filter(F.col("conv_id") < "conv-000060")
    y = t.filter(F.col("conv_id") >= "conv-000060")
    y_text = {(r["conv_id"], r["turn_idx"]): r["text"] for r in y.collect()}
    out = str(tmp_path / "archive")
    msgs_dir = os.path.join(out, "messages")
    dims = dict(dim_role=dim_role(spark), dim_tool=dim_tool(spark))

    n_x = I.ingest(spark, x, out, **dims)["metrics"]["n_turns"]
    held = spark.read.parquet(msgs_dir).persist()
    assert held.count() == n_x
    assert I.search_archives(spark, [out], "GB in").count() > 0
    assert I.decode_archive(spark, out).count() == n_x

    I.ingest(spark, y, out, resume=False, **dims)
    try:
        assert spark.read.parquet(msgs_dir).count() == len(y_text)
        found = {
            (r["conv_id"], r["turn_idx"])
            for r in I.search_archives(spark, [out], "GB in").collect()
        }
        assert found and found <= set(y_text)
        decoded = {
            (r["conv_id"], r["turn_idx"]): r["text"]
            for r in I.decode_archive(spark, out).collect()
        }
        assert decoded == y_text
    finally:
        held.unpersist()
    assert not hasattr(caching, "invalidate_dict_caches")


_RESTART = """
import json, sys
from clp_spark.plans.ingest import decode_archive, ingest
from clp_spark.session import get_spark
from clp_spark.sources.transcripts import load_transcripts

sf_dir, out = sys.argv[1], sys.argv[2]
spark = get_spark(app_name="restart")
ingest(spark, load_transcripts(spark, sf_dir), out)
first = decode_archive(spark, out).count()
spark.stop()
spark = get_spark(app_name="restart")
second = decode_archive(spark, out).count()
print(json.dumps({"first": first, "second": second}))
"""


@pytest.mark.slow
def test_decode_after_session_restart(tmp_path):
    """A stopped context's broadcasts must never be handed to the next one
    (in a subprocess, so the test session's own Spark stays up)."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, SF_DIR, str(tmp_path / "archive")],
        capture_output=True, text=True, timeout=420, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert counts == {"first": 1000, "second": 1000}
