"""Full-job edge cases: turns that stress the tokenizer, the encoders and the
decode go through ingest(), decode_archive on both sides of
DICT_BROADCAST_LIMIT, and search_archives. Decoded text equals the input
byte for byte, except NULL, which the tokenizer's prelude fills with '' and
which therefore decodes as ''. Search counts equal a Python `re` oracle over
the input."""

from __future__ import annotations

import datetime
import re

import pytest

from clp_spark.caching import DRIVER_VALUES
from clp_spark.functions.wildcard import wildcard_to_regex
from clp_spark.plans import grep as G
from clp_spark.plans import ingest as I

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

MANY_VARS = " ".join(f"u{i}" for i in range(16_000))  # 16,000 dictionary variables
ONE_MB = " ".join(f"user{i} took {i}ms at {i % 97}.{i % 10}s" for i in range(40_000))

EDGE_TEXTS = [
    None,
    "",
    "3.14159265358979323846",
    "pi is 3.14159265358979323846 here",
    "9223372036854775808",
    "max 9223372036854775808 and min -9223372036854775809",
    "-9223372036854775809",
    "007",
    "agent 007 and 0.070 and -007",
    "C:\\Users\\dev\\repo",
    "cd C:\\Users\\dev\\repo now",
    "nul\x00byte and \x00 alone",
    "placeholders \x11 \x12 \x13 and x\x11y1 z\x12\x13",
    "trailing \\",
    "\\",
    ONE_MB,
] + [MANY_VARS] * 4

QUERIES = [
    "3.14159265358979323846",
    "9223372036854775808",
    "-9223372036854775809",
    "007",
    "C:\\\\Users\\\\dev",
    "\x00",
    "\x12",
    "trailing \\\\",
    "u15999",
    "user39999 took",
    "",
]


def _rows():
    ts = datetime.datetime(2024, 1, 1)
    return [
        ("conv-edge", i, "assistant", text, None, ts + datetime.timedelta(seconds=i))
        for i, text in enumerate(EDGE_TEXTS)
    ]


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("edge_archive"))
    I.ingest(spark, spark.createDataFrame(_rows(), SCHEMA), out)
    return out


def _decoded(spark, out):
    return {r["turn_idx"]: r["text"] for r in I.decode_archive(spark, out).collect()}


def test_edge_turns_decode_byte_exact_on_both_sides(spark, archive, monkeypatch):
    want = {i: "" if t is None else t for i, t in enumerate(EDGE_TEXTS)}
    DRIVER_VALUES.clear()
    collected = _decoded(spark, archive)
    assert collected == want
    monkeypatch.setattr(G, "DICT_BROADCAST_LIMIT", 2)
    DRIVER_VALUES.clear()
    try:
        _, lt, vd = I.open_archive(spark, archive)
        assert G.dict_rows(lt, vd)[1] is G._TOO_BIG
        assert _decoded(spark, archive) == collected
    finally:
        DRIVER_VALUES.clear()


def test_edge_turns_search_matches_re_oracle(spark, archive):
    texts = ["" if t is None else t for t in EDGE_TEXTS]
    for q in QUERIES:
        rx = re.compile(wildcard_to_regex(G.normalize_query(q)))
        want = sum(1 for t in texts if rx.search(t))
        assert I.search_archives(spark, [archive], q).count() == want, q
