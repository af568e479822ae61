"""Exact equivalence of the Arrow batch encoders vs the scalar oracle.

The scalar implementation (clp_spark.functions.tokenizer) encodes CLP's
documented rules one string at a time; the production encoders
(clp_spark.functions.tokenizer_vec.encode_full_arrow / encode_ids_arrow)
must produce identical outputs for every input, including the escape/NUL
rows they route to the scalar path and splice back in input order.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from clp_spark.functions import tokenizer_vec
from clp_spark.functions.tokenizer import decode_text, encode_series_scalar
from clp_spark.functions.tokenizer_vec import encode_full_arrow, encode_ids_arrow

FULL_COLUMNS = (
    "logtype", "var_types", "dict_vars", "logtype_id", "dict_var_ids", "encoded_vars",
)

EDGE_CASES = [
    "",
    " ",
    "statictext and more static text",
    "used 123 of 4.2 GB in 1.9 seconds",
    "Task MyDog123 started by user42 from APet4123\\test.txt",
    "value=abc123 mode=fast",
    "hash deadBEEF21 commit 231ACDFE21",
    "retcode -17 offset 0x1F pad 007",
    "ratio 123.4567890123456 neg -0.125",
    "overflow 12345678901234567.8 text 1.2.3",
    "tool search latency 91 ms conv conv-000001",
    # canonical-int edges
    "+1 007 -0 -012 0 -1 00",
    "9223372036854775807 9223372036854775808 -9223372036854775808 -9223372036854775809",
    "99999999999999999999999 12345678901234567890",
    # float edges
    ".5 5. -.5 -0.0 0.0 1..2 1.2.3 -. . -",
    "1234567890123456.7 12345678901234567.8 .1234567890123456 .12345678901234567",
    "-1234567890123456. -123456789012345.6",
    # '=' rule and hex rule
    "a=b x=5 =word word= ==flag= k=v=w",
    "ab AB aB 0x 0xG deadbeef DEADBEEF f A ff",
    # delimiters, unicode, weird spacing
    "a,b;c|d(e)f[g]h{i}j",
    "héllo wörld 123",
    "日本語テスト 42 値=速い",
    "trailing space ",
    " leading",
    "tab\tsep\tvals 7",
    "newline\nin middle 8",
    # escape-needing rows (scalar fallback path)
    "has\x11placeholder",
    "has\x12dict and 42",
    "backslash \\ alone C:\\path\\to\\file.txt 3",
    "nul\x00byte 5",
]


def assert_frames_equal(texts: list) -> None:
    arr = pa.array(texts, type=pa.string())
    want = encode_series_scalar(pd.Series(texts, dtype=object))
    got = encode_full_arrow(arr)
    assert set(got) == set(FULL_COLUMNS)
    lid, ev = encode_ids_arrow(arr)
    got_ids = {"logtype_id": lid, "encoded_vars": ev}
    for name, out in (("full", got), ("ids", got_ids)):
        for col, arrow_col in out.items():
            expect = [list(v) if isinstance(v, (list, tuple)) else v for v in want[col]]
            assert arrow_col.to_pylist() == expect, (
                f"{name} column {col} diverged.\n texts={texts}\n"
                f" got={arrow_col.to_pylist()}\n want={expect}"
            )


def _full(texts: list) -> dict:
    out = encode_full_arrow(pa.array(texts, type=pa.string()))
    return {k: v.to_pylist() for k, v in out.items()}


def test_edge_cases():
    assert_frames_equal(EDGE_CASES)


def test_none_and_empty():
    got = _full([None, "", "x 1", None])
    assert got["logtype"] == ["", "", "x \x11", ""]
    assert got["encoded_vars"] == [[], [], [1], []]
    assert_frames_equal([None, "", "x 1", None])


def test_empty_batch():
    assert _full([]) == {c: [] for c in FULL_COLUMNS}
    lid, ev = encode_ids_arrow(pa.array([], type=pa.string()))
    assert lid.to_pylist() == [] and ev.to_pylist() == []


def test_roundtrip_through_vectorized():
    texts = [t for t in EDGE_CASES if "\x00" not in t]
    enc = _full(texts)
    for text, lt, dv, ev in zip(texts, enc["logtype"], enc["dict_vars"], enc["encoded_vars"]):
        assert decode_text(lt, dv, ev) == text


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8"),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_equivalence_random_unicode(texts):
    assert_frames_equal(texts)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="abcXYZ0189+-.\\_ =,\x11\x13café",
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_equivalence_random_adversarial(texts):
    """Alphabet concentrated on token chars, signs, dots, escapes."""
    assert_frames_equal(texts)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-(2**64), max_value=2**64),
            st.floats(allow_nan=False, allow_infinity=False),
            st.decimals(allow_nan=False, allow_infinity=False, places=8),
        ).map(str),
        min_size=1,
        max_size=10,
    ).map(lambda xs: [" ".join(xs)])
)
def test_equivalence_numeric_soup(texts):
    assert_frames_equal(texts)


def test_giant_token_four_pass_fallback():
    """A single token >= 2^16 bytes overflows the packed 16-bit class-count
    lanes, so _analyze must take the four-pass fallback. Pin that path
    against the scalar oracle (class counts drive int/float/dict typing)."""
    giant_dict = "a1" * 35_000  # 70,000 B, alpha+digit -> dictionary var
    giant_hex = "abcdef0123456789" * 4_100  # 65,600 B, hex-only token
    giant_digits = "9" * 65_600  # > 19 digits: integer overflow -> dict var
    giant_float = "1" * 65_600 + ".5"  # > 16 sig digits -> dict var
    texts = [
        f"job {giant_dict} took 42 ms",
        f"digest {giant_hex} ok",
        f"n={giant_digits} f {giant_float}",
        "plain small row 7",
    ]
    assert_frames_equal(texts)
    # and the encodings still round-trip byte-exactly
    enc = _full(texts)
    for text, lt, dv, ev in zip(texts, enc["logtype"], enc["dict_vars"], enc["encoded_vars"]):
        assert decode_text(lt, dv, ev) == text


_CLEAN_ROW = st.text(alphabet="abcXYZ0189+-._ =,:/café", max_size=40)
_ESCAPE_ROW = st.text(alphabet="ab09 .-=\\\x00\x11\x12\x13", min_size=1, max_size=20)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(_CLEAN_ROW, _ESCAPE_ROW, st.none()), min_size=1, max_size=24))
def test_equivalence_mixed_escape_rows(texts):
    """Clean rows mixed with rows biased toward backslash, NUL and
    0x11-0x13, in random positions: pins the splice of scalar-path rows back
    into input order."""
    assert_frames_equal(texts)


def test_only_escape_rows_take_scalar_path(monkeypatch):
    calls = []
    scalar = tokenizer_vec._scalar_row_outputs

    def counting(text):
        calls.append(text)
        return scalar(text)

    monkeypatch.setattr(tokenizer_vec, "_scalar_row_outputs", counting)
    texts = [f"job {i} took {i * 7}.5 ms on host-{i % 13}" for i in range(2000)]
    texts[1234] = "wrote C:\\tmp\\out.txt 3"
    for encode in (encode_full_arrow, encode_ids_arrow):
        calls.clear()
        encode(pa.array(texts))
        assert calls == [texts[1234]]
    assert_frames_equal(texts)


def test_render_batch_equals_decode_text():
    from clp_spark.functions.tokenizer import (
        decode_text,
        encode_text,
        render_batch,
    )

    texts = [t for t in EDGE_CASES if t]
    lts, dvs, evs = [], [], []
    for t in texts:
        lt, vt, dv, en = encode_text(t)
        # merged encoded_vars: dict slots get arbitrary ids (renderer must
        # use dict_vars for those, never the id)
        ev = [e if e is not None else 12345 for e in en]
        lts.append(lt)
        dvs.append(list(dv))
        evs.append(ev)
    got = render_batch(lts, dvs, evs)
    want = [decode_text(lt, dv, [e if e is not None else 12345 for e in en])
            for lt, (_, _, dv, en) in zip(lts, (encode_text(t) for t in texts))]
    assert got == want == texts
