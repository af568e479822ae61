"""CLP heuristic tokenizer: message -> (logtype template, typed variables).

Semantics re-derived from the reference (NOT ported code):
  - delimiter set: every char EXCEPT [+\\-.0-9A-Z\\\\_a-z] is a delimiter
    (reference components/core/src/clp/ir/parsing.cpp:20-24)
  - a token is a variable iff it contains a decimal digit, OR is directly
    preceded by '=' and contains a letter, OR could be a multi-digit hex value
    (reference clp/ir/parsing.cpp:74-84, clp/ir/parsing.hpp:45-58)
  - placeholder bytes Integer=0x11, Dictionary=0x12, Float=0x13, Escape='\\\\'
    (reference clp/ir/types.hpp:17-22)
  - placeholder/escape bytes occurring in constant text are escaped with '\\\\'
    (reference clp/ir/parsing.inc:12-33)
  - variable dispatch order int -> float -> dict
    (reference clp/EncodedVariableInterpreter.hpp:637-653)

This module is the semantics oracle. Ingest encodes whole Arrow batches
with the numpy encoders in :mod:`clp_spark.functions.tokenizer_vec`, which
call :func:`encode_text` only for rows needing constant-text escaping;
:func:`encode_series_scalar` is the one-row-at-a-time reference the tests
compare those encoders against.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd

from .encoding import encode_float, encode_int

# Variable placeholders (match the reference byte values for parity).
PLACEHOLDER_INT = "\x11"
PLACEHOLDER_DICT = "\x12"
PLACEHOLDER_FLOAT = "\x13"
ESCAPE = "\\"

# Variable type tags stored alongside encoded vars (same values as the
# placeholder bytes so routed tables are self-describing).
VT_INT = 0x11
VT_DICT = 0x12
VT_FLOAT = 0x13

_TOKEN_CHARS = frozenset(
    "+-.\\_"
    "0123456789"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "abcdefghijklmnopqrstuvwxyz"
)
_DIGITS = frozenset("0123456789")
_ALPHA = frozenset("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")
_HEX = frozenset("0123456789abcdefABCDEF")
_NEEDS_ESCAPE = ("\\", "\x11", "\x12", "\x13")


def _escape_const(text: str) -> str:
    """Escape placeholder/escape bytes in constant (non-variable) text."""
    for ch in _NEEDS_ESCAPE:
        if ch in text:
            out = []
            for c in text:
                if c in _NEEDS_ESCAPE:
                    out.append(ESCAPE)
                out.append(c)
            return "".join(out)
    return text


def tokenize(text: str):
    """Yield (start, end, is_variable) spans covering *text*.

    Variable spans are maximal runs of token chars satisfying the CLP
    variable heuristic; everything else (delimiters + non-variable tokens)
    is constant text.
    """
    n = len(text)
    spans = []
    i = 0
    while i < n:
        # skip delimiters
        start = i
        while i < n and text[i] not in _TOKEN_CHARS:
            i += 1
        if i > start:
            spans.append((start, i, False))
        if i >= n:
            break
        tok_start = i
        has_digit = False
        has_alpha = False
        while i < n and text[i] in _TOKEN_CHARS:
            c = text[i]
            if c in _DIGITS:
                has_digit = True
            elif c in _ALPHA:
                has_alpha = True
            i += 1
        tok = text[tok_start:i]
        is_var = (
            has_digit
            or (tok_start > 0 and text[tok_start - 1] == "=" and has_alpha)
            or (len(tok) >= 2 and all(c in _HEX for c in tok))
        )
        spans.append((tok_start, i, is_var))
    return spans


@lru_cache(maxsize=65536)
def encode_text(text: str):
    """Encode one message.

    Returns (logtype, var_types, dict_vars, encoded_nums) where
      - logtype: template string with placeholder bytes
      - var_types: tuple of VT_* tags, one per variable in order
      - dict_vars: tuple of the dictionary-variable strings, in slot order
        (subsequence of all variables; ints/floats are not dictionary vars)
      - encoded_nums: tuple of int64-or-None, one per variable in order
        (None for dict vars — their encoded value is the dict id, assigned
        later JVM-side via xxhash64)
    """
    parts = []
    var_types = []
    dict_vars = []
    encoded_nums = []
    const_start = 0
    for start, end, is_var in tokenize(text):
        if not is_var:
            continue
        if start > const_start:
            parts.append(_escape_const(text[const_start:start]))
        tok = text[start:end]
        enc = encode_int(tok)
        if enc is not None:
            parts.append(PLACEHOLDER_INT)
            var_types.append(VT_INT)
            encoded_nums.append(enc)
        else:
            enc = encode_float(tok)
            if enc is not None:
                parts.append(PLACEHOLDER_FLOAT)
                var_types.append(VT_FLOAT)
                encoded_nums.append(enc)
            else:
                parts.append(PLACEHOLDER_DICT)
                var_types.append(VT_DICT)
                dict_vars.append(tok)
                encoded_nums.append(None)
        const_start = end
    if const_start < len(text):
        parts.append(_escape_const(text[const_start:]))
    return "".join(parts), tuple(var_types), tuple(dict_vars), tuple(encoded_nums)


def decode_text(logtype: str, dict_vars, encoded_nums) -> str:
    """Exact inverse of :func:`encode_text` given the variable values.

    dict_vars: dictionary-variable strings in slot order.
    encoded_nums: per-variable encoded int64 (ignored for dict slots).
    Round-trip contract: decode_text(*encode-side outputs) == original text
    (reference parity: clp/LogTypeDictionaryEntry.cpp:136-170 decode walk).
    """
    from .encoding import decode_float, decode_int

    out = []
    di = 0  # dict var cursor
    vi = 0  # all-variable cursor
    i = 0
    n = len(logtype)
    while i < n:
        c = logtype[i]
        if c == ESCAPE and i + 1 < n:
            out.append(logtype[i + 1])
            i += 2
        elif c == PLACEHOLDER_INT:
            out.append(decode_int(encoded_nums[vi]))
            vi += 1
            i += 1
        elif c == PLACEHOLDER_FLOAT:
            out.append(decode_float(encoded_nums[vi]))
            vi += 1
            i += 1
        elif c == PLACEHOLDER_DICT:
            out.append(dict_vars[di])
            di += 1
            vi += 1
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _slots_from_types(var_types) -> list:
    """dict_slots for one row: the index into its dict_vars of each
    variable slot, -1 for int/float slots."""
    out = []
    d = 0
    for t in var_types:
        if t == VT_DICT:
            out.append(d)
            d += 1
        else:
            out.append(-1)
    return out


def encode_series_scalar(texts: pd.Series) -> pd.DataFrame:
    """Reference scalar implementation (one Python call per row); used as
    the test oracle for the vectorized path."""
    from .hash64 import add_id_columns

    encoded = texts.map(lambda t: encode_text(t) if t is not None else ("", (), (), ()))
    return add_id_columns(
        pd.DataFrame(
            {
                "logtype": encoded.map(lambda e: e[0]),
                "var_types": encoded.map(lambda e: list(e[1])),
                "dict_vars": encoded.map(lambda e: list(e[2])),
                "encoded_nums": encoded.map(lambda e: list(e[3])),
                "dict_slots": encoded.map(lambda e: _slots_from_types(e[1])),
            },
            index=texts.index,
        )
    )


@lru_cache(maxsize=65536)
def _template_parts(logtype: str):
    """Split a logtype into (constant segments, placeholder kinds) once per
    distinct template — render becomes a cheap join instead of a char loop
    (the logtype dictionary is tiny relative to row count)."""
    segs, kinds, cur = [], [], []
    i, n = 0, len(logtype)
    while i < n:
        c = logtype[i]
        if c == ESCAPE and i + 1 < n:
            cur.append(logtype[i + 1])
            i += 2
        elif c in (PLACEHOLDER_INT, PLACEHOLDER_FLOAT, PLACEHOLDER_DICT):
            segs.append("".join(cur))
            cur = []
            kinds.append(c)
            i += 1
        else:
            cur.append(c)
            i += 1
    segs.append("".join(cur))
    return tuple(segs), tuple(kinds)


def render_batch(logtypes, dict_vars_col, encoded_vars_col) -> list:
    """Batch decode: (logtype, dict_vars, encoded_vars) rows -> original
    texts. Per-template work is memoized; per-row work is one str.join.
    Semantics identical to decode_text (asserted in tests)."""
    from .encoding import decode_float

    out = []
    for lt, dv, ev in zip(logtypes, dict_vars_col, encoded_vars_col):
        segs, kinds = _template_parts(lt or "")
        if not kinds:
            out.append(segs[0])
            continue
        dv = dv if dv is not None else []
        ev = ev if ev is not None else []
        pieces = [segs[0]]
        di = 0
        for k, kind in enumerate(kinds):
            if kind == PLACEHOLDER_INT:
                pieces.append(str(int(ev[k])))
            elif kind == PLACEHOLDER_FLOAT:
                pieces.append(decode_float(int(ev[k])))
            else:
                pieces.append(dv[di])
                di += 1
            pieces.append(segs[k + 1])
        out.append("".join(pieces))
    return out
