"""Schema-file / grok tokenizer: user-defined variable patterns.

Reference: CLP's optional schema file replaces the built-in variable
heuristic with named regex variable patterns and a custom delimiter set,
compiled by log-surgeon into a DFA
(reference docs/src/user-docs/reference-unstructured-schema-file.md:11-52;
consumed via clp/clp/run.cpp:59-64; write path
clp/streaming_archive/writer/Archive.cpp:318-451 write_msg_using_schema).

Spark-first re-expression: a GrokSchema is an ordered list of (name, regex)
variable patterns plus a delimiter set. Per Arrow batch, token spans come
from the same flat-byte-buffer machinery as the heuristic tokenizer
(clp_spark/functions/tokenizer_vec.py); each token is classified by the
FIRST pattern that fullmatches (priority = file order, like log-surgeon
rule order), with one compiled C-level regex pass per pattern over the
still-unclassified tokens — no per-row Python.

Variables named "int"/"float" use CLP's canonical int64 / custom float
encodings when representable (falling back to dictionary variables exactly
like the reference); every other pattern name produces dictionary
variables. Timestamp patterns are handled separately by
clp_spark/functions/timestamps.py (the reference also routes them through
TimestampPattern, not the variable schema).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .encoding import encode_float, encode_int
from .tokenizer import (
    ESCAPE,
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    VT_DICT,
    VT_FLOAT,
    VT_INT,
)
from .tokenizer_vec import _ranges

# Reference default delimiter set for schema files
# (reference-unstructured-schema-file.md: `delimiters: \t\r\n:,!;%`).
DEFAULT_DELIMITERS = " \t\r\n:,!;%"


@dataclass(frozen=True)
class VarPattern:
    name: str
    regex: str


@dataclass(frozen=True)
class GrokSchema:
    """Ordered variable patterns + delimiters (a parsed 'schema file')."""

    patterns: tuple[VarPattern, ...]
    delimiters: str = DEFAULT_DELIMITERS

    def compiled(self):
        return [(p, re.compile(p.regex)) for p in self.patterns]


# The schema-file documentation's example variable set, re-expressed.
DEFAULT_SCHEMA = GrokSchema(
    patterns=(
        VarPattern("int", r"-?\d+"),
        VarPattern("float", r"-?\d+\.\d+"),
        VarPattern("hex", r"[a-fA-F0-9]+"),
        VarPattern("hasNumber", r".*\d.*"),
        VarPattern("equals", r".*=.*[a-zA-Z0-9].*"),
    )
)

_NEEDS_ESCAPE = ("\\", "\x11", "\x12", "\x13")


def _escape_const(text: str) -> str:
    for ch in _NEEDS_ESCAPE:
        if ch in text:
            out = []
            for c in text:
                if c in _NEEDS_ESCAPE:
                    out.append(ESCAPE)
                out.append(c)
            return "".join(out)
    return text


def encode_text_schema(text: str, schema: GrokSchema):
    """Scalar reference implementation (test oracle + escape-row fallback).

    Returns (logtype, var_types, dict_vars, encoded_nums, dict_slots) with
    the same layout as the heuristic tokenizer's encode path.
    """
    compiled = schema.compiled()
    delims = set(schema.delimiters)
    parts, var_types, dict_vars, encoded_nums, dict_slots = [], [], [], [], []
    i, n = 0, len(text)
    const_start = 0
    while i < n:
        if text[i] in delims:
            i += 1
            continue
        tok_start = i
        while i < n and text[i] not in delims:
            i += 1
        tok = text[tok_start:i]
        kind = None
        for p, rx in compiled:
            if rx.fullmatch(tok):
                kind = p.name
                break
        if kind is None:
            continue
        if tok_start > const_start:
            parts.append(_escape_const(text[const_start:tok_start]))
        enc = None
        if kind == "int":
            enc = encode_int(tok)
        elif kind == "float":
            enc = encode_float(tok)
        if enc is not None:
            parts.append(PLACEHOLDER_INT if kind == "int" else PLACEHOLDER_FLOAT)
            var_types.append(VT_INT if kind == "int" else VT_FLOAT)
            encoded_nums.append(enc)
            dict_slots.append(-1)
        else:
            parts.append(PLACEHOLDER_DICT)
            var_types.append(VT_DICT)
            encoded_nums.append(None)
            dict_slots.append(len(dict_vars))
            dict_vars.append(tok)
        const_start = i
    if const_start < n:
        parts.append(_escape_const(text[const_start:]))
    return "".join(parts), var_types, dict_vars, encoded_nums, dict_slots


def encode_batch_schema(texts: pd.Series, schema: GrokSchema) -> pd.DataFrame:
    """Vectorized schema-file encoder -> DataFrame(logtype, var_types,
    dict_vars, encoded_nums, dict_slots); hash64.add_id_columns adds the
    content ids."""
    n = len(texts)
    cols = ["logtype", "var_types", "dict_vars", "encoded_nums", "dict_slots"]
    if n == 0:
        return pd.DataFrame({c: [] for c in cols})

    arr = texts.to_numpy(dtype=object, copy=False)
    if texts.isna().any():
        arr = np.where(pd.isna(arr), "", arr)

    out = {c: np.empty(n, dtype=object) for c in cols}

    blist = [t.encode("utf-8", "surrogatepass") for t in arr]
    lens = np.fromiter((len(b) for b in blist), count=n, dtype=np.int64)
    joined = b"\x00".join(blist)
    buf = np.frombuffer(joined, dtype=np.uint8)
    row_start = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=row_start[1:])

    # escape-needing / NUL rows -> scalar path
    bad = np.zeros(256, dtype=bool)
    bad[[0x00, 0x11, 0x12, 0x13, ord("\\")]] = True
    bad_pos = np.flatnonzero(bad[buf]) if len(buf) else np.zeros(0, np.int64)
    sep_pos = row_start[1:] - 1
    bad_pos = bad_pos[~np.isin(bad_pos, sep_pos)] if len(bad_pos) else bad_pos
    slow_rows = (
        np.unique(np.searchsorted(row_start, bad_pos, side="right") - 1)
        if len(bad_pos)
        else np.zeros(0, np.int64)
    )
    for i in slow_rows:
        lt, vt, dv, en, sl = encode_text_schema(arr[i], schema)
        for c, v in zip(cols, (lt, vt, dv, en, sl)):
            out[c][i] = v
    if len(slow_rows):
        good = np.ones(n, dtype=bool)
        good[slow_rows] = False
        fast_pos = np.flatnonzero(good)
        blist = [blist[i] for i in fast_pos]
        joined = b"\x00".join(blist)
        buf = np.frombuffer(joined, dtype=np.uint8)
        lens = lens[fast_pos]
        row_start = np.zeros(len(fast_pos), dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=row_start[1:])
    else:
        fast_pos = None

    nf = n if fast_pos is None else len(fast_pos)
    if nf:
        res = _encode_fast_schema(joined, buf, row_start, nf, schema)
        pos = slice(None) if fast_pos is None else fast_pos
        for c, v in zip(cols, res):
            out[c][pos] = v

    return pd.DataFrame(out, index=texts.index)


def _split_lists(values: np.ndarray, row_of: np.ndarray, n_rows: int) -> list:
    """Group position-sorted per-token values into one Python list per row."""
    counts = np.bincount(row_of, minlength=n_rows)
    offs = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    vals = values.tolist()
    offs_l = offs.tolist()
    return [vals[a:b] for a, b in zip(offs_l, offs_l[1:])]


def _encode_fast_schema(joined: bytes, buf: np.ndarray, row_start: np.ndarray, n: int, schema: GrokSchema):
    nb = len(buf)
    empty = lambda: [[] for _ in range(n)]
    if nb == 0:
        return [""] * n, empty(), empty(), empty(), empty()

    is_token = np.ones(256, dtype=bool)
    is_token[0] = False
    for ch in schema.delimiters:
        b = ch.encode("utf-8")
        if len(b) == 1:
            is_token[b[0]] = False

    mask = is_token[buf]
    prev = np.empty(nb, dtype=bool)
    prev[0] = False
    prev[1:] = mask[:-1]
    nxt = np.empty(nb, dtype=bool)
    nxt[-1] = False
    nxt[:-1] = mask[1:]
    tok_s = np.flatnonzero(mask & ~prev)
    tok_e = np.flatnonzero(mask & ~nxt) + 1
    ntok = len(tok_s)
    if ntok == 0:
        return (
            [b.decode("utf-8", "surrogatepass") for b in joined.split(b"\x00")],
            empty(), empty(), empty(), empty(),
        )

    toks = pd.Series(
        [joined[s:e].decode("utf-8", "surrogatepass") for s, e in zip(tok_s, tok_e)],
        dtype=object,
    )

    # first-match-wins classification: one C regex pass per pattern over the
    # still-unclassified tokens (log-surgeon rule-priority semantics)
    kind = np.full(ntok, -1, dtype=np.int64)
    for ki, (p, rx) in enumerate(schema.compiled()):
        un = kind == -1
        if not un.any():
            break
        hit = toks[un].str.fullmatch(p.regex).fillna(False).astype(bool).to_numpy()
        kind[np.flatnonzero(un)[hit]] = ki

    pat_names = [p.name for p in schema.patterns]
    is_var = kind >= 0

    v_idx = np.flatnonzero(is_var)
    nv = len(v_idx)
    v_types = np.full(nv, VT_DICT, dtype=np.int64)
    v_nums = np.empty(nv, dtype=object)
    v_nums[:] = None
    v_slots = np.full(nv, -1, dtype=np.int64)
    is_dict_v = np.ones(nv, dtype=bool)

    # numeric encode only where the matched pattern is named int/float
    numeric_kinds = {
        ki: p.name for ki, p in enumerate(schema.patterns) if p.name in ("int", "float")
    }
    if numeric_kinds:
        v_kind = kind[v_idx]
        for j in np.flatnonzero(np.isin(v_kind, list(numeric_kinds))):
            name = pat_names[v_kind[j]]
            enc = (encode_int if name == "int" else encode_float)(toks.iat[v_idx[j]])
            if enc is not None:
                v_types[j] = VT_INT if name == "int" else VT_FLOAT
                v_nums[j] = enc
                is_dict_v[j] = False

    row_of_var = np.searchsorted(row_start, tok_s[v_idx], side="right") - 1
    d_pos = np.flatnonzero(is_dict_v)
    row_of_dict = row_of_var[d_pos]
    if len(d_pos):
        counts = np.bincount(row_of_dict)
        v_slots[d_pos] = _ranges(counts[np.unique(row_of_dict)])
    dict_strs = toks.to_numpy(dtype=object)[v_idx[d_pos]]

    # logtype assembly (same buffer-collapse as the heuristic path)
    outb = buf.copy()
    ph = np.full(nv, ord(PLACEHOLDER_DICT), dtype=np.uint8)
    ph[v_types == VT_INT] = ord(PLACEHOLDER_INT)
    ph[v_types == VT_FLOAT] = ord(PLACEHOLDER_FLOAT)
    outb[tok_s[v_idx]] = ph
    keep = np.ones(nb, dtype=bool)
    span_len = (tok_e - tok_s)[v_idx] - 1
    multi = span_len > 0
    if multi.any():
        ms = tok_s[v_idx][multi] + 1
        mc = span_len[multi]
        keep[np.repeat(ms, mc) + _ranges(mc)] = False
    logtypes = [b.decode("utf-8", "surrogatepass") for b in outb[keep].tobytes().split(b"\x00")]

    return (
        logtypes,
        _split_lists(v_types, row_of_var, n),
        _split_lists(dict_strs, row_of_dict, n),
        _split_lists(v_nums, row_of_var, n),
        _split_lists(v_slots, row_of_var, n),
    )
