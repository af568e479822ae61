"""Vectorized CLP tokenizer+encoder: numpy over flat UTF-8 byte columns.

Same semantics as the scalar reference implementation in
:mod:`clp_spark.functions.tokenizer` (which remains the test oracle), but the
whole Arrow batch is processed as ONE flat byte buffer with numpy — no
per-row Python in the hot path, per the north-star requirement ("compiled
regex/grok over Arrow byte columns, never per-row Python").

Semantics re-derived from the reference (NOT ported code):
  - delimiter set / variable heuristic:
    reference components/core/src/clp/ir/parsing.cpp:20-24,74-84
  - canonical int / custom 16-digit float encodings:
    reference components/core/src/clp/EncodedVariableInterpreter.cpp:24-142
  - placeholder bytes Integer=0x11, Dictionary=0x12, Float=0x13, Escape='\\':
    reference components/core/src/clp/ir/types.hpp:17-22

Pipeline per Arrow batch (shared by encode_ids_arrow and encode_full_arrow):
  1. one scan of the Arrow values buffer finds the rows holding NUL,
     placeholder or escape bytes; the remaining clean rows are joined into
     one byte buffer with NUL separators (NUL is a delimiter);
  2. token spans via a 256-entry class table + run-length boundary masks;
  3. per-token predicates (has-digit / has-alpha / all-hex / canonical-int /
     float-form) via prefix-sum gathers — O(buffer), no token loop;
  4. int/float values via `np.add.reduceat` positional digit assembly;
  5. the logtype column is the buffer itself with each variable span
     collapsed to its placeholder byte, then split back into rows.

Only the rows holding placeholder/escape bytes or NUL go through the scalar
encoder — they need in-place escaping (reference clp/ir/parsing.inc:12-33),
which is per message; their outputs are spliced back in input order.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .hash64 import hash64_spans, hash64_str, hash64_strings
from .tokenizer import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    VT_DICT,
    VT_FLOAT,
    VT_INT,
    encode_text,
)

_TOKEN_BYTES = b"+-.\\_0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

_IS_TOKEN = np.zeros(256, dtype=bool)
_IS_TOKEN[list(_TOKEN_BYTES)] = True
_IS_DIGIT = np.zeros(256, dtype=bool)
_IS_DIGIT[list(b"0123456789")] = True
_IS_ALPHA = np.zeros(256, dtype=bool)
_IS_ALPHA[list(b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")] = True
_IS_HEX = np.zeros(256, dtype=bool)
_IS_HEX[list(b"0123456789abcdefABCDEF")] = True
_IS_DOT = np.zeros(256, dtype=bool)
_IS_DOT[ord(".")] = True
_IS_MINUS = np.zeros(256, dtype=bool)
_IS_MINUS[ord("-")] = True

# All four per-token class counts (alpha/hex/dot/minus) packed into 16-bit
# lanes of ONE int64 LUT: a single gather + reduceat replaces four int32
# passes (the encoder is bandwidth-bound — this halves the class-count
# memory traffic). Lanes can only overflow if a single token is >= 2^16
# bytes; _analyze falls back to the four-pass path for such batches.
_PACKED_CLS = (
    _IS_ALPHA.astype(np.int64)
    | (_IS_HEX.astype(np.int64) << 16)
    | (_IS_DOT.astype(np.int64) << 32)
    | (_IS_MINUS.astype(np.int64) << 48)
)

_POW10 = np.power(np.int64(10), np.arange(19, dtype=np.int64))

# Rows containing these bytes take the scalar path (constant-text escaping).
_IS_SCALAR_BYTE = np.zeros(256, dtype=bool)
_IS_SCALAR_BYTE[[0x00, 0x11, 0x12, 0x13, ord("\\")]] = True

_INT64_MAX = (1 << 63) - 1
_INT64_MIN = -(1 << 63)


def _ranges(counts: np.ndarray) -> np.ndarray:
    """[3,2] -> [0,1,2,0,1] (per-group arange), standard cumsum trick."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def _prefix(cls: np.ndarray, buf: np.ndarray) -> np.ndarray:
    """Exclusive prefix sums of class membership: out[i] = #matches in buf[:i].
    int32: a batch buffer is far below 2^31 bytes, and halving the cumsum +
    gather traffic matters in this bandwidth-bound encoder."""
    out = np.zeros(len(buf) + 1, dtype=np.int32)
    np.cumsum(cls[buf], out=out[1:])
    return out


def _scalar_row_outputs(text: str):
    """Scalar-path encode of one row -> (logtype, var_types, dict_vars,
    logtype_id, dict_var_ids, encoded_vars)."""
    lt, vt, dv, en = encode_text(text)
    di = hash64_strings(dv)
    ids = iter(di)
    ev = [next(ids) if t == VT_DICT else e for t, e in zip(vt, en)]
    return lt, list(vt), list(dv), hash64_str(lt), di, ev


class _Analysis:
    """Span-level results of the vectorized tokenize+classify+encode pass,
    shared by the full-output path (logtype strings + dict var strings) and
    the ids-only Arrow path (hashes, no Python strings)."""

    __slots__ = (
        "tok_s", "tok_e", "v_idx", "d_idx", "v_types",
        "int_vals", "float_vals", "int_form", "float_form",
        "out", "keep",
    )


def _analyze(buf: np.ndarray) -> _Analysis:
    """Vector path over rows guaranteed free of NUL/placeholder/escape bytes.

    `buf` is the rows' UTF-8 bytes, NUL-separated. An empty buffer or one
    without tokens yields zero-length token arrays (logtype == raw text)."""
    a = _Analysis()
    # --- token spans ------------------------------------------------------
    nb = len(buf)
    mask = _IS_TOKEN[buf]
    # token spans as mask TRANSITIONS: one xor pass + one flatnonzero
    # instead of two shifted-mask temporaries and two flatnonzeros
    # (bandwidth-bound — this touches the full buffer one time, not four).
    # Transitions alternate start/end; a True first byte opens a span at 0,
    # a True last byte closes one at nb.
    ch = np.flatnonzero(mask[1:] != mask[:-1]) + 1
    first = nb > 0 and bool(mask[0])
    last = nb > 0 and bool(mask[-1])
    bnd = np.empty(len(ch) + first + last, dtype=np.int64)
    if first:
        bnd[0] = 0
    bnd[int(first) : int(first) + len(ch)] = ch
    if last:
        bnd[-1] = nb
    tok_s = bnd[0::2]
    tok_e = bnd[1::2]

    # --- per-token predicates ---------------------------------------------
    # digit counts come from a prefix sum (cdig is ALSO needed per-position
    # for float exponent assembly below); the other four class counts use
    # segment reduceat over the token spans — an int32 scratch pass instead
    # of an int64 cumsum per class (~2x less memory traffic each, and this
    # encoder is bandwidth-bound before it is compute-bound).
    cdig = _prefix(_IS_DIGIT, buf)
    tlen = tok_e - tok_s
    ndig = cdig[tok_e] - cdig[tok_s]

    bounds = bnd  # already the interleaved (start, end) sequence
    tlen_max = int(tlen.max()) if len(tlen) else 0
    if tlen_max < (1 << 16):
        # one gather + one reduceat for all four class counts (packed
        # 16-bit lanes; safe — no token long enough to overflow a lane)
        scratch64 = np.zeros(nb + 1, dtype=np.int64)
        scratch64[:nb] = _PACKED_CLS[buf]
        packed = np.add.reduceat(scratch64, bounds)[0::2]
        lane = np.int64(0xFFFF)
        nalp = packed & lane
        nhex = (packed >> np.int64(16)) & lane
        ndot = (packed >> np.int64(32)) & lane
        nmin = (packed >> np.int64(48)) & lane
    else:
        scratch = np.zeros(nb + 1, dtype=np.int32)

        def seg_count(cls: np.ndarray) -> np.ndarray:
            scratch[:nb] = cls[buf]
            return np.add.reduceat(scratch, bounds)[0::2]

        nalp = seg_count(_IS_ALPHA)
        nhex = seg_count(_IS_HEX)
        ndot = seg_count(_IS_DOT)
        nmin = seg_count(_IS_MINUS)

    prev_eq = np.zeros(len(tok_s), dtype=bool)
    nz = tok_s > 0
    prev_eq[nz] = buf[tok_s[nz] - 1] == ord("=")

    is_var = (ndig > 0) | (prev_eq & (nalp > 0)) | ((tlen >= 2) & (nhex == tlen))

    first = buf[tok_s]
    neg = first == ord("-")
    negl = neg.astype(np.int64)

    # canonical int64 (reference EncodedVariableInterpreter.cpp:24-61):
    # optional leading '-', all digits, no leading zero (unless "0"), no "-0…"
    int_form = is_var & ((ndig == tlen) | (neg & (ndig == tlen - 1) & (tlen >= 2)))
    fd_pos = np.minimum(tok_s + negl, nb - 1)
    lead_zero = buf[fd_pos] == ord("0")
    int_form &= ~(lead_zero & ((tlen - negl) > 1))
    int_form &= ~(neg & lead_zero)
    # 19 digits is the only ambiguous width (int64 max = 9223372036854775807
    # = 19 digits): below always fits, above never does — and >4300 digits
    # would even trip CPython's int() conversion limit, so the exact check
    # must never see those tokens.
    big_int = int_form & (ndig == 19)  # may overflow int64 -> slow check
    int_form &= ndig <= 19
    int_vec = int_form & ~big_int

    # float form (reference :63-142): optional '-', exactly one '.', 1..16
    # digits, nothing else, '.' not last.
    min_ok = nmin == negl
    float_form = (
        is_var
        & ~int_form
        & (ndot == 1)
        & (ndig >= 1)
        & (ndig <= 16)
        & (tlen == ndig + 1 + negl)
        & min_ok
        & (buf[tok_e - 1] != ord("."))
    )

    # --- int values via positional digit assembly -------------------------
    int_vals = np.zeros(len(tok_s), dtype=np.int64)
    ii = np.flatnonzero(int_vec)
    if len(ii):
        ds = tok_s[ii] + negl[ii]
        de = tok_e[ii]
        cnt = de - ds
        idx = np.repeat(ds, cnt) + _ranges(cnt)
        expo = np.repeat(de, cnt) - 1 - idx
        contrib = (buf[idx].astype(np.int64) - 48) * _POW10[expo]
        offs = np.zeros(len(ii), dtype=np.int64)
        np.cumsum(cnt[:-1], out=offs[1:])
        sums = np.add.reduceat(contrib, offs)
        int_vals[ii] = np.where(neg[ii], -sums, sums)

    # 19+ digit candidates: exact python check (rare)
    for j in np.flatnonzero(big_int):
        v = int(buf[tok_s[j] : tok_e[j]].tobytes())
        if _INT64_MIN <= v <= _INT64_MAX:
            int_vals[j] = v
            int_vec[j] = True
        # else: not an int; also not a float (no '.') -> dictionary var

    int_form = int_vec | (big_int & int_vec)

    # --- float encodings (1 sign | 1 unused | 54 digits | 4 #digits-1 |
    # 4 decimal-pos-1) ------------------------------------------------------
    float_vals = np.zeros(len(tok_s), dtype=np.int64)
    fi = np.flatnonzero(float_form)
    if len(fi):
        ds = tok_s[fi] + negl[fi]
        de = tok_e[fi]
        cnt = de - ds
        idx = np.repeat(ds, cnt) + _ranges(cnt)
        # exponent of each digit = #digits strictly after it in the token
        expo = np.repeat(cdig[de], cnt) - cdig[idx + 1]
        isd = _IS_DIGIT[buf[idx]]
        contrib = np.where(isd, (buf[idx].astype(np.int64) - 48) * _POW10[expo], 0)
        offs = np.zeros(len(fi), dtype=np.int64)
        np.cumsum(cnt[:-1], out=offs[1:])
        digits = np.add.reduceat(contrib, offs)
        # dot position: sum(idx * is_dot) per token == the single dot's index
        dotpos_contrib = np.where(_IS_DOT[buf[idx]], idx, 0)
        dot_idx = np.add.reduceat(dotpos_contrib, offs)
        dpos = (de - 1) - dot_idx  # distance of '.' from right end
        u = (
            (neg[fi].astype(np.uint64) << np.uint64(63))
            | (digits.astype(np.uint64) << np.uint64(8))
            | ((ndig[fi] - 1).astype(np.uint64) << np.uint64(4))
            | (dpos - 1).astype(np.uint64)
        )
        float_vals[fi] = u.view(np.int64)

    dict_form = is_var & ~int_form & ~float_form

    # --- outputs per variable token ---------------------------------------
    v_idx = np.flatnonzero(is_var)
    v_types = np.full(len(v_idx), VT_DICT, dtype=np.int64)
    v_types[int_form[v_idx]] = VT_INT
    v_types[float_form[v_idx]] = VT_FLOAT
    d_idx = np.flatnonzero(dict_form)

    # --- logtype assembly: collapse each var span to its placeholder ------
    out = buf.copy()
    ph = np.full(len(v_idx), ord(PLACEHOLDER_DICT), dtype=np.uint8)
    ph[v_types == VT_INT] = ord(PLACEHOLDER_INT)
    ph[v_types == VT_FLOAT] = ord(PLACEHOLDER_FLOAT)
    out[tok_s[v_idx]] = ph
    keep = np.ones(nb, dtype=bool)
    span_len = tlen[v_idx] - 1
    multi = span_len > 0
    if multi.any():
        ms = tok_s[v_idx][multi] + 1
        mc = span_len[multi]
        kill = np.repeat(ms, mc) + _ranges(mc)
        keep[kill] = False

    a.tok_s, a.tok_e = tok_s, tok_e
    a.v_idx, a.d_idx, a.v_types = v_idx, d_idx, v_types
    a.int_vals, a.float_vals = int_vals, float_vals
    a.int_form, a.float_form = int_form, float_form
    a.out, a.keep = out, keep
    return a


def _encoded_var_values(a: _Analysis, dict_ids: np.ndarray) -> np.ndarray:
    """Final per-variable int64 encodings, in token order: canonical int /
    custom float encodings where typed, dictionary content hash otherwise
    (the reference message layout, File.hpp:257-259)."""
    v_final = np.where(
        a.int_form[a.v_idx],
        a.int_vals[a.v_idx],
        a.float_vals[a.v_idx],
    )
    if len(a.d_idx):
        v_final[np.searchsorted(a.v_idx, a.d_idx)] = dict_ids
    return v_final


def _pa_strings_from_spans(buf: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """Arrow StringArray from byte spans of one buffer: ONE gather into a
    contiguous values buffer + int32 offsets — no Python str objects."""
    lens = ends - starts
    pos = _ranges(lens)
    values = buf[np.repeat(starts, lens) + pos] if len(pos) else np.zeros(0, np.uint8)
    offs = np.zeros(len(starts) + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    return pa.StringArray.from_buffers(
        len(starts), pa.py_buffer(offs.tobytes()), pa.py_buffer(values.tobytes())
    )


def _pa_list(offsets_counts: np.ndarray, values) -> pa.ListArray:
    offs = np.zeros(len(offsets_counts) + 1, dtype=np.int32)
    np.cumsum(offsets_counts, out=offs[1:])
    return pa.ListArray.from_arrays(pa.array(offs), values)


def _prelude(texts):
    """Shared prelude of both encoders: nulls -> "", one large_string chunk,
    and ONE scan for NUL/placeholder/escape bytes over the Arrow values
    buffer. Returns (texts, values buffer, row starts, row lengths, sorted
    indices of the rows that need the scalar encoder)."""
    if texts.null_count:
        texts = pc.fill_null(texts, "")
    # large_string for int64 offsets (cheap C cast)
    if not pa.types.is_large_string(texts.type):
        texts = texts.cast(pa.large_string())
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    n = len(texts)
    _, offs_buf, raw = texts.buffers()
    obuf = np.frombuffer(raw, dtype=np.uint8) if raw is not None else np.zeros(0, np.uint8)
    offs = (
        np.frombuffer(offs_buf, dtype=np.int64)[texts.offset : texts.offset + n + 1]
        if n
        else np.zeros(1, dtype=np.int64)
    )
    lo = int(offs[0])
    bad = np.flatnonzero(_IS_SCALAR_BYTE[obuf[lo : int(offs[-1])]]) + lo
    bad_rows = np.unique(np.searchsorted(offs, bad, side="right") - 1)
    return texts, obuf, offs[:-1], np.diff(offs), bad_rows


def _join(obuf: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """NUL-joined working buffer of the given rows via one gather/scatter
    (no per-row Python) -> (buf, row_start)."""
    n = len(lens)
    row_start = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=row_start[1:])
    buf = np.zeros(int(lens.sum()) + max(n - 1, 0), dtype=np.uint8)
    pos_in_row = _ranges(lens)
    buf[np.repeat(row_start, lens) + pos_in_row] = obuf[np.repeat(starts, lens) + pos_in_row]
    return buf, row_start


def _logtype_spans(a: _Analysis, row_start: np.ndarray, lens: np.ndarray):
    """Placeholder-collapsed logtype bytes of all rows, contiguous (killed
    var-span bytes AND the NUL separators dropped), plus each row's
    [start, end) in them -> (cbuf, starts, ends)."""
    a.keep[row_start[1:] - 1] = False
    kc = np.zeros(len(a.keep) + 1, dtype=np.int64)
    np.cumsum(a.keep, out=kc[1:])
    return a.out[a.keep], kc[row_start], kc[row_start + lens]


def _encode_clean(obuf: np.ndarray, starts: np.ndarray, lens: np.ndarray, full: bool) -> dict:
    """Vector path over rows free of NUL/placeholder/escape bytes. Logtype
    ids hash the placeholder-collapsed spans, dict-var ids hash the raw
    token spans (functions/hash64.py); with `full`, the logtype and
    dict-var strings are each one gather into a contiguous Arrow values
    buffer."""
    n = len(lens)
    buf, row_start = _join(obuf, starts, lens)
    a = _analyze(buf)
    cbuf, lt_s, lt_e = _logtype_spans(a, row_start, lens)
    d_s, d_e = a.tok_s[a.d_idx], a.tok_e[a.d_idx]
    dict_ids = hash64_spans(buf, d_s, d_e)
    row_of_var = np.searchsorted(row_start, a.tok_s[a.v_idx], side="right") - 1
    var_counts = np.bincount(row_of_var, minlength=n)
    out = {
        "logtype_id": pa.array(hash64_spans(cbuf, lt_s, lt_e), type=pa.int64()),
        "encoded_vars": _pa_list(
            var_counts, pa.array(_encoded_var_values(a, dict_ids), type=pa.int64())
        ),
    }
    if full:
        row_of_dict = np.searchsorted(row_start, d_s, side="right") - 1
        dict_counts = np.bincount(row_of_dict, minlength=n)
        out["logtype"] = _pa_strings_from_spans(cbuf, lt_s, lt_e)
        out["var_types"] = _pa_list(var_counts, pa.array(a.v_types.astype(np.int32)))
        out["dict_vars"] = _pa_list(dict_counts, _pa_strings_from_spans(buf, d_s, d_e))
        out["dict_var_ids"] = _pa_list(dict_counts, pa.array(dict_ids, type=pa.int64()))
    return out


def _encode_escaped(texts: list, full: bool) -> dict:
    """Scalar path for the rows needing constant-text escaping."""
    lt, vt, dv, lid, di, ev = zip(*map(_scalar_row_outputs, texts))
    out = {
        "logtype_id": pa.array(lid, type=pa.int64()),
        "encoded_vars": pa.array(ev, type=pa.list_(pa.int64())),
    }
    if full:
        out["logtype"] = pa.array(lt, type=pa.string())
        out["var_types"] = pa.array(vt, type=pa.list_(pa.int32()))
        out["dict_vars"] = pa.array(dv, type=pa.list_(pa.string()))
        out["dict_var_ids"] = pa.array(di, type=pa.list_(pa.int64()))
    return out


def _encode(texts, full: bool) -> dict:
    """Clean rows through the vector path, escape rows through the scalar
    encoder, spliced back into input order with one take per column."""
    texts, obuf, starts, lens, bad = _prelude(texts)
    if not len(bad):
        return _encode_clean(obuf, starts, lens, full)
    n = len(texts)
    good = np.setdiff1d(np.arange(n), bad, assume_unique=True)
    fast = _encode_clean(obuf, starts[good], lens[good], full)
    slow = _encode_escaped(texts.take(pa.array(bad)).to_pylist(), full)
    inverse = np.empty(n, dtype=np.int64)
    inverse[np.concatenate([good, bad])] = np.arange(n)
    inverse = pa.array(inverse)
    return {k: pa.concat_arrays([fast[k], slow[k]]).take(inverse) for k in fast}


def encode_ids_arrow(texts):
    """Ids-only Arrow-native encode: pa.Array of strings ->
    (logtype_id: pa.Array int64, encoded_vars: pa.ListArray int64).

    The 100-TB hot path (reference parity: the message store holds ONLY
    ids + encoded values, File.hpp:257-259 — template/variable STRINGS live
    in the dictionaries): the UTF-8 bytes come straight from the Arrow
    string buffers, no Python str objects are created for clean rows, and
    outputs go back as Arrow arrays built from numpy.
    """
    out = _encode(texts, full=False)
    return out["logtype_id"], out["encoded_vars"]


def encode_full_arrow(texts):
    """Arrow-native FULL encode: pa string array -> dict of pa arrays
    (logtype, var_types, dict_vars, logtype_id, dict_var_ids, encoded_vars).

    Same analysis as encode_ids_arrow; additionally the logtype strings are
    rebuilt as one gather into a contiguous Arrow values buffer, dict-var
    strings likewise.
    """
    return _encode(texts, full=True)
