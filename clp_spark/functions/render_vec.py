"""Vectorized message decode: (logtype, encoded_vars) -> original text.

The tokenizer_vec playbook applied in reverse (VERDICT r2 item 1): the
encoder ships flat byte buffers through Arrow with zero per-row Python; the
decoder here renders whole batches the same way. Per-BATCH work groups rows
by template, splits each template once, converts each variable SLOT as one
numpy/Arrow column op (int format, custom-float decode, dictionary gather),
and assembles the final strings with ONE Arrow varargs concat kernel
(`binary_join_element_wise`) per template group — no per-row Python loop
anywhere on the hot decode path (every search confirm, every round-trip).
`render_arrow` is the one batch render every decode calls: dictionary
slots resolve through a DictLookup, the broadcast one or, above the
collect limit, one built from the batch's own joined strings.

Semantics re-derived from the reference decompressor (NOT ported code):
clp/EncodedVariableInterpreter.hpp:480-556 decode_variables_into_message and
EncodedVariableInterpreter.cpp:144-197 float decode; exact equivalence with
the scalar oracle (functions/tokenizer.render_batch / encoding.decode_float)
is asserted in tests/test_encoding.py and tests/test_plans.py.
"""

from __future__ import annotations

import numpy as np

from .encoding import FLOAT_DIGITS_MASK
from .tokenizer import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    _template_parts,
)


def decode_float_vec(enc: np.ndarray) -> np.ndarray:
    """Vectorized exact inverse of encoding.encode_float.

    Strategy: the bit fields (sign, digits, #digits, decimal position) are
    plain uint64 ops; the string assembly groups rows by the (num_digits,
    decimal_pos) pair — at most 256 combinations, a handful in practice —
    and renders each group with fixed-width numpy char grids (zfill + one
    column insert), so the work per row is O(1) vectorized ops.
    Returns an object ndarray of strings (byte-identical to decode_float).
    """
    enc = np.asarray(enc, dtype=np.int64)
    u = enc.view(np.uint64)
    dpos = (u & np.uint64(0xF)).astype(np.int64) + 1
    u2 = u >> np.uint64(4)
    ndig = (u2 & np.uint64(0xF)).astype(np.int64) + 1
    u3 = u2 >> np.uint64(4)
    digits = u3 & np.uint64(FLOAT_DIGITS_MASK)
    neg = (u3 >> np.uint64(55)) > 0

    out = np.empty(len(enc), dtype=object)
    key = ndig * 17 + dpos  # dpos <= ndig <= 16, so this is injective
    for k in np.unique(key):
        m = key == k
        w = int(k) // 17
        d = w - (int(k) % 17)  # dot index from the left of the digit string
        ds = np.char.zfill(digits[m].astype("U17"), w).astype(f"U{w}")
        grid = ds.view("U1").reshape(-1, w)
        og = np.empty((grid.shape[0], w + 1), dtype="U1")
        og[:, :d] = grid[:, :d]
        og[:, d] = "."
        og[:, d + 1 :] = grid[:, d:]
        res = og.view(f"U{w + 1}").ravel()
        res = np.where(neg[m], np.char.add("-", res), res)
        out[m] = res
    return out


class DictLookup:
    """Sorted-array binary-search lookup id -> string (missing -> "").

    Built ONCE per broadcast (driver side) and shipped to executors, so the
    per-batch dictionary gather is one np.searchsorted + one Arrow take —
    no Python dict probing and no per-value string boxing."""

    __slots__ = ("ids", "vals", "_pa_vals")

    def __init__(self, rows):
        pairs = [(int(i), s) for i, s in rows]
        pairs.sort()
        self.ids = np.fromiter((p[0] for p in pairs), dtype=np.int64, count=len(pairs))
        self.vals = [p[1] for p in pairs]
        self._pa_vals = None  # built lazily executor-side (not picklable cheaply)

    @classmethod
    def from_arrays(cls, ids: np.ndarray, vals):
        """Lookup over parallel int64 ids and a pa.StringArray, sorted by
        one argsort; an id may repeat (one variable in many slots)."""
        import pyarrow as pa

        order = np.argsort(ids, kind="stable")
        self = cls.__new__(cls)
        self.ids, self.vals = ids[order], None
        self._pa_vals = vals.take(pa.array(order))
        return self

    def take_arrow(self, q: np.ndarray):
        """q (int64 ids) -> pa.StringArray of strings, missing -> ""."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if not len(self.ids):
            return pa.array(np.full(len(q), "", dtype=object), type=pa.string())
        if self._pa_vals is None:
            self._pa_vals = pa.array(self.vals, type=pa.string())
        pos = np.searchsorted(self.ids, q)
        pos_c = np.minimum(pos, len(self.ids) - 1)
        taken = pc.take(self._pa_vals, pa.array(pos_c))
        hit = self.ids[pos_c] == q
        if not hit.all():
            taken = pc.if_else(pa.array(hit), taken, pa.scalar(""))
        return taken


class TemplateTable:
    """logtype_id -> pre-split (segments, kinds), built once per broadcast
    (the logtype dictionary is tiny relative to row count)."""

    __slots__ = ("parts",)

    def __init__(self, rows):
        self.parts = {int(i): _template_parts(s or "") for i, s in rows}

    def get(self, lid: int):
        return self.parts.get(lid, (("",), ()))


def render_groups(
    lids: np.ndarray,
    ev_offsets: np.ndarray,
    ev_values: np.ndarray,
    templates: TemplateTable,
    vd: DictLookup,
):
    """Render one batch -> pyarrow StringArray of decoded texts.

    lids: int64 row template ids; (ev_offsets, ev_values): the rows'
    encoded_vars as flat list-offsets + values; dict slots resolve through
    the `vd` lookup.

    Everything stays Arrow/numpy: int slots use Arrow's C++ int64->string
    cast, float slots the grouped numpy decoder, dict slots an Arrow take;
    group results concat once and ONE take restores original row order (no
    per-row Python string objects are created anywhere).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(lids)
    if n == 0:
        return pa.array([], type=pa.string())
    order = np.argsort(lids, kind="stable")
    sorted_lids = lids[order]
    bounds = np.flatnonzero(np.r_[True, sorted_lids[1:] != sorted_lids[:-1], True])
    parts = []
    for g in range(len(bounds) - 1):
        idx = order[bounds[g] : bounds[g + 1]]
        segs, kinds = templates.get(int(sorted_lids[bounds[g]]))
        k = len(kinds)
        if k == 0:  # constant template: broadcast via one C take
            parts.append(
                pc.take(
                    pa.array([segs[0]], type=pa.string()),
                    pa.array(np.zeros(len(idx), dtype=np.int32)),
                )
            )
            continue
        starts = ev_offsets[idx]
        args = []
        for j, kind in enumerate(kinds):
            args.append(pa.scalar(segs[j]))
            col = ev_values[starts + j]
            if kind == PLACEHOLDER_INT:
                s = pc.cast(pa.array(col), pa.string())
            elif kind == PLACEHOLDER_FLOAT:
                s = pa.array(decode_float_vec(col), type=pa.string())
            else:
                s = vd.take_arrow(col)
            args.append(s)
        args.append(pa.scalar(segs[k]))
        parts.append(pc.binary_join_element_wise(*args, ""))
    combined = pa.concat_arrays(parts) if len(parts) > 1 else parts[0]
    inv = np.empty(n, dtype=np.int64)
    inv[order] = np.arange(n, dtype=np.int64)
    return pc.take(combined, pa.array(inv))


def render_arrow(lid_col, ev_col, templates: TemplateTable, vd: DictLookup, strs_col=None):
    """One Arrow batch's logtype_id and encoded_vars columns -> pa.StringArray
    of texts. `strs_col`, when given, holds each row's strings per slot,
    aligned with encoded_vars and null where the slot's value is no
    dictionary id; dict slots then resolve through a lookup of the batch's
    own (value, string) pairs instead of `vd`."""
    lids = np.asarray(lid_col.to_numpy(zero_copy_only=False), dtype=np.int64)
    offs, vals = list_column_parts(ev_col)
    if strs_col is not None:
        strs = strs_col.flatten()
        hit = strs.is_valid()
        vd = DictLookup.from_arrays(vals[hit.to_numpy(zero_copy_only=False)], strs.filter(hit))
    return render_groups(lids, offs[:-1], vals, templates, vd=vd)


def list_column_parts(arr):
    """(offsets, values) numpy views of an Arrow ListArray column,
    offset-corrected. values dtype: int64 for list<int64>, object for
    list<string> (strings must become Python objects once — they are the
    output payload either way)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    values = arr.flatten()
    if pa.types.is_integer(values.type):
        vals = values.to_numpy(zero_copy_only=False)
    else:
        vals = np.asarray(values.to_pandas(), dtype=object)
    # arr.flatten() already drops the parent offset, so rebase offsets to 0
    return offs - offs[0], vals
