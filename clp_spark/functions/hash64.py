"""Deterministic 64-bit content hash computed INSIDE the parse UDF.

Why not JVM-side xxhash64: hashing the logtype template JVM-side requires
materializing the full template string per row through Arrow (~100-200
bytes/row) just to reduce it to an 8-byte id. At 10^12 turns that Arrow
transfer is the parse stage's dominant memory traffic, and this VM (like a
real executor) is bandwidth-bound before it is compute-bound. Hashing in
numpy over the already-flat byte buffer lets the hot path ship ONLY
(logtype_id, encoded_vars) — the same layout CLP's message store uses
(reference clp/streaming_archive/writer/File.hpp:257-259: ids, never
template text, per message).

The hash is a base-P polynomial over the UTF-8 bytes plus a length salt,
finished with the splitmix64 avalanche:

    raw = sum_j byte_j * P^(L-1-j) + L*C   (mod 2^64)
    h   = splitmix64_fin(raw)

P is the 64-bit FNV prime (odd, so P is invertible mod 2^64 — that
invertibility is what makes the VECTORIZED form possible: with
S = sum_j byte_j * Pinv^j computable by one cumsum over the whole Arrow
batch buffer, each string's raw hash is S-range * P^(end-1), all
segment-summable with no per-row loop). The splitmix64 finalizer gives the
id uniform low bits (ingest buckets by pmod(logtype_id, n_buckets)).

Like any 64-bit content hash (including the xxhash64 it replaces) this is
collision-safe to ~1e9 distinct entries (birthday p < 3%); dictionaries
keep (id, string) so decode never depends on luck. All id producers and
query-side lookups share THIS module — there is no JVM equivalent, by
design: ids are born in the UDF and only ever compared afterwards.
"""

from __future__ import annotations

import numpy as np

_P = np.uint64(0x00000100000001B3)  # FNV-64 prime (odd -> invertible mod 2^64)
_PINV = np.uint64(pow(0x00000100000001B3, -1, 1 << 64))
_C = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio length salt
_M = (1 << 64) - 1

_F1 = np.uint64(0xBF58476D1CE4E5B9)
_F2 = np.uint64(0x94D049BB133111EB)

# Powers of P / Pinv, block-decomposed: x^j = big[j >> 16] * small[j & 0xFFFF].
# numpy's uint64 cumprod is a SEQUENTIAL multiply chain (~15x slower than a
# bandwidth-bound pass), so long power arrays are assembled from one 65536-
# entry table (computed once here) plus a per-call table of (x^65536)^k
# that has only len(buf)/65536 entries — all remaining work is gathers and
# elementwise multiplies, which vectorize.
_BLOCK = 1 << 16


def _pow_table(x: np.uint64) -> np.ndarray:
    t = np.empty(_BLOCK, dtype=np.uint64)
    t[0] = 1
    with np.errstate(over="ignore"):
        np.cumprod(np.full(_BLOCK - 1, x, dtype=np.uint64), out=t[1:])
    return t


_SMALL_P = _pow_table(_P)
_SMALL_PINV = _pow_table(_PINV)
with np.errstate(over="ignore"):
    _P_BLOCK = _SMALL_P[-1] * _P  # P^65536
    _PINV_BLOCK = _SMALL_PINV[-1] * _PINV


def _big_table(n_big: int, block_base: np.uint64) -> np.ndarray:
    big = np.empty(n_big, dtype=np.uint64)
    big[0] = 1
    if n_big > 1:
        with np.errstate(over="ignore"):
            np.cumprod(np.full(n_big - 1, block_base, dtype=np.uint64), out=big[1:])
    return big


def _powers_at(idx: np.ndarray, small: np.ndarray, block_base: np.uint64) -> np.ndarray:
    """x^idx for arbitrary index arrays via the block decomposition."""
    with np.errstate(over="ignore"):
        n_big = int(idx.max() >> 16) + 1 if len(idx) else 1
        big = _big_table(n_big, block_base)
        return big[idx >> 16] * small[idx & np.int64(0xFFFF)]


def _powers_seq(n: int, small: np.ndarray, block_base: np.uint64) -> np.ndarray:
    """x^j for j in [0, n): ONE broadcast multiply (block k scales the whole
    small table) — no gathers, no index arithmetic; 3-4x faster than
    _powers_at(arange(n)) on bandwidth-starved hosts."""
    n_big = (n >> 16) + 1
    big = _big_table(n_big, block_base)
    with np.errstate(over="ignore"):
        return (big[:, None] * small[None, :]).reshape(-1)[:n]


def _finalize_vec(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (bijective avalanche), vectorized on uint64."""
    z = (z ^ (z >> np.uint64(30))) * _F1
    z = (z ^ (z >> np.uint64(27))) * _F2
    return z ^ (z >> np.uint64(31))


def hash64_spans(buf: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Hash many byte spans of one flat uint8 buffer -> int64 array.

    O(len(buf)) total, all bandwidth-bound passes (gather / multiply /
    cumsum — no sequential multiply chains); empty spans hash like the
    empty string.
    """
    n = len(starts)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    nb = len(buf)
    s = np.asarray(starts, dtype=np.int64)
    e = np.asarray(ends, dtype=np.int64)
    with np.errstate(over="ignore"):
        # prefix sums of byte_j * Pinv^j  (exclusive; csum[i] = sum over buf[:i]);
        # in-place ops: each fresh multi-MB temp costs page faults per call
        pinv_pos = _powers_seq(nb, _SMALL_PINV, _PINV_BLOCK)
        np.multiply(buf, pinv_pos, out=pinv_pos, casting="unsafe")
        csum = np.empty(nb + 1, dtype=np.uint64)
        csum[0] = 0
        if nb:
            np.cumsum(pinv_pos, out=csum[1:])
        seg = csum[e] - csum[s]  # sum_j byte_j * Pinv^j over the span
        # rebase: sum byte_j P^(e-1-j) = P^(e-1) * sum byte_j Pinv^j
        raw = seg * _powers_at(np.maximum(e - 1, 0), _SMALL_P, _P_BLOCK)
        raw = np.where(e > s, raw, np.uint64(0))
        raw = raw + (e - s).astype(np.uint64) * _C
        return _finalize_vec(raw).view(np.int64)


def hash64_str(s: str) -> int:
    """Scalar reference of hash64_spans for one string (signed int64)."""
    b = s.encode("utf-8", "surrogatepass")
    h = 0
    p = int(_P)
    for c in b:
        h = (h * p + c) & _M
    h = (h + len(b) * int(_C)) & _M
    # splitmix64 finalizer
    h = ((h ^ (h >> 30)) * int(_F1)) & _M
    h = ((h ^ (h >> 27)) * int(_F2)) & _M
    h = h ^ (h >> 31)
    return h - (1 << 64) if h >= (1 << 63) else h


def hash64_strings(strs) -> list[int]:
    """Hash an iterable of Python strings (drives driver-side candidate
    generation and small scalar fallbacks)."""
    return [hash64_str(s) for s in strs]


def add_id_columns(pdf):
    """Derive (logtype_id, dict_var_ids, encoded_vars) columns for an
    encode-output DataFrame that has (logtype, dict_vars, encoded_nums,
    dict_slots) — used by secondary encode paths (grok schema files) so all
    producers share one id function. Per-row Python is acceptable here:
    these paths are not the bulk-ingest hot loop (which uses the span-level
    vectorized hashing in tokenizer_vec)."""
    import numpy as np

    n = len(pdf)
    lids = np.fromiter(
        (hash64_str(lt or "") for lt in pdf["logtype"]), count=n, dtype=np.int64
    )
    di_col, ev_col = [], []
    for dv, en, sl in zip(pdf["dict_vars"], pdf["encoded_nums"], pdf["dict_slots"]):
        di = hash64_strings(dv)
        ev_col.append([di[s] if s >= 0 else e for s, e in zip(sl, en)])
        di_col.append(di)
    out = pdf.copy()
    out["logtype_id"] = lids
    out["dict_var_ids"] = di_col
    out["encoded_vars"] = ev_col
    return out
