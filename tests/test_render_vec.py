"""Vectorized decode renderer: exact equivalence with the scalar oracles
(encoding.decode_float / tokenizer.render_batch). The decode has no per-row
Python on its hot path — these tests pin the semantics of the batch render
(render_groups, render_arrow) that grep.decode runs on both sides of the
dictionary collect limit."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from clp_spark.functions.encoding import decode_float, encode_float
from clp_spark.functions.render_vec import (
    DictLookup,
    TemplateTable,
    decode_float_vec,
    render_arrow,
    render_groups,
)
from clp_spark.functions.tokenizer import encode_series_scalar, render_batch


def test_decode_float_vec_matches_scalar():
    rng = random.Random(7)
    vals = []
    for _ in range(5000):
        nd = rng.randint(1, 16)
        dp = rng.randint(1, nd)
        digs = "".join(rng.choice("0123456789") for _ in range(nd))
        s = digs[: nd - dp] + "." + digs[nd - dp :]
        if rng.random() < 0.5:
            s = "-" + s
        e = encode_float(s)
        if e is not None:
            vals.append(e)
    got = decode_float_vec(np.array(vals, dtype=np.int64))
    assert list(got) == [decode_float(e) for e in vals]


@pytest.fixture(scope="module")
def encoded_corpus():
    texts = [
        "used 5 of 3.25 GB in 0.024 seconds",
        "statictext and more static text",
        "Task task-12 started by user9 from 10.0.0.3",
        "value=0xBEEF mode=fast",
        "no vars here!",
        "x -17 and -0.50 end",
        "",
        "single 1",
        "big 12345678901234567890 int overflows to dict",
    ] * 20
    pdf = encode_series_scalar(pd.Series(texts))
    return texts, pdf


def _flat(pdf):
    lids = pdf["logtype_id"].to_numpy(dtype=np.int64)
    ev_lists = pdf["encoded_vars"].tolist()
    offs = np.zeros(len(ev_lists) + 1, dtype=np.int64)
    np.cumsum([len(x) for x in ev_lists], out=offs[1:])
    vals = np.array([v for x in ev_lists for v in x], dtype=np.int64)
    return lids, offs, vals


def test_render_groups_dictmap_matches_oracle(encoded_corpus):
    texts, pdf = encoded_corpus
    lt_rows = list(dict(zip(pdf["logtype_id"], pdf["logtype"])).items())
    vd_pairs: dict = {}
    for ids, strs in zip(pdf["dict_var_ids"], pdf["dict_vars"]):
        vd_pairs.update(dict(zip(ids, strs)))
    lids, offs, vals = _flat(pdf)
    got = render_groups(
        lids, offs[:-1], vals, TemplateTable(lt_rows), vd=DictLookup(list(vd_pairs.items()))
    ).to_pylist()
    assert got == render_batch(pdf["logtype"], pdf["dict_vars"], pdf["encoded_vars"])
    assert got == texts


def test_render_arrow_with_row_slot_strings_matches_oracle(encoded_corpus):
    """Above the collect limit each row brings its strings per slot, as the
    left join of its values with the var dictionary leaves them (null where
    a value is no dictionary id); render_arrow renders through a lookup of
    the batch's own pairs. An int slot whose value is also some variable's
    id still renders the int, and sliced input (non-zero Arrow offsets)
    renders identically."""
    import pyarrow as pa

    from clp_spark.functions.encoding import encode_int

    texts, pdf = encoded_corpus
    tt = TemplateTable(list(dict(zip(pdf["logtype_id"], pdf["logtype"])).items()))
    var_dict = {i: s for ids, strs in zip(pdf["dict_var_ids"], pdf["dict_vars"])
                for i, s in zip(ids, strs)}
    var_dict[encode_int("5")] = "not five"  # "used 5 of ..." has an int slot 5
    lids = pa.array(pdf["logtype_id"].tolist(), type=pa.int64())
    ev = pa.array(pdf["encoded_vars"].tolist(), type=pa.list_(pa.int64()))
    strs = pa.array(
        [[var_dict.get(v) for v in row] for row in pdf["encoded_vars"]],
        type=pa.list_(pa.string()),
    )
    assert "not five" in strs.flatten().to_pylist()
    empty = DictLookup([])
    assert render_arrow(lids, ev, tt, empty, strs).to_pylist() == texts
    got_tail = render_arrow(lids.slice(7), ev.slice(7), tt, empty, strs.slice(7)).to_pylist()
    assert got_tail == texts[7:]


def test_render_groups_unknown_logtype_and_missing_var(encoded_corpus):
    """Unknown template id renders ""; missing var id renders "" in place —
    same contract as the previous dict.get defaults."""
    tt = TemplateTable([(1, "a \x12 b")])
    vd = DictLookup([(5, "X")])
    lids = np.array([1, 2, 1], dtype=np.int64)
    starts = np.array([0, 1, 1], dtype=np.int64)  # row2 reuses offset 1
    vals = np.array([99, 5], dtype=np.int64)  # 99 not in vd
    got = render_groups(lids, starts, vals, tt, vd=vd).to_pylist()
    # row0: dict miss -> "a  b"; row1: unknown template -> ""; row2: "a X b"
    assert got == ["a  b", "", "a X b"]
