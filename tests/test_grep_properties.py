"""Property tests for the search planner: every prune plan_query applies
must be SOUND (never drops a true match) — the confirm filter restores
exactness. The properties call the functions search() runs: the candidate
prune, the WontMatch check and plan_query itself over a VarIndex."""

from __future__ import annotations

import re

from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from clp_spark.functions.tokenizer import PLACEHOLDER_DICT, _template_parts, encode_text
from clp_spark.functions.wildcard import wildcard_to_regex
from clp_spark.plans.grep import (
    LogtypeIndex,
    VarIndex,
    candidate_logtype_ids,
    normalize_query,
    plan_query,
    query_var_slots,
    query_wont_match,
)

# messages alternate delimiter and token pieces. Tokens exercise the
# int/float/dict/hex/static paths and backslash (a token char the logtype
# escapes); delimiters include the empty string (adjacent tokens merge), NUL,
# the 0x11-0x13 placeholder bytes and literal wildcard characters for
# escaped queries to find
TOKENS = st.sampled_from(
    ["alpha", "x9", "123", "4.5", "deadbeef", "0x1F", "007", "conv-01", "Alpha", "DEAD",
     "\\", "a\\b", "q\\7"]
)
DELIMS = st.sampled_from(["", " ", "=", ", ", "\x00", "\x11", "\x12", "\x13", "*", "?"])
QUERY_PIECES = st.sampled_from(
    ["alpha", "x9", "123", "4.5", "dead", "*", "?", " ", "beef", "ALPHA",
     "\\*", "\\?", "\\\\", "a\\\\b", "\x12"]
)
QUERIES = st.lists(QUERY_PIECES, min_size=1, max_size=5).map("".join)
LID = 7


def _escape(text: str) -> str:
    return "".join("\\" + c if c in "*?\\" else c for c in text)


@st.composite
def cases(draw):
    """(message, query). A quarter of the queries are free-standing pieces;
    the rest are cut from the message's own pieces, each kept literal
    (escaped), uppercased, or replaced by '*' or by one '?' per char, so
    most of them are true matches and reach every prune."""
    pairs = draw(st.lists(st.tuples(DELIMS, TOKENS), min_size=1, max_size=5))
    pieces = [p for pair in pairs for p in pair] + [draw(DELIMS)]
    message = "".join(pieces)
    if draw(st.integers(0, 3)) == 0:
        return message, draw(QUERIES)
    i = draw(st.integers(0, len(pieces) - 1))
    j = draw(st.integers(min(i + 3, len(pieces)), len(pieces)))
    parts = []
    for p in pieces[i:j]:
        how = draw(st.sampled_from(["lit"] * 6 + ["upper", "any", "one"]))
        parts.append(
            {"lit": _escape(p), "upper": _escape(p.upper()), "any": "*", "one": "?" * len(p)}[how]
        )
    return message, "".join(parts)


def _matches(message: str, query: str, ignore_case: bool = False) -> bool:
    rx = "(?s)" + wildcard_to_regex(normalize_query(query))
    return re.fullmatch(rx, message, re.IGNORECASE if ignore_case else 0) is not None


def _var_index(dict_vars) -> VarIndex:
    """A var dictionary of exactly these values (ids hashed from the value)."""
    return VarIndex([(hash(s) & 0x7FFFFFFF, s) for s in set(dict_vars)])


@settings(max_examples=500, deadline=None)
@given(cases(), st.booleans())
def test_candidate_pruning_is_sound(case, ignore_case):
    """If the query matches a message's text (case-insensitively under
    ignore_case), the message's logtype MUST survive the dictionary prune
    (clp/GrepCore candidate generation can over-approximate, never
    under-approximate)."""
    message, query = case
    if not _matches(message, query, ignore_case):
        return  # not a true match; nothing to assert
    logtype = encode_text(message)[0]
    assert candidate_logtype_ids([(LID, logtype)], query, ignore_case) == [LID], (
        message, query, logtype,
    )


# mostly static text: the tokenizer stores their 0x11-0x13 bytes (and
# backslashes) escaped in the template
CONSTANT_PIECES = st.sampled_from(
    ["alpha", "Beta", " ", "\x00", "\x11", "\x12", "\x13", "*", "?", "\\", "a\\b"]
)


@settings(max_examples=300, deadline=None)
@given(cases(), QUERIES, st.booleans())
def test_templates_with_a_variable_are_candidates_for_any_query(case, query, ignore_case):
    """A template with an unescaped placeholder is a candidate for every
    query: the normalized query is `*...*`, so its match can sit inside
    the variable."""
    logtype = encode_text(case[0])[0]
    assume(_template_parts(logtype)[1])
    assert candidate_logtype_ids([(LID, logtype)], query, ignore_case) == [LID]


@settings(max_examples=500, deadline=None)
@given(st.lists(CONSTANT_PIECES, min_size=1, max_size=6).map("".join), QUERIES, st.booleans())
@example("a\x12b", "alpha", False)
def test_constant_templates_go_through_the_dp(message, query, ignore_case):
    """A template without a variable, whose 0x11-0x13 bytes are escaped
    literal text, is a candidate exactly when the query matches its text:
    the escaped bytes do not count as placeholders."""
    logtype = encode_text(message)[0]
    assume(not _template_parts(logtype)[1])
    got = candidate_logtype_ids([(LID, logtype)], query, ignore_case)
    assert got == ([LID] if _matches(message, query, ignore_case) else []), (message, logtype)


@settings(max_examples=1000, deadline=None)
@given(cases())
def test_var_slots_are_subsequence_of_match(case):
    """plan_query keeps a true match, with one needle per variable slot of
    the query, and the needles are satisfiable by the message's encoded
    variables, in order (soundness of the encoded-var sequence filter)."""
    message, query = case
    if not _matches(message, query):
        return
    lt, vt, dv, en = encode_text(message)
    index = _var_index(dv)
    plan = plan_query(query, LogtypeIndex([(LID, lt)]), index)
    assert plan is not None, (message, query, lt, dv)
    cand, needles, _ = plan
    assert cand == [LID]
    assert len(needles) == len(query_var_slots(query))
    # message's merged var sequence under the same ids
    seq = []
    di = 0
    for n in en:
        if n is None:
            seq.extend(index.ids[dv[di]])
            di += 1
        else:
            seq.append(n)
    # greedy subsequence check must succeed
    idx = 0
    for v in seq:
        if idx < len(needles) and v in needles[idx]:
            idx += 1
    assert idx >= len(needles), (message, query, needles, seq)


@settings(max_examples=500, deadline=None)
@given(cases(), st.booleans())
@example(("open C:\\Users\\dev\\repo now", "C:\\\\Users\\\\dev"), False)
def test_wont_match_is_sound(case, ignore_case):
    """WontMatch may only fire when NO message matches — if the query
    matches this message (case-insensitively under ignore_case), neither
    the check over this message's own dictionaries nor plan_query may rule
    the query out."""
    message, query = case
    if not _matches(message, query, ignore_case):
        return
    lt, vt, dv, en = encode_text(message)
    assert not query_wont_match(query, [lt], list(dv), ignore_case), (message, query, lt, dv)
    plan = plan_query(query, LogtypeIndex([(LID, lt)]), _var_index(dv), ignore_case)
    assert plan is not None, (message, query, lt, dv)
    if ignore_case:
        assert plan[1] == []  # ids and encodings are case-exact: no needles


@settings(max_examples=300, deadline=None)
@given(cases())
def test_bare_template_rows_survive(case):
    """A JSON VarString stores the whole value as ONE dictionary variable
    under the bare placeholder template: a true match of such a row must
    survive the plan and its needles, whatever tokens the query holds."""
    message, query = case
    if not _matches(message, query):
        return
    plan = plan_query(query, LogtypeIndex([(LID, PLACEHOLDER_DICT)]), _var_index([message]))
    assert plan is not None, (message, query)
    cand, needles, exempt = plan
    assert cand == [LID] and (not needles or exempt == [LID]), (message, query, plan)
