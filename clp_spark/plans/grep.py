"""Wildcard search over encoded messages — CLP's clg/clo pipeline, Spark-first.

Reference lifecycle (SURVEY.md §3.2; clp/GrepCore.hpp:156-271, clp/Grep.cpp:81-140):
  query -> candidate logtype set (dictionary pruning on the driver)
        -> per-message filters (ts range -> logtype∈set)
        -> decode matching rows
        -> final wildcard confirm on the decoded text.

Spark re-expression in two parts. plan_query is the one planner, a pure
function over the collected dictionaries (the logtype dictionary is tiny
relative to the data: thousands of templates vs 10^12 turns): it returns
"no match" or (candidate logtype ids, encoded-variable needles, ids exempt
from the needles), applying the candidate prune, the WontMatch check and
the var-id lookup in one pass. The dictionaries are indexed once per load
(LogtypeIndex, VarIndex); a var dictionary above DICT_BROADCAST_LIMIT
answers the planner's var questions with one distributed scan of the
dictionary. search() is the thin Spark part: ts filter, `isin` on the
candidates, var_sequence_filter on the needles (always on, except under
ignore_case), decode, and a JVM `rlike` confirm. This keeps the expensive
work proportional to matching logtypes, like the reference's segment-index
pruning (clp/Query.cpp make_sub_queries_relevant_to_segment).

Candidate test = exact wildcard-pattern intersection (DP) between the query
and the logtype template with each variable placeholder treated as '*'
(a variable can expand to any token text). This is a sound superset of the
reference's per-subquery candidate generation — exactness is restored by the
confirm filter, which the reference also applies (clp/Grep.cpp:116-132).
"""

from __future__ import annotations

import re
from functools import cached_property, lru_cache
from itertools import groupby

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..caching import DRIVER_VALUES, plan_key
from ..functions.tokenizer import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    _template_parts,
)
from ..functions.wildcard import clean_up_wildcard_search_string, wildcard_to_regex
from . import pipeline as P

_PLACEHOLDERS = (PLACEHOLDER_INT, PLACEHOLDER_DICT, PLACEHOLDER_FLOAT)

# Max var-dict entries to collect and ship to executors in the decode's
# broadcast (the reference decompressor's working assumption — it loads
# var.dict fully into RAM). Above this, decode joins each row's slots with
# the var dictionary instead, and search scans the dictionary for its var
# lookups.
DICT_BROADCAST_LIMIT = 1_000_000


def _template_to_pattern(logtype: str) -> str:
    """Logtype template -> wildcard pattern ('*' per variable, escapes kept)."""
    out = []
    i = 0
    n = len(logtype)
    while i < n:
        c = logtype[i]
        if c == "\\" and i + 1 < n:
            nxt = logtype[i + 1]
            # escaped literal; re-escape wildcard-special chars
            out.append("\\" + nxt if nxt in "*?\\" else nxt)
            i += 2
        elif c in _PLACEHOLDERS:
            out.append("*")
            i += 1
        else:
            out.append("\\" + c if c in "*?\\" else c)
            i += 1
    return "".join(out)


def _tokens(pattern: str):
    """Parse a wildcard pattern into tokens: ('*',), ('?',), ('lit', ch)."""
    toks = []
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "*":
            if not toks or toks[-1] != ("*",):
                toks.append(("*",))
            i += 1
        elif c == "?":
            toks.append(("?",))
            i += 1
        elif c == "\\" and i + 1 < n:
            toks.append(("lit", pattern[i + 1]))
            i += 2
        else:
            toks.append(("lit", c))
            i += 1
    return tuple(toks)


@lru_cache(maxsize=16384)
def patterns_intersect(p1: str, p2: str) -> bool:
    """Whether two wildcard patterns can match a common string (DP, O(n*m)).

    Used driver-side only (query x small dictionary)."""
    a, b = _tokens(p1), _tokens(p2)
    la, lb = len(a), len(b)
    # dp[i][j] = suffix a[i:] and b[j:] can match a common string
    dp = [[False] * (lb + 1) for _ in range(la + 1)]
    dp[la][lb] = True
    for i in range(la, -1, -1):
        for j in range(lb, -1, -1):
            if i == la and j == lb:
                continue
            ok = False
            ta = a[i] if i < la else None
            tb = b[j] if j < lb else None
            if ta == ("*",):
                ok = ok or dp[i + 1][j]  # '*' -> empty
                if j < lb:
                    ok = ok or dp[i][j + 1]  # '*' consumes one char of any b-token
            if not ok and tb == ("*",):
                ok = ok or dp[i][j + 1]
                if i < la:
                    ok = ok or dp[i + 1][j]
            if not ok and ta is not None and tb is not None and ta != ("*",) and tb != ("*",):
                # both consume exactly one char; compatible if either is '?'
                # or equal literals
                if ta == ("?",) or tb == ("?",) or ta == tb:
                    ok = dp[i + 1][j + 1]
            dp[i][j] = ok
    return dp[0][0]


def normalize_query(query: str) -> str:
    """CLP text search is implicit substring: q -> *q*
    (reference docs/src/user-docs/reference-text-search-syntax.md:12-14)."""
    q = clean_up_wildcard_search_string(query)
    if not q.startswith("*"):
        q = "*" + q
    if not q.endswith("*") or q.endswith("\\*"):
        q = q + "*"
    return clean_up_wildcard_search_string(q)


def candidate_logtype_ids(logtype_rows, query: str, ignore_case: bool = False) -> list[int]:
    """Driver-side dictionary prune: rows = [(logtype_id, logtype), ...].
    Under ignore_case both patterns compare lowercased. A template with an
    (unescaped) placeholder is a candidate for every query without the DP:
    normalize_query's result is always `*...*`, so the query's match can
    sit inside that variable."""

    def fold(s: str) -> str:
        return s.lower() if ignore_case else s

    q = fold(normalize_query(query))
    return [
        lid
        for lid, lt in logtype_rows
        if _template_parts(lt)[1] or patterns_intersect(q, fold(_template_to_pattern(lt)))
    ]


def query_var_slots(query: str) -> list[tuple[str, int | None]]:
    """The query's unambiguous variable tokens, in order: (token, encoding).

    Re-expression of the reference's per-subquery QueryVar generation
    (clp/GrepCore.hpp:124-150 + EncodedVariableInterpreter.hpp:557-631):
    each wildcard-free token of the query that the tokenizer classifies as a
    variable contributes one slot; encoding is the int/float encoded value
    when the token is numeric, else None (-> dictionary lookup). Tokens
    adjacent to wildcards are ambiguous (could merge with surrounding
    text), so only tokens strictly between non-wildcard, non-token
    delimiters qualify — a SOUND prune: every true match retains all slots
    in order; exactness is restored by the confirm filter.
    """
    from ..functions.encoding import encode_float, encode_int
    from ..functions.tokenizer import tokenize

    q = normalize_query(query)
    slots: list[tuple[str, int | None]] = []
    # normalize_query guarantees leading/trailing '*', so every segment is
    # wildcard-delimited; a token is unambiguous iff it does not touch the
    # segment's ends (a boundary token could extend through the wildcard
    # into a longer token of the message).
    for seg in _wildcard_segments(q):
        for start, end, is_var in tokenize(seg):
            if not is_var or start == 0 or end == len(seg):
                continue
            tok = seg[start:end]
            enc = encode_int(tok)
            if enc is None:
                enc = encode_float(tok)
            slots.append((tok, enc))
    return slots


def _wildcard_segments(pattern: str) -> list[str]:
    """Maximal wildcard-free segments of a pattern (escapes resolved)."""
    return _literal_runs(pattern, lambda c: True)


_TOKEN_CHARS = frozenset(
    "+-.\\_0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)


def _token_runs(pattern: str) -> list[str]:
    """Maximal token-char-only runs of a wildcard pattern (escapes resolved;
    '*' and '?' break runs — '?' may stand for a delimiter)."""
    return _literal_runs(pattern, _TOKEN_CHARS.__contains__)


def _literal_runs(pattern: str, keep) -> list[str]:
    """Maximal runs of literal characters c with keep(c) in a pattern."""
    groups = groupby(_tokens(pattern), lambda t: t[0] == "lit" and keep(t[1]))
    return ["".join(t[1] for t in g) for kept, g in groups if kept]


_NUMERIC_RUN_CHARS = frozenset("0123456789.-")
_TEMPLATE_ESCAPE = re.compile(r"\\(.)", re.S)


class LogtypeIndex:
    """A collected logtype dictionary, indexed once per load: `rows`
    [(logtype_id, logtype), ...], `text`, every template unescaped (a
    literal backslash is a token char, stored as an escaped pair) and joined
    by '\\n', and `bare`, the ids of the bare dictionary-placeholder
    template. A token run holds no '\\n', so a run is in `text` iff some
    template contains it. A JSON VarString stores its whole value as ONE
    dictionary variable under the bare template, so the query's inner
    tokens are not its variables: its rows are exempt from the needles."""

    def __init__(self, rows):
        self.rows = rows
        self.text = "\n".join(_TEMPLATE_ESCAPE.sub(r"\1", lt) for _, lt in rows)
        self.bare = [lid for lid, lt in rows if lt == PLACEHOLDER_DICT]

    @cached_property
    def lower(self) -> str:
        return self.text.lower()


def _runs_outside_templates(query: str, templates: LogtypeIndex, ignore_case: bool) -> list[str]:
    """The query's token-char runs (lowercased under ignore_case) that no
    template's text contains, leaving out runs made only of [0-9.-] (they
    could sit inside an encoded numeric variable, which is not
    dictionary-enumerable)."""
    runs = [r for r in _token_runs(normalize_query(query)) if not set(r) <= _NUMERIC_RUN_CHARS]
    if ignore_case:
        runs = [r.lower() for r in runs]
    text = templates.lower if ignore_case else templates.text
    return [r for r in runs if r not in text]


def _runs_in_vars(runs, var_strings) -> bool:
    """Whether every run occurs in some of the (already case-folded) var
    strings."""
    return all(any(r in v for v in var_strings) for r in runs)


def query_wont_match(query: str, logtype_strings, var_strings, ignore_case: bool = False) -> bool:
    """Global WontMatch check (reference SubQuery WontMatch / imprecise-var
    wildcard dictionary lookup, clp/GrepCore.hpp:98-102 +
    DictionaryReader.hpp:275+): a message token is entirely static text or
    entirely one variable, so every token-char run of the query must appear
    as a substring of some logtype template, some dictionary variable, or a
    possible int/float rendering. If any run can appear nowhere, NO message
    matches. SOUND over-approximation: placeholder bytes are non-token
    chars, so runs cannot falsely span a variable boundary in a template.
    Under ignore_case runs and strings compare lowercased, as clg's
    --ignore-case lowercases both sides."""
    templates = LogtypeIndex([(0, lt) for lt in logtype_strings])
    runs = _runs_outside_templates(query, templates, ignore_case)
    if not runs:
        return False
    return not _runs_in_vars(runs, [v.lower() for v in var_strings] if ignore_case else var_strings)


class VarIndex:
    """A collected var dictionary, indexed once per load: `rows`
    [(var_id, var_str), ...], `ids` value -> [var_id, ...] and `text`, every
    distinct value joined by '\\n'. A token run holds no '\\n', so a run is
    in `text` iff some value contains it."""

    def __init__(self, rows):
        self.rows = rows
        self.ids: dict[str, list[int]] = {}
        for vid, vs in rows:
            self.ids.setdefault(vs, []).append(vid)
        self.text = "\n".join(self.ids)

    @cached_property
    def lower(self) -> str:
        return self.text.lower()

    def __call__(self, runs, toks, ignore_case):
        """plan_query's var lookup: the whole dictionary answers both."""
        return (self.lower if ignore_case else self.text,), self.ids


def _var_dict_scan(var_dict: DataFrame):
    """plan_query's var lookup for a dictionary too big to collect: ONE
    column-pruned aggregate over the DICTIONARY (distinct variables, never
    the data) returns, per run, one value containing it (the distributed
    dictionary-wide wildcard lookup, clp/DictionaryReader.hpp:275+), and per
    token the ids of that exact value. Both answers are driver-sized."""

    def lookup(runs, toks, ignore_case):
        s = F.col("var_str")
        hay = F.lower(s) if ignore_case else s
        row = var_dict.agg(
            *[F.max(F.when(hay.contains(r), hay)).alias(f"r{i}") for i, r in enumerate(runs)],
            *[
                F.collect_list(F.when(s == t, F.col("var_id"))).alias(f"t{i}")
                for i, t in enumerate(toks)
            ],
        ).first()
        witnesses = [w for w in row[: len(runs)] if w is not None]
        return witnesses, dict(zip(toks, row[len(runs):]))

    return lookup


def plan_query(query: str, templates: LogtypeIndex, var_lookup, ignore_case: bool = False):
    """The search planner, pure over the collected dictionaries: None when
    no message can match, else (candidate logtype ids, var-id needles,
    logtype ids exempt from the needles).

    One pass in the reference's order (clp/GrepCore.hpp:156-271): the
    candidate prune over the templates, then ONE var lookup for what the
    templates cannot answer — the runs WontMatch still needs and the ids of
    the query's dictionary-variable tokens. `var_lookup(runs, toks,
    ignore_case) -> (var strings, lowercased under ignore_case, {token:
    [var_id, ...]})` is a VarIndex or _var_dict_scan. Encoded-variable
    needles are off under ignore_case (ids and encodings are case-exact).
    Bare-template rows (LogtypeIndex.bare) are exempt from the needles;
    when some needle has no id, only they can still match."""
    cand = candidate_logtype_ids(templates.rows, query, ignore_case)
    if not cand:
        return None
    runs = _runs_outside_templates(query, templates, ignore_case)
    slots = [] if ignore_case else query_var_slots(query)
    toks = list(dict.fromkeys(tok for tok, enc in slots if enc is None))
    var_strings, ids = var_lookup(runs, toks, ignore_case) if runs or toks else ((), {})
    if not _runs_in_vars(runs, var_strings):
        return None
    needles = [[enc] if enc is not None else ids.get(tok, []) for tok, enc in slots]
    if all(needles):
        return cand, needles, templates.bare
    return (templates.bare, [], []) if templates.bare else None


def var_sequence_filter(needles: list[list[int]]):
    """Column predicate: the slot candidate sets must match a subsequence of
    encoded_vars, in order (reference SubQuery::matches_vars,
    clp/Query.hpp:240-264). Pure Catalyst higher-order expression — a
    greedy scan is sufficient for membership because each slot is a set."""
    arr = ",".join("array(" + ",".join(str(x) + "L" for x in s) + ")" for s in needles)
    return F.expr(
        f"aggregate(encoded_vars, 0, (idx, v) -> "
        f"if(idx < {len(needles)} and array_contains(array({arr})[idx], v), idx + 1, idx))"
    ) >= len(needles)


_TOO_BIG = object()  # sentinel: var dict exceeds DICT_BROADCAST_LIMIT


def dict_rows(logtype_dict: DataFrame, var_dict: DataFrame):
    """Collected dictionaries -> (LogtypeIndex, VarIndex), or _TOO_BIG in
    place of the VarIndex above DICT_BROADCAST_LIMIT. Session-cached by the
    dictionaries' plan identity (clp_spark/caching.py), the way the
    reference keeps per-archive dictionaries resident across queries
    (clp/streaming_archive/reader/Archive.cpp:163-195)."""

    def load():
        lt_rows = [
            (r["logtype_id"], r["logtype"])
            for r in logtype_dict.select("logtype_id", "logtype").collect()
        ]
        sample = (
            var_dict.select("var_id", "var_str").limit(DICT_BROADCAST_LIMIT + 1).collect()
        )
        if len(sample) > DICT_BROADCAST_LIMIT:
            return LogtypeIndex(lt_rows), _TOO_BIG
        return LogtypeIndex(lt_rows), VarIndex([(r["var_id"], r["var_str"]) for r in sample])

    key = plan_key(logtype_dict, "dict_rows", plan_key(var_dict))
    return DRIVER_VALUES.get_or_load(key, load)


def decode(
    messages: DataFrame,
    var_dict: DataFrame,
    rows,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Encoded messages -> (*key_cols, ts?, text), given dict_rows' `rows`:
    the one decode. Templates travel in one broadcast and every batch
    renders in one Arrow pass (render_vec.render_arrow), the reference
    decompressor's model: dictionaries load before segments are read
    (clp/streaming_archive/reader/Archive.cpp:163-195). A collectible var
    dictionary rides the same broadcast, and the plan is a select and one
    mapInArrow with no Exchange. Above DICT_BROADCAST_LIMIT each row brings
    its own dictionary strings (_slot_strings)."""
    templates, var_index = rows
    spark = messages.sparkSession
    has_ts = "ts" in messages.columns and "ts" not in key_cols
    passthrough = list(key_cols) + (["ts"] if has_ts else [])
    if var_index is _TOO_BIG:
        bc = P._dict_broadcast(spark, templates.rows, ())
        framed = _slot_strings(messages, var_dict, passthrough)
    else:
        bc = P._dict_broadcast(spark, templates.rows, var_index.rows)
        framed = messages.select(*passthrough, "logtype_id", "encoded_vars")
    n = len(passthrough)
    names = passthrough + ["text"]

    def render(batches):
        import pyarrow as pa

        from clp_spark.functions.render_vec import render_arrow

        table, vd = bc.value
        for b in batches:
            strs = b.column(n + 2) if b.num_columns > n + 2 else None
            texts = render_arrow(b.column(n), b.column(n + 1), table, vd, strs)
            yield pa.RecordBatch.from_arrays([b.column(i) for i in range(n)] + [texts], names)

    schema = StructType([framed.schema[c] for c in passthrough] + [StructField("text", StringType())])
    return framed.mapInArrow(render, schema=schema)


def _slot_strings(messages: DataFrame, var_dict: DataFrame, passthrough: list[str]) -> DataFrame:
    """(*passthrough, logtype_id, encoded_vars, slot_strs) for a var
    dictionary too big to collect: one posexplode of each row's slots that
    carries only a row id, the passthrough columns, logtype_id, the slot's
    position and value; one join of the values with the var dictionary;
    one regroup per row that rebuilds encoded_vars in slot order beside
    the joined strings (null where a value is no dictionary id). Every
    exploded row is a few columns wide, so the work is linear in the row's
    size. The regroup key is a surrogate row id, not the key columns:
    callers may union rows that share a key (one input ingested into two
    archives)."""
    vd = var_dict.select(F.col("var_id").alias("_value"), "var_str")
    slot = F.when(F.col("_pos").isNotNull(), F.struct("_pos", "_value", "var_str"))
    regrouped = (
        messages.withColumn("_row_id", F.monotonically_increasing_id())
        .select(
            "_row_id", *passthrough, "logtype_id",
            F.posexplode_outer("encoded_vars").alias("_pos", "_value"),
        )
        .join(vd, "_value", "left")
        .groupBy("_row_id")
        .agg(
            *[F.first(c).alias(c) for c in passthrough + ["logtype_id"]],
            F.array_sort(F.collect_list(slot)).alias("_slots"),
        )
    )
    return regrouped.select(
        *passthrough, "logtype_id",
        F.col("_slots._value").alias("encoded_vars"), F.col("_slots.var_str").alias("slot_strs"),
    )


def search(
    messages: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    query: str,
    *,
    begin_ts_ms: int | None = None,
    end_ts_ms: int | None = None,
    ignore_case: bool = False,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Full wildcard search -> (*key_cols, ts?, text) of matching rows.

    plan_query prunes on the driver against dict_rows' session-cached
    dictionaries; above DICT_BROADCAST_LIMIT its var lookup is one
    distributed dictionary scan. The Spark part then stages the filters in
    the reference's cheap-to-expensive order
    (clp/streaming_archive/reader/File.cpp:269-292): ts range, logtype-set
    semi-filter, encoded-variable subsequence filter, then decode + wildcard
    confirm. `ignore_case` follows clg's --ignore-case
    (clp/GrepCore.hpp process_raw_query use_ignore_case). A query the
    planner rules out returns an empty frame that runs no Spark job.
    """
    rows = dict_rows(logtype_dict, var_dict)
    templates, var_index = rows
    lookup = _var_dict_scan(var_dict) if var_index is _TOO_BIG else var_index
    plan = plan_query(query, templates, lookup, ignore_case)

    has_ts = "ts" in messages.columns and "ts" not in key_cols
    out_cols = list(key_cols) + (["ts"] if has_ts else [])
    if plan is None:
        # the optimizer folds this to an empty LocalTableScan: no job
        text = F.lit(None).cast("string").alias("text")
        return messages.select(*out_cols, text).filter(F.lit(False))
    cand, needles, exempt = plan

    filtered = messages
    if begin_ts_ms is not None:
        filtered = filtered.filter(F.unix_millis(F.col("ts").cast("timestamp")) >= begin_ts_ms)
    if end_ts_ms is not None:
        filtered = filtered.filter(F.unix_millis(F.col("ts").cast("timestamp")) <= end_ts_ms)
    if len(cand) < len(templates.rows):
        filtered = filtered.filter(F.col("logtype_id").isin(cand))
    if needles:
        keep = var_sequence_filter(needles)
        if exempt:
            keep = keep | F.col("logtype_id").isin(exempt)
        filtered = filtered.filter(keep)

    rx = wildcard_to_regex(normalize_query(query))
    if ignore_case:
        rx = "(?i)" + rx
    return decode(filtered, var_dict, rows, key_cols).filter(F.col("text").rlike(rx))


def search_count(messages, logtype_dict, var_dict, query: str, **kw) -> DataFrame:
    """Aggregation output handler: total match count (reference clo
    count pipeline, clp/clo/clo.cpp:300-330 + reducer CountOperator)."""
    return search(messages, logtype_dict, var_dict, query, **kw).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def search_count_by_time(
    messages, logtype_dict, var_dict, query: str, bucket_ms: int = 3_600_000, **kw
) -> DataFrame:
    """Count-by-time output handler with reference bucketing semantics
    bucket = (ts_ms / size) * size (clp/clo/OutputHandler.hpp:257-287).
    Decode carries ts alongside (conv_id, turn_idx), so the bucket column
    is computed directly from the matches — no re-join against the message
    store (which would be a full shuffle join at scale)."""
    matches = search(messages, logtype_dict, var_dict, query, **kw)
    bucket = F.expr(f"unix_millis(cast(ts as timestamp)) div {bucket_ms}") * F.lit(bucket_ms)
    return matches.groupBy(bucket.alias("bucket_ms")).agg(F.count(F.lit(1)).alias("cnt"))


def write_search_results(
    matches: DataFrame,
    messages: DataFrame = None,
    path: str = None,
    max_num_results: int = 1000,
) -> int:
    """Results-cache sink: keep only the latest `max_num_results` matches by
    timestamp (the reference results cache's priority-queue semantics,
    clp/clo/OutputHandler.hpp:121-226, fields per clp_s/archive_constants
    .hpp:56-62), written as a small parquet table. Spark's
    TakeOrderedAndProject replaces the per-worker priority queue + the
    MongoDB upsert. Returns the number of rows written.

    `matches` from search() already carries ts; `messages` is only consulted
    (shuffle re-join) for legacy match sets without a ts column."""
    import contextlib
    import os

    from .ingest import _commit

    if "ts" in matches.columns:
        with_ts = matches
    else:
        with_ts = matches.join(
            messages.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
        )
    top = (
        with_ts.orderBy(
            F.desc("ts"), F.desc("conv_id"), F.desc("turn_idx")
        )
        .limit(max_num_results)
        .select(
            "conv_id",
            "turn_idx",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
            "text",
        )
    )
    path = os.path.abspath(path)
    out_dir = os.path.dirname(path)
    _commit(
        lambda staging: top.coalesce(1).write.mode("overwrite").parquet(staging),
        out_dir, os.path.basename(path),
    )
    with contextlib.suppress(OSError):  # leave only the results beside them
        os.rmdir(os.path.join(out_dir, "_staging"))
    return matches.sparkSession.read.parquet(path).count()
