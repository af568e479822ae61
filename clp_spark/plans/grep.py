"""Wildcard search over encoded messages — CLP's clg/clo pipeline, Spark-first.

Reference lifecycle (SURVEY.md §3.2; clp/GrepCore.hpp:156-271, clp/Grep.cpp:81-140):
  query -> candidate logtype set (dictionary pruning on the driver)
        -> per-message filters (ts range -> logtype∈set)
        -> decode matching rows
        -> final wildcard confirm on the decoded text.

Spark re-expression: the logtype dictionary is tiny relative to the data
(thousands of templates vs 10^12 turns), so candidate pruning runs on the
driver against the collected dictionary; the candidate-id set becomes a
broadcast `isin`/semi-join; only surviving rows pay the decode join; the
confirm filter is a JVM `rlike`. This keeps the expensive work proportional
to matching logtypes, like the reference's segment-index pruning
(clp/Query.cpp make_sub_queries_relevant_to_segment).

Candidate test = exact wildcard-pattern intersection (DP) between the query
and the logtype template with each variable placeholder treated as '*'
(a variable can expand to any token text). This is a sound superset of the
reference's per-subquery candidate generation — exactness is restored by the
confirm filter, which the reference also applies (clp/Grep.cpp:116-132).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import DRIVER_VALUES, plan_key
from ..functions.tokenizer import PLACEHOLDER_DICT, PLACEHOLDER_FLOAT, PLACEHOLDER_INT
from ..functions.wildcard import clean_up_wildcard_search_string, wildcard_to_regex

_PLACEHOLDERS = (PLACEHOLDER_INT, PLACEHOLDER_DICT, PLACEHOLDER_FLOAT)

# Max var-dict entries to ship to executors as an in-memory map for the
# shuffle-free decode (the reference decompressor's working assumption —
# it loads var.dict fully into RAM). Above this, decode falls back to
# broadcast joins.
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


def candidate_logtype_ids(logtype_rows, query: str) -> list[int]:
    """Driver-side dictionary prune: rows = [(logtype_id, logtype), ...]."""
    q = normalize_query(query)
    return [lid for lid, lt in logtype_rows if patterns_intersect(q, _template_to_pattern(lt))]


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


def query_var_candidates(query: str, var_rows) -> list[list[int]]:
    """Slot candidate-id lists from a COLLECTED var dictionary
    (var_rows: [(var_id, var_str), ...]); see query_var_slots."""
    by_val: dict[str, list[int]] = {}
    for vid, vs in var_rows:
        by_val.setdefault(vs, []).append(vid)
    return [
        [enc] if enc is not None else by_val.get(tok, [])
        for tok, enc in query_var_slots(query)
    ]


def _wildcard_segments(pattern: str) -> list[str]:
    """Maximal wildcard-free segments of a pattern (escapes resolved)."""
    segs, cur = [], []
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            cur.append(pattern[i + 1])
            i += 2
        elif c in "*?":
            if cur:
                segs.append("".join(cur))
                cur = []
            i += 1
        else:
            cur.append(c)
            i += 1
    if cur:
        segs.append("".join(cur))
    return segs


_TOKEN_CHARS = frozenset(
    "+-.\\_0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)


def _token_runs(pattern: str) -> list[str]:
    """Maximal token-char-only runs of a wildcard pattern (escapes resolved;
    '*' and '?' break runs — '?' may stand for a delimiter)."""
    runs, cur = [], []
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            i += 1
            c = pattern[i]
            literal = True
        else:
            literal = False
        if (not literal and c in "*?") or c not in _TOKEN_CHARS:
            if cur:
                runs.append("".join(cur))
                cur = []
        else:
            cur.append(c)
        i += 1
    if cur:
        runs.append("".join(cur))
    return runs


_NUMERIC_RUN_CHARS = frozenset("0123456789.-")


def query_wont_match(query: str, logtype_strings, var_strings) -> bool:
    """Global WontMatch check (reference SubQuery WontMatch / imprecise-var
    wildcard dictionary lookup, clp/GrepCore.hpp:98-102 +
    DictionaryReader.hpp:275+): a message token is entirely static text or
    entirely one variable, so every token-char run of the query must appear
    as a substring of some logtype template, some dictionary variable, or a
    possible int/float rendering. If any run can appear nowhere, NO message
    matches. SOUND over-approximation: placeholder bytes are non-token
    chars, so runs cannot falsely span a variable boundary in a template,
    and runs made only of [0-9.-] are exempt (they could sit inside an
    encoded numeric variable, which is not dictionary-enumerable)."""
    for run in _token_runs(normalize_query(query)):
        if all(c in _NUMERIC_RUN_CHARS for c in run):
            continue  # could live inside an int/float variable
        if any(run in lt for lt in logtype_strings):
            continue
        if any(run in v for v in var_strings):
            continue
        return True
    return False


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
    """Collected dictionaries -> (lt_rows, vd_rows): [(logtype_id, logtype),
    ...] and [(var_id, var_str), ...], or _TOO_BIG in place of vd_rows above
    DICT_BROADCAST_LIMIT. Session-cached by the dictionaries' plan identity
    (clp_spark/caching.py), the way the reference keeps per-archive
    dictionaries resident across queries
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
            return lt_rows, _TOO_BIG
        return lt_rows, [(r["var_id"], r["var_str"]) for r in sample]

    key = plan_key(logtype_dict, "dict_rows", plan_key(var_dict))
    return DRIVER_VALUES.get_or_load(key, load)


def _distributed_var_contains(var_dict: DataFrame, runs: list[str], ignore_case: bool) -> list[bool]:
    """One column-pruned scan of the var dictionary answering, per query
    token run, "does ANY dictionary variable contain this run?" — the
    distributed analog of the reference's dictionary-wide wildcard lookup
    (clp/DictionaryReader.hpp:275+) for dictionaries too big to collect.
    The scan is over the DICTIONARY (distinct variables), never the data."""
    col = F.lower(F.col("var_str")) if ignore_case else F.col("var_str")
    aggs = [
        F.max(col.contains(run.lower() if ignore_case else run)).alias(f"r{i}")
        for i, run in enumerate(runs)
    ]
    row = var_dict.agg(*aggs).first()
    return [bool(row[f"r{i}"]) for i in range(len(runs))]


def _distributed_var_ids(var_dict: DataFrame, toks: list[str]) -> dict[str, list[int]]:
    """Exact-token id lookup against a non-collectible var dictionary: the
    token set is tiny, so `isin` pushes into the parquet scan and the result
    (ids of query tokens only) is always driver-sized."""
    out: dict[str, list[int]] = {t: [] for t in toks}
    for r in (
        var_dict.select("var_id", "var_str")
        .filter(F.col("var_str").isin(list(toks)))
        .collect()
    ):
        out[r["var_str"]].append(r["var_id"])
    return out


def search(
    messages: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    query: str,
    *,
    begin_ts_ms: int | None = None,
    end_ts_ms: int | None = None,
    ignore_case: bool = False,
    prune_vars: bool = False,
    lt_rows: list | None = None,
    vd_rows: list | None = None,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Full wildcard search -> (*key_cols, ts?, text) of matching rows.

    Filter staging mirrors the reference's cheap-to-expensive order
    (clp/streaming_archive/reader/File.cpp:269-292): ts range, logtype-set
    semi-filter, optional encoded-variable subsequence prune, then decode +
    wildcard confirm. `ignore_case` follows clg's --ignore-case
    (clp/GrepCore.hpp process_raw_query use_ignore_case).

    lt_rows / vd_rows: pre-collected dictionaries [(id, string), ...] —
    pass them to amortize dictionary loading across queries; otherwise they
    are collected here by dict_rows (session cache).
    When the var dictionary exceeds DICT_BROADCAST_LIMIT, the WontMatch
    precheck and var pruning switch to DISTRIBUTED dictionary lookups (one
    dictionary scan each) instead of disabling themselves, and decode falls
    back to broadcast joins.
    """
    from .pipeline import decode_messages

    spark = messages.sparkSession
    q = normalize_query(query)

    has_ts = "ts" in messages.columns and "ts" not in key_cols
    out_cols = list(key_cols) + (["ts"] if has_ts else [])

    def empty():
        from pyspark.sql.types import StringType, StructField, StructType

        return spark.createDataFrame(
            [],
            StructType(
                [messages.schema[c] for c in out_cols]
                + [StructField("text", StringType())]
            ),
        )

    filtered = messages
    if begin_ts_ms is not None:
        filtered = filtered.filter(F.unix_millis(F.col("ts").cast("timestamp")) >= begin_ts_ms)
    if end_ts_ms is not None:
        filtered = filtered.filter(F.unix_millis(F.col("ts").cast("timestamp")) <= end_ts_ms)

    # Driver-side dictionary prune (the logtype dictionary is bounded by
    # #distinct templates, not data size — always collectible).
    if lt_rows is None or vd_rows is None:
        cached_lt, cached_vd = dict_rows(logtype_dict, var_dict)
        lt_rows = cached_lt if lt_rows is None else lt_rows
        vd_rows = cached_vd if vd_rows is None else vd_rows
    if vd_rows is _TOO_BIG:
        vd_rows = None

    # Global WontMatch precheck (dictionary-wide wildcard lookup): a query
    # term that appears in no template and no dictionary variable cannot
    # match anything — skip the scan entirely. Distributed var-dict path
    # when the dictionary is too big to collect.
    lts = [lt for _, lt in lt_rows]
    if ignore_case:
        lts_cmp, q_cmp = [s.lower() for s in lts], q.lower()
    else:
        lts_cmp, q_cmp = lts, q
    pending_runs = [
        run
        for run in _token_runs(q_cmp)
        if not all(c in _NUMERIC_RUN_CHARS for c in run)
        and not any(run in lt for lt in lts_cmp)
    ]
    if pending_runs:
        if vd_rows is not None:
            vs = [v for _, v in vd_rows]
            if ignore_case:
                vs = [s.lower() for s in vs]
            if any(not any(run in v for v in vs) for run in pending_runs):
                return empty()
        else:
            if not all(_distributed_var_contains(var_dict, pending_runs, ignore_case)):
                return empty()

    if ignore_case:
        cand = [
            lid
            for lid, lt in lt_rows
            if patterns_intersect(q.lower(), _template_to_pattern(lt).lower())
        ]
    else:
        cand = candidate_logtype_ids(lt_rows, query)
    if not cand:
        return empty()
    if len(cand) < len(lt_rows):
        filtered = filtered.filter(F.col("logtype_id").isin(cand))

    if prune_vars and not ignore_case:
        slots = query_var_slots(query)
        dict_toks = [tok for tok, enc in slots if enc is None]
        if dict_toks:
            if vd_rows is not None:
                by_val: dict[str, list[int]] = {}
                for vid, vs_ in vd_rows:
                    by_val.setdefault(vs_, []).append(vid)
                ids = {t: by_val.get(t, []) for t in dict_toks}
            else:
                ids = _distributed_var_ids(var_dict, dict_toks)
        else:
            ids = {}
        needles = [[enc] if enc is not None else ids[tok] for tok, enc in slots]
        if any(len(s) == 0 for s in needles):
            return empty()
        if needles:
            filtered = filtered.filter(var_sequence_filter(needles))

    # Decode strategy: when the var dictionary is collectible (CLP's own
    # in-memory-dictionaries assumption for decompression), use the
    # shuffle-free broadcast-dictmap decode; otherwise the join-based one.
    if vd_rows is not None:
        from .pipeline import decode_messages_dictmap

        decoded = decode_messages_dictmap(
            spark, filtered, lt_rows, vd_rows, key_cols=key_cols
        )
    else:
        decoded = decode_messages(filtered, logtype_dict, var_dict, key_cols=key_cols)
    rx = wildcard_to_regex(q)
    if ignore_case:
        rx = "(?i)" + rx
    return decoded.filter(F.col("text").rlike(rx))


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
    import shutil as _sh

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
    staging = path + ".staging"
    _sh.rmtree(staging, ignore_errors=True)
    top.coalesce(1).write.mode("overwrite").parquet(staging)
    _sh.rmtree(path, ignore_errors=True)
    import os as _os

    _os.replace(staging, path)
    spark = matches.sparkSession
    return spark.read.parquet(path).count()
