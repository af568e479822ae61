"""One session cache, keyed by Spark's own plan identity.

The reference keeps an archive's dictionaries resident across queries
(clp/streaming_archive/reader/Archive.cpp:163-195); here every value that is
expensive to rebuild and safe to reuse within a session goes through
`SessionCache`: persisted intermediates, collected dictionary rows, the
dictionary broadcasts built from them, IVF centroids, fitted models and
constructed dedup plans.

Key contract (`plan_key(df, *params)`): two keys are equal exactly when
- Spark's own plan equivalence says the plans give the same result: the
  normalized analyzed plans (CTE ids renumbered, as Spark's CacheManager
  does) are found by `semanticHash()` and confirmed by `sameResult()`, so
  rebuilt plans with fresh expression or CTE ids match, while different
  parquet roots, in-memory rows or Python UDF closures do not;
- the plans read the same files (the sorted file listing of every file
  relation in the plan; a rename-rewrite of the same root lists new file
  names, so a rebuilt read after a re-ingest is a new key);
- the explicit `params` are equal (the caller names itself first, e.g.
  "ivf_centroids").
Archives are immutable snapshots whose identity is their file set, so a key
never needs invalidating: a rewrite simply produces a different key.

Two instances, each with a constant bound:
- `FRAMES` (9) holds persisted DataFrames, which use executor memory. It is
  separate so that cheap driver-side entries can never evict a frame a query
  has planted but not yet run (minhash_lsh_pairs plants three lazily
  persisted tables before its action; evicting one unpersists it and the
  action silently recomputes its whole lineage).
- `DRIVER_VALUES` (16) holds driver-side values: dictionary rows,
  broadcasts, centroids, fits and pair memos. The bound covers a search and
  decode loop over a few archive sets (per set: one rows entry plus its
  broadcast).

Session ownership: a cache remembers the SparkContext its entries were built
in. Once a different context is active, the old entries are dropped without
unpersisting (their broadcasts and cached blocks died with the old context).
Spark's own cache is kept honest separately: each ingest path calls
`spark.catalog.refreshByPath(out_dir)` after committing its sinks, so a
persisted read of a rewritten sink is recomputed from the new files.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark import SparkContext
from pyspark.sql import DataFrame


class _PlanKey:
    """Hashable plan identity: semantic hash + file listing + params, with
    equality confirmed by the JVM's `sameResult`."""

    __slots__ = ("_plan", "_rest", "_hash")

    def __init__(self, plan, files: tuple, params: tuple):
        self._plan = plan
        self._rest = (files, params)
        self._hash = hash((plan.semanticHash(), files, params))

    def __hash__(self) -> int:
        return self._hash

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, _PlanKey)
            and self._hash == other._hash
            and self._rest == other._rest
            and self._plan.sameResult(other._plan)
        )


def plan_key(df: DataFrame, *params) -> _PlanKey | None:
    """The cache key of `df`'s result under `params` (see the module
    docstring). Reads only the normalized analyzed plan: calling
    `inputFiles()` would freeze the optimized plan before a `persist()` could
    take effect."""
    try:
        plan = df._jdf.queryExecution().normalized()
    except AttributeError:
        return None  # Spark Connect: no JVM plan, callers load uncached
    leaves = plan.collectLeaves()
    files = set()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            relation = leaf.relation()
            if relation.getClass().getSimpleName() == "HadoopFsRelation":
                files.update(relation.inputFiles())
    return _PlanKey(plan, tuple(sorted(files)), params)


def _release(value) -> None:
    # a DataFrame that was never persisted owns no blocks; anything else with
    # an unpersist (a persisted DataFrame, a Broadcast) frees executor memory
    unpersist = getattr(value, "unpersist", None)
    if unpersist is not None and getattr(value, "is_cached", True):
        unpersist()


class SessionCache:
    """LRU of values owned by the live SparkContext; evicting or clearing an
    entry unpersists it."""

    def __init__(self, max_items: int):
        self.max_items = max_items
        self._store: OrderedDict = OrderedDict()
        self._owner = None

    def _adopt_active_context(self) -> None:
        active = SparkContext._active_spark_context
        if active is not self._owner:
            self._store.clear()  # the old context is gone: nothing to release
            self._owner = active

    def get_or_load(self, key, loader):
        """The cached value for `key`, loading and caching it on a miss.
        key=None (no plan identity) bypasses the cache."""
        self._adopt_active_context()
        if key is None:
            return loader()
        if key in self._store:
            self._store.move_to_end(key)
            return self._store[key]
        value = self._store[key] = loader()
        while len(self._store) > self.max_items:
            _release(self._store.popitem(last=False)[1])
        return value

    def clear(self) -> None:
        self._adopt_active_context()
        while self._store:
            _release(self._store.popitem(last=False)[1])


FRAMES = SessionCache(max_items=9)
DRIVER_VALUES = SessionCache(max_items=16)


def persist(df: DataFrame) -> DataFrame:
    """`df.persist()`, or the live persisted DataFrame with the same plan
    identity (its data already cached, nothing recomputed)."""
    return FRAMES.get_or_load(plan_key(df), df.persist)
