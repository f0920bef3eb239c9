"""Session-scoped persist registry (round-3 verdict item #3).

Several query builders persist() a builder-local relation because it feeds
two or more branches of the SAME returned plan (shingle relations feeding
both join sides, the dhash signature relation) — without the persist,
Catalyst's projection collapse re-inlines the expensive expression into
every branch (recompute + codegen bloat). Those persists cannot be released
inside the builder: the returned DataFrame is lazy, and the cache must be
live when it finally executes. In a long-lived session they would therefore
accumulate executor storage with no release path.

Contract: every such builder registers its persist here via
persist_tracked(); a long-lived session releases storage at natural
boundaries (after a query's results are consumed, at job teardown, between
benchmark suites) with clear_caches(). __spark_entry__.clear_caches() chains
to this and additionally drops its own cross-query memo relations.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
# strong refs on purpose: the builder-local Python object dies when the
# builder returns, while its JVM-side cache entry lives on — a weakref
# registry would lose the only handle that can unpersist it.
_TRACKED: list[DataFrame] = []

# Session-scoped model memo (round-5 verdict item #1): several scoring
# queries share the SAME model-scale relation (the corpus bigram model
# feeds bigram_lm_score, perplexity_buckets, rrf_fusion and dsir's
# corpus side; the trigram and span dup-key relations repeat the
# pattern), and each builder invocation otherwise re-runs the corpus
# aggregation + eager count. One build per (model key, corpus) per
# session serves every consumer — the production amortization the
# module docstrings claim ("models built once per corpus, reused per
# scoring run"). Entries are keyed on (model name, params) and guarded
# by plan identity: a hit requires the SAME SparkSession and a
# semantically identical anchor plan (DataFrame.sameSemantics — exact
# canonical-plan equality, no fingerprint collisions). Lives only for
# the session and is dropped by clear_caches() together with the
# persisted relations it references — nothing survives a run.
_MEMO: dict[tuple, tuple] = {}


def model_memo(key: tuple, anchor: DataFrame, build, sources: tuple = ()):
    """Return the memoized value for (key, anchor-plan), building once.

    `anchor` is the source relation the model derives from; `build` is a
    zero-arg callable producing the value (typically a persist_tracked
    relation plus its counted size, or a collected locator index).
    `sources` are the caller's input objects the anchor was derived from;
    they are remembered with the entry for memo_lookup."""
    with _LOCK:
        ent = _MEMO.get(key)
    if ent is not None:
        prev, _, value = ent
        try:
            if prev is anchor or (
                prev.sparkSession is anchor.sparkSession
                and prev.sameSemantics(anchor)
            ):
                with _LOCK:
                    _MEMO[key] = (prev, tuple(sources), value)
                return value
        except Exception:
            pass  # stopped session / foreign plan — rebuild below
    value = build()
    with _LOCK:
        _MEMO[key] = (anchor, tuple(sources), value)
    return value


def memo_lookup(key: tuple, sources: tuple):
    """The value memoized under `key` if its entry was built or last hit
    from these very `sources` objects (identity, no plan comparison), else
    None: the cheap first check before deriving an anchor plan."""
    with _LOCK:
        ent = _MEMO.get(key)
    if ent is None or len(ent[1]) != len(sources) or not sources:
        return None
    if all(a is b for a, b in zip(ent[1], sources)):
        return ent[2]
    return None


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() a builder-local relation and register it for release."""
    df = df.persist()
    with _LOCK:
        _TRACKED.append(df)
    return df


def clear_caches(blocking: bool = False) -> int:
    """Unpersist every tracked relation; returns how many were released.

    Default non-blocking: the cache-manager entry is dropped synchronously
    (so re-planning stops using it) and block eviction proceeds async.
    Pass blocking=True when the CALLER is about to measure something —
    async eviction from pass k otherwise overlaps pass k+1's timing
    (bench.py's scaling protocols block; ordinary job teardown doesn't
    need to).
    """
    with _LOCK:
        tracked, _TRACKED[:] = list(_TRACKED), []
        _MEMO.clear()  # memo values reference the relations released below
    released = 0
    for df in tracked:
        try:
            df.unpersist(blocking)
            released += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return released
