"""Session-wide cache ledger: persist-with-release discipline.

Query functions build LAZY DataFrames — their ``persist()`` calls are
consumed only when the CALLER runs an action, so a query can never
``unpersist()`` its own intermediates before returning without losing
the reuse the persist exists for. The consequence (round-13 verdict
item 5): 46 ``persist()`` sites with no release point, so a long-lived
session (a pipeline, a notebook, a registry sweep without the bench's
``clearCache`` hygiene) accumulates dead cached blocks that starve the
unified memory pool — exactly the in-sweep degradation measured in
round 13 (dedup_components 37.9 s in-sweep vs 4.2 s isolated).

The ledger generalizes the ``_KN_PERSISTED`` pattern (lm_filter.py,
round 8) to every query-path persist:

- ``led_persist(df)``   — persist + register for deferred release.
- ``release_persisted()`` — unpersist everything registered. Called
  automatically by the ``@query`` decorator at the START of each query
  build, so any session is bounded to at most ONE query's cached
  intermediates; callable explicitly (tests, pipelines) for an
  immediately-empty cache.

Releasing a cache that a still-live DataFrame references is safe:
Spark falls back to recomputing from lineage (correct, just unshared).
``unpersist`` is idempotent, so manual unpersist inside iterative ops
composes with a later ledger release.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

_LEDGER: list[tuple[str | None, DataFrame]] = []
_CURRENT: str | None = None


def led_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register under the current query for release
    at the next DIFFERENT query's build (or an explicit
    :func:`release_persisted`)."""
    df.persist()
    _LEDGER.append((_CURRENT, df))
    return df


def led_register(df: DataFrame) -> DataFrame:
    """Register an already-persisted DataFrame (e.g. the surviving
    frame of an iterative loop that manages its round-to-round caches
    itself) for deferred release."""
    _LEDGER.append((_CURRENT, df))
    return df


def _release(df: DataFrame) -> None:
    """Unpersist one ledger entry. A frame whose SparkContext is stopped
    holds no blocks any more, so it is skipped; any other failure is
    logged and the release goes on, so one bad entry cannot strand the
    rest of the ledger."""
    sc = getattr(df.sparkSession, "_sc", None)
    if sc is not None and sc._jsc is None:
        return
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — logged; the other entries still release
        log.warning("cache ledger: unpersist failed", exc_info=True)


def begin_query(name: str) -> None:
    """Called by the ``@query`` decorator at build start: release every
    ledger entry belonging to a DIFFERENT query, keep this query's own.

    Keeping same-name entries matters for measurement semantics, not
    just speed: re-building the same query re-persists byte-identical
    plans, and Spark's CacheManager dedupes by canonicalized plan — a
    repeated run (the bench's best-of-N) has always reused the first
    run's cache. Releasing it here would silently turn every bench run
    cold (measured round 14: the dedup/KN tier doubled, e.g.
    dedup_minhash_lsh 4.8 s pin → 11.5 s sweep read, purely from this).
    Cross-query release still bounds a long-lived session to one
    query's cached blocks."""
    global _CURRENT
    _CURRENT = name
    kept = [(tag, df) for tag, df in _LEDGER if tag == name]
    for tag, df in _LEDGER:
        if tag != name:
            _release(df)
    _LEDGER[:] = kept


def release_persisted() -> int:
    """Unpersist every ledger entry (blocking=False); returns how many
    entries were released."""
    n = len(_LEDGER)
    while _LEDGER:
        _release(_LEDGER.pop()[1])
    return n


def ledger_size() -> int:
    return len(_LEDGER)
