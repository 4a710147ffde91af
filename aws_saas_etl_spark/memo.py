"""Session-scoped stored-artifact memos, self-registering.

Several operators model a STORED artifact (content clusters, shingle
table, fitted IVF centroids, manifest frames): in production each is
written once and read back from object storage, so computing it once per
session is the faithful serving shape. Every such cache is a
``MemoDict`` and every lookup goes through one method::

    memo.get_or_build(spark, sf_dir, *parts, build=lambda: ...)

- **Key.** ``(applicationId, os.path.abspath(sf_dir), *parts)``. The
  application id scopes an entry to one SparkContext (entries of a
  stopped context can never be hit again, so nothing is invalidated);
  ``abspath`` makes ``d``, ``d/`` and a relative spelling of ``d`` one
  key. Variants of one corpus (the stale ``"base"`` fit, a gate name)
  are separate ``parts``, never suffixes glued onto the path.
- **Miss.** A private sentinel, not ``None``: a cached ``None`` (or any
  falsy scalar) is a hit, and ``build()`` runs once per key per session.
- **Storage.** The one storage policy for session artifacts: a
  DataFrame returned by ``build()`` is materialized once with
  ``localCheckpoint()`` before it is stored, so no consumer re-executes
  the build's lineage; any other value (a scalar, ``None``, a schema) is
  stored as it is. A build returns a plan, and one key holds one frame.
- **Tracing contract.** Each call makes exactly one ``self.get(key,
  _MISS)`` and, on a miss only, one ``self[key] = value`` after
  ``build()`` returns and its frame is materialized. Those two calls are
  what ``track()`` records and what an external tracer may patch on the
  class to time builds (the miss-get → set interval on one key covers
  the build and its materialization).

The registry lets ``session.clear_session_memos`` and the scale/plan
tools purge ALL stored state, and ``track()`` lets ``bench.py`` DERIVE
which registered queries are memo-backed (two-regime cold/warm cost)
instead of maintaining the set by hand.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame

_REGISTRY: list["MemoDict"] = []

# While non-None, every MemoDict get/set appends its memo's name here —
# bench wraps each query invocation in ``track()`` and reads this back.
# SINGLE-THREAD ASSUMPTION (ADVICE r8): the trace is a module global, so
# concurrent query CONSTRUCTION under an active track() would
# cross-attribute memo touches between queries. bench/plan_audit build
# plans strictly sequentially; a future parallel harness must switch this
# to a contextvars.ContextVar before tracking concurrently.
_TRACE: list[str] | None = None

# Sibling trace for traced=False memos (r14, VERDICT r13 #6): sizing-scalar
# caches stay OUT of the main trace (their cold≈warm split carries no
# information for the cold/warm table) but their touches are no longer
# invisible — bench.py reports which queries read a sizing cache under a
# separate ``sizing_cache_touched`` key, so the one-metadata-job flattering
# of best-of-2 rep 2 is visible in the bench line without polluting the
# stored-artifact cold/warm table.
_TRACE_SIZING: list[str] | None = None


class Touches(list):
    """The list ``track()`` yields: traced-memo names in the list body,
    untraced (sizing) memo names in ``.sizing``."""

    def __init__(self) -> None:
        super().__init__()
        self.sizing: list[str] = []


_MISS = object()


class MemoDict(dict):
    """dict + self-registration + read/write tracing.

    ``traced=False`` (r13) registers the memo for ``clear_all`` — so cold
    measurement stays honest: a memo-cleared rep re-pays the cached work —
    WITHOUT reporting touches to ``track()``. Use it for bounded SIZING
    scalars (table row counts, base/delta cuts): they are catalog-statistic
    metadata whose recompute cost is one metadata-ish job, not the
    two-regime stored-artifact cost the bench's cold/warm table exists to
    expose, so tracing them would flood that table with rows whose
    cold≈warm split carries no information.
    """

    def __init__(self, name: str, traced: bool = True) -> None:
        super().__init__()
        self.name = name
        self.traced = traced
        _REGISTRY.append(self)

    def _trace(self) -> None:
        if self.traced:
            if _TRACE is not None:
                _TRACE.append(self.name)
        elif _TRACE_SIZING is not None:
            _TRACE_SIZING.append(self.name)

    def get_or_build(
        self, spark, sf_dir: str, *parts: Hashable, build: Callable[[], Any]
    ) -> Any:
        """The session's artifact for ``(sf_dir, *parts)``, built by
        ``build()`` on the first call and served from the memo after. A
        DataFrame is stored materialized (``localCheckpoint()``), so a
        warm call launches no job and returns the same object."""
        key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), *parts)
        got = self.get(key, _MISS)
        if got is _MISS:
            got = build()
            if isinstance(got, DataFrame):
                got = got.localCheckpoint()
            self[key] = got
        return got

    def get(self, key: Any, default: Any = None) -> Any:
        self._trace()
        return super().get(key, default)

    def __getitem__(self, key: Any) -> Any:
        self._trace()
        return super().__getitem__(key)

    def __setitem__(self, key: Any, value: Any) -> None:
        self._trace()
        super().__setitem__(key, value)


def clear_all() -> None:
    """Purge every registered memo — the cold-path reset used by
    bench/scale_probe/plan_audit (and clear_session_memos)."""
    for m in _REGISTRY:
        m.clear()


def all_memos() -> list[MemoDict]:
    return list(_REGISTRY)


#: Shared registry for DERIVED-SET sizing scalars (r14, VERDICT r13 #4):
#: the lifecycle queries' base/delta boundaries (``rank_cut``) over id
#: sets (vector ids, minhash signature ids, lexical postings ids,
#: span-gram / BPE / logreg doc sets). Untraced (no cold/warm membership
#: change; surfaced via the sizing trace), cleared with the session memos
#: so cold reps re-pay it.
_DERIVED_CUT_CACHE = MemoDict("derived_cut", traced=False)


def rank_cut(spark, sf_dir: str, name: str, ids, denom: int = 10) -> int:
    """The base/delta boundary of an append-only id set: the largest of
    the ``n − n//denom`` smallest distinct ids in ``ids`` (a one-column
    frame). An exact integer-rank cut, no float percentile, so both
    engines agree on which rows are arrivals. It names stored base
    tables (``proc_dir`` tags embed it), so it is derived once per
    session per ``name`` in ``_DERIVED_CUT_CACHE``, from one pass over
    the distinct ids: each id's rank and the id count are two windows
    over the same ordered partition."""

    def build() -> int:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        col = ids.columns[0]
        order = Window.orderBy(col)
        ranked = ids.distinct().select(
            col,
            F.row_number().over(order).alias("_rank"),
            F.count(F.lit(1))
            .over(order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .alias("_n"),
        )
        in_base = F.col("_rank") <= F.expr(f"_n - _n DIV {int(denom)}")
        return ranked.agg(F.max(F.when(in_base, F.col(col)))).first()[0]

    return _DERIVED_CUT_CACHE.get_or_build(spark, sf_dir, name, build=build)


class track:
    """Context manager: records which memos were touched inside it.

    >>> with track() as touched:
    ...     run_query()
    >>> bool(touched)          # query is memo-backed (stored artifact)
    >>> bool(touched.sizing)   # query read an untraced sizing cache
    """

    def __enter__(self) -> Touches:
        global _TRACE, _TRACE_SIZING
        self._prev = _TRACE
        self._prev_sizing = _TRACE_SIZING
        touches = Touches()
        _TRACE = touches
        _TRACE_SIZING = touches.sizing
        return touches

    def __exit__(self, *exc: Any) -> None:
        global _TRACE, _TRACE_SIZING
        _TRACE = self._prev
        _TRACE_SIZING = self._prev_sizing
