"""Smoke tests for the driver contract module."""

from __future__ import annotations

import pytest


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_has_registry_entry(spark):
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) > 0
    assert set(oracles).issubset(set(qs))


def _unproven_names():
    """Queries the rotation must front: failed, modified-since-proven, or
    never driver-checked — computed from ALL CORRECTNESS_r*.json files on
    disk (the same inputs ``registry._rotate_window`` uses), so the test
    states the invariant rather than pinning any one round's snapshot."""
    from aws_saas_etl_spark import registry

    checked, failed, _last_round = registry._correctness_status()
    proven_fp = registry._proven_fingerprints()
    current_fp = registry.query_fingerprints()
    modified = {
        n
        for n in checked
        if n in proven_fp and proven_fp[n] != current_fp.get(n, proven_fp[n])
    }
    return checked, failed, modified


def test_driver_window_rotation_invariant():
    """The driver's correctness gate samples the FIRST 50 names of
    queries(). Invariants (stable across rounds, unlike window contents):

    1. every previously-failed query leads the order;
    2. no proven-and-unmodified query precedes an unproven one;
    3. when the unproven backlog fits in the window, all of it is inside
       the first-50 prefix (nothing waits an extra round).
    """
    from aws_saas_etl_spark import registry

    names = list(registry.queries().keys())
    checked, failed, modified = _unproven_names()
    unproven = {n for n in names if n in failed or n in modified or n not in checked}

    assert set(names[: len(failed)]) == failed, "failed queries must lead the window"

    first_proven = next(
        (i for i, n in enumerate(names) if n not in unproven), len(names)
    )
    tail_unproven = [n for n in names[first_proven:] if n in unproven]
    assert not tail_unproven, f"unproven queries behind proven ones: {tail_unproven}"

    if len(unproven) <= 50:
        window = set(names[:50])
        missing = sorted(unproven - window)
        assert not missing, f"unproven queries outside the 50-query window: {missing}"


def test_proven_tail_rotates_stalest_first():
    """Behind the unproven front, queries() must order proven queries by
    ascending last-checked round (CORRECTNESS files), so once the backlog
    is empty the driver's 50-name window re-confirms the OLDEST proofs
    each round instead of freezing on registration order."""
    from aws_saas_etl_spark import registry

    names = list(registry.queries().keys())
    checked, failed, last_round = registry._correctness_status()
    _c, _f, modified = _unproven_names()
    tail = [
        n
        for n in names
        if n in checked and n not in failed and n not in modified
    ]
    rounds = [last_round.get(n, 0) for n in tail]
    assert rounds == sorted(rounds), "proven tail not in stalest-first order"


def test_fingerprint_covers_shared_helpers():
    """A rewrite of a shared helper (e.g. the PPJoin prefix filter) must
    change the fingerprints of the queries that use it — otherwise a
    helper rewrite hides behind old proven stamps and never re-enters the
    driver window."""
    from aws_saas_etl_spark import registry
    from aws_saas_etl_spark.operators import dedup

    srcs = "\n".join(registry._transitive_sources(dedup.ngram_jaccard_pairs))
    assert "def _prefix_candidates" in srcs
    assert "def bounded_self_pairs" in srcs or "def _bounded_self_pairs" in srcs


def _reference_transitive_sources(fn) -> list[str]:
    """The per-query walk ``registry._transitive_sources`` replaced:
    every query re-reads the source of every callable it reaches."""
    import importlib
    import inspect
    import re
    import types

    pkg = "aws_saas_etl_spark"
    seen: set[int] = set()
    sources: dict[str, str] = {}

    def in_pkg(obj) -> bool:
        mod = getattr(obj, "__module__", None)
        return isinstance(mod, str) and mod.split(".")[0] == pkg

    def visit(obj) -> None:
        if id(obj) in seen:
            return
        seen.add(id(obj))
        target = inspect.unwrap(obj)
        fn_obj = getattr(target, "__func__", target)
        code = getattr(fn_obj, "__code__", None)
        src = None
        try:
            key = f"{target.__module__}.{target.__qualname__}"
            src = inspect.getsource(target)
            sources.setdefault(key, src)
        except (OSError, TypeError, AttributeError):
            pass
        if src is not None:
            for m in re.finditer(
                rf"from\s+({pkg}[.\w]*)\s+import\s+([\w,\s]+)", src
            ):
                try:
                    mod = importlib.import_module(m.group(1))
                except ImportError:
                    continue
                for attr in m.group(2).replace(",", " ").split():
                    val = getattr(mod, attr, None)
                    if val is not None and callable(val) and in_pkg(val):
                        visit(val)
        if code is None:
            return
        globs = getattr(fn_obj, "__globals__", {})
        names: set[str] = set()
        stack = [code]
        while stack:
            c = stack.pop()
            names.update(c.co_names)
            names.update(c.co_freevars)
            stack.extend(k for k in c.co_consts if isinstance(k, types.CodeType))
        for cell in getattr(fn_obj, "__closure__", None) or ():
            try:
                val = cell.cell_contents
            except ValueError:
                continue
            if callable(val) and in_pkg(val):
                visit(val)
        modules = []
        for n in names:
            val = globs.get(n)
            if val is None:
                continue
            if isinstance(val, types.ModuleType) and getattr(
                val, "__name__", ""
            ).split(".")[0] == pkg:
                modules.append(val)
            elif callable(val) and in_pkg(val):
                visit(val)
        for mod in modules:
            for n in names:
                val = getattr(mod, n, None)
                if val is not None and callable(val) and in_pkg(val):
                    visit(val)

    visit(fn)
    return [sources[k] for k in sorted(sources)]


def test_memoized_source_walk_equals_the_per_query_walk():
    """The walk behind every query fingerprint reads each callable once
    per process; for every registered query it must return exactly the
    sources the per-query walk returns."""
    from aws_saas_etl_spark import registry

    for name, fn in registry.queries().items():
        assert registry._transitive_sources(fn) == _reference_transitive_sources(
            fn
        ), name


def test_no_query_stays_driver_invisible():
    """Every query registered ≥2 rounds ago (QUERY_ROUNDS.json, maintained
    by tools/update_fingerprints.py) must have a driver CORRECTNESS row by
    now — or, if the backlog ever exceeded the 50-query window, be inside
    the CURRENT window so it is checked this round."""
    import glob
    import json
    import os
    import re

    from aws_saas_etl_spark import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corr = glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    latest = max(
        (int(m.group(1)) for p in corr if (m := re.search(r"_r0*(\d+)", p))),
        default=0,
    )
    with open(os.path.join(repo, "QUERY_ROUNDS.json")) as f:
        rounds = json.load(f)

    checked, failed, _ = _unproven_names()
    window = set(list(registry.queries().keys())[:50])
    stale = sorted(
        n
        for n, first in rounds.items()
        if n in registry.queries()
        and first <= latest - 1
        and n not in checked
        and n not in failed
        and n not in window
    )
    assert not stale, f"driver-invisible for ≥2 rounds and not queued: {stale}"


def _scalar_column_offenders(spark, names) -> list[str]:
    from pyspark.sql.types import ArrayType, MapType, StructType

    from aws_saas_etl_spark import registry
    from tests.conftest import SF_SMOKE

    qs = registry.queries()
    offenders = []
    for name in names:
        if name.startswith("stream_"):
            continue
        schema = qs[name](spark, SF_SMOKE).schema
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    return offenders


def test_smoke_queries_emit_only_scalar_columns(spark):
    """Always-on smoke of the nested-type guard over the cross-family
    oracle-smoke subset (r14, VERDICT r13 #2 — the full fleet sweep
    below constructs every query, which EXECUTES the side-effecting
    fits/stores and dominated the default suite at 459 s; nested output
    types only appear with NEW queries, which optimization rounds don't
    add, and the slow sweep still covers the fleet opt-in)."""
    from tests.test_oracle_parity import SMOKE_QUERIES

    assert not _scalar_column_offenders(spark, SMOKE_QUERIES)


@pytest.mark.slow
def test_every_query_emits_only_scalar_columns(spark):
    """The driver's value canonicalizer handles scalar columns; an
    array/map/struct output column crashed it in round 2
    (dedup_duplicate_clusters). Pin fleet-wide that no registered query —
    including rows-only ones — exposes a nested type.

    Not free: most queries only build a plan here, but some do eager work
    at construction (localCheckpoint barriers in curation/textops,
    count() probes in semdedup) — accepted, still seconds each at
    sf0.001. ``stream_*`` queries are EXCLUDED (constructing one fully
    drains a stream, minutes not seconds); their output schemas are pinned
    by the collect-based assertions in tests/test_streaming.py instead.
    ``slow`` since r14: the construction sweep executes every
    side-effecting fit/store and took 459 s of the default run."""
    from aws_saas_etl_spark import registry

    offenders = _scalar_column_offenders(spark, registry.queries().keys())
    assert not offenders, f"nested output columns: {offenders}"
