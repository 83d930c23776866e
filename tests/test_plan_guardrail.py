"""Standalone plan-guardrail pass for the queries the oracle-replay
suites do NOT cover (the no-oracle sketch extras).

The four registry invariants — no new unpartitioned window, no
cartesian product, no unbounded pair self-join, no oversized replicate
explode — live in tests/_guardrail.py (allowlists + rationale). Every
query WITH a DuckDB oracle gets the same assertions inside its replay
test (tests/test_llm_operators.py / tests/test_declared_queries.py) on
the same DataFrame it executes, so Catalyst plans each query once per
suite run instead of twice. This file sweeps the remainder so the
whole registry stays covered: registry-completeness is asserted below.
"""

from __future__ import annotations

import pytest

from _guardrail import _ALL, assert_plan_guardrail
from swivel_spark_prep_spark.cache import release_persisted
from swivel_spark_prep_spark.queries.declared import DECLARED_ORACLES
from swivel_spark_prep_spark.queries.extra import EXTRA_ORACLES

#: queries with no oracle replay — their ONLY plan-guardrail home
NOT_REPLAYED = sorted(
    set(_ALL) - set(DECLARED_ORACLES) - set(EXTRA_ORACLES)
)


def test_guardrail_covers_whole_registry():
    """Every registered query is guardrail-checked somewhere: here if it
    has no oracle, inside its oracle-replay test otherwise. A query that
    silently left both cohorts would void the invariant."""
    replayed = (set(DECLARED_ORACLES) | set(EXTRA_ORACLES)) & set(_ALL)
    assert sorted(set(NOT_REPLAYED) | replayed) == sorted(_ALL)


@pytest.mark.parametrize("name", NOT_REPLAYED)
def test_no_new_global_window_or_cartesian(name, spark, sf_dir):
    try:
        assert_plan_guardrail(name, _ALL[name](spark, sf_dir))
    finally:
        release_persisted()


def test_guardrail_counts_ignore_foreign_persists(spark, sf_dir):
    """The replay prefetch plans queries while other threads hold
    persisted relations in the session's cache manager. The detectors
    descend through InMemoryRelation, so a foreign cached subtree that
    matches part of a query must not change its counts (ADVICE: the
    X290 pair self-join count once moved with cache substitution)."""
    from swivel_spark_prep_spark.catalog import load_table
    from swivel_spark_prep_spark.plans import (
        pair_self_join_count,
        physical_plan,
        replicate_explode_sizes,
        unpartitioned_window_count,
    )

    def census():
        df = _ALL["X290_split_leakage"](spark, sf_dir)
        plan = physical_plan(df)
        return plan.count("InMemoryRelation"), (
            unpartitioned_window_count(df),
            pair_self_join_count(df),
            "CartesianProduct" in plan,
            sorted(replicate_explode_sizes(df)),
        )

    release_persisted()
    cached_alone, alone = census()
    release_persisted()
    docs = load_table(spark, sf_dir, "documents").persist()
    try:
        docs.count()
        # X06 persists the same MinHash shingle relation X290 builds
        _ALL["X06_minhash_near_dups"](spark, sf_dir).collect()
        cached, counts = census()
        assert cached > cached_alone  # the foreign caches were substituted
        assert counts == alone
    finally:
        docs.unpersist()
        release_persisted()
