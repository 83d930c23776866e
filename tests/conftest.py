from __future__ import annotations

import os

import pytest

from _sfs import ORACLE_SFS, SF_SMOKE


@pytest.fixture(scope="session")
def spark():
    import json

    from swivel_spark_prep_spark.session import get_session

    conf = {"spark.sql.shuffle.partitions": "8", "spark.driver.memory": "8g"}
    # experiment hook: JSON dict of extra confs for A/B-ing session-level
    # levers on the suite wall without editing this file per run
    extra = os.environ.get("SPARK_TEST_EXTRA_CONF")
    if extra:
        conf.update(json.loads(extra))
    spark = get_session(
        "swivel-spark-prep-tests",
        master="local[8]",
        conf=conf,
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session", autouse=True)
def _smoke_sf_is_replayed():
    """The plan guardrail runs inside the oracle replay of the smoke SF
    only (tests/_replay.py), so SF_SMOKE must be one of the replayed SFs
    — otherwise every replay would skip the guardrail without a failure."""
    replayed = {os.path.realpath(p) for p in ORACLE_SFS}
    assert os.path.realpath(SF_SMOKE) in replayed, (
        f"SF_SMOKE {SF_SMOKE!r} is not among the oracle-replay SFs "
        f"{ORACLE_SFS}: the plan guardrail would never run"
    )


@pytest.fixture(autouse=True)
def _release_persisted_blocks():
    """Unpersist operator intermediates after every test — no persisted
    blocks may outlive the query that created them (cache.py contract)."""
    yield
    from swivel_spark_prep_spark.cache import release_persisted

    release_persisted()


@pytest.fixture(params=["true", "false"], ids=["reuse", "no_reuse"])
def exchange_reuse(spark, request):
    """Runs a test with Spark's exchange reuse on and off, restoring the
    session conf afterwards — results must not depend on whether the
    planner dedupes a repeated (re-sampled) range exchange."""
    key = "spark.sql.exchange.reuse"
    old = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, old)


@pytest.fixture(scope="session")
def duck(sf_dir):
    from swivel_spark_prep_spark.oracle import duckdb_connection

    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session", params=ORACLE_SFS, ids=os.path.basename)
def each_sf(request):
    """Parametrizes the oracle replay over the configured SF list:
    sf0.001 by default (fast run), sf0.001 + the driver's sf0.01 when
    SPARK_GRAFT_FULL_SFS=1 (the round-close run) — see tests/_sfs.py
    for the rationale. Parametrization-time gating, never a skip."""
    return request.param


@pytest.fixture(scope="session")
def duck_for():
    """Lazily-opened DuckDB oracle connection per SF dir (closed at
    session end) — the per-SF twin of the `duck` fixture."""
    from swivel_spark_prep_spark.oracle import duckdb_connection

    cons = {}

    def get(sfd):
        if sfd not in cons:
            cons[sfd] = duckdb_connection(sfd)
        return cons[sfd]

    yield get
    for con in cons.values():
        con.close()
