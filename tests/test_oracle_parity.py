"""The local mirror of the driver's correctness gate: registered
queries' PySpark results must match their DuckDB oracles bit-for-bit
at sf0.001 (fast); ``tools/check_parity.py`` runs the same at sf0.01.

Default scope (r16, the r15 verdict's ask #1 — the driver's pytest
window expired at ~40% of a 50-minute suite, and verification that
cannot finish attests nothing): the DRIVER'S OWN 50-slot verification
window (``derive_driver_window()`` — never-verified entries first,
then this round's rewritten plans, then oldest evidence) plus every
headline entry. That is exactly the set whose hashes the next
CORRECTNESS file re-attests, i.e. the highest-value oracle coverage
per minute; every other entry holds green on-disk evidence from a
prior round's CORRECTNESS file (the rotation's invariant). The scope
also keeps the window's oldest-evidence block as it stands before any
rewrite (``_stalest_rechecks``): a change to a substrate module fills
the window with the entries it owns, and without that block the same
change would drop the stalest re-checks from the local gate. The FULL
240-entry sweep is unchanged and one switch away:

    PANDAS_AWS_FULL_PARITY=1 python -m pytest tests/test_oracle_parity.py
    python tools/check_parity.py            # the sf0.01 variant
"""

from __future__ import annotations

import os

import pytest

from pandas_aws_spark.oracle import check_query, duckdb_connection
from pandas_aws_spark.registry import (
    _WINDOW_SIZE,
    derive_driver_window,
    evidence_rounds,
    load_registry,
)

REGISTRY = load_registry()


def _stalest_rechecks() -> set[str]:
    """The ``_WINDOW_SIZE`` verified entries with the oldest green
    evidence, ties by name: the window's re-check block when no entry
    is new or rewritten."""
    latest = evidence_rounds()
    pool = sorted((n for n in REGISTRY if n in latest), key=lambda n: (latest[n], n))
    return set(pool[:_WINDOW_SIZE])


_FULL = os.environ.get("PANDAS_AWS_FULL_PARITY", "") == "1"
_DEFAULT = set(derive_driver_window()) | _stalest_rechecks() | {
    n for n, s in REGISTRY.items() if s.headline
}
_SCOPE = sorted(REGISTRY) if _FULL else sorted(_DEFAULT & set(REGISTRY))


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


def test_default_scope_is_driver_window_plus_headline():
    """The subset contract stays honest: the default parametrization is
    exactly the driver's window union the stalest re-checks union the
    headline set — if the window derivation changes, this test
    recomputes with it; if an entry is in none, it relies on
    prior-round CORRECTNESS evidence, which ``derive_driver_window``
    rotates by staleness."""
    if _FULL:
        assert set(_SCOPE) == set(REGISTRY)
    else:
        assert set(_SCOPE) == (set(derive_driver_window()) | _stalest_rechecks() | {
            n for n, s in REGISTRY.items() if s.headline
        })
        assert len(_SCOPE) >= 50


@pytest.mark.parametrize("name", _SCOPE)
def test_query_matches_oracle(spark, con, sf_dir, name, query_frames):
    spec = REGISTRY[name]
    # Hash the frame the shared session build produced (r16 suite wall
    # time — conftest.query_frames): spec.fn already ran once in this
    # session; a lifecycle entry re-run would re-execute its whole
    # index build/merge pipeline only to produce the same final read.
    # Same function, same session, same deterministic artifacts — the
    # oracle comparison is unchanged.
    res = check_query(
        spark, con, name, lambda s, d: query_frames[name], spec.oracle, sf_dir
    )
    assert res.ok, f"{name}: {res.detail}"
    assert res.spark_rows >= 0
