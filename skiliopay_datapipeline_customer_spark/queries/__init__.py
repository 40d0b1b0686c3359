"""Declared-query registry — the t2 correctness surface.

Every implemented operator from SURVEY.md §2 registers here as a named query
(a ``(spark, sf_dir) -> DataFrame`` callable) together with the ANSI-SQL
oracle DuckDB runs over the same parquet tables. The driver compares
row-count + schema + order-insensitive value hash, with columns sorted by
name — so every computed column is aliased identically on both sides, and
float aggregates are rounded on both sides to absorb summation-order noise.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a declared query and (optionally) its DuckDB oracle SQL."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run.
    ``iter_modules`` yields names sorted, which fixes declaration order."""
    for mod in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{mod.name}")


def _last_verified() -> dict[str, int]:
    """Latest round each query got a green driver row, from the repo-root
    CORRECTNESS_r*.json audit trail. Non-green rows don't count, so a failed
    query rotates straight back into the window after a fix."""
    from ..artifacts import round_artifacts

    last: dict[str, int] = {}
    for rnd, data in round_artifacts("CORRECTNESS"):
        for q, rec in data.items():
            if not isinstance(rec, dict):
                continue
            err = rec.get("err")
            # green oracle row, or a rows-only query that got its (weaker)
            # contract check — both count as "verified this round" so they
            # rotate out of the window; real failures rotate back in.
            green = err is None and (
                rec.get("hash_match")
                or (rec.get("rows_match") and rec.get("hash_match") is None)
            )
            if green or err == "no_oracle":
                last[q] = max(last.get(q, 0), rnd)
    return last


# Verification order: queries with no green CORRECTNESS row come first,
# then the rest by the round of their last green row, oldest first. Ties
# keep declaration order, so every query cycles through a sampled window.
def _rotated(names: list[str]) -> list[str]:
    last = _last_verified()
    return sorted(names, key=lambda q: last.get(q, -1))  # stable: ties keep order


def all_queries():
    load_all()
    return {name: QUERIES[name] for name in _rotated(list(QUERIES))}


def all_oracles():
    load_all()
    order = _rotated(list(QUERIES))
    return {name: ORACLES[name] for name in order if name in ORACLES}
