"""Central query registry.

Every operator in SURVEY.md §2 registers itself here with a name, a
callable ``(spark, sf_dir) -> DataFrame``, and (when SQL-expressible) a
DuckDB oracle SQL string. ``__spark_entry__.py`` exposes these dicts to
the driver's correctness harness.

Design note (scale): the registry is declaration-only — each entry is a
pure function of ``sf_dir`` that builds a *lazy* DataFrame plan. Nothing
here collects or caches, so the same entries run unchanged on a real
cluster against arbitrarily large inputs.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
#: key -> the keys registered with ``oracle_of`` that key
_SHARERS: dict[str, list[str]] = {}


def register(name: str, oracle: Optional[str] = None,
             oracle_of: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name`` with an optional DuckDB oracle.

    ``oracle=None`` means the op is not SQL-expressible (driver records a
    rows-only check); pytest covers its semantics instead. ``oracle_of``
    names the key whose oracle ``name`` shares instead (a maintained view
    and the cold query it answers); a key that registers later hands its
    oracle on when it registers.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        text = oracle
        if oracle_of is not None:
            _SHARERS.setdefault(oracle_of, []).append(name)
            text = ORACLES.get(oracle_of)
        if text is not None:
            for key in (name, *_SHARERS.get(name, ())):
                ORACLES[key] = text
        return fn

    return deco


def reorder(first: list[str]) -> None:
    """Re-order QUERIES/ORACLES in place so ``first`` keys iterate first.

    The driver's correctness harness attests a fixed-size prefix of
    ``queries()`` in registration (= dict iteration) order each round, so
    rotating the order is how previously-unattested operators get a
    correctness row. Keys not in ``first`` keep their relative order
    after it; unknown keys in ``first`` are ignored (registration is the
    source of truth for what exists).
    """
    for d in (QUERIES, ORACLES):
        snapshot = dict(d)
        d.clear()
        for k in first:
            if k in snapshot:
                d[k] = snapshot.pop(k)
        d.update(snapshot)
