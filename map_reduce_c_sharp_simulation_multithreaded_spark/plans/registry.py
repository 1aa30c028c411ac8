"""Central query registry.

A query is (name, PySpark callable, optional DuckDB oracle SQL). The
oracle is the independent differential-testing engine (SURVEY.md §5.2):
``tests/test_oracle_parity.py`` runs both on every registered query
and compares row count + schema + order-insensitive value hash. Column
names are aliased identically on both sides; double aggregates are
rounded identically on both sides so float-summation order differences
(reference sums in arbitrary order too, ``D/Program.cs:162,315``)
cannot flip the hash.

Queries with ``oracle=None`` would get only a rows-materialize check;
``tests/test_oracle_parity.py`` keeps the registry free of them.

``oracle`` may also be a CALLABLE ``(sf_dir: str) -> str`` for oracles
whose SQL depends on the data (e.g. a trained-codebook ANN query: the
codebook floats are re-derived at oracle time and rendered as
literals). ``resolve_oracle`` turns either form into a plain string.

``register`` pins the session: the function it stores and returns runs
``session.pin_session`` before the plan is built, so every query sees
the engine's posture (UTC, AQE, shuffle width) on a session it did not
create, whether it is called through the registry or imported directly.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import pin_session

QueryFn = Callable[[SparkSession, str], DataFrame]
OracleSpec = "str | Callable[[str], str] | None"

_REGISTRY: dict[str, "Query"] = {}


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | Callable[[str], str] | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    headline: bool = False  # included in bench.py's timed set


def resolve_oracle(
    oracle: str | Callable[[str], str] | None, sf_dir: str
) -> str | None:
    """Materialize an oracle spec into SQL (callables get ``sf_dir``)."""
    return oracle(sf_dir) if callable(oracle) else oracle


def register(
    name: str,
    oracle: str | Callable[[str], str] | None = None,
    tags: tuple[str, ...] = (),
    headline: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` and return it pinned."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_session(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = Query(name, pinned, oracle, tuple(tags), headline)
        return pinned

    return deco


def _load_all_plan_modules() -> None:
    # Import side effects populate the registry; keep the list explicit so
    # a broken module is an import error, not silent missing coverage.
    from . import (  # noqa: F401
        advanced,
        aggregates,
        dedup,
        events,
        flagship,
        joins,
        layout,
        mlprep,
        multimodal,
        relational,
        scalars,
        scd,
        setops,
        similarity,
        sinks,
        streaming,
        text,
        tpch,
        windows,
    )


def all_queries() -> dict[str, Query]:
    """Every registered query, in registration order."""
    _load_all_plan_modules()
    return dict(_REGISTRY)


def headline_queries() -> dict[str, Query]:
    return {n: q for n, q in all_queries().items() if q.headline}
