"""Named-query registry — the engine's "predefined query" surface.

The reference exposed predefined/parameterized queries through an API
layer that turned user input into SQL and returned tables (reference
README.md:16, README.md:66-68). This registry is that capability as a
library: every operator the engine implements registers a named
DataFrame builder here, optionally with an equivalent ANSI-SQL string
used for differential testing against a DuckDB oracle (SURVEY.md §5).

Keys follow SURVEY.md §2's operator inventory so coverage can be
audited line by line.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a named query; ``oracle`` is the equivalent
    DuckDB-runnable ANSI SQL (omit for non-SQL-expressible operators —
    those get a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so registration side effects run."""
    from . import operators  # noqa: F401


def run(name: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute a registered query by name (loads operators on first
    use). The library's one-line entry point:

        >>> registry.run("tpch_q3_shipping_priority", spark, data_dir)
    """
    load_all()
    try:
        fn = QUERIES[name]
    except KeyError:
        import difflib

        hint = difflib.get_close_matches(name, QUERIES, n=3)
        raise KeyError(
            f"unknown query {name!r}; close matches: {hint}"
        ) from None
    return fn(spark, sf_dir)


def names() -> list[str]:
    """Registered query keys (sorted); keys with a SQL oracle carry
    a differential-test contract, the rest are rows-only."""
    load_all()
    return sorted(QUERIES)


def describe(name: str) -> str:
    """A query's docstring + its oracle SQL (executable semantics
    documentation)."""
    load_all()
    fn = QUERIES[name]
    doc = (fn.__doc__ or "").strip()
    sql = ORACLE_SQL.get(name)
    return doc + ("\n\n-- oracle SQL --\n" + sql if sql else "")
