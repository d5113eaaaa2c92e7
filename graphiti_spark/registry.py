"""Driver-facing query registry, built by convention: every `q_<name>`
function defined in a family module of `graphiti_spark.queries` is the
query `<name>`, and that module's `_sql_<name>` is its DuckDB oracle."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .queries import ann, docs, events, graph, kg, media, search


def _collect(mod):
    for attr, fn in vars(mod).items():
        if attr.startswith("q_") and getattr(fn, "__module__", None) == mod.__name__:
            name = attr[2:]
            oracle = getattr(mod, f"_sql_{name}", None)
            if oracle is None:
                raise ImportError(f"query {name} has no oracle _sql_{name} in {mod.__name__}")
            yield name, fn, oracle


_FOUND = [q for mod in (kg, graph, docs, ann, media, events, search) for q in _collect(mod)]
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {n: q for n, q, _ in _FOUND}
ORACLES: dict[str, Callable[[], str]] = {n: o for n, _, o in _FOUND}


def oracle_sql() -> dict[str, str]:
    return {name: fn() for name, fn in ORACLES.items()}
