"""The driver query registry: the naming rule (query `q_<name>`, oracle
`_sql_<name>`, both in one family module of graphiti_spark/queries/)
registers every query under its own name. The oracle gate parametrizes
over whatever is registered, so a query dropped here would silently
leave the gate; these checks catch that."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import graphiti_spark.queries as queries_pkg
from graphiti_spark import registry


def _own_functions(prefix: str):
    for info in pkgutil.iter_modules(queries_pkg.__path__):
        mod = importlib.import_module(f"{queries_pkg.__name__}.{info.name}")
        for attr, fn in vars(mod).items():
            if attr.startswith(prefix) and inspect.isfunction(fn) \
                    and fn.__module__ == mod.__name__:
                yield mod.__name__, attr, fn


def test_query_count():
    assert len(registry.QUERIES) == 169


def test_every_query_has_an_oracle():
    assert set(registry.QUERIES) == set(registry.ORACLES)


def test_every_defined_query_is_registered_under_its_name():
    found = list(_own_functions("q_"))
    assert len(found) == len(registry.QUERIES)
    for mod, attr, fn in found:
        assert registry.QUERIES.get(attr[2:]) is fn, (mod, attr)


def test_every_oracle_name_belongs_to_a_query():
    # an `_sql_<name>` without a `q_<name>` is a helper named like an oracle
    for mod, attr, _ in _own_functions("_sql_"):
        assert attr[5:] in registry.QUERIES, (mod, attr)
