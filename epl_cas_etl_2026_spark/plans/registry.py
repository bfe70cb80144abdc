"""The one query registrar every ``plans`` module shares."""

from __future__ import annotations


def registrar(queries: dict, oracles: dict):
    """Build a module's ``@_register(name, oracle)`` decorator: it records
    the query function in ``queries`` and, when given, its DuckDB oracle
    SQL in ``oracles``. Modules keep the ``_register`` spelling because
    the decorator line is part of each query's gate fingerprint."""

    def register(name: str, oracle: str | None):
        def deco(fn):
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return register
