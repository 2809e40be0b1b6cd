"""Query registry helpers shared by `__spark_entry__.py` and the query
wave modules: a query name is registered once, and a second definition
of the same name raises at import instead of silently replacing the
first."""

from __future__ import annotations


def registrar(queries: dict, oracles: dict):
    """Return a ``@register(name, oracle=None)`` decorator that adds the
    query to ``queries`` (and its oracle SQL to ``oracles``)."""

    def register(name: str, oracle: str | None = None):
        def deco(fn):
            if name in queries:
                raise ValueError(f"query {name!r} is already registered")
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return register


def merge(dst: dict, src: dict) -> None:
    """``dst.update(src)``, raising on any key both already hold."""
    dup = sorted(dst.keys() & src.keys())
    if dup:
        raise ValueError(f"queries registered twice: {dup}")
    dst.update(src)
