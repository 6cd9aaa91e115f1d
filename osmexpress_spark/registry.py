"""The query registry: every contract query is declared once,
with ``@defq``, in one of the query modules (``MODULES``).

A declaration carries everything the consumers need:

- ``oracle`` — the DuckDB SQL that must hash-match the Spark result,
  or a zero-argument callable returning it (resolved by ``Query.sql``,
  for oracles that read a fixture which must not be built at import);
- ``family`` — the SURVEY §2.9 family the query belongs to;
- ``bench`` — ``bench.py`` times the query as one of its lines;
- ``pending`` — staged: proven by the same strict oracle-parity gate,
  but kept out of the live registry (and the 50-slot correctness
  window) until it is promoted by dropping the flag.

``live()`` and ``pending()`` are the only views; ``__spark_entry__``,
``bench.py``, ``scaling.py``, ``tools/`` and the tests all derive from
them.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

# Registration order is module rank first, then declaration order
# within the module — never the order in which a caller happened to
# import the modules.  __spark_entry__.priority_order() breaks
# evidence-age ties by this order, so it fixes the correctness window.
MODULES = ("queries", "queries_data", "queries_osm", "queries_update")


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable  # (spark, sf_dir) -> DataFrame
    oracle: str | Callable[[], str] | None
    family: str | None
    bench: bool
    pending: bool

    def __call__(self, spark, sf_dir):
        return self.build(spark, sf_dir)

    def sql(self) -> str | None:
        return self.oracle() if callable(self.oracle) else self.oracle


_REGISTRY: dict[str, Query] = {}


def defq(name: str, oracle=None, *, family=None, bench=False, pending=False):
    def wrap(fn):
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        _REGISTRY[name] = Query(name, fn, oracle, family, bench, pending)
        return fn

    return wrap


def _ordered() -> list[Query]:
    rank = {f"{__package__}.{mod}": i for i, mod in enumerate(MODULES)}
    for module in rank:
        importlib.import_module(module)
    # stable sort: declaration order survives within each module
    return sorted(_REGISTRY.values(), key=lambda q: rank[q.build.__module__])


def live() -> dict[str, Query]:
    """Registered queries, in registration order."""
    return {q.name: q for q in _ordered() if not q.pending}


def pending() -> dict[str, Query]:
    """Staged queries, in registration order."""
    return {q.name: q for q in _ordered() if q.pending}
