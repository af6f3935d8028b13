"""The query-registry header: the shared, ACYCLIC core that both
``queries.py`` (which imports the chunks in order) and every
``qchunks/`` family module import.

This module exists so a chunk module can be imported DIRECTLY —
``import mriya_spark.qchunks.c03_...`` — without touching
``queries.py`` at all. When the header lived inside ``queries.py``,
chunks imported it from there while ``queries.py`` imported the chunks
back; importing a chunk first then hit the partially-initialized
``queries`` module and died with ImportError (found by the r18
self-review). Any consumer that unpickles a module-level chunk
function by reference (a Spark python worker resolving
``fn.__module__``) imports the chunk first, so the cycle had to go.

``REGISTRY`` here is THE one registry object; ``queries.py`` re-exports
it (same dict) and imports the chunks, so registration order remains chunk import order =
SURVEY §2 order.
"""

from __future__ import annotations

import os as _os  # noqa: F401  (chunk modules import it from here)

from dataclasses import dataclass
from typing import Callable

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401

from mriya_spark.catalog import Catalog

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    fn: QueryFn
    oracle: str | None  # None -> rows-only check (non-SQL-expressible)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(fn=fn, oracle=oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    """The registry in registration (SURVEY §2) order. Driver-gate
    staleness ordering is harness policy, not library semantics — it
    lives in ``__spark_entry__.py`` (the driver contract module)."""
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle}


def _cat(spark: SparkSession, sf_dir: str) -> Catalog:
    return Catalog(spark, sf_dir)
