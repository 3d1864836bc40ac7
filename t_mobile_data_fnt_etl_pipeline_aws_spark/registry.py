"""Query + oracle registry backing __spark_entry__.py.

Every operator from SURVEY.md §2 registers here via the ``@query`` decorator:

    @query("q_agg_hash", oracle="SELECT ...")
    def q_agg_hash(spark, sf_dir) -> DataFrame: ...

``oracle=None`` marks a rows-only query (non-SQL-expressible — the driver
records the weaker check; SURVEY.md §2 documents which keys and why).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Modules that register queries on import (one per SURVEY.md §2 block).
_QUERY_MODULES = [
    "operators.scans",
    "operators.filters",
    "operators.joins",
    "operators.aggregates",
    "operators.windows",
    "operators.analytics",
    "operators.sorts",
    "operators.setops",
    "operators.dedup",
    "operators.clustering",
    "operators.linkage",
    "operators.stats",
    "operators.mining",
    "operators.mlfeat",
    "operators.graph",
    "operators.similarity",
    "operators.text",
    "operators.multimodal",
    "operators.llmprep",
    "operators.reporting",
    "operators.sketches",
    "operators.reshape",
    "operators.subqueries",
    "operators.pipelines",
    "functions.scalar",
    "functions.udfs",
    "streaming.windows",
]


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key {key!r}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


def _import_all() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(f"{__package__}.{mod}")


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    _import_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    """Every SQL oracle, in registration order."""
    _import_all()
    return dict(ORACLES)
