"""Query registry: one named entry per SURVEY.md §2 operator.

Each query is a pair:

- a PySpark callable ``(spark, sf_dir) -> DataFrame`` (the engine path),
- optionally a DuckDB-runnable ANSI-SQL string (the oracle path).

The driver (``__spark_entry__.py``) runs both at sf0.01 and compares
row-count + schema + order-insensitive value hash. Discipline enforced
here (SURVEY.md §7 "hard parts"):

- alias EVERY computed column identically on both sides;
- round floating-point aggregates (ROUND_* constants);
- any LIMIT query is totally ordered (unique tie-break keys) so both
  engines pick the same rows;
- timestamps leave queries as formatted strings or DATEs, never raw
  timestamps, to sidestep tz/precision representation drift.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


#: Global registry, populated at import time by the query modules.
QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
):
    """Decorator: register a query callable under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "")
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills QUERIES).

    Returns a copy of the registry in module-import order, i.e. the
    order in which the query modules registered their entries.
    """
    from jubilant_garbanzo_spark.queries import (  # noqa: F401
        aggregates,
        analytics,
        graphs,
        joins,
        llm,
        pipeline,
        quality,
        relational,
        retrieval,
        setops,
        sources,
        streaming,
        tpch,
        windows,
    )

    return dict(QUERIES)
