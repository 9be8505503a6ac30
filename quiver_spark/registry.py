"""Query registry — the single source of truth for the declared operator
surface (SURVEY.md §2.3).

Every operator the engine claims is registered here as a ``QuerySpec``:
a Spark builder ``(spark, sf_dir) -> DataFrame`` plus (whenever expressible)
the ANSI-SQL oracle DuckDB runs on the same parquet tables. The driver's
correctness gate executes both and hash-compares values, so builders and
oracles follow strict determinism rules:

- Float aggregates go through exact DECIMAL arithmetic (order-insensitive)
  and are cast to DOUBLE only at the end, on BOTH sides — bit-identical
  regardless of Spark partitioning / DuckDB vectorization order.
- Averages divide the exact decimal sum (as double) by the count — one IEEE
  division of identical operands.
- Every computed column is aliased identically on both sides.
- Top-k orderings always carry a unique tie-breaker column.
- Timestamps are grouped/truncated (never emitted at raw ns precision).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable

if TYPE_CHECKING:  # annotations only: the format layer imports this package without Spark
    from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    bench: bool = True  # include in bench.py headline timings
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = True,
    tags: tuple[str, ...] = (),
):
    """Decorator: register a query builder under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(
            name=name,
            spark=fn,
            oracle=oracle,
            bench=bench,
            tags=tuple(tags),
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def load_all_operators() -> dict[str, QuerySpec]:
    """Import every operator module (triggering registration) and return the
    completed registry. Idempotent."""
    import quiver_spark.operators  # noqa: F401  (side-effect: registration)

    return QUERIES
