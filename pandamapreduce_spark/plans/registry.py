"""Central query registry.

Each query is registered once with:
- a Spark builder ``(spark, sf_dir) -> DataFrame`` — the engine's
  native implementation (DataFrame ops, Catalyst-optimized);
- an optional DuckDB oracle SQL string over the same parquet tables
  (views: region nation customer supplier part orders lineitem events
  documents embeddings). ``None`` marks genuinely non-SQL-expressible
  operators — the driver then records a weaker rows-only check.

Column-name contract: the driver sorts columns by name before hashing
values, so the Spark result and the oracle result must use IDENTICAL
column names (alias everything on both sides).

Float contract (see ``plans.numeric``): every double column in a
compared result must be derived through exact decimal arithmetic and
converted to double the same way on both sides, so values are bitwise
identical regardless of the driver's rounding policy.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    build: Builder
    oracle: str | None
    doc: str = ""
    #: headline queries run in bench.py at sf0.1
    bench: bool = False
    tags: tuple[str, ...] = field(default=())
    #: DuckDB SQL over the fixture's views returning one boolean: does
    #: ``oracle`` hold expected rows for this fixture? Set only for
    #: oracles that pin literal rows per fixture; ``None`` means the
    #: oracle is computed and covers every fixture.
    covers: str | None = None


REGISTRY: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
    covers: str | None = None,
):
    """Decorator: register a query builder under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Drop the previous query's scoped caches (q90/q94/q96
            # prefix-sum intermediates) so registry-driven sessions
            # never accumulate pinned RDDs. Direct fn() calls between
            # plans (e.g. q94 → q33) bypass this — only the outermost
            # registry dispatch releases.
            from pandamapreduce_spark.caching import release_caches

            release_caches()
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(
            name=name, build=build, oracle=oracle, doc=doc or (fn.__doc__ or ""), bench=bench, tags=tags, covers=covers
        )
        return fn

    return deco
