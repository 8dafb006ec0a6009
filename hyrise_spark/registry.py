"""Query registry — the single source of truth for the driver contract.

Every implemented operator/query from SURVEY.md §2 registers itself here with
a builder `(spark, sf_dir) -> DataFrame` and, when SQL-expressible, a DuckDB
oracle SQL string. `__spark_entry__.py` re-exports this registry as
`queries()` / `oracle_sql()`.

Two ways in:

  * `register_sql(name, text, tags)` — the default for any query Spark can
    run from its SQL text. The text is the oracle AND the builder: the
    builder loads the base tables the text names and returns
    `spark.sql(text)` (`Engine.execute(text)` with `engine=True`, for the
    engine's SQL dialect), so DuckDB and Spark run one text and there is no
    second spelling to drift. The TPC-H, SSB, JOB and TPC-DS suites
    (plans/tpch.py, ssb.py, job.py, tpcds_real.py, tpcds.py) are registered
    this way, as are the relational, analytic, window, events, TPC-C and
    curate queries whose Spark side is the same text. The layout variants
    (bucketed, date-sorted, date-partitioned, JCC-H) keep thin builders
    that point one of these texts' oracles at a relaid copy.
  * `@register(name, oracle=..., tags=...)` over a hand-written builder —
    only where a measured reason (a plan or a timing the text cannot reach,
    a construct Spark SQL lacks, a materialization the text cannot express)
    is written next to the builder.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import TESTDATA_TABLES, load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    builder: QueryFn
    oracle: Optional[str]  # DuckDB SQL, or None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    # base tables a register_sql builder loads; None for hand builders
    sql_tables: Optional[tuple[str, ...]] = None


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: Optional[str] = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QueryDef(name=name, builder=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def register_sql(name: str, text: str, tags: tuple[str, ...] = (),
                 engine: bool = False) -> None:
    """Register a query whose SQL text is both its DuckDB oracle and its
    Spark builder.

    The builder registers views for only the base tables named in the text,
    then returns `spark.sql(text)`, or with `engine=True`
    `Engine(spark).execute(text)`: for a text in the engine's dialect
    (QUALIFY, frame EXCLUDE, window FILTER and DISTINCT, DISTINCT ON, star
    modifiers, correlated projections) that DuckDB runs natively and
    Spark's parser does not. Registering a view is not free: on a 4-core
    VM, all 10 base tables took ~50 ms per call and 4 took ~15 ms.
    """
    tables = tuple(t for t in TESTDATA_TABLES if re.search(rf"\b{t}\b", text))

    def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir, tables)
        if engine:
            from hyrise_spark.engine import Engine

            return Engine(spark).execute(text)
        return spark.sql(text)

    register(name, oracle=text, tags=tags)(builder)
    _REGISTRY[name].sql_tables = tables


def all_queries() -> dict[str, QueryDef]:
    # Import side-effect modules that populate the registry.
    import hyrise_spark.plans.tpch  # noqa: F401
    import hyrise_spark.plans.tpch_bucketed  # noqa: F401  (reuses tpch oracles)
    import hyrise_spark.plans.tpch_datesorted  # noqa: F401  (reuses tpch/ssb oracles)
    import hyrise_spark.plans.tpch_datepartitioned  # noqa: F401  (reuses tpch oracle)
    import hyrise_spark.plans.ssb  # noqa: F401
    import hyrise_spark.plans.tpcds  # noqa: F401
    import hyrise_spark.plans.tpcds_real  # noqa: F401
    import hyrise_spark.plans.job  # noqa: F401
    import hyrise_spark.plans.tpcc  # noqa: F401
    import hyrise_spark.plans.jcch  # noqa: F401
    import hyrise_spark.plans.jcch_suite  # noqa: F401  (reuses tpch oracles)
    import hyrise_spark.plans.relational  # noqa: F401
    import hyrise_spark.plans.intervals  # noqa: F401
    import hyrise_spark.plans.windows  # noqa: F401
    import hyrise_spark.plans.events  # noqa: F401
    import hyrise_spark.plans.analytic  # noqa: F401
    import hyrise_spark.pipeline.text  # noqa: F401
    import hyrise_spark.pipeline.retrieval  # noqa: F401
    import hyrise_spark.pipeline.dedup  # noqa: F401
    import hyrise_spark.pipeline.graph  # noqa: F401
    import hyrise_spark.pipeline.similarity  # noqa: F401
    import hyrise_spark.pipeline.multimodal  # noqa: F401
    import hyrise_spark.pipeline.curate  # noqa: F401

    return dict(_REGISTRY)
