"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-construction query (pages -> clean +
chunk -> extraction -> entity resolution -> edge dedup -> temporal
invalidation -> canonical triples) at sf0.001. `queries()` exposes every
implemented operator from SURVEY.md §2 plus the training-data document
operators; `oracle_sql()` gives the DuckDB-equivalent SQL for each. Both
come from `graphiti_spark.registry`, which collects every `q_<name>` /
`_sql_<name>` pair of the per-family modules in `graphiti_spark/queries/`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from graphiti_spark import registry
from graphiti_spark.queries import kg


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return kg.q_kg_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
