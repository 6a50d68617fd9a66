"""Driver contract for the spark-graft builder (PySpark target).

entry()     — flagship search query at sf0.001 (smoke check).
queries()   — one entry per implemented SURVEY.md §2 operator.
oracle_sql()— DuckDB-equivalent SQL per query (correctness gate).

Implementation lives in cm_well_spark.registry; this module stays thin.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cm_well_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: qp search + typed sort + projection on sf0.001."""
    from cm_well_spark.model import fieldvals as fv
    from cm_well_spark.model.lakehouse import load_infotons
    from cm_well_spark.operators.search import search

    inf = load_infotons(spark, "/root/testdata/sf0.001")
    df = search(inf, qp="rdfType::Customer,acctbal>1000", sort_by="-acctbal", length=100)
    return df.select(
        "path",
        fv.first_value("name").alias("name"),
        fv.first_num("acctbal").alias("acctbal"),
        fv.first_value("mktsegment").alias("mktsegment"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """Oracles for the correctness gate, which runs them on sf0.01."""
    return registry.oracle_sql("/root/testdata/sf0.01")
