"""Loaders for the driver-generated test tables (TESTDATA.md).

`load(spark, sf_dir)` returns a dict of raw DataFrames; these are the
*external* sources that the ingest adapter (model/builder.py) turns into
the canonical infoton lakehouse.

Every scale factor of the test tables has the same schemas, given here
so a read runs no schema-inference job (one per table otherwise).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double,"
        " o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, l_quantity double,"
        " l_extendedprice double, l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLES = list(SCHEMAS)


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.schema(SCHEMAS[name]).parquet(os.path.join(sf_dir, f"{name}.parquet"))
