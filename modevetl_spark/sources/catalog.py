"""Parquet catalog over the driver-generated test tables.

Reference analog: ``pyLibrary/env/elasticsearch.py`` treats an ES index as
the table; here the table is a parquet path. The scan is declarative
(``spark.read.parquet``) so Catalyst gets predicate pushdown + column
pruning for free — the Spark-native equivalent of the reference pushing
``fields``/filters into the ES query DSL (SURVEY.md §4).

Every table's schema is declared once in ``SCHEMAS``, so a read launches no
Spark job to infer it from the file footer. Timestamps are declared
``TIMESTAMP_LTZ`` (session-UTC, as the engine and the DuckDB oracle work),
spelled out so a session's ``spark.sql.timestampType`` cannot turn them
into NTZ. tests/test_testdata_canary.py checks every declaration against
the files at every SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
    "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
    "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP_LTZ, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate TIMESTAMP_LTZ",
    "events": "event_id BIGINT, ts TIMESTAMP_LTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, "
    "n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLES = tuple(SCHEMAS)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table not in SCHEMAS:
        raise KeyError(f"unknown table {table!r}; known: {TABLES}")
    return spark.read.schema(SCHEMAS[table]).parquet(f"{sf_dir}/{table}.parquet")
