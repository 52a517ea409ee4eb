"""Canary for driver-side testdata regeneration.

The driver regenerated /root/testdata between rounds 3 and 4, silently
flipping events.ts from TIMESTAMP(NANOS) to µs-without-UTC-flag
(TIMESTAMP_NTZ to Spark 4) — which broke every event-time query. These
tests pin the *post-load* contract, and check every schema the catalog
declares against the files' own, so any future physical-format drift
fails loudly here instead of being misread or failing as a cryptic
analysis error deep in a query.
"""

from __future__ import annotations

import glob
import os

import pytest

from modevetl_spark.sources.catalog import SCHEMAS, TABLES, load

# The dtypes every query in the registry is written against (as
# catalog.load returns them, regardless of the parquet writer's
# timestamp flavor or physical int widths for these columns).
_EXPECTED = {
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderdate": "timestamp",
        "o_totalprice": "double",
        "o_orderstatus": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_shipdate": "timestamp",
        "l_returnflag": "string",
        "l_linestatus": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


@pytest.mark.parametrize("table", sorted(_EXPECTED))
def test_loaded_dtypes_stable(spark, sf_dir, table):
    got = dict(load(spark, sf_dir, table).dtypes)
    for col, want in _EXPECTED[table].items():
        assert col in got, f"{table}.{col} vanished from testdata"
        assert got[col] == want, (
            f"{table}.{col}: loaded as {got[col]}, queries expect {want} — "
            f"testdata format changed; update catalog.SCHEMAS"
        )


def test_no_ntz_survives_load(spark, sf_dir):
    """TIMESTAMP_NTZ must never escape catalog.load — downstream
    unix_micros/window/interval arithmetic rejects it — not even on a
    session whose default timestamp type is NTZ."""
    try:
        for ts_type in ("TIMESTAMP_LTZ", "TIMESTAMP_NTZ"):
            spark.conf.set("spark.sql.timestampType", ts_type)
            for t in TABLES:
                got = load(spark, sf_dir, t).dtypes
                bad = [c for c, ty in got if "ntz" in ty]
                assert not bad, (
                    f"{t}: NTZ columns leaked through load() under {ts_type}: {bad}"
                )
    finally:
        spark.conf.unset("spark.sql.timestampType")


@pytest.mark.parametrize("table", TABLES)
def test_declared_schema_matches_files(spark, sf_dir, table):
    """Drift guard: catalog.load reads with the declared schema and never
    looks at the file footer, so a regenerated table whose schema moved
    would be misread silently. Compare the declared read against Spark's
    own inference (on a prep()-ed session, as every query runs) in the
    test SF directory and every ``sf*`` directory beside it."""
    from modevetl_spark.queries import prep

    prep(spark)
    siblings = glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*"))
    for d in sorted({sf_dir, *siblings}):
        path = f"{d}/{table}.parquet"
        declared = spark.read.schema(SCHEMAS[table]).parquet(path).schema
        inferred = spark.read.parquet(path).schema
        assert declared == inferred, (
            f"{table} at {os.path.basename(d)}: declared "
            f"{declared.simpleString()}, files hold {inferred.simpleString()} "
            f"— update catalog.SCHEMAS"
        )
