"""Tests for the event keys (queries/events.py): rewrite equivalence
against the classic window forms, identity-stitching encodings, and
plan-shape gates.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


class TestLatestWinsRewrite:
    def test_max_struct_equals_row_number_pick(self, spark):
        # ties on ts (the realistic hazard) break by unique event_id in
        # BOTH formulations — the agg rewrite must match the window
        rows = [
            (1, "2024-01-01 00:00:00", 10, "a"),
            (1, "2024-01-02 00:00:00", 11, "b"),
            (1, "2024-01-02 00:00:00", 12, "c"),  # ts tie, higher id wins
            (2, "2024-01-05 00:00:00", 20, "d"),
            (3, "2024-01-03 00:00:00", 31, "e"),
            (3, "2024-01-03 00:00:00", 30, "f"),  # ts tie, 31 wins
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, ts_s string, event_id long, event_type string"
        ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"),
                 "event_id", "event_type")
        agg = (
            ev.groupBy("user_id")
            .agg(
                F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
                F.count(F.lit(1)).cast("bigint").alias("n_versions"),
            )
            .select(
                "user_id",
                F.col("last.ts").alias("last_ts"),
                F.col("last.event_id").alias("last_event_id"),
                F.col("last.event_type").alias("last_event_type"),
                "n_versions",
            )
        )
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        win = (
            ev.select(
                "user_id", "ts", "event_id", "event_type",
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias(
                    "n_versions"
                ),
            )
            .where(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("ts").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_event_type"),
                F.col("n_versions").cast("bigint").alias("n_versions"),
            )
        )
        got = {r["user_id"]: tuple(r) for r in agg.collect()}
        want = {r["user_id"]: tuple(r) for r in win.collect()}
        assert got == want
        assert got[1][2] == 12 and got[3][2] == 31

    def test_empty_input(self, spark):
        ev = spark.createDataFrame(
            [], "user_id long, ts timestamp, event_id long, event_type string"
        )
        agg = ev.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type")).alias("last")
        )
        assert agg.count() == 0


class TestSessionStitchEncoding:
    def test_components_resolve_min_user_across_link_types(self, spark):
        from modevetl_spark.operators.components import connected_components

        # users 1,2 share device 7; users 2,3 share email 7 (SAME raw k,
        # different identifier space — must NOT merge with the device);
        # user 9 is isolated on its own identifiers
        edges = spark.createDataFrame(
            [
                (1, 100000 + 7), (2, 100000 + 7),   # device 7
                (2, 200000 + 7), (3, 200000 + 7),   # email 7 (distinct node)
                (9, 100000 + 50), (9, 200000 + 51),
            ],
            "src long, dst long",
        )
        comp = connected_components(edges)
        users = {
            r["node"]: r["component"]
            for r in comp.where(F.col("node") < 100000).collect()
        }
        assert users == {1: 1, 2: 1, 3: 1, 9: 9}

    def test_device_email_spaces_stay_disjoint(self, spark):
        from modevetl_spark.operators.components import connected_components

        # identical raw k on device vs email must not connect users
        edges = spark.createDataFrame(
            [(1, 100000 + 5), (2, 200000 + 5)], "src long, dst long"
        )
        comp = connected_components(edges)
        users = {
            r["node"]: r["component"]
            for r in comp.where(F.col("node") < 100000).collect()
        }
        assert users == {1: 1, 2: 2}


class TestWave7PlanGates:
    """Pin the plan shapes the key docstrings promise."""

    def test_latest_wins_single_exchange_with_partial_agg(self, spark, sf_dir):
        from modevetl_spark.queries.events import QUERIES

        df = QUERIES["q_dedup_latest_wins"](spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
        assert p.count("Exchange") == 1, p
        # map-side combine: a partial aggregate below the exchange
        assert "partial" in p.lower(), p

    def test_session_stitch_edge_scan_pushes_signup_filter(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from modevetl_spark.sources.catalog import load

        s = (
            load(spark, sf_dir, "events")
            .where(F.col("event_type") == "signup")
            .select(
                "user_id",
                "event_id",
                F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            )
        )
        p = s._jdf.queryExecution().executedPlan().toString()
        scan = next(l for l in p.splitlines() if "FileScan parquet" in l)
        assert "event_type" in scan and "signup" in scan, scan
        cols = scan.split("[", 1)[1].split("]", 1)[0].split(",")
        assert len(cols) == 4, scan  # user_id, event_id, event_type, props
