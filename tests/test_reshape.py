"""Tests for the reshape keys (queries/reshape.py): the gap-fill rules
against their sorted-pick definitions.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F


class TestMedianFillRule:
    def test_lower_median_matches_sorted_pick(self, spark):
        # the rank-pick rule (rn == ceil(cnt/2) in (v, day) order) must
        # select sorted(vals)[ceil(n/2) - 1] for odd AND even n
        cases = [
            [3.0], [3.0, 1.0], [5.0, 1.0, 3.0], [4.0, 2.0, 2.0, 8.0],
            [9.0, 1.0, 5.0, 5.0, 2.0], [1.5, 1.5, 1.5, 1.5],
        ]
        rows = [
            (uid, d, v)
            for uid, vals in enumerate(cases)
            for d, v in enumerate(vals)
        ]
        daily = spark.createDataFrame(rows, "user_id long, day long, v double")
        w_rank = Window.partitionBy("user_id").orderBy("v", "day")
        w_cnt = Window.partitionBy("user_id")
        med = (
            daily.select(
                "user_id", "v",
                F.row_number().over(w_rank).alias("rn"),
                F.count(F.lit(1)).over(w_cnt).alias("cnt"),
            )
            .where(F.col("rn") == F.ceil(F.col("cnt") / F.lit(2.0)).cast("bigint"))
            .select("user_id", "v")
        )
        got = {r["user_id"]: r["v"] for r in med.collect()}
        want = {
            uid: sorted(vals)[math.ceil(len(vals) / 2) - 1]
            for uid, vals in enumerate(cases)
        }
        assert got == want
