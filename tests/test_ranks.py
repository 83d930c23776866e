"""The ranks kernel against global windows at a size where Spark's
range-partitioner sample no longer pins the partition boundaries."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from swivel_spark_prep_spark.operators.ranks import (
    partitioned_prefix_extremum,
    partitioned_prefix_sum,
)


def test_prefix_sum_and_max_match_global_window_400k(spark, exchange_reuse):
    n = 400_000
    # 7919 is coprime with n, so k is a permutation of 0..n-1 and the
    # input arrives out of key order
    rows = spark.range(n).select(
        ((F.col("id") * 7919) % n).alias("k"),
        ((F.col("id") * 31) % 1000).alias("v"),
    )
    got = partitioned_prefix_extremum(
        partitioned_prefix_sum(rows, ["k"], "v", ["s"]),
        ["k"], "v", "m", inclusive=True,
    )
    w = Window.orderBy("k")
    want = rows.select(
        "k",
        F.coalesce(
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("s_want"),
        F.max("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("m_want"),
    )
    cnt, wrong = got.join(want, "k").agg(
        F.count("*"),
        F.count(
            F.when((F.col("s") != F.col("s_want")) | (F.col("m") != F.col("m_want")), 1)
        ),
    ).first()
    assert (cnt, wrong) == (n, 0)
