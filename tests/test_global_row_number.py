"""operators/relational.py::global_row_number: the two-phase rank must
read ONE partitioning in both of its legs, whatever columns the
consumer prunes."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_rank_blocks_match_row_number_when_consumer_prunes_columns(spark):
    """The counts leg reads only the order key while this consumer
    also reads `g`, so the two legs plan different range exchanges,
    each sampling its own bounds: offsets from one partitioning plus
    local indexes from the other misrank whole partitions (r78's
    wrong U). Every tie block must receive exactly the row numbers a
    row_number() window gives it."""
    from miningfrequentpattern_spark.operators.relational import (
        global_row_number,
    )

    rng = random.Random(3)
    rows = [(rng.randrange(2), float(rng.randrange(300))) for _ in range(4000)]
    df = spark.createDataFrame(rows, "g int, v double")

    def blocks(ranked):
        return sorted(
            ranked.groupBy("v")
            .agg(
                F.min("rk").alias("lo"),
                F.max("rk").alias("hi"),
                F.count(F.lit(1)).alias("n"),
                F.sum("g").alias("g"),
            )
            .collect()
        )

    got = blocks(
        global_row_number(df, [F.col("v").asc()], "rk", num_partitions=8)
    )
    want = blocks(df.withColumn("rk", F.row_number().over(Window.orderBy("v"))))
    assert got == want
