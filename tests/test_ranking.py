"""Unit edges for the distributed global-rank operator (the oracle
gate covers win_ntile_dist at scale; these pin the corners)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from wsprnet_scraper_spark.operators import ranking


def test_ntile_fewer_rows_than_buckets(spark):
    # n < k: each row gets its own bucket 1..n (and the otherwise
    # branch's base=0 division must not blow up)
    df = spark.range(3).select(
        (F.col("id") + 1).alias("rank"), F.lit(3).alias("total")
    )
    got = [
        (r.rank, r.b)
        for r in df.select(
            "rank", ranking.ntile_of(F.col("rank"), F.col("total"), 7).alias("b")
        ).collect()
    ]
    assert sorted(got) == [(1, 1), (2, 2), (3, 3)]


def test_global_rank_equals_naive_window(spark):
    small = spark.range(997).select(
        (F.col("id") * 37 % 1000).alias("v"), F.col("id").alias("k")
    )
    # 12.5k rows per input partition, far more than the ~100 keys per
    # cell a range sampler takes, plus a payload column outside the
    # order: two range exchanges would sample different bounds here
    big = spark.range(0, 50_000, 1, 4).select(
        (F.col("id") * 7919 % 50_000).alias("v"),
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("p"),
    )
    for df, cells in ((small, 7), (big, 4)):
        ranked = ranking.with_global_rank(df, ["v", "k"], cells=cells)
        naive = df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "k"))
        )
        rows = ranked.collect()
        got = {(r.v, r.k): r.grn for r in rows}
        want = {(r.v, r.k): r.rn for r in naive.collect()}
        assert got == want
        assert {r.grn_total for r in rows} == {len(want)}
