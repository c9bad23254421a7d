"""Scalable sequence-gap detection over a monotonic id column.

The reference scans the sorted batch once in bash
(/root/reference/wsprnet-scraper.sh:284-309). The naive Spark
translation — `lag` over `Window.orderBy(id)` with no partition key —
is correct but collapses the whole relation into ONE task (Spark's
unpartitioned window), which is exactly the plan that dies at 100 TB.

`sequence_gaps` keeps the same semantics with bounded parallelism:

1. block the id space by value range (`id div block_size`) — contiguous
   blocks, so within-block `lag` (a partitioned window, fully parallel)
   finds every gap except those spanning a block boundary;
2. a per-block summary (min, max) — thousands of rows, not billions —
   is lag'd globally to find the boundary gaps, including whole
   missing blocks.

The union of (1) and (2) is exactly the global-lag result: the global
lag of a block's first id is the previous non-empty block's max,
which is what (2) computes. Duplicated ids produce gap = -1 and are
filtered like any non-positive diff, matching the reference (which
never sees duplicates because Spotnum is a server-side sequence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sequence_gaps(
    df: DataFrame, id_col: str = "Spotnum", block_size: int = 1 << 20
) -> DataFrame:
    """(id, gap) rows for every positive gap in the id sequence.

    `gap` is the number of missing ids immediately before `id`
    (the reference's per-index gap attribution). Two shuffles, both
    parallel: the block-partitioned window sort, and the tiny
    summary window.
    """
    s = df.select(F.col(id_col).alias("_s")).withColumn(
        "_blk", F.expr(f"_s div {block_size}")
    )
    wb = Window.partitionBy("_blk").orderBy("_s")
    intra = (
        s.withColumn("gap", F.col("_s") - F.lag("_s", 1).over(wb) - 1)
        .filter(F.col("gap") > 0)
        .select(F.col("_s").alias(id_col), "gap")
    )
    summary = s.groupBy("_blk").agg(F.min("_s").alias("_mn"), F.max("_s").alias("_mx"))
    # summary is |ids|/block_size rows — tiny; deliberately
    # single-partition. Sanctioned because its input is an Aggregate
    # (plans/audit.py enforces exactly this: unpartitioned => reduced)
    ws = Window.orderBy("_blk")
    boundary = (
        summary.withColumn("_prev_mx", F.lag("_mx", 1).over(ws))
        .filter(F.col("_prev_mx").isNotNull())
        .withColumn("gap", F.col("_mn") - F.col("_prev_mx") - 1)
        .filter(F.col("gap") > 0)
        .select(F.col("_mn").alias(id_col), "gap")
    )
    return intra.unionByName(boundary)


def gap_summary(
    df: DataFrame, id_col: str = "Spotnum", block_size: int = 1 << 20
) -> DataFrame:
    """One-row telemetry in one action: n_spots, first_spotnum,
    last_spotnum and the reference's three gap accumulators
    (total_gaps, total_missing, max_gap_size; wsprnet-scraper.sh:
    285-308). `sequence_gaps`' decomposition, with the within-block
    gaps folded into its per-block summary (one shuffle on the block
    key serves both the window and the block aggregate)."""
    s = df.select(F.col(id_col).alias("_s")).withColumn(
        "_blk", F.expr(f"_s div {block_size}")
    )
    wb = Window.partitionBy("_blk").orderBy("_s")
    gap = F.col("_s") - F.lag("_s", 1).over(wb) - 1
    blocks = (
        s.withColumn("_g", F.when(gap > 0, gap))
        .groupBy("_blk")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("_s").alias("_mn"),
            F.max("_s").alias("_mx"),
            F.count("_g").alias("_gaps"),
            F.sum("_g").alias("_missing"),
            F.max("_g").alias("_max"),
        )
    )
    # unpartitioned on purpose: the input is the block Aggregate
    # (plans/audit.py's unpartitioned => reduced rule)
    bgap = F.col("_mn") - F.lag("_mx", 1).over(Window.orderBy("_blk")) - 1
    blocks = blocks.withColumn("_bg", F.when(bgap > 0, bgap))
    return blocks.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).alias("n_spots"),
        F.min("_mn").alias("first_spotnum"),
        F.max("_mx").alias("last_spotnum"),
        (F.coalesce(F.sum("_gaps"), F.lit(0)) + F.count("_bg")).alias("total_gaps"),
        (
            F.coalesce(F.sum("_missing"), F.lit(0))
            + F.coalesce(F.sum("_bg"), F.lit(0))
        ).alias("total_missing"),
        F.coalesce(F.greatest(F.max("_max"), F.max("_bg")), F.lit(0)).alias(
            "max_gap_size"
        ),
    )


def gap_stats(
    df: DataFrame, id_col: str = "Spotnum", block_size: int = 1 << 20
) -> DataFrame:
    """One-row gap telemetry: total_gaps, total_missing, max_gap_size
    (the 3-column projection of `gap_summary`)."""
    return gap_summary(df, id_col, block_size).select(
        "total_gaps", "total_missing", "max_gap_size"
    )
