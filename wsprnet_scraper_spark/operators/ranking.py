"""Global order statistics without the single-task window.

`ntile/percent_rank/cume_dist OVER (ORDER BY ...)` with no partition
key is semantically a total order — Spark executes it as ONE task
(WindowExec warns "Moving all data to a single partition"), which is
the plan that dies at 100 TB. `with_global_rank` computes the exact
global row number with bounded parallelism instead:

1. cell bounds from ONE deterministic sample: the keys of lowest
   hash (a bottom-k sketch — the same rows whatever the input's
   partitioning or row order), collapsed into `cells - 1` sorted
   bounds; a row's cell is the number of bounds below its key, so
   cells are ordered, non-overlapping key ranges;
2. per-cell `row_number` — a partitioned window, fully parallel;
3. a per-cell count summary (`cells` rows, not billions) carries a
   running-sum offset and the grand total; its window is deliberately
   single-partition — sanctioned because the input is already reduced
   (plans/audit.py enforces exactly this invariant);
4. broadcast the offsets back: global rank = cell offset + local
   row number.

Steps 2 and 3 both read the cell from the same bounds, so per-cell
counts always equal per-cell row numbers. (Two `repartitionByRange`
branches would each sample their own bounds, and once an input
partition outgrows the range sampler the two disagree.)

Every rank-derived statistic then becomes exact integer arithmetic
over (rank, total): percent_rank = (rank-1)/(n-1), cume_dist =
rank/n (when the order key is unique, rank == row_number), and
ntile's remainder-to-the-front bucket sizing is reproduced literally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# sampled keys per cell, as Spark's range exchange samples per
# partition (spark.sql.execution.rangeExchange.sampleSizePerPartition)
_SAMPLE_PER_CELL = 100


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "grn",
    total_col: str = "grn_total",
    cells: int | None = None,
) -> DataFrame:
    """df + (`rank_col`: exact 1-based global row number under
    `order_cols`, `total_col`: total row count), no single-task
    window over the big relation.

    Requires a tie-free ordering (include a unique key in
    `order_cols`) — with ties, rows within a tie group get an
    arbitrary but valid order, like row_number itself.
    """
    if cells is None:
        cells = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    key = F.struct(*order_cols)
    sample = (
        df.select(key.alias("_k"))
        .orderBy(F.xxhash64("_k"), "_k")
        .limit(_SAMPLE_PER_CELL * cells)
        .agg(F.sort_array(F.collect_list("_k")).alias("_s"))
    )
    n = F.size("_s")
    bounds = sample.select(
        F.array(
            *[
                F.try_element_at("_s", (n * j / cells).cast("int") + 1)
                for j in range(1, cells)
            ]
        ).alias("_b")
    )
    celled = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("_cell", F.size(F.filter("_b", lambda b: b < key)))
        .drop("_b")
    )
    wl = Window.partitionBy("_cell").orderBy(*order_cols)
    local = celled.repartitionByRange(cells, "_cell").withColumn(
        "_lrn", F.row_number().over(wl)
    )
    counts = celled.groupBy("_cell").agg(F.count(F.lit(1)).alias("_cnt"))
    # summary frame: `cells` rows — single partition by design
    # (input is the per-cell Aggregate; audited in plans/audit.py)
    ws = Window.orderBy("_cell")
    offsets = counts.select(
        "_cell",
        F.coalesce(
            F.sum("_cnt").over(ws.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_off"),
        F.sum("_cnt")
        .over(
            ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias(total_col),
    )
    return (
        local.join(F.broadcast(offsets), "_cell")
        .withColumn(rank_col, F.col("_off") + F.col("_lrn"))
        .drop("_cell", "_lrn", "_off")
    )


def _idiv(a: Column, b) -> Column:
    # exact integer floor-division for non-negative operands: the
    # numerator is made exactly divisible first, so the double
    # division is exact and the cast can't truncate a .999...
    return ((a - a % b) / b).cast("long")


def ntile_of(rank: Column, total: Column, k: int) -> Column:
    """Exact ntile(k) for a global `rank` out of `total`: the first
    (total % k) buckets take ceil(total/k) rows — Spark's and
    DuckDB's shared remainder-to-the-front contract, restated as
    integer arithmetic."""
    n = total.cast("long")
    base = _idiv(n, k)
    rem = n - base * k
    big = base + 1
    cutoff = rem * big
    return (
        F.when(rank <= cutoff, _idiv(rank - 1, big) + 1)
        .otherwise(rem + _idiv(rank - 1 - cutoff, base) + 1)
        .cast("long")
    )


def percent_rank_of(rank: Column, total: Column) -> Column:
    """(rank-1)/(n-1) — exact when the ordering is tie-free (rank ==
    row_number), the same double division both engines perform."""
    return (rank - 1).cast("double") / (total - 1).cast("double")


def cume_dist_of(rank: Column, total: Column) -> Column:
    """rank/n — exact when the ordering is tie-free."""
    return rank.cast("double") / total.cast("double")
