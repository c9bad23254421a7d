"""Loaders for the driver test tables (TPC-H-ish star schema + events).

`load` is a parquet scan — Catalyst handles column pruning and
predicate pushdown, so callers just read and filter/select — plus a
scan-parallelism heal: the test tables are single-file, single-row-
group parquet, and one row group can only ever be read by one task
(byte-range splits assign whole row groups), so every map-side
pipeline over them would otherwise run serially no matter how many
cores the session has. When a table over 256 KB scans as fewer than
half the session's parallelism (estimated splits * 2 <= cores), `load`
inserts an explicit round-robin `repartition(cores)` — a few-MB
shuffle that unlocks full fan-out for the expensive per-row work
downstream (trig, string formatting, shingling). The guard compares
the scan's split estimate with the core count, so it holds for a
table of up to cores/2 * maxPartitionBytes and is a no-op above that;
it exists for the reference's workload shape, where one scrape batch
is one small file (wsprnet-scraper.sh:233 lands one curl body per
cycle). The explicit partition count matters: AQE's
coalescePartitions leaves REPARTITION_BY_NUM shuffles alone, while a
bare `repartition()` would be coalesced right back to one partition.

The heal depends on the core count and on input size, so a plan over
a table under 256 KB has a different shape (no exchange) than the
same plan over a larger one. Stream state partitions are sized from
bytes alone, by `partitions_for`; scans keep the heal until their
traffic has been measured at 8 and 32 cores (ROADMAP direction 1),
because the 8 MiB per-partition budget was calibrated on state size
and would leave compute-bound scans under 8 MiB one task wide.

`load_events` (through `events_ts`, which stream readers share)
papers over a reader gap: events.parquet stores its
`ts` column as parquet TIMESTAMP(NANOS), which Spark's vectorized
reader rejects outright. With spark.sql.legacy.parquet.nanosAsLong
(set in session.py) the column arrives as Long nanoseconds; the
conversion to TimestampType must use integer division (`div 1000`) —
a float division of an int64 epoch-nanos loses precision above 2^53.
DuckDB truncates ns->us on read the same way, so both engines see
identical microsecond timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Tables at or under this size stay as-scanned: they are broadcast
# dimensions (region/nation/supplier/part) where an extra exchange
# buys nothing.
_PARALLELIZE_MIN_BYTES = 256 << 10


def _size_to_bytes(value, default: int = 128 << 20) -> int:
    """Spark size-suffixed conf value -> bytes ('128m', '128MB',
    '134217728b', plain digits). Falls back to `default` on anything
    unparsable rather than failing the load."""
    try:
        t = str(value).strip().lower()
        if t.endswith("b"):
            t = t[:-1]
        mult = 1
        if t and t[-1] in "kmgtp":
            mult = 1 << (10 * ("kmgtp".index(t[-1]) + 1))
            t = t[:-1]
        return int(t) * mult
    except (ValueError, TypeError):
        return default


def _dataset_bytes(path: str) -> int | None:
    """Total data bytes of a local dataset path — a plain file's size,
    or the sum of data files under a directory dataset (Spark-written
    parquet is a DIRECTORY; os.path.getsize on it returns the inode
    size, ~4 KB, which silently disabled the under-parallel-scan heal
    for multi-file datasets and left e.g. a 10-file 140 MB table
    running 10-wide on 32 cores). None = not statable — a non-local
    URI (s3://, hdfs://) or a path that does not exist locally.
    ADVICE r13: a remote URI used to fall through os.walk and return
    0, which the stream sizing clamped to 1 partition — exactly the
    production case the sizing rule serves; "unknown" must be None,
    never 0."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if not os.path.isdir(path):
            return None
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
        return total
    except OSError:
        return None


def partitions_for(nbytes: int | None) -> int | None:
    """Partition count for `nbytes` of input: one per 8 MiB, clamped
    to [1, 4096]; None when the size is unknown. Sizes stream state
    (`plans/streaming_q._stream_parts_conf`) and decides whether a
    standing relation's handle is pinned (`operators/stores._entry`)."""
    if nbytes is None:
        return None
    return max(1, min(4096, -(-nbytes // (8 << 20))))


def load(
    spark: SparkSession, sf_dir: str, name: str, parallel: str = "auto"
) -> DataFrame:
    """Read one test table.

    parallel: "auto" heals under-parallel scans of non-tiny local
    files (see module docstring); "always" forces the heal regardless
    of size (for compute-heavy plans over small tables, e.g. MinHash
    shingling over `documents`); "never" returns the raw scan
    (for plans that must observe the on-disk layout).
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if parallel == "never":
        return df
    nbytes = _dataset_bytes(path)
    if nbytes is None:
        return df  # non-local path: trust the scan's own layout
    if parallel == "auto" and nbytes < _PARALLELIZE_MIN_BYTES:
        return df
    # Estimate the scan's split count statically (size / maxPartitionBytes)
    # instead of probing df.rdd.getNumPartitions(): the probe forces
    # analysis + RDD conversion of the scan on the driver, which costs
    # more than the heal saves on sub-second queries.
    cores = spark.sparkContext.defaultParallelism
    max_split = _size_to_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    est_splits = max(1, -(-nbytes // max_split))
    if est_splits * 2 <= cores:
        df = df.repartition(cores)
    return df


def events_ts(df: DataFrame) -> DataFrame:
    """events.ts as TimestampType, read off `df.schema`, so a batch or
    a streaming frame over events takes the same rule."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # Naive parquet timestamp read as NTZ (a session without the
        # inferTimestampNTZ=false conf, e.g. a driver-owned session where
        # the runtime set was too late for a cached catalog entry). The
        # session runs UTC, so NTZ -> TIMESTAMP is a wall-clock-preserving
        # reinterpretation and matches DuckDB's UTC-naive read.
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def load_events(
    spark: SparkSession, sf_dir: str, parallel: str = "auto"
) -> DataFrame:
    return events_ts(load(spark, sf_dir, "events", parallel=parallel))
