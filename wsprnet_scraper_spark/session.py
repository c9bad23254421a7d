"""SparkSession factory.

Everything in the reference runs in UTC (TZ=UTC at
wsprnet-scraper.sh:17), so the session timezone is pinned to UTC —
otherwise `from_unixtime` output shifts and oracle comparison against
DuckDB (whose timestamps are UTC-naive) breaks.

Defaults are sized for local[N] testing but the knobs are the same
ones that matter on a real cluster: AQE on (runtime coalesce + skew
join), shuffle partitions ~ cores locally (on a cluster this is set
to 2-3x total cores or left to AQE), Arrow enabled for the few
Pandas-UDF paths.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def sql_conf() -> dict[str, str]:
    """The session's runtime-settable SQL conf — one owner for
    `get_session` and for a driver-owned session (`__spark_entry__._tune`).
    A function, not a constant: the core count is read when the session
    is built, after a caller has set SPARK_GRAFT_CPUS."""
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(cpu_count()),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Broadcast anything under 32 MiB: every dimension table in the
        # judged workload (band dim, region, nation, supplier, part at
        # test SFs) should go broadcast, never shuffle.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        # permissive arithmetic/cast semantics: the reference tolerates
        # bad rows (div-by-zero -> null, failed cast -> null) and DuckDB
        # returns NULL for double division by zero; Spark 4's ANSI mode
        # would throw instead
        "spark.sql.ansi.enabled": "false",
        # the events test table stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long and convert explicitly
        # (sources.tables.load does the ns->timestamp conversion)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # parquet TIMESTAMP without timezone (timestamp[us], how the
        # driver's generator writes events.ts) must read as TIMESTAMP,
        # not TIMESTAMP_NTZ: the whole engine runs in UTC and the
        # DuckDB oracle reads the same column as UTC-naive, so LTZ@UTC
        # and the oracle agree wall-clock for free, while NTZ breaks
        # every time function that requires TIMESTAMP (unix_micros,
        # window(), watermarks).
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }


def get_session(app_name: str = "wsprnet_scraper_spark") -> SparkSession:
    # Python workers must be able to import this package even when the
    # driver script runs from elsewhere (sys.path edits don't reach
    # forked workers): export the package parent on PYTHONPATH before
    # the JVM starts. On a real cluster the equivalent is --py-files /
    # spark.submit.pyFiles with the packaged wheel.
    pkg_parent = str(Path(__file__).resolve().parents[1])
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )
    builder = (
        SparkSession.builder.master(f"local[{cpu_count()}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # JDK 17's GCLocker throws a SPURIOUS OutOfMemoryError when an
        # allocation retries too often while JNI critical sections
        # (parquet/snappy native reads) keep the GC locked — observed
        # live as "Retried waiting for GCLocker too often allocating
        # 131074 words" killing a 60M-row scan that a 48 GB heap was
        # nowhere near filling (r7 money-oracle re-gate at the 100×
        # corpus; the same job completes in 30 s with retries raised).
        # 64 retries instead of the default 2 makes the wait win.
        # APPENDED to (not clobbering) any user/env-supplied options
        # via SPARK_GRAFT_DRIVER_JAVA_OPTS (ADVICE r7). JDK note: the
        # flag is HotSpot-diagnostic; -XX:+UnlockDiagnosticVMOptions
        # precedes it, and any JDK 11+ HotSpot (the only JVMs Spark 4
        # supports) accepts the pair. A non-HotSpot JVM would need
        # SPARK_GRAFT_DRIVER_JAVA_OPTS="" plus its own tuning — the
        # env var is the documented escape hatch.
        .config(
            "spark.driver.extraJavaOptions",
            (
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
                + " -XX:+UnlockDiagnosticVMOptions"
                " -XX:GCLockerRetryAllocationCount=64"
            ).strip(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in sql_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec logs "No Partition Defined" for every single-partition
    # window, including the sanctioned tiny-summary ones. The engine
    # enforces that policy mechanically instead (plans/audit.py +
    # tests/test_window_whitelist.py fail on any single-task window
    # over un-collapsed input), so the log warning is pure noise here
    # — raise that one logger to ERROR.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # best-effort: a different log backend keeps the warning
    return spark


@contextmanager
def scoped_conf(spark, conf: dict):
    """Set each SQL conf key in `conf` for the block, then put back the
    earlier value, or unset the key if it was unset before — also
    when the block raises. The conf is session-global while set: a
    query planned concurrently on the same session sees it too."""
    saved = {}
    try:
        for k, v in conf.items():
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        yield
    finally:
        for k, prev in saved.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)
