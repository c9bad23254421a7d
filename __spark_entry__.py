"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship dataflow on /root/testdata/sf0.001.
queries()      — every implemented operator id (SURVEY.md §2 + the
                 training-data north-star ops), (spark, sf_dir) -> DataFrame.
oracle_sql()   — matching DuckDB SQL for the differential gate.

The implementations live in wsprnet_scraper_spark/ (plans/ holds the
judged surface, operators/ and functions/ the engine pieces).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's session discipline (`session.sql_conf`: UTC,
    ANSI off, nanos-as-long, AQE, broadcast threshold, shuffle
    partitions sized to the machine instead of Spark's 200) to a
    driver-owned session. Every key is runtime-settable SQL conf.
    `load_events` casts as a backstop if the timestamp conf can't be
    set."""
    from wsprnet_scraper_spark.session import sql_conf

    for k, v in sql_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session build; engine defaults apply
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full 27-column enrichment of a synthetic spot batch
    (the reference's whole pipeline), then revenue-of-the-airwaves
    style rollup — spots per band with distance stats."""
    from pyspark.sql import functions as F

    from wsprnet_scraper_spark import pipeline
    from wsprnet_scraper_spark.plans.synth import synth_spots

    _tune(spark)
    sf_dir = "/root/testdata/sf0.001"
    spots = pipeline.with_wd_time(synth_spots(spark, sf_dir))
    enriched = pipeline.enrich(spots)
    return (
        enriched.groupBy("wd_band")
        .agg(
            F.count(F.lit(1)).alias("n_spots"),
            F.sum("distance").alias("total_distance_km"),
            F.max("wd_rx_az").alias("max_rx_az"),
        )
        .orderBy("wd_band")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from wsprnet_scraper_spark.plans import QUERIES

    return {
        name: (lambda spark, sf_dir, _fn=fn: _fn(_tune(spark), sf_dir))
        for name, fn in QUERIES.items()
    }


def oracle_sql() -> dict[str, str]:
    from wsprnet_scraper_spark.plans import ORACLE

    return dict(ORACLE)
