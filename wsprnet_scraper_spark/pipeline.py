"""The batch enrichment pipeline: parse -> sort/gap-check -> enrich -> sink.

This is the reference's three stages (wsprnet-scraper.sh JSON->CSV,
wsprnet_azi_calc.py enrichment, ts_upload_batch.py load) re-expressed
as composable DataFrame transforms. The same `enrich` is used by the
batch path, the judged queries, and Structured Streaming — one code
path for stream+batch.

Scale notes: enrich() is projection-only (no shuffle, stays in one
whole-stage-codegen span); the gap check needs an order by Spotnum,
and operators/sequence.py computes it block-partitioned instead of
as one global sort or a collect to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import functions as wf
from .schema import (
    NOISE_SENTINEL,
    SINK_COLUMNS,
    SOURCE_COLUMNS,
    SPOT_SCHEMA,
    SPOT_SCHEMA_RAW,
)


def cast_types(df: DataFrame) -> DataFrame:
    """Apply the typed schema to a stringly-typed spot relation.

    The reference keeps every value a string in flight and lets the
    sink apply types (ts_upload_batch.py:37); here the cast happens
    once at parse so everything downstream is typed.
    """
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in SPOT_SCHEMA.fields]
    )


def parse_json(spark, path: str, multiline: bool = True) -> DataFrame:
    """Read API-shaped JSON spot arrays.

    By-name matching with unknown-key dropping and absent->null, the
    same semantics as the reference's key whitelist
    (wsprnet_azi_calc.py:194). The API quotes numbers, so fields are
    read as strings and cast explicitly (the reference is likewise
    stringly-typed in flight).
    """
    df = (
        spark.read.schema(SPOT_SCHEMA_RAW)
        .option("multiLine", multiline)
        .json(path)
    )
    return cast_types(df)


def parse_csv(spark, path: str) -> DataFrame:
    """Read stage CSV; rows with the wrong column count are skipped,
    not fatal — numpy genfromtxt loose-mode semantics
    (wsprnet_azi_calc.py:145).

    Implemented as text -> naive comma split -> arity filter -> cast,
    which is exactly what genfromtxt(delimiter=',') does (no quote
    handling in the reference either). Spark's own DROPMALFORMED pads
    short rows with nulls instead of dropping them, so it does NOT
    reproduce this.
    """
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), ",", -1)
    return cast_types(
        lines.filter(F.size(parts) == len(SOURCE_COLUMNS)).select(
            *[parts.getItem(i).alias(name) for i, name in enumerate(SOURCE_COLUMNS)]
        )
    )


def with_wd_time(df: DataFrame) -> DataFrame:
    """Derive the wd_time wire timestamp from the Date epoch column
    (wsprnet-scraper.sh:313-323)."""
    return df.withColumn("wd_time", wf.wd_time_from_epoch(F.col("Date")))


def enrich(df: DataFrame) -> DataFrame:
    """Add the 11 derived wd_* columns (wsprnet_azi_calc.py:92-140).

    Entirely native Column expressions: decodes both locators, both
    azimuths, the path vertex, and the band — no Python boundary.
    Output columns are typed (double/int); `to_wire` applies the
    string formatting layer.

    Built as STAGED projections (locators, then azimuths, then the
    vertex chain): each intermediate is a named column used by the
    next stage, never re-inlined. The fully-nested Column form
    duplicates the whole upstream tree at every `when` branch —
    exponential plan size, ~19 s of analysis+codegen per query
    regardless of data volume. Staged, the same math plans in
    milliseconds and still fuses into a single whole-stage-codegen
    span (zero shuffles either way).
    """
    df = df.withColumns(
        {
            "wd_tx_lat": wf.grid_lat(F.col("Grid")),
            "wd_tx_lon": wf.grid_lon(F.col("Grid")),
            "wd_rx_lat": wf.grid_lat(F.col("ReporterGrid")),
            "wd_rx_lon": wf.grid_lon(F.col("ReporterGrid")),
        }
    )
    tla, tlo = F.col("wd_tx_lat"), F.col("wd_tx_lon")
    rla, rlo = F.col("wd_rx_lat"), F.col("wd_rx_lon")
    df = df.withColumns(
        {
            "_rx_azi": wf.azimuth_rx(tla, tlo, rla, rlo),
            "_tx_azi": wf.azimuth_tx(tla, tlo, rla, rlo),
        }
    )
    df = wf.add_vertex_cols(
        df,
        "wd_tx_lat",
        "wd_tx_lon",
        "wd_rx_lat",
        "wd_rx_lon",
        "_rx_azi",
        v_lat="wd_v_lat",
        v_lon="wd_v_lon",
    )
    return (
        df.withColumn("wd_band", wf.band_from_mhz(F.col("MHz")))
        .withColumn("wd_c2_noise", F.lit(NOISE_SENTINEL))
        .withColumn("wd_rms_noise", F.lit(NOISE_SENTINEL))
        .withColumn("wd_rx_az", wf.rint_int(F.col("_rx_azi")))
        .withColumn("wd_tx_az", wf.rint_int(F.col("_tx_azi")))
        .select(*SINK_COLUMNS)
    )


def to_wire(df: DataFrame) -> DataFrame:
    """Project the enriched relation to the reference's exact wire
    format: %.3f lat/lons, '-999.9' noise sentinels, int azimuths
    (wsprnet_azi_calc.py:171-181)."""
    fmt_cols = {
        "wd_rx_lat",
        "wd_rx_lon",
        "wd_tx_lat",
        "wd_tx_lon",
        "wd_v_lat",
        "wd_v_lon",
    }
    out = df
    for name in fmt_cols:
        out = out.withColumn(name, wf.fmt3(F.col(name)))
    out = out.withColumn("wd_c2_noise", F.lit("-999.9")).withColumn(
        "wd_rms_noise", F.lit("-999.9")
    )
    return out.select(*SINK_COLUMNS)


def sort_by_spotnum(df: DataFrame) -> DataFrame:
    """Global numeric sort by Spotnum.

    The reference sorts lexicographically on the whole CSV line
    (wsprnet-scraper.sh:267) which is only accidentally numeric; we
    adopt numeric sort (deviation recorded in SURVEY.md §2.6).
    """
    return df.orderBy("Spotnum")


def write_wire_csv(df: DataFrame, path: str) -> None:
    """CSV sink in the reference's exact shape: 27 columns, sink
    order, QUOTE_MINIMAL, no header (wsprnet_azi_calc.py:226-229)."""
    to_wire(df).write.mode("overwrite").option("header", False).option(
        "emptyValue", ""
    ).csv(path)
