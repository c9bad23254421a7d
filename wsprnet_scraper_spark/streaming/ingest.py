"""Spark side of the ingest: landing dir -> enrich -> idempotent sink.

One code path for stream and batch: the transformations are exactly
`pipeline.cast_types` -> `with_wd_time` -> `enrich`, the same
functions the batch pipeline and the judged queries use — Spark's
unified model replaces the reference's three subprocess stages
(wsprnet-scraper.sh -> wsprnet_azi_calc.py -> ts_upload_batch.py).

Delivery semantics: the file source + checkpoint give at-least-once
into foreachBatch; the sink write is made idempotent per the
reference's own pattern (`INSERT ... ON CONFLICT ("Spotnum") DO
NOTHING` on the TimescaleDB primary key — SURVEY.md §4.3). With a
JDBC sink that conflict clause is the whole story and costs O(batch).
The parquet stand-in used in tests anti-joins the batch against the
sink's existing Spotnums — fine at test scale, and documented as the
piece you swap for the PK upsert in production.

Gap telemetry (wsprnet-scraper.sh:284-309, 335-339) runs inside
foreachBatch as ONE Spark action (`operators.sequence.gap_summary`:
count, id span and within-batch gaps), plus the inter-batch boundary
gap against the previous batch's max, held as driver-side state in
the closure (SURVEY.md §7.3.6 — deliberately NOT
applyInPandasWithState; a scalar per stream doesn't need distributed
state). A ~2k-spot tick is almost all fixed cost, so the enriched
stream is built once per session and landing dir (prepared-plan
cache, plans/registry.py) and only re-started per tick.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline
from ..schema import SPOT_SCHEMA_RAW


def read_spot_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of the landing dir -> enriched 27-column stream.

    Explicit schema (never infer on a stream), NDJSON line format.
    `maxFilesPerTrigger` bounds micro-batch size — the knob that keeps
    per-batch memory flat during a large backfill replay.
    """
    reader = spark.readStream.schema(SPOT_SCHEMA_RAW)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(landing_dir)
    return pipeline.enrich(pipeline.with_wd_time(pipeline.cast_types(raw)))


@dataclass
class GapMonitor:
    """Driver-side gap telemetry state + per-batch records; `observe`
    is the per-batch gap work, one Spark action (`gap_summary`)."""

    last_spotnum: int | None = None
    records: list[dict] = field(default_factory=list)

    def observe(self, batch_df: DataFrame, batch_id: int) -> None:
        """Record intra-batch gap stats and the inter-batch boundary gap.

        Gap detection uses the block-partitioned operator
        (operators/sequence.py) so a large backfill batch doesn't
        funnel through a single-task global window; normal scrape
        batches (~2k rows) don't notice either way.
        """
        from ..operators.sequence import gap_summary

        row = gap_summary(batch_df).first().asDict()
        if row["n_spots"] == 0:
            return
        boundary_gap = (
            None
            if self.last_spotnum is None
            else row["first_spotnum"] - self.last_spotnum - 1
        )
        self.records.append({"batch_id": batch_id, **row, "boundary_gap": boundary_gap})
        self.last_spotnum = row["last_spotnum"]


def sink_spotnums(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The Spotnums already in the parquet sink, read with an explicit
    schema: inferring the sink's schema costs a Spark job per read."""
    return spark.read.schema("Spotnum LONG").parquet(sink_dir)


def _dedup_against_sink(batch_df: DataFrame, sink_dir: str) -> DataFrame:
    """Idempotency for the parquet stand-in sink.

    Within-batch dropDuplicates on the Spotnum key, then left_anti
    against Spotnums already in the sink (the replayed-batch case
    after a failure between sink write and checkpoint commit). A JDBC
    sink replaces ALL of this with `ON CONFLICT DO NOTHING` on the PK.
    """
    batch_df = batch_df.dropDuplicates(["Spotnum"])
    if not os.path.isdir(sink_dir) or not any(
        name.endswith(".parquet") for name in os.listdir(sink_dir)
    ):
        return batch_df
    existing = sink_spotnums(batch_df.sparkSession, sink_dir)
    return batch_df.join(existing, on="Spotnum", how="left_anti")


def start_ingest(
    spark: SparkSession,
    landing_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    monitor: GapMonitor | None = None,
    available_now: bool = True,
    processing_time: str = "30 seconds",
    mirror_fn=None,
    max_files_per_trigger: int | None = None,
):
    """Start the ingest query: landing stream -> enrich -> parquet sink.

    availableNow=True drains everything currently landed and stops —
    the mode both the tests and a backfill replay use; the daemon mode
    uses a 30 s processing-time trigger (cadence parity with the
    reference's cycle; exact 55/85/115 phase alignment is the
    *fetcher's* job, so the Spark trigger only needs to keep up).
    Returns the StreamingQuery.

    `mirror_fn(batch_df, batch_id)` is an optional SECOND sink run in
    the same foreachBatch over the same deduped batch — the
    reference's optional ClickHouse import next to the TimescaleDB
    load (wsprnet-scraper.sh:405-407,426-429; SURVEY §2.1
    snk_clickhouse). The batch is cached, so fan-out costs one extra
    write, not a recompute.
    """
    monitor = monitor if monitor is not None else GapMonitor()

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        deduped = _dedup_against_sink(batch_df, sink_dir).cache()
        try:
            monitor.observe(deduped, batch_id)
            deduped.write.mode("append").parquet(sink_dir)
            if mirror_fn is not None:
                mirror_fn(deduped, batch_id)
        finally:
            deduped.unpersist()

    # observe(): zero-cost in-plan metrics surfaced per micro-batch in
    # StreamingQueryProgress.observedMetrics — the ops dashboard feed
    # (rows landed, spot-id watermark span) without a second pass or a
    # count() job against the batch. Built once per session and
    # landing dir; the checkpoint alone decides what each start reads.
    from ..plans.registry import prepared

    stream = prepared(
        spark,
        ("ingest", landing_dir, max_files_per_trigger),
        lambda: read_spot_stream(spark, landing_dir, max_files_per_trigger).observe(
            "ingest",
            F.count(F.lit(1)).alias("rows"),
            F.min("Spotnum").alias("min_spotnum"),
            F.max("Spotnum").alias("max_spotnum"),
        ),
    )
    writer = (
        stream.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
