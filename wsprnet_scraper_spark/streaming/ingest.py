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
The parquet stand-in keeps the tick O(batch) too (`append_to_sink`):
it reads the batch's Spotnum range [lo, hi], then anti-joins the
batch against only the sink files whose recorded [min, max] overlaps
it. The ranges live in a per-session index {file name -> (min, max)}
(`registry.prepared` key ("sink_ranges", sink_dir), so
`clear_plan_cache` and `session_maintenance` own its lifetime); files
the index does not know (another writer's history, a killed run's
files, everything on a session's first tick) cost one Spark job that
groups their Spotnum min/max by file name. A file is skipped only when
its range excludes the batch, so the check is exact — which is what
keeps a replayed epoch idempotent.

Gap telemetry (wsprnet-scraper.sh:284-309, 335-339) rides on the
written plan: one window partitioned by `Spotnum div 2^20` and ordered
by Spotnum drops in-batch duplicates and yields each row's gap to the
row before it, and one `Observation` on the write carries the count,
id span, in-block gap accumulators and each block's [min, max]; the
driver folds the cross-block gaps as `operators.sequence.gap_summary`
does. `GapMonitor.record` adds the inter-batch boundary gap against
the previous batch's max, held as driver-side state (SURVEY.md
§7.3.6 — deliberately NOT applyInPandasWithState; a scalar per stream
doesn't need distributed state). A ~2k-spot tick is almost all fixed
cost, so the enriched stream is built once per session and landing
dir (prepared-plan cache, plans/registry.py) and only re-started per
tick.
"""

from __future__ import annotations

import math
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
    """Driver-side gap telemetry state + per-batch records."""

    last_spotnum: int | None = None
    records: list[dict] = field(default_factory=list)

    def record(self, summary: dict, batch_id: int) -> None:
        """Record one batch's `gap_summary` row (a dict) and its
        boundary gap against the previous batch; an empty batch leaves
        no record and no state change."""
        if summary["n_spots"] == 0:
            return
        boundary_gap = (
            None
            if self.last_spotnum is None
            else summary["first_spotnum"] - self.last_spotnum - 1
        )
        self.records.append(
            {"batch_id": batch_id, **summary, "boundary_gap": boundary_gap}
        )
        self.last_spotnum = summary["last_spotnum"]

    def observe(self, batch_df: DataFrame, batch_id: int) -> None:
        """`record` over `gap_summary` of an already deduped batch —
        one Spark action, for callers outside the ingest tick (which
        gets its summary from the written plan instead)."""
        from ..operators.sequence import gap_summary

        self.record(gap_summary(batch_df).first().asDict(), batch_id)


def sink_spotnums(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The Spotnums already in the parquet sink, read with an explicit
    schema: inferring the sink's schema costs a Spark job per read."""
    return spark.read.schema("Spotnum LONG").parquet(sink_dir)


# The Spotnum block of the tick's window, as in operators/sequence.
_BLOCK = 1 << 20


def _sink_files(sink_dir: str) -> list[str]:
    """Names of the sink's data files (Spark's listing rule: hidden
    `.`/`_` names are not data)."""
    try:
        names = os.listdir(sink_dir)
    except FileNotFoundError:
        return []
    return [n for n in names if n.endswith(".parquet") and n[0] not in "._"]


def _sink_ranges(spark: SparkSession, sink_dir: str) -> dict:
    """The session's {file name -> (min, max) Spotnum} index of
    sink_dir (module docstring)."""
    from ..plans.registry import prepared

    return prepared(spark, ("sink_ranges", sink_dir), dict)


def _overlapping_files(
    spark: SparkSession, sink_dir: str, names: list[str], lo: int, hi: int
) -> list[str]:
    """The files among `names` (the sink's current listing) that can
    hold a Spotnum in [lo, hi]. Files the index does not know get their
    ranges in one Spark job; a file with no readable range (no rows)
    counts as overlapping, and files gone from the listing drop out of
    the index."""
    index = _sink_ranges(spark, sink_dir)
    for gone in index.keys() - set(names):
        del index[gone]
    unknown = [n for n in names if n not in index]
    if unknown:
        name = F.col("_metadata.file_name")
        found = {
            r[0]: (r[1], r[2])
            for r in sink_spotnums(spark, sink_dir)
            .filter(name.isin(unknown))
            .groupBy(name)
            .agg(F.min("Spotnum"), F.max("Spotnum"))
            .collect()
        }
        for n in unknown:
            index[n] = found.get(n, (None, None))
    return [
        n
        for n in names
        if index[n][0] is None or (index[n][0] <= hi and lo <= index[n][1])
    ]


def _dedup_against_sink(
    spark: SparkSession,
    batch_df: DataFrame,
    sink_dir: str,
    names: list[str],
    lo: int,
    hi: int,
) -> DataFrame:
    """Idempotency for the parquet stand-in sink: left_anti of the
    batch (Spotnums in [lo, hi]) against the sink's Spotnums in
    [lo, hi], read from the overlapping files only (the replayed-batch
    case after a failure between sink write and checkpoint commit). A
    JDBC sink replaces ALL of this with `ON CONFLICT DO NOTHING` on
    the PK."""
    overlap = _overlapping_files(spark, sink_dir, names, lo, hi)
    if not overlap:
        return batch_df
    existing = sink_spotnums(batch_df.sparkSession, sink_dir).filter(
        F.col("_metadata.file_name").isin(overlap)
        & F.col("Spotnum").between(lo, hi)
    )
    return batch_df.join(existing, on="Spotnum", how="left_anti")


def _gap_fold(m: dict) -> dict:
    """`gap_summary`'s row from the tick's observed metrics: the
    in-block gaps plus the gaps between consecutive non-empty blocks
    (a block's first id after the previous block's last)."""
    blocks = sorted(m["blocks"])
    cross = [
        b[0] - a[1] - 1 for a, b in zip(blocks, blocks[1:]) if b[0] - a[1] > 1
    ]
    return {
        "n_spots": m["n_spots"],
        "first_spotnum": m["first_spotnum"],
        "last_spotnum": m["last_spotnum"],
        "total_gaps": m["gaps"] + len(cross),
        "total_missing": (m["missing"] or 0) + sum(cross),
        "max_gap_size": max([m["max_gap"] or 0, *cross]),
    }


def append_to_sink(
    spark: SparkSession, batch_df: DataFrame, sink_dir: str
) -> tuple[dict, DataFrame]:
    """Append the rows of batch_df whose Spotnum the sink does not hold
    yet, one row per Spotnum, in one written plan; return the batch's
    `gap_summary` row (a dict) and the deduped plan.

    `spark` is the session whose range index serves the check: a
    stream hands foreachBatch its batch in a clone of the session that
    started it, one clone per start. batch_df is read twice (its
    Spotnum range, then the write), so the caller persists it. The
    write is one plan: anti-join against the overlapping sink files, a
    window partitioned by Spotnum block that keeps one row per Spotnum
    (any one, as dropDuplicates does) and yields each row's gap, and
    an Observation carrying the telemetry. The window's output is
    hash-partitioned by block and AQE-coalesced, so a scrape tick
    writes one file."""
    from pyspark.sql import Observation, Window

    n, lo, hi = batch_df.agg(
        F.count(F.lit(1)), F.min("Spotnum"), F.max("Spotnum")
    ).first()
    if n == 0:
        return {"n_spots": 0}, batch_df
    names = _sink_files(sink_dir)
    deduped = (
        batch_df  # all-NULL Spotnums: nothing in the sink can match them
        if lo is None
        else _dedup_against_sink(spark, batch_df, sink_dir, names, lo, hi)
    )

    s, gap, first = F.col("Spotnum"), F.col("_gap"), F.col("_rn") == 1
    w = Window.partitionBy("_blk").orderBy("Spotnum")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ticked = (
        deduped.withColumn("_blk", F.expr(f"Spotnum div {_BLOCK}"))
        .select(
            "*",
            F.row_number().over(w).alias("_rn"),
            (s - F.lag(s).over(w) - 1).alias("_gap"),
            F.max(s).over(whole).alias("_bmax"),
        )
        # a block's first row, or one that does not repeat the row before
        .filter(first | (gap >= 0))
    )
    pos = F.when(gap > 0, gap)
    obs = Observation()
    observed = ticked.observe(
        obs,
        F.count(F.lit(1)).alias("n_spots"),
        F.min(s).alias("first_spotnum"),
        F.max(s).alias("last_spotnum"),
        F.count(pos).alias("gaps"),
        F.sum(pos).alias("missing"),
        F.max(pos).alias("max_gap"),
        # a block's first row carries the block's [min, max]
        F.collect_list(
            F.when(first & s.isNotNull(), F.array(s, F.col("_bmax")))
        ).alias("blocks"),
    )
    observed.select(*batch_df.columns).write.mode("append").parquet(sink_dir)
    summary = _gap_fold(obs.get)
    # The files that were not in the listing are this write's own, and
    # hold ids in [first, last] — true only because the sink has one
    # writer at a time (the daemon); a file another writer appended
    # meanwhile would get a wrong range. A write of no rows leaves an
    # empty file, whose range is the empty one. Files that miss this
    # step are scanned as unknown on the next tick.
    index = _sink_ranges(spark, sink_dir)
    span = (
        (summary["first_spotnum"], summary["last_spotnum"])
        if summary["n_spots"]
        else (math.inf, -math.inf)
    )
    for name in set(_sink_files(sink_dir)) - set(names):
        index[name] = span
    return summary, ticked.select(*batch_df.columns)


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
    snk_clickhouse). It gets `append_to_sink`'s deduped plan, which
    re-runs from the persisted batch against the same sink files: no
    second sink check, one extra write.
    """
    monitor = monitor if monitor is not None else GapMonitor()

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            summary, deduped = append_to_sink(spark, batch_df, sink_dir)
            monitor.record(summary, batch_id)
            if mirror_fn is not None:
                mirror_fn(deduped, batch_id)
        finally:
            batch_df.unpersist()

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
