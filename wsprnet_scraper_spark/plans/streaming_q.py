"""Streaming-semantics queries.

The reference's stream is a micro-batch poll loop with a scalar
cursor (SURVEY.md §2.9); watermarks/windows are capability gaps to
fill. Time-window aggregations use the same `F.window` /
`F.session_window` expressions in batch and streaming — the batch
run is what the oracle checks, and `strm_microbatch` additionally
executes a *real* Structured Streaming query (availableNow trigger,
memory sink) over the same data and must produce the identical
result.
"""

from __future__ import annotations

import os

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators import stores
from ..session import scoped_conf
from ..sources import load_events
from ..sources.tables import events_ts
from .registry import register

_money = "CAST(value AS DECIMAL(12,2))"


def _stream_parts_conf(*paths) -> dict:
    """The SQL conf that sizes a stateful stream's shuffle (= state)
    partitions from the INPUT VOLUME instead of the session core
    count: `{"spark.sql.shuffle.partitions": n}` with n =
    `sources.tables.partitions_for(total bytes of paths)`, for the
    caller to apply through `session.scoped_conf` around one
    streaming run (set before .start(), restored after
    awaitTermination — the conf is frozen into the stream's
    checkpoint at start).

    Rationale (r13, measured): a stream-stream join owns 4 state
    stores per partition; at the session default (shuffle.partitions
    = cores, 32 locally) a 4-batch availableNow drain of a ~50 MB
    landing dir commits 128 store instances per batch and the
    per-commit cost contends super-linearly with concurrent state
    tasks — the same drain measured 23.7 s at 32 partitions, 11.3 s
    at 16, 6.7 s at 8, identical output. State partitions should
    scale with STATE volume (guide §2.2: fewer, larger partitions —
    size for tens-of-MB-plus per partition), not with local core
    count: 8 MiB per partition, clamped to [1, 4096]. On a real
    cluster it sizes state tasks to data. Derived from file sizes
    only — no extra Spark job.

    Budget calibration (r14, probe-measured): the r13 default of
    32 MiB starved the 100x stream-stream join — 365 MB of input gave
    12 state partitions on 32 cores and the join/state share ran
    227 s vs 95 s under the cores-sized default, scaling exactly with
    1/partitions (the symmetric-join probe work is CPU-bound at
    volume, so partitions ARE parallelism there). 8 MiB keeps the
    sf0.1 behavior identical (MB-scale inputs still get 1 partition —
    the r13 contention win) and restores >= 40 partitions at the
    100 M-event corpus. Still bytes-derived; core count never enters.

    Unknown volume (ADVICE r13): _dataset_bytes returns None for any
    path it cannot stat locally (s3://, hdfs://, missing) — then the
    dict is empty and the session's existing
    spark.sql.shuffle.partitions stands, instead of clamping a remote
    deployment's stream state to 1 partition.

    Scope (VERDICT r13 #5): the conf is SESSION-global for
    start()..awaitTermination of ONE streaming run. The serial
    bench/gate protocols never run a concurrent batch query inside
    the window; a deployment that does should set the partition
    count on the stream's own conf scope instead."""
    from ..sources.tables import _dataset_bytes, partitions_for

    sizes = [_dataset_bytes(p) for p in paths]
    if None in sizes:
        return {}
    return {"spark.sql.shuffle.partitions": str(partitions_for(sum(sizes)))}


# RocksDB state-store provider + changelog checkpointing for one
# streaming run (conf read at query START; set before .start(),
# restored after awaitTermination).
#
# Why (r12 for strm_dedup_watermark): the HDFS-backed default holds
# every state row in JVM HEAP — at the 100x probe corpus that OOM'd
# the 8g driver JVM. RocksDB keeps state in native memory + local disk
# (the configuration a 100 TB streaming deployment actually runs), and
# changelog checkpointing commits per-batch DELTAS instead of full
# snapshots (commit 123 -> ~38 ms measured on the watermark entry;
# snapshots move to the async maintenance thread).
#
# NOT used for the stream-stream joins (r14, measured at the 100x
# probe corpus): the symmetric join's per-row state write/probe
# pattern runs ~3x slower on RocksDB (306 s vs 110 s heap-backed at
# 46 state partitions) and +2.5 s per entry even at sf0.1 — the
# dedup map's lookup pattern is where RocksDB wins; the joins keep the
# heap provider with byte-sized partitions.
_ROCKSDB_STATE = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb."
    "changelogCheckpointing.enabled": "true",
}


def _events_streams(spark, sf_dir, n: int = 1) -> list:
    """`n` independent readStreams over sf_dir's events table, ts
    normalized (`sources.tables.events_ts`). They share one schema
    read: each read is a Spark job. The [t] glob is load-bearing: for
    a non-glob path FileStreamSource force-sets basePath to the file
    itself, which the parquet relation rejects ("Option 'basePath'
    must be a directory"); a glob leaves basePath at the parent
    directory."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return [
        events_ts(
            spark.readStream.schema(schema).parquet(
                f"{sf_dir}/events.parque[t]"
            )
        )
        for _ in range(n)
    ]


def _drain_to_memory(df, work, mode: str = "complete", conf: dict | None = None):
    """Run the stream `df` to the end of its input (availableNow) into
    a memory sink; return (result DataFrame, the finished query). The
    checkpoint goes under `work`, the caller's `stores.workdir`
    generation, instead of Spark's `java.io.tmpdir/temporary-<uuid>`.
    The sink's view (named after `work`, so unique per run) is dropped
    once the result is resolved: the rows live as long as the returned
    DataFrame, not as long as the session. `conf` is applied around the
    run (`scoped_conf`; a stream reads it at start)."""
    spark = df.sparkSession
    view = os.path.basename(work)
    with scoped_conf(spark, conf or {}):
        q = (
            df.writeStream.format("memory")
            .queryName(view)
            .outputMode(mode)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(view)
    spark.catalog.dropTempView(view)
    return out, q


@register(
    "strm_tumbling",
    f"""
SELECT CAST(floor(floor(epoch(ts)) / 120) * 120 AS BIGINT) AS win_start_s,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM({_money}) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
    cache_plans=True,  # pure batch window plan, no stream started at build
)
def strm_tumbling(spark, sf_dir):
    """Tumbling 2-minute windows (the WSPR cycle) — epoch-aligned in
    both engines (gap-fill, SURVEY §2.9 ∅ strm_windows)."""
    ev = load_events(spark, sf_dir, parallel="never")
    return (
        ev.groupBy(F.window("ts", "2 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("win_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "strm_sliding",
    """
SELECT CAST((floor(floor(epoch(ts)) / 120) - j) * 120 AS BIGINT) AS win_start_s,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events, (VALUES (0), (1)) AS js(j)
GROUP BY 1
""",
    cache_plans=True,  # pure batch window plan, no stream started at build
)
def strm_sliding(spark, sf_dir):
    """Sliding windows (4 min / 2 min slide): every event lands in
    exactly two windows; the oracle replays that as two bucket
    assignments per row."""
    ev = load_events(spark, sf_dir, parallel="never")
    return (
        ev.groupBy(F.window("ts", "4 minutes", "2 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("win_start_s"), "n")
    )


@register(
    "strm_session",
    """
WITH t AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
m AS (
  SELECT *, CASE WHEN us - lag(us) OVER w >= 1800000000 OR lag(us) OVER w IS NULL
                 THEN 1 ELSE 0 END AS new_s
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
g AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id, CAST(min(us) AS BIGINT) AS sess_start_us,
       CAST(max(us) + 1800000000 AS BIGINT) AS sess_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id, sid
""",
    cache_plans=True,  # pure batch window plan, no stream started at build
)
def strm_session(spark, sf_dir):
    """Session windows (30 min gap) per user — F.session_window in
    Spark, gaps-and-islands in the oracle. Session end = last event
    + gap, new session when the gap is >= the timeout (Spark's
    half-open window end)."""
    ev = load_events(spark, sf_dir, parallel="never")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("sess_start_us"),
            F.unix_micros("w.end").alias("sess_end_us"),
            "n_events",
        )
    )


@register(
    "strm_microbatch",
    """
SELECT CAST(floor(floor(epoch(ts)) / 120) * 120 AS BIGINT) AS win_start_s,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
""",
)
def strm_microbatch(spark, sf_dir):
    """A real Structured Streaming execution: readStream over the
    events parquet -> tumbling-window count -> availableNow trigger ->
    memory sink (complete mode). Must equal the batch/oracle result —
    Spark's unified model, and the engine's micro-batch ingest shape
    (ref loop: wsprnet-scraper.sh:435-442)."""
    [stream] = _events_streams(spark, sf_dir)
    agg = stream.groupBy(F.window("ts", "2 minutes").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    with stores.workdir(spark, "strm_microbatch", sf_dir) as work:
        out, _ = _drain_to_memory(agg, work)
    return out.select(F.unix_timestamp("w.start").alias("win_start_s"), "n")


@register(
    "strm_watermark",
    """
WITH agg AS (
  SELECT CAST(floor(floor(epoch(ts)) / 120) * 120 AS BIGINT) AS win_start_s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
wm AS (SELECT epoch(max(ts)) - 600 AS w FROM events)
SELECT win_start_s, n FROM agg, wm WHERE win_start_s + 120 <= w
""",
)
def strm_watermark(spark, sf_dir):
    """Late-data semantics (gap-fill, SURVEY §2.9 ∅ strm_watermark):
    10-minute watermark + tumbling windows in APPEND mode — only
    windows finalized by the watermark (win_end <= max(ts) - 10 min)
    are emitted. The oracle restates exactly that closure condition."""
    [stream] = _events_streams(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with stores.workdir(spark, "strm_watermark", sf_dir) as work:
        out, _ = _drain_to_memory(agg, work, "append")
    return out.select(F.unix_timestamp("w.start").alias("win_start_s"), "n")


@register(
    "strm_dedup_watermark",
    """
SELECT DISTINCT event_id FROM events
""",
)
def strm_dedup_watermark(spark, sf_dir):
    """`dropDuplicatesWithinWatermark` in a real streaming execution:
    two copies of the stream (the second time-shifted +1 s, i.e. a
    retried delivery arriving slightly later) are unioned, then
    deduped on event_id with a 10-minute watermark — the state-bounded
    form of the reference's Spotnum-PK idempotency (SURVEY §2.9
    strm_atleastonce_queue): state for a key is dropped once the
    watermark passes, so the dedup map can't grow with the stream.
    Output is the key set only, so the result is deterministic
    regardless of which copy survives.

    Scale (r12 — the first @100x probe run OOM'd an 8g driver on this
    entry and both causes were harness shape, not the operator): the
    sink is a parquet FILE sink (the memory sink materializes every
    output row on the driver — fine at sf0.01, 100M rows at the
    probe corpus), and the dedup state runs on the RocksDB state
    store provider (the HDFS-backed default holds the key map in JVM
    heap; RocksDB spills state to local disk — the configuration a
    100 TB streaming dedup actually deploys). Conf is set for the
    query start and restored after."""
    shifted = [
        s.select(
            "event_id", (F.col("ts") + F.expr(f"INTERVAL {shift_s} SECONDS")).alias("ts")
        )
        for shift_s, s in enumerate(_events_streams(spark, sf_dir, 2))
    ]
    dd = (
        shifted[0]
        .union(shifted[1])
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    # RocksDB provider + changelog checkpointing (_ROCKSDB_STATE);
    # state partitions sized to the (doubled) input volume — each
    # RocksDB instance costs native-db setup + per-commit work, so
    # instance count should track state bytes, not local cores.
    # The workdir's previous generation is reclaimed once this run's
    # query has finished (stores.workdir): bench/probe protocols run
    # this builder 3-5 times per entry, and at the 100x corpus each
    # run writes a ~100M-row output + a RocksDB checkpoint.
    events = f"{sf_dir}/events.parquet"
    state_conf = {**_ROCKSDB_STATE, **_stream_parts_conf(events, events)}
    with (
        stores.workdir(spark, "strm_dedup_watermark", sf_dir) as work,
        scoped_conf(spark, state_conf),
    ):
        q = (
            dd.select("event_id")
            .writeStream.format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(f"{work}/out").select("event_id")


def _ingest_oracle() -> str:
    # the batch-enrichment CTE chain from the wspr oracle: the streamed,
    # duplicated, deduped sink must equal one clean batch pass
    from .wspr import _WDTIME, _sql_rint_int, ENRICH_SQL_CTES

    return f"""
WITH {ENRICH_SQL_CTES}
SELECT "Spotnum", {_WDTIME} AS wd_time, wd_band,
       {_sql_rint_int("rx_azi")} AS wd_rx_az,
       {_sql_rint_int("tx_azi")} AS wd_tx_az
FROM enr
"""


@register("strm_ingest_e2e", _ingest_oracle())
def strm_ingest_e2e(spark, sf_dir):
    """The full ingest subsystem as a judged query: synth spots landed
    as NDJSON (twice — duplicate-batch injection), streamed through
    the landing-dir source, enriched, idempotently sunk to parquet
    with checkpointing, then read back. Must equal a straight batch
    enrichment of the same spots with duplicates collapsed — the
    at-least-once + PK-dedup contract (wsprnet-scraper.sh:106-122,
    SURVEY §2.9)."""

    from ..streaming import start_ingest
    from .synth import synth_spots

    with stores.workdir(spark, "strm_ingest_e2e", sf_dir) as work:
        landing, sink, ckpt = f"{work}/landing", f"{work}/sink", f"{work}/ckpt"
        spots = synth_spots(spark, sf_dir)
        # two identical landings = a replayed upload; NDJSON via the JSON
        # writer (numbers round-trip: shortest-repr doubles reparse exactly)
        spots.coalesce(4).write.mode("append").json(landing)
        spots.coalesce(4).write.mode("append").json(landing)
        q = start_ingest(spark, landing, sink, ckpt, available_now=True)
        q.awaitTermination()
        return spark.read.parquet(sink).select(
            "Spotnum", "wd_time", "wd_band", "wd_rx_az", "wd_tx_az"
        )


@register(
    "strm_atleastonce_dedup",
    """
SELECT event_id, MIN(value) AS value FROM (
  SELECT event_id, value FROM events
  UNION ALL
  SELECT event_id, value FROM events
)
GROUP BY event_id
""",
)
def strm_atleastonce_dedup(spark, sf_dir):
    """At-least-once delivery followed by idempotent dedup — the
    reference's retried-upload queue + Spotnum PK pattern
    (wsprnet-scraper.sh:106-122; SURVEY §2.9 strm_atleastonce_queue).
    Duplicate the batch, then collapse per key with a DETERMINISTIC
    pick (min value) — dropDuplicates would keep an arbitrary row if
    a key ever arrived with differing payloads (ADVICE r1)."""
    ev = load_events(spark, sf_dir).select("event_id", "value")
    return ev.unionAll(ev).groupBy("event_id").agg(F.min("value").alias("value"))


_STREAM_JOIN_ORACLE = """
SELECT c.event_id AS click_id, e.event_id AS error_id,
  c.user_id AS user_id,
  CAST(epoch_us(e.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
FROM events c JOIN events e
  ON e.user_id = c.user_id
 AND c.event_type = 'click' AND e.event_type = 'error'
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 120 MINUTE
"""


def _stream_join_side(stream, event_type):
    """One filtered, watermarked side of the click->error stream join
    over an events stream, columns prefixed with `event_type` (shared
    by strm_stream_join, its multi-batch twin, and the 100x probe's
    drain-only decomposition run)."""
    return (
        stream.filter(F.col("event_type") == event_type)
        .select(
            F.col("event_id").alias(f"{event_type}_id"),
            F.col("user_id").alias(f"{event_type}_user"),
            F.col("ts").alias(f"{event_type}_ts"),
        )
        .withWatermark(f"{event_type}_ts", "3 hours")
    )


def _stream_join_joined(clicks, errors):
    return clicks.join(
        errors,
        F.expr(
            """
            click_user = error_user
            AND error_ts >= click_ts
            AND error_ts <= click_ts + INTERVAL 120 MINUTES
            """
        ),
    )


@register("strm_stream_join", _STREAM_JOIN_ORACLE)
def strm_stream_join(spark, sf_dir):
    """Stream-stream inner join with event-time range bounds — clicks
    joined to the errors that follow them within two hours for the
    same user, both sides REAL readStream sources (SURVEY §2.9 gap:
    the reference's poll loop has no two-stream correlation at all).

    The watermark + the two-sided time-range condition are what make
    this viable on an unbounded stream: Spark derives a state
    watermark from them and evicts click/error rows once they can no
    longer match, so state is bounded by (rate × window), not by the
    stream length. availableNow drains the files in one batch, where
    nothing is yet watermark-dropped, so the result must equal the
    batch oracle join exactly.
    """
    clicks, errors = (
        _stream_join_side(s, et)
        for s, et in zip(_events_streams(spark, sf_dir, 2), ("click", "error"))
    )
    joined = _stream_join_joined(clicks, errors)
    # state partitions sized to the two input streams' volume
    # (_stream_parts_conf): the conf is read at query START and
    # frozen into the checkpoint, so the scope covers start..await.
    # Provider stays heap-backed (r14, measured: RocksDB ran this
    # join 3x slower at the 100x corpus — see _ROCKSDB_STATE).
    events = f"{sf_dir}/events.parquet"
    with stores.workdir(spark, "strm_stream_join", sf_dir) as work:
        out, _ = _drain_to_memory(
            joined, work, "append", _stream_parts_conf(events, events)
        )
    return out.select(
        F.col("click_id"),
        F.col("error_id").alias("error_id"),
        F.col("click_user").alias("user_id"),
        (F.unix_micros("error_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


@register("strm_stream_join_multibatch", _STREAM_JOIN_ORACLE)
def strm_stream_join_multibatch(spark, sf_dir):
    """The stream-stream join under a MULTI-BATCH drain — the real
    deployment shape strm_stream_join's single-batch availableNow
    drain never exercises (VERDICT r12 task #3): with
    `maxFilesPerTrigger` bounding each micro-batch, join state is
    built, probed, AND watermark-evicted across batches, and
    per-batch memory is bounded by (files/trigger x file size + live
    state), not the whole stream.

    Correctness under eviction: events are landed TIME-ORDERED first
    — range-partitioned by ts into sequentially-numbered files whose
    mtimes are stamped in range order, so the file source (oldest
    first) replays them in event-time order, exactly the arrival
    order a real landing dir has. Batch k+1's rows all carry ts >=
    batch k's, so with the 3 h watermark delay strictly greater than
    the 2 h join window no row is ever late, evicted state is state
    that could never match again, and the multi-batch result equals
    the single-batch drain and the batch oracle row-for-row (the
    gate proves it). Parquet file sink + checkpoint (the
    strm_dedup_watermark discipline — a memory sink would
    materialize the join output on the driver)."""
    import os
    import time as _time

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    with stores.workdir(spark, "strm_stream_join_multibatch", sf_dir) as work:
        landing = f"{work}/landing"
        (
            raw.select("event_id", "user_id", "event_type", "ts")
            .repartitionByRange(16, "ts")
            .write.parquet(landing)
        )
        # part-00000.. numbering follows the range order; stamp mtimes
        # ascending so the file source's oldest-first listing agrees
        parts = sorted(p for p in os.listdir(landing) if p.startswith("part-"))
        base_t = _time.time() - 2 * len(parts) - 10
        for i, p in enumerate(parts):
            t = base_t + 2 * i
            os.utime(os.path.join(landing, p), (t, t))
        land_schema = spark.read.parquet(landing).schema
        clicks, errors = (
            _stream_join_side(
                events_ts(
                    spark.readStream.schema(land_schema)
                    .option("maxFilesPerTrigger", 4)
                    .parquet(landing)
                ),
                et,
            )
            for et in ("click", "error")
        )
        # state partitions sized to the landing volume (both sides read
        # it), not the core count — see _stream_parts_conf; this is the
        # entry the 32-partition contention hurt most (4-batch drain +
        # no-data batch x 128 store instances)
        with scoped_conf(spark, _stream_parts_conf(landing, landing)):
            q = (
                _stream_join_joined(clicks, errors)
                .writeStream.format("parquet")
                .option("path", f"{work}/out")
                .option("checkpointLocation", f"{work}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.read.parquet(f"{work}/out").select(
            F.col("click_id"),
            F.col("error_id").alias("error_id"),
            F.col("click_user").alias("user_id"),
            (F.unix_micros("error_ts") - F.unix_micros("click_ts")).alias("lag_us"),
        )


def _pyds_oracle() -> str:
    from .wspr import ENRICH_SQL_CTES

    return f"""
WITH {ENRICH_SQL_CTES}
SELECT CAST(wd_band AS VARCHAR) AS wd_band,
  CAST(count(*) AS BIGINT) AS n,
  CAST(count(DISTINCT "Spotnum") AS BIGINT) AS n_spots
FROM enr GROUP BY 1
"""


@register("src_pyds_queue", _pyds_oracle(), cache_plans=False)
def src_pyds_queue(spark, sf_dir):
    """The custom Python DataSource as a judged source: synth spots
    are enriched, written to the bz2 wire queue, read back through
    `spark.read.format("wspr_queue")` (sources/pyds.py — Spark 4
    DataSource API, one partition per queue file), and rolled up per
    band. Must equal the same rollup computed relationally from the
    tables — proving the named format's write→read path is lossless.
    Not cached: the builder writes a fresh queue dir per call."""

    from .. import pipeline
    from ..sources.pyds import WsprQueueDataSource
    from ..sources.sinks import write_queue_bz2
    from .synth import synth_spots

    spark.dataSource.register(WsprQueueDataSource)
    with stores.workdir(spark, "src_pyds_queue", sf_dir) as work:
        enriched = pipeline.enrich(pipeline.with_wd_time(synth_spots(spark, sf_dir)))
        write_queue_bz2(enriched, work)
        back = spark.read.format("wspr_queue").load(work)
        return back.groupBy("wd_band").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("Spotnum").alias("n_spots"),
        )


@register(
    "strm_rollup_merge",
    """
SELECT CAST(floor(floor(epoch(ts)) / 120) * 120 AS BIGINT) AS bucket_start_s,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(floor(value * 1000)) AS BIGINT) AS value_milli_sum
FROM events GROUP BY 1, 2
""",
)
def strm_rollup_merge(spark, sf_dir):
    """The continuous-aggregate subsystem (streaming/rollup.py — the
    TimescaleDB continuous-aggregate analog) as a judged query: the
    events stream feeds a 2-minute UPDATE-mode windowed aggregation
    whose micro-batches are MERGEd into a versioned materialized
    rollup table; the final materialization must equal the same
    rollup computed in one batch over all history — the incremental-
    view-maintenance contract. Values are floor-quantized to integer
    milli-units before summing, so the per-batch partial sums are
    exact (order- and batch-split-independent) and the cross-engine
    compare is bit-stable."""

    from ..streaming.rollup import RollupTable, continuous_rollup

    [stream] = _events_streams(spark, sf_dir)
    stream = stream.withColumn(
        "value_milli", F.floor(F.col("value") * 1000).cast("long")
    )
    with stores.workdir(spark, "strm_rollup_merge", sf_dir) as work:
        rollup = RollupTable(spark, f"{work}/rollup")
        q = continuous_rollup(
            stream,
            rollup,
            time_col="ts",
            key_cols=["event_type"],
            value_col="value_milli",
            bucket="2 minutes",
            checkpoint_dir=f"{work}/ckpt",
            available_now=True,
        )
        q.awaitTermination()
        cur = rollup.current()
        return cur.select(
            F.col("bucket_start_s").cast("bigint").alias("bucket_start_s"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("sum_value").cast("bigint").alias("value_milli_sum"),
        )


@register(
    "strm_static_join",
    f"""
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM({_money}) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
)
def strm_static_join(spark, sf_dir):
    """Stream-static enrichment join — the micro-batch counterpart of
    the reference's per-batch band lookup (join_band_lookup): a REAL
    readStream over events joins the static customer dimension, which
    Spark re-plans per micro-batch and broadcasts (stream side never
    shuffles for the join), then aggregates in complete mode.
    availableNow drains the whole source so the memory-sink result ≡
    the batch oracle. At 100 TB the static side is the broadcast dim
    and the only data-sized shuffle is the final segment rollup."""
    [stream] = _events_streams(spark, sf_dir)
    cust = F.broadcast(
        spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_mktsegment"
        )
    )
    joined = stream.join(cust, stream.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )
    with stores.workdir(spark, "strm_static_join", sf_dir) as work:
        out, _ = _drain_to_memory(agg, work)
    return out


@register(
    "strm_rate_limited",
    """
SELECT CAST(floor(floor(epoch(ts)) / 120) * 120 AS BIGINT) AS win_start_s,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
""",
)
def strm_rate_limited(spark, sf_dir):
    """Source rate limiting: the events table split into 4 files and
    streamed with maxFilesPerTrigger=1 — four bounded micro-batches
    instead of one unbounded gulp, which is how a backfill over years
    of landed files keeps state and executor memory flat (the
    reference's scrape loop is naturally rate-limited to one batch
    per cycle; this is the Spark knob with the same effect). The
    windowed counts in COMPLETE mode must equal the one-shot batch
    aggregate exactly — rate limiting changes scheduling, never
    results. tests/test_streaming_ingest.py asserts the batch count.
    """
    with stores.workdir(spark, "strm_rate_limited", sf_dir) as work:
        ev = load_events(spark, sf_dir, parallel="never")
        ev.select("event_id", "ts").repartition(4).write.mode("overwrite").parquet(
            f"{work}/files"
        )
        raw_schema = spark.read.parquet(f"{work}/files").schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/files")
        )
        agg = stream.groupBy(F.window("ts", "2 minutes").alias("w")).agg(
            F.count(F.lit(1)).alias("n")
        )
        out, q = _drain_to_memory(agg, work)
    strm_rate_limited.last_progress_batches = len(q.recentProgress)
    return out.select(F.unix_timestamp("w.start").alias("win_start_s"), "n")


@register(
    "strm_topk_window",
    """
WITH agg AS (
  SELECT CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT)
           AS win_start_s,
         user_id,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT win_start_s, user_id, n,
         row_number() OVER (
           PARTITION BY win_start_s ORDER BY n DESC, user_id
         ) AS rn
  FROM agg
)
SELECT win_start_s, user_id, n, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3
""",
    cache_plans=True,  # pure batch window plan, no stream started at build
)
def strm_topk_window(spark, sf_dir):
    """Windowed leaderboard: the top-3 most active users per hourly
    tumbling window — the dashboard-refresh composite (streaming
    windowed aggregation + per-window rank). In a live run the
    windowed counts come from the UPDATE-mode aggregation and the
    rank is foreachBatch post-processing over the window's bounded
    rows (ranking inside the stream would need complete mode); as
    batch semantics the composite is the windowed groupBy feeding a
    win_start_s-partitioned row_number — the rank window's input is
    already collapsed to (windows × users), and the (n DESC,
    user_id) ordering makes the cut deterministic in both engines."""
    ev = load_events(spark, sf_dir, parallel="never")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp("w.start").alias("win_start_s"), "user_id", "n"
        )
    )
    w = W.partitionBy("win_start_s").orderBy(F.col("n").desc(), "user_id")
    return (
        agg.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "strm_distinct_daily",
    """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day
  FROM events
)
SELECT day, CAST(count(*) AS BIGINT) AS dau
FROM ud GROUP BY day
""",
)
def strm_distinct_daily(spark, sf_dir):
    """Streaming exact daily-active-users: a REAL streaming run that
    dropDuplicates the (user, day) identity — streaming stateful
    exact distinct, state keyed and bounded by identities, not events
    — then counts per day (complete mode, availableNow) and must
    equal the batch oracle. Complements strm_dedup_watermark (event-id
    dedup) with IDENTITY-level dedup feeding an aggregate; in a live
    deployment the same query carries a watermark on day so identity
    state expires after the window closes."""
    [stream] = _events_streams(spark, sf_dir)
    ud = stream.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
        .cast("bigint")
        .alias("day"),
    ).dropDuplicates(["user_id", "day"])
    agg = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    with stores.workdir(spark, "strm_distinct_daily", sf_dir) as work:
        out, _ = _drain_to_memory(agg, work)
    return out.select("day", "dau")
