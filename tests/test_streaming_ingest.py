"""End-to-end tests for the streaming ingest subsystem.

Covers the reference's streaming semantics (SURVEY.md §2.9): cursor
tracking and recovery, cycle-aligned scheduling, at-least-once landing
with idempotent sink (duplicate injection), gap telemetry (gap
injection), and checkpointed restart.
"""

from __future__ import annotations

import json

import pytest

from wsprnet_scraper_spark.streaming import (
    Cursor,
    fetch_once,
    recover_cursor_from_sink,
    seconds_until_next_offset,
    start_ingest,
)
from wsprnet_scraper_spark.streaming.ingest import GapMonitor


def make_spot(spotnum: int) -> dict:
    """A valid raw (stringly-typed, API-shaped) spot record."""
    return {
        "Spotnum": str(spotnum),
        "Date": str(1700000000 + 120 * (spotnum % 50)),
        "Reporter": f"R{spotnum % 7}",
        "ReporterGrid": "EN50wc",
        "dB": str((spotnum % 40) - 25),
        "MHz": "14.097123",
        "CallSign": f"C{spotnum % 11}",
        "Grid": "JO62qm",
        "Power": "37",
        "Drift": "0",
        "distance": str((spotnum * 13) % 9000),
        "azimuth": str(spotnum % 360),
        "Band": "20",
        "version": "2.6.1",
        "code": "1",
    }


# ------------------------------------------------------------- pure pieces


def test_cycle_offsets():
    # fire offsets are {55, 85, 115} within the 120 s cycle
    assert seconds_until_next_offset(0) == 55
    assert seconds_until_next_offset(55.0) == 30  # at an offset -> next one
    assert seconds_until_next_offset(100) == 15
    assert seconds_until_next_offset(116) == 59  # wraps to 55 next cycle
    # phase-locked: absolute epoch doesn't matter, only cycle position
    assert seconds_until_next_offset(1700000000 % 120) == seconds_until_next_offset(
        1700000000
    )


def test_cursor_roundtrip(tmp_path):
    c = Cursor(tmp_path / "cursor.json")
    assert c.read() == 0
    c.advance(4242)
    assert c.read() == 4242
    assert Cursor(tmp_path / "cursor.json").read() == 4242  # durable


def test_fetch_once_lands_and_advances(tmp_path):
    cursor = Cursor(tmp_path / "cursor.json")
    landing = tmp_path / "landing"

    def fake_fetch(start: int) -> list[dict]:
        return [make_spot(n) for n in range(start + 1, start + 6)]

    assert fetch_once(fake_fetch, cursor, landing) == 5
    assert cursor.read() == 5
    files = list(landing.glob("spots-*.json"))
    assert len(files) == 1
    lines = files[0].read_text().strip().splitlines()
    assert len(lines) == 5
    assert json.loads(lines[0])["Spotnum"] == "1"
    # failure path: cursor untouched
    def bad_fetch(start: int):
        raise ConnectionError("API down")

    with pytest.raises(ConnectionError):
        fetch_once(bad_fetch, cursor, landing)
    assert cursor.read() == 5


# --------------------------------------------------------------- end-to-end


def test_ingest_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    cursor = Cursor(tmp_path / "cursor.json")

    # batch 1: spots 1..20 with a gap (13, 14 missing) and an in-batch dup
    def fetch1(start):
        nums = [n for n in range(1, 21) if n not in (13, 14)]
        return [make_spot(n) for n in nums] + [make_spot(7)]  # dup 7

    fetch_once(fetch1, cursor, landing)
    monitor = GapMonitor()
    q = start_ingest(spark, str(landing), sink, ckpt, monitor=monitor)
    q.awaitTermination()

    out = spark.read.parquet(sink)
    assert out.count() == 18  # 20 - 2 missing, dup dropped
    assert out.select("Spotnum").distinct().count() == 18
    # enrichment happened: all 27 columns, typed
    assert len(out.columns) == 27
    row = out.filter("Spotnum = 7").first()
    assert row["wd_band"] == 20  # 14.097 MHz -> 20 m
    assert row["wd_time"] is not None and ":" in row["wd_time"]
    # gap telemetry: one gap of size 2
    [rec] = monitor.records
    assert rec["total_gaps"] == 1
    assert rec["total_missing"] == 2
    assert rec["max_gap_size"] == 2
    assert rec["boundary_gap"] is None  # first batch ever

    # batch 2: overlaps the sink (18..20 replayed) + new 21..25
    def fetch2(start):
        return [make_spot(n) for n in range(18, 26)]

    fetch_once(fetch2, cursor, landing)
    q = start_ingest(spark, str(landing), sink, ckpt, monitor=monitor)
    q.awaitTermination()

    out = spark.read.parquet(sink)
    assert out.count() == 23  # 18 + only the 5 genuinely-new spots
    assert out.select("Spotnum").distinct().count() == 23
    rec2 = monitor.records[-1]
    assert rec2["boundary_gap"] == 0  # 21 follows 20 contiguously
    assert rec2["n_spots"] == 5

    # cursor recovery from the sink's high-water mark (cold start)
    assert recover_cursor_from_sink(spark, sink) == 25
    assert cursor.read() == 25


def test_checkpoint_restart_no_reprocess(spark, tmp_path):
    landing = tmp_path / "landing"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    cursor = Cursor(tmp_path / "cursor.json")

    fetch_once(lambda s: [make_spot(n) for n in range(1, 6)], cursor, landing)
    q = start_ingest(spark, str(landing), sink, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(sink).count() == 5

    # restart with the same checkpoint and no new files: nothing happens
    q = start_ingest(spark, str(landing), sink, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(sink).count() == 5


def test_recover_cursor_empty_sink(spark, tmp_path):
    assert recover_cursor_from_sink(spark, str(tmp_path / "nope")) is None
    (tmp_path / "empty").mkdir()
    assert recover_cursor_from_sink(spark, str(tmp_path / "empty")) is None


def _sql_actions(spark) -> int:
    """Id of the newest SQL execution (one per DataFrame action), once
    the listener bus has delivered every event. Ids, not the count:
    the status store keeps only the newest 1000 executions."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def test_gap_monitor_observe_is_one_action(spark):
    # the per-batch telemetry (count, id span, gaps) is one Spark
    # action, on a cached batch as foreachBatch hands it over
    batch = (
        spark.createDataFrame([(n,) for n in (3, 4, 5, 9, 10, 10, 14)], "Spotnum long")
        .dropDuplicates(["Spotnum"])
        .cache()
    )
    monitor = GapMonitor(last_spotnum=1)
    try:
        before = _sql_actions(spark)
        monitor.observe(batch, 7)
        assert _sql_actions(spark) - before == 1
    finally:
        batch.unpersist()
    assert monitor.records == [
        {
            "batch_id": 7,
            "n_spots": 6,
            "first_spotnum": 3,
            "last_spotnum": 14,
            "total_gaps": 2,
            "total_missing": 6,
            "max_gap_size": 3,
            "boundary_gap": 1,
        }
    ]
    assert monitor.last_spotnum == 14
    # an empty batch leaves no record and no state change
    monitor.observe(spark.createDataFrame([], "Spotnum long"), 8)
    assert len(monitor.records) == 1 and monitor.last_spotnum == 14


def test_sessions_do_not_share_prepared_stream(spark, tmp_path, stream_builds):
    # a DataFrame is bound to the session that built it: a second
    # session of the same application builds its own ingest plan
    from wsprnet_scraper_spark.plans.registry import prepared

    landing = tmp_path / "landing"
    fetch_once(lambda s: [make_spot(n) for n in range(1, 4)], Cursor(tmp_path / "c"), landing)
    other = spark.newSession()
    for i, sess in enumerate((spark, other, spark, other)):
        sink, ckpt = str(tmp_path / f"sink{i % 2}"), str(tmp_path / f"ckpt{i % 2}")
        start_ingest(sess, str(landing), sink, ckpt).awaitTermination()
    assert stream_builds == [spark, other]
    for i, sess in enumerate((spark, other)):
        df = prepared(sess, ("ingest", str(landing), None), lambda: pytest.fail("miss"))
        assert df.sparkSession is sess
        rows = sess.read.parquet(str(tmp_path / f"sink{i}")).collect()
        assert sorted(r.Spotnum for r in rows) == [1, 2, 3]


def test_mirror_fanout_two_sinks(spark, tmp_path):
    """The ClickHouse-analog: a second sink fed from the same deduped
    batch in one foreachBatch (SURVEY §2.1 snk_clickhouse)."""
    landing = tmp_path / "landing"
    mirror_dir = str(tmp_path / "mirror")
    cursor = Cursor(tmp_path / "cursor.json")
    fetch_once(lambda s: [make_spot(n) for n in range(1, 8)], cursor, landing)

    def mirror(batch_df, batch_id):
        batch_df.select("Spotnum", "wd_band").write.mode("append").parquet(mirror_dir)

    q = start_ingest(
        spark,
        str(landing),
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt"),
        mirror_fn=mirror,
    )
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 7
    m = spark.read.parquet(mirror_dir)
    assert m.count() == 7 and set(m.columns) == {"Spotnum", "wd_band"}


def test_rate_limited_stream_runs_bounded_microbatches(spark):
    # maxFilesPerTrigger=1 over a 4-file dataset must process in 4
    # bounded micro-batches (availableNow drains them all), and the
    # result must equal the one-shot batch aggregate — rate limiting
    # changes scheduling, never results
    from wsprnet_scraper_spark.plans import QUERIES
    from wsprnet_scraper_spark.plans.streaming_q import strm_rate_limited

    sf = "/root/testdata/sf0.001"
    got = {
        (r.win_start_s, r.n)
        for r in QUERIES["strm_rate_limited"](spark, sf).collect()
    }
    assert strm_rate_limited.last_progress_batches >= 4
    from pyspark.sql import functions as F

    from wsprnet_scraper_spark.sources import load_events

    ev = load_events(spark, sf)
    want = {
        (r.win_start_s, r.n)
        for r in ev.groupBy(F.window("ts", "2 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("win_start_s"), "n")
        .collect()
    }
    assert got == want


def test_ingest_observe_metrics_surface_in_progress(spark, tmp_path):
    """The observe() node on the ingest stream must report per-batch
    rows and the spot-id span through StreamingQueryProgress."""
    from tests.conftest import SF_SMOKE
    from wsprnet_scraper_spark.plans.synth import synth_spots

    spots = synth_spots(spark, SF_SMOKE)
    landing, sink, ckpt = (str(tmp_path / d) for d in ("land", "sink", "ckpt"))
    spots.coalesce(2).write.mode("append").json(landing)
    q = start_ingest(spark, landing, sink, ckpt, available_now=True)
    q.awaitTermination()
    n = spots.count()
    metrics = None
    for p in q.recentProgress:
        om = (p if isinstance(p, dict) else json.loads(p.json)).get(
            "observedMetrics", {}
        )
        if "ingest" in om:
            metrics = om["ingest"]
    assert metrics is not None, "no observed metrics in progress"
    assert metrics["rows"] == n
    assert metrics["min_spotnum"] <= metrics["max_spotnum"]


# ----------------------------------------------- the O(batch) sink check


def _ids_batch(spark, ids):
    return spark.createDataFrame([(n, f"p{n}") for n in ids], "Spotnum long, v string")


def _sink_ids(spark, sink):
    rows = spark.read.parquet(sink).select("Spotnum").collect()
    return sorted(r.Spotnum for r in rows)


_BLK = 1 << 20


@pytest.mark.parametrize(
    "case",
    ["empty", "single", "duplicates", "block_boundary"],
)
def test_tick_record_matches_gap_summary(spark, tmp_path, case):
    # the tick's telemetry comes off the written plan; it must equal
    # gap_summary (GapMonitor.observe) over the rows the sink got
    import random

    from wsprnet_scraper_spark.streaming.ingest import append_to_sink

    rng = random.Random(f"tick-{case}")
    sink = str(tmp_path / "sink")
    held = sorted(rng.sample(range(_BLK - 40, _BLK + 40), 20))
    ids = {
        "empty": [],
        "single": [rng.randrange(1, 1000)],
        "duplicates": [n for n in rng.sample(range(500, 560), 25) for _ in (0, 1)],
        "block_boundary": rng.sample(range(_BLK - 60, _BLK + 60), 70) + held[:5],
    }[case]
    _ids_batch(spark, held).write.parquet(sink)
    batch = _ids_batch(spark, ids).persist()
    try:
        summary, _ = append_to_sink(spark, batch, sink)
    finally:
        batch.unpersist()
    fresh = sorted(set(ids) - set(held))
    assert _sink_ids(spark, sink) == sorted(held + fresh)
    got, want = GapMonitor(last_spotnum=3), GapMonitor(last_spotnum=3)
    got.record(summary, 1)
    want.observe(_ids_batch(spark, fresh), 1)
    assert got.records == want.records
    assert len(got.records) == (0 if case == "empty" else 1)


def test_foreign_file_between_ticks_is_checked(spark, tmp_path):
    # another writer appends a file holding Spotnum 8 after tick 1; the
    # session's range index has never seen it, and tick 2 redelivers 8
    from pyspark.sql import functions as F

    landing, sink = tmp_path / "landing", str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    cursor = Cursor(tmp_path / "cursor.json")
    fetch_once(lambda s: [make_spot(n) for n in range(1, 6)], cursor, landing)
    start_ingest(spark, str(landing), sink, ckpt).awaitTermination()
    spark.read.parquet(sink).filter("Spotnum = 3").withColumn(
        "Spotnum", F.lit(8).cast("long")
    ).write.mode("append").parquet(sink)
    fetch_once(lambda s: [make_spot(n) for n in range(6, 11)], cursor, landing)
    monitor = GapMonitor()
    start_ingest(spark, str(landing), sink, ckpt, monitor=monitor).awaitTermination()
    assert _sink_ids(spark, sink) == list(range(1, 11))
    [rec] = monitor.records
    assert (rec["n_spots"], rec["first_spotnum"], rec["last_spotnum"]) == (4, 6, 10)
    assert (rec["total_gaps"], rec["total_missing"]) == (1, 1)
    # the session's index kept tick 1's file, scanned the foreign one
    # and took tick 2's own file from its telemetry
    from wsprnet_scraper_spark.streaming.ingest import _sink_ranges

    ranges = sorted(_sink_ranges(spark, sink).values())
    assert ranges == [(1, 5), (6, 10), (8, 8)]


def test_deleted_sink_file_between_ticks(spark, tmp_path):
    import os

    landing, sink = tmp_path / "landing", str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    cursor = Cursor(tmp_path / "cursor.json")
    for lo in (1, 6):
        batch = [make_spot(n) for n in range(lo, lo + 5)]
        fetch_once(lambda s, batch=batch: batch, cursor, landing)
        start_ingest(spark, str(landing), sink, ckpt).awaitTermination()
    first = min(
        (f for f in os.listdir(sink) if f.endswith(".parquet") and f[0] != "."),
        key=lambda f: os.path.getmtime(os.path.join(sink, f)),
    )
    for f in (first, f".{first}.crc"):
        os.remove(os.path.join(sink, f))
    fetch_once(lambda s: [make_spot(n) for n in range(1, 13)], cursor, landing)
    start_ingest(spark, str(landing), sink, ckpt).awaitTermination()
    assert _sink_ids(spark, sink) == list(range(1, 13))


def test_new_session_builds_its_own_sink_index(spark, tmp_path):
    # poison the parent session's index so that it excludes every
    # file: a tick in a new session that read it would skip the check
    # and land the redelivered Spotnums twice
    from wsprnet_scraper_spark.streaming.ingest import _sink_ranges

    landing, sink = tmp_path / "landing", str(tmp_path / "sink")
    spots = [make_spot(n) for n in range(1, 6)]
    fetch_once(lambda s: spots, Cursor(tmp_path / "c"), landing)
    start_ingest(spark, str(landing), sink, str(tmp_path / "ckpt")).awaitTermination()
    parent = _sink_ranges(spark, sink)
    assert parent
    for name in parent:
        parent[name] = (-2, -1)
    other = spark.newSession()
    # a fresh checkpoint replays every landed file
    start_ingest(other, str(landing), sink, str(tmp_path / "ckpt2")).awaitTermination()
    assert _sink_ids(spark, sink) == [1, 2, 3, 4, 5]
    assert _sink_ranges(other, sink) is not parent
    assert set(parent.values()) == {(-2, -1)}
    # the replay wrote no rows: its file holds the empty range, so no
    # later tick reads it
    ranges = sorted(_sink_ranges(other, sink).values())
    assert ranges == [(1, 5), (float("inf"), float("-inf"))]


def test_ingest_e2e_runs_leave_one_plan_entry(spark):
    # each strm_ingest_e2e run starts the ingest on a fresh landing and
    # sink dir; reclaiming the previous generation drops its entries
    from tests.conftest import SF_SMOKE
    from wsprnet_scraper_spark.plans import QUERIES
    from wsprnet_scraper_spark.plans.registry import _PLAN_CACHE

    for _ in range(3):
        QUERIES["strm_ingest_e2e"](spark, SF_SMOKE).collect()
    bucket = _PLAN_CACHE[spark.sparkContext.applicationId]
    for kind in ("ingest", "sink_ranges"):
        keys = [
            k for k in bucket
            if k[1] == kind and isinstance(k[2], str) and "strm_ingest_e2e_" in k[2]
        ]
        assert len(keys) == 1, (kind, keys)


@pytest.mark.parametrize("name", ["strm_microbatch", "strm_stream_join"])
def test_memory_sink_runs_leave_no_view(spark, name):
    # the memory-sink builders drop their uuid-named view once the
    # result is built, and checkpoint under their stores.workdir
    import os

    from tests.conftest import SF_SMOKE
    from tests.test_advice_r10 import _assert_matches_oracle
    from wsprnet_scraper_spark.operators import stores

    for _ in range(3):
        _assert_matches_oracle(spark, name, SF_SMOKE, tables=("events",))
    views = [t.name for t in spark.catalog.listTables()]
    assert not [v for v in views if v.startswith("strm_")]
    key = (spark._jsparkSession.sessionUUID(), name, SF_SMOKE)
    assert os.path.isdir(os.path.join(stores._WORKDIRS[key], "ckpt"))


# --------------------------------------------------- landing helper


def test_landing_concatenates_multipart_fids(spark, tmp_path):
    # Force every fid's single task to split its output: 9 rows into
    # 2 fids with at most 2 records per file -> 2-3 part files per
    # fid. The helper must still land exactly n_files files, each
    # holding its full contiguous id range.
    import glob

    from wsprnet_scraper_spark.streaming.landing import land_ordered_ndjson

    landing = str(tmp_path / "landing")
    df = spark.range(9).selectExpr("id AS k", "id * 10 AS v")
    old = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try:
        n = land_ordered_ndjson(df, "k", landing, 2)
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", old)
    assert n == 2
    files = sorted(glob.glob(f"{landing}/batch-*.json"))
    assert len(files) == 2
    seen, prev_max = [], -1
    for f in files:
        ks = sorted(
            json.loads(line)["k"] for line in open(f) if line.strip()
        )
        assert ks and ks[0] > prev_max, "file ranges must be contiguous"
        prev_max = ks[-1]
        seen.extend(ks)
    assert sorted(seen) == list(range(9))


def test_landing_refuses_compressed_parts(spark, tmp_path):
    # a session-level JSON codec changes the part extension; renaming
    # .json.gz bytes into batch-NNN.json would make the downstream
    # file stream source parse gzip as NDJSON. The helper must fail
    # loudly instead.
    from wsprnet_scraper_spark.streaming.landing import land_ordered_ndjson

    landing = str(tmp_path / "landing")
    df = spark.range(6).selectExpr("id AS k")
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set("mapreduce.output.fileoutputformat.compress", "true")
    hc.set(
        "mapreduce.output.fileoutputformat.compress.codec",
        "org.apache.hadoop.io.compress.GzipCodec",
    )
    try:
        with pytest.raises(ValueError, match="uncompressed"):
            land_ordered_ndjson(df, "k", landing, 2)
    finally:
        hc.unset("mapreduce.output.fileoutputformat.compress")
        hc.unset("mapreduce.output.fileoutputformat.compress.codec")
