"""Phase-locked daemon loop tests (VERDICT r1 item 4).

A fake clock advances only when the loop sleeps, so the tick
timestamps are exact: the loop must fire at the 55/85/115 s offsets
of every 120 s cycle, in order, from any starting phase — the
reference daemon's alignment contract (wsprnet-scraper.sh:353-376).
The end-to-end test then runs the real `run_scrape_daemon` with an
injected fetch transport and asserts spots flow cursor -> landing ->
checkpointed availableNow drain -> sink on every tick.
"""

from __future__ import annotations

import pytest

from tests.test_streaming_ingest import make_spot
from wsprnet_scraper_spark.streaming import Cursor, phase_locked_loop, run_scrape_daemon
from wsprnet_scraper_spark.streaming.ingest import GapMonitor


class FakeClock:
    def __init__(self, start: float):
        self.now = float(start)

    def time(self) -> float:
        return self.now

    def sleep(self, seconds: float) -> None:
        assert seconds >= 0
        self.now += seconds


@pytest.mark.parametrize("start", [0.0, 54.9, 55.0, 100.0, 119.5, 1700000007.25])
def test_loop_fires_at_cycle_offsets(start):
    clock = FakeClock(start)
    fired: list[float] = []
    n = phase_locked_loop(
        lambda i: fired.append(clock.now),
        clock=clock.time,
        sleep=clock.sleep,
        max_ticks=7,
    )
    assert n == 7 and len(fired) == 7
    # every fire lands exactly on a {55, 85, 115} offset...
    assert all(t % 120 in (55.0, 85.0, 115.0) for t in fired), fired
    # ...strictly advancing, one offset per fire (30 s apart, with the
    # 55-after-115 wrap taking 60 s)
    deltas = [b - a for a, b in zip(fired, fired[1:])]
    assert all(d in (30.0, 60.0) for d in deltas), deltas
    # first fire is the NEXT offset after start, never a skipped one
    assert fired[0] > start and fired[0] - start <= 120


def test_loop_stop_predicate():
    clock = FakeClock(0)
    fired: list[int] = []
    n = phase_locked_loop(
        lambda i: fired.append(i),
        clock=clock.time,
        sleep=clock.sleep,
        stop=lambda: len(fired) >= 3,
    )
    assert n == 3 and fired == [0, 1, 2]


def test_run_scrape_daemon_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    clock = FakeClock(1700000000)

    # injected transport: 5 new spots per fetch, starting after the
    # cursor — tick 1 re-fetching anything would break the assert below
    def fetch(spotnum_start: int) -> list[dict]:
        return [make_spot(spotnum_start + i + 1) for i in range(5)]

    monitor = GapMonitor()
    cursor = Cursor(landing / "_cursor.json")
    cursor.advance(1000)
    n = run_scrape_daemon(
        spark,
        fetch,
        str(landing),
        str(sink),
        str(ckpt),
        monitor=monitor,
        cursor=cursor,
        clock=clock.time,
        sleep=clock.sleep,
        max_ticks=3,
    )
    assert n == 3
    assert cursor.read() == 1015  # 3 ticks x 5 spots, cursor advanced each
    rows = spark.read.parquet(str(sink)).select("Spotnum").collect()
    assert sorted(r.Spotnum for r in rows) == list(range(1001, 1016))
    # each tick's drain processed exactly its batch (monitor saw 3)
    assert [r["n_spots"] for r in monitor.records] == [5, 5, 5]
    assert all(r["boundary_gap"] in (None, 0) for r in monitor.records)


def test_daemon_builds_ingest_plan_once_per_session(spark, tmp_path, stream_builds):
    """Three ticks share one prepared ingest stream; a maintenance pass
    drops it and the next tick builds it again. Records and sink are
    the per-tick drain's, exactly."""
    from wsprnet_scraper_spark.streaming.daemon import session_maintenance

    landing = tmp_path / "landing"
    landing.mkdir()
    monitor = GapMonitor()
    cursor = Cursor(landing / "_cursor.json")
    cursor.advance(1000)

    def run(ticks: int) -> None:
        run_scrape_daemon(
            spark,
            lambda start: [make_spot(start + i + 1) for i in range(5)],
            str(landing),
            str(tmp_path / "sink"),
            str(tmp_path / "ckpt"),
            monitor=monitor,
            cursor=cursor,
            clock=lambda: 0.0,
            sleep=lambda s: None,
            max_ticks=ticks,
        )

    run(3)
    assert len(stream_builds) == 1
    session_maintenance(spark)
    run(1)
    assert len(stream_builds) == 2
    assert monitor.records == [
        {
            "batch_id": b,
            "n_spots": 5,
            "first_spotnum": 1001 + 5 * b,
            "last_spotnum": 1005 + 5 * b,
            "total_gaps": 0,
            "total_missing": 0,
            "max_gap_size": 0,
            "boundary_gap": None if b == 0 else 0,
        }
        for b in range(4)
    ]
    rows = spark.read.parquet(str(tmp_path / "sink")).select("Spotnum").collect()
    assert sorted(r.Spotnum for r in rows) == list(range(1001, 1021))


def test_maintenance_fires_on_cadence(spark, tmp_path):
    """session_maintenance runs every `maintenance_every` ticks and
    actually clears the prepared-plan cache and the standing-state
    store handles, the pinned frame relation included (r11 review
    finding: clearCache cannot reach checkpoint blocks, so a daemon
    that never drops the handle pins an events-sized relation
    forever)."""
    from wsprnet_scraper_spark.operators import stores
    from wsprnet_scraper_spark.plans import QUERIES
    from wsprnet_scraper_spark.plans.analytics import _frame_relation
    from wsprnet_scraper_spark.plans.registry import _PLAN_CACHE
    from wsprnet_scraper_spark.streaming.daemon import run_scrape_daemon

    # seed the plan cache with a real prepared plan, and the store
    # with the pinned frame relation
    QUERIES["agg_count_rows"](spark, "/root/testdata/sf0.001")
    _frame_relation(spark, "/root/testdata/sf0.001")
    app = spark.sparkContext.applicationId
    assert _PLAN_CACHE
    assert ("frames_w19", "/root/testdata/sf0.001") in stores._STORE_CACHE[app]

    from tests.test_streaming_ingest import make_spot

    ticks = run_scrape_daemon(
        spark,
        lambda start: [make_spot(start + 1)],
        str(tmp_path / "landing"),
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt"),
        clock=lambda: 0.0,
        sleep=lambda s: None,
        max_ticks=2,
        maintenance_every=2,
    )
    assert ticks == 2
    assert not _PLAN_CACHE  # cleared on the 2nd tick
    assert not stores._STORE_CACHE  # store handles released too
