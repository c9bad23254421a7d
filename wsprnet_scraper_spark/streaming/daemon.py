"""The phase-locked scrape daemon: the reference's main loop, wired.

The reference daemon (wsprnet-scraper.sh:353-376) sleeps to the next
{55, 85, 115} s offset of the 120 s WSPR cycle, scrapes once, then
processes the batch before sleeping again. Round 1 shipped the pure
offset math (`seconds_until_next_offset`) but no loop actually
slept-and-fired; this module is that loop, built so every effectful
dependency (clock, sleep, fetch, ingest drain) is injectable and the
55/85/115 alignment is assertable under a fake clock.

`run_scrape_daemon` composes one tick as: fetch -> land -> drain the
landing dir with ONE `availableNow` ingest run (same checkpoint every
tick, so restarts resume exactly). availableNow-per-tick rather than
a long-lived processing-time trigger keeps the Spark work inside the
tick — by the time the loop sleeps again, the batch is fully in the
sink, matching the reference's strictly sequential
scrape-then-process cycle and making "the sink is current as of the
last tick" a loop invariant (the reference relies on exactly that for
its cold-start cursor recovery).
"""

from __future__ import annotations

import time
from typing import Callable

from .fetcher import Cursor, fetch_once, seconds_until_next_offset


def phase_locked_loop(
    tick_fn: Callable[[int], None],
    *,
    clock: Callable[[], float] = time.time,
    sleep: Callable[[float], None] = time.sleep,
    first: int = 55,
    gap: int = 30,
    cycle: int = 120,
    max_ticks: int | None = None,
    stop: Callable[[], bool] | None = None,
) -> int:
    """Sleep to each in-cycle offset and call `tick_fn(tick_index)`.

    Pure control flow around `seconds_until_next_offset`: fires at
    the {first, first+gap, ...} offsets of every `cycle` seconds,
    like the reference's WSPRNET_OFFSET loop. `clock`/`sleep` are
    injectable (fake-clock tests); `max_ticks`/`stop` bound the loop
    (the reference runs unbounded under systemd). A tick that raises
    propagates — supervision (restart policy) belongs to the caller,
    as in the reference. Returns the number of ticks fired.
    """
    n = 0
    while (max_ticks is None or n < max_ticks) and not (stop is not None and stop()):
        sleep(seconds_until_next_offset(clock(), first=first, gap=gap, cycle=cycle))
        tick_fn(n)
        n += 1
    return n


def session_maintenance(spark) -> None:
    """Reclaim the slow session-lifetime leases a long-running driver
    accumulates: prepared-plan cache entries (each pins a JVM plan
    tree via py4j), standing-relation store handles (graph edges, the
    win_* frame relation, signatures, labels, trained codebooks — the
    parquet stays, so the next plan re-opens it rather than
    rebuilding, and dropping a pinned handle lets the ContextCleaner
    reap its checkpoint blocks, which clearCache() cannot reach),
    CacheManager persisted relations, and dead checkpoint RDDs
    waiting on Python GC for ContextCleaner to reap. Measured
    consequence of NOT doing this: the r5 full-registry gate OOM'd a
    default-heap JVM at ~261 queries with every individual query
    innocent. Call it at a coarse cadence (the daemon defaults to
    every 720 ticks ≈ 8 h at the 30 s scrape cadence) — it costs
    re-planning the next query of each shape and re-opening each
    standing parquet, nothing else."""
    import gc

    from ..operators.stores import clear_store_cache
    from ..plans.registry import clear_plan_cache

    clear_plan_cache()
    # handles only: the standing-state scratch parquet survives, so
    # the post-maintenance re-pay is a parquet re-open, never a
    # standing-state rebuild (r12, VERDICT r11 task #5 — the probe's
    # cold-minus-warm split is the rebuild this avoids)
    clear_store_cache()
    spark.catalog.clearCache()
    gc.collect()


# Failure signatures of LOST pinned state — not of a wrong plan.
# "Checkpoint block": LocalCheckpointRDD.compute's error when a
# block died with its executor (or was unpersisted) — a
# localCheckpoint cannot recompute it (the store's handle rule,
# operators/stores.py). "FetchFailed"/"BlockNotFound": shuffle and
# cached-block loss variants of the same event. FileNotFound
# markers: a standing-store parquet dir vanished under an open handle
# (scratch reclaimed by the OS, store dir rewritten by another
# session).
_LOST_STATE_MARKERS = (
    "Checkpoint block",
    "BlockNotFoundException",
    "FetchFailed",
    "FileNotFoundException",
    "FileReadException",
    "does not exist",
)


def is_lost_state_error(exc: BaseException) -> bool:
    """True when `exc` (or its cause chain) reads like lost executor
    state rather than a semantic failure."""
    seen = 0
    while exc is not None and seen < 8:
        msg = str(exc)
        if any(m in msg for m in _LOST_STATE_MARKERS):
            return True
        exc = exc.__cause__ or exc.__context__
        seen += 1
    return False


def run_with_state_recovery(spark, action):
    """Execute `action()` — a zero-arg thunk that BUILDS and RUNS a
    query (e.g. `lambda: QUERIES[k](spark, sf).collect()`) — retrying
    ONCE after dropping every pinned shared relation if the failure
    looks like lost executor state (VERDICT r12 task #4:
    localCheckpoint pins cannot recompute lost blocks, so on a
    cluster an executor loss fails every consumer of a pinned
    relation until the pin is dropped and re-made).

    The thunk must CONSTRUCT the DataFrame inside itself: a pre-built
    DataFrame closes over the dead pinned relation and would replay
    the same lost blocks; rebuilding the plan after maintenance
    re-opens every store relation from its standing parquet and pins
    it afresh. Deployment shape: wire
    this around the driver's per-query execution, or call
    `session_maintenance` from an executor-loss listener for the
    push-based equivalent."""
    try:
        return action()
    except Exception as e:
        if not is_lost_state_error(e):
            raise
        session_maintenance(spark)
        return action()


def run_scrape_daemon(
    spark,
    fetch_fn: Callable[[int], list[dict]],
    landing_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    monitor=None,
    cursor: Cursor | None = None,
    clock: Callable[[], float] = time.time,
    sleep: Callable[[float], None] = time.sleep,
    max_ticks: int | None = None,
    stop: Callable[[], bool] | None = None,
    maintenance_every: int | None = None,
) -> int:
    """Phase-locked fetch -> land -> availableNow-drain loop.

    One tick = `fetch_once` (cursor-guarded, atomic landing write)
    followed by one `start_ingest(available_now=True)` run against
    the same checkpoint — the streaming source's file index, not a
    re-scan, decides what's new, so each drain is incremental and a
    killed daemon resumes from the checkpoint. `fetch_fn` is the
    injected transport (http_fetch_spots in production). Returns the
    number of ticks fired.

    The ingest plan is built once per session (the prepared-plan
    cache; a maintenance pass drops it), so a tick pays for the fetch
    and one micro-batch, not re-planning: the batch's Spotnum range,
    then one written plan that checks only the overlapping sink files
    and carries the gap telemetry (`ingest.append_to_sink`).

    `maintenance_every` is OPT-IN (ADVICE r5): session_maintenance
    calls spark.catalog.clearCache(), which unpersists EVERY cached
    relation in the session — an application embedding this loop on a
    shared SparkSession would silently lose its own persisted
    DataFrames. Enable it (720 ≈ 8 h at the 30 s cadence) only when
    the daemon owns its session, or hand it `spark.newSession()`,
    which then builds and keeps its own ingest plan.
    """
    from pathlib import Path

    from .ingest import start_ingest

    cursor = cursor or Cursor(Path(landing_dir) / "_cursor.json")

    def tick(n: int) -> None:
        fetch_once(fetch_fn, cursor, landing_dir)
        q = start_ingest(
            spark, landing_dir, sink_dir, checkpoint_dir, monitor=monitor
        )
        q.awaitTermination()
        if maintenance_every and (n + 1) % maintenance_every == 0:
            session_maintenance(spark)

    return phase_locked_loop(
        tick, clock=clock, sleep=sleep, max_ticks=max_ticks, stop=stop
    )
