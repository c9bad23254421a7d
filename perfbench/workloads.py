"""The workloads: set-up, one operation, and output checks.

Each workload drives the package only through its public functions.
`setup` does everything that must not be timed (input generation,
landing, sink seeding, warm-up); `op` runs one timed operation;
`check_op` and `finish` hold the output checks.
"""

from __future__ import annotations

import csv
import hashlib
import json
import math
import random
import shutil
import sys
import time
from collections import deque
from decimal import Decimal
from pathlib import Path

from wsprnet_scraper_spark.streaming import Cursor, land_batch, run_scrape_daemon, start_ingest
from wsprnet_scraper_spark.streaming.ingest import GapMonitor

from .metrics import geomean
from .spots import FIRST_SPOTNUM, SpotStream, gap_record
from .tables import TABLES, build, write

QUERY_MIX = (
    "pipeline_enrich27", "agg_group_q1", "graph_pagerank_bucketed",
    "evt_markov_stationary", "pipe_balanced_shards", "strm_dedup_watermark",
)
TABLE_SEED = 42  # the query tables are fixed; the run's seed shuffles the pass order
TABLE_SCALE = 0.002  # of the sf1 row counts: lineitem has 12,000 rows
# The reference scrapes every 30 s (wsprnet-scraper.sh:8,344-351) and a
# scrape returns about 2,000 spots (SpotStream.size). The sink starts
# with HISTORY_HOURS of such ticks, in as many parquet files as ticks leave.
TICK_S = 30
HISTORY_HOURS = 1
HISTORY_TICKS = HISTORY_HOURS * 3600 // TICK_S
HISTORY_GAP = 7  # Spotnums skipped between two history ticks
RECORD_KEYS = ("n_spots", "first_spotnum", "last_spotnum", "total_gaps",
               "total_missing", "max_gap_size", "boundary_gap")


def note(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _ids(batch) -> set[int]:
    return {int(s["Spotnum"]) for s in batch}


def _record_ok(got: dict, want: dict) -> bool:
    return all(got[k] == want[k] for k in RECORD_KEYS)


class History:
    """The ticks a daemon drained before the benchmark's first: `copies`
    copies of the first drained batch's sink rows, each with its
    Spotnums moved down by one stride per copy, so every copy holds
    distinct Spotnums below all the live ones. Only Spotnum differs
    from the batch; it is the one column the sink's anti-join reads."""

    def __init__(self, template: list[int], copies: int) -> None:
        self.template, self.copies = template, copies
        self.stride = template[-1] - template[0] + 1 + HISTORY_GAP
        self.lo = template[0] - copies * self.stride  # Spotnum range [lo, hi)
        self.hi = template[0]
        self.count = copies * len(template)

    def summary(self) -> tuple[int, int, int, int, int]:
        """(count, distinct, min, max, sum) of the history's Spotnums."""
        n, c = len(self.template), self.copies
        total = c * sum(self.template) - n * self.stride * c * (c + 1) // 2
        return self.count, self.count, self.lo, self.template[-1] - self.stride, total

    def write(self, spark, sink: Path) -> None:
        """Append the copies to the sink in one Spark job: one range
        partition per copy, joined to the broadcast template, then
        coalesced to one task per core. Files are cut every
        len(template) / cores rows, so each copy leaves one file per
        core, as a tick does (its anti-join output has one partition
        per core)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        n = len(self.template)
        tmpl = spark.read.parquet(str(sink)).filter(F.col("Spotnum") >= FIRST_SPOTNUM)
        columns = tmpl.columns
        tmpl = tmpl.withColumn("_j", F.row_number().over(Window.orderBy("Spotnum")) - 1)
        ids = spark.range(0, self.copies * n, numPartitions=self.copies)
        copies = ids.select((F.floor(F.col("id") / n) + 1).alias("_k"),
                            (F.col("id") % n).alias("_j"))
        rows = copies.join(F.broadcast(tmpl), "_j").withColumn(
            "Spotnum", (F.col("Spotnum") - F.col("_k") * self.stride).cast("long"))
        cores = spark.sparkContext.defaultParallelism
        rows.select(*columns).coalesce(cores).write \
            .option("maxRecordsPerFile", -(-n // cores)).mode("append").parquet(str(sink))


class Workload:
    """What the measuring loop in run.py drives."""

    min_ops = 2  # a run measures at least this many operations
    spans: dict[str, float] | None = None  # set by the traced run around one op

    def setup(self, tally, pool: int) -> None:
        raise NotImplementedError

    def op(self) -> None:
        raise NotImplementedError

    def check_op(self) -> bool | None:
        """Output check of the operation just run; None if the workload
        checks its outputs only in `setup` and `finish`."""
        return None

    def state(self) -> str:
        """What the operation just run worked against, for the log."""
        return ""

    def top_up(self) -> None:
        """Untimed work between operations."""

    def finish(self, tally) -> None:
        """End-of-run output checks."""

    def layer_snapshot(self):
        """State read before a traced operation, for `layer_record`."""

    def layer_record(self, before) -> dict[str, float]:
        """Per-layer values of the traced operation just run."""
        return {}


class ScrapeTick(Workload):
    """Closed-loop `run_scrape_daemon` ticks against a sink that already
    holds HISTORY_HOURS of ticks."""

    warmup = 6  # tick time falls over the first five or six ticks, for longer on a busy host
    min_ops = 4  # ticks are short; --seconds usually fits five

    def __init__(self, spark, root: Path, repo: Path, seed: int, monitor: GapMonitor) -> None:
        self.spark, self.root, self.seed = spark, root, seed
        self.golden_dir = repo / "tests" / "golden"
        self.golden = json.loads((self.golden_dir / "spots_input.json").read_text())
        self.monitor = monitor
        self.landing, self.sink, self.ckpt = root / "landing", root / "sink", root / "ckpt"

    def setup(self, tally, pool: int) -> None:
        self.stream = SpotStream(self.seed)
        first = self.stream.batch()
        land_batch(first, self.landing, "h0")
        land_batch(self.golden, self.landing, "golden")
        seen = _ids(first) | _ids(self.golden)
        start_ingest(self.spark, str(self.landing), str(self.sink), str(self.ckpt),
                     monitor=self.monitor).awaitTermination()
        tally.record(len(self.monitor.records) == 1
                     and _record_ok(self.monitor.records[0], gap_record(seen, None)),
                     "seed drain: gap record")
        note("seed drain done")
        self.history = History(sorted(_ids(first)), HISTORY_TICKS - 1)
        if self.history.lo <= max(_ids(self.golden)):
            raise ValueError("history Spotnums would reach the golden batch's")
        self.history.write(self.spark, self.sink)
        note(f"sink seeded with {HISTORY_TICKS} ticks of history")
        self.seen = seen
        self.cursor = max(seen)
        Cursor(self.landing / "_cursor.json").advance(self.cursor)
        self.batches = deque(self.stream.batch() for _ in range(pool + self.warmup))
        for _ in range(self.warmup):
            self.op()
            tally.record(self.check_op(), "warm-up tick")
            note("warm-up tick done")

    def fetch(self, spotnum_start: int) -> list[dict]:
        if spotnum_start != self.cursor:
            raise RuntimeError(f"cursor {spotnum_start} != {self.cursor}")
        return self.batches.popleft()

    def op(self) -> None:
        batch = self.batches[0]
        new = _ids(batch) - self.seen
        self._want = gap_record(new, self.monitor.last_spotnum)
        self._n_records = len(self.monitor.records)
        run_scrape_daemon(
            self.spark, self.fetch, str(self.landing), str(self.sink), str(self.ckpt),
            monitor=self.monitor, clock=lambda: 0.0, sleep=lambda s: None, max_ticks=1,
        )
        self.seen |= new
        self.cursor = max(self.cursor, max(_ids(batch)))

    def check_op(self) -> bool:
        recs = self.monitor.records
        return len(recs) == self._n_records + 1 and _record_ok(recs[-1], self._want)

    def state(self) -> str:
        return f"sink {self.history.count + len(self.seen)} rows"

    def top_up(self) -> None:
        """Should ticks outrun the batches made in set-up, make the next
        one here, between ticks and outside their timing."""
        if not self.batches:
            self.batches.append(self.stream.batch())

    def finish(self, tally) -> None:
        tally.record(self.sink_ok(), "sink Spotnum set")
        tally.record(self.golden_ok(), "golden rows")

    def layer_snapshot(self):
        return self.monitor.seconds, self.monitor.jobs, set(self.landing.glob("*.json"))

    def layer_record(self, before) -> dict[str, float]:
        seconds, jobs, landed = before
        files = list(self.sink.glob("*.parquet"))
        return {
            "ingest.gap_monitor_s": self.monitor.seconds - seconds,
            "ingest.gap_monitor_jobs": float(self.monitor.jobs - jobs),
            "fetcher.landed_bytes": float(sum(
                p.stat().st_size for p in set(self.landing.glob("*.json")) - landed)),
            "sink.files": float(len(files)),
            "sink.bytes": float(sum(p.stat().st_size for p in files)),
            "sink.rows": float(self.history.count + len(self.seen)),
        }

    def sink_ok(self) -> bool:
        """The sink holds each generated Spotnum exactly once: the live
        ones compared as a set, the history by count, distinct count,
        bounds and sum."""
        from pyspark.sql import functions as F

        col = F.col("Spotnum")
        df = self.spark.read.parquet(str(self.sink)).select("Spotnum")
        in_history = (col >= self.history.lo) & (col < self.history.hi)
        live = [r[0] for r in df.filter(~in_history).collect()]
        got = df.filter(in_history).agg(
            F.count(col), F.count_distinct(col), F.min(col), F.max(col), F.sum(col)).first()
        return (len(live) == len(self.seen) and set(live) == self.seen
                and tuple(got) == self.history.summary())

    def golden_ok(self) -> bool:
        """Sink rows of the golden batch, rendered to the reference's
        wire CSV, equal tests/golden/spots_golden.csv: MHz (field 7)
        numerically, every other field byte for byte."""
        from pyspark.sql import functions as F

        from wsprnet_scraper_spark import pipeline

        with (self.golden_dir / "spots_golden.csv").open() as fh:
            want = {row[1]: row for row in csv.reader(fh)}
        out = self.root / "golden_csv"
        df = self.spark.read.parquet(str(self.sink)).filter(F.col("Spotnum").isin([int(k) for k in want]))
        pipeline.write_wire_csv(df, str(out))
        got = {}
        for part in sorted(out.glob("part-*.csv")):
            with part.open() as fh:
                got.update((row[1], row) for row in csv.reader(fh))
        shutil.rmtree(out, ignore_errors=True)
        return got.keys() == want.keys() and all(
            got[k][:6] == w[:6] and float(got[k][6]) == float(w[6]) and got[k][7:] == w[7:]
            for k, w in want.items()
        )


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if v is None or isinstance(v, (bool, int, float)):
        return v
    return str(v)


def rows_digest(columns, rows) -> str:
    """Order-independent digest of a result: columns sorted by name,
    rows sorted by their repr, floats exact (NaN equal to NaN)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        repr(tuple("nan" if isinstance(x, float) and math.isnan(x) else x
                   for x in (_norm(r[i]) for i in order)))
        for r in rows
    )
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


class QueryMix(Workload):
    """Closed-loop passes over a fixed query mix, order shuffled per pass.
    A pass collects every query's result; its check compares each
    result with the query's oracle, outside the pass's timing."""

    warmup = 4  # untimed passes, the first cold; pass time falls over the first five or six
    min_ops = 4  # a warm pass takes 3-5 s

    def __init__(self, spark, root: Path, repo: Path, seed: int, monitor=None) -> None:
        self.spark, self.root, self.seed = spark, root, seed
        self.rng = random.Random(seed)
        self.sf = str(root / "data")
        self.walls: dict[str, list[float]] = {n: [] for n in QUERY_MIX}

    def setup(self, tally, pool: int) -> None:
        import duckdb

        from wsprnet_scraper_spark.plans import ORACLE, QUERIES

        write(build(TABLE_SEED, TABLE_SCALE), Path(self.sf))
        note("tables written")
        self.queries = QUERIES
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
            self.oracle = {}
            for name in QUERY_MIX:
                res = con.execute(ORACLE[name])
                self.oracle[name] = rows_digest([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        for _ in range(self.warmup):
            t0 = time.perf_counter()
            self.op()
            note(f"warm-up pass {time.perf_counter() - t0:.3f} s")
            tally.record(self.check_op(), "warm-up pass: output check")
        self.walls = {n: [] for n in QUERY_MIX}

    def op(self) -> None:
        order = list(QUERY_MIX)
        self.rng.shuffle(order)
        self.results = {}
        for name in order:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.sf)
            if self.spans is not None:
                self.spans["registry.plan_build_s"] += time.perf_counter() - t0
            self.results[name] = (df.columns, df.collect())
            self.walls[name].append(time.perf_counter() - t0)

    def check_op(self) -> bool:
        """Each result of the pass just run has its oracle's digest."""
        bad = [n for n, (cols, rows) in self.results.items()
               if rows_digest(cols, rows) != self.oracle[n]]
        if bad:
            note(f"output differs from its oracle: {' '.join(bad)}")
        return not bad

    def finish(self, tally) -> None:
        note(" ".join(f"{n}={','.join(f'{w:.2f}' for w in v)}" for n, v in self.walls.items()))

    def layer_record(self, before) -> dict[str, float]:
        last = {f"query.{n}.wall_s": v[-1] for n, v in self.walls.items()}
        return {**last, "query.geomean_s": geomean(last.values())}


WORKLOADS = {"scrape_tick": ScrapeTick, "query_mix": QueryMix}
