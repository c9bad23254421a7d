"""Seeded WSPR spot batches, shaped like the wsprnet REST API's replies.

Every field is a string, as the API sends it. A batch holds `size` new
Spotnums plus two kinds of repeats the ingest path must drop:

- in-batch duplicates: a few rows of the batch appear twice;
- a redelivered overlap: the first rows of batch i+1 are the last
  rows of batch i, as after a fetch whose cursor advance was lost.

Spotnums rise by one with seeded gaps in between, some of which fall
on a batch boundary. Grids are drawn from the whole 4- and 6-character
Maidenhead space; frequencies from every band of `schema.BAND_TABLE`
plus off-table values that must map to the default band.

Pure Python and deterministic per seed, so it runs without Spark and
is tested on its own.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

FIELD = "ABCDEFGHIJKLMNOPQR"  # Maidenhead field letters, 18 x 18
SUBSQUARE = "abcdefghijklmnopqrstuvwx"  # subsquare letters, 24 x 24
# Decihertz keys of schema.BAND_TABLE (copied so the generator needs no
# Spark import); perfbench/tests/test_perfbench.py checks it stays in sync.
BAND_KEYS = (1, 4, 18, 35, 52, 53, 70, 101, 140, 181, 210, 249, 281, 502, 700, 1444, 4323, 12965)
OFF_TABLE_KEYS = (0, 2, 36, 100, 3614, 9999)
VERSIONS = ("", "2.3.0", "2.6.1", "2.7.0-rc1")
POWERS = (0, 10, 20, 23, 30, 33, 37, 40, 60)

FIRST_SPOTNUM = 10_000_000  # far above the golden fixture's Spotnums
FIRST_DATE = 1_755_043_200  # 2025-08-13T00:00Z, a WSPR cycle start


def _below(rng: random.Random, n: int) -> int:
    """Uniform int in [0, n); faster than randrange for small n."""
    return int(rng.random() * n)


def grid(rng: random.Random) -> str:
    """A 4- or 6-character locator, uniform over each space."""
    n = _below(rng, 2 * 18 * 18 * 100 * 24 * 24)
    six, n = n & 1, n >> 1
    n, a = divmod(n, 18)
    n, b = divmod(n, 18)
    n, d = divmod(n, 100)
    g = f"{FIELD[a]}{FIELD[b]}{d:02d}"
    return g + SUBSQUARE[n % 24] + SUBSQUARE[n // 24] if six else g


def mhz(rng: random.Random) -> str:
    """A frequency whose decihertz key is a table band (95 %) or not."""
    keys = OFF_TABLE_KEYS if rng.random() < 0.05 else BAND_KEYS
    # stay clear of the key edges so truncation is never ambiguous
    return f"{keys[_below(rng, len(keys))] / 10 + 0.0005 + rng.random() * 0.09:.6f}"


def callsign(rng: random.Random) -> str:
    n, d = divmod(_below(rng, 4 * 10 * 18 * 18), 10)
    n, a = divmod(n, 18)
    n, b = divmod(n, 18)
    return f"{'KNWG'[n]}{d}{FIELD[a]}{FIELD[b]}"


def spot(rng: random.Random, spotnum: int, date: int) -> dict:
    return {
        "Spotnum": str(spotnum),
        "Date": str(date),
        "Reporter": callsign(rng) + ("/P" if rng.random() < 0.02 else ""),
        "ReporterGrid": grid(rng),
        "dB": str(_below(rng, 51) - 30),
        "MHz": mhz(rng),
        "CallSign": callsign(rng),
        "Grid": grid(rng),
        "Power": str(POWERS[_below(rng, len(POWERS))]),
        "Drift": str(_below(rng, 9) - 4),
        "distance": str(_below(rng, 20_000)),
        "azimuth": str(_below(rng, 360)),
        "Band": str(_below(rng, 22) - 1),
        "version": VERSIONS[_below(rng, len(VERSIONS))],
        "code": str(_below(rng, 3)),
    }


@dataclass
class SpotStream:
    """Endless seeded sequence of fetch replies (one list per tick)."""

    seed: int
    size: int = 2000
    gap_rate: float = 0.01  # share of steps that skip Spotnums
    dup_rate: float = 0.01  # share of rows repeated inside their batch
    overlap: int = 25  # rows of the previous batch redelivered
    _rng: random.Random = field(init=False, repr=False)
    _next: int = field(init=False, default=FIRST_SPOTNUM)
    _tick: int = field(init=False, default=0)
    _tail: list = field(init=False, default_factory=list)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)

    def batch(self) -> list[dict]:
        rng = self._rng
        date = FIRST_DATE + 120 * self._tick
        self._tick += 1
        fresh = []
        for _ in range(self.size):
            if rng.random() < self.gap_rate:
                self._next += 1 + _below(rng, 40)
            fresh.append(spot(rng, self._next, date))
            self._next += 1
        dups = [dict(s) for s in fresh if rng.random() < self.dup_rate]
        out = self._tail + fresh + dups
        self._tail = [dict(s) for s in fresh[-self.overlap:]]
        rng.shuffle(out)
        return out


def gap_record(spotnums, last_spotnum: int | None) -> dict:
    """What GapMonitor should record for a batch holding `spotnums`
    (after dedup): the reference's three gap accumulators plus the
    boundary gap against the previous batch."""
    ids = sorted(set(spotnums))
    steps = [b - a - 1 for a, b in zip(ids, ids[1:]) if b - a > 1]
    return {
        "n_spots": len(ids),
        "first_spotnum": ids[0],
        "last_spotnum": ids[-1],
        "total_gaps": len(steps),
        "total_missing": sum(steps),
        "max_gap_size": max(steps, default=0),
        "boundary_gap": None if last_spotnum is None else ids[0] - last_spotnum - 1,
    }
