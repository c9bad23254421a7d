"""`operators.sequence.gap_summary` against a pure-Python reference.

The reference scans the sorted id list once (wsprnet-scraper.sh:
284-309): a step of d > 1 is one gap of d - 1 missing ids; duplicates
(d = 0) are not gaps. The Spark operator splits the id space into
`block_size` blocks, so small block sizes put gaps across block
boundaries and whole missing blocks, where a block-decomposition bug
would show.
"""

from __future__ import annotations

import random

import pytest

from wsprnet_scraper_spark.operators.sequence import gap_stats, gap_summary


def _reference(ids: list[int]) -> dict:
    xs = sorted(ids)
    gaps = [b - a - 1 for a, b in zip(xs, xs[1:]) if b - a - 1 > 0]
    return {
        "n_spots": len(ids),
        "first_spotnum": xs[0] if xs else None,
        "last_spotnum": xs[-1] if xs else None,
        "total_gaps": len(gaps),
        "total_missing": sum(gaps),
        "max_gap_size": max(gaps, default=0),
    }


def _seeded(seed: int) -> list[int]:
    rng = random.Random(seed)
    ids = []
    x = rng.randrange(1000)
    for _ in range(rng.randrange(20, 60)):
        ids.append(x)
        # mostly contiguous, some duplicates, small gaps and jumps
        # that skip several whole 8-id blocks
        x += rng.choice([0, 1, 1, 1, 2, 3, 9, 30])
    rng.shuffle(ids)
    return ids


CASES = {
    "empty": [],
    "one_id": [42],
    "duplicates": [5, 5, 6, 6, 6, 9, 9],
    "gap_across_block_boundary": [5, 6, 7, 10, 11],  # 8 and 9 missing
    "whole_missing_blocks": [1, 2, 3, 40, 41, 100],  # blocks 1-4, 6-11 empty
    **{f"seed{s}": _seeded(s) for s in range(4)},
}


@pytest.mark.parametrize("block_size", [8, 1 << 20])
def test_gap_summary_matches_reference(spark, block_size):
    for name, ids in CASES.items():
        df = spark.createDataFrame([(i,) for i in ids], "Spotnum long")
        got = gap_summary(df, block_size=block_size).collect()
        assert len(got) == 1, name
        assert got[0].asDict() == _reference(ids), (name, block_size)


def test_gap_stats_is_the_gap_columns_of_gap_summary(spark):
    ids = CASES["whole_missing_blocks"]
    df = spark.createDataFrame([(i,) for i in ids], "Spotnum long")
    got = gap_stats(df, block_size=8)
    assert got.columns == ["total_gaps", "total_missing", "max_gap_size"]
    want = _reference(ids)
    assert got.first().asDict() == {c: want[c] for c in got.columns}
