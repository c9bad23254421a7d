"""Deterministic-sketch invariants (operators/sketch.py).

The differential gate proves both engines agree; these pin the
SKETCH guarantees the curation pipeline relies on — Bloom never
misses a true overlap (decontamination may over-flag, never
under-flag) and Count-Min never under-counts — plus the fixed-size
shuffle property that makes the sketches viable at 100 TB.
"""

from __future__ import annotations

import re

from wsprnet_scraper_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def test_bloom_never_misses_true_overlap(spark):
    bloom = {
        r["doc"]: r
        for r in QUERIES["pipe_bloom_decontam"](spark, SF).collect()
    }
    exact = {
        r["doc"]: r for r in QUERIES["pipe_contamination"](spark, SF).collect()
    }
    assert set(bloom) == set(exact)
    for doc, ex in exact.items():
        bl = bloom[doc]
        assert bl["n_shingles"] == ex["n_shingles"]
        # one-sided: every true shared shingle hits the filter
        assert bl["n_bloom_hits"] >= ex["n_shared"], doc
        if ex["contaminated"]:
            assert bl["flagged"], doc


def test_count_min_never_undercounts(spark):
    rows = QUERIES["agg_count_min"](spark, SF).collect()
    assert rows, "empty heavy-hitter list"
    for r in rows:
        assert r["cm_estimate"] >= r["exact_n"], r


def test_sketch_aggregations_are_partial(spark):
    # the bitmap build and the CM grid must partial-aggregate
    # (map-side combine) so the shuffle is sketch-sized, and no
    # Python boundary may appear anywhere
    for name in ("pipe_bloom_decontam", "agg_count_min"):
        plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert re.search(r"partial_(count|sum|bit_or)", plan), name


def test_semantic_dedup_pairs_subset_of_exact(spark):
    # every near-dup SemDeDup marks must be a TRUE cosine near-dup
    # (clustering only restricts the candidate set, it never invents
    # similarity): (vid, dup_of) pairs are a subset of the all-pairs
    # cosine>=t relation computed brute-force
    from pyspark.sql import functions as F

    from wsprnet_scraper_spark.operators.similarity import (
        _as_double,
        _dot,
        _norm2,
        semantic_dedup,
    )
    from wsprnet_scraper_spark.sources import load

    emb = load(spark, SF, "embeddings")
    marked = semantic_dedup(emb, threshold=0.2, cache_key=SF).filter(
        F.col("dup_of").isNotNull()
    )
    base = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).withColumn("n2", _norm2(F.col("v")))
    a, b = base.alias("a"), base.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (
        F.sqrt(F.col("a.n2")) * F.sqrt(F.col("b.n2"))
    )
    exact = {
        (r["x"], r["y"])
        for r in a.join(b, F.col("b.vec_id") < F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("x"), F.col("b.vec_id").alias("y"), cos.alias("c")
        )
        .filter(F.col("c") >= 0.2)
        .collect()
    }
    got = [(r["vec_id"], r["dup_of"]) for r in marked.collect()]
    assert got, "no semantic near-dups marked at sf0.001"
    for pair in got:
        assert pair in exact, pair


def test_bloom_decontaminate_duplicate_input_rows(spark):
    # The one-sided guarantee must hold for ANY caller input, not just
    # pre-distincted shingles: duplicated (doc, shingle) rows replay
    # the same hash outcomes and must not dilute the all-k-bits-hit
    # membership test (regression: a sum-based n_bits_hit became a
    # multiple of k on duplicates and true overlaps went unflagged).
    from wsprnet_scraper_spark.operators import dedup, sketch
    from wsprnet_scraper_spark.sources import load
    from pyspark.sql import functions as F

    d = load(spark, SF, "documents")
    sh = dedup.word_shingles(d, "doc_id", "text", 3)
    corpus = sh.filter(F.col("doc") % 97 != 0)
    ev = sh.filter(F.col("doc") % 97 == 0)
    clean = sketch.bloom_decontaminate(corpus, ev, m_bits=4096, k=3).collect()
    doubled = sketch.bloom_decontaminate(
        corpus.union(corpus), ev, m_bits=4096, k=3
    ).collect()
    assert sorted(map(tuple, clean)) == sorted(map(tuple, doubled))
    assert any(r["n_bloom_hits"] > 0 for r in clean)  # non-degenerate


def test_bloom_digits_cover_large_filters(spark):
    import pytest

    from wsprnet_scraper_spark.operators.sketch import _bloom_digits

    assert _bloom_digits(4096) == 3  # historical recipe unchanged
    assert _bloom_digits(512) == 3
    assert _bloom_digits(1 << 16) == 4  # no silent fold onto 4096 bits
    assert _bloom_digits(1 << 20) == 5
    with pytest.raises(ValueError):
        _bloom_digits(1000)  # non-power-of-two would be modulo-biased


def test_hll_no_predistinct_needed(spark):
    # duplicates must be absorbed by max(rho), never inflate the
    # estimate — THE property that lets HLL skip the dedup shuffle
    from wsprnet_scraper_spark.operators.sketch import hll_distinct
    from wsprnet_scraper_spark.sources import load_events

    ev = load_events(spark, SF).select("event_type", "user_id")
    once = sorted(map(tuple, hll_distinct(ev, "event_type", "user_id").collect()))
    thrice = sorted(
        map(
            tuple,
            hll_distinct(ev.union(ev).union(ev), "event_type", "user_id").collect(),
        )
    )
    assert once == thrice


def test_hll_estimate_tracks_exact(spark):
    from wsprnet_scraper_spark.operators.sketch import hll_distinct
    from wsprnet_scraper_spark.sources import load_events

    ev = load_events(spark, SF).select("event_type", "user_id")
    rows = hll_distinct(ev, "event_type", "user_id").collect()
    assert rows
    for r in rows:
        # m=64 raw estimator (no small-range correction by design):
        # relative error within ~3 sigma of 1.04/sqrt(64)
        assert abs(r.hll_est - r.n_exact) / r.n_exact < 0.4, tuple(r)
        assert 0 < r.n_buckets_hit <= 64


def test_hll_rejects_biased_bucket_count(spark):
    import pytest

    from wsprnet_scraper_spark.operators.sketch import hll_distinct
    from wsprnet_scraper_spark.sources import load_events

    ev = load_events(spark, SF)
    with pytest.raises(ValueError):
        hll_distinct(ev, "event_type", "user_id", m_buckets=48)


def test_approx_sketches_degenerate_groups_survive(spark, tmp_path):
    # group "Z": prices all NULL -> exact median has no row; group
    # NULL: a null-unsafe equi-join would drop it. Both must survive
    # with NULL q50_ok (the oracle's single GROUP BY keeps them).
    import pyarrow as pa
    import pyarrow.parquet as pq

    flags = ["A"] * 6 + ["Z"] * 4 + [None] * 3
    keys = list(range(1, 14))
    prices = [100.0, 110.0, 120.0, 130.0, 140.0, 150.0] + [None] * 4 + [
        50.0,
        60.0,
        70.0,
    ]
    tbl = pa.table(
        {
            "l_returnflag": pa.array(flags),
            "l_orderkey": pa.array(keys, pa.int64()),
            "l_extendedprice": pa.array(prices, pa.float64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
    rows = {
        r["l_returnflag"]: r
        for r in QUERIES["agg_approx_sketches"](spark, str(tmp_path)).collect()
    }
    assert set(rows) == {"A", "Z", None}
    assert rows["Z"]["exact_nd"] == 4
    assert rows["Z"]["q50_ok"] is None
    assert rows["Z"]["hll_ok"] is not None
    assert rows[None]["exact_nd"] == 3
    assert rows["A"]["q50_ok"] is True
