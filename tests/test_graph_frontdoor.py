"""The graph edge relations served from the standing-relation store,
and the bucketed HITS twin (r5 verdict #2).

Every graph_* plan reads its edge relation through
operators.stores.materialized (kind "edges_<derivation>", keyed by
the orders/lineitem fingerprint), which writes the derived relation
to a write-once parquet ONCE and hands every later caller a plain
scan of the written files — the in-session form of the 100 TB
pattern (materialize the edge relation once, run every graph
workload against it). These tests pin that the amortization is real
(one build per key, identity-stable returns, survives
spark.catalog.clearCache() and session maintenance), that the cache
keys distinguish what must be distinguished, and that the
SHUFFLE_HASH HITS twin is bit-identical to the broadcast plan while
sharing its oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from wsprnet_scraper_spark.operators import stores
from wsprnet_scraper_spark.plans import QUERIES, graph_q


def _fresh(spark):
    stores.clear_store_cache(drop_files=True)
    spark.catalog.clearCache()


@pytest.fixture
def edge_builds(monkeypatch):
    """The kinds whose build() the store runs, in call order."""
    builds = []
    orig = stores.materialized

    def counting(sp, sf_dir, kind, build, tables=("documents",)):
        def counted_build():
            builds.append(kind)
            return build()

        return orig(sp, sf_dir, kind, counted_build, tables)

    monkeypatch.setattr(stores, "materialized", counting)
    return builds


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_one_build_per_key_and_identity_stable(spark, edge_builds):
    _fresh(spark)
    try:
        e1 = graph_q._edges(spark, SF_SMOKE)
        e2 = graph_q._edges(spark, SF_SMOKE)
        s1 = graph_q._sliced_edges(spark, SF_SMOKE)
        s2 = graph_q._sliced_edges(spark, SF_SMOKE + "/")  # normalized
        p1 = graph_q._copurchase_pairs(spark, SF_SMOKE)
        # one build per derivation, no matter how many callers
        assert edge_builds == [
            "edges_full_directed",
            "edges_sliced_directed",
            "edges_copurchase_pairs",
        ]
        # the sliced relation is the SAME materialized DataFrame object
        assert s1 is s2
        # _edges symmetrizes on top of the one shared directed
        # relation: both calls see identical content
        assert e1.count() == e2.count() > 0
        assert p1.columns == ["a", "b"]
    finally:
        _fresh(spark)


def test_materialization_survives_clearCache(spark):
    """The probe discipline clears CacheManager before every timed
    run; the edge relations must NOT live there (the store serves a
    new lineage root, not a cached plan), or the amortization would
    be an artifact of cache hits the probe deliberately forbids."""
    _fresh(spark)
    try:
        e = graph_q._sliced_edges(spark, SF_SMOKE)
        n = e.count()
        spark.catalog.clearCache()
        e2 = graph_q._sliced_edges(spark, SF_SMOKE)
        assert e2 is e
        assert e2.count() == n
        # and the plan is the pinned handle of the written edge
        # relation (one partition at smoke size), not the join
        # derivation
        plan = e2._jdf.queryExecution().simpleString()
        assert "ExistingRDD" in plan and "Join" not in plan
    finally:
        _fresh(spark)


def test_maintenance_reopens_edge_parquet_without_build(spark, edge_builds):
    """session_maintenance drops the store handles and the plan cache
    but keeps the standing edge parquet: the next graph query
    re-opens it, with zero builds and the same rows."""
    from wsprnet_scraper_spark.streaming.daemon import session_maintenance

    _fresh(spark)
    try:
        rows1 = _rows(QUERIES["graph_degree_dist"](spark, SF_SMOKE))
        assert edge_builds == ["edges_full_directed"]
        session_maintenance(spark)
        rows2 = _rows(QUERIES["graph_degree_dist"](spark, SF_SMOKE))
        assert edge_builds == ["edges_full_directed"]  # no rebuild
        assert rows2 == rows1 and len(rows1) > 0
    finally:
        _fresh(spark)


def test_drop_files_rebuilds_once_and_clears_plan_cache(spark, edge_builds):
    """clear_store_cache(drop_files=True) deletes the edge parquet a
    cached graph plan scans, so it must drop that plan too: the next
    run through QUERIES builds the edges once and returns the same
    rows instead of failing on the deleted files."""
    _fresh(spark)
    try:
        q = QUERIES["graph_degree_dist"]
        rows1 = _rows(q(spark, SF_SMOKE))
        assert q(spark, SF_SMOKE) is q(spark, SF_SMOKE)  # plan is cached
        stores.clear_store_cache(drop_files=True)
        rows2 = _rows(q(spark, SF_SMOKE))
        assert edge_builds == ["edges_full_directed"] * 2
        assert rows2 == rows1 and len(rows1) > 0
    finally:
        _fresh(spark)


def test_hits_bucketed_bit_identical_and_no_broadcast(spark):
    _fresh(spark)
    try:
        broad = QUERIES["graph_hits"](spark, SF_SMOKE)
        brows = sorted(map(tuple, broad.collect()))
        bucketed = QUERIES["graph_hits_bucketed"](spark, SF_SMOKE)
        krows = sorted(map(tuple, bucketed.collect()))
    finally:
        _fresh(spark)
    assert brows == krows and len(brows) > 0
    # the twin shares graph_hits's oracle registration
    from wsprnet_scraper_spark.plans import ORACLE

    assert ORACLE["graph_hits_bucketed"] == ORACLE["graph_hits"]


def test_hits_bucketed_halfstep_plan_pins_shuffle_hash(spark):
    """The strategy dial must survive into the physical plan: a
    half-step join of scores against edges under strategy='bucketed'
    is a ShuffledHashJoin, never a BroadcastHashJoin (AQE would flip
    a small score table back to broadcast without the hint)."""
    from wsprnet_scraper_spark.operators.graph import hits_quantized

    _fresh(spark)
    edges = spark.createDataFrame(
        [(i, (i * 7) % 5 + 100) for i in range(40)], "src long, dst long"
    )
    # capture the first half-step join plan by building it the way
    # hits_quantized does under the bucketed strategy
    hub = edges.select("src").distinct().select(
        F.col("src").alias("nid"), F.lit(1_000_000).cast("bigint").alias("h")
    )
    stepped = edges.join(hub.hint("shuffle_hash"), edges.src == hub.nid)
    plan = stepped._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # and the full bucketed run agrees with broadcast on a graph with
    # asymmetric hub/authority structure
    a = sorted(map(tuple, hits_quantized(edges, 2, strategy="broadcast").collect()))
    b = sorted(map(tuple, hits_quantized(edges, 2, strategy="bucketed").collect()))
    assert a == b and len(a) > 0


def _exchange_keys_by_plan_id(df):
    """(key_column -> count) over DISTINCT Exchange plan_ids in the
    printed physical plan — cached subtrees print the same plan_id at
    every reference, so deduping by id counts each real exchange
    once."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    seen = {}
    for m in re.finditer(r"Exchange hashpartitioning\((\w+)#\d+", plan):
        pid = re.search(r"plan_id=(\d+)", plan[m.start() : m.start() + 200])
        if pid:
            seen[pid.group(1)] = m.group(1)
    from collections import Counter

    return Counter(seen.values())


def test_pagerank_bucketed_supersteps_reuse_edge_distribution(spark):
    """r6 verdict #8: the bucketed PageRank's 100× cost claim is that
    the edge relation shuffles onto hash(src) ONCE and every
    superstep reuses that distribution. With a lazy edge persist the
    cached plan's partitioning is unknown at planning time and
    EnsureRequirements inserts one EDGE-SIZED src-exchange per round
    (the 24.8 s vs 17.4 s probe gap); the eager materialization in
    pagerank_quantized fixes it. Pin the invariants:
    - dst-keyed exchanges == visible rounds (the per-round aggregate,
      the only per-superstep exchange);
    - src-keyed (edge-sized) exchanges are BUILD-ONLY: the count does
      not grow with iterations;
    - nid-keyed rank re-exchanges appear only at localCheckpoint
      truncation boundaries (the checkpointed RDD's AQE-coalesced
      partitioning can't be proven compatible), never per round."""
    from wsprnet_scraper_spark.operators.graph import pagerank_quantized

    _fresh(spark)

    def counts(iters):
        spark.catalog.clearCache()
        edges = spark.range(0, 2000).selectExpr(
            "id % 97 AS src", "(id * 7) % 97 AS dst"
        )
        return _exchange_keys_by_plan_id(
            pagerank_quantized(edges, iterations=iters, strategy="bucketed")
        )

    c3, c6 = counts(3), counts(6)
    assert c3["dst"] == 3 and c3["nid"] == 0, c3
    # checkpoint at round 3 truncates rounds 1-3 out of the printed
    # plan: 3 visible rounds, and at most one nid re-exchange at the
    # truncation boundary
    assert c6["dst"] == 3 and c6["nid"] <= 1, c6
    # the edge side never re-exchanges per round: same fixed build
    # count at 3 and 6 iterations
    assert c3["src"] == c6["src"], (c3, c6)
    spark.catalog.clearCache()
