"""connected_components + stratified_sample semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from wsprnet_scraper_spark.operators import dedup


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_components_basic(spark):
    got = {
        (r.doc, r.cluster)
        for r in dedup.connected_components(
            _pairs(spark, [(1, 2), (2, 3), (3, 4), (5, 6)])
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)}


def test_components_long_chain_needs_multiple_rounds(spark):
    # a 12-node path: min-label propagation needs ~diameter rounds;
    # the convergence check must carry label 0 all the way down
    chain = [(i, i + 1) for i in range(12)]
    got = dedup.connected_components(_pairs(spark, chain)).collect()
    assert len(got) == 13
    assert all(r.cluster == 0 for r in got)


def test_components_two_dense_clusters(spark):
    # two triangles bridged by nothing + reversed-order ids
    edges = [(10, 11), (11, 12), (10, 12), (20, 22), (21, 22)]
    got = {
        (r.doc, r.cluster)
        for r in dedup.connected_components(_pairs(spark, edges)).collect()
    }
    assert got == {
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_stratified_sample_deterministic_and_stratified(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("xx").alias("lang"),
    )
    s1 = dedup.stratified_sample(df, "doc_id", "lang", {"en": 60}, 25)
    s2 = dedup.stratified_sample(df, "doc_id", "lang", {"en": 60}, 25)
    r1 = sorted(r.doc_id for r in s1.collect())
    assert r1 == sorted(r.doc_id for r in s2.collect())  # replayable
    en = s1.filter(F.col("lang") == "en").count() / 334
    xx = s1.filter(F.col("lang") == "xx").count() / 666
    assert 0.45 < en < 0.75 and 0.12 < xx < 0.38  # strata hit their rates
    # pure projection + filter: no exchange in the plan
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_cc_incremental_crafted(spark):
    # Backs graph_cc_incremental: hand-checkable standing graph +
    # edge batch covering all three verdicts. Standing: {1,2,3}
    # (label 1), {5,6} (label 5), {11,12} (label 11). Batch: (3,5)
    # bridges the first two standing comps, (6,7) pulls a new node
    # into the bridged component, (9,10) is all-new, (12,13) joins
    # exactly one standing comp.
    from wsprnet_scraper_spark.operators.graph import cc_incremental

    standing = dedup.connected_components(
        _pairs(spark, [(1, 2), (2, 3), (5, 6), (11, 12)])
    )
    batch = _pairs(spark, [(3, 5), (6, 7), (9, 10), (12, 13)])
    got = {
        (r.nid, r.cluster, r.was_standing, r.n_standing_comps, r.status)
        for r in cc_incremental(standing, batch).collect()
    }
    assert got == {
        (3, 1, True, 2, "bridges_standing"),
        (5, 1, True, 2, "bridges_standing"),
        (6, 1, True, 2, "bridges_standing"),
        (7, 1, False, 2, "bridges_standing"),
        (9, 9, False, 0, "new_component"),
        (10, 9, False, 0, "new_component"),
        (12, 11, True, 1, "joins_standing"),
        (13, 11, False, 1, "joins_standing"),
    }


def _uf_components(edges):
    """Pure union-find reference: {node: min reachable id}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            # root at the smaller id so the root IS the min label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def test_cc_incremental_property_vs_union_find(spark):
    # Property check (hypothesis): on random standing/batch edge
    # splits, cc_incremental must agree with a pure union-find
    # rendering of its spec — standing labels from standing edges,
    # batch endpoints contracted to them, components of the
    # contracted graph, per-node verdicts.
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from wsprnet_scraper_spark.operators.graph import cc_incremental

    edge = st.tuples(
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=12),
    ).filter(lambda e: e[0] != e[1])

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        standing=st.lists(edge, min_size=0, max_size=8),
        batch=st.lists(edge, min_size=1, max_size=6),
    )
    def check(standing, batch):
        slab_ref = _uf_components(standing)  # node -> standing label
        rep = lambda n: slab_ref.get(n, n)  # noqa: E731
        contracted = [(rep(a), rep(b)) for a, b in batch]
        ilab_ref = _uf_components(contracted)
        nodes = sorted({n for e in batch for n in e})
        expected = {}
        # distinct standing labels per contracted component
        comp_standing: dict = {}
        for n in nodes:
            c = ilab_ref.get(rep(n), rep(n))
            if n in slab_ref:
                comp_standing.setdefault(c, set()).add(rep(n))
        for n in nodes:
            c = ilab_ref.get(rep(n), rep(n))
            ns = len(comp_standing.get(c, ()))
            status = (
                "bridges_standing" if ns >= 2
                else "joins_standing" if ns == 1
                else "new_component"
            )
            expected[n] = (c, n in slab_ref, ns, status)

        slab_df = spark.createDataFrame(
            list(slab_ref.items()) or [(0, 0)], "doc long, cluster long"
        )
        if not slab_ref:
            slab_df = slab_df.filter("doc < 0")  # typed empty
        got = {
            r.nid: (r.cluster, r.was_standing, r.n_standing_comps, r.status)
            for r in cc_incremental(
                slab_df, _pairs(spark, batch)
            ).collect()
        }
        assert got == expected

    check()


def test_cc_local_and_distributed_agree(spark, monkeypatch):
    """r13 small-graph dial: under dedup._CC_LOCAL_MAX_EDGES the
    labeling runs as a driver union-find; above it, the distributed
    pointer-jumping supersteps. Both must produce the identical
    (doc, cluster) relation — pinned on a graph with a long chain
    (multi-round propagation), a dense clique, reversed-order ids,
    and a singleton-pair component."""
    edges = (
        [(i, i + 1) for i in range(40, 52)]      # chain
        + [(10, 11), (11, 12), (10, 12)]         # triangle
        + [(90, 2), (2, 7)]                      # reversed-order ids
        + [(1000, 999)]                          # pair
    )
    pairs = _pairs(spark, edges)
    monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_EDGES", 1_000_000)
    local = {(r.doc, r.cluster) for r in dedup.connected_components(pairs).collect()}
    monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_EDGES", 0)
    dist = {(r.doc, r.cluster) for r in dedup.connected_components(pairs).collect()}
    assert local == dist
    assert (2, 2) in local and (90, 2) in local and (7, 2) in local


def test_cc_local_string_ids_match_spark_min(spark, monkeypatch):
    """String ids: the local path's min must be byte-wise (UTF-8),
    matching Spark's UTF8String comparison — including a non-ASCII
    id that code-point and byte orders happen to agree on, plus a
    case where ASCII sorts below a multi-byte char."""
    edges = [("b", "a"), ("a", "éx"), ("zz", "z9")]
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_EDGES", 1_000_000)
    local = {(r.doc, r.cluster) for r in dedup.connected_components(pairs).collect()}
    monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_EDGES", 0)
    dist = {(r.doc, r.cluster) for r in dedup.connected_components(pairs).collect()}
    assert local == dist
