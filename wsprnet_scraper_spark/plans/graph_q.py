"""Graph-analytics queries over the customer–supplier interaction
graph (edges = distinct (o_custkey, l_suppkey) pairs via orders ⋈
lineitem, made undirected so every node has outgoing edges).

The oracle replays the unrolled Pregel supersteps as chained CTEs;
because ranks are integer-quantized (operators/graph.py), the CTE
chain is bit-identical to the DataFrame loop — no float tolerance
needed even after three propagation rounds.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import stores
from ..operators.graph import pagerank_quantized
from ..sources import load
from .registry import register

_ITERATIONS = 3

# ---------------------------------------------------------------- edges
# Every graph query reads one of four derived edge relations, each a
# join+distinct over orders/lineitem that costs far more than most of
# the analytics on top of it. They are served as standing relations
# of the corpus (operators/stores.py): built once per corpus version,
# written as parquet, and scanned by every later caller.
#
# Write-once parquet, not persist/localCheckpoint, deliberately:
# CacheManager matches persisted relations by canonicalized plan,
# which silently serves SUBTREES of other queries and is exactly what
# the cache-free probe discipline clears before every timed run; and
# an in-heap checkpoint of the 100x-probe edge relation (117M rows)
# pins gigabytes of block-manager memory for the whole session —
# measured OOM against the 8g driver. Columnar-on-disk costs one
# write and gives every reader a pruned, parallel, page-cache-warm
# scan while the heap stays free.


def _edge_relation(spark, sf_dir: str, kind: str, build):
    """The standing edge relation `kind` of the corpus at sf_dir."""
    return stores.materialized(
        spark, sf_dir, f"edges_{kind}", build, tables=("orders", "lineitem")
    )


_GRAPH_SQL = """
e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)
"""


def _pagerank_oracle(iterations: int) -> str:
    steps = [
        "ed AS (SELECT e.src, e.dst, d.deg FROM edges e"
        " JOIN deg d ON d.src = e.src)",
        "it0 AS (SELECT src AS nid, CAST(1000000 AS BIGINT) AS r FROM deg)",
    ]
    for i in range(1, iterations + 1):
        steps.append(
            f"it{i} AS (SELECT ed.dst AS nid,"
            f" CAST(150000 + (850000 * SUM(r.r // ed.deg)) // 1000000"
            f" AS BIGINT) AS r"
            f" FROM ed JOIN it{i - 1} r ON ed.src = r.nid GROUP BY ed.dst)"
        )
    return (
        f"WITH {_GRAPH_SQL}, {', '.join(steps)}\n"
        f"SELECT nid, r AS rank_q FROM it{iterations}"
    )


def _directed_edges(spark, sf_dir):
    """Full-year DIRECTED (customer, supplier) interaction pairs —
    a standing edge relation of the corpus; used directly by
    graph_hits and symmetrized by _edges."""

    def build():
        o = load(spark, sf_dir, "orders", parallel="never")
        li = load(spark, sf_dir, "lineitem", parallel="never")
        return (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )

    return _edge_relation(spark, sf_dir, "full_directed", build)


def _edges(spark, sf_dir):
    e0 = _directed_edges(spark, sf_dir)
    return e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


@register("graph_pagerank", _pagerank_oracle(_ITERATIONS),
    oracle_style="mirrored",
    semantic_check="tests/test_graph.py::test_pagerank_hand_computed_path_graph",
)
def graph_pagerank(spark, sf_dir):
    """Three-round damped PageRank over the undirected
    customer–supplier graph; integer-quantized supersteps (see
    operators/graph.py for the scale shape and the exactness
    argument). Broadcast-rank strategy — right while nodes fit the
    broadcast threshold; the 100× configuration is judged separately
    as graph_pagerank_bucketed."""
    return pagerank_quantized(_edges(spark, sf_dir), _ITERATIONS)


_PPR_SOURCES = [2, 4]  # customers 1 and 2 (node id = custkey * 2)


def _ppr_oracle(iterations: int, sources: list[int]) -> str:
    """Personalized-PageRank oracle: the _pagerank_oracle chain with
    source-set init and teleport, literals integer-split exactly as
    the operator splits them."""
    share = 1_000_000 // len(sources)
    tshare = 150_000 // len(sources)
    in_src = "nid IN (" + ", ".join(str(s) for s in sources) + ")"
    steps = [
        "ed AS (SELECT e.src, e.dst, d.deg FROM edges e"
        " JOIN deg d ON d.src = e.src)",
        f"it0 AS (SELECT src AS nid, CAST(CASE WHEN src IN"
        f" ({', '.join(str(s) for s in sources)}) THEN {share} ELSE 0 END"
        f" AS BIGINT) AS r FROM deg)",
    ]
    # The UNION ALL zero-contribution rows mirror the operator's
    # source-survival seed (standard RWR: a source with no in-edges
    # keeps its teleport share every round instead of dropping out of
    # the groupBy(dst) output). On the judged symmetric graph the
    # rows are no-ops (every source has in-edges), but oracle and
    # engine now replay the same recurrence on arbitrary graphs.
    src_zero = (
        "SELECT src AS nid, CAST(0 AS BIGINT) AS c FROM deg"
        f" WHERE src IN ({', '.join(str(s) for s in sources)})"
    )
    for i in range(1, iterations + 1):
        steps.append(
            f"it{i} AS (SELECT nid,"
            f" CAST(CASE WHEN {in_src} THEN {tshare} ELSE 0 END"
            f" + (850000 * s) // 1000000 AS BIGINT) AS r FROM ("
            f"SELECT nid, SUM(c) AS s FROM ("
            f"SELECT ed.dst AS nid, r.r // ed.deg AS c"
            f" FROM ed JOIN it{i - 1} r ON ed.src = r.nid"
            f" UNION ALL {src_zero}) GROUP BY nid))"
        )
    return (
        f"WITH {_GRAPH_SQL}, {', '.join(steps)}\n"
        f"SELECT nid, r AS ppr_q FROM it{iterations} WHERE r > 0"
    )


@register("graph_ppr", _ppr_oracle(_ITERATIONS, _PPR_SOURCES),
    oracle_style="mirrored",
    semantic_check="tests/test_advice_r9.py::test_ppr_source_without_in_edges_keeps_teleport_mass",
)
def graph_ppr(spark, sf_dir):
    """PERSONALIZED PageRank (random walk with restart) from the
    two-customer source set {custkey 1, 2}: all mass starts at the
    sources and the teleport term returns there, so after three
    damped rounds the nonzero scores ARE the sources' graph
    neighborhood ranked by multi-hop proximity — the
    recommendation / node-similarity primitive (Pixie/GraphSAGE-era
    candidate generation), as a judged value. Integer-quantized
    exactly like graph_pagerank (same superstep plan, only the init
    and teleport literals differ — SCALE and BASE_Q split integer-
    exactly over |S|); rows with r = 0 are filtered identically in
    both engines, keeping the judged relation neighborhood-sized."""
    return pagerank_quantized(
        _edges(spark, sf_dir), _ITERATIONS, sources=_PPR_SOURCES
    ).filter(F.col("rank_q") > 0).select("nid", F.col("rank_q").alias("ppr_q"))


@register(
    "graph_ppr_bucketed",
    _ppr_oracle(_ITERATIONS, _PPR_SOURCES),
    cache_plans=False,
    oracle_style="mirrored",
    semantic_check="tests/test_semantic_refs.py::test_ppr_bucketed_bit_identical_to_broadcast",
)
def graph_ppr_bucketed(spark, sf_dir):
    """graph_ppr under the strategy that survives a billion-node
    graph (graph_pagerank_bucketed's relationship to graph_pagerank,
    for the personalized walk): SHUFFLE_HASH-pinned rank joins
    against the once-shuffled, eagerly-persisted edge relation — no
    node-sized broadcast anywhere, which matters MORE for PPR than
    for global PageRank because personalized serving typically runs
    many source sets against the same standing graph. Integer
    quantization keeps it bit-identical to the broadcast plan, so it
    shares graph_ppr's oracle; the gate proves the scale plan
    computes the same walk. cache_plans=False (eager edge-cache
    finalization, the pagerank_bucketed rationale)."""
    return pagerank_quantized(
        _edges(spark, sf_dir),
        _ITERATIONS,
        strategy="bucketed",
        sources=_PPR_SOURCES,
    ).filter(F.col("rank_q") > 0).select("nid", F.col("rank_q").alias("ppr_q"))


# cache_plans=False: the bucketed builder materializes its shuffled
# edge cache eagerly (operators/graph.py, r7 — the materialization is
# what lets every superstep reuse the hash(src) distribution), so a
# cached plan would serve pre-built state to timed re-runs.
@register(
    "graph_pagerank_bucketed", _pagerank_oracle(_ITERATIONS), cache_plans=False
,
    oracle_style="mirrored",
    semantic_check="tests/test_graph.py::test_pagerank_bucketed_bit_identical_to_broadcast",
)
def graph_pagerank_bucketed(spark, sf_dir):
    """The same PageRank under the strategy that survives a
    billion-node graph: no node-sized relation is ever broadcast —
    SHUFFLE_HASH-pinned rank joins against the once-shuffled,
    EAGERLY-persisted edge relation (see operators/graph.py: the
    eager cache finalization is what lets each superstep plan against
    the edge relation's hash(src) distribution instead of
    re-exchanging it every round). The integer quantization makes the
    result bit-identical to the broadcast plan, so this entry shares
    graph_pagerank's oracle — the gate proves the scale plan computes
    the same ranks."""
    return pagerank_quantized(
        _edges(spark, sf_dir), _ITERATIONS, strategy="bucketed"
    )


@register(
    "graph_degree_dist",
    f"""
WITH {_GRAPH_SQL}
SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY deg
""",
)
def graph_degree_dist(spark, sf_dir):
    """Degree distribution of the interaction graph — the stacked
    two-level aggregation (per-node degree, then nodes per degree);
    second level runs on node-count-sized input."""
    e = _edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes"))


_CC_ROUNDS = 6

_CC_SQL = """
e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderdate >= DATE '1995-01-01'
    AND o.o_orderdate < DATE '1995-02-01'
),
edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
"""


def _sliced_edges(spark, sf_dir):
    """The one-month DIRECTED pair slice shared by graph_cc and
    graph_kcore (and mirrored by _CC_SQL's e0): same orders⋈lineitem
    derivation and *2 / *2+1 key encoding as _edges, restricted to
    Jan-1995 orders so the graph stays genuinely multi-component.
    Callers symmetrize as needed (connected_components does it
    internally; kcore takes the symmetrized relation). A standing edge
    relation of the corpus."""

    def build():
        o = load(spark, sf_dir, "orders", parallel="never")
        li = load(spark, sf_dir, "lineitem", parallel="never")
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01"))
                & (F.col("o_orderdate") < F.lit("1995-02-01"))
            )
            .join(li, o.o_orderkey == li.l_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )

    return _edge_relation(spark, sf_dir, "sliced_directed", build)


def _copurchase_pairs(spark, sf_dir):
    """Part co-purchase pairs (a < b adjacent iff some order contains
    both) — the lineitem self-join + distinct shared by
    graph_triangles and graph_clustering_coeff; a standing edge
    relation of the corpus."""

    def build():
        li = load(spark, sf_dir, "lineitem", parallel="never")
        l1, l2 = li.alias("l1"), li.alias("l2")
        return (
            l1.join(
                l2,
                (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
                & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
            )
            .select(
                F.col("l1.l_partkey").alias("a"),
                F.col("l2.l_partkey").alias("b"),
            )
            .distinct()
        )

    return _edge_relation(spark, sf_dir, "copurchase_pairs", build)


def _cc_oracle(rounds: int) -> str:
    """Replay operators/dedup.connected_components round for round:
    each label generation is min(own label, neighbor labels,
    label-of-label). The pointer-jump term makes convergence
    O(log diameter), and because a converged labeling is a fixed
    point of the update, the engine's early-stop and the oracle's
    full unroll agree whenever either has converged — and they agree
    trivially (same recurrence, same round count) when neither has.
    Every generation is AS MATERIALIZED: each lab{i} references
    lab{i-1} three times, so DuckDB's default CTE inlining would
    expand the chain 3^rounds-fold (and open that many parquet
    readers — it exhausts the fd limit long before it's slow)."""
    steps = [
        "lab0 AS MATERIALIZED"
        " (SELECT DISTINCT src AS doc, src AS label FROM edges)"
    ]
    for i in range(1, rounds + 1):
        p = f"lab{i - 1}"
        steps.append(
            f"lab{i} AS MATERIALIZED (SELECT doc, MIN(label) AS label FROM ("
            f" SELECT doc, label FROM {p}"
            f" UNION ALL"
            f" SELECT e.src AS doc, l.label FROM edges e"
            f"   JOIN {p} l ON l.doc = e.dst"
            f" UNION ALL"
            f" SELECT l1.doc, l2.label FROM {p} l1"
            f"   JOIN {p} l2 ON l2.doc = l1.label"
            f") GROUP BY doc)"
        )
    return (
        f"WITH {_CC_SQL}, {', '.join(steps)}\n"
        f"SELECT doc AS nid, label AS cluster FROM lab{rounds}"
    )


# cache_plans=False: connected_components executes EAGERLY at build
# time (per-round localCheckpoint + convergence counts), so a cached
# "plan" is really a materialized result — re-runs would time ~0 and
# overstate steady-state throughput. Rebuild per call instead.
@register("graph_cc", _cc_oracle(_CC_ROUNDS), cache_plans=False,
    oracle_style="mirrored",
    semantic_check="tests/test_components.py::test_components_basic",
)
def graph_cc(spark, sf_dir):
    """Connected components of a one-month slice of the interaction
    graph (the slice keeps the graph genuinely multi-component —
    the full-year graph collapses into one giant component, which
    exercises nothing). Engine side is the distributed min-label
    propagation WITH pointer jumping from operators/dedup.py:210 —
    per round one edge join + one label self-join + a groupBy-min
    (map-side combinable, exact integer min), lineage cut every
    round, early exit on the first unchanged generation. At 100 TB
    the label relation is node-sized and every step shuffles on the
    node id — nothing is ever broadcast or collected, and the
    O(log diameter) round count bounds the number of shuffles."""
    from ..operators.dedup import connected_components

    return connected_components(
        _sliced_edges(spark, sf_dir), max_iter=_CC_ROUNDS
    ).select(F.col("doc").alias("nid"), "cluster")


def _cc_gen_steps(edges_cte: str, prefix: str, rounds: int) -> list[str]:
    """The _cc_oracle generation chain, parameterized by edge CTE and
    label prefix so one oracle can replay TWO CC passes (standing +
    contracted-batch). Same AS MATERIALIZED rationale as _cc_oracle."""
    steps = [
        f"{prefix}0 AS MATERIALIZED"
        f" (SELECT DISTINCT src AS doc, src AS label FROM {edges_cte})"
    ]
    for i in range(1, rounds + 1):
        p = f"{prefix}{i - 1}"
        steps.append(
            f"{prefix}{i} AS MATERIALIZED (SELECT doc, MIN(label) AS label FROM ("
            f" SELECT doc, label FROM {p}"
            f" UNION ALL"
            f" SELECT e.src AS doc, l.label FROM {edges_cte} e"
            f"   JOIN {p} l ON l.doc = e.dst"
            f" UNION ALL"
            f" SELECT l1.doc, l2.label FROM {p} l1"
            f"   JOIN {p} l2 ON l2.doc = l1.label"
            f") GROUP BY doc)"
        )
    return steps


def _cc_inc_oracle(rounds: int) -> str:
    """graph_cc_incremental mirrored: standing CC unrolled over the
    non-batch slice edges, batch endpoints contracted to standing
    labels, incremental CC unrolled over the contracted batch edges,
    per-node verdicts assembled exactly as operators/graph.
    cc_incremental does (same fixed-point convergence argument as
    _cc_oracle)."""
    steps = [
        """ei AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
         (o.o_orderkey % 10 = 0) AS isb
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderdate >= DATE '1995-01-01'
    AND o.o_orderdate < DATE '1995-02-01'
)""",
        "sp AS (SELECT DISTINCT src, dst FROM ei WHERE NOT isb)",
        "bp AS (SELECT DISTINCT src, dst FROM ei WHERE isb)",
        "sedges AS MATERIALIZED"
        " (SELECT src, dst FROM sp UNION ALL SELECT dst, src FROM sp)",
    ]
    steps += _cc_gen_steps("sedges", "slab", rounds)
    steps += [
        f"""cbp AS (
  SELECT COALESCE(la.label, bp.src) AS src,
         COALESCE(lb.label, bp.dst) AS dst
  FROM bp LEFT JOIN slab{rounds} la ON la.doc = bp.src
          LEFT JOIN slab{rounds} lb ON lb.doc = bp.dst
)""",
        "cedges AS MATERIALIZED"
        " (SELECT src, dst FROM cbp UNION ALL SELECT dst, src FROM cbp)",
    ]
    steps += _cc_gen_steps("cedges", "ilab", rounds)
    steps += [
        "nodes AS (SELECT src AS nid FROM bp UNION SELECT dst FROM bp)",
        f"""rep AS (
  SELECT n.nid, COALESCE(s.label, n.nid) AS rep,
         s.label IS NOT NULL AS was_standing
  FROM nodes n LEFT JOIN slab{rounds} s ON s.doc = n.nid
)""",
        f"""fin AS (
  SELECT r.nid, r.rep, r.was_standing,
         COALESCE(i.label, r.rep) AS cluster
  FROM rep r LEFT JOIN ilab{rounds} i ON i.doc = r.rep
)""",
        """cs AS (
  SELECT cluster,
         count(DISTINCT CASE WHEN was_standing THEN rep END) AS ns
  FROM fin GROUP BY cluster
)""",
    ]
    return (
        f"WITH {', '.join(steps)}\n"
        "SELECT f.nid, CAST(f.cluster AS BIGINT) AS cluster,"
        " f.was_standing,"
        " CAST(cs.ns AS BIGINT) AS n_standing_comps,"
        " CASE WHEN cs.ns >= 2 THEN 'bridges_standing'"
        "      WHEN cs.ns = 1 THEN 'joins_standing'"
        "      ELSE 'new_component' END AS status\n"
        "FROM fin f JOIN cs USING (cluster)"
    )


@register(
    "graph_cc_incremental",
    _cc_inc_oracle(_CC_ROUNDS),
    cache_plans=False,  # both CC passes execute eagerly at build
    oracle_style="mirrored",
    semantic_check="tests/test_components.py::test_cc_incremental_crafted",
)
def graph_cc_incremental(spark, sf_dir):
    """Incremental connected components — the GRAPH face of the
    engine's incremental family (dedup_minhash_cluster_incremental's
    contraction recipe on the interaction graph): the one-month
    slice's edges split into a STANDING graph (orders with
    o_orderkey % 10 <> 0) whose CC labeling is served from the
    corpus-fingerprint-keyed store (operators/stores.py — built once
    per corpus version, the production shape for continuously-growing
    graphs) and a NEW EDGE BATCH (o_orderkey % 10 = 0) folded in
    WITHOUT re-clustering the world: batch endpoints contract to
    standing labels (a standing component is one supernode), one
    batch-sized CC pass labels the novel subgraph, and every
    batch-incident node reports its final min-id cluster, standing
    membership, how many standing components its batch component
    touches, and the bridges_standing / joins_standing /
    new_component verdict. Standing nodes NOT incident to a batch
    edge keep their standing label (relabeling them after a bridge
    is the batch recluster's job — same stream-safe contract as the
    dedup twin). The oracle replays both closures unrolled (standing
    + contracted-batch), the _cc_oracle fixed-point argument twice."""
    from ..operators.dedup import connected_components
    from ..operators.graph import cc_incremental

    def month_pairs(batch: bool):
        o = load(spark, sf_dir, "orders", parallel="never")
        li = load(spark, sf_dir, "lineitem", parallel="never")
        pred = F.col("o_orderkey") % 10 == 0
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01"))
                & (F.col("o_orderdate") < F.lit("1995-02-01"))
            )
            .filter(pred if batch else ~pred)
            .join(li, o.o_orderkey == li.l_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )

    # kind encodes the slice window too (stores.py contract; r11
    # review finding): widening the month must key out the old labels
    slab = stores.materialized(
        spark,
        sf_dir,
        f"gccinc_stand_mod10_199501_r{_CC_ROUNDS}",
        lambda: connected_components(month_pairs(False), max_iter=_CC_ROUNDS),
        tables=("orders", "lineitem"),
    )
    return cc_incremental(slab, month_pairs(True), max_iter=_CC_ROUNDS)


@register(
    "graph_triangles",
    """
WITH pairs AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
),
nodes AS (SELECT a AS nid FROM pairs UNION ALL SELECT b FROM pairs),
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT CAST((SELECT count(DISTINCT nid) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM tri
""",
)
def graph_triangles(spark, sf_dir):
    """Triangle census of the part co-purchase graph (parts are
    adjacent iff some order contains both). The ORACLE is the naive
    triple-join specification (x<y<z); the engine runs the
    degree-ordered node-iterator (operators/graph.triangle_count) —
    the optimized plan must reproduce the naive spec's count exactly.
    Pair generation per order is bounded by order size (TPC-H ≤ 7
    items), so the explode step has no skew; the curse-of-the-last-
    reducer case (celebrity nodes) is handled by the (deg, id)
    orientation, not by this corpus."""
    from ..operators.graph import triangle_count

    return triangle_count(_copurchase_pairs(spark, sf_dir))


@register(
    "graph_jaccard_linkpred",
    f"""
WITH {_CC_SQL},
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
wedge AS (
  SELECT e1.src AS a, e2.src AS b, count(*) AS cn
  FROM edges e1 JOIN edges e2 ON e1.dst = e2.dst AND e1.src < e2.src
  GROUP BY e1.src, e2.src
)
SELECT w.a, w.b, CAST(w.cn AS BIGINT) AS cn,
  CAST(w.cn AS DOUBLE) / (da.deg + db.deg - w.cn) AS jaccard
FROM wedge w
JOIN deg da ON da.src = w.a
JOIN deg db ON db.src = w.b
ORDER BY jaccard DESC, w.a, w.b
LIMIT 20
""",
)
def graph_jaccard_linkpred(spark, sf_dir):
    """Link prediction by neighborhood Jaccard similarity: the top-20
    non-adjacent-or-adjacent node pairs ranked by |N(a)∩N(b)| /
    |N(a)∪N(b)| over the one-month interaction slice — the classic
    common-neighbors recommender primitive. Candidate pairs come from
    a WEDGE join keyed on the shared neighbor (the same
    bucket-equi-join discipline as the dedup family: the quadratic
    pair space never materializes, only pairs with ≥1 common neighbor
    exist), counts collapse map-side, degrees join back from the
    node-sized degree relation, and the single double division
    happens once per surviving pair — exact-integer inputs, so
    cross-engine bit parity holds. Global top-20 is a
    TakeOrderedAndProject over the aggregated pair relation with a
    (jaccard DESC, a, b) total order. At 100 TB the hub-neighbor
    blowup (a degree-d hub contributes d² wedges) is capped with
    operators/dedup.frequency_cap on the wedge-center key — the
    documented dial, same as the capped minhash twins."""
    e = _sliced_edges(spark, sf_dir)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1, e2 = sym.alias("e1"), sym.alias("e2")
    wedge = (
        e1.join(
            e2,
            (F.col("e1.dst") == F.col("e2.dst"))
            & (F.col("e1.src") < F.col("e2.src")),
        )
        .groupBy(F.col("e1.src").alias("a"), F.col("e2.src").alias("b"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("_db"))
    return (
        wedge.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("cn").cast("bigint").alias("cn"),
            (
                F.col("cn").cast("double")
                / (F.col("_da") + F.col("_db") - F.col("cn"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "a", "b")
        .limit(20)
    )


_BFS_ROUNDS = 4


def _bfs_oracle(rounds: int) -> str:
    """The naive min-over-all-paths spec the frontier-style engine
    plan must reproduce: layer_i(v) = min(layer_{i-1}(v), 1 +
    layer_{i-1}(u) for any neighbor u). MATERIALIZED per round for
    the same CTE-inlining fan-out reason as _cc_oracle."""
    steps = [
        "b0 AS MATERIALIZED"
        " (SELECT (SELECT min(src) FROM edges) AS nid, 0 AS layer)"
    ]
    for i in range(1, rounds + 1):
        p = f"b{i - 1}"
        steps.append(
            f"b{i} AS MATERIALIZED (SELECT nid, MIN(layer) AS layer FROM ("
            f" SELECT nid, layer FROM {p}"
            f" UNION ALL"
            f" SELECT e.src AS nid, l.layer + 1 FROM edges e"
            f"   JOIN {p} l ON l.nid = e.dst"
            f") GROUP BY nid)"
        )
    return (
        f"WITH {_CC_SQL}, {', '.join(steps)}\n"
        f"SELECT nid, CAST(layer AS INT) AS layer FROM b{rounds}"
    )


# cache_plans=False: bfs_layers executes eagerly (per-round frontier
# localCheckpoint + emptiness checks), graph_cc rationale.
@register("graph_bfs_layers", _bfs_oracle(_BFS_ROUNDS), cache_plans=False,
    oracle_style="mirrored",
    semantic_check="tests/test_graph.py::test_bfs_layers_path_graph_exact_distances",
)
def graph_bfs_layers(spark, sf_dir):
    """Breadth-first reachability from the graph's minimum node id
    over the one-month interaction slice: every node within 4 hops
    with its exact shortest hop distance — the traversal primitive
    under 'friends of friends', blast-radius, and feature-neighborhood
    queries. The engine runs the FRONTIER formulation (each round
    touches only frontier-adjacent edges — see operators/graph.
    bfs_layers for the scale argument); the oracle states the naive
    min-over-all-paths recurrence, so the gate proves the optimized
    traversal equals the spec. The source is a 1-row aggregate
    DataFrame, never a collected scalar."""
    from ..operators.graph import bfs_layers

    e0 = _sliced_edges(spark, sf_dir)
    sym = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    src = sym.agg(F.min("src").alias("nid"))
    return bfs_layers(sym, src, _BFS_ROUNDS)


_LPA_ROUNDS = 4


def _lpa_oracle(rounds: int) -> str:
    """Replay operators/graph.label_propagation generation for
    generation: each round every node takes the most frequent label
    among its neighbors, ties to the smallest label (row_number over
    (count DESC, label ASC) — the unique deterministic winner). Every
    generation is AS MATERIALIZED for the same fan-out reason as
    _cc_oracle. No early exit on either side: the fixed unroll IS the
    spec (synchronous LPA may 2-cycle, so round count defines the
    answer)."""
    return (
        f"WITH {_CC_SQL}, {', '.join(_lpa_steps(rounds))}\n"
        f"SELECT nid, label FROM lp{rounds}"
    )


def _lpa_steps(rounds: int) -> list[str]:
    """The LPA generation chain as CTE steps (shared by _lpa_oracle
    and the modularity oracle, which scores the same final labels)."""
    steps = [
        "lp0 AS MATERIALIZED"
        " (SELECT DISTINCT src AS nid, src AS label FROM edges)"
    ]
    for i in range(1, rounds + 1):
        steps.append(
            f"lp{i} AS MATERIALIZED (SELECT nid, label FROM ("
            f" SELECT e.src AS nid, l.label, count(*) AS c"
            f" FROM edges e JOIN lp{i - 1} l ON l.nid = e.dst"
            f" GROUP BY e.src, l.label)"
            f" QUALIFY row_number() OVER"
            f" (PARTITION BY nid ORDER BY c DESC, label) = 1)"
        )
    return steps


# cache_plans=False: label_propagation executes eagerly (per-round
# localCheckpoint), same rationale as graph_cc.
@register("graph_label_propagation", _lpa_oracle(_LPA_ROUNDS), cache_plans=False,
    oracle_style="mirrored",
    semantic_check="tests/test_graph.py::test_label_propagation_two_cliques_converge",
)
def graph_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation over the
    one-month interaction slice (shared with graph_cc/graph_kcore —
    multi-component, so communities are non-trivial). Four fixed
    generations of neighbor-majority voting with smallest-label ties;
    see operators/graph.label_propagation for the determinism
    argument and the per-round shuffle shape (edge join + integer
    count + struct-argmin argmax, all keyed on the node id — nothing
    broadcast or collected at any graph size)."""
    from ..operators.graph import label_propagation

    e0 = _sliced_edges(spark, sf_dir)
    sym = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return label_propagation(sym, _LPA_ROUNDS)


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peeling, MATERIALIZED per round (each e{i} is read
    three times — degree count and both endpoint semi-joins)."""
    steps = ["pe0 AS MATERIALIZED (SELECT src, dst FROM edges)"]
    for i in range(1, rounds + 1):
        p = f"pe{i - 1}"
        steps.append(
            f"k{i} AS MATERIALIZED (SELECT src FROM {p}"
            f" GROUP BY src HAVING count(*) >= {k})"
        )
        steps.append(
            f"pe{i} AS MATERIALIZED (SELECT e.src, e.dst FROM {p} e"
            f" JOIN k{i} a ON a.src = e.src"
            f" JOIN k{i} b ON b.src = e.dst)"
        )
    return (
        f"WITH {_CC_SQL}, {', '.join(steps)}\n"
        f"SELECT src AS nid, CAST(count(*) AS BIGINT) AS deg"
        f" FROM pe{rounds} GROUP BY src"
    )


# cache_plans=False for the same reason as graph_cc (eager peeling).
@register("graph_kcore", _kcore_oracle(_KCORE_K, _KCORE_ROUNDS), cache_plans=False,
    oracle_style="mirrored",
    semantic_check="tests/test_graph.py::test_kcore_peels_to_known_core",
)
def graph_kcore(spark, sf_dir):
    """3-core of the one-month interaction graph — iterative peeling
    (drop degree-<3 nodes, recount, repeat): the subgraph where every
    node keeps ≥3 neighbors, the classic dense-region extractor.
    Shares graph_cc's edge slice; see operators/graph.kcore for the
    per-round shuffle shape and the fixed-point early exit, and the
    oracle docstring for why every unrolled round is MATERIALIZED."""
    e0 = _sliced_edges(spark, sf_dir)
    sym = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    from ..operators.graph import kcore

    return kcore(sym, _KCORE_K, _KCORE_ROUNDS)


def _hits_oracle(iterations: int) -> str:
    steps = [
        "d0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"
        " FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)",
        "h0 AS (SELECT DISTINCT src AS nid, CAST(1000000 AS BIGINT) AS h FROM d0)",
    ]
    prev_h = "h0"
    a = None
    for i in range(1, iterations + 1):
        steps.append(
            f"ar{i} AS (SELECT d0.dst, CAST(SUM(p.h) AS BIGINT) AS a_raw"
            f" FROM d0 JOIN {prev_h} p ON d0.src = p.nid GROUP BY d0.dst)"
        )
        steps.append(f"am{i} AS (SELECT max(a_raw) AS m FROM ar{i})")
        a = f"a{i}"
        steps.append(
            f"a{i} AS (SELECT dst AS nid,"
            f" CAST((1000000 * a_raw) // am{i}.m AS BIGINT) AS a"
            f" FROM ar{i}, am{i})"
        )
        steps.append(
            f"hr{i} AS (SELECT d0.src, CAST(SUM(q.a) AS BIGINT) AS h_raw"
            f" FROM d0 JOIN a{i} q ON d0.dst = q.nid GROUP BY d0.src)"
        )
        steps.append(f"hm{i} AS (SELECT max(h_raw) AS m FROM hr{i})")
        steps.append(
            f"h{i} AS (SELECT src AS nid,"
            f" CAST((1000000 * h_raw) // hm{i}.m AS BIGINT) AS h"
            f" FROM hr{i}, hm{i})"
        )
        prev_h = f"h{i}"
    return (
        f"WITH {', '.join(steps)}\n"
        f"SELECT nid, a AS auth_q FROM {a}"
    )


@register("graph_hits", _hits_oracle(2), cache_plans=False,
    oracle_style="mirrored",
    semantic_check="tests/test_semantic_refs.py::test_hits_crafted_graph_reference",
)
def graph_hits(spark, sf_dir):
    """HITS hubs-and-authorities over the DIRECTED customer→supplier
    graph (two mutual-reinforcement rounds): which suppliers are
    endorsed by the best-connected customers — the second classic
    link-analysis eigenvector next to PageRank, with a new wrinkle
    the PageRank form doesn't have: a per-half-step 1-row max reduce
    that renormalizes the integer scores, keeping the BIGINTs bounded
    with no float drift. The oracle unrolls the same half-steps as
    chained CTEs; integer quantization makes the chain bit-identical
    to the DataFrame loop (operators/graph.py hits_quantized)."""
    from ..operators.graph import hits_quantized

    return hits_quantized(_directed_edges(spark, sf_dir), iterations=2)


@register("graph_hits_bucketed", _hits_oracle(2), cache_plans=False,
    oracle_style="mirrored",
    semantic_check="tests/test_graph_frontdoor.py::test_hits_bucketed_bit_identical_and_no_broadcast",
)
def graph_hits_bucketed(spark, sf_dir):
    """The same HITS under the strategy that survives a billion-node
    graph (r5 verdict #2, mirroring graph_pagerank_bucketed): nothing
    node-sized is ever broadcast — each half-step is a SHUFFLE_HASH-
    pinned join of the score relation against the persisted,
    once-shuffled edge relation, and each half-step's scores emerge
    from a groupBy already hash-distributed on the node id. The
    integer quantization makes the result bit-identical to the
    broadcast plan, so this entry shares graph_hits's oracle — the
    gate proves the scale plan computes the same scores."""
    from ..operators.graph import hits_quantized

    return hits_quantized(
        _directed_edges(spark, sf_dir), iterations=2, strategy="bucketed"
    )


@register(
    "graph_assortativity",
    f"""
WITH {_GRAPH_SQL},
ed AS (
  SELECT ds.deg AS x, dd.deg AS y
  FROM edges e
  JOIN deg ds ON ds.src = e.src
  JOIN deg dd ON dd.src = e.dst
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM ed
)
SELECT n AS n_edges,
       (n * sxy - sx * sy)
         / nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0.0)
         AS assortativity
FROM m
""",
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the interaction graph — the one-number
    'do hubs attach to hubs' diagnostic (Newman 2002): the Pearson
    correlation of endpoint degrees over the directed edge list of
    the symmetrized graph. Non-iterative, so unlike the
    PageRank/HITS family it is a pure two-join + moments shape: the
    degree relation (node-sized) joins onto each edge endpoint, and
    the correlation comes from exact BIGINT moment sums cast once
    into the shared IEEE tree (the agg_autocorr_lag1 recipe),
    nullif-guarded for regular graphs. One fact derivation, two
    degree joins, a 1-row reduce."""
    e = _edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ds = deg.select(F.col("src").alias("s_"), F.col("deg").alias("x"))
    dd = deg.select(F.col("src").alias("d_"), F.col("deg").alias("y"))
    ed = (
        e.join(ds, e.src == F.col("s_"))
        .join(dd, e.dst == F.col("d_"))
        .select("x", "y")
    )
    m = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return m.select(
        F.col("n").alias("n_edges"),
        (num / F.nullif(den, F.lit(0.0))).alias("assortativity"),
    )


@register(
    "graph_clustering_coeff",
    """
WITH pairs AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
),
und AS (SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY src),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b
),
wed AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
SELECT tri.n_triangles, wed.n_wedges,
       CAST(3 * tri.n_triangles AS DOUBLE) / nullif(wed.n_wedges, 0)
         AS clustering_coeff
FROM tri, wed
""",
)
def graph_clustering_coeff(spark, sf_dir):
    """Global clustering coefficient (transitivity) of the part
    co-purchase graph: 3*triangles / wedges — how often two
    neighbors of a node are themselves connected. Triangles come
    from the same degree-ordered counter as graph_triangles; wedges
    are the pure closed form sum(d*(d-1)/2) over the degree relation
    (node-sized, exact integers — d*(d-1) is always even so the
    halving is exact in both engines); the coefficient is one
    nullif-guarded division. No new join shapes — the metric layer
    over the existing census."""
    from ..operators.graph import triangle_count

    pairs = _copurchase_pairs(spark, sf_dir)
    tri = triangle_count(pairs).select("n_triangles")
    und = pairs.select(F.col("a").alias("src")).unionAll(
        pairs.select(F.col("b").alias("src"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    wed = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wed)).select(
        "n_triangles",
        "n_wedges",
        (
            (F.lit(3).cast("bigint") * F.col("n_triangles")).cast("double")
            / F.nullif(F.col("n_wedges"), F.lit(0).cast("bigint"))
        ).alias("clustering_coeff"),
    )


_RECIP_SQL = """
fwd AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_returnflag <> 'R'
),
rev AS (
  SELECT DISTINCT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_returnflag = 'R'
),
de AS (SELECT src, dst FROM fwd UNION ALL SELECT src, dst FROM rev)
"""


@register(
    "graph_reciprocity",
    f"""
WITH {_RECIP_SQL},
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM de GROUP BY src),
mut AS (SELECT e.src, CAST(count(*) AS BIGINT) AS mutual
        FROM de e JOIN de r ON r.src = e.dst AND r.dst = e.src
        GROUP BY e.src)
SELECT d.src AS nid, d.out_deg,
       CAST(COALESCE(m.mutual, 0) AS BIGINT) AS mutual,
       CAST(COALESCE(m.mutual, 0) AS DOUBLE) / CAST(d.out_deg AS DOUBLE)
         AS reciprocity
FROM deg d LEFT JOIN mut m ON m.src = d.src
""",
)
def graph_reciprocity(spark, sf_dir):
    """Per-node edge reciprocity over the DIRECTED customer-supplier
    relationship graph — the 'is this a two-way relationship' measure
    (Garlaschelli & Loffredo 2004) that the symmetrized graph family
    can't ask. Directions carry real semantics here: cust->supp for
    shipped (non-returned) line items, supp->cust for returns — a
    mutual pair is a relationship with traffic both ways. The two
    derivations are parity-disjoint by construction ((even,odd) vs
    (odd,even)), so the union needs no dedup pass.

    Scale: the directed edge relation is a standing edge relation
    (kind "recip_directed") because THREE
    consumers scan it (the degree count and both sides of the mutual
    self-join) — inlining the derivation re-ran the orders x lineitem
    join four times (12 FileScans in the executed plan; the write-
    once parquet makes it one build + three columnar scans, the
    module's standard amortization). The mutual count is ONE
    self-join keyed (src,dst)=(dst,src) — hash-partitioned on the
    composite key, never broadcast (the edge relation is corpus-
    sized) — and the degree/mutual aggregates are map-side
    combinable. One final double division per node."""

    def build():
        o = load(spark, sf_dir, "orders", parallel="never")
        li = load(spark, sf_dir, "lineitem", parallel="never")
        j = o.join(li, o.o_orderkey == li.l_orderkey)
        fwd = (
            j.where(F.col("l_returnflag") != "R")
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )
        rev = (
            j.where(F.col("l_returnflag") == "R")
            .select(
                (F.col("l_suppkey") * 2 + 1).alias("src"),
                (F.col("o_custkey") * 2).alias("dst"),
            )
            .distinct()
        )
        return fwd.unionByName(rev)

    de = _edge_relation(spark, sf_dir, "recip_directed", build)
    deg = de.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("out_deg")
    )
    r = de.select(F.col("dst").alias("r_src"), F.col("src").alias("r_dst"))
    mut = (
        de.join(
            r,
            (F.col("src") == F.col("r_src")) & (F.col("dst") == F.col("r_dst")),
        )
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("mutual"))
    )
    return deg.join(mut, "src", "left").select(
        F.col("src").alias("nid"),
        "out_deg",
        F.coalesce(F.col("mutual"), F.lit(0).cast("bigint")).alias("mutual"),
        (
            F.coalesce(F.col("mutual"), F.lit(0).cast("bigint")).cast("double")
            / F.col("out_deg").cast("double")
        ).alias("reciprocity"),
    )


def _modularity_oracle(rounds: int) -> str:
    """Score _lpa_steps' final labels with Newman-Girvan modularity
    on the same symmetric edge multigraph: per community c,
    q_contrib = intra_c/m2 - (dsum_c/m2)^2 where m2 = |edges| (the
    symmetric count = 2m), intra_c counts symmetric edges with both
    endpoints in c, dsum_c sums degrees — all integers until the one
    fixed-shape double expression per community row."""
    return f"""
WITH {_CC_SQL}, {', '.join(_lpa_steps(rounds))},
lab AS (SELECT nid, label FROM lp{rounds}),
m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
intra AS (
  SELECT l1.label, CAST(count(*) AS BIGINT) AS intra_edges
  FROM edges e
  JOIN lab l1 ON l1.nid = e.src
  JOIN lab l2 ON l2.nid = e.dst AND l2.label = l1.label
  GROUP BY l1.label
),
dsum AS (
  SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.deg) AS BIGINT) AS degree_sum
  FROM (SELECT src, count(*) AS deg FROM edges GROUP BY src) d
  JOIN lab l ON l.nid = d.src
  GROUP BY l.label
)
SELECT d.label, d.n_nodes,
       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       d.degree_sum,
       CAST(COALESCE(i.intra_edges, 0) AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
         - (CAST(d.degree_sum AS DOUBLE) / CAST(m2.m2 AS DOUBLE))
           * (CAST(d.degree_sum AS DOUBLE) / CAST(m2.m2 AS DOUBLE))
         AS q_contrib
FROM dsum d LEFT JOIN intra i ON i.label = d.label, m2
"""


# cache_plans=False: runs label_propagation (per-round
# localCheckpoint), same rationale as graph_label_propagation.
@register(
    "graph_modularity", _modularity_oracle(_LPA_ROUNDS), cache_plans=False
,
    oracle_style="mirrored",
    semantic_check="tests/test_r9_continuation.py::test_modularity_accounting",
)
def graph_modularity(spark, sf_dir):
    """Newman-Girvan modularity of the LPA communities — the 'did
    label propagation find real structure' score (Q near 0: no better
    than random; the per-community contributions show WHICH
    communities carry it). Shares graph_label_propagation's exact
    labels (same rounds, same deterministic tiebreak), then three
    integer aggregates on the symmetric multigraph: m2 = |directed
    edges| = 2m, intra-community edge counts (edge relation joined to
    node-sized labels on each endpoint — hash joins keyed by node
    id), and per-community degree sums. The m2 scalar rides a
    single-row broadcast (the census-sanctioned shape); the one
    double expression per community row is written identically in
    both engines, so the gate is exact-value."""
    from ..operators.graph import label_propagation

    e0 = _sliced_edges(spark, sf_dir)
    sym = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    lab = label_propagation(sym, _LPA_ROUNDS)
    m2 = sym.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    l1 = lab.select(F.col("nid").alias("src"), F.col("label").alias("_l1"))
    l2 = lab.select(F.col("nid").alias("dst"), F.col("label").alias("_l2"))
    intra = (
        sym.join(l1, "src")
        .join(l2, "dst")
        .where(F.col("_l1") == F.col("_l2"))
        .groupBy(F.col("_l1").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("intra_edges"))
    )
    dsum = (
        deg.join(l1, "src")
        .groupBy(F.col("_l1").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("degree_sum"),
        )
    )
    dd = lambda c: c.cast("double")
    out = (
        dsum.join(intra, "label", "left")
        .withColumn(
            "intra_edges",
            F.coalesce(F.col("intra_edges"), F.lit(0).cast("bigint")),
        )
        .crossJoin(F.broadcast(m2))
    )
    return out.select(
        "label",
        "n_nodes",
        "intra_edges",
        "degree_sum",
        (
            dd(F.col("intra_edges")) / dd(F.col("m2"))
            - (dd(F.col("degree_sum")) / dd(F.col("m2")))
            * (dd(F.col("degree_sum")) / dd(F.col("m2")))
        ).alias("q_contrib"),
    )
