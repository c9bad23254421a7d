#!/usr/bin/env python3
"""100× scaling evidence (≈ sf10): compose the 10× synthesizer twice
and time the training-data operator families against it.

Usage: python tools/probe_100x.py --json-out tools/probe_results_rN_100x.json
       [--base DIR]

The corpus is `scaling_probe.synth_10x` applied to its own output —
100 id-offset, content-decorrelated copies of the fact tables under
single-copy dimensions (embeddings 200k vectors, documents 200k,
events 1M at base sf0.1). Only the tables the probed queries read are
synthesized at 100×; untouched tables stay at base scale.

The query set is the scale-critical half of the headline: dedup
(exact / MinHash / normalized / embedding-LSH / SemDeDup flat,
scaled, two-level, incremental), ANN serving (sharded IVF, two-level
top-k), text/curation (quality, DSIR selection, curation pipeline),
and two events rollups. slope100 = t(100×)/t(1×); a linear operator
with warm fixed costs lands well under the 100× data ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

QUERIES_100X = [
    "dedup_exact",
    "dedup_minhash",
    "dedup_minhash_cluster",
    "dedup_minhash_cluster_incremental",
    "dedup_normalized",
    "dedup_semantic",
    "dedup_semantic_scaled",
    "dedup_semantic_2level",
    "dedup_semantic_incremental",
    "sim_ivf_sharded",
    "sim_topk_2level",
    "sim_topk_bruteforce",
    "text_quality",
    "pipe_importance_select",
    "pipe_curation",
    "pipe_dedup_cascade",
    "pipe_semdedup_e2e",
    "agg_time_bucket",
    "agg_hll_merge_rollup",
    "strm_tumbling",
    "emb_gram",
    "dedup_cluster",
    "dedup_embedding",
    # r4 continuation additions (this session)
    "pipe_cap_per_domain",
    "pipe_mixture_epochs",
    "pipe_curriculum",
    "pipe_balanced_shards",
    "dedup_substring_strip",
    "diag_source_gini",
    "diag_k_anonymity",
    "win_weighted_ma",
    "win_weighted_ma_blocked",
    "win_streak_days",
    "agg_time_interp",
    "agg_autocorr_lag1",
    "agg_benford_digits",
    "evt_lift_pairs",
    "agg_gap_histogram",
    "win_drawdown",
    "text_novelty_ratio",
    "sim_mrl_prefix_rerank",
    "diag_langid_confusion",
    "agg_ab_ttest",
    "evt_churn_weekly",
    "agg_gini_concentration",
    "sub_division_all_types",
    "diag_vocab_drift",
    "agg_equiwidth_hist",
    "evt_cohort_ltv",
    "sim_lsh_multiprobe",
    "evt_dau_wau",
    "pipe_bpe_apply_step",
    "agg_top_decile_share",
    "agg_ks_statistic",
    "agg_runs_test",
    "text_collocation_lift",
    "agg_mannwhitney_u",
    "pipe_dataset_diff",
    "text_hapax_ratio",
    "evt_transition_2nd",
    # r8 additions (agg_weighted_median is bench-only: it reads
    # lineitem, which this corpus deliberately does not grow)
    "dedup_containment",
    "sim_sq8_topk",
    "diag_sq8_recall",
    "diag_l_diversity",
    # r9 additions (agg_weighted_median_blocked is bench-only, same
    # lineitem rationale as agg_weighted_median)
    "pipe_dedup_survivors",
    # r9 continuation additions (diag_t_closeness is bench-only: it
    # reads customer, which this corpus deliberately does not grow)
    "win_ewma",
    "agg_cusum_changepoint",
    "text_readability",
    "pipe_paragraph_dedup",
    "pipe_temperature_mix",
    "pipe_kfold_stratified",
    "sim_range_search",
    "dedup_token_sort",
    "evt_markov_stationary",
    "diag_dp_sensitivity",
    "win_bollinger",
    "win_rsi",
    "agg_winsorized_mean",
    "diag_ivf_balance",
    "strm_changepoint_monitor",
    "agg_seasonality_strength",
    "evt_time_to_convert",
    "evt_seasonal_outliers",
    "diag_modality_coverage",
    "sim_hard_negatives",
    "dedup_url_canonical",
    "pipe_span_corruption",
    # r10 addition: 10-round BPE training loop — corpus scanned once
    # into the vocab relation, then rounds x vocab-sized pair aggs
    "pipe_bpe_train",
    "pipe_bpe_encode",
    # r10 addition: both dedup stream twins now land their fixtures
    # distributed; probe them so the fixture share stays visible
    "strm_minhash_dedup",
    "strm_semantic_dedup",
    # r11 additions (VERDICT r10 task #4): the r10 driver bench
    # flagged both superlinear sf0.01->sf0.1 under ambient load;
    # these keys are the controlled adjudication
    "text_ngram_topk",
    "win_rolling_median",
    # r11: completes the tokenizer family probe (train/encode above)
    "pipe_bpe_vocab",
    # r12 (VERDICT r11 task #1): the join-based encode twin — serving
    # cost must be merge-depth-independent AND corpus-linear; the
    # >=1k-merge depth axis is tools/bpe_depth_probe.py's separate
    # synthetic-fixture measurement
    "pipe_bpe_encode_joined",
    # r12 (VERDICT r11 task #3): 100x membership for the r11
    # full-registry sweep's tail — every >~2.5s non-headline entry
    # whose sources this corpus grows (events/documents/embeddings).
    # Excluded with reasons, so the cap is loud: src_pyds_queue /
    # strm_ingest_e2e / strm_rate_limited / strm_cdc_apply are
    # transport-fixture entries whose sweep time is fixture setup,
    # not corpus-proportional work; src_partitioned_prune /
    # snk_dynamic_partition_overwrite / join_dpp_partitioned /
    # join_bucketed_colocated are layout fixtures that WRITE their
    # own partitioned/bucketed copies (layout build is measured by
    # test_bucketing/test_partition_pruning, and growing it 100x
    # measures the fixture write). lineitem readers ride the graph
    # corpus below (@grownli).
    "strm_stream_join",
    # r14: the multi-batch twin joins the probe — its watermark
    # eviction + per-batch state commits are exactly what the
    # size-dispatched RocksDB provider changes at volume
    "strm_stream_join_multibatch",
    "strm_dedup_watermark",
    "pipe_dedup_e2e",
    "dedup_editdist",
    "dedup_minhash_estimate",
    "sim_pq",
    # r13 (VERDICT r12 task #5): membership for the remaining sweep
    # tail — every unprobed entry >=1 s at sf0.1 or with a driver
    # sf0.01->sf0.1 slope >= ~5 whose sources this corpus grows.
    # Excluded with reasons: diag_t_closeness reads the ungrown
    # customer dim; win_gap_lag / pipe_token_budget_mix /
    # sub_min_cost_supplier are sub-second with slopes <= ~3.8
    # (fixed-cost amortization band); lineitem readers ride @grownli.
    "pipe_bloom_decontam",
    "evt_rfm_segments",
    "sim_ivfpq",
    "win_time_range_avg",
    "agg_hll_distinct",
    "dedup_incremental",
    "pipe_train_ready_e2e",
]

# r12 tail entries reading LINEITEM, probed against the graph corpus
# (the only 100x corpus that grows lineitem/orders — id-offset copies
# with value columns duplicated, which is the right shape for
# volume-scaling aggregates). Keys land as "<name>@grownli".
LINEITEM_100X = [
    "agg_approx_sketches",
    "join_range",
    # r13 (VERDICT r12 task #5): the unprobed lineitem tail — the
    # exact-weighted-median pair (the blocked entry IS the scale
    # dial; measuring both here tests it directly) and the highest-
    # slope unprobed lineitem join
    "agg_weighted_median",
    "agg_weighted_median_blocked",
    "join_nation_volume",
]

# r11 (VERDICT r10 tasks #1/#6): entries whose standing state —
# MinHash signature store + corpus labels, trained ANN codebooks —
# now routes through the corpus-fingerprint-keyed persistent store
# (SPARK_GRAFT_SIG_STORE). The main loop's min-of-2 numbers measure
# the WARM serve path (the store survives clearCache, like the graph
# edge store); this section records the cold/warm split explicitly so
# the standing-build share stays visible instead of silently
# vanishing from the per-entry numbers.
SIGSTORE_SPLIT = [
    "dedup_minhash_cluster_incremental",
    "strm_minhash_dedup",
    "sim_topk_2level",
    "dedup_semantic_2level",
    # r11 continuation: the semantic stream twin's standing state
    # (codebook + corpus assignment seed) also rides the store
    "strm_semantic_dedup",
]

# Graph queries probe against a SEPARATE 100x corpus in which each
# copy offsets o_custkey/l_suppkey as well as the orderkeys, so every
# copy is a disjoint subgraph: nodes AND edges grow 100x (r4 verdict
# #9 — under the main corpus's fixed dims the node set never grew, so
# graph slopes measured edge-multiset dedup, not graph growth).
# Results land under a "<name>@grownodes" key.
GRAPH_QUERIES_100X = [
    "graph_pagerank",
    "graph_pagerank_bucketed",
    "graph_cc",
    "graph_kcore",
    "graph_hits",
    "graph_hits_bucketed",
    "graph_label_propagation",
    "graph_degree_dist",
    "graph_triangles",
    "graph_ppr",
    "graph_ppr_bucketed",
    # r9 continuation: reciprocity derives its own directed
    # (returnflag-split) edges — its probe time honestly includes
    # that one join; modularity rides the sliced front door + LPA
    "graph_reciprocity",
    "graph_modularity",
    # r11: incremental CC — standing labels from the persistent
    # store (warm-serve numbers; the standing build is the
    # @storesplit discipline's cold share)
    "graph_cc_incremental",
    # r12 (VERDICT r11 task #3): the sweep-tail entry whose 8.9 s is
    # the copurchase self-join edge build — store-amortized here, so
    # its probe number is the honest steady-state serve
    "graph_clustering_coeff",
]
GRAPH_ID_COLS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_suppkey"],
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--mid", default="/tmp/wspr_sf1_probe_r5")
    ap.add_argument("--out", default="/tmp/wspr_sf10_probe")
    ap.add_argument(
        "--json-out",
        required=True,
        help="results file, e.g. tools/probe_results_rN_100x.json; "
        "an existing file is resumed",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated base names or full keys: measure only "
        "these (r14 — re-measure the touched keys on shipped HEAD "
        "without re-running the whole sweep)",
    )
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None

    def want(*keys) -> bool:
        return only is None or any(k in only for k in keys)

    import tools.scaling_probe as sp
    from wsprnet_scraper_spark.plans import QUERIES
    from wsprnet_scraper_spark.session import get_session

    spark = get_session("probe-100x")
    mid = Path(args.mid)
    out = Path(args.out)
    if not mid.is_dir() and not out.is_dir():  # mid only feeds out
        print("synthesizing 10x ...", file=sys.stderr)
        sp.synth_10x(spark, args.base, args.mid)
    if not out.is_dir():
        # only the tables this probe's queries read are grown to 100x
        # (events/documents/embeddings); lineitem/orders at 100x would
        # be gigabytes of parquet no probed query ever opens
        print("synthesizing 100x from 10x ...", file=sys.stderr)
        old_facts, old_offset = sp.FACTS, sp.OFFSET
        sp.FACTS = ["events", "documents", "embeddings"]
        # the OUTER composition must offset by more than the whole
        # 10x id span (10 copies x 1e10), or outer copy i of inner
        # copy j collides with outer i' of inner j' whenever
        # i + j = i' + j' — the first r4 probe corpus had exactly
        # that bug (200k rows, 38k distinct vec_ids: ~5x id
        # duplication), which both corrupted id-keyed semantics
        # (pct-of-id batch splits, min-id tiebreaks) and planted a
        # pathological ~10-deep near-dup saturation that made the
        # dedup family look quadratically worse than the corpus
        # shape it claims to model. 1e12 keeps ids unique and stays
        # a multiple of 10 (doc_id % 10 sampling unchanged).
        sp.OFFSET = 1_000_000_000_000
        try:
            sp.synth_10x(spark, args.mid, args.out)
        finally:
            sp.FACTS, sp.OFFSET = old_facts, old_offset

    # graph corpus: disjoint-subgraph copies (nodes grow with data)
    gmid, gout = Path(str(mid) + "_graph"), Path(str(out) + "_graph")
    saved = sp.FACTS, sp.OFFSET, sp.ID_COLS
    try:
        sp.FACTS, sp.ID_COLS = ["orders", "lineitem"], GRAPH_ID_COLS
        if not gmid.is_dir() and not gout.is_dir():
            print("synthesizing graph 10x ...", file=sys.stderr)
            sp.OFFSET = 10_000_000_000
            sp.synth_10x(spark, args.base, str(gmid))
        if not gout.is_dir():
            print("synthesizing graph 100x from 10x ...", file=sys.stderr)
            sp.OFFSET = 1_000_000_000_000  # > the whole 10x id span
            sp.synth_10x(spark, str(gmid), str(gout))
    finally:
        sp.FACTS, sp.OFFSET, sp.ID_COLS = saved

    def run(name: str, at: str) -> float:
        # Every timed run pays its own materialization: the graph
        # builders persist their edge relation, and Spark's cache
        # matches by canonicalized plan — without this, any query
        # sharing the edge subtree with an earlier one is served from
        # cache and its slope measures only the post-edge work
        # (graph_degree_dist probed 0.3 s at 100x that way).
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[name](spark, at).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out_path = Path(args.json_out)
    results = {}
    if out_path.is_file():  # resume: skip already-measured queries
        results = json.loads(out_path.read_text())

    # The graph family reads its edge relations from the standing-
    # relation store (operators/stores.py): per-query times below are
    # the AMORTIZED steady state — the derivation is paid once per
    # corpus, like a 100 TB deployment's write-once edge parquet.
    # Publish that one-time build cost explicitly so the amortization
    # stays visible instead of silently vanishing from every per-query
    # number.
    from wsprnet_scraper_spark.operators import stores
    from wsprnet_scraper_spark.plans import graph_q
    from wsprnet_scraper_spark.plans.registry import clear_plan_cache

    def drop_stored(at: str, kind="edges_*", tables=("orders", "lineitem")):
        """Delete the corpus's standing parquet of `kind` (default:
        every edge kind) and every handle or cached plan that scans
        it, so the next read times a real build, not a parquet
        re-open."""
        fp = stores.corpus_fingerprint(at, tables)
        for p in Path(os.environ[stores.ENV_VAR]).glob(f"{kind}_{fp}"):
            shutil.rmtree(p, ignore_errors=True)
        stores.clear_store_cache(drop_files=True)

    def prebuild_edges(at: str) -> float:
        """Materialize ALL THREE shared edge relations (ADVICE r6:
        _copurchase_pairs was missing, so the first triangle-family
        query silently absorbed the lineitem self-join build)."""
        stores.clear_store_cache()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        graph_q._edges(spark, at).count()
        graph_q._sliced_edges(spark, at).count()
        graph_q._copurchase_pairs(spark, at).count()
        return time.perf_counter() - t0

    # r11: the standing-relation store (edges, signatures, labels,
    # codebooks) persists across probe invocations under a probe-owned
    # dir — per-entry numbers below are the amortized steady state; the
    # SIGSTORE_SPLIT and graph sections record the cold build share
    # explicitly.
    os.environ.setdefault(
        "SPARK_GRAFT_SIG_STORE", str(out) + "_sigstore"
    )

    # Session warm-up (r8): the first timed entries of a fresh session
    # otherwise absorb one-time driver costs — first-allocation GC heap
    # growth, JIT of the shuffle/agg paths at BOTH corpus shapes — on
    # top of their own work (measured: dedup_minhash_cluster's sf0.1
    # base recorded 18.8 s as session-entry #3 vs 3.3 s under the same
    # warm+min-of-2 protocol in a warmed session). One representative
    # scan+shuffle query runs untimed at each scale before any
    # recorded run; per-query plan-shape warm-ups below are unchanged.
    run("dedup_exact", args.base)
    run("dedup_exact", str(out))

    for name in QUERIES_100X:
        if name not in QUERIES or name in results or not want(name):
            continue
        run(name, args.base)  # warm the plan shape
        base_t = min(run(name, args.base), run(name, args.base))
        big_t = run(name, str(out))
        if big_t < 120:  # min-of-2 only when a re-run is cheap
            big_t = min(big_t, run(name, str(out)))
        results[name] = {
            "sf0.1_sec": round(base_t, 3),
            "x100_sec": round(big_t, 3),
            "slope100": round(big_t / base_t, 1) if base_t > 0 else None,
        }
        print(name, results[name], file=sys.stderr, flush=True)
        # write after every query so a timeout loses nothing
        out_path.write_text(json.dumps(results, indent=1) + "\n")

    # ---- stream-join setup/join decomposition (VERDICT r12 #3) ----
    # strm_stream_join's one probe number conflates reading+filtering
    # two full 100M-event streams with the join/state cost. The
    # storesplit reporting shape, applied here: drain_only = both
    # watermarked sides drained through a noop streaming sink with NO
    # join (the fixture/setup share); full = the judged entry; the
    # difference is the stream-stream join + state machinery itself.
    if "strm_stream_join@split" not in results and want(
        "strm_stream_join", "strm_stream_join@split"
    ):
        from wsprnet_scraper_spark.plans.streaming_q import (
            _events_streams,
            _stream_join_side,
        )

        def drain_only(at: str) -> float:
            spark.catalog.clearCache()
            streams = _events_streams(spark, at, 2)
            t0 = time.perf_counter()
            for et, stream in zip(("click", "error"), streams):
                side = _stream_join_side(stream, et)
                q = (
                    side.writeStream.format("noop")
                    .option(
                        "checkpointLocation",
                        f"/tmp/ssj_split_ckpt_{et}_{time.time_ns()}",
                    )
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            return time.perf_counter() - t0

        run("strm_stream_join", args.base)  # plan/JIT warm-up
        drain = min(drain_only(str(out)), drain_only(str(out)))
        full = run("strm_stream_join", str(out))
        results["strm_stream_join@split"] = {
            "drain_only100x_sec": round(drain, 3),
            "full100x_sec": round(full, 3),
            "join_state_share_sec": round(full - drain, 3),
            "note": "drain_only = both filtered+watermarked sides "
            "drained (no join): the stream-fixture setup share; "
            "full = the judged single-batch entry; difference = "
            "stream-stream join + state cost",
        }
        print(
            "strm_stream_join@split", results["strm_stream_join@split"],
            file=sys.stderr, flush=True,
        )
        out_path.write_text(json.dumps(results, indent=1) + "\n")

    # ---- lineitem readers against the grown-lineitem corpus -------
    # (VERDICT r11 task #3): the graph corpus is the one 100x corpus
    # that grows lineitem/orders; volume-scaling lineitem aggregates
    # ride it under the main loop's min-of-2 protocol.
    for name in LINEITEM_100X:
        key = f"{name}@grownli"
        if name not in QUERIES or key in results or not want(name, key):
            continue
        run(name, args.base)  # warm the plan shape
        base_t = min(run(name, args.base), run(name, args.base))
        big_t = run(name, str(gout))
        if big_t < 120:
            big_t = min(big_t, run(name, str(gout)))
        results[key] = {
            "sf0.1_sec": round(base_t, 3),
            "x100_sec": round(big_t, 3),
            "slope100": round(big_t / base_t, 1) if base_t > 0 else None,
            "note": "100x = graph corpus (grows lineitem/orders; "
            "dims fixed)",
        }
        print(key, results[key], file=sys.stderr, flush=True)
        out_path.write_text(json.dumps(results, indent=1) + "\n")

    # ---- standing-store cold/warm split (VERDICT r10 #1/#6) -------
    # Cold = store handles dropped AND the persistent store dir
    # emptied (a brand-new corpus version: standing build + the
    # entry's own work); warm = the fresh-session shape (store
    # handles dropped, standing parquet intact). warm is what a
    # production ingest pays per batch; cold - warm is the
    # once-per-corpus standing-build share.
    from wsprnet_scraper_spark.plans import analytics as pl_analytics

    for name in SIGSTORE_SPLIT:
        key = f"{name}@storesplit"
        if name not in QUERIES or key in results or not want(name, key):
            continue
        run(name, args.base)  # plan-shape warm-up, untimed
        store_dir = os.environ["SPARK_GRAFT_SIG_STORE"]
        shutil.rmtree(store_dir, ignore_errors=True)
        stores.clear_store_cache(drop_files=True)
        cold = run(name, str(out))

        def warm_run() -> float:
            # fresh-session shape for EVERY warm run (r11 review
            # finding: dropping handles once before a min-of-2 lets the
            # second run serve open handles from memory and
            # understate the real fresh-session cost)
            stores.clear_store_cache()
            return run(name, str(out))

        warm = min(warm_run(), warm_run())
        results[key] = {
            "cold100x_sec": round(cold, 3),
            "warm100x_sec": round(warm, 3),
            "standing_build_share_sec": round(cold - warm, 3),
            "note": "cold = store dir emptied (new corpus version); "
            "warm = fresh-session serve from the standing parquet",
        }
        print(key, results[key], file=sys.stderr, flush=True)
        out_path.write_text(json.dumps(results, indent=1) + "\n")

    # ---- shared frame relation one-time pass (VERDICT r10 #3) -----
    # win_ewma/bollinger/rsi serve from ONE standing block+halo pass
    # (the store's frames_w19 kind); per-entry numbers above are
    # amortized. Record the one-time pass explicitly: the stored
    # frames are deleted first, so each timed run is a real build.
    if "frame_relation_build" not in results and want(
        "frame_relation_build"
    ):
        def frame_build(at: str) -> float:
            drop_stored(at, "frames_w19", ("events",))
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            pl_analytics._frame_relation(spark, at).write.format(
                "noop"
            ).mode("overwrite").save()
            return time.perf_counter() - t0

        fb, fg = frame_build(args.base), frame_build(str(out))
        results["frame_relation_build"] = {
            "sf0.1_sec": round(fb, 3),
            "x100_sec": round(fg, 3),
            "slope100": round(fg / fb, 1) if fb > 0 else None,
            "note": "one-time shared block+halo pass serving "
            "win_ewma/win_bollinger/win_rsi; a standing relation, "
            "paid once per corpus version",
        }
        print(
            "frame_relation_build", results["frame_relation_build"],
            file=sys.stderr, flush=True,
        )
        out_path.write_text(json.dumps(results, indent=1) + "\n")

    # ---- graph family: CONTROLLED protocol (VERDICT r8 #1) --------
    # The r8 artifact recorded the unrolled iterative entries up to 2x
    # above same-session controlled A/B measurements (graph_ppr 38.5 s
    # committed vs 16.5-21.3 s controlled): by the time the sweep
    # reached the graph family the driver heap carried ~60 entries of
    # garbage, and the many short superstep jobs absorb the GC pauses
    # (memory trap 24). Protocol, so the COMMITTED number is the
    # defensible one: (a) a FRESH driver session for the family;
    # (b) edge relations through the persistent store
    # (SPARK_GRAFT_SIG_STORE) — build cost recorded once, explicitly,
    # with the per-query amortized share (VERDICT r8 #5); (c) one
    # untimed representative warm-up per corpus; (d) TWO ALTERNATING
    # passes over the whole family, per-key min — cross-run min is the
    # judgment rule for this family.
    GPROTO = (
        "fresh-session, store-backed edges, 2 alternating passes, "
        "per-key min (iterative entries swing ~2x with driver GC; "
        "judge by cross-run min)"
    )
    gpend = [
        n
        for n in GRAPH_QUERIES_100X
        if n in QUERIES
        and f"{n}@grownodes" not in results
        and want(n, f"{n}@grownodes")
    ]
    want_edge_build = (
        "graph_edge_build@grownodes" not in results
        and want("graph_edge_build@grownodes")
    )
    want_ppr_split = (
        "graph_ppr@storesplit" not in results
        and want("graph_ppr", "graph_ppr@storesplit")
    )
    if gpend or want_edge_build or want_ppr_split:
        spark.stop()
        spark = get_session("probe-100x-graph")
        if want_edge_build:
            drop_stored(args.base)
            base_build = prebuild_edges(args.base)
            drop_stored(str(gout))
            big_build = prebuild_edges(str(gout))
            n_amort = max(1, len(GRAPH_QUERIES_100X))
            results["graph_edge_build@grownodes"] = {
                "sf0.1_sec": round(base_build, 3),
                "x100_sec": round(big_build, 3),
                "slope100": round(big_build / base_build, 1)
                if base_build > 0
                else None,
                "x100_amortized_share_sec": round(big_build / n_amort, 3),
                "note": "one-time shared edge materialization (full, "
                "sliced, copurchase) through the persistent store — "
                "paid once per CORPUS, not per session; later "
                "sessions reopen the standing parquet. Amortized "
                f"share = build / {n_amort} graph queries.",
            }
            print(
                "graph_edge_build@grownodes",
                results["graph_edge_build@grownodes"],
                file=sys.stderr,
            )
            out_path.write_text(json.dumps(results, indent=1) + "\n")
        else:
            # resume: warm the in-session handles; the store makes
            # this a parquet re-open, not a re-derivation
            prebuild_edges(args.base)
            prebuild_edges(str(gout))
        run("graph_degree_dist", args.base)  # session warm-up, untimed
        run("graph_degree_dist", str(gout))
        gbase: dict[str, float] = {}
        gbig: dict[str, float] = {}
        for _pass in range(2):
            for name in gpend:
                bt = run(name, args.base)
                gbase[name] = min(gbase.get(name, bt), bt)
                gt = run(name, str(gout))
                gbig[name] = min(gbig.get(name, gt), gt)
                print(
                    f"  pass{_pass} {name}: base {bt:.1f}s big {gt:.1f}s",
                    file=sys.stderr,
                    flush=True,
                )
        for name in gpend:
            results[f"{name}@grownodes"] = {
                "sf0.1_sec": round(gbase[name], 3),
                "x100_sec": round(gbig[name], 3),
                "slope100": round(gbig[name] / gbase[name], 1)
                if gbase[name] > 0
                else None,
                "protocol": GPROTO,
            }
            print(
                f"{name}@grownodes", results[f"{name}@grownodes"],
                file=sys.stderr, flush=True,
            )
            out_path.write_text(json.dumps(results, indent=1) + "\n")

        # ---- PPR cold/warm split (VERDICT r11 task #6) ------------
        # The @grownodes numbers above are the warm serve (standing
        # edge parquet + in-session handles). Publish the full
        # standing-build share explicitly, @storesplit-style: cold =
        # edge store EMPTIED (new corpus version: edge derivation +
        # serve), warm = fresh-session serve (handles dropped,
        # standing parquet intact). With the r12 frontier push the
        # warm serve scales with the source neighborhood, not the
        # graph.
        if want_ppr_split:
            drop_stored(str(gout))
            cold = run("graph_ppr", str(gout))

            def _warm_ppr() -> float:
                stores.clear_store_cache()  # handles only
                clear_plan_cache()
                return run("graph_ppr", str(gout))

            warm = min(_warm_ppr(), _warm_ppr())
            results["graph_ppr@storesplit"] = {
                "cold100x_sec": round(cold, 3),
                "warm100x_sec": round(warm, 3),
                "standing_build_share_sec": round(cold - warm, 3),
                "note": "cold = edge store emptied (new corpus "
                "version: full edge derivation + serve); warm = "
                "fresh-session frontier-push serve from the standing "
                "edge parquet",
            }
            print(
                "graph_ppr@storesplit", results["graph_ppr@storesplit"],
                file=sys.stderr, flush=True,
            )
            out_path.write_text(json.dumps(results, indent=1) + "\n")
    print(json.dumps(results))


if __name__ == "__main__":
    main()
