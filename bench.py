#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {"<name>": <sec>, ...}, "sf": <float>}

Each query is forced end-to-end with the noop sink (full plan
execution, no driver collect). Before timing, every headline query is
run once untimed at sf0.001: the first execution of a complex plan
pays one-time JVM costs (analyzer rule JIT, whole-stage-codegen
compile — ~3 s measured, independent of data volume), and the engine's
real deployment is a long-running service (a 30 s scrape cadence,
SURVEY §2.9) where those costs amortize to zero. The warm-up uses the
smallest SF so the timed numbers still contain all data-proportional
work at the target SF. Where input size changes the plan shape (the
scan heal in `sources/tables.load` adds an exchange only for tables
over 256 KB), the one untimed target-SF run before the timed runs
compiles the target shape. The headline set covers every operator class:
the 27-column enrichment pipeline (the reference's entire dataflow),
multi-way broadcast/shuffle joins, hash aggregation, window suite,
dedup (exact + MinHash-LSH), embedding similarity top-k, text
analysis, and a windowed streaming-shaped aggregation.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "pipeline_enrich27",   # the reference's full 16->27 col enrichment
    "join_inner_5way",     # lineitem⋈orders⋈customer⋈nation⋈region
    "agg_group_q1",        # TPC-H Q1-shaped hash agg
    "win_rank_suite",      # partitioned window functions
    "win_gap_lag",         # the reference's gap scan as lag()
    "topk_per_group",      # row_number + filter
    "dedup_exact",         # hash groupBy dedup over documents
    "dedup_minhash",       # MinHash+LSH near-dup over documents
    "dedup_embedding",     # LSH-bucketed cosine near-dup over embeddings
    "sim_topk_bruteforce", # cosine top-k over embeddings
    "sim_ivf",             # IVF ANN: zero-shuffle cells + nprobe re-rank
    "mm_feature_extract",  # mapInPandas byte-histogram featurizer
    "text_quality",        # text scoring over documents
    "pipe_curation",       # composite curation pipeline over documents
    "strm_tumbling",       # 2-min tumbling windows over events
    "set_union",           # set op + dedup shuffle
    "agg_time_bucket",     # hypertable time_bucket rollup over events
    "text_repetition",     # Gopher repetition signals over documents
    "graph_pagerank",      # 3 iterative supersteps over orders⋈lineitem
    "text_lm_score",       # corpus-self-trained bigram LM scoring
    "dedup_semantic",      # SemDeDup: k-means cells + in-cell cosine
    "pipe_bloom_decontam", # Bloom-filter decontamination scan
    "join_bloom_pruned",   # explicit Bloom runtime filter ahead of a join
    "emb_gram",            # Arrow-GEMM second-moment matrix, partial-agg shuffle
    "join_nation_volume",  # Q7-shape double-dimension join + decimal agg
    "pipe_train_ready_e2e", # score->filter->dedup->split->pack, two shuffles
    "mm_silence_trim",     # audio frames -> threshold -> gaps-and-islands
    "mm_scene_change",     # frame-diff keyframe pick over binary clips
    "text_ngram_topk",     # corpus top-k n-grams (explode + two-level agg)
    "dedup_incremental",   # ingest-batch vs standing-corpus dedup join
    "sim_ivfpq",           # IVF coarse cells + PQ ADC re-rank
    "dedup_semantic_scaled", # SemDeDup at the scale dial (k∝n, GEMM assign)
    "graph_pagerank_bucketed", # PageRank with shuffle-join rank supersteps
    "agg_hll_distinct",    # HyperLogLog distinct sketch over events
    "join_interval_overlap", # bucketed interval-overlap equi-join
    "win_time_range_avg",  # trailing-10-min RANGE frame per user
    "pipe_bpe_merge_step", # BPE pair counting over the vocabulary relation
    "graph_cc",            # pointer-jumping connected components
    "join_waiting_supp_q21", # Q21-shape <>-correlated semi + anti joins
    "agg_custdist_q13",    # Q13-shape outer join + stacked aggs
    "win_rolling_median",  # exact trailing-10-row percentile window
    "evt_rfm_segments",    # three distributed-global-rank ntiles
    "dedup_normalized",    # normalization-collapsed exact dedup
    "sim_ivf_sharded",     # IVF with DataFrame-resident codebook (r4)
    "dedup_semantic_2level", # two-level coarse/fine SemDeDup (r4)
    "pipe_importance_select", # DSIR-style hashed n-gram selection (r4)
    "sim_topk_2level",     # two-level ANN top-k serving (r4)
    "dedup_semantic_incremental", # batch-vs-corpus semantic dedup (r4)
    "graph_label_propagation", # synchronous LPA community detection (r4)
    "pipe_token_budget_mix",   # temperature-weighted data recipe (r4)
    "sub_min_cost_supplier",   # Q2-shape correlated min-over-group (r4)
    "graph_bfs_layers",        # frontier BFS reachability layers (r4)
    "graph_jaccard_linkpred",  # wedge-join Jaccard link prediction (r4)
    "pipe_cap_per_domain",     # two-phase per-domain top-K cap (r4)
    "win_weighted_ma",         # exact linear-decay WMA, two-sum identity (r4)
    "dedup_substring_strip",   # exact-substring dedup removal pass (r4)
    "pipe_mixture_epochs",     # source-weighted multi-epoch repetition (r4)
    "win_weighted_ma_blocked", # halo-block frames: the WMA scale twin (r4)
    "graph_hits",              # HITS with quantized renormalization (r4)
    "sim_lsh_multiprobe",      # 1-bit multi-probe LSH recall dial (r4)
    "pipe_dedup_cascade",      # exact -> normalized -> MinHash cascade (r5)
    "agg_profit_q9",           # Q9 profit over synthesized partsupp (r5)
    "agg_ps_value_q11",        # Q11 partsupp value share w/ scalar subquery (r7)
    "agg_supplier_cnt_q16",    # Q16 supplier-count distinct agg (r7)
    "sub_excess_avail_q20",    # Q20 correlated excess-availability semi (r7)
    "agg_shipmode_q12",        # Q12 shipmode priority CASE aggregate (r7)
    "graph_hits_bucketed",     # HITS, SHUFFLE_HASH twin for 100x nodes (r7)
    "dedup_minhash_cluster",   # MinHash bands -> CC duplicate groups (r7)
]

# Headline membership rule (r8, VERDICT r7 #3): the headline contains
# EVERY probe-tracked entry (tools/probe_100x.py QUERIES_100X +
# GRAPH_QUERIES_100X) — if an entry's 100x scaling is published, its
# sf0.1 latency is too — plus the representative family entries listed
# above that are bench-only (TPC-H sweep, joins, windows, multimodal).
# The rule is enforced mechanically by tests/test_bench_probe_membership.py.
HEADLINE += [
    "agg_ab_ttest", "agg_autocorr_lag1", "agg_benford_digits",
    "agg_equiwidth_hist", "agg_gap_histogram", "agg_gini_concentration",
    "agg_hll_merge_rollup", "agg_ks_statistic", "agg_mannwhitney_u",
    "agg_runs_test", "agg_time_interp", "agg_top_decile_share",
    "dedup_cluster", "dedup_minhash_cluster_incremental",
    "diag_k_anonymity", "diag_langid_confusion", "diag_source_gini",
    "diag_vocab_drift", "evt_churn_weekly", "evt_cohort_ltv",
    "evt_dau_wau", "evt_lift_pairs", "evt_transition_2nd",
    "graph_degree_dist", "graph_kcore", "graph_triangles",
    "pipe_balanced_shards", "pipe_bpe_apply_step", "pipe_curriculum",
    "pipe_dataset_diff", "pipe_semdedup_e2e", "sim_mrl_prefix_rerank",
    "sub_division_all_types", "text_collocation_lift", "text_hapax_ratio",
    "text_novelty_ratio", "win_drawdown", "win_streak_days",
    # r8 new entries (probe-tracked per the rule, plus the stream twin;
    # dedup_minhash_cluster_incremental is already listed above)
    "dedup_containment", "sim_sq8_topk", "diag_sq8_recall",
    "agg_weighted_median", "diag_l_diversity", "graph_ppr",
    "graph_ppr_bucketed", "strm_minhash_dedup",
    # r9 new entries
    "agg_weighted_median_blocked", "pipe_dedup_survivors",
    # r9 continuation (probe-tracked per the rule except
    # diag_t_closeness, which reads the ungrown customer dim)
    "win_ewma", "agg_cusum_changepoint", "diag_t_closeness",
    "text_readability", "pipe_paragraph_dedup", "pipe_temperature_mix",
    "pipe_kfold_stratified", "sim_range_search", "graph_reciprocity",
    "graph_modularity", "dedup_token_sort", "evt_markov_stationary",
    "diag_dp_sensitivity", "win_bollinger", "win_rsi",
    "agg_winsorized_mean", "diag_ivf_balance", "strm_changepoint_monitor",
    "agg_seasonality_strength", "evt_time_to_convert",
    "evt_seasonal_outliers", "diag_modality_coverage",
    "sim_hard_negatives", "dedup_url_canonical", "pipe_span_corruption",
    # r10 new entries (probe-tracked per the rule)
    "pipe_bpe_train", "pipe_bpe_encode",
    # r11 new entries (probe-tracked per the rule): tokenizer vocab,
    # incremental CC over the standing-store labels
    "pipe_bpe_vocab", "graph_cc_incremental",
    # r12: join-based BPE encode serving twin (merge-depth-independent)
    "pipe_bpe_encode_joined",
    # r12 (VERDICT r11 task #3): the full-registry sweep tail joins
    # the probe, so per the membership rule it joins the headline too
    "strm_stream_join", "strm_dedup_watermark", "pipe_dedup_e2e",
    "dedup_editdist", "dedup_minhash_estimate", "sim_pq",
    "graph_clustering_coeff", "agg_approx_sketches", "join_range",
    # r10: the semantic stream twin joins the headline (its lexical
    # twin has been here since r8; both fixtures went distributed
    # this round and the cost should be visible round over round)
    "strm_semantic_dedup",
    # r13 (VERDICT r12 task #3): the multi-batch stream-join twin —
    # watermark eviction actually exercised; its sf0.1 latency is
    # the landing sort + a 4-batch drain
    "strm_stream_join_multibatch",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from wsprnet_scraper_spark.plans import QUERIES
    from wsprnet_scraper_spark.session import get_session

    spark = get_session("bench")

    def run(name: str, at: str = sf_dir) -> float:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, at)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Warm-up (untimed): JVM analyzer JIT + codegen compile per plan
    # shape, at the smallest SF so no target-SF data work is pre-done.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        if name in QUERIES:
            run(name, at=warm_dir)
            # also warm target-SF *metadata* (file listing, parquet
            # footers, analysis cache) without executing the plan —
            # .schema triggers analysis only. The timed run below
            # still performs every byte of target-SF data work.
            QUERIES[name](spark, sf_dir).schema

    # Steady state at the target SF: the engine's deployment is a
    # long-running service (30 s scrape cadence), so steady-state per-
    # query latency is the honest headline. One UNTIMED run first —
    # the very first target-SF execution pays one-shot costs no service
    # iteration ever sees again (OS page-cache population of the
    # target files, JIT of the target-shape stages, first-allocation
    # GC growth; measured ~1 s extra on the 5-way join, gone from the
    # second run onward) — then MEDIAN-of-3 timed runs (r4 verdict #3:
    # run-to-run noise on this box is ±15-25%; a single run can't
    # distinguish noise from regression, and min-of-2 biases low).
    # Every timed run still executes the full target-SF plan end to
    # end; the warm run is recorded in the output
    # (warm_runs_target_sf) so round-over-round comparisons know the
    # discipline.
    from statistics import median

    timings: dict[str, float] = {}
    # Per-query [min, median, max] of the 3 timed runs (r5 verdict #8):
    # the box's run-to-run noise is ±15-25%, and without the spread a
    # round-over-round delta inside that band is indistinguishable
    # from a regression. The headline stays the median; the spread
    # rides in the artifact + full JSON line.
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        run(name)
        runs = sorted(run(name) for _ in range(3))
        timings[name] = round(runs[1], 3)
        spread[name] = [round(runs[0], 3), round(runs[1], 3), round(runs[2], 3)]

    # Scaling slope: the same queries at a 10x-smaller SF, so the
    # ~linear claim in SCALE.md is measured every round instead of
    # argued. slope = t(sf) / t(sf/10); linear-with-fixed-overhead
    # lands well under the 10x data ratio, so anything beyond
    # 1.25 * 10 is flagged superlinear.
    scaling = {}
    m2 = re.match(r"(.*sf)([0-9.]+)$", sf_dir.rstrip("/"))
    if m2:
        small_dir = f"{m2.group(1)}{float(m2.group(2)) / 10:g}"
        if os.path.isdir(small_dir) and small_dir != sf_dir:
            small: dict[str, float] = {}
            for name in timings:
                run(name, at=small_dir)  # same steady-state discipline
                small[name] = round(
                    median(run(name, at=small_dir) for _ in range(3)), 3
                )
            slope = {
                name: round(timings[name] / small[name], 2) if small[name] > 0 else None
                for name in timings
            }
            scaling = {
                "secondary_sf": float(m2.group(2)) / 10,
                "queries": small,
                "slope_vs_10x": slope,
                "superlinear": sorted(
                    n for n, s in slope.items() if s is not None and s > 12.5
                ),
            }

    # Round-over-round regression report — GENERATED from the newest
    # committed per-round artifact, never hand-written (VERDICT r8 #2:
    # SCALE.md claimed "zero >=2x regressions" while its own artifact
    # said graph_cc 1.30 -> 2.80 s). A flagged entry with
    # overlapping_spread=true is within the box's run-to-run noise
    # band (cur min <= prev max); overlapping_spread=false is a real
    # median shift SCALE.md must either explain (a declared scale
    # trade) or fix.
    prev_files = sorted(
        (Path(__file__).resolve().parent / "tools").glob(
            "bench_results_r*.json"
        ),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    regressions: list[dict] = []
    prev_name = None
    if prev_files:
        try:
            prev = json.loads(prev_files[-1].read_text())
            prev_name = prev_files[-1].name
            prev_q = prev.get("queries", {})
            prev_sp = prev.get("spread_min_med_max", {})
            for name, cur_med in timings.items():
                pm = prev_q.get(name)
                if not pm or pm <= 0:
                    continue
                ratio = cur_med / pm
                if ratio >= 2.0:
                    psp = prev_sp.get(name, [pm, pm, pm])
                    regressions.append(
                        {
                            "query": name,
                            "prev_median": pm,
                            "cur_median": cur_med,
                            "ratio": round(ratio, 2),
                            "overlapping_spread": spread[name][0] <= psp[2],
                        }
                    )
        except (OSError, ValueError, KeyError):
            prev_name = None
            regressions = []

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_total",
        "warm_runs_target_sf": 1,
        "runs": "median_of_3",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread_min_med_max": spread,
        "sf": sf,
        "scaling": scaling,
        "regressions_vs_prev": {
            "baseline_artifact": prev_name,
            "threshold_ratio": 2.0,
            "flagged": sorted(
                regressions, key=lambda r: r["ratio"], reverse=True
            ),
        },
    }
    print(json.dumps(out))
    # The driver records only the tail of stdout (BENCH_r3's artifact
    # was front-truncated — VERDICT r3 item #7), so the full result
    # also lands in a repo file committed alongside PROGRESS.
    artifact = Path(__file__).resolve().parent / "tools" / "bench_results_latest.json"
    try:
        artifact.write_text(json.dumps(out, indent=1) + "\n")
    except OSError:
        pass  # read-only checkout: stdout is still the contract
    # LAST line = compact summary that survives the driver's tail
    # capture (r4 verdict #3: BENCH_r02-r04 all parsed null because
    # the 60-entry queries dict pushed the headline out of the tail).
    # The capture is the last 2000 chars of stdout (len(tail) == 2000
    # in every committed BENCH_r*.json), so the full 157-entry dict
    # (~4.3 KB minified) CANNOT be the last line — it would front-
    # truncate in the capture and parse as null. r14 (VERDICT r13 #2:
    # a fixed top-5 made the driver's round-over-round diff degenerate
    # to n_common=0 when top-5 membership churned): instead of top-5,
    # fill the byte budget — slowest-first, 2-decimal seconds, as many
    # entries as fit in ~1800 bytes (~55-65 entries; everything below
    # the cut is sub-noise-band at this SF). The full per-query map is
    # the line above + the artifact file.
    compact: dict[str, float] = {}
    summary = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "runs": "median_of_3",
        "n_queries": len(timings),
        "queries_truncated": False,
        "queries": compact,
        "superlinear": scaling.get("superlinear", []) if scaling else [],
        "full_results": "tools/bench_results_latest.json",
    }
    budget = 1800
    used = len(json.dumps(summary, separators=(",", ":")))
    for name_, sec in sorted(
        timings.items(), key=lambda kv: kv[1], reverse=True
    ):
        cost = len(json.dumps({name_: round(sec, 2)}, separators=(",", ":")))
        if used + cost > budget:
            summary["queries_truncated"] = True
            break
        compact[name_] = round(sec, 2)
        used += cost
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
