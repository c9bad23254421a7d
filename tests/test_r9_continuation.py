"""Round-9 continuation entries: semantic references on synthetic
corpora (known changepoint, known EWMA, identical distributions) plus
the structural invariants the gate can't see (winner identity,
stratum balance, range-search edge cases). Exactness discipline: the
EWMA/CUSUM references are recomputed in integer Python, so asserts
are == not approx."""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F

from wsprnet_scraper_spark.operators.frames import trailing_frame_arrays
from wsprnet_scraper_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- frames: arrays

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=400),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=1,
    max_size=50,
)


def _reference_arrays(rows, k):
    out = {}
    by_series = {}
    for tb, (s, t, v) in enumerate(rows):
        by_series.setdefault(s, []).append((t, tb, v))
    for s, items in by_series.items():
        items.sort()
        for i, (t, tb, v) in enumerate(items):
            frame = items[max(0, i - k) : i + 1]
            out[(s, t, tb)] = (i + 1, tuple(vv for _, _, vv in frame))
    return out


@settings(max_examples=6, deadline=None)
@given(
    rows=rows_strategy,
    k=st.sampled_from([1, 19]),
    block=st.sampled_from([7, 1000]),
)
def test_halo_frame_arrays_equal_single_window(spark, rows, k, block):
    df = spark.createDataFrame(
        [Row(s=s, t=t, tb=i, v=v) for i, (s, t, v) in enumerate(rows)]
    )
    got = {
        (r.s, r.t, r.tb): (r.rn, tuple(r.arr))
        for r in trailing_frame_arrays(
            df, "s", "t", "tb", "v", k=k, block_us=block
        ).collect()
    }
    assert got == _reference_arrays(rows, k)


# ---------------------------------------------- synthetic events


def _write_events(tmp_path, values):
    """events.parquet with one 'm' series: minute-spaced timestamps,
    value[i] at event_id i."""
    n = len(values)
    base = dt.datetime(2024, 1, 1)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(minutes=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["m"] * n),
            "value": pa.array([float(v) for v in values], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _ewma_ref(values):
    cents = [math.floor(v * 100) for v in values]
    out = []
    for i in range(len(cents)):
        frame = cents[max(0, i - 19) : i + 1]
        c = len(frame)
        num = sum(x * (1 << (20 - c + j)) for j, x in enumerate(frame))
        den = (1 << 20) - (1 << (20 - c))
        out.append(float(num) / float(den))
    return out


def test_win_ewma_matches_integer_reference(spark, tmp_path):
    values = [1.0, 2.5, -3.2, 4.0, 4.0, 0.01, 100.0] + [7.5] * 30
    sf = _write_events(tmp_path, values)
    got = {
        r.event_id: r.ewma20
        for r in QUERIES["win_ewma"](spark, sf).collect()
    }
    ref = _ewma_ref(values)
    assert got == {i: ref[i] for i in range(len(values))}


def test_cusum_finds_the_mean_shift(spark, tmp_path):
    # flat 10.0 for 40 points, then flat 20.0 for 40 — the scaled
    # CUSUM |n*ps_t - t*S| peaks exactly at the boundary (rn = 40)
    values = [10.0] * 40 + [20.0] * 40
    sf = _write_events(tmp_path, values)
    rows = QUERIES["agg_cusum_changepoint"](spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.cp_rn == 40 and r.cp_event_id == 39 and r.n == 80
    # G_40 = 80*(40*1000) - 40*(40*1000 + 40*2000) = 3_200_000 - ...
    n, s = 80, 40 * 1000 + 40 * 2000
    g = abs(n * (40 * 1000) - 40 * s)
    assert r.g_abs == float(g)
    assert r.cp_frac == 40.0 / 80.0


def test_cusum_tiebreak_is_smallest_rn(spark, tmp_path):
    # constant series: every G_t = 0 -> deterministic winner rn = 1
    sf = _write_events(tmp_path, [5.0] * 10)
    r = QUERIES["agg_cusum_changepoint"](spark, sf).collect()[0]
    assert r.cp_rn == 1 and r.g_abs == 0.0


# ------------------------------------------------- t-closeness


def test_t_closeness_zero_for_identical_distribution(spark, tmp_path):
    # segment A mirrors the global distribution exactly -> t = 0;
    # segment B holds only the top band -> t > 0
    rows = []
    k = 0
    for seg, bals in [
        ("A", [500.0, 1500.0, 500.0, 1500.0]),
        ("B", [1500.0, 1500.0, 1500.0, 1500.0]),
        ("C", [500.0, 500.0, 500.0, 500.0]),
    ]:
        for b in bals:
            rows.append((k, f"c{k}", 0, b, seg))
            k += 1
    tbl = pa.table(
        {
            "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "c_name": pa.array([r[1] for r in rows]),
            "c_nationkey": pa.array([r[2] for r in rows], pa.int32()),
            "c_acctbal": pa.array([r[3] for r in rows], pa.float64()),
            "c_mktsegment": pa.array([r[4] for r in rows]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "customer.parquet"))
    got = {
        r.c_mktsegment: r
        for r in QUERIES["diag_t_closeness"](spark, str(tmp_path)).collect()
    }
    # global: 6 in band 0, 6 in band 1; A is 2/2 -> identical
    assert got["A"].t_closeness == 0.0 and got["A"].emd_scaled == 0
    # B: cum(band0)=0 vs global 6/12 -> |0*12 - 6*4| = 24 at band 0
    assert got["B"].emd_scaled == 24
    assert got["B"].t_closeness == 24.0 / (4 * 12 * 1)
    assert got["C"].t_closeness == got["B"].t_closeness


# --------------------------------------------- paragraph dedup


def _write_docs(tmp_path, texts):
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array([f"s{i % 2}" for i in range(len(texts))]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_paragraph_dedup_keeps_first_occurrence(spark, tmp_path):
    blk_a = " ".join(["alpha"] * 30)
    blk_b = " ".join(["beta"] * 30)
    blk_c = " ".join(["gamma"] * 30)
    sf = _write_docs(
        tmp_path,
        [
            f"{blk_a} {blk_b}",  # doc 0: both survive
            f"{blk_b} {blk_c}",  # doc 1: b dropped, c survives
            f"{blk_a} {blk_b}",  # doc 2: fully deduped
        ],
    )
    got = {
        r.doc_id: r
        for r in QUERIES["pipe_paragraph_dedup"](spark, sf).collect()
    }
    assert (got[0].total_chunks, got[0].kept_chunks) == (2, 2)
    assert got[0].text_dedup == f"{blk_a} {blk_b}"
    assert (got[1].total_chunks, got[1].kept_chunks) == (2, 1)
    assert got[1].text_dedup == blk_c
    assert (got[2].total_chunks, got[2].kept_chunks) == (2, 0)
    assert got[2].text_dedup == ""


# ------------------------------------- temperature mix / k-fold


def test_temperature_mix_budgets_match_integer_rule(spark):
    rows = QUERIES["pipe_temperature_mix"](spark, SF).collect()
    import duckdb

    counts = dict(
        duckdb.sql(
            f"SELECT source, count(*) FROM '{SF}/documents.parquet'"
            " GROUP BY source"
        ).fetchall()
    )
    wts = {s: math.floor(math.sqrt(n) * 1000) for s, n in counts.items()}
    tw = sum(wts.values())
    takes = {s: (200 * w) // tw for s, w in wts.items()}
    by_src = {}
    for r in rows:
        by_src[r.source] = by_src.get(r.source, 0) + 1
        assert r.rn <= r.take == takes[r.source]
    assert by_src == {s: t for s, t in takes.items() if t > 0}


def test_kfold_strata_are_balanced(spark):
    rows = QUERIES["pipe_kfold_stratified"](spark, SF).collect()
    per = {}
    for r in rows:
        per.setdefault((r.lang, r.source), [0] * 5)[r.fold] += 1
    for key, folds in per.items():
        assert max(folds) - min(folds) <= 1, (key, folds)


# ------------------------------------------------ range search


def test_lsh_range_search_edges(spark):
    from wsprnet_scraper_spark.operators.similarity import lsh_range_search
    from wsprnet_scraper_spark.sources import load

    emb = load(spark, SF, "embeddings")
    assert lsh_range_search(emb, [], 0.5).count() == 0
    # threshold above 1: even self-pairs fail (cosine(self) == 1.0
    # only up to the fold; 1.01 excludes everything)
    assert lsh_range_search(emb, [0], 1.01).count() == 0
    got = lsh_range_search(emb, [0], 0.999).collect()
    assert any(r.qid == 0 and r.vec_id == 0 for r in got)


# -------------------------------------------------- graph pair


def test_reciprocity_invariants(spark):
    for r in QUERIES["graph_reciprocity"](spark, SF).collect():
        assert 0 <= r.mutual <= r.out_deg
        assert r.reciprocity == r.mutual / r.out_deg


def test_modularity_accounting(spark):
    rows = QUERIES["graph_modularity"](spark, SF).collect()
    assert rows, "LPA produced no communities"
    # sum of degree_sum over communities = |symmetric edges| = m2,
    # and sum of intra <= m2; total Q in (-1, 1]
    total_deg = sum(r.degree_sum for r in rows)
    total_intra = sum(r.intra_edges for r in rows)
    assert total_intra <= total_deg
    q = sum(r.q_contrib for r in rows)
    assert -1.0 < q <= 1.0
    for r in rows:
        assert r.intra_edges >= 0 and r.n_nodes >= 1


# ------------------------------------------- wave 2: markov / dp


def test_markov_stationary_sums_to_one(spark):
    rows = QUERIES["evt_markov_stationary"](spark, SF).collect()
    assert rows
    assert abs(sum(r.pi for r in rows) - 1.0) < 1e-12
    for r in rows:
        assert r.pi_q >= 0


def test_markov_absorbing_state(spark, tmp_path):
    # user alternates a->b, then ends on b->b loops: with enough
    # self-loop mass the quantized chain should concentrate on b
    seq = ["a", "b"] * 5 + ["b"] * 40
    n = len(seq)
    base = dt.datetime(2024, 1, 1)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(minutes=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(seq),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    got = {
        r.state: r.pi
        for r in QUERIES["evt_markov_stationary"](spark, str(tmp_path)).collect()
    }
    assert got["b"] > got["a"]


def test_dp_sensitivity_exact_on_crafted_corpus(spark, tmp_path):
    # user 1: 3 rows in one cell; user 2: 1 row in each of 4 cells
    rows = []
    base = dt.datetime(2024, 1, 1)
    for i in range(3):
        rows.append((i, base, 1, "x"))
    for i in range(4):
        rows.append((10 + i, base + dt.timedelta(days=i), 2, "x"))
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    r = QUERIES["diag_dp_sensitivity"](spark, str(tmp_path)).collect()[0]
    assert r.n_users == 2
    assert r.l0_sensitivity == 4      # user 2 touches 4 cells
    assert r.linf_sensitivity == 3    # user 1's single cell
    assert r.l1_sensitivity == 4      # user 2's total rows


def test_token_sort_catches_reorderings(spark, tmp_path):
    sf = _write_docs(
        tmp_path,
        ["alpha beta gamma", "gamma beta alpha", "alpha beta delta"],
    )
    got = {
        r.doc_id: r for r in QUERIES["dedup_token_sort"](spark, sf).collect()
    }
    assert got[0].keep and got[0].group_sz == 2
    assert not got[1].keep and got[1].group_sz == 2
    assert got[2].keep and got[2].group_sz == 1


# ----------------------------------- wave 3: bollinger / rsi / winsor


def test_multi_sums_match_single_sums(spark):
    from wsprnet_scraper_spark.operators.frames import (
        trailing_frame_multi_sums,
        trailing_frame_sums,
    )

    rows = [("a", t * 3 % 17, t, (t * 7) % 13 - 6) for t in range(40)]
    df = spark.createDataFrame(
        [Row(s=s, t=t, tb=tb, v=v) for s, t, tb, v in rows]
    ).withColumn("v2", F.col("v") * F.col("v"))
    multi = {
        (r.s, r.t, r.tb): (r.rn, r.c, r.s_v, r.s_v2)
        for r in trailing_frame_multi_sums(
            df, "s", "t", "tb", ["v", "v2"], k=5, block_us=7
        ).collect()
    }
    single = {
        (r.s, r.t, r.tb): (r.rn, r.c, r.s0)
        for r in trailing_frame_sums(
            df, "s", "t", "tb", "v", k=5, block_us=7
        ).collect()
    }
    assert set(multi) == set(single)
    for key, (rn, c, sv, _sv2) in multi.items():
        assert (rn, c, sv) == single[key]


def test_bollinger_constant_series_zero_width(spark, tmp_path):
    sf = _write_events(tmp_path, [4.0] * 25)
    for r in QUERIES["win_bollinger"](spark, sf).collect():
        assert r.mid == 400.0
        assert r.upper_band == 400.0 and r.lower_band == 400.0


def test_rsi_monotone_series_pegs_at_100(spark, tmp_path):
    # strictly increasing -> all deltas positive -> RSI = 100;
    # strictly decreasing -> RSI = 0
    up, down = tmp_path / "up", tmp_path / "down"
    up.mkdir(), down.mkdir()
    sf = _write_events(up, [float(i) for i in range(30)])
    rows = QUERIES["win_rsi"](spark, sf).collect()
    assert rows and all(r.rsi14 == 100.0 for r in rows)
    sf2 = _write_events(down, [float(60 - i) for i in range(30)])
    rows2 = QUERIES["win_rsi"](spark, sf2).collect()
    assert rows2 and all(r.rsi14 == 0.0 for r in rows2)


def test_winsorized_mean_between_min_and_max(spark):
    rows = QUERIES["agg_winsorized_mean"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.lo_cut <= r.hi_cut
        assert r.lo_cut <= r.winsorized_mean <= r.hi_cut


def test_winsorized_mean_clamps_outlier(spark, tmp_path):
    # 19 copies of 10.0 and one 1000.0: p95 cut lands on 10.0 ->
    # the outlier clamps and the winsorized mean is exactly 1000c
    sf = _write_events(tmp_path, [10.0] * 19 + [1000.0])
    r = QUERIES["agg_winsorized_mean"](spark, sf).collect()[0]
    assert r.lo_cut == 1000 and r.hi_cut == 1000
    assert r.winsorized_mean == 1000.0


# --------------------------- wave 4: ivf balance / stream cusum


def test_ivf_balance_accounting(spark):
    rows = QUERIES["diag_ivf_balance"](spark, SF).collect()
    assert rows
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-12
    imb = rows[0].imbalance
    assert all(r.imbalance == imb for r in rows)
    assert imb >= 1.0  # k*Σn²/N² >= 1 by Cauchy-Schwarz
    n = sum(r.n_vecs for r in rows)
    assert imb == len(rows) * sum(r.n_vecs**2 for r in rows) / n / n


def test_stream_cusum_matches_reference(spark, tmp_path):
    # corpus (ids % 10 != 0) flat at 10.0 -> ref_q = 1e6 * 1000;
    # batch slice (ids % 10 == 0) drifts to 20.0 -> G grows linearly
    values = [10.0 if i % 10 else 20.0 for i in range(100)]
    sf = _write_events(tmp_path, values)
    got = sorted(
        (r.t_idx, r.g)
        for r in QUERIES["strm_changepoint_monitor"](spark, sf).collect()
    )
    # batch events all have cents 2000, ref_q = 1000 * 1e6:
    # G_t = 1e6 * 2000t - t * 1e9 = 1e9 * t
    assert got == [(t, 10**9 * t) for t in range(1, 11)]


# ------------------------- wave 5: seasonality / time-to-convert


def test_seasonality_strength_flat_series_is_null_or_high(spark, tmp_path):
    # value determined ENTIRELY by the hour (hour parity): strength 1
    n = 48 * 60
    vals = []
    base = dt.datetime(2024, 1, 1)
    import pyarrow as _pa

    hours = [(base + dt.timedelta(minutes=i)).hour for i in range(n)]
    vals = [100.0 if h % 2 == 0 else 200.0 for h in hours]
    sf = _write_events(tmp_path, vals)
    r = QUERIES["agg_seasonality_strength"](spark, sf).collect()[0]
    assert r.ss_within == 0.0 and r.seasonality_strength == 1.0


def test_time_to_convert_reference(spark, tmp_path):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "view"),
        (1, base + dt.timedelta(seconds=90), 1, "purchase"),
        (2, base, 2, "purchase"),  # purchase BEFORE any view
        (3, base + dt.timedelta(seconds=5), 2, "view"),
        (4, base, 3, "view"),  # never purchases
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    got = QUERIES["evt_time_to_convert"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert got[0].user_id == 1 and got[0].latency_s == 90


# ----------------------------------------------- plan-shape pins


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_paragraph_dedup_single_scan(spark):
    # the r9c restructure: winner-by-window keeps ONE corpus scan
    # (the groupBy+semi-join form re-chunked the documents 3x)
    plan = _plan(QUERIES["pipe_paragraph_dedup"](spark, SF))
    assert plan.count("FileScan") == 1, plan
    assert "CartesianProduct" not in plan


def test_new_entries_no_cartesian(spark):
    for name in [
        "win_ewma", "win_bollinger", "win_rsi", "agg_cusum_changepoint",
        "agg_winsorized_mean", "agg_seasonality_strength",
        "diag_t_closeness", "diag_dp_sensitivity", "evt_markov_stationary",
        "evt_time_to_convert", "pipe_temperature_mix",
        "pipe_kfold_stratified", "dedup_token_sort", "text_readability",
        "sim_range_search",
    ]:
        plan = _plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name


def test_winsorized_cuts_are_broadcast(spark):
    plan = _plan(QUERIES["agg_winsorized_mean"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


# --------------------- wave 6: seasonal outliers / hard negatives


def test_seasonal_outlier_exact_boundary(spark, tmp_path):
    # one 100.0 spike among 19 zeros in a single hour slot: the spike
    # sits ~4.4 sigma out; the cleared-form integer rule must flag
    # exactly the same set the python reference computes
    vals = [0.0] * 19 + [100.0]   # all same hour (minutes apart)
    sf = _write_events(tmp_path, vals)
    rows = QUERIES["evt_seasonal_outliers"](spark, str(tmp_path)).collect()
    cents = [0] * 19 + [10000]
    n, s2, q = len(cents), sum(cents), sum(c * c for c in cents)
    expect = {
        i for i, c in enumerate(cents)
        if (c * n - s2) ** 2 > 9 * (n * q - s2 * s2)
    }
    assert {r.event_id for r in rows} == expect
    assert expect  # the 100s are > 3 sigma here


def test_modality_coverage_full_on_testdata(spark):
    r = QUERIES["diag_modality_coverage"](spark, SF).collect()[0]
    assert r.matched <= min(r.n_docs, r.n_embeddings)
    assert r.docs_without_embedding == r.n_docs - r.matched
    assert r.coverage == r.matched / r.n_docs


def test_hard_negatives_are_cross_label(spark):
    from wsprnet_scraper_spark.sources import load

    rows = QUERIES["sim_hard_negatives"](spark, SF).collect()
    assert rows
    emb = {
        r["vec_id"]: r["label"]
        for r in load(spark, SF, "embeddings").select("vec_id", "label").collect()
    }
    for r in rows:
        assert emb[r.vec_id] != emb[r.neg_id]
        assert r.rn <= 2


def test_url_canonical_collides_modulo_classes(spark):
    rows = QUERIES["dedup_url_canonical"](spark, SF).collect()
    by_curl = {}
    for r in rows:
        by_curl.setdefault(r.curl, []).append(r)
    for curl, grp in by_curl.items():
        assert "utm" not in curl and "ref=" not in curl and "?" not in curl
        keeps = [r for r in grp if r.keep]
        assert len(keeps) == 1
        assert keeps[0].doc_id == min(r.doc_id for r in grp)


def test_span_corruption_reference(spark, tmp_path):
    import hashlib

    toks = [f"w{i}" for i in range(50)]
    sf = _write_docs(tmp_path, [" ".join(toks)])
    r = QUERIES["pipe_span_corruption"](spark, sf).collect()[0]
    off = int(hashlib.md5(b"0").hexdigest()[0], 16) % 18
    inp, tgt, masked = [], [], 0
    for p, x in enumerate(toks):
        if p >= off and (p - off) % 20 < 3:
            masked += 1
            j = (p - off) // 20
            if (p - off) % 20 == 0:
                inp.append(f"<x_{j}>")
                tgt.append(f"<x_{j}> {x}")
            else:
                tgt.append(x)
        else:
            inp.append(x)
    assert r.n_tokens == 50 and r.n_masked == masked
    assert r.input_text == " ".join(inp)
    assert r.target_text == " ".join(tgt)
    # round-trip: every non-sentinel token appears exactly once
    # across input+target
    joined = (r.input_text + " " + r.target_text).split()
    assert sorted(t for t in joined if not t.startswith("<x_")) == sorted(toks)


# --------------------------------- final hardening properties


@settings(max_examples=5, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=70),
    doc_id=st.integers(min_value=0, max_value=10**9),
)
def test_span_corruption_roundtrip_property(spark, tmp_path_factory, n, doc_id):
    import hashlib

    toks = [f"t{i}" for i in range(n)]
    tmp = tmp_path_factory.mktemp(f"spanprop_{doc_id}_{n}")
    tbl = pa.table(
        {
            "doc_id": pa.array([doc_id], pa.int64()),
            "text": pa.array([" ".join(toks) if toks else "x"]),
            "lang": pa.array(["en"]),
            "source": pa.array(["s0"]),
            "n_chars": pa.array([1], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp / "documents.parquet"))
    r = QUERIES["pipe_span_corruption"](spark, str(tmp)).collect()[0]
    # every non-sentinel token survives exactly once across the pair
    body = [t for t in (r.input_text + " " + r.target_text).split()
            if t and not t.startswith("<x_")]
    expect = toks if toks else ["x"]
    assert sorted(body) == sorted(expect)
    off = int(hashlib.md5(str(doc_id).encode()).hexdigest()[0], 16) % 18
    n_eff = len(expect)
    ref_masked = sum(
        1 for p in range(n_eff) if p >= off and (p - off) % 20 < 3
    )
    assert r.n_masked == ref_masked


@settings(max_examples=5, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=-500, max_value=500), min_size=1, max_size=60
    )
)
def test_winsorized_mean_matches_python_reference(
    spark, tmp_path_factory, vals
):
    tmp = tmp_path_factory.mktemp("winsor")
    sf = _write_events(tmp, [v / 10 for v in vals])
    r = QUERIES["agg_winsorized_mean"](spark, sf).collect()[0]
    cents = sorted(math.floor(v / 10 * 100) for v in vals)
    n = len(cents)
    # rank-defined cuts: smallest value with 20*cum >= n (p05) /
    # 20*cum >= 19n (p95), over the ordered distinct values
    cum, lo, hi = 0, None, None
    from collections import Counter

    for v, c in sorted(Counter(cents).items()):
        cum += c
        if lo is None and 20 * cum >= n:
            lo = v
        if hi is None and 20 * cum >= 19 * n:
            hi = v
    clamped = [min(max(c, lo), hi) for c in cents]
    assert (r.lo_cut, r.hi_cut, r.n) == (lo, hi, n)
    assert r.winsorized_mean == sum(clamped) / n


def test_t_closeness_single_band_is_null(spark, tmp_path):
    # every acctbal in one band -> k = 1 -> t undefined -> NULL in
    # BOTH engines (the nullif guard; Spark x/0 is NULL, DuckDB inf)
    tbl = pa.table(
        {
            "c_custkey": pa.array([1, 2, 3], pa.int64()),
            "c_name": pa.array(["a", "b", "c"]),
            "c_nationkey": pa.array([0, 0, 0], pa.int32()),
            "c_acctbal": pa.array([100.0, 200.0, 300.0], pa.float64()),
            "c_mktsegment": pa.array(["A", "A", "B"]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "customer.parquet"))
    rows = QUERIES["diag_t_closeness"](spark, str(tmp_path)).collect()
    assert rows and all(r.t_closeness is None for r in rows)
    assert all(r.emd_scaled == 0 for r in rows)


def test_stream_cusum_invariant_to_batch_cuts(spark, tmp_path, monkeypatch):
    from wsprnet_scraper_spark.plans import analytics

    values = [10.0 if i % 10 else float(10 + i) for i in range(60)]
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    _write_events(a, values)
    _write_events(b, values)
    got2 = sorted(
        (r.event_id, r.t_idx, r.g)
        for r in QUERIES["strm_changepoint_monitor"](spark, str(a)).collect()
    )
    monkeypatch.setattr(analytics, "_STRM_FILES", 3)
    got3 = sorted(
        (r.event_id, r.t_idx, r.g)
        for r in QUERIES["strm_changepoint_monitor"](spark, str(b)).collect()
    )
    assert got2 == got3 and got2
