"""Regression tests for the r13 ADVICE findings closed in r14.

A1 stream state sizing: tested in tests/test_scan_heal.py.
A2 evt_lift_pairs: a NULL user_id contributes to the marginals but
   never to the pair relation (the oracle's self-join on user_id
   excludes NULL=NULL) — engine and oracle must agree on a corpus
   WITH NULL users. Same pattern for text_collocation_lift's doc key.
A3 connected_components (local union-find path): NULL edge ids are
   dropped (join semantics) instead of crashing the
   min-representative scan.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from tests.test_advice_r10 import _assert_matches_oracle

QUERIES = entrymod.queries()


# ------------------------------------- A2: NULL keys in pair lifts


def _write_events(tmp_path, rows):
    base = dt.datetime(2024, 1, 1)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(minutes=r[0]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))


def test_lift_pairs_null_user_excluded_from_pairs(spark, tmp_path):
    # users 1,2 each do {a,b}; a NULL user also does {a,b} — the NULL
    # user must raise df(a), df(b) but NOT n_ab (oracle join on
    # user_id excludes NULL=NULL)
    rows = [
        (0, 1, "a"), (1, 1, "b"),
        (2, 2, "a"), (3, 2, "b"),
        (4, None, "a"), (5, None, "b"),
    ]
    _write_events(tmp_path, rows)
    sdf = QUERIES["evt_lift_pairs"](spark, str(tmp_path))
    got = {(r.type_a, r.type_b): r.n_ab for r in sdf.collect()}
    assert got == {("a", "b"): 2}  # NOT 3: the NULL user pairs nothing
    _assert_matches_oracle(
        spark, "evt_lift_pairs", str(tmp_path), tables=("events",)
    )


def test_lift_pairs_null_event_type_still_in_marginals(spark, tmp_path):
    # NULL event_type keeps its marginal row (collect_set drops it;
    # the has_null fold-back restores it) and never pairs
    rows = [(0, 1, "a"), (1, 1, None), (2, 2, None)]
    _write_events(tmp_path, rows)
    _assert_matches_oracle(
        spark, "evt_lift_pairs", str(tmp_path), tables=("events",)
    )


# --------------------------------- A3: NULL edges in local union-find


def test_cc_local_union_find_drops_null_edges(spark):
    from wsprnet_scraper_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [(1, 2), (3, None), (None, None), (2, 4)],
        "id_a bigint, id_b bigint",
    )
    got = {(r.doc, r.cluster) for r in connected_components(df).collect()}
    # NULL edges carry no connectivity: only {1,2,4} are labeled
    assert got == {(1, 1), (2, 1), (4, 1)}
