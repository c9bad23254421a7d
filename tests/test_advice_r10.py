"""Regression tests for the ADVICE r9 findings (fixed r10) plus the
r9 verdict's task #2 (distributed landing files).

A1 Whitespace tokenization parity: Java's split drops trailing empty
   strings, DuckDB's regexp_split_to_array keeps them — engine and
   oracle now BOTH trim before whitespace-splitting, so the four
   named entries gate exact on trailing-/leading-whitespace corpora.
A2 strm_changepoint_monitor ref_q on negative sums: checked the
   advice's premise — DuckDB 1.x integer `//` TRUNCATES toward zero
   exactly like Spark's `div` (the floor behavior exists only for
   float operands), so the engines agree; the end-to-end test proves
   it on an all-negative series and the docstring records the
   semantics.
A3 foreachBatch is at-least-once: the three stream fixtures now
   OVERWRITE per-batch-id sink directories and journal driver-held
   state via snapshot_or_restore, so a re-delivered micro-batch
   reproduces its first attempt instead of double-appending rows /
   double-applying state deltas.
A4 pipe_paragraph_dedup first-occurrence winner: struct (doc_id,
   idx) lexicographic MIN in both engines — the doc_id*2^20+idx
   packing (mis-ordered past 2^20 chunks/doc) is gone.
A5 pipe_span_corruption offset: one md5 nibble, range 0..15; the
   docstring no longer claims 0..17 and the dead `% 18` is dropped.
"""

from __future__ import annotations

import hashlib
import json

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.test_queries_oracle import _norm, _values_equal
from wsprnet_scraper_spark.streaming.landing import (
    land_ordered_ndjson,
    snapshot_or_restore,
)

QUERIES = entrymod.queries()
ORACLE = entrymod.oracle_sql()


def _assert_matches_oracle(spark, name, sf_dir, tables=("documents",)):
    sdf = QUERIES[name](spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = sorted(
        tuple(_norm(row[c]) for c in spark_cols) for row in sdf.collect()
    )
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    res = con.execute(ORACLE[name])
    cols_raw = [d[0] for d in res.description]
    order = sorted(range(len(cols_raw)), key=lambda i: cols_raw[i])
    ddb_cols = [cols_raw[i] for i in order]
    ddb_rows = sorted(
        tuple(_norm(r[i]) for i in order) for r in res.fetchall()
    )
    con.close()
    assert spark_cols == ddb_cols, f"{name}: {spark_cols} != {ddb_cols}"
    assert len(spark_rows) == len(ddb_rows), name
    for srow, drow in zip(spark_rows, ddb_rows):
        for c, a, b in zip(spark_cols, srow, drow):
            assert _values_equal(a, b), f"{name}.{c}: {a!r} != {b!r}"


def _write_documents(tmp_path, texts):
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["web"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


WS_TEXTS = [
    "the quick brown fox jumps over the lazy dog  ",  # trailing run
    "  leading whitespace here",
    "tabs trail\t",
    "a b",
    "b a ",  # token-sort dup of 'a b' once trimmed
    "plain text with no edges at all",
    "the quick brown fox jumps over the lazy dog",  # trim-dup of [0]
]


@pytest.mark.parametrize(
    "name",
    [
        "text_readability",
        "dedup_token_sort",
        "pipe_paragraph_dedup",
        "pipe_span_corruption",
    ],
)
def test_ws_split_parity_on_trailing_whitespace(spark, tmp_path, name):
    # ADVICE r9 A1: every doc with a trailing/leading whitespace edge
    # must produce identical counts/chunks in Spark and DuckDB.
    sf = _write_documents(tmp_path, WS_TEXTS)
    _assert_matches_oracle(spark, name, sf)


def test_token_sort_sees_trailing_space_dup(spark, tmp_path):
    # 'a b' and 'b a ' are the same bag of words once trimmed — the
    # dedup must group them (it silently could not before the trim,
    # depending on engine).
    sf = _write_documents(tmp_path, WS_TEXTS)
    rows = {
        r["doc_id"]: (r["group_sz"], r["keep"])
        for r in QUERIES["dedup_token_sort"](spark, sf).collect()
    }
    assert rows[3] == (2, True) and rows[4] == (2, False)
    assert rows[0] == (2, True) and rows[6] == (2, False)


def test_changepoint_ref_q_negative_sum_parity(spark, tmp_path):
    # ADVICE r9 A2: a series whose cents sum is NEGATIVE must still
    # gate exact — both engines truncate integer division toward
    # zero (Spark `div`; DuckDB 1.x integer `//`).
    import datetime as dt

    values = [-7.13, -3.01, -12.5, -0.01, -5.25, -9.99] * 10
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
            "event_type": pa.array(["neg"] * n),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    _assert_matches_oracle(
        spark, "strm_changepoint_monitor", str(tmp_path), tables=("events",)
    )


def test_changepoint_null_event_type_in_standing_slice(spark, tmp_path):
    # ADVICE r14: a NULL event_type in the standing corpus (event_id
    # % 10 <> 0) must not enter the per-type reference — it crashed
    # sorted(ref) next to real types — and, as in the oracle's inner
    # join on ref types, never reaches the output
    import datetime as dt

    n = 60
    base = dt.datetime(2024, 1, 1)
    types = [None if i in (3, 17, 41) else ("a", "b")[i // 10 % 2] for i in range(n)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(minutes=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array([(i * 7) % 13 - 4.5 for i in range(n)], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    rows = QUERIES["strm_changepoint_monitor"](spark, str(tmp_path)).collect()
    assert rows and {r["event_type"] for r in rows} == {"a", "b"}
    _assert_matches_oracle(
        spark, "strm_changepoint_monitor", str(tmp_path), tables=("events",)
    )


def test_duckdb_integer_div_truncates_like_spark(spark):
    # Pin the cross-engine fact A2 rests on, so a DuckDB upgrade that
    # changes `//` to floor semantics fails loudly here instead of
    # silently breaking the negative-sum contract.
    ddb = duckdb.connect().execute(
        "SELECT (-7) // 2, (1000000 * -7) // 3"
    ).fetchone()
    spk = spark.sql("SELECT (-7) div 2, (1000000 * -7) div 3").first()
    assert (int(ddb[0]), int(ddb[1])) == (spk[0], spk[1]) == (-3, -2333333)


def test_snapshot_or_restore_makes_retries_idempotent():
    # ADVICE r9 A3: the driver-held (count,sum) registers must come
    # back to their pre-batch values when foreachBatch re-delivers a
    # batch id.
    state, snaps = {"m": (3, 30)}, {}
    snapshot_or_restore(state, snaps, 0)  # first delivery of bid 0
    state["m"] = (5, 55)  # bid 0 applied its deltas
    snapshot_or_restore(state, snaps, 1)  # bid 1
    state["m"] = (9, 99)
    snapshot_or_restore(state, snaps, 1)  # bid 1 RETRY
    assert state == {"m": (5, 55)}  # pre-bid-1 state restored
    state["m"] = (9, 99)  # retry re-applies the same deltas
    snapshot_or_restore(state, snaps, 2)
    assert snaps[2] == {"m": (9, 99)}


def test_paragraph_winner_is_struct_min_not_packed(spark):
    # ADVICE r9 A4: the first-occurrence winner is min over the
    # STRUCT (doc_id, idx). The old doc_id*2^20+idx packing inverted
    # the order once idx crossed 2^20 — reproducing that inside the
    # real entry needs a 31M-token document, so this pins the exact
    # expression the entry now uses at the comparator level:
    # (1, 3_000_000) must beat (2, 0) lexicographically, while the
    # packed keys would say otherwise (1*2^20+3e6 > 2*2^20).
    df = spark.createDataFrame(
        [(1, 3_000_000, "h"), (2, 0, "h"), (7, 1, "g")],
        "doc_id bigint, idx bigint, h string",
    ).select(
        "doc_id", "idx", "h", F.struct("doc_id", "idx").alias("key")
    )
    marked = df.withColumn(
        "mk", F.min("key").over(W.partitionBy("h"))
    ).withColumn("keep", F.col("key") == F.col("mk"))
    kept = {
        (r["doc_id"], r["idx"]) for r in marked.where("keep").collect()
    }
    assert kept == {(1, 3_000_000), (7, 1)}


def test_span_offset_is_one_nibble_0_to_15():
    # ADVICE r9 A5: the per-document span phase offset is a single
    # md5 hex digit — range exactly 0..15 (the docstring's old 0..17
    # claim was unreachable; `% 18` was dead and is removed).
    offs = {
        int(hashlib.md5(str(i).encode()).hexdigest()[0], 16)
        for i in range(2000)
    }
    assert offs == set(range(16))


def test_land_ordered_ndjson_contiguous_and_complete(spark, tmp_path):
    # r9 verdict task #2: the distributed landing write must produce
    # ordered, CONTIGUOUS, complete files with increasing mtimes —
    # the properties the stream entries' batch-equivalence rests on.
    import os

    landing = str(tmp_path / "landing")
    df = spark.createDataFrame(
        [(i * 10, f"p{i}") for i in range(97)], "k bigint, payload string"
    )
    n = land_ordered_ndjson(df, "k", landing, 3)
    files = sorted(os.listdir(landing))
    assert n == len(files) == 3
    seen, prev_max, prev_mtime = [], None, None
    for fname in files:
        path = f"{landing}/{fname}"
        ks = [
            json.loads(line)["k"]
            for line in open(path)
            if line.strip()
        ]
        assert ks, "no empty landing files for a non-empty slice"
        if prev_max is not None:
            assert min(ks) > prev_max  # contiguous, ordered cuts
        prev_max = max(ks)
        mt = os.path.getmtime(path)
        if prev_mtime is not None:
            assert mt > prev_mtime  # file source drains in this order
        prev_mtime = mt
        seen.extend(ks)
    assert sorted(seen) == [i * 10 for i in range(97)]


def test_land_ordered_ndjson_empty_slice_lands_one_empty_file(
    spark, tmp_path
):
    import os

    landing = str(tmp_path / "landing")
    df = spark.createDataFrame([], "k bigint, payload string")
    n = land_ordered_ndjson(df, "k", landing, 2)
    files = sorted(os.listdir(landing))
    assert n == 1 and files == ["batch-000.json"]
    assert os.path.getsize(f"{landing}/batch-000.json") == 0


@pytest.mark.parametrize(
    "keys,n_files",
    [
        ([5, 5, 5, 7, 7, 9], 3),            # ties must stay together
        ([0, 1000000], 4),                   # sparse extremes
        ([42], 3),                           # single row
        (list(range(100, 200)) + [10**12], 2),  # clustered + outlier
        ([-50, -10, 0, 10, 50], 2),          # negative keys
    ],
)
def test_land_ordered_ndjson_edge_shapes(spark, tmp_path, keys, n_files):
    # The helper's contract under awkward key distributions: files
    # are contiguous in the order column (ties never split), every
    # row lands exactly once, mtimes strictly increase.
    import os

    landing = str(tmp_path / "landing")
    df = spark.createDataFrame([(k, "p") for k in keys], "k bigint, p string")
    n = land_ordered_ndjson(df, "k", landing, n_files)
    files = sorted(os.listdir(landing))
    assert 1 <= n == len(files) <= n_files
    seen, prev_max, prev_mtime = [], None, None
    for fname in files:
        path = f"{landing}/{fname}"
        ks = [json.loads(line)["k"] for line in open(path) if line.strip()]
        assert ks
        if prev_max is not None:
            assert min(ks) > prev_max
        prev_max = max(ks)
        mt = os.path.getmtime(path)
        if prev_mtime is not None:
            assert mt > prev_mtime
        prev_mtime = mt
        seen.extend(ks)
    assert sorted(seen) == sorted(keys)
