"""Regression tests for the r11 ADVICE findings closed in r12.

A1 codebook store: a cache key naming a resolvable corpus dir
   WITHOUT an embeddings table must train in-run with no store (the
   fallback), not propagate corpus_fingerprint's FileNotFoundError —
   with SPARK_GRAFT_SIG_STORE set, a training call that worked
   without the env var crashed with it.
A4 stores.materialized persistent tier: check-then-write was a
   TOCTOU; now builds land in a temp subdir and atomically rename
   into the fingerprinted path. A stale partial write (no _SUCCESS)
   occupying the path must be replaced, a complete one must win over
   a concurrent build, and no `.{kind}_wip_` debris may survive.
A3/A5 are structural (shared k/iters variables feeding the stream
   seed kind; single-task-prefix assert in land_ordered_ndjson) —
   A5's legit multi-part path stays covered by
   test_advice_r11.py's maxRecordsPerFile test.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from wsprnet_scraper_spark.operators import stores


def test_codebook_missing_embeddings_trains_without_store(
    spark, tmp_path, monkeypatch
):
    from tests.conftest import SF_SMOKE
    from wsprnet_scraper_spark.operators import similarity

    store = tmp_path / "store"
    monkeypatch.setenv("SPARK_GRAFT_SIG_STORE", str(store))
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    want = similarity.train_kmeans_codebook(emb, 2, 1)
    corpus = tmp_path / "corpus"  # resolvable dir, no embeddings table
    corpus.mkdir()
    # and a non-existent dir (pre-existing contract)
    for key in (str(corpus), f"{corpus}:x", str(tmp_path / "nope")):
        assert similarity.train_kmeans_codebook(emb, 2, 1, key) == want
        df = similarity.train_kmeans_df(emb, 2, 1, key)
        assert df.count() == 2
    assert not store.exists()  # no store at all


def _mk_corpus(tmp_path, name="c"):
    d = tmp_path / name
    d.mkdir()
    (d / "documents.parquet").write_bytes(b"\x00" * 16)
    return str(d)


def test_materialized_replaces_stale_partial_write(
    spark, tmp_path, monkeypatch
):
    store = tmp_path / "store"
    monkeypatch.setenv(stores.ENV_VAR, str(store))
    sf = _mk_corpus(tmp_path)
    fp = stores.corpus_fingerprint(sf, ("documents",))
    # a crashed session left a partial write (no _SUCCESS) at the path
    stale = store / f"k1_{fp}"
    stale.mkdir(parents=True)
    (stale / "junk").write_text("partial")

    def build():
        return spark.range(3).select(F.col("id").alias("v"))

    stores.clear_store_cache()
    try:
        got = stores.materialized(spark, sf, "k1", build)
        assert sorted(r["v"] for r in got.collect()) == [0, 1, 2]
        assert (stale / "_SUCCESS").is_file()
        assert not (stale / "junk").exists()
        # no temp build debris left under the store
        assert [p for p in os.listdir(store) if p.startswith(".k1_wip_")] == []
    finally:
        stores.clear_store_cache()


def test_materialized_complete_write_not_rebuilt(
    spark, tmp_path, monkeypatch
):
    store = tmp_path / "store"
    monkeypatch.setenv(stores.ENV_VAR, str(store))
    sf = _mk_corpus(tmp_path)
    calls = []

    def build():
        calls.append(1)
        return spark.range(2).select(F.col("id").alias("v"))

    stores.clear_store_cache()
    try:
        stores.materialized(spark, sf, "k2", build)
        assert calls == [1]
        # a second session (handles dropped, files intact) must serve
        # the standing parquet without rebuilding
        stores._STORE_CACHE.clear()
        got = stores.materialized(spark, sf, "k2", build)
        assert calls == [1]
        assert sorted(r["v"] for r in got.collect()) == [0, 1]
    finally:
        stores.clear_store_cache()


def test_materialized_fallback_race_converges(spark, tmp_path, monkeypatch):
    # r12 review finding: the stale-partial fallback's own rename can
    # ALSO collide (another session completes between our rmtree and
    # rename) — the loser must serve the winner's relation instead of
    # crashing with OSError.
    store = tmp_path / "store"
    monkeypatch.setenv(stores.ENV_VAR, str(store))
    sf = _mk_corpus(tmp_path)
    fp = stores.corpus_fingerprint(sf, ("documents",))
    path = store / f"k4_{fp}"
    path.mkdir(parents=True)
    (path / "junk").write_text("partial")  # stale write, no _SUCCESS

    def winner():
        return spark.range(7).select(F.col("id").alias("v"))

    real_rename = os.rename
    state = {"n": 0}

    def racing_rename(src, dst):
        if str(dst) == str(path):
            state["n"] += 1
            if state["n"] == 2 and not path.exists():
                # winner lands between the loser's rmtree and rename
                winner().write.mode("overwrite").parquet(str(path))
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racing_rename)
    stores.clear_store_cache()
    try:
        got = stores.materialized(
            spark, sf, "k4",
            lambda: spark.range(99).select(F.col("id").alias("v")),
        )
        assert got.count() == 7  # the winner's relation
        assert [p for p in os.listdir(store) if p.startswith(".k4_wip_")] == []
    finally:
        monkeypatch.setattr(os, "rename", real_rename)
        stores.clear_store_cache()


def test_exact_median_by_key_ignores_nulls_like_percentile(spark):
    # r12 review finding: NULL values must be excluded exactly as
    # percentile() excludes them.
    from wsprnet_scraper_spark.plans.analytics import _exact_median_by_key

    rows = [("a", 1.0), ("a", None), ("a", 3.0), ("a", None), ("a", 10.0),
            ("b", None), ("b", None)]
    df = spark.createDataFrame(rows, "k string, val double")
    got = {
        r["flag"]: r["exact_med"]
        for r in _exact_median_by_key(
            df, F.col("k").alias("flag"), F.col("val").alias("price")
        ).collect()
    }
    assert got == {"a": 3.0}  # nulls ignored; all-null key absent


def test_bpe_encode_joined_null_text_row_survives(spark, tmp_path):
    # r12 review finding: a NULL text must keep its row with NULL
    # outputs, exactly like the chain form.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wsprnet_scraper_spark.plans import QUERIES

    texts = ["low lower low", None, "new newer new"]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["web"] * len(texts)),
            "n_chars": pa.array(
                [len(t) if t else 0 for t in texts], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    chain = {
        r["doc_id"]: (r["n_symbols"], r["encoded_md5"])
        for r in QUERIES["pipe_bpe_encode"](spark, str(tmp_path)).collect()
    }
    joined = {
        r["doc_id"]: (r["n_symbols"], r["encoded_md5"])
        for r in QUERIES["pipe_bpe_encode_joined"](
            spark, str(tmp_path)
        ).collect()
    }
    assert joined == chain and len(chain) == 3
    # the contract is joined == chain on the NULL row, whatever the
    # session's size(NULL) convention is (-1 under legacy sizeOfNull)
    assert chain[1][1] is None and chain[1][0] in (None, -1)


def test_materialized_rename_collision_keeps_winner(
    spark, tmp_path, monkeypatch
):
    # Simulate losing the race: os.rename fails once while a complete
    # relation (with _SUCCESS) already occupies the path — the loser
    # must serve the winner's relation and clean up its temp dir.
    store = tmp_path / "store"
    monkeypatch.setenv(stores.ENV_VAR, str(store))
    sf = _mk_corpus(tmp_path)
    fp = stores.corpus_fingerprint(sf, ("documents",))
    path = store / f"k3_{fp}"

    def winner():
        return spark.range(5).select(F.col("id").alias("v"))

    def loser():
        return spark.range(99).select(F.col("id").alias("v"))

    real_rename = os.rename

    def racing_rename(src, dst):
        if str(dst) == str(path) and not path.exists():
            # the other session lands its build between our check and
            # our rename
            winner().write.mode("overwrite").parquet(str(path))
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racing_rename)
    stores.clear_store_cache()
    try:
        got = stores.materialized(spark, sf, "k3", loser)
        assert got.count() == 5  # the winner's relation, not ours
        assert [p for p in os.listdir(store) if p.startswith(".k3_wip_")] == []
    finally:
        monkeypatch.setattr(os, "rename", real_rename)
        stores.clear_store_cache()


# Codebooks land through the same stores._land as every standing
# relation: a stale partial directory (no _SUCCESS) is replaced, and
# a failing write leaves no wip directory behind.


def _codebook_inputs(spark, tmp_path, monkeypatch, name):
    from tests.conftest import SF_SMOKE
    from wsprnet_scraper_spark.operators import similarity

    store = tmp_path / "store"
    monkeypatch.setenv(stores.ENV_VAR, str(store))
    stores.clear_store_cache()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    return similarity, store, emb, f"{SF_SMOKE}:{name}"


def test_codebook_store_replaces_stale_partial_writes(
    spark, tmp_path, monkeypatch
):
    similarity, store, emb, ckey = _codebook_inputs(
        spark, tmp_path, monkeypatch, "t_cbk_stale"
    )
    trainers = [
        lambda: similarity.train_kmeans_df(emb, 2, 1, ckey),
        lambda: similarity.train_twolevel_df(
            emb, k_coarse=2, k_fine=2, iters=1, cache_key=ckey
        ),
        lambda: similarity.train_kmeans_codebook(emb, 2, 1, ckey),
    ]
    try:
        for train in trainers:
            before = set(os.listdir(store)) if store.exists() else set()
            train()
            landed = sorted(set(os.listdir(store)) - before)
            assert landed and all(p.startswith("cbk_") for p in landed)
            # a crashed session's partial write holds every path
            for p in landed:
                shutil.rmtree(store / p)
                (store / p).mkdir()
                (store / p / "junk").write_text("partial")
            stores.clear_store_cache()
            train()
            for p in landed:
                assert (store / p / "_SUCCESS").is_file()
                assert not (store / p / "junk").exists()
            assert [p for p in os.listdir(store) if "wip" in p] == []
    finally:
        stores.clear_store_cache()


def test_codebook_failed_write_leaves_no_wip_debris(
    spark, tmp_path, monkeypatch
):
    from pyspark.sql import DataFrameWriter

    similarity, store, emb, ckey = _codebook_inputs(
        spark, tmp_path, monkeypatch, "t_cbk_fail"
    )

    def failing_parquet(self, path, *a, **k):
        # fail part-way: some output already exists where it was aimed
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-00000"), "w") as f:
            f.write("partial")
        raise RuntimeError("synthetic write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    try:
        with pytest.raises(RuntimeError, match="synthetic write failure"):
            similarity.train_kmeans_df(emb, 2, 1, ckey)
        assert os.listdir(store) == []  # no wip dir, no codebook path
    finally:
        stores.clear_store_cache()
