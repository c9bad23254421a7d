"""Standing-state store (r10 verdict tasks #1 and #6).

The store is a CACHE, never a semantic change: everything here pins
that a store-served run is bit-identical to the in-run recompute —
the property that lets the gate stay exact while the probe/bench
amortize the standing-corpus build the way a production deployment
does.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from wsprnet_scraper_spark.operators import dedup, similarity, stores


# the documents-keyed stores and the graph edge relations
_TABLE_SETS = (("documents",), ("orders", "lineitem"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_store_builds_once_and_roundtrips(spark, tmp_path, monkeypatch):
    monkeypatch.setenv(stores.ENV_VAR, str(tmp_path / "store"))
    for tables in _TABLE_SETS:
        stores.clear_store_cache()
        calls = []

        def build():
            calls.append(1)
            return spark.range(5).select(
                F.col("id").alias("k"), (F.col("id") * 7).alias("v")
            )

        kind = "t_round_" + "_".join(tables)
        a = stores.materialized(spark, SF_SMOKE, kind, build, tables)
        b = stores.materialized(spark, SF_SMOKE, kind, build, tables)
        assert len(calls) == 1 and b is a  # in-app handle reuse
        # a FRESH handle (new session state simulated by the strongest
        # clear, which deletes only scratch-tier files) must serve from
        # the standing parquet, not rebuild — the cross-session
        # amortization the env var buys
        stores.clear_store_cache(drop_files=True)
        c = stores.materialized(spark, SF_SMOKE, kind, build, tables)
        assert len(calls) == 1
        assert _rows(c) == _rows(a)
    stores.clear_store_cache()


def test_scratch_tier_builds_per_process_and_cleans_up(
    spark, monkeypatch
):
    monkeypatch.delenv(stores.ENV_VAR, raising=False)
    for tables in _TABLE_SETS:
        stores.clear_store_cache()
        calls = []

        def build():
            calls.append(1)
            return spark.range(3).select(F.col("id").alias("k"))

        kind = "t_scratch_" + "_".join(tables)
        a = stores.materialized(spark, SF_SMOKE, kind, build, tables)
        assert _rows(a) == [(0,), (1,), (2,)]
        stores.materialized(spark, SF_SMOKE, kind, build, tables)
        assert len(calls) == 1
        app = spark.sparkContext.applicationId
        (_df, path, persistent) = stores._STORE_CACHE[app][
            (kind, SF_SMOKE.rstrip("/"))
        ]
        assert not persistent and os.path.isdir(path)
        # r12 (VERDICT r11 task #5): a maintenance pass drops only the
        # handles — the standing scratch parquet survives, and the
        # next access re-opens it instead of re-paying the build
        stores.clear_store_cache()
        assert os.path.isdir(path)
        b = stores.materialized(spark, SF_SMOKE, kind, build, tables)
        assert len(calls) == 1  # re-pay is a parquet open, not a rebuild
        assert _rows(b) == _rows(a)
        # explicit disk reclamation still available
        stores.clear_store_cache(drop_files=True)
        assert not os.path.isdir(path)


def test_fingerprint_keys_out_rewritten_corpus(tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    for tables in _TABLE_SETS:
        corpus = tmp_path / "_".join(tables)
        corpus.mkdir()
        for t in tables:
            pq.write_table(
                pa.table({"id": [1, 2]}), str(corpus / f"{t}.parquet")
            )
        fp1 = stores.corpus_fingerprint(str(corpus), tables)
        # path-salted: the same files under another dir key apart
        twin = tmp_path / ("twin_" + corpus.name)
        shutil.copytree(corpus, twin)
        assert stores.corpus_fingerprint(str(twin), tables) != fp1
        # a content rewrite of any named table at the same path
        os.utime(corpus / f"{tables[0]}.parquet", ns=(1, 1))
        assert stores.corpus_fingerprint(str(corpus), tables) != fp1


def test_minhash_incremental_store_parity(spark, monkeypatch):
    # The judged entry's contract: standing_store is a cache — the
    # store-routed run must be bit-identical to the in-run recompute.
    monkeypatch.delenv(stores.ENV_VAR, raising=False)
    stores.clear_store_cache()
    d = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
    )
    pred = lambda c: c % 10 == 0  # noqa: E731
    plain = dedup.minhash_cluster_incremental(d, pred, "doc_id", "text", n=3)
    routed = dedup.minhash_cluster_incremental(
        d, pred, "doc_id", "text", n=3,
        standing_store=lambda sub, build: stores.materialized(
            spark, SF_SMOKE, f"t_mhparity_{sub}", build
        ),
    )
    assert _rows(routed) == _rows(plain)
    stores.clear_store_cache()


def test_codebook_store_serves_fresh_session(spark, tmp_path, monkeypatch):
    # train -> persist -> drop the in-memory tier (a fresh session's
    # state) -> the trainer must serve the SAME codebooks from the
    # standing parquet without retraining (verified structurally: the
    # store dirs exist and a poisoned trainer is never reached).
    monkeypatch.setenv(stores.ENV_VAR, str(tmp_path / "store"))
    stores.clear_store_cache()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    ckey = f"{SF_SMOKE}:t_cbk"
    coarse1, fine1 = similarity.train_twolevel_df(
        emb, k_coarse=2, k_fine=2, iters=1, cache_key=ckey
    )
    c1, f1 = _rows(coarse1), _rows(fine1)
    spath = similarity._codebook_store_path(
        ckey, ("twolevel_df", 2, 2, 1, 4)
    )
    assert os.path.isfile(os.path.join(spath, "coarse", "_SUCCESS"))
    similarity.clear_codebooks()
    # poison the underlying trainer: a store hit must not retrain
    monkeypatch.setattr(
        similarity, "train_kmeans_df",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("retrained")),
    )
    coarse2, fine2 = similarity.train_twolevel_df(
        emb, k_coarse=2, k_fine=2, iters=1, cache_key=ckey
    )
    assert _rows(coarse2) == c1 and _rows(fine2) == f1
    stores.clear_store_cache()


def test_fingerprint_raises_on_missing_table(tmp_path):
    # r11 review finding: a missing source table must FAIL, not
    # fingerprint to a constant that would serve stale standing
    # state forever.
    import pytest

    with pytest.raises(FileNotFoundError):
        stores.corpus_fingerprint(str(tmp_path), tables=("nope",))
