"""Standing-state store (r10 verdict tasks #1 and #6).

The store is a CACHE, never a semantic change: everything here pins
that a store-served run is bit-identical to the in-run recompute —
the property that lets the gate stay exact while the probe/bench
amortize the standing-corpus build the way a production deployment
does.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest
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


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_scratch_tier_builds_per_process_and_cleans_up(
    spark, monkeypatch
):
    import wsprnet_scraper_spark.sources.tables as tables_mod

    monkeypatch.delenv(stores.ENV_VAR, raising=False)
    real_bytes = tables_mod._dataset_bytes
    # the handle rule on both sides of one partition (8 MiB): the
    # landed 3-row relation as it is, and as if it were 8 MiB + 1
    for tables, extra in [(t, x) for t in _TABLE_SETS for x in (0, 8 << 20)]:
        monkeypatch.setattr(
            tables_mod, "_dataset_bytes", lambda p: real_bytes(p) + extra
        )
        stores.clear_store_cache()
        calls = []

        def build():
            calls.append(1)
            return spark.range(3).select(F.col("id").alias("k"))

        kind = f"t_scratch_{extra}_" + "_".join(tables)
        a = stores.materialized(spark, SF_SMOKE, kind, build, tables)
        assert _rows(a) == [(0,), (1,), (2,)]
        if extra:
            # over one partition: a parquet scan, never an in-heap pin
            assert "FileScan parquet" in _plan(a), _plan(a)
            assert "ExistingRDD" not in _plan(a)
        else:
            # one partition: pinned by a checkpoint, which is not a
            # CacheManager entry, so clearCache does not drop it
            assert "ExistingRDD" in _plan(a), _plan(a)
            spark.catalog.clearCache()
            assert "ExistingRDD" in _plan(a) and _rows(a) == [(0,), (1,), (2,)]
        assert stores.materialized(spark, SF_SMOKE, kind, build, tables) is a
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
    # train -> persist -> drop the in-memory handles (a fresh session's
    # state) -> the trainers must serve the SAME codebooks from the
    # standing parquet without retraining (verified structurally: the
    # store dirs exist and a poisoned training step is never reached).
    store = tmp_path / "store"
    monkeypatch.setenv(stores.ENV_VAR, str(store))
    stores.clear_store_cache()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    ckey = f"{SF_SMOKE}:t_cbk"

    def train():
        coarse, fine = similarity.train_twolevel_df(
            emb, k_coarse=2, k_fine=2, iters=1, cache_key=ckey
        )
        book = similarity.train_kmeans_codebook(emb, 2, 1, ckey)
        return _rows(coarse), _rows(fine), book

    first = train()
    assert len([p for p in os.listdir(store) if p.startswith("cbk_")]) == 3
    stores.clear_store_cache()
    # poison both trainers' assignment steps: a store hit must not
    # retrain
    def poisoned(*a, **k):
        raise AssertionError("retrained")

    monkeypatch.setattr(similarity, "assign_cells_df", poisoned)
    monkeypatch.setattr(similarity, "_argmax_cell", poisoned)
    assert train() == first
    stores.clear_store_cache()


def test_codebook_rebuilt_when_corpus_rewritten_under_suffixed_key(
    spark, tmp_path, monkeypatch
):
    # A `:variant` suffix on the cache key must not hide the corpus
    # from the fingerprint: rewriting the embeddings parquet within
    # the same application rebuilds both trainers' codebooks.
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.delenv(stores.ENV_VAR, raising=False)
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    path = corpus / "embeddings.parquet"
    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    pq.write_table(t, str(path))
    ckey = f"{corpus}:x"

    def train():
        emb = spark.read.parquet(str(path))
        return (
            _rows(similarity.train_kmeans_df(emb, 4, 1, ckey)),
            similarity.train_kmeans_codebook(emb, 4, 1, ckey),
            _rows(similarity.train_kmeans_df(emb, 4, 1)),
            similarity.train_kmeans_codebook(emb, 4, 1),
        )

    df1, list1, df1_fresh, list1_fresh = train()
    assert (df1, list1) == (df1_fresh, list1_fresh)
    # same rows, embeddings reversed across vec_ids: new init vectors
    field = t.schema.field("embedding")
    rev = pa.array(t.column("embedding").to_pylist()[::-1], field.type)
    pq.write_table(t.set_column(1, field.name, rev), str(path))
    df2, list2, df2_fresh, list2_fresh = train()
    assert (df2, list2) == (df2_fresh, list2_fresh)
    assert df2 != df1 and list2 != list1
    stores.clear_store_cache()


def test_frame_relation_rebuilt_when_events_rewritten(spark, tmp_path):
    # The win_* frame relation is a store relation keyed on the events
    # table: rewriting events.parquet within the same application must
    # serve the rewritten corpus's frames, not the first build's.
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from wsprnet_scraper_spark.plans.analytics import _frame_relation

    sf, fresh = tmp_path / "sf", tmp_path / "fresh"
    shutil.copytree(SF_SMOKE, sf)
    before = _rows(_frame_relation(spark, str(sf)))
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = t.schema.get_field_index("value")
    t = t.set_column(i, "value", pc.multiply(t.column("value"), 3.0))
    fresh.mkdir()
    pq.write_table(t, str(fresh / "events.parquet"))
    pq.write_table(t, str(sf / "events.parquet"))
    after = _rows(_frame_relation(spark, str(sf)))
    assert after != before
    assert after == _rows(_frame_relation(spark, str(fresh)))
    stores.clear_store_cache()


def test_fingerprint_raises_on_missing_table(tmp_path):
    # r11 review finding: a missing source table must FAIL, not
    # fingerprint to a constant that would serve stale standing
    # state forever.
    with pytest.raises(FileNotFoundError):
        stores.corpus_fingerprint(str(tmp_path), tables=("nope",))


def test_materialized_scratch_falls_back_without_table(
    spark, tmp_path, monkeypatch
):
    # a corpus dir without the named table falls back to an unkeyed
    # one-shot scratch build instead of propagating
    # corpus_fingerprint's FileNotFoundError
    monkeypatch.delenv(stores.ENV_VAR, raising=False)
    sf = tmp_path / "no_table_corpus"
    sf.mkdir()
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).toDF("v")

    df = stores.materialized(spark, str(sf), "k_a1", build)
    assert df.count() == 5
    # the handle is cached: a second serve must not rebuild
    df2 = stores.materialized(spark, str(sf), "k_a1", build)
    assert df2.count() == 5
    assert len(calls) == 1


def test_materialized_persistent_still_fails_without_table(
    spark, tmp_path, monkeypatch
):
    # a constant key would serve stale state across corpus rewrites
    monkeypatch.setenv(stores.ENV_VAR, str(tmp_path / "store"))
    sf = tmp_path / "no_table_corpus_p"
    sf.mkdir()
    with pytest.raises(FileNotFoundError):
        stores.materialized(
            spark, str(sf), "k_a1p", lambda: spark.range(1).toDF("v")
        )


def test_failed_build_leaves_no_wip_debris(spark, tmp_path, monkeypatch):
    store = tmp_path / "store"
    monkeypatch.setenv(stores.ENV_VAR, str(store))
    sf = tmp_path / "corpus"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"\x00" * 16)

    def bad_build():
        raise RuntimeError("synthetic build failure")

    with pytest.raises(RuntimeError):
        stores.materialized(spark, str(sf), "k_a2", bad_build)
    debris = [p for p in os.listdir(store) if "wip" in p]
    assert debris == [], debris
    # the store still works after the failure
    ok = stores.materialized(
        spark, str(sf), "k_a2", lambda: spark.range(3).toDF("v")
    )
    assert ok.count() == 3


def _live_workdir(spark, name, sf_dir):
    key = (spark._jsparkSession.sessionUUID(), name, sf_dir)
    return stores._WORKDIRS.get(key)


@pytest.mark.parametrize("case", ["raise", "sf_dirs", "new_session", "drop_files"])
def test_workdir_generations(spark, case):
    # one live generation per (session, builder name, sf_dir): a run
    # reclaims only its own key's previous generation, and only once
    # it has finished
    name = f"t_workdir_{case}"
    made = []

    def run(session, sf_dir, fail=False):
        with stores.workdir(session, name, sf_dir) as work:
            made.append(work)
            (Path(work) / "out").write_text(sf_dir)
            if fail:
                raise RuntimeError("synthetic build failure")
        return work

    a = run(spark, "sf_a")
    root = stores._scratch_root(spark.sparkContext.applicationId)
    assert os.path.dirname(a) == root
    assert _live_workdir(spark, name, "sf_a") == a
    if case == "raise":
        with pytest.raises(RuntimeError):
            run(spark, "sf_a", fail=True)
        assert not os.path.exists(made[-1])
        assert os.path.isfile(f"{a}/out")
        assert _live_workdir(spark, name, "sf_a") == a
    elif case == "sf_dirs":
        b = run(spark, "sf_b")
        a2 = run(spark, "sf_a")
        b2 = run(spark, "sf_b")
        assert not os.path.exists(a) and not os.path.exists(b)
        assert os.path.isfile(f"{a2}/out") and os.path.isfile(f"{b2}/out")
    elif case == "new_session":
        child = spark.newSession()
        c = run(child, "sf_a")
        c2 = run(child, "sf_a")
        assert not os.path.exists(c) and os.path.isfile(f"{c2}/out")
        assert os.path.isfile(f"{a}/out")
        assert _live_workdir(spark, name, "sf_a") == a
    else:
        b = run(spark, "sf_b")
        stores.clear_store_cache(drop_files=True)
        assert not os.path.exists(a) and not os.path.exists(b)
        assert not os.path.exists(root)
        assert _live_workdir(spark, name, "sf_a") is None


def test_dedup_watermark_reclaims_only_after_success(spark):
    from __spark_entry__ import queries

    run = queries()["strm_dedup_watermark"]
    sf = SF_SMOKE
    n1 = run(spark, sf).count()
    gen1 = _live_workdir(spark, "strm_dedup_watermark", sf)
    assert gen1 is not None and os.path.isdir(gen1)
    n2 = run(spark, sf).count()
    gen2 = _live_workdir(spark, "strm_dedup_watermark", sf)
    assert n1 == n2
    # generation 1 reclaimed exactly once generation 2 succeeded
    assert gen2 != gen1
    assert not os.path.exists(gen1)
    assert os.path.isdir(gen2)
