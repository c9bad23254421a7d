"""Recall evidence for the trained IVF codebook (VERDICT r1 item 2).

On a corpus with real cluster structure and a poor first-N init (the
first 8 vectors sit on cluster boundaries), 2 deterministic Lloyd
iterations must recover the true centers and beat the stand-in
codebook's recall@k against brute force. Everything is deterministic:
pseudo-noise comes from md5 nibbles, not a RNG.
"""

from __future__ import annotations

import hashlib

import pytest

from wsprnet_scraper_spark.operators import similarity

DIM, PER_CLUSTER, K = 16, 25, 5


def _unit(j):
    return [1.0 if i == j else 0.0 for i in range(DIM)]


def _offset(j, m, scale=0.35):
    h = hashlib.md5(f"{j}:{m}".encode()).hexdigest()
    return [scale * ((int(h[i % 32], 16) / 7.5) - 1.0) for i in range(DIM)]


@pytest.fixture(scope="module")
def clustered(spark):
    rows = []
    # vec_id 0..7: one per cluster but heavily skewed toward the NEXT
    # cluster -> the first-N codebook quantizes along wrong boundaries
    for j in range(8):
        rows.append(
            (j, [0.6 * a + 0.55 * b for a, b in zip(_unit(j), _unit((j + 1) % 8))])
        )
    nid = 8
    for j in range(8):
        for m in range(PER_CLUSTER):
            rows.append((nid, [a + b for a, b in zip(_unit(j), _offset(j, m))]))
            nid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _recall(emb, qids, trained):
    truth: dict = {}
    for r in similarity.cosine_topk(emb, qids, k=K).collect():
        truth.setdefault(r.qid, set()).add(r.vec_id)
    got: dict = {}
    ivf = similarity.ivf_topk(
        emb, qids, k=K, num_centroids=8, nprobe=1, trained=trained
    )
    for r in ivf.collect():
        got.setdefault(r.qid, set()).add(r.vec_id)
    return sum(len(got.get(q, set()) & truth[q]) for q in qids) / (len(qids) * K)


def test_trained_codebook_beats_first_n(clustered):
    qids = [8 + PER_CLUSTER * j for j in range(8)]  # one member per cluster
    standin = _recall(clustered, qids, trained=False)
    trained = _recall(clustered, qids, trained=True)
    assert trained > standin, (trained, standin)
    assert trained >= 0.9, trained


def test_training_moves_centroids_and_keeps_ids(clustered):
    cents = similarity.train_kmeans_codebook(clustered, num_centroids=8, iters=2)
    assert [cid for cid, _, _ in cents] == list(range(8))
    # after 2 iterations each centroid must sit near its true cluster
    # axis: dominant component j (the init's skew toward j+1 is gone)
    for cid, c, n2 in cents:
        assert n2 > 0
        dominant = max(range(DIM), key=lambda i: abs(c[i]))
        assert dominant == cid, (cid, c)


def test_codebook_cache_fingerprints_content(tmp_path, spark, monkeypatch):
    # same path + changed content must NOT serve the stale codebook
    import os
    import shutil
    import time

    p = tmp_path / "corpus"
    p.mkdir()
    src = "/root/testdata/sf0.001/embeddings.parquet"
    shutil.copy(src, p / "embeddings.parquet")
    emb = spark.read.parquet(str(p / "embeddings.parquet"))
    first = similarity.train_kmeans_codebook(emb, 8, 1, cache_key=str(p))

    def poisoned(*a, **k):
        raise AssertionError("retrained")

    monkeypatch.setattr(similarity, "_argmax_cell", poisoned)
    # served, not retrained
    assert similarity.train_kmeans_codebook(emb, 8, 1, cache_key=str(p)) == first
    os.utime(p / "embeddings.parquet", (time.time() + 10, time.time() + 10))
    with pytest.raises(AssertionError, match="retrained"):
        similarity.train_kmeans_codebook(emb, 8, 1, cache_key=str(p))
    monkeypatch.undo()
    # rebuilt, not served stale
    assert similarity.train_kmeans_codebook(emb, 8, 1, cache_key=str(p)) == first
