"""Corpus-fingerprint-keyed standing-relation store: the one place a
relation that is built once per corpus version and scanned by every
later run is kept. Its users are the graph edge relations
(plans/graph_q.py), MinHash signature stores, standing-corpus cluster
labels and trained ANN codebooks. A real pipeline pays each of these
once per corpus and amortizes it across every query and ingest batch;
rebuilding them per run was the bulk of the incremental and stream
entries' cost (10.3 s of strm_minhash_dedup's 18.7 s at the 100x
probe was the signature-store rebuild).

Two tiers, both fingerprint-keyed and _SUCCESS-gated; a build lands
through `_land` (write into a temp dir, then one atomic rename):

- default: a per-application scratch root (process-private tempdir),
  deleted at process exit, so concurrent applications share no path.
  The first call pays the build; later calls in the process scan the
  standing parquet. A maintenance pass (`clear_store_cache()`) drops
  only the in-memory HANDLES, so a daemon's periodic reclaim costs a
  parquet re-open, not a rebuild.
- SPARK_GRAFT_SIG_STORE=<dir>: the relation persists ACROSS sessions
  under <dir>/<kind>_<corpus-fingerprint>/, so a fresh session reuses
  it instead of re-paying the derivation. The fingerprint (file stats
  of the named source tables) keys out stale data.

The store is a CACHE, never a semantic change: a stored relation must
be bit-identical to `build()`'s output (parquet round-trips the exact
column values), so gate results are unchanged whichever tier serves.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

ENV_VAR = "SPARK_GRAFT_SIG_STORE"

# app -> {(kind, sf_key): (df, path, persistent)}
_STORE_CACHE: dict = {}


def corpus_fingerprint(sf_dir: str, tables=("documents",)) -> str:
    """Content fingerprint of the named source tables under sf_dir:
    sha1 over (name, size, mtime_ns) of every file — cheap (stat
    only), stable across sessions, and any rewrite of the source
    parquet changes it (the staleness key)."""
    from pathlib import Path

    h = hashlib.sha1(sf_dir.rstrip("/").encode())
    for tbl in tables:
        p = Path(sf_dir) / f"{tbl}.parquet"
        files = [
            f
            for f in (sorted(p.rglob("*")) if p.is_dir() else [p])
            if f.is_file()
        ]
        if not files:
            # A missing source table must FAIL, not fingerprint to a
            # constant: a constant fingerprint would let the first
            # build win the persistent path forever and serve stale
            # standing state on every corpus rewrite — the exact
            # staleness the fingerprint exists to key out (r11
            # review finding).
            raise FileNotFoundError(
                f"corpus_fingerprint: no files for table {tbl!r} "
                f"under {sf_dir!r}"
            )
        for f in files:
            st = f.stat()
            h.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


# app -> scratch-tier root dir (fingerprint-keyed like the
# persistent tier, but process-private; deleted at process exit)
_SCRATCH_ROOTS: dict = {}


def clear_store_cache(drop_files: bool = False) -> None:
    """Drop all in-memory handles. Scratch-tier PARQUET survives by
    default (r12, VERDICT r11 task #5): the daemon's
    session_maintenance calls this to reclaim JVM leases — plan
    trees, cached relations — and the standing parquet on local disk
    pins no JVM memory at all, so deleting it would convert every
    post-maintenance store access into a full standing-state REBUILD
    where a parquet re-open suffices (measured: the probe's
    cold-minus-warm split IS that rebuild cost — e.g. 18.8 s of
    dedup_minhash_cluster_incremental's 28.0 s cold at 100×).
    `drop_files=True` deletes the scratch dirs too (tests / explicit
    disk reclamation) and clears the registry plan cache, whose
    cached plans may scan the deleted files; process exit always
    cleans up via atexit."""
    _STORE_CACHE.clear()
    if drop_files:
        from ..plans.registry import clear_plan_cache

        for root in _SCRATCH_ROOTS.values():
            shutil.rmtree(root, ignore_errors=True)
        _SCRATCH_ROOTS.clear()
        clear_plan_cache()


def _land(store_root: str, kind: str, path: str, build) -> None:
    """Build into a unique temp subdir of `store_root` and atomically
    rename into `path` (ADVICE r11: check-then-write was a TOCTOU —
    two sessions sharing the persistent store could interleave
    overwrite-deletes with writes on the same path). A rename
    collision means another writer finished the same fingerprint
    first; their relation is bit-identical by construction, so ours
    is discarded."""
    os.makedirs(store_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{kind}_wip_", dir=store_root)
    try:
        build().write.mode("overwrite").parquet(tmp)
    except BaseException:
        # ADVICE r12: a failed build must not leak its wip dir into a
        # shared persistent store (atexit only covers scratch roots).
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        if os.path.isfile(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # stale partial write from a crashed session holds the
            # path: replace it. Two sessions can race THIS branch
            # too (r12 review finding: an unguarded second rename
            # crashed the loser instead of converging), so the
            # second rename is guarded the same way — if it fails
            # because the other racer's complete relation landed,
            # serve theirs; anything else is a genuinely broken
            # store and propagates.
            shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)
            except OSError:
                if not os.path.isfile(os.path.join(path, "_SUCCESS")):
                    shutil.rmtree(tmp, ignore_errors=True)
                    raise
                shutil.rmtree(tmp, ignore_errors=True)


def _scratch_root(app: str) -> str:
    root = _SCRATCH_ROOTS.get(app)
    if root is None or not os.path.isdir(root):
        import atexit

        root = tempfile.mkdtemp(prefix=f"wspr_store_{app}_")
        _SCRATCH_ROOTS[app] = root
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def materialized(spark, sf_dir: str, kind: str, build, tables=("documents",)):
    """Serve the standing relation `kind` for the corpus at sf_dir:
    from the per-application handle if already open, else from the
    persistent store (ENV_VAR) or the scratch tier, building with
    `build()` (a zero-arg callable returning a DataFrame) only when
    no standing parquet exists. `kind` must encode every parameter
    the relation depends on (shingle n, hash count, batch predicate,
    codebook k/iters, ...) — two configurations must never share a
    path.

    Both tiers are fingerprint-keyed and _SUCCESS-gated (r12): the
    scratch tier lives under a process-private root, so a daemon's
    periodic session_maintenance (clear_store_cache) drops only the
    HANDLES — the next access re-opens the standing parquet instead
    of re-paying the build (tests/test_advice_r12.py pins build()
    called once across a maintenance cycle)."""
    return _entry(spark, sf_dir, kind, build, tables)[0]


def _entry(spark, sf_dir: str, kind: str, build, tables):
    """`materialized`'s cache entry (df, parquet_path, persistent);
    the one owner of _STORE_CACHE's key format."""
    app = spark.sparkContext.applicationId
    bucket = _STORE_CACHE.get(app)
    if bucket is None:
        _STORE_CACHE.clear()  # handles of stopped applications
        bucket = _STORE_CACHE.setdefault(app, {})
    key = (kind, sf_dir.rstrip("/"))
    ent = bucket.get(key)
    if ent is None:
        store = os.environ.get(ENV_VAR)
        persistent = bool(store)
        root = store if store else _scratch_root(app)
        try:
            fp = corpus_fingerprint(sf_dir, tables)
        except FileNotFoundError:
            # ADVICE r12: a build() whose source never touches the
            # named table on disk (synthesized corpus) has nothing to
            # fingerprint. In the persistent tier that must still
            # fail — a constant key would serve stale state across
            # corpus rewrites — but the scratch tier is
            # process-private, so fall back to an unkeyed one-shot
            # build (the pre-r12 behavior for exactly this case).
            if persistent:
                raise
            fp = None
        if fp is None:
            path = tempfile.mkdtemp(prefix=f"{kind}_oneshot_", dir=root)
            build().write.mode("overwrite").parquet(path)
        else:
            path = os.path.join(root, f"{kind}_{fp}")
            if not os.path.isfile(os.path.join(path, "_SUCCESS")):
                _land(root, kind, path, build)
        ent = (spark.read.parquet(path), path, persistent)
        bucket[key] = ent
    return ent


def materialized_entry(
    spark, sf_dir: str, kind: str, build, tables=("documents",)
):
    """`materialized`, but returns (df, parquet_path). The path lets a
    caller that keeps the standing relation OUT of its own sink (r14:
    the stream twins used to copy the corpus seed into the sink every
    invocation) still size partitions from the standing volume
    (_sized_stream_parts reads file sizes, not DataFrames)."""
    return _entry(spark, sf_dir, kind, build, tables)[:2]
