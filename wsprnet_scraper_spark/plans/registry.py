"""Registry wiring query builders to their DuckDB oracle SQL.

Every entry in QUERIES is a callable (spark, sf_dir) -> DataFrame.
ORACLE maps the same name to ANSI SQL DuckDB runs over the same
parquet (views: region nation customer supplier part orders lineitem
events documents embeddings). Names absent from ORACLE get the
driver's weaker rows-only check (reserved for genuinely
non-SQL-expressible ops like true streaming runs).

Cross-engine float discipline (why these queries look the way they
do):

- money sums go through DECIMAL(12,2) and cast to DOUBLE at the end:
  decimal aggregation is exact, hence order-independent, hence
  bit-identical across engines — a plain double SUM is not;
- no raw timestamp columns in outputs — epochs (unix_micros) or
  formatted strings instead, sidestepping engine-specific timestamp
  rendering;
- int-typed sums are cast explicitly (DuckDB SUM(int) is HUGEINT);
- double->int conversions use trunc semantics explicitly (DuckDB CAST
  rounds, Spark/Python truncate);
- window orderings always include a unique tiebreaker column so
  row_number is deterministic in both engines.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

QUERIES: dict[str, Callable] = {}
ORACLE: dict[str, str] = {}

# Mirrored-oracle audit (r9 verdict task #1). The differential gate
# is blind to spec bugs when BOTH sides share the recurrence: the
# evt_seasonal_outliers near-miss (r9c) gate-PASSED a wrong algebra
# because the oracle SQL replayed the engine's own cleared form, and
# only a flag-rate plausibility smell caught it. So every entry whose
# oracle was authored by MIRRORING the engine's own chain — unrolled
# graph supersteps, quantized k-means/PQ/SQ8/two-level codebook
# chains, LSH plane folds, window recurrences (EWMA/Bollinger/RSI/
# CUSUM), markov chains, seasonal/t-closeness algebra — must be
# tagged `oracle_style="mirrored"` and carry a `semantic_check`
# pointing at an INDEPENDENT test (crafted-corpus expected values, a
# pure-Python/numpy reference, or a hand-computed fixture; bit-
# identity twins may chain through the twin's semantic check).
# tests/test_mirrored_oracle_audit.py sweeps: a mirrored entry
# without a resolvable semantic_check FAILS the suite.
#
# `oracle_style` values: "independent" (default for entries with an
# oracle — the SQL re-derives the semantics from the spec, so a
# divergent bug on either side breaks the gate) or "mirrored".
ORACLE_STYLE: dict[str, str] = {}

# name -> "tests/<file>.py::<test_function>" of the independent
# semantic check backing a mirrored oracle.
SEMANTIC_CHECK: dict[str, str] = {}

# Exact-value oracle DOMAIN bounds: name -> (table, max_rows).
# A registered oracle is the bit-exact spec of the judged plan ONLY
# while the named input table holds <= max_rows rows. The one family
# that needs this is the size-dispatched SemDeDup front door
# (operators/similarity.semantic_dedup_auto): below FLAT_ASSIGN_MAX
# embeddings the engine runs the flat k-means form the oracle
# mirrors cell for cell; above it, the balanced two-level quantizer
# takes over and cell / dup_of / n_near legitimately diverge (any
# two k-means dials differ — the latitude an approximate clustering
# operator has by definition). Recording the boundary here makes the
# contract machine-readable: tools/oracle_gate.py consults this dict
# and downgrades an out-of-domain entry to the rows-only check
# instead of reporting a false FAIL (ADVICE r5, medium).
ORACLE_BOUND: dict[str, tuple[str, int]] = {}

# Prepared-plan cache — the engine's analog of prepared statements.
# Building a complex DataFrame costs hundreds of py4j round trips
# (measured: 1.9 s for the 27-column enrichment tree, more than its
# sf0.1 execution); a long-running service plans once and serves many.
# `prepared` memoizes the *unexecuted* DataFrame per Spark session and
# key: QUERIES callables key by (name, sf_dir); the ingest
# keys its enriched stream by landing dir, so a scrape daemon builds
# it once per session and every tick re-starts it.
# DataFrames are immutable logical plans — re-executing one re-reads
# the source files, so correctness is unaffected. Streaming queries
# (strm_*) are never cached: their builders run real micro-batch jobs
# with side effects (a `stores.workdir` generation, memory sinks), and
# a cached result DataFrame would skip the stream instead of
# re-running it. A cached builder's workdir generation has the same
# key as its plan, so it is reclaimed only by the rebuild that follows
# `clear_plan_cache`; the other way round, reclaiming a generation
# drops the entries keyed on its paths (`forget_prepared_under`: an
# ingest stream or sink range index over a deleted landing or sink
# dir).
#
# Layout: {applicationId: {(session uuid, *key): df}}. A DataFrame is
# bound to the session that built it (its conf, its streams manager),
# so two sessions of one application (`spark.newSession()`) never
# share an entry. Keying the outer level by application lets the
# first miss from a NEW application evict every plan of stopped ones —
# otherwise a long-running process that restarts sessions leaks dead
# JVM plan references indefinitely (ADVICE r1).
_PLAN_CACHE: dict = {}


def clear_plan_cache() -> None:
    _PLAN_CACHE.clear()


def forget_prepared_under(path: str) -> None:
    """Drop every entry whose key names a path under `path`, a dir
    that is being deleted (a reclaimed `stores.workdir` generation):
    no later call can be served by it."""
    prefix = os.path.join(path, "")

    def under(part) -> bool:
        return isinstance(part, str) and os.path.join(part, "").startswith(prefix)

    for bucket in _PLAN_CACHE.values():
        for key in [k for k in bucket if any(map(under, k))]:
            del bucket[key]


def prepared(spark, key: tuple, build: Callable):
    """The DataFrame cached for `key` in `spark`'s session, built by
    the zero-arg `build()` on a miss."""
    app = spark.sparkContext.applicationId
    bucket = _PLAN_CACHE.get(app)
    if bucket is None:
        _PLAN_CACHE.clear()  # plans of stopped applications
        bucket = _PLAN_CACHE.setdefault(app, {})
    key = (spark._jsparkSession.sessionUUID(), *key)
    df = bucket.get(key)
    if df is None:
        df = bucket[key] = build()
    return df


def register(
    name: str,
    oracle: str | None = None,
    cache_plans: bool | None = None,
    oracle_bound: tuple[str, int] | None = None,
    oracle_style: str | None = None,
    semantic_check: str | None = None,
):
    # default: strm_* builders are assumed side-effectful; pure batch
    # expressions of streaming semantics opt back in explicitly
    cacheable = cache_plans if cache_plans is not None else not name.startswith("strm_")

    def deco(fn):
        if cacheable:

            @functools.wraps(fn)
            def wrapped(spark, sf_dir, _fn=fn, _name=name):
                return prepared(spark, (_name, sf_dir), lambda: _fn(spark, sf_dir))

            QUERIES[name] = wrapped
        else:
            QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = "\n".join(
                line for line in oracle.strip().splitlines()
            )
            ORACLE_STYLE[name] = oracle_style or "independent"
        elif oracle_style is not None:
            raise ValueError(f"{name}: oracle_style without an oracle")
        if semantic_check is not None:
            SEMANTIC_CHECK[name] = semantic_check
        if oracle_bound is not None:
            ORACLE_BOUND[name] = oracle_bound
        return fn

    return deco
