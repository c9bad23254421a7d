"""Regression tests for the ADVICE r10 findings (fixed r11).

A1 (audit exemption drift) is test-side: strm_semantic_dedup is
   dropped from REVIEWED_INDEPENDENT in test_mirrored_oracle_audit,
   so the name-hint guard re-covers it now that the entry carries the
   mirrored tag directly.
A2 land_ordered_ndjson multi-part fids: its tests moved to
   test_streaming_ingest.
A3 BPE framing regex: '.' differs across engines on line terminators
   (RE2 frames CR / NEL U+0085 / LS U+2028 / PS U+2029; Java regex frames none of them), so a
   corpus token containing one would silently diverge engine vs
   oracle in pipe_bpe_train / pipe_bpe_encode. Both sides now frame
   with (?s)(.) — DOTALL dot, which matches every char in BOTH
   engines at Dot-node speed (the any-char CLASS alternative framed
   identically but cost 23x at the 100x corpus: 22.5 s vs 0.96 s for
   the framing pass — Java's per-char class check vs the optimized
   dot). The tests here gate the exact entries on a corpus crafted
   to contain every line-terminator class member inside tokens.
A4 frame relation pinning (also r10 verdict task #3): the shared
   frame relation is a standing-store relation, and the store pins a
   relation of one partition with a localCheckpoint instead of
   persist(), so the probe's per-run spark.catalog.clearCache()
   cannot drop it.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tests.test_advice_r10 import _assert_matches_oracle, _write_documents

# Every Java-regex line-terminator class member embedded INSIDE
# tokens (mid-token, so an unframed character would glue two framed
# symbols together and change pair counts / encode md5s).
LT_TEXTS = [
    "lo\rw lo\rw lo\rwer low low",
    "ne\u0085w ne\u0085w ne\u0085wer new",
    "wi\u2028de wi\u2028de wi\u2028dest wide",
    "pa\u2029ge pa\u2029ge pa\u2029ges page",
    "aaaa abab low new plain",
    "the quick brown fox jumps over the lazy dog",
]


def test_bpe_train_gates_on_line_terminator_corpus(spark, tmp_path):
    sf = _write_documents(tmp_path, LT_TEXTS)
    _assert_matches_oracle(spark, "pipe_bpe_train", sf)


def test_bpe_encode_gates_on_line_terminator_corpus(spark, tmp_path):
    sf = _write_documents(tmp_path, LT_TEXTS)
    _assert_matches_oracle(spark, "pipe_bpe_encode", sf)


def test_frame_relation_survives_clear_cache(spark):
    from wsprnet_scraper_spark.operators import stores
    from wsprnet_scraper_spark.plans.analytics import _frame_relation

    df = _frame_relation(spark, SF_SMOKE)
    n = df.count()  # materializes the lazy localCheckpoint
    assert n > 0
    # the pin is a checkpoint scan, not a CacheManager entry ...
    assert "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    # ... so clearCache (the probe's isolation) cannot drop it: the
    # store still serves the same relation and it still answers.
    df2 = _frame_relation(spark, SF_SMOKE)
    assert df2 is df and df2.count() == n
    app = spark.sparkContext.applicationId
    assert ("frames_w19", SF_SMOKE) in stores._STORE_CACHE[app]
