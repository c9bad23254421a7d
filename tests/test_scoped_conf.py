"""session.scoped_conf: the one helper that sets SQL confs for a block
and puts the session back the way it found it."""

from __future__ import annotations

import pytest

from wsprnet_scraper_spark.session import scoped_conf

_UNSET_KEY = "spark.wspr.test.scopedConf"
_PARTS = "spark.sql.shuffle.partitions"


def test_unset_key_is_unset_again_after_block(spark):
    assert spark.conf.get(_UNSET_KEY, None) is None
    with scoped_conf(spark, {_UNSET_KEY: "on"}):
        assert spark.conf.get(_UNSET_KEY) == "on"
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_exception_in_block_restores_earlier_values(spark):
    saved = spark.conf.get(_PARTS)
    try:
        spark.conf.set(_PARTS, "13")
        with pytest.raises(RuntimeError, match="inside"):
            with scoped_conf(spark, {_PARTS: "7", _UNSET_KEY: "on"}):
                assert spark.conf.get(_PARTS) == "7"
                raise RuntimeError("inside")
        assert spark.conf.get(_PARTS) == "13"
        assert spark.conf.get(_UNSET_KEY, None) is None
    finally:
        spark.conf.set(_PARTS, saved)

