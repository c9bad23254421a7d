from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# keep local test runs light; the driver overrides via env
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))
SF_SMOKE = str(TESTDATA / "sf0.001")
SF_ORACLE = str(TESTDATA / "sf0.001")  # local differential gate; driver uses sf0.01


@pytest.fixture(scope="session")
def spark():
    from wsprnet_scraper_spark.session import get_session

    spark = get_session("tests")
    yield spark
    spark.stop()


@pytest.fixture
def stream_builds(monkeypatch):
    """The sessions `read_spot_stream` is called with, in call order:
    each call is one build of the ingest stream's plan."""
    from wsprnet_scraper_spark.streaming import ingest

    builds = []
    real = ingest.read_spot_stream

    def counting(spark, *a, **k):
        builds.append(spark)
        return real(spark, *a, **k)

    monkeypatch.setattr(ingest, "read_spot_stream", counting)
    return builds
