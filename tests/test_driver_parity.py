"""Driver-session conf parity (VERDICT r2 item #2).

Round 2 shipped a regression where the TIMESTAMP_NTZ guard lived only
in the engine's session factory, not in __spark_entry__._tune() — the
only conf the external driver's session receives — turning 11/178
queries red in the driver's context while the engine's own gate was
fully green. These tests make that class of bug impossible to ship
silently again:

* test_vanilla_session_runs_ts_queries boots a FRESH JVM with a bare
  SparkSession, applies only _tune(), and runs all 11 previously-red
  queries end-to-end.
* test_load_events_ntz_backstop proves load_events normalizes ts even
  when the session conf is wrong (inferTimestampNTZ left on).
* test_tune_keeps_load_bearing_confs pins the conf keys _tune must
  never lose; test_tune_applies_every_sql_conf_key checks _tune sets
  every one of them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]


def test_vanilla_session_runs_ts_queries():
    env = dict(os.environ, PARITY_SF_DIR=SF_SMOKE)
    proc = subprocess.run(
        [sys.executable, str(REPO / "tests" / "driver_parity_child.py")],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith("PARITY_RESULT ")), None
    )
    assert line, proc.stdout
    from tests.driver_parity_child import TS_SENSITIVE

    counts = json.loads(line.removeprefix("PARITY_RESULT "))
    assert len(counts) == len(TS_SENSITIVE)
    # every family must produce rows at sf0.001 (all did in the
    # engine-session gate; zero rows here would mean a silent miss)
    for name, n in counts.items():
        assert n > 0, f"{name} returned 0 rows in the driver-shaped session"


def test_load_events_ntz_backstop(spark):
    from pyspark.sql import types as T

    from wsprnet_scraper_spark.sources.tables import load_events

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        # only meaningful while the generator ships naive timestamps;
        # if that drifts again this assert documents the new shape
        if isinstance(raw.schema["ts"].dataType, T.TimestampNTZType):
            ev = load_events(spark, SF_SMOKE)
            assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
            assert ev.limit(5).count() > 0
    finally:
        spark.conf.set(key, old)


def test_tune_keeps_load_bearing_confs():
    from wsprnet_scraper_spark.session import sql_conf

    conf = sql_conf()
    for key in (
        "spark.sql.session.timeZone",
        "spark.sql.ansi.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.adaptive.enabled",
    ):
        assert key in conf, f"sql_conf() lost load-bearing conf {key}"


def test_tune_applies_every_sql_conf_key(spark):
    """A driver-owned session runs the conf the engine's own session
    runs: _tune sets every session.sql_conf key, even where the
    session started from a different value."""
    import __spark_entry__ as entry_mod
    from wsprnet_scraper_spark.session import sql_conf

    conf = sql_conf()
    other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "200")
    for k, v in conf.items():
        if v in ("true", "false"):
            other.conf.set(k, "false" if v == "true" else "true")
    entry_mod._tune(other)
    assert {k: other.conf.get(k) for k in conf} == conf
