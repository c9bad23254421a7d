"""The under-parallel-scan heal must see DIRECTORY datasets: a
Spark-written parquet table is a directory, and os.path.getsize on it
returns the inode size (~4 KB), which silently disabled the heal and
left multi-file tables running file-count-wide on a 32-core session
(caught by the 10x probe: pipeline_enrich27 slope 9.2 -> 4.0).
`partitions_for` is the bytes rule that sizes stream state
(`_stream_parts_conf`): an unstatable input volume (remote URI,
missing path) must leave the session's shuffle-partition conf alone
instead of pinning stream state to 1 partition; a 1 TB volume clamps
to 4096 (the documented upper clamp)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wsprnet_scraper_spark.plans.streaming_q import _stream_parts_conf
from wsprnet_scraper_spark.session import scoped_conf
from wsprnet_scraper_spark.sources import load
from wsprnet_scraper_spark.sources.tables import _dataset_bytes, partitions_for

_MiB = 1 << 20


@pytest.mark.parametrize(
    "nbytes,parts",
    [(None, None), (0, 1), (1, 1), (8 * _MiB, 1), (8 * _MiB + 1, 2), (1 << 40, 4096)],
)
def test_partitions_for(nbytes, parts):
    assert partitions_for(nbytes) == parts


def test_stream_parts_conf_unknown_volume_skips_override(spark):
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        conf = _stream_parts_conf("s3://bucket/landing")
        assert conf == {}
        with scoped_conf(spark, conf):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "17"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "17"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_stream_parts_conf_1tb_clamps_to_4096(spark, monkeypatch):
    import wsprnet_scraper_spark.sources.tables as tables

    monkeypatch.setattr(
        tables, "_dataset_bytes", lambda p: 1 << 40  # 1 TiB
    )
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        conf = _stream_parts_conf("/any/local/path")
        assert conf == {"spark.sql.shuffle.partitions": "4096"}
        with scoped_conf(spark, conf):
            assert (
                spark.conf.get("spark.sql.shuffle.partitions") == "4096"
            )
        assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_dataset_bytes_none_for_missing_and_remote(tmp_path):
    assert _dataset_bytes("s3://bucket/table.parquet") is None
    assert _dataset_bytes(str(tmp_path / "nope")) is None
    f = tmp_path / "x.bin"
    f.write_bytes(b"abc")
    assert _dataset_bytes(str(f)) == 3


def test_dataset_bytes_sums_directory(tmp_path, spark):
    df = spark.range(200_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    )
    out = str(tmp_path / "t.parquet")
    df.repartition(4).write.parquet(out)
    total = _dataset_bytes(out)
    assert total is not None and total > 1_000_000  # real bytes, not inode size


def test_heal_fires_for_multifile_directory(tmp_path, spark):
    # few big-ish files, well under cores*maxPartitionBytes -> the
    # scan would run ~2-wide; the heal must repartition to cores
    df = spark.range(400_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    )
    sf_dir = str(tmp_path)
    df.coalesce(2).write.parquet(f"{sf_dir}/wide.parquet")
    healed = load(spark, sf_dir, "wide")
    cores = spark.sparkContext.defaultParallelism
    assert healed.rdd.getNumPartitions() == cores
    plan = healed._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan
    raw = load(spark, sf_dir, "wide", parallel="never")
    raw_plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in raw_plan, raw_plan
    # a scan whose estimated splits already reach half the cores is
    # left as it is
    nbytes = _dataset_bytes(f"{sf_dir}/wide.parquet")
    with scoped_conf(
        spark, {"spark.sql.files.maxPartitionBytes": str(max(1, nbytes // cores))}
    ):
        split = load(spark, sf_dir, "wide")
        split_plan = split._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in split_plan, split_plan
    # a table under 256 KB is a broadcast-sized dimension: raw scan
    df.limit(2_000).coalesce(1).write.parquet(f"{sf_dir}/small.parquet")
    assert _dataset_bytes(f"{sf_dir}/small.parquet") < 256 << 10
    small = load(spark, sf_dir, "small")
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in small_plan, small_plan
