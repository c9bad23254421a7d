"""Interop & mutation surface: unpivot/melt, MERGE-INTO semantics,
and columnar-format roundtrips beyond parquet.

`snk_merge_upsert` is the engine's MERGE INTO: without a
transactional table format in this environment, the merge is the
deterministic full-outer-join + coalesce rewrite (matched → update,
not-matched-by-target → insert, not-matched-by-source → keep), which
is also exactly how Spark executes a Delta/Iceberg merge's join
phase at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import stores
from ..sources import load, load_events
from .registry import register

# ---------------------------------------------------------------- unpivot


@register(
    "proj_unpivot",
    """
SELECT l_orderkey, l_linenumber, measure, val FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
         CAST(l_quantity AS DOUBLE) AS val
  FROM lineitem WHERE l_orderkey % 50 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice',
         CAST(l_extendedprice AS DOUBLE)
  FROM lineitem WHERE l_orderkey % 50 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', CAST(l_discount AS DOUBLE)
  FROM lineitem WHERE l_orderkey % 50 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'tax', CAST(l_tax AS DOUBLE)
  FROM lineitem WHERE l_orderkey % 50 = 0
)
""",
)
def proj_unpivot(spark, sf_dir):
    """Wide→long melt of the lineitem measures (the inverse of
    `agg_pivot`). Spark's native `unpivot` (Expand node) emits all
    four measure rows from a single scan — the oracle's 4-way
    UNION ALL restates the semantics but a 4-scan plan is exactly
    what this must NOT compile to at 100 TB."""
    li = load(spark, sf_dir, "lineitem", parallel="never").filter(
        F.col("l_orderkey") % 50 == 0
    )
    renamed = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_discount").cast("double").alias("discount"),
        F.col("l_tax").cast("double").alias("tax"),
    )
    return renamed.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount", "tax"],
        "measure",
        "val",
    )


# ------------------------------------------------------------ MERGE INTO


@register(
    "snk_merge_upsert",
    """
WITH src AS (
  SELECT o_custkey + CASE WHEN o_custkey % 10 = 0 THEN 100000 ELSE 0 END AS k,
         CAST(max(o_totalprice) AS DOUBLE) AS new_bal,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT COALESCE(c.c_custkey, s.k) AS c_custkey,
  CASE WHEN s.k IS NULL THEN 'kept'
       WHEN c.c_custkey IS NULL THEN 'inserted'
       ELSE 'updated' END AS action,
  COALESCE(s.new_bal, c.c_acctbal) AS acctbal,
  s.n_orders
FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.k
""",
)
def snk_merge_upsert(spark, sf_dir):
    """MERGE INTO customer USING per-customer order rollup: matched
    keys update the balance, source-only keys (a shifted slice
    simulates late-arriving customers) insert, target-only keys keep
    their row. Source is pre-aggregated to the key level before the
    merge join — the only shape where MERGE doesn't explode — and the
    action tag makes every branch visible to the differential."""
    c = load(spark, sf_dir, "customer", parallel="never")
    o = load(spark, sf_dir, "orders", parallel="never")
    src = (
        o.groupBy(
            (
                F.col("o_custkey")
                + F.when(F.col("o_custkey") % 10 == 0, 100000).otherwise(0)
            ).alias("k")
        )
        .agg(
            F.max("o_totalprice").cast("double").alias("new_bal"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return (
        c.join(src, c.c_custkey == src.k, "full_outer")
        .select(
            F.coalesce(F.col("c_custkey"), F.col("k")).alias("c_custkey"),
            F.when(F.col("k").isNull(), "kept")
            .when(F.col("c_custkey").isNull(), "inserted")
            .otherwise("updated")
            .alias("action"),
            F.coalesce(F.col("new_bal"), F.col("c_acctbal")).alias("acctbal"),
            "n_orders",
        )
    )


# ------------------------------------------------------------------- ORC


@register(
    "src_orc_roundtrip",
    """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""",
)
def src_orc_roundtrip(spark, sf_dir):
    """Columnar-format interop: events written to ORC and read back
    (both directions through Spark's native vectorized ORC
    source/sink), then aggregated — the rollup must be identical to
    the same aggregate on the parquet original, proving the roundtrip
    is lossless including timestamp/decimal fidelity."""
    with stores.workdir(spark, "src_orc_roundtrip", sf_dir) as work:
        ev = load_events(spark, sf_dir)
        ev.select("event_id", "ts", "event_type", "value").write.mode(
            "overwrite"
        ).orc(f"{work}/events_orc")
        back = spark.read.orc(f"{work}/events_orc")
        return back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )


@register(
    "src_xml_roundtrip",
    """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
  CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_us
FROM events GROUP BY 1
""",
)
def src_xml_roundtrip(spark, sf_dir):
    """Document-format interop through Spark 4's NATIVE XML source
    (rowTag row-level framing, both directions): events written as
    XML and read back with an EXPLICIT schema — no inference pass, so
    a 100 TB landing zone is read in one scan, not two — then
    aggregated; the rollup must equal the same aggregate on the
    parquet original. Fidelity discipline for a text format:
    timestamps cross as unix_micros BIGINTs (no datetime rendering to
    disagree on) and doubles round-trip exactly because Java's
    shortest-representation toString parses back to the identical
    bit pattern. The enterprise-interchange leg of the format matrix
    (parquet/ORC/JSON/CSV/binary/XML)."""
    with stores.workdir(spark, "src_xml_roundtrip", sf_dir) as work:
        ev = load_events(spark, sf_dir)
        ev.select(
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            "value",
        ).write.format("xml").option("rootTag", "events").option(
            "rowTag", "event"
        ).mode("overwrite").save(f"{work}/events_xml")
        back = (
            spark.read.format("xml")
            .option("rowTag", "event")
            .schema("event_id long, event_type string, us long, value double")
            .load(f"{work}/events_xml")
        )
        return back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
            F.max("us").alias("max_us"),
        )


# ------------------------------------------------------------- binaryFile


@register(
    "src_binaryfile",
    """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5
FROM documents WHERE doc_id % 5 = 0
""",
)
def src_binaryfile(spark, sf_dir):
    """Opaque-blob ingestion through Spark's `binaryFile` source (the
    entry point for image/audio/video corpora): every fifth document
    is materialized as a standalone `.bin` file by a distributed
    `foreachPartition` writer (no driver collect), read back as
    (path, length, content) binary rows, and fingerprinted. The id is
    recovered from the file path — the layout convention a multimodal
    lake uses — and length/md5 must match the source-of-truth parquet
    byte for byte. Texts here are ASCII, so DuckDB's strlen/md5 over
    the VARCHAR equals Spark's over the written bytes."""
    with stores.workdir(spark, "src_binaryfile", sf_dir) as work:
        blob_dir = f"{work}/blobs"
        import os

        os.makedirs(blob_dir, exist_ok=True)
        d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)

        def _write_blobs(rows, _dir=blob_dir):
            # runs on executors: each partition writes its own files
            for r in rows:
                with open(f"{_dir}/doc_{r['doc_id']}.bin", "wb") as fh:
                    fh.write(r["text"].encode("utf-8"))

        d.select("doc_id", "text").foreachPartition(_write_blobs)
        back = spark.read.format("binaryFile").load(f"{blob_dir}/*.bin")
        return back.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )


def _cdc_state_versions(work: str, below: int | None = None) -> list[int]:
    """Committed state versions ON DISK (not driver memory): a
    restarted driver must rediscover them, and a checkpoint-replayed
    batch id must merge against the latest version BELOW itself —
    re-running batch i on top of state_v{i-1} rewrites the same
    state_v{i}, so replay is idempotent."""
    import glob as _glob
    import os

    out = []
    for d in _glob.glob(f"{work}/state_v*"):
        if os.path.exists(f"{d}/_SUCCESS"):
            i = int(d.rsplit("state_v", 1)[1])
            if below is None or i < below:
                out.append(i)
    return sorted(out)


def _cdc_merge_batch(spark, work: str, bdf, bid: int) -> None:
    """One micro-batch of the CDC materialization loop: merge the
    batch latest-wins-by-seq onto the latest committed state version
    below `bid`, writing state_v{bid} whole (never the dir being
    read). Module-level so the replay-idempotence test can drive the
    exact production merge outside a stream."""
    prior = _cdc_state_versions(work, below=bid)
    prev = (
        spark.read.parquet(f"{work}/state_v{prior[-1]}")
        if prior
        else spark.createDataFrame([], bdf.schema)
    )
    merged = (
        prev.unionByName(bdf)
        .groupBy("k")
        .agg(
            F.max_by(F.struct("status", "price", "op"), F.col("seq")).alias(
                "fin"
            ),
            F.max("seq").alias("seq"),
        )
        .select(
            "k",
            F.col("fin.status").alias("status"),
            F.col("fin.price").alias("price"),
            "seq",
            F.col("fin.op").alias("op"),
        )
    )
    merged.write.mode("overwrite").parquet(f"{work}/state_v{bid}")


def _cdc_generations(spark, sf_dir):
    """The synthetic I/U/D changelog shared by snk_cdc_apply and its
    streaming twin, as a list of per-sequence DataFrames (mirrors
    _CDC_SQL's base/chg1/chg2 CTEs exactly)."""
    o = load(spark, sf_dir, "orders", parallel="never")
    price = F.col("o_totalprice").cast("decimal(14,2)")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        price.alias("price"),
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
    )
    chg1 = o.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("status"),
        (price + F.lit("10.00").cast("decimal(14,2)")).alias("price"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    chg2 = o.filter(F.col("o_orderkey") % 8 == 5).select(
        F.col("o_orderkey").alias("k"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("decimal(15,2)").alias("price"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    return [base, chg1, chg2]


def _cdc_log(spark, sf_dir):
    gens = _cdc_generations(spark, sf_dir)
    out = gens[0]
    for g in gens[1:]:
        out = out.unionByName(g)
    return out


_CDC_SQL = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(14,2)) AS price,
         0 AS seq, 'I' AS op
  FROM orders WHERE o_orderkey % 3 <> 0
),
chg1 AS (
  SELECT o_orderkey AS k, 'U' AS status,
         CAST(o_totalprice AS DECIMAL(14,2)) + CAST(10.00 AS DECIMAL(14,2)) AS price,
         1 AS seq, 'U' AS op
  FROM orders WHERE o_orderkey % 4 = 1
),
chg2 AS (
  SELECT o_orderkey AS k, NULL AS status, NULL AS price, 2 AS seq, 'D' AS op
  FROM orders WHERE o_orderkey % 8 = 5
),
log_all AS (
  SELECT * FROM base UNION ALL SELECT * FROM chg1 UNION ALL SELECT * FROM chg2
),
latest AS (
  SELECT k, status, price, op,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM log_all
)
SELECT k AS o_orderkey, status, CAST(price AS DOUBLE) AS price
FROM latest WHERE rn = 1 AND op <> 'D'
"""


@register("snk_cdc_apply", _CDC_SQL)
def snk_cdc_apply(spark, sf_dir):
    """Change-data-capture materialization: a synthetic I/U/D
    changelog over the orders snapshot, applied latest-wins by
    sequence number, deletes dropped — the Debezium-style sink
    pattern that MERGE (single batch, no ordering) and key-deletion
    (no updates) each cover only half of. One shuffle on the key;
    the per-key latest pick is max_by over the (seq → row) struct,
    so partial aggregation combines map-side instead of windowing
    raw rows. At 100 TB the changelog is a fraction of the snapshot
    and AQE-broadcasts; replays are idempotent because seq ordering,
    not arrival order, decides the winner."""
    log_all = _cdc_log(spark, sf_dir)
    latest = log_all.groupBy("k").agg(
        F.max_by(F.struct("status", "price", "op"), F.col("seq")).alias("fin")
    )
    return (
        latest.filter(F.col("fin.op") != "D")
        .select(
            F.col("k").alias("o_orderkey"),
            F.col("fin.status").alias("status"),
            F.col("fin.price").cast("double").alias("price"),
        )
    )


@register("strm_cdc_apply", _CDC_SQL)
def strm_cdc_apply(spark, sf_dir):
    """snk_cdc_apply as a REAL stream: the three changelog
    generations land as seq-ordered NDJSON files, a Structured
    Streaming file source drains them one micro-batch each
    (maxFilesPerTrigger=1, availableNow), and every micro-batch is
    merged latest-wins-by-seq into a VERSIONED parquet state table
    inside foreachBatch — the continuous Debezium-materialization
    loop (state_v{i} written whole, never the dir being read; on a
    transactional format this is MERGE per micro-batch). The version
    pointer is the DISK listing of committed (_SUCCESS) state dirs,
    not driver memory: a restarted driver rediscovers state, and a
    checkpoint-replayed batch id merges against the latest version
    BELOW its own id, rewriting the same state_v{i} — replay after a
    crash between state write and checkpoint commit is idempotent
    (the discipline test_kill_resume pins for the ingest path). Tombstones
    are RETAINED in state (op='D' rows survive the merge) and only
    filtered at the serving read — the retention discipline that
    keeps a later reinsert or out-of-order seq mergeable — so the
    final state equals the batch operator's output and the entry
    SHARES snk_cdc_apply's oracle: the one-code-path-for-batch-and-
    stream proof for the CDC family (mirroring what strm_microbatch /
    strm_rollup_merge / strm_semantic_dedup pin for ingest, rollups,
    and semantic dedup).

    Per micro-batch the merge is one groupBy(k) with a map-side-
    combinable max_by((status, price, op), seq) over prior-state ∪
    batch — latest-wins by SEQUENCE, not arrival order, so replays
    and out-of-order delivery are idempotent (same argument as the
    batch twin). Prices stay DECIMAL(14,2) through landing (JSON
    renders the exact scale-2 literal) and state; the one double cast
    happens at the serving read. Landing-file generation writes each
    generation with a single-file coalesce and pins file order with
    explicit mtimes — test scaffolding for a deterministic drain; in
    production the files arrive from the CDC transport."""
    import glob as _glob
    import os

    with stores.workdir(spark, "strm_cdc_apply", sf_dir) as work:
        landing, ckpt = f"{work}/landing", f"{work}/ckpt"
        os.makedirs(landing)

        for i, gen in enumerate(_cdc_generations(spark, sf_dir)):
            tmp = f"{work}/gen-{i}"
            gen.coalesce(1).write.mode("overwrite").json(tmp)
            (src,) = _glob.glob(f"{tmp}/part-*.json")
            dst = f"{landing}/cdc-{i:03d}.json"
            os.rename(src, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

        def merge_batch(bdf, bid):
            _cdc_merge_batch(spark, work, bdf, bid)

        q = (
            spark.readStream.schema(
                "k long, status string, price decimal(14,2), seq int, op string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(landing)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        final = _cdc_state_versions(work)[-1]
        return (
            spark.read.parquet(f"{work}/state_v{final}")
            .filter(F.col("op") != "D")
            .select(
                F.col("k").alias("o_orderkey"),
                "status",
                F.col("price").cast("double").alias("price"),
            )
        )


@register(
    "src_parquet_merge_schema",
    """
WITH unioned AS (
  SELECT event_id, value, NULL AS event_type FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, NULL AS value, event_type FROM events WHERE event_id % 2 = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(value) AS BIGINT) AS n_with_value,
  CAST(count(event_type) AS BIGINT) AS n_with_type,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM unioned
""",
)
def src_parquet_merge_schema(spark, sf_dir):
    """Schema evolution on read: two parquet generations with
    DIFFERENT columns (gen1: event_id+value, gen2: event_id+
    event_type) land in one dataset directory; a mergeSchema scan
    reconciles them into the union schema with NULLs for the columns
    each generation lacks — exactly how a years-long 100 TB table
    accretes columns without rewriting history. The aggregate pins
    both the row totals and the per-column NULL structure. (Schema
    merging is a one-time footer pass over file metadata, not data;
    on a real lake the merged schema comes from the table catalog.)"""
    with stores.workdir(spark, "src_parquet_merge_schema", sf_dir) as work:
        ev = load_events(spark, sf_dir)
        ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value").write.mode(
            "overwrite"
        ).parquet(f"{work}/data/gen=1")
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type"
        ).write.mode("overwrite").parquet(f"{work}/data/gen=2")
        merged = spark.read.option("mergeSchema", "true").parquet(f"{work}/data")
        return merged.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("value").alias("n_with_value"),
            F.count("event_type").alias("n_with_type"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.count_distinct("event_type").alias("n_types"),
        )


@register(
    "src_partitioned_prune",
    """
WITH t AS (
  SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events
),
days AS (SELECT day FROM t GROUP BY day ORDER BY day LIMIT 3)
SELECT day, CAST(count(*) AS BIGINT) AS n,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM t WHERE day IN (SELECT day FROM days)
GROUP BY day
""",
)
def src_partitioned_prune(spark, sf_dir):
    """Hive-style partitioned layout + partition pruning: events are
    written partitioned by day (partitionBy -> day=... directories),
    then a 3-day filter must scan ONLY those directories — at 100 TB
    partition pruning is the first petabyte-saver, ahead of row-group
    stats. The pruning is structural (directory listing against the
    partition filter, before any data IO); `PartitionFilters` in the
    scan is asserted in tests/test_partition_pruning.py for this
    exact layout. The aggregate proves the pruned read still sees
    every row of the selected days."""
    with stores.workdir(spark, "src_partitioned_prune", sf_dir) as work:
        ev = load_events(spark, sf_dir)
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).write.mode(
            "overwrite"
        ).partitionBy("day").parquet(f"{work}/by_day")
        part = spark.read.parquet(f"{work}/by_day")
        days = [
            r.day
            for r in part.select("day").distinct().orderBy("day").limit(3).collect()
        ]
        return (
            part.filter(F.col("day").isin(days))
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("user_id").alias("n_users"),
            )
            .select(F.col("day").cast("string").alias("day"), "n", "n_users")
        )


@register(
    "src_json_corrupt",
    """
SELECT CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
  CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END) AS BIGINT) AS good_chars
FROM documents
""",
)
def src_json_corrupt(spark, sf_dir):
    """Malformed-record tolerance on the JSON source: an NDJSON
    landing file where every 7th record is truncated garbage (the
    reference's scrape bodies arrive over flaky HTTP —
    wsprnet-scraper.sh retries exactly because of this). PERMISSIVE
    mode parses good lines and routes bad ones to _corrupt_record
    instead of failing the batch — the only mode that works when one
    poison record must not kill a 100 TB backfill. The aggregate pins
    the good/corrupt split and that good rows parse completely."""
    with stores.workdir(spark, "src_json_corrupt", sf_dir) as work:
        d = load(spark, sf_dir, "documents")
        lines = d.select(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit('{"doc_id": '),
                    F.col("doc_id").cast("string"),
                    F.lit(", TRUNC"),
                ),
            )
            .otherwise(F.to_json(F.struct("doc_id", "n_chars")))
            .alias("value")
        )
        lines.write.mode("overwrite").text(f"{work}/landing")
        parsed = spark.read.schema(
            "doc_id LONG, n_chars LONG, _corrupt_record STRING"
        ).json(f"{work}/landing")
        return parsed.agg(
            F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_good"),
            F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_corrupt"),
            F.sum(
                F.when(F.col("_corrupt_record").isNull(), F.col("n_chars")).otherwise(0)
            )
            .cast("long")
            .alias("good_chars"),
        )


@register(
    "join_dpp_partitioned",
    """
WITH t AS (
  SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events
),
d AS (
  SELECT day, dense_rank() OVER (ORDER BY day) AS idx
  FROM (SELECT DISTINCT day FROM t)
)
SELECT t.day, CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM t JOIN d ON t.day = d.day
WHERE d.idx <= 3
GROUP BY t.day
""",
)
def join_dpp_partitioned(spark, sf_dir):
    """DYNAMIC partition pruning: the fact side is day-partitioned,
    the dimension's filter (idx <= 3) is on a NON-partition attribute
    — so no static prune is possible and Spark must inject a runtime
    subquery (`dynamicpruning` in the scan's PartitionFilters,
    asserted in tests/test_partition_pruning.py) that executes the
    dim side first and prunes fact directories before data IO. At
    100 TB this is the difference between scanning 3 days and
    scanning the table whenever the calendar slice comes from a JOIN
    instead of a literal."""
    with stores.workdir(spark, "join_dpp_partitioned", sf_dir) as work:
        ev = load_events(spark, sf_dir)
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).write.mode(
            "overwrite"
        ).partitionBy("day").parquet(f"{work}/fact")
        from pyspark.sql import Window as W

        dim = (
            ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .distinct()
            .withColumn("idx", F.dense_rank().over(W.orderBy("day")))
        )
        dim.write.mode("overwrite").parquet(f"{work}/dim")
        fact = spark.read.parquet(f"{work}/fact")
        dim_r = spark.read.parquet(f"{work}/dim")
        return (
            fact.join(dim_r, "day")
            .filter(F.col("idx") <= 3)
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(F.col("day").cast("string").alias("day"), "n", "sum_value")
        )


@register(
    "snk_rtbf_delete",
    """
WITH kept AS (
  SELECT * FROM events WHERE user_id % 13 <> 0
)
SELECT event_type,
  CAST((SELECT count(*) FROM events) AS BIGINT) AS rows_before,
  CAST(count(*) AS BIGINT) AS n_after,
  CAST(count(DISTINCT user_id) AS BIGINT) AS users_after
FROM kept GROUP BY event_type
""",
)
def snk_rtbf_delete(spark, sf_dir):
    """Right-to-be-forgotten deletion against immutable storage
    (sources/sinks.delete_keys): events land in parquet, every
    user_id divisible by 13 requests erasure, and the table is
    rewritten WITHOUT those rows via broadcast anti-join + atomic
    rename swap — parquet can't be edited in place, so deletion is a
    filtered rewrite (a commit on a table format). One scan, zero
    shuffle (the deletion set broadcasts). The judged aggregate reads
    the post-delete table and proves exactly the requested keys are
    gone and everything else survived."""
    from ..sources.sinks import delete_keys

    with stores.workdir(spark, "snk_rtbf_delete", sf_dir) as work:
        path = f"{work}/events_store"
        ev = load_events(spark, sf_dir)
        ev.write.mode("overwrite").parquet(path)
        doomed = ev.select("user_id").distinct().filter(F.col("user_id") % 13 == 0)
        stats = delete_keys(spark, path, "user_id", doomed)
        after = spark.read.parquet(path)
        return after.groupBy("event_type").agg(
            F.lit(stats["rows_before"]).cast("long").alias("rows_before"),
            F.count(F.lit(1)).alias("n_after"),
            F.count_distinct("user_id").alias("users_after"),
        ).select("event_type", "rows_before", "n_after", "users_after")


@register(
    "join_bucketed_colocated",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       SUM(l_quantity) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def join_bucketed_colocated(spark, sf_dir):
    """The repeated-big-big-join answer at 100 TB: both fact tables
    written ONCE as bucketed layouts on the join key (8 buckets
    here; thousands on a cluster), after which every subsequent
    lineitem⋈orders is a zero-exchange local join — Spark reads
    bucket i of each side into the same task, no shuffle of either
    fact, ever again. The merge hint pins sort-merge so the bucketed
    (and sortBy-presorted) layout is actually exploited rather than
    broadcast hiding it at toy scale; test_bucketing.py asserts the
    no-exchange plan property. The oracle answers from the plain
    tables — the layout must not change a single row."""
    import atexit
    import hashlib
    import re
    import shutil
    import tempfile

    # basename for readability + a full-path hash for identity: two
    # different directories sharing a basename (…/a/sf0.01 vs
    # …/b/sf0.01) must NOT share catalog tables — the registry's plan
    # cache keys on the full sf_dir, so the tables must too.
    base = re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/").split("/")[-1])
    tag = f"{base}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    li_t, o_t = f"li_bkt_{tag}", f"o_bkt_{tag}"
    cat = spark.catalog
    if not cat.tableExists(li_t) or not cat.tableExists(o_t):
        # a catalog table kept per sf_dir, not a per-run stores.workdir:
        # tableExists would outlive a reclaimed generation
        work = tempfile.mkdtemp(prefix="wspr_bkt_")
        atexit.register(shutil.rmtree, work, ignore_errors=True)
        li = load(spark, sf_dir, "lineitem", parallel="never")
        o = load(spark, sf_dir, "orders", parallel="never")
        for df, key, name in [(li, "l_orderkey", li_t), (o, "o_orderkey", o_t)]:
            (
                df.write.mode("overwrite")
                .option("path", f"{work}/{name}")
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
    return (
        spark.table(li_t)
        .join(
            spark.table(o_t).hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


@register(
    "snk_dynamic_partition_overwrite",
    # cache_plans=False: the builder executes its writes EAGERLY (base
    # write + dynamic-overwrite restatement into a fresh tmp dir), so a
    # cached DataFrame would serve the first run's materialized output
    # and never re-run the restatement — the same eager-builder-caching
    # trap graph_cc opts out of (ADVICE r3).
    """
WITH d AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, value FROM events
),
first_day AS (
  SELECT min(day) AS fd FROM d WHERE event_type = 'purchase'
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM d, first_day
WHERE fd IS NULL OR day <> fd OR event_type = 'purchase'
GROUP BY day
""",
    cache_plans=False,
)
def snk_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — the nightly-restatement idiom: a
    corrected slice replaces ONLY the partitions it contains, while
    every untouched partition survives byte-for-byte. Here the full
    events table lands day-partitioned, then a corrected feed for the
    first day (purchases only) is written with
    partitionOverwriteMode=dynamic (per-WRITE option, not a session
    mutation): static overwrite mode would truncate the whole table
    first — the classic data-loss footgun this mode exists to remove.
    The judged read-back aggregates the post-restatement table; the
    oracle states the expected union (original days ∪ restated first
    day) declaratively. At 100 TB the restatement touches exactly the
    restated directories — IO ∝ corrected slice, not table size."""
    with stores.workdir(spark, "snk_dynamic_partition_overwrite", sf_dir) as work:
        path = f"{work}/by_day"
        ev = load_events(spark, sf_dir).withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd")
        )
        ev.write.mode("overwrite").partitionBy("day").parquet(path)
        # Restate the earliest day that HAS purchases: an empty corrected
        # slice would make the dynamic overwrite a no-op (it touches no
        # partitions) while a min(day)-based oracle would still drop that
        # day's non-purchase rows — a divergence the day choice removes by
        # construction. No purchases anywhere -> no restatement, and the
        # oracle's fd IS NULL branch keeps every row to match.
        first_day = (
            ev.filter(F.col("event_type") == "purchase")
            .agg(F.min("day"))
            .collect()[0][0]
        )
        if first_day is not None:
            (
                ev.filter(
                    (F.col("day") == first_day)
                    & (F.col("event_type") == "purchase")
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("day")
                .parquet(path)
            )
        back = spark.read.parquet(path)
        return back.groupBy("day").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("string")
            .cast("double")
            .alias("sum_value"),
        ).select(F.col("day").cast("string").alias("day"), "n", "sum_value")
