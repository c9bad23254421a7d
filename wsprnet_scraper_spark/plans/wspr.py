"""WSPR-domain judged queries: the reference's operators, oracle-checked.

Each query runs the Spark implementation (pure Catalyst expressions
from functions/) over the deterministic synthetic spot batch
(synth.py) while the oracle SQL recomputes the same math in DuckDB,
operation for operation — including the reference's quirks (banker's
rounding, NaN propagation with Python comparison semantics, %.3f
half-even ties).

SQL helper functions below generate the DuckDB expressions; they are
kept textually close to functions/locator.py and functions/geo.py so
drift between engine and oracle is visible side by side.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from .. import pipeline
from ..functions import (
    band_dim,
    epoch_cycle,
    fmt3,
    grid_lat,
    grid_lon,
    join_band,
    rint_int,
)
from ..schema import BAND_TABLE, SINK_COLUMNS
from .registry import register
from .synth import SYNTH_SPOTS_SQL, synth_spots

D2R = repr(math.pi / 180.0)
R2D = repr(180.0 / math.pi)

# ---------------------------------------------------------------- SQL helpers


def _sql_base(g: str) -> str:
    return f"(CASE WHEN ascii(substr(trim({g}),5,1)) > 88 THEN 96 ELSE 64 END)"


def _sql_lat(g: str) -> str:
    lat4 = f"(((ascii(substr(trim({g}),2,1))-65)*10 + (ascii(substr(trim({g}),4,1))-48))::DOUBLE + 0.5 - 90)"
    lat6 = f"(({lat4} - 0.5) + (ascii(substr(trim({g}),6,1)) - {_sql_base(g)})::DOUBLE / 24 - (1::DOUBLE)/48)"
    return f"(CASE WHEN length(trim({g})) = 6 THEN {lat6} ELSE {lat4} END)"


def _sql_lon(g: str) -> str:
    lon4 = f"(((ascii(substr(trim({g}),1,1))-65)*20 + (ascii(substr(trim({g}),3,1))-48)*2 + 1 - 180)::DOUBLE)"
    lon6 = f"(({lon4} - 1) + (ascii(substr(trim({g}),5,1)) - {_sql_base(g)})::DOUBLE / 12 - (1::DOUBLE)/24)"
    return f"(CASE WHEN length(trim({g})) = 6 THEN {lon6} ELSE {lon4} END)"


def _sql_pmod360(x: str) -> str:
    return f"fmod(fmod({x}, 360) + 360, 360)"


def _sql_acos(x: str) -> str:
    # numpy/Spark acos yields NaN out of domain; DuckDB raises -> guard.
    # NaN input: in DuckDB NaN >= -1 is TRUE but NaN <= 1 is FALSE, so
    # NaN falls to the else branch and stays NaN, matching propagation.
    return f"(CASE WHEN ({x}) >= -1 AND ({x}) <= 1 THEN acos({x}) ELSE 'NaN'::DOUBLE END)"


def _sql_maxabs(a: str, b: str) -> str:
    # max([a, b], key=abs) — ties to the first argument
    return f"(CASE WHEN abs({a}) >= abs({b}) THEN {a} ELSE {b} END)"


def _sql_fmt3(x: str) -> str:
    # mirror of functions.formats.fmt3: pre-round half-even at the 3rd
    # decimal, C-style nan/inf spellings
    return (
        f"(CASE WHEN isnan({x}) THEN 'nan' "
        f"WHEN ({x}) = 'Infinity'::DOUBLE THEN 'inf' "
        f"WHEN ({x}) = '-Infinity'::DOUBLE THEN '-inf' "
        f"ELSE printf('%.3f', roundbankers(({x}) * 1000, 0) / 1000) END)"
    )


def _sql_rint_int(x: str) -> str:
    return f"CAST(roundbankers({x}, 0) AS INT)"


def _sql_band_case(key: str) -> str:
    whens = " ".join(f"WHEN {k} THEN {b}" for k, b in BAND_TABLE)
    return f"(CASE CAST(trunc(10 * {key}) AS INT) {whens} ELSE 9999 END)"


_WDTIME = "strftime(make_timestamp(\"Date\" * 1000000), '%Y-%m-%d:%H:%M')"

# CTE chain computing the full enrichment; mirrors functions/geo.py
ENRICH_SQL_CTES = f"""
spots AS ({SYNTH_SPOTS_SQL}),
base AS (
  SELECT *,
    {_sql_lat('"Grid"')} AS tx_lat, {_sql_lon('"Grid"')} AS tx_lon,
    {_sql_lat('"ReporterGrid"')} AS rx_lat, {_sql_lon('"ReporterGrid"')} AS rx_lon
  FROM spots
),
azi AS (
  SELECT *,
    {_sql_pmod360(f"atan2(sin(tx_lon*{D2R} - rx_lon*{D2R}) * cos(tx_lat*{D2R}), cos(rx_lat*{D2R})*sin(tx_lat*{D2R}) - sin(rx_lat*{D2R})*cos(tx_lat*{D2R})*cos(tx_lon*{D2R} - rx_lon*{D2R})) * {R2D}")} AS rx_azi,
    {_sql_pmod360(f"atan2(sin(-(tx_lon*{D2R} - rx_lon*{D2R})) * cos(rx_lat*{D2R}), cos(tx_lat*{D2R})*sin(rx_lat*{D2R}) - sin(tx_lat*{D2R})*cos(rx_lat*{D2R})*cos(-(tx_lon*{D2R} - rx_lon*{D2R}))) * {R2D}")} AS tx_azi
  FROM base
),
v1 AS (
  SELECT *, CASE WHEN tx_lon = rx_lon THEN {_sql_maxabs("tx_lat", "rx_lat")}
                 ELSE {_sql_acos(f"sin(rx_azi*{D2R})*cos(rx_lat*{D2R})")} * {R2D} END AS v_lat_raw
  FROM azi
),
v2 AS (SELECT *, CASE WHEN v_lat_raw > 90.0 THEN 180.0 - v_lat_raw ELSE v_lat_raw END AS v_lat1 FROM v1),
v3 AS (SELECT *, {_sql_acos(f"tan(rx_lat*{D2R}) / tan(v_lat1*{D2R})")} * {R2D} AS acos_term FROM v2),
v4 AS (
  SELECT *, CASE WHEN rx_azi < 180.0 THEN {_sql_pmod360("(rx_lon + acos_term) + 360.0")}
                 ELSE {_sql_pmod360("(rx_lon - acos_term) + 360.0")} END AS v_lon_raw
  FROM v3
),
v5 AS (SELECT *, CASE WHEN v_lon_raw > 180.0 THEN v_lon_raw - 360.0 ELSE v_lon_raw END AS v_lon1 FROM v4),
v6 AS (
  SELECT *, ((NOT isnan(v_lon1)) AND (v_lon1 < least(tx_lon, rx_lon) OR v_lon1 > greatest(tx_lon, rx_lon))) AS off_track
  FROM v5
),
enr AS (
  SELECT *,
    CASE WHEN off_track THEN {_sql_maxabs("tx_lat", "rx_lat")} ELSE v_lat1 END AS v_lat,
    CASE WHEN off_track THEN (CASE WHEN abs(tx_lat) >= abs(rx_lat) THEN tx_lon ELSE rx_lon END) ELSE v_lon1 END AS v_lon,
    {_sql_band_case('"MHz"')} AS wd_band
  FROM v6
)
"""

_ENRICH27_SQL = f"""
WITH {ENRICH_SQL_CTES}
SELECT
  {_WDTIME} AS wd_time,
  "Spotnum", "Date", "Reporter", "ReporterGrid", "dB", "MHz", "CallSign",
  "Grid", "Power", "Drift", "distance", "azimuth", "Band", "version", "code",
  wd_band,
  '-999.9' AS wd_c2_noise,
  '-999.9' AS wd_rms_noise,
  {_sql_rint_int("rx_azi")} AS wd_rx_az,
  {_sql_fmt3("rx_lat")} AS wd_rx_lat,
  {_sql_fmt3("rx_lon")} AS wd_rx_lon,
  {_sql_rint_int("tx_azi")} AS wd_tx_az,
  {_sql_fmt3("tx_lat")} AS wd_tx_lat,
  {_sql_fmt3("tx_lon")} AS wd_tx_lon,
  {_sql_fmt3("v_lat")} AS wd_v_lat,
  {_sql_fmt3("v_lon")} AS wd_v_lon
FROM enr
"""


# ------------------------------------------------------------------- queries


@register("pipeline_enrich27", _ENRICH27_SQL)
def pipeline_enrich27(spark, sf_dir):
    """The flagship parity dataflow: synth spots -> full 27-column
    enrichment in wire format (ref: wsprnet_azi_calc.py end to end)."""
    spots = pipeline.with_wd_time(synth_spots(spark, sf_dir))
    return pipeline.to_wire(pipeline.enrich(spots))


@register(
    "f_maidenhead",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL})
SELECT "Spotnum",
  {_sql_lat('"Grid"')} AS tx_lat, {_sql_lon('"Grid"')} AS tx_lon,
  {_sql_lat('"ReporterGrid"')} AS rx_lat, {_sql_lon('"ReporterGrid"')} AS rx_lon
FROM spots
""",
)
def f_maidenhead(spark, sf_dir):
    """Maidenhead decode as native expressions (ref: wsprnet_azi_calc.py:77-90)."""
    s = synth_spots(spark, sf_dir)
    return s.select(
        "Spotnum",
        grid_lat(F.col("Grid")).alias("tx_lat"),
        grid_lon(F.col("Grid")).alias("tx_lon"),
        grid_lat(F.col("ReporterGrid")).alias("rx_lat"),
        grid_lon(F.col("ReporterGrid")).alias("rx_lon"),
    )


@register(
    "f_azimuth",
    f"""
WITH {ENRICH_SQL_CTES}
SELECT "Spotnum", {_sql_rint_int("rx_azi")} AS wd_rx_az, {_sql_rint_int("tx_azi")} AS wd_tx_az
FROM enr
""",
)
def f_azimuth(spark, sf_dir):
    """Great-circle azimuths at rx and tx, banker's-rounded to int
    (ref: wsprnet_azi_calc.py:100-111,174,177)."""
    enr = pipeline.enrich(pipeline.with_wd_time(synth_spots(spark, sf_dir)))
    return enr.select("Spotnum", "wd_rx_az", "wd_tx_az")


@register(
    "f_vertex",
    f"""
WITH {ENRICH_SQL_CTES}
SELECT "Spotnum", {_sql_fmt3("v_lat")} AS wd_v_lat, {_sql_fmt3("v_lon")} AS wd_v_lon
FROM enr
""",
)
def f_vertex(spark, sf_dir):
    """Great-circle path vertex with off-track snap and NaN
    propagation (ref: wsprnet_azi_calc.py:113-136)."""
    enr = pipeline.to_wire(
        pipeline.enrich(pipeline.with_wd_time(synth_spots(spark, sf_dir)))
    )
    return enr.select("Spotnum", "wd_v_lat", "wd_v_lon")


@register(
    "f_band_from_freq",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL})
SELECT "Spotnum", "MHz", {_sql_band_case('"MHz"')} AS wd_band FROM spots
""",
)
def f_band_from_freq(spark, sf_dir):
    """freq -> band via the literal map expression (no join, no
    shuffle) (ref: wsprnet_azi_calc.py:55-75,137-139)."""
    from ..functions import band_from_mhz

    s = synth_spots(spark, sf_dir)
    return s.select("Spotnum", "MHz", band_from_mhz(F.col("MHz")).alias("wd_band"))


@register(
    "join_band_lookup",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL}),
dim(freq_key, band) AS (VALUES {", ".join(f"({k}, {b})" for k, b in BAND_TABLE)})
SELECT s."Spotnum", s."MHz", coalesce(d.band, 9999) AS wd_band
FROM spots s LEFT JOIN dim d ON CAST(trunc(10 * s."MHz") AS INT) = d.freq_key
""",
)
def join_band_lookup(spark, sf_dir):
    """The same lookup as a broadcast LEFT join against the 18-row
    dimension + coalesce default (ref: wsprnet_azi_calc.py:138-139)."""
    s = synth_spots(spark, sf_dir)
    return join_band(s, band_dim(spark)).select("Spotnum", "MHz", "wd_band")


@register(
    "f_epoch_to_wdtime",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL})
SELECT "Spotnum", {_WDTIME} AS wd_time FROM spots
""",
)
def f_epoch_to_wdtime(spark, sf_dir):
    """epoch -> yyyy-MM-dd:HH:mm UTC (ref: wsprnet_azi_calc.py:196,
    wsprnet-scraper.sh:320)."""
    s = pipeline.with_wd_time(synth_spots(spark, sf_dir))
    return s.select("Spotnum", "wd_time")


@register(
    "f_round_int",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL})
SELECT "Spotnum", {_sql_rint_int('"Spotnum" * (0.25::DOUBLE)')} AS rounded FROM spots
""",
)
def f_round_int(spark, sf_dir):
    """Banker's rounding to int — ties land on .25 multiples so
    half-even vs half-up is actually exercised
    (ref: wsprnet_azi_calc.py:174,177)."""
    s = synth_spots(spark, sf_dir)
    return s.select(
        "Spotnum", rint_int(F.col("Spotnum") * F.lit(0.25)).alias("rounded")
    )


@register(
    "f_fmt3",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL})
SELECT "Spotnum", {_sql_fmt3('"MHz" / 7')} AS fixed3 FROM spots
""",
)
def f_fmt3(spark, sf_dir):
    """C-style %.3f fixed formatting (ref: wsprnet_azi_calc.py:175-181)."""
    s = synth_spots(spark, sf_dir)
    return s.select("Spotnum", fmt3(F.col("MHz") / 7).alias("fixed3"))


@register(
    "f_epoch_cycle",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL})
SELECT "Spotnum", CAST(fmod(fmod("Date" + "Spotnum", 120) + 120, 120) AS BIGINT) AS cycle_sec FROM spots
""",
)
def f_epoch_cycle(spark, sf_dir):
    """Position within the 120 s WSPR cycle (ref: wsprnet-scraper.sh:354-355)."""
    s = synth_spots(spark, sf_dir)
    return s.select(
        "Spotnum",
        epoch_cycle(F.col("Date") + F.col("Spotnum")).cast("long").alias("cycle_sec"),
    )


@register(
    "agg_max_cursor",
    f"""WITH spots AS ({SYNTH_SPOTS_SQL}) SELECT CAST(max("Spotnum") AS BIGINT) AS last_spotnum FROM spots""",
)
def agg_max_cursor(spark, sf_dir):
    """Cursor recovery: global max(Spotnum) (ref: wsprnet-scraper.sh:211-229)."""
    return synth_spots(spark, sf_dir).agg(
        F.max("Spotnum").alias("last_spotnum")
    )


@register(
    "agg_count_rows",
    f"""WITH spots AS ({SYNTH_SPOTS_SQL}) SELECT CAST(count(*) AS BIGINT) AS n FROM spots""",
)
def agg_count_rows(spark, sf_dir):
    """count(*) cross-check (ref: wsprnet-scraper.sh:249,271-274)."""
    return synth_spots(spark, sf_dir).agg(F.count(F.lit(1)).alias("n"))


@register(
    "agg_first_last",
    f"""WITH spots AS ({SYNTH_SPOTS_SQL}) SELECT CAST(min("Spotnum") AS BIGINT) AS first_spotnum, CAST(max("Spotnum") AS BIGINT) AS last_spotnum FROM spots""",
)
def agg_first_last(spark, sf_dir):
    """First/last spot of a batch (ref: wsprnet-scraper.sh:280-282,330-341)."""
    return synth_spots(spark, sf_dir).agg(
        F.min("Spotnum").alias("first_spotnum"),
        F.max("Spotnum").alias("last_spotnum"),
    )


@register(
    "agg_distinct_dates",
    f"""WITH spots AS ({SYNTH_SPOTS_SQL}) SELECT DISTINCT "Date" FROM spots""",
)
def agg_distinct_dates(spark, sf_dir):
    """Distinct epochs in a batch (ref: wsprnet-scraper.sh:315)."""
    return synth_spots(spark, sf_dir).select("Date").distinct()


@register(
    "agg_gap_stats",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL}),
gaps AS (
  SELECT "Spotnum" - lag("Spotnum") OVER (ORDER BY "Spotnum") - 1 AS gap FROM spots
)
SELECT CAST(count(*) AS BIGINT) AS total_gaps,
       CAST(coalesce(sum(gap), 0) AS BIGINT) AS total_missing,
       CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_size
FROM gaps WHERE gap > 0
""",
)
def agg_gap_stats(spark, sf_dir):
    """Sequence-gap telemetry (ref: wsprnet-scraper.sh:284-309).
    block_size 8192 so the test SFs actually exercise the block-
    partitioned parallel path, boundary gaps included."""
    from ..operators.sequence import gap_stats

    return gap_stats(synth_spots(spark, sf_dir), "Spotnum", 8192)


@register(
    "win_gap_lag",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL}),
gaps AS (
  SELECT "Spotnum", "Spotnum" - lag("Spotnum") OVER (ORDER BY "Spotnum") - 1 AS gap FROM spots
)
SELECT "Spotnum", CAST(gap AS BIGINT) AS gap FROM gaps WHERE gap > 0
""",
)
def win_gap_lag(spark, sf_dir):
    """Per-row lag diff over the ordered sequence (ref:
    wsprnet-scraper.sh:284-309). Block-partitioned (operators/
    sequence.py) — same rows as a global lag, but parallel: an
    unpartitioned window is a single task at scale."""
    from ..operators.sequence import sequence_gaps

    return sequence_gaps(synth_spots(spark, sf_dir), "Spotnum", 8192)


@register(
    "sort_global",
    f"""WITH spots AS ({SYNTH_SPOTS_SQL}) SELECT "Spotnum", "CallSign" FROM spots ORDER BY "Spotnum"
""",
)
def sort_global(spark, sf_dir):
    """Global numeric sort by Spotnum (ref: wsprnet-scraper.sh:267-269;
    numeric-vs-lexicographic deviation recorded in SURVEY §2.6)."""
    return (
        synth_spots(spark, sf_dir)
        .orderBy("Spotnum")
        .select("Spotnum", "CallSign")
    )


@register(
    "topk_1",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL})
SELECT "Spotnum", "Reporter" FROM spots ORDER BY "Spotnum" DESC LIMIT 1
""",
)
def topk_1(spark, sf_dir):
    """ORDER BY DESC LIMIT 1 — Spark plans TakeOrderedAndProject
    (ref: wsprnet-scraper.sh:215)."""
    return (
        synth_spots(spark, sf_dir)
        .orderBy(F.desc("Spotnum"))
        .limit(1)
        .select("Spotnum", "Reporter")
    )


@register(
    "udf_enrich_pandas",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL})
SELECT "Spotnum", {_sql_lat('"Grid"')} AS tx_lat, {_sql_lon('"Grid"')} AS tx_lon
FROM spots
""",
)
def udf_enrich_pandas(spark, sf_dir):
    """The enrichment's UDF form: vectorized pandas_udf Maidenhead
    decode, same results as the native expressions (ref row loop:
    wsprnet_azi_calc.py:151,192; native is the fast path, this is the
    comparison point)."""
    from ..operators.udf_variants import grid_lat_pdf, grid_lon_pdf

    s = synth_spots(spark, sf_dir)
    return s.select(
        "Spotnum",
        grid_lat_pdf(F.col("Grid")).alias("tx_lat"),
        grid_lon_pdf(F.col("Grid")).alias("tx_lon"),
    )


@register(
    "win_batch_boundary_gap",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL}),
batches AS (
  SELECT "Date" AS batch_epoch,
         min("Spotnum") AS first_spot, max("Spotnum") AS last_spot,
         CAST(COUNT(*) AS BIGINT) AS n_spots
  FROM spots GROUP BY "Date"
)
SELECT batch_epoch, first_spot, last_spot, n_spots,
       first_spot - lag(last_spot) OVER (ORDER BY batch_epoch) - 1 AS boundary_gap
FROM batches
""",
)
def win_batch_boundary_gap(spark, sf_dir):
    """Inter-batch continuity check (ref: wsprnet-scraper.sh:335-339)
    as a relational plan: each 2-minute WSPR cycle is one scrape
    batch; lag(last_spot) across batch order exposes the boundary
    gaps. The live-stream form of the same check (driver-state lag in
    foreachBatch) runs in streaming.ingest.GapMonitor."""
    b = (
        synth_spots(spark, sf_dir)
        .groupBy(F.col("Date").alias("batch_epoch"))
        .agg(
            F.min("Spotnum").alias("first_spot"),
            F.max("Spotnum").alias("last_spot"),
            F.count(F.lit(1)).alias("n_spots"),
        )
    )
    from pyspark.sql import Window

    # per-batch summary (one row per 2-min cycle) — deliberately
    # single-partition over reduced input (audited, plans/audit.py)
    w = Window.orderBy("batch_epoch")
    return b.withColumn(
        "boundary_gap", F.col("first_spot") - F.lag("last_spot", 1).over(w) - 1
    )


@register(
    "agg_geo_grid",
    f"""
WITH spots AS ({{SYNTH}}),
ll AS (
  SELECT CAST("dB" AS INT) AS db,
    {{LAT}} AS lat, {{LON}} AS lon
  FROM spots
)
SELECT CAST(floor((lat + 90) / 10) AS INT) AS cell_lat,
       CAST(floor((lon + 180) / 10) AS INT) AS cell_lon,
       CAST(count(*) AS BIGINT) AS n_spots,
       CAST(SUM(db) AS BIGINT) AS sum_db,
       CAST(min(db) AS INT) AS min_db, CAST(max(db) AS INT) AS max_db
FROM ll GROUP BY 1, 2
""".format(SYNTH=SYNTH_SPOTS_SQL, LAT=_sql_lat('"Grid"'), LON=_sql_lon('"Grid"')),
)
def agg_geo_grid(spark, sf_dir):
    """Propagation heatmap: spots per 10°x10° geographic cell with
    SNR stats — the 'activity by grid square' rollup WSPR users run
    against the sink DB (the map view on wsprnet.org). Locator
    decode (functions/locator.py, ref wsprnet_azi_calc.py:77-90) is
    a pure projection, the cell id is integer floor arithmetic over
    it, and the single shuffle is the map-side-combined cell
    aggregation — at 100 TB this is scan + one sketch-small
    exchange (at most 18x36 cells survive)."""
    from ..functions.locator import grid_lat, grid_lon

    spots = synth_spots(spark, sf_dir)
    lat, lon = grid_lat(F.col("Grid")), grid_lon(F.col("Grid"))
    return (
        spots.select(
            F.col("dB").cast("int").alias("db"),
            F.floor((lat + 90) / 10).cast("int").alias("cell_lat"),
            F.floor((lon + 180) / 10).cast("int").alias("cell_lon"),
        )
        .groupBy("cell_lat", "cell_lon")
        .agg(
            F.count(F.lit(1)).alias("n_spots"),
            F.sum("db").cast("long").alias("sum_db"),
            F.min("db").alias("min_db"),
            F.max("db").alias("max_db"),
        )
    )


@register(
    "agg_band_activity",
    f"""
WITH spots AS ({{SYNTH}})
SELECT {{BAND}} AS band,
       CAST("Date" // 600 * 600 AS BIGINT) AS bucket_s,
       CAST(count(*) AS BIGINT) AS n_spots,
       CAST(count(DISTINCT "Reporter") AS BIGINT) AS n_reporters
FROM spots GROUP BY 1, 2
""".format(SYNTH=SYNTH_SPOTS_SQL, BAND=_sql_band_case('"MHz"')),
)
def agg_band_activity(spark, sf_dir):
    """Band-activity time series: spots and distinct reporters per
    (band, 10-minute bucket) — wsprnet.org's other canonical view
    (activity-per-band chart). Band derivation is the literal-map
    projection (zero shuffle, ref wsprnet_azi_calc.py:55-75), the
    bucket is integer epoch arithmetic, and the one exchange is the
    map-side-combined rollup whose output is #bands x #buckets."""
    from ..functions import band_from_mhz

    s = synth_spots(spark, sf_dir)
    return (
        s.select(
            band_from_mhz(F.col("MHz")).alias("band"),
            (F.expr("Date DIV 600") * 600).cast("long").alias("bucket_s"),
            "Reporter",
        )
        .groupBy("band", "bucket_s")
        .agg(
            F.count(F.lit(1)).alias("n_spots"),
            F.count_distinct("Reporter").alias("n_reporters"),
        )
    )


_HAV = (
    "2 * 6371.0 * asin(least(sqrt("
    "sin((b.rx_lat - a.rx_lat) * 0.017453292519943295 / 2)"
    " * sin((b.rx_lat - a.rx_lat) * 0.017453292519943295 / 2)"
    " + cos(a.rx_lat * 0.017453292519943295)"
    " * cos(b.rx_lat * 0.017453292519943295)"
    " * sin((b.rx_lon - a.rx_lon) * 0.017453292519943295 / 2)"
    " * sin((b.rx_lon - a.rx_lon) * 0.017453292519943295 / 2)"
    "), 1.0))"
)


@register(
    "join_geo_radius",
    f"""
WITH spots AS ({SYNTH_SPOTS_SQL}),
rx AS (
  SELECT "Spotnum" AS sid,
    {_sql_lat('"ReporterGrid"')} AS rx_lat,
    {_sql_lon('"ReporterGrid"')} AS rx_lon
  FROM spots WHERE "Spotnum" % 23 = 0
)
SELECT a.sid AS a_id, b.sid AS b_id, {_HAV} AS dist_km
FROM rx a JOIN rx b
  ON a.sid < b.sid
 AND abs(a.rx_lat - b.rx_lat) <= 3.0
 AND abs(a.rx_lon - b.rx_lon) <= 3.0
WHERE {_HAV} <= 300.0
""",
)
def join_geo_radius(spark, sf_dir):
    """Spatial neighbor self-join over receiver positions (decoded
    from ReporterGrid): unordered station pairs within a 3-degree box
    AND 300 km great-circle radius — "who can hear whom locally", the
    geo query the reference's spot table invites. Runs as the
    grid-cell bucketed EQUI-join of operators/spatial.py (3x3
    neighborhood explode, one hash shuffle, emit-once by home cell,
    no DISTINCT) where the naive form is a broadcast nested loop; the
    oracle states the plain theta join with the identical haversine
    operation order, so distances are bit-exact."""
    from ..operators.spatial import geo_neighbor_join

    s = synth_spots(spark, sf_dir).filter(F.col("Spotnum") % 23 == 0)
    rx = s.select(
        F.col("Spotnum").alias("sid"),
        grid_lat(F.col("ReporterGrid")).alias("rx_lat"),
        grid_lon(F.col("ReporterGrid")).alias("rx_lon"),
    )
    # Lazy localCheckpoint: without it Catalyst fuses the Maidenhead
    # decode tree into the 3×3-neighborhood join stage, replicating it
    # past the whole-stage-codegen method limit — Spark then logs a
    # CodeGenerator ERROR and runs the stage interpreted. Cutting the
    # (tiny, filtered) point relation out of the fused stage keeps the
    # join inside codegen; on a cluster this is the same "materialize
    # decoded dimensions once" move a layout table would make.
    rx = rx.localCheckpoint(eager=False)
    return geo_neighbor_join(
        rx, "sid", "rx_lat", "rx_lon", cell_deg=3.0, radius_km=300.0
    ).select(F.col("a_id").cast("long").alias("a_id"), F.col("b_id").cast("long").alias("b_id"), "dist_km")
