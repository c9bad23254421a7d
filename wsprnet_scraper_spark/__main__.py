"""CLI entry points mirroring the reference's three executables.

    python -m wsprnet_scraper_spark enrich -i spots.json -o outdir [--wire]
        = wsprnet_azi_calc.py -i FILE -o FILE (README.md:18-22): batch
          enrichment, JSON or CSV input by extension, `-` = stdin/stdout
          (spooled through temp files — Spark reads paths, not pipes).

    python -m wsprnet_scraper_spark upload -i csv_or_dir --sink DIR
        = ts_upload_batch.py -i FILE (README.md:31-33): load a stage
          CSV into the sink with Spotnum idempotency. The sink here is
          the parquet stand-in; --jdbc-url switches to the JDBC writer
          (needs a driver jar).

    python -m wsprnet_scraper_spark scrape --landing DIR --sink DIR \
           --checkpoint DIR [--backfill DIR | --once]
        = wsprnet-scraper.sh -a: the ingest daemon. --backfill replays
          archived landing files through the same pipeline (the
          reference's v0.9 mode, wsprnet-scraper.sh:10); --once drains
          what's landed and exits (availableNow); the default loops on
          the 55/85/115 s cycle schedule, fetching via the REST API
          (needs network + a session cookie).

Orchestration parity: SURVEY.md §2.11 (getopts/argparse surface,
daemon control). Process supervision (systemd units, pid files) is
deployment, not engine, and is not reproduced.
"""

from __future__ import annotations

import argparse
import sys
import tempfile
from pathlib import Path


def cmd_enrich(args) -> int:
    from . import pipeline
    from .session import get_session

    spark = get_session("wspr-enrich")
    # `-` = stdin/stdout, spooled through one temp dir (Spark reads
    # and writes paths, not pipes) that is removed on return or raise
    with tempfile.TemporaryDirectory(prefix="wspr_enrich_") as tmp:
        in_path = args.input
        if in_path == "-":
            in_path = f"{tmp}/input{'.csv' if args.csv else '.json'}"
            Path(in_path).write_text(sys.stdin.read())
        is_csv = args.csv or in_path.endswith(".csv")
        df = (
            pipeline.parse_csv(spark, in_path)
            if is_csv
            else pipeline.parse_json(spark, in_path)
        )
        enriched = pipeline.enrich(pipeline.with_wd_time(df))
        if args.output == "-":
            out = Path(tmp) / "out"
            pipeline.write_wire_csv(enriched, str(out))
            for part in sorted(out.glob("part-*.csv")):
                sys.stdout.write(part.read_text())
        elif args.wire:
            pipeline.write_wire_csv(enriched, args.output)
        else:
            enriched.write.mode("overwrite").parquet(args.output)
    return 0


def cmd_upload(args) -> int:
    from . import pipeline
    from .session import get_session
    from .streaming.ingest import append_to_sink

    spark = get_session("wspr-upload")
    df = pipeline.parse_csv(spark, args.input)
    enriched = pipeline.enrich(pipeline.with_wd_time(df))
    if args.jdbc_url:
        from .sources.sinks import write_jdbc_append

        write_jdbc_append(enriched, args.jdbc_url, coalesce_one=args.atomic)
    else:
        append_to_sink(spark, enriched.persist(), args.sink)
    return 0


def cmd_scrape(args) -> int:
    from .session import get_session
    from .streaming import Cursor, recover_cursor_from_sink, start_ingest
    from .streaming.ingest import GapMonitor

    spark = get_session("wspr-scrape")
    landing = args.backfill or args.landing
    monitor = GapMonitor()

    if args.backfill or args.once:
        q = start_ingest(
            spark, landing, args.sink, args.checkpoint, monitor=monitor
        )
        q.awaitTermination()
        for rec in monitor.records:
            print(rec)
        return 0

    # live daemon: cursor seeded from the sink (fail hard when empty,
    # like the reference's cold-start check, wsprnet-scraper.sh:228)
    cursor = Cursor(Path(args.landing) / "_cursor.json")
    if cursor.read() == 0:
        recovered = recover_cursor_from_sink(spark, args.sink)
        if recovered is None:
            print("no cursor and empty sink; refusing to start", file=sys.stderr)
            return 1
        cursor.advance(recovered)
    from .streaming.daemon import run_scrape_daemon
    from .streaming.fetcher import http_fetch_spots, http_login

    cookie = http_login(args.login_url, args.user, args.password)
    # phase-locked 55/85/115 loop: fetch -> land -> availableNow
    # drain per tick (wsprnet-scraper.sh:353-376); unbounded, like
    # the reference under systemd
    run_scrape_daemon(  # pragma: no cover - needs network
        spark,
        lambda start: http_fetch_spots(args.api_url, cookie, start),
        args.landing,
        args.sink,
        args.checkpoint,
        monitor=monitor,
        cursor=cursor,
        # the CLI daemon OWNS its session (built above, nothing else
        # caches on it), so the clearCache-based maintenance is safe
        # here; library embedders get the opt-in default (None)
        maintenance_every=720,
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="wsprnet_scraper_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("enrich", help="batch 16->27 column enrichment")
    p.add_argument("-i", "--input", required=True, help="JSON/CSV path or -")
    p.add_argument("-o", "--output", required=True, help="output dir or -")
    p.add_argument("--csv", action="store_true", help="force CSV input")
    p.add_argument("--wire", action="store_true", help="wire CSV output")
    p.set_defaults(fn=cmd_enrich)

    p = sub.add_parser("upload", help="load stage CSV into the sink")
    p.add_argument("-i", "--input", required=True)
    p.add_argument("--sink", help="parquet sink dir")
    p.add_argument("--jdbc-url", help="JDBC URL (needs driver jar)")
    p.add_argument("--atomic", action="store_true", help="single-transaction")
    p.set_defaults(fn=cmd_upload)

    p = sub.add_parser("scrape", help="ingest daemon / backfill replay")
    p.add_argument("--landing", help="landing dir (live mode)")
    p.add_argument("--sink", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--backfill", help="replay archived landing files")
    p.add_argument("--once", action="store_true", help="drain landed files, exit")
    p.add_argument("--api-url", default="http://wsprnet.org/drupal/wsprnet/spots/json")
    p.add_argument("--login-url", default="http://wsprnet.org/drupal/rest/user/login")
    p.add_argument("--user")
    p.add_argument("--password")
    p.set_defaults(fn=cmd_scrape)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
