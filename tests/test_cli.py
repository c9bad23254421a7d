"""CLI parity: the reference's three entry points as module commands."""

from __future__ import annotations

import json
from pathlib import Path


def test_cli_enrich_wire(spark, tmp_path, capsys):
    from wsprnet_scraper_spark.__main__ import main

    out = tmp_path / "enriched"
    rc = main(
        [
            "enrich",
            "-i",
            "/root/repo/tests/golden/spots_input.json",
            "-o",
            str(out),
            "--wire",
        ]
    )
    assert rc == 0
    lines = []
    for part in out.glob("part-*.csv"):
        lines += part.read_text().strip().splitlines()
    assert len(lines) == 400
    assert all(len(line.split(",")) == 27 for line in lines)


def test_cli_enrich_stdin_leaves_no_spool(spark, tmp_path, monkeypatch):
    import io
    import tempfile

    from wsprnet_scraper_spark.__main__ import main

    # every temp dir the command makes lands in tmp_path
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    spots = Path(__file__).parent / "golden" / "spots_input.json"
    monkeypatch.setattr("sys.stdin", io.StringIO(spots.read_text()))
    out = tmp_path / "enriched"
    assert main(["enrich", "-i", "-", "-o", str(out), "--wire"]) == 0
    lines = []
    for part in out.glob("part-*.csv"):
        lines += part.read_text().strip().splitlines()
    assert len(lines) == 400
    assert sorted(p.name for p in tmp_path.iterdir()) == ["enriched"]


def test_cli_upload_then_backfill_scrape(spark, tmp_path):
    from wsprnet_scraper_spark.__main__ import main

    # stage CSV (16 cols) -> upload into the parquet sink
    rows = []
    for n in range(1, 6):
        rows.append(
            f"2023-11-14:22:00,{n},1700000000,R1,EN50wc,-10,14.0971,C{n},JO62qm,37,0,100,45,20,2.6.1,1"
        )
    stage = tmp_path / "stage.csv"
    stage.write_text("\n".join(rows) + "\n")
    sink = tmp_path / "sink"
    assert main(["upload", "-i", str(stage), "--sink", str(sink)]) == 0
    assert spark.read.parquet(str(sink)).count() == 5
    # idempotent: re-upload adds nothing
    assert main(["upload", "-i", str(stage), "--sink", str(sink)]) == 0
    assert spark.read.parquet(str(sink)).count() == 5

    # backfill replay of archived landing files through the daemon path
    archive = tmp_path / "archive"
    archive.mkdir()
    spots = [
        {
            "Spotnum": str(n), "Date": "1700000120", "Reporter": "R2",
            "ReporterGrid": "FN31pr", "dB": "-5", "MHz": "7.0386",
            "CallSign": f"D{n}", "Grid": "IO91wm", "Power": "30", "Drift": "0",
            "distance": "500", "azimuth": "270", "Band": "40",
            "version": "2.6.1", "code": "1",
        }
        for n in range(6, 11)
    ]
    (archive / "old.json").write_text("\n".join(json.dumps(s) for s in spots))
    assert (
        main(
            [
                "scrape",
                "--backfill",
                str(archive),
                "--sink",
                str(sink),
                "--checkpoint",
                str(tmp_path / "ckpt"),
            ]
        )
        == 0
    )
    out = spark.read.parquet(str(sink))
    assert out.count() == 10
    assert out.filter("wd_band = 40").count() == 5
