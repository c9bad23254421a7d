"""Tests of the benchmark's own rules; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import metrics, run, spots, tables

REPO = Path(__file__).resolve().parents[2]


# -- generator ---------------------------------------------------------------


def _batches(seed, n=3):
    stream = spots.SpotStream(seed)
    return [stream.batch() for _ in range(n)]


def test_spot_batches_repeat_per_seed():
    assert _batches(7) == _batches(7)
    assert _batches(7) != _batches(8)


def test_batches_hold_dups_overlap_and_gaps():
    b0, b1, _ = _batches(3)
    ids0 = [int(s["Spotnum"]) for s in b0]
    ids1 = [int(s["Spotnum"]) for s in b1]
    assert len(set(ids0)) == 2000 and len(ids0) > 2000  # in-batch duplicates
    overlap = set(ids0) & set(ids1)
    assert len(overlap) == 25 and min(set(ids1) - overlap) > max(ids0) - 100
    rec = spots.gap_record(ids0, None)
    assert rec["total_gaps"] > 0 and rec["boundary_gap"] is None
    assert rec["total_missing"] == rec["last_spotnum"] - rec["first_spotnum"] + 1 - 2000


def test_gap_record_counts_like_the_reference():
    rec = spots.gap_record([10, 11, 13, 20, 20], last_spotnum=5)
    assert rec == {"n_spots": 4, "first_spotnum": 10, "last_spotnum": 20,
                   "total_gaps": 2, "total_missing": 7, "max_gap_size": 6,
                   "boundary_gap": 4}


def test_grids_cover_the_maidenhead_space():
    stream = spots.SpotStream(1)
    grids = [s[k] for _ in range(20) for s in stream.batch() for k in ("Grid", "ReporterGrid")]
    assert {len(g) for g in grids} == {4, 6}
    assert {g[0] for g in grids} == set(spots.FIELD)
    assert {g[1] for g in grids} == set(spots.FIELD)
    assert {g[2:4] for g in grids} == {f"{i:02d}" for i in range(100)}
    six = [g for g in grids if len(g) == 6]
    assert {g[4] for g in six} == {g[5] for g in six} == set(spots.SUBSQUARE)


def test_frequencies_cover_every_band_and_off_table():
    from wsprnet_scraper_spark.schema import BAND_TABLE

    assert spots.BAND_KEYS == tuple(k for k, _ in BAND_TABLE)
    stream = spots.SpotStream(2)
    keys = {int(float(s["MHz"]) * 10) for _ in range(10) for s in stream.batch()}
    assert set(spots.BAND_KEYS) <= keys
    assert keys - set(spots.BAND_KEYS)


def test_tables_repeat_per_seed():
    a, b, c = tables.build(5, scale=0.001), tables.build(5, scale=0.001), tables.build(6, scale=0.001)
    assert set(a) == set(tables.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


# -- statistics --------------------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    values = list(range(1, 101))
    assert metrics.tail(values) == (90.0, 90.0)  # p95 leaves only 5 above
    assert metrics.tail(list(range(1, 1001))) == (990.0, 99.0)
    assert metrics.tail(list(range(1, 21))) == (10.0, 50.0)
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)  # too few: the maximum
    assert metrics.tail([]) == (0.0, 100.0)


def test_median_and_geomean():
    assert metrics.median([3, 1, 2]) == 2.0
    assert metrics.geomean([1.0, 4.0]) == pytest.approx(2.0)


def test_union_length_merges_overlaps():
    from perfbench.trace import union_length

    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


# -- metric names ------------------------------------------------------------


def test_benchmark_json_is_well_formed():
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    metrics.check_names(bench["end_to_end"] + bench["per_layer"])
    metrics.check_names([{"name": w["name"], "unit": "x"} for w in bench["workloads"]])
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in bench["end_to_end"] if m["name"] == "setup_s").items()
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])
    from perfbench.workloads import QUERY_MIX, WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    names = {m["name"] for m in bench["per_layer"]}
    assert {f"query.{q}.wall_s" for q in QUERY_MIX} <= names


@pytest.mark.parametrize("bad", ["", "_x", "a b", "x" * 65, "é", "a\n"])
def test_bad_names_are_refused(bad):
    with pytest.raises(ValueError):
        metrics.check_names([{"name": bad, "unit": "s"}])


def test_repeated_name_is_refused():
    with pytest.raises(ValueError):
        metrics.check_names([{"name": "a", "unit": "s"}, {"name": "a", "unit": "s"}])


# -- error accounting --------------------------------------------------------


class FakeWorkload:
    """Ops cycle: ok, raises, wrong output."""

    min_ops = 2

    def __init__(self):
        self.i = 0

    def top_up(self):
        pass

    def op(self):
        self.i += 1
        if self.i % 3 == 2:
            raise RuntimeError("boom")

    def check_op(self):
        return self.i % 3 == 1

    def state(self):
        return ""


def test_raised_and_wrong_ops_count_as_failed():
    tally = metrics.Tally()
    untraced, records = run.measure(FakeWorkload(), 0.0, tally)
    while tally.attempted < 6:
        more, _ = run.measure(FakeWorkload(), 0.0, tally)
        untraced += more
    assert tally.failed == tally.attempted - len(untraced)
    assert records == []
    assert 0 < tally.error_rate < 1


class BrokenWorkload(FakeWorkload):
    """Every op raises."""

    def op(self):
        raise RuntimeError("broken")


def test_loop_ends_when_every_op_fails():
    tally = metrics.Tally()
    untraced, _ = run.measure(BrokenWorkload(), 3600.0, tally)
    assert untraced == [] and tally.attempted == tally.failed == run.MAX_FAILURES
    out = json.loads(metrics.result_line(tally, run.end_to_end(untraced, 1.0),
                                         [{"name": "op_p50_s", "unit": "s"}]))
    assert out["correct"] is False and out["failed"] == out["attempted"]
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    assert set(run.per_layer(untraced, [], tally, bench["per_layer"], rss_mb=1.0)) >= {
        m["name"] for m in bench["per_layer"]}


class UncheckedWorkload(FakeWorkload):
    """No per-op output check: only ops that raise are counted."""

    def op(self):
        self.i += 1

    def check_op(self):
        return None


def test_ops_without_a_check_are_not_counted():
    tally = metrics.Tally()
    untraced, _ = run.measure(UncheckedWorkload(), 0.0, tally)
    assert len(untraced) == UncheckedWorkload.min_ops and tally.attempted == 0


def test_history_summary_matches_its_spotnums():
    from perfbench.workloads import History

    template = [100, 101, 103, 110]
    h = History(template, copies=3)
    ids = [t - k * h.stride for k in range(1, 4) for t in template]
    assert h.summary() == (len(ids), len(set(ids)), min(ids), max(ids), sum(ids))
    assert h.lo == min(ids) and max(ids) < h.hi == template[0]
    assert h.count == 12


def test_result_line_shape():
    declared = [{"name": "op_p50_s", "unit": "s"}, {"name": "setup_s", "unit": "s"}]
    tally = metrics.Tally()
    tally.record(True)
    out = json.loads(metrics.result_line(tally, {"op_p50_s": 1.5, "setup_s": 2}, declared))
    assert out == {"correct": True, "attempted": 1, "failed": 0, "metrics": {
        "op_p50_s": {"value": 1.5, "unit": "s"}, "setup_s": {"value": 2.0, "unit": "s"}}}
    tally.record(False, "x")
    assert json.loads(metrics.result_line(tally, {"op_p50_s": 1, "setup_s": 1}, declared))["correct"] is False
    with pytest.raises(KeyError):
        metrics.result_line(tally, {"op_p50_s": 1}, declared)


def test_per_layer_reports_every_declared_metric():
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    tally = metrics.Tally()
    tally.record(True)
    values = run.per_layer([(1.0, "")], [{"spark.jobs": 3.0, "op.wall_s": 1.1}], tally,
                           bench["per_layer"], rss_mb=900.0)
    assert {m["name"] for m in bench["per_layer"]} <= set(values)
    assert values["spark.jobs"] == 3.0
    assert values["trace.overhead_s"] == pytest.approx(0.1)
    assert values["peak_rss_mb"] == 900.0


def test_bare_directory_exits_nonzero(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "REPO", tmp_path)
    assert run.main(["--workload", "scrape_tick", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""
