#!/usr/bin/env python3
"""Benchmark of the scrape loop and the query layers.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One workload per process: the
process starts its own Spark session (`local[<cores>]`), generates its
inputs from the seed, sets up and warms up, then runs operations in a
closed loop (the next starts when the previous ends) for `--seconds`,
checks the outputs and prints one JSON line as the last line of
stdout: `{"correct", "attempted", "failed", "metrics"}`.

With `--trace 0` the metrics are the end-to-end ones of
BENCHMARK.json, measured with nothing installed around the package.
With `--trace 1` every other operation is traced and the metrics are
the per-layer ones, plus the tracing overhead (traced minus untraced
operation time). Every scratch file lives under `.perfbench_tmp/` in
the checkout and is removed on exit; traced runs also write one JSON
record per operation to `.perfbench_out/`.

Workloads, metrics and the layer each metric belongs to are described
in perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
MAX_FAILURES = 3  # failed operations in a row that end the timed loop


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def prepare_env(tmp: Path) -> None:
    """Scratch locations inside the checkout, and one executor thread
    per two available cores: the JVM's compiler and collector threads
    and the Python driver run beside the task threads, and on a shared
    host a full set of task threads makes the timings follow the host's
    load. Nothing here selects a code path."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_FORCE_HEAL", None)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def measure(wl, seconds: float, tally, tracer=None) -> tuple[list, list]:
    """Closed loop of operations for `seconds`, and at least `wl.min_ops`
    attempts. Returns the untraced operations that passed, as
    (wall_s, state), and the per-layer records of the traced ones that
    passed. Without a tracer every operation is untraced. With one, a
    first untimed operation finishes warming up both paths, then traced
    and untraced operations alternate. The loop gives up after
    MAX_FAILURES failed operations in a row."""
    untraced, records = [], []
    if tracer is not None:
        _untraced_op(wl, tally, "extra warm-up")
    t_end = time.perf_counter() + seconds
    i = failures = 0
    while (time.perf_counter() < t_end or i < wl.min_ops) and failures < MAX_FAILURES:
        wl.top_up()
        if tracer is not None and i % 2 == 0:
            done = traced_op(wl, tracer, tally)
            if done is not None:
                records.append(done)
        else:
            done = _untraced_op(wl, tally, f"op {i}")
            if done is not None:
                untraced.append(done)
        failures = 0 if done is not None else failures + 1
        i += 1
    return untraced, records


def _untraced_op(wl, tally, what: str) -> tuple[float, str] | None:
    t0 = time.perf_counter()
    try:
        wl.op()
    except Exception as e:  # an op that raises is a failed op; keep measuring
        tally.record(False, f"{what}: {e!r}"[:300])
        return None
    wall = time.perf_counter() - t0
    state = wl.state()
    print(f"perfbench: {what} {wall:.3f} s {state}", file=sys.stderr)
    ok = wl.check_op()
    return (wall, state) if ok is None or tally.record(ok, f"{what}: output check") else None


def traced_op(wl, tracer, tally) -> dict | None:
    first = tracer.begin()
    before = wl.layer_snapshot()
    wl.spans = tracer.spans
    t0 = time.perf_counter()
    try:
        with tracer.patched():
            wl.op()
    except Exception as e:
        tally.record(False, f"traced op: {e!r}"[:300])
        tracer.end(first, 0.0)
        return None
    finally:
        wl.spans = None
    wall = time.perf_counter() - t0
    rec = tracer.end(first, wall)
    ok = wl.check_op()
    if ok is not None and not tally.record(ok, "traced op: output check"):
        return None
    rec.update(wl.layer_record(before))
    if "ingest.gap_monitor_s" in rec:
        rec["ingest.sink_s"] = rec.get("ingest.add_batch_ms", 0.0) / 1e3 - rec["ingest.gap_monitor_s"]
    rec["op.wall_s"] = wall
    return rec


def end_to_end(untraced, setup_s: float) -> dict:
    from perfbench.metrics import median

    return {"setup_s": setup_s, "op_p50_s": median(w for w, _ in untraced)}


def per_layer(untraced, records, tally, declared, rss_mb: float) -> dict:
    from perfbench.metrics import median, tail

    values = {m["name"]: median(r.get(m["name"], 0.0) for r in records) for m in declared}
    base = median(w for w, _ in untraced)
    traced_p50 = median(r["op.wall_s"] for r in records)
    values["trace.overhead_s"] = traced_p50 - base
    values["trace.overhead_pct"] = 100.0 * (traced_p50 - base) / base if base else 0.0
    values["op.tail_s"], values["op.tail_pct"] = tail([w for w, _ in untraced])
    values["op.count"] = float(len(untraced) + len(records))
    values["error_rate"] = tally.error_rate
    values["peak_rss_mb"] = rss_mb
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (REPO / "wsprnet_scraper_spark" / "__init__.py").is_file():
        print(f"perfbench: no wsprnet_scraper_spark package under {REPO}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    from perfbench.metrics import Tally, check_names, result_line

    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]
    check_names(bench["end_to_end"] + bench["per_layer"])
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    tmp = REPO / ".perfbench_tmp" / f"run-{os.getpid()}"
    tmp.mkdir(parents=True)
    prepare_env(tmp)
    cwd = os.getcwd()
    os.chdir(tmp)  # derby.log, spark-warehouse and friends land here
    spark = None
    try:
        from pyspark import SparkContext

        from wsprnet_scraper_spark.session import get_session

        spark = get_session("perfbench")
        pids = [os.getpid(), SparkContext._gateway.proc.pid]
        tally = Tally()
        tracer = None
        if args.trace:
            from perfbench.trace import TimedGapMonitor, Tracer

            tracer = Tracer(spark)
            monitor = TimedGapMonitor(spark.sparkContext)
        else:
            from wsprnet_scraper_spark.streaming.ingest import GapMonitor

            monitor = GapMonitor()
        wl = WORKLOADS[args.workload](spark, tmp, REPO, args.seed, monitor)
        wl.setup(tally, pool=int(args.seconds) + wl.min_ops + 1)
        setup_s = time.perf_counter() - T_START

        untraced, records = measure(wl, args.seconds, tally, tracer)
        try:
            wl.finish(tally)
        except Exception as e:  # a check that cannot run has failed
            tally.record(False, f"end-of-run checks: {e!r}"[:300])
        if tracer is not None:
            out_dir = REPO / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"trace-{args.workload}-{args.seed}.jsonl").write_text(
                "".join(json.dumps(r) + "\n" for r in records))
            values = per_layer(untraced, records, tally, declared, peak_rss_mb(pids))
        else:
            values = end_to_end(untraced, setup_s)
            if untraced:
                mid = sorted(untraced)[(len(untraced) - 1) // 2]
                print(f"perfbench: median op {mid[0]:.3f} s {mid[1]}", file=sys.stderr)
        for err in tally.errors:
            print(f"perfbench: FAILED {err}", file=sys.stderr)
        line = result_line(tally, values, declared)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    raise SystemExit(main())
