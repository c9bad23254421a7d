#!/usr/bin/env python3
"""Per-query optimization profiler (r13).

For each named query: warm once at sf0.001 (codegen), then run N
timed noop-sink executions at --sf, print per-run seconds, and dump
`.explain("formatted")` plus per-stage metrics (executor run time,
shuffle read/write bytes, task count) of the timed runs' jobs, read
from the app status store by job id.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs 3] [--plan-out FILE] name [name ...]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def stage_metrics(spark, first_job: int, end_job: int):
    """Rows of (stageId, name, runtime_ms, tasks, shuf_read_MB,
    shuf_write_MB, input_MB) for every completed stage of the jobs
    [first_job, end_job), read from the app status store by job id
    (UI is disabled in-session)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids = set()
    for jid in range(first_job, end_job):
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            stage_ids.add(it.next())
    out = []
    for sid in sorted(stage_ids):
        s = store.lastStageAttempt(sid)
        if s.status().toString() != "COMPLETE":
            continue  # skipped stages reuse earlier shuffle output
        out.append(
            dict(
                stage=s.stageId(),
                name=s.name().split("\n")[0][:100],
                runtime_ms=s.executorRunTime(),
                cpu_ms=s.executorCpuTime() / 1e6,
                tasks=s.numCompleteTasks(),
                shuffle_read_mb=round(s.shuffleReadBytes() / 1e6, 2),
                shuffle_write_mb=round(s.shuffleWriteBytes() / 1e6, 2),
                input_mb=round(s.inputBytes() / 1e6, 2),
            )
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-out", default=None, help="write explain('formatted') here")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from perfbench.trace import next_job_id
    from wsprnet_scraper_spark.plans import QUERIES
    from wsprnet_scraper_spark.session import get_session

    spark = get_session("profile")

    for name in args.names:
        fn = QUERIES[name]
        # warm at smallest sf (codegen/JIT), matching bench discipline
        warm_dir = "/root/testdata/sf0.001"
        fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        fn(spark, args.sf).schema

        times = []
        first_job = next_job_id(spark.sparkContext)
        for i in range(args.runs + 1):
            if i == 1:
                first_job = next_job_id(spark.sparkContext)
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        end_job = next_job_id(spark.sparkContext)
        print(f"== {name} @ {args.sf}")
        print("   runs(s):", " ".join(f"{t:.3f}" for t in times),
              f"(first=untimed warm; median of rest={sorted(times[1:])[len(times[1:])//2]:.3f})")

        df = fn(spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if args.plan_out:
            Path(args.plan_out).parent.mkdir(parents=True, exist_ok=True)
            Path(args.plan_out).write_text(plan)
            print(f"   plan -> {args.plan_out}")
        else:
            print(plan)

        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        rows = stage_metrics(spark, first_job, end_job)
        print(
            f"   timed runs: {end_job - first_job} jobs, {len(rows)} stages, "
            f"{sum(r['tasks'] for r in rows)} tasks"
        )
        rows.sort(key=lambda r: -r["runtime_ms"])
        print("   hottest stages (timed runs only):")
        for r in rows[:14]:
            print(
                f"   stage {r['stage']:>4} rt={r['runtime_ms']/1000:7.2f}s cpu={r['cpu_ms']/1000:7.2f}s "
                f"tasks={r['tasks']:>3} sr={r['shuffle_read_mb']:>8}MB sw={r['shuffle_write_mb']:>8}MB "
                f"in={r['input_mb']:>8}MB  {r['name'][:60]}"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
