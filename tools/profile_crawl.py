"""Per-stage profiler for the crawl loop: one reader of Spark event logs.

Runs ONE timed crawl rep at a given slot count over a pre-written pages
parquet (same protocol as bench.py's scaling windows) with the Spark
event log enabled, or, with ``--eventlog PATH``, reads an existing
event log (file, or a rolling-log directory) without running a crawl.
Either way it attributes wall time:

  * per stage: wall (submission -> completion), executor run, CPU and
    GC time, shuffle read/write, input and result bytes, tasks
  * per job description (``setJobDescription``): jobs started, run,
    CPU, tasks
  * time at each task-concurrency level; level 0 is DRIVER GAP time —
    the serial time Amdahl's c is made of (broadcast builds, plan
    compilation, driver-side bookkeeping) — attributed to the job
    description of the next stage submitted, plus the largest gaps.
    A task occupies its slot from its launch to the end of its
    executor-side work (``task_span``), so no level exceeds the slots.

Usage:
  python tools/profile_crawl.py --slots 4 --hosts 180000 \
      --pages /tmp/bench_pages_scale_sf0.1
  python tools/profile_crawl.py --eventlog /tmp/crawl_eventlog/local-123

Compare two runs (1 vs 4 slots): a stage whose run time does not shrink
~4x is a non-scaling stage (CPU < run means waiting); gap time that
stays constant is driver serial time.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def iter_events(path: str):
    """JSON events of an uncompressed event log: a file, or a directory
    holding a rolling log's ``events_*`` files."""
    files = [path]
    if os.path.isdir(path):
        files = [os.path.join(path, g) for g in sorted(os.listdir(path)) if g.startswith("events_")]
    for f in files:
        with open(f) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _scope(si: dict) -> str:
    for r in si.get("RDD Info", []):
        try:
            name = json.loads(r.get("Scope") or "{}").get("name", "")
        except json.JSONDecodeError:
            continue
        if name:
            return name
    return ""


def task_span(ti: dict, tm: dict | None) -> tuple[int, int]:
    """(launch, end) of one task in ms.  The end is the launch plus the
    executor's deserialize, run and result-serialization times, not the
    ``Finish Time`` the driver stamps when it handles the result (by
    then the slot may already run the next task).  Without metrics (a
    lost task) the finish time stands."""
    launch = ti["Launch Time"]
    if not tm:
        return launch, ti["Finish Time"]
    busy = (
        tm.get("Executor Deserialize Time", 0)
        + tm.get("Executor Run Time", 0)
        + tm.get("Result Serialization Time", 0)
    )
    return launch, min(launch + busy, ti["Finish Time"])


def read_eventlog(path: str) -> tuple[list[dict], list[tuple[int, int]], list[tuple[int, str]]]:
    """(completed stages, task (launch, end) intervals, job (submission
    ms, description) starts) of one log."""
    stage_desc: dict[int, str] = {}
    stages, tasks, jobs = [], [], []
    for ev in iter_events(path):
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            jobs.append((ev.get("Submission Time", 0), desc))
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if not (si.get("Submission Time") and si.get("Completion Time")):
                continue
            acc = {a["Name"]: a.get("Value", 0) for a in si.get("Accumulables", [])}
            stages.append({
                "desc": stage_desc.get(si["Stage ID"], ""),
                "label": _scope(si) or si["Stage Name"].split("\n")[0][:60],
                "sub": si["Submission Time"],
                "done": si["Completion Time"],
                "tasks": si["Number of Tasks"],
                "run_s": acc.get("internal.metrics.executorRunTime", 0) / 1000,
                "cpu_s": acc.get("internal.metrics.executorCpuTime", 0) / 1e9,
                "gc_s": acc.get("internal.metrics.jvmGCTime", 0) / 1000,
                "shr_mb": (acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0)
                           + acc.get("internal.metrics.shuffle.read.localBytesRead", 0)) / 2**20,
                "shw_mb": acc.get("internal.metrics.shuffle.write.bytesWritten", 0) / 2**20,
                "in_mb": acc.get("internal.metrics.input.bytesRead", 0) / 2**20,
                "res_mb": acc.get("internal.metrics.resultSize", 0) / 2**20,
            })
        elif t == "SparkListenerTaskEnd":
            tasks.append(task_span(ev["Task Info"], ev.get("Task Metrics")))
    return stages, tasks, jobs


def concurrency(tasks: list[tuple[int, int]], t0: int, t1: int):
    """Sweep the task timeline over [t0, t1]: ({running tasks: seconds},
    [(start, end) of every span with none running]) — level 0 is driver
    time."""
    edges = sorted([(a, 1) for a, _ in tasks] + [(b, -1) for _, b in tasks] + [(t1, 0)])
    by_level: dict[int, float] = defaultdict(float)
    gaps = []
    cur, prev = 0, t0
    for ts, d in edges:
        if ts > prev:
            by_level[cur] += (ts - prev) / 1000
            if cur == 0:
                gaps.append((prev, ts))
            prev = ts
        cur += d
    return by_level, gaps


STAGE_COLS = ("run_s", "cpu_s", "gc_s", "tasks", "shr_mb", "shw_mb", "in_mb", "res_mb")


def by_description(stages: list[dict], jobs: list[tuple[int, str]]) -> dict[str, dict]:
    """Job description -> {jobs, run_s, cpu_s, tasks}: ``jobs`` counts the
    job starts (a job whose stages were all skipped still counts), the
    rest sums its completed stages."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for _, desc in jobs:
        out[desc or "(no description)"]["jobs"] += 1
    for s in stages:
        d = out[s["desc"] or "(no description)"]
        for k in ("run_s", "cpu_s", "tasks"):
            d[k] += s[k]
    return out


def report(
    stages: list[dict], tasks: list[tuple[int, int]], jobs: list[tuple[int, str]], window=None
) -> None:
    """Print every view over ``window`` = (t0_ms, t1_ms); default: the
    span of the log's tasks."""
    if not tasks:
        print("no tasks in the event log")
        return
    t0, t1 = window or (min(a for a, _ in tasks), max(b for _, b in tasks))
    stages = [s for s in stages if s["done"] >= t0 and s["sub"] <= t1]
    jobs = [j for j in jobs if t0 <= j[0] <= t1]
    tasks = [(max(a, t0), min(b, t1)) for a, b in tasks if b > t0 and a < t1]
    wall = (t1 - t0) / 1000

    print(f"== stages over {wall:.1f}s (wall_s run_s cpu_s gc_s tasks shR_mb shW_mb in_mb res_mb  x[n] [desc] label):")
    agg: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    for s in stages:
        a = agg[(s["desc"], s["label"])]
        a["wall_s"] += (min(s["done"], t1) - max(s["sub"], t0)) / 1000
        a["n"] += 1
        for k in STAGE_COLS:
            a[k] += s[k]
    for (desc, label), a in sorted(agg.items(), key=lambda x: -x[1]["run_s"])[:30]:
        tag = f"[{desc[:40]}] " if desc else ""
        print(
            f"  {a['wall_s']:7.1f} {a['run_s']:7.1f} {a['cpu_s']:7.1f} {a['gc_s']:5.1f} {int(a['tasks']):5d} "
            f"{a['shr_mb']:7.0f} {a['shw_mb']:7.0f} {a['in_mb']:7.0f} {a['res_mb']:7.2f}  x{int(a['n']):<3d} {tag}{label}"
        )

    print(f"== by job description (jobs, run_s, cpu_s, tasks); {len(jobs)} jobs:")
    for desc, d in sorted(by_description(stages, jobs).items(), key=lambda x: -x[1]["run_s"]):
        print(
            f"  {int(d['jobs']):4d} {d['run_s']:8.1f} {d['cpu_s']:8.1f} {int(d['tasks']):6d}  {desc[:80]}"
        )

    by_level, gaps = concurrency(tasks, t0, t1)
    print("== time at task concurrency level (s); 0 running = driver gap:")
    for lvl in sorted(by_level):
        print(f"  {lvl:3d} running: {by_level[lvl]:8.1f}")

    subs = sorted((s["sub"], s["desc"] or s["label"]) for s in stages)
    dones = sorted((s["done"], s["desc"] or s["label"]) for s in stages)
    sub_ts, done_ts = [t for t, _ in subs], [t for t, _ in dones]

    def next_stage(ts):
        i = bisect.bisect_left(sub_ts, ts)
        return subs[i][1] if i < len(subs) else "<<end>>"

    def prev_stage(ts):
        i = bisect.bisect_right(done_ts, ts)
        return dones[i - 1][1] if i else "<<start>>"

    attr: dict[str, float] = defaultdict(float)
    for g0, g1 in gaps:
        attr[next_stage(g1)] += (g1 - g0) / 1000
    print("== driver-gap time by the next stage's job description (s):")
    for desc, sec in sorted(attr.items(), key=lambda x: -x[1]):
        print(f"  {sec:8.1f}  {desc[:90]}")
    print("== largest gaps (offset_s, len_s, prev stage -> next stage):")
    for g0, g1 in sorted(gaps, key=lambda g: g[0] - g[1])[:12]:
        print(f"  +{(g0 - t0) / 1000:7.1f}s {(g1 - g0) / 1000:6.2f}s  {prev_stage(g0)[:55]} -> {next_stage(g1)[:55]}")


def _find_log(eventlog_dir: str, app_id: str) -> str:
    for f in os.listdir(eventlog_dir):
        if app_id in f:
            return os.path.join(eventlog_dir, f)
    raise FileNotFoundError(f"no event log of {app_id} in {eventlog_dir}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--eventlog", help="read this event log and exit; no crawl runs")
    ap.add_argument("--slots", type=int, default=4)
    ap.add_argument("--hosts", type=int, default=180_000)
    ap.add_argument("--pages", default="/tmp/bench_pages_scale_sf0.1")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--budget", type=int, default=6)
    ap.add_argument("--eventlog-dir", default="/tmp/crawl_eventlog")
    ap.add_argument("--skip-warmup", action="store_true")
    ap.add_argument("--mpb", type=int, default=None, help="spark.sql.files.maxPartitionBytes")
    args = ap.parse_args()

    if args.eventlog:
        report(*read_eventlog(args.eventlog))
        return

    os.makedirs(args.eventlog_dir, exist_ok=True)
    from pyspark.sql import SparkSession

    nparts = 16
    spark = (
        SparkSession.builder.master(f"local[{args.slots}]")
        .appName(f"profile-crawl-{args.slots}")
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", args.eventlog_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.files.maxPartitionBytes",
            str(args.mpb) if args.mpb else str(128 * 1024 * 1024),
        )
        .getOrCreate()
    )
    app_id = spark.sparkContext.applicationId

    from bench import _mk_seeds, _warm_python_workers
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.sources.synth import BLACKLIST_PATTERNS, synth_robots

    pages = spark.read.parquet(args.pages)
    robots = synth_robots(spark, args.hosts)

    if not args.skip_warmup:
        _warm_python_workers(spark, args.slots)
        warm = run_crawl(
            spark, _mk_seeds(spark, max(1000, args.hosts // 50)), pages, robots,
            BLACKLIST_PATTERNS, max_rounds=args.rounds, default_budget=args.budget,
        )
        warm.frontier.count()
        warm.release()

    t0 = time.time()
    state = run_crawl(
        spark, _mk_seeds(spark, args.hosts), pages, robots, BLACKLIST_PATTERNS,
        max_rounds=args.rounds, default_budget=args.budget,
    )
    n = state.frontier.count()
    t1 = time.time()
    state.release()
    print(f"== wall {t1 - t0:.1f}s  frontier {n}  slots {args.slots}  hosts {args.hosts}")

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    spark.stop()
    time.sleep(1.0)
    log = _find_log(args.eventlog_dir, app_id)
    report(*read_eventlog(log), window=(t0 * 1000, t1 * 1000))


if __name__ == "__main__":
    main()
