"""tools/profile_crawl.py's event-log reader: task concurrency is counted
from executor-side task times, so it never exceeds the task slots, and
the job-description view counts the jobs each description started."""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _task_end(stage: int, launch: int, deser: int, run: int, ser: int, finish: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Deserialize Time": deser,
            "Executor Run Time": run,
            "Result Serialization Time": ser,
        },
    }


def test_concurrency_never_exceeds_two_slots(tmp_path):
    """A synthetic 2-slot log whose driver stamps each Finish Time late
    (it handles a result after the slot already runs the next task):
    the histogram has no level above 2, and the one real gap survives."""
    sys.path.insert(0, str(ROOT / "tools"))
    import profile_crawl

    events = [
        # slot A: t1 busy 0-100, t3 launched at 100 and busy to 250
        _task_end(0, 0, 5, 90, 5, 160),
        _task_end(0, 100, 10, 130, 10, 300),
        # slot B: t2 busy 0-120, t4 launched at 120 and busy to 200
        _task_end(0, 0, 0, 120, 0, 180),
        _task_end(0, 120, 0, 80, 0, 240),
        # both slots idle 250-400 (a driver gap), then one task
        _task_end(0, 400, 0, 100, 0, 520),
        # a lost task without metrics keeps its finish time
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 500, "Finish Time": 600}},
    ]
    log = tmp_path / "app-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))

    _, tasks, _ = profile_crawl.read_eventlog(str(log))
    assert sorted(tasks) == [(0, 100), (0, 120), (100, 250), (120, 200), (400, 500), (500, 600)]
    by_level, gaps = profile_crawl.concurrency(tasks, 0, 600)
    assert max(lvl for lvl, sec in by_level.items() if sec > 0) == 2
    assert gaps == [(250, 400)]
    assert abs(sum(by_level.values()) - 0.6) < 1e-9
    # the driver-side Finish Time would have claimed 4 at once
    late = [(e["Task Info"]["Launch Time"], e["Task Info"]["Finish Time"])
            for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert max(profile_crawl.concurrency(late, 0, 600)[0]) > 2


def _job_start(job: int, sub: int, desc: str | None, stages: list[int]) -> dict:
    props = {"spark.job.description": desc} if desc is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": sub,
            "Stage IDs": stages, "Properties": props}


def _stage_done(stage: int, sub: int, done: int, tasks: int, run_ms: int) -> dict:
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage, "Stage Name": f"stage {stage}", "Number of Tasks": tasks,
        "Submission Time": sub, "Completion Time": done,
        "Accumulables": [{"Name": "internal.metrics.executorRunTime", "Value": run_ms}],
    }}


def test_jobs_counted_per_description(tmp_path, capsys):
    """Every job start counts under its description, also a job whose
    stages were all skipped (no completed stage) and a job with none;
    stage sums stay per description, and the report prints the counts
    of the jobs submitted inside its window."""
    sys.path.insert(0, str(ROOT / "tools"))
    import profile_crawl

    events = [
        _job_start(0, 1000, "round 1: drain count", [0]),
        _stage_done(0, 1000, 1050, 2, 40),
        _job_start(1, 1060, "round 1: frontier commit (admit+settle)", [1, 2]),
        _stage_done(1, 1060, 1100, 4, 120),
        _stage_done(2, 1100, 1150, 1, 30),
        # all stages skipped: a job start with no completed stage
        _job_start(2, 1160, "round 1: frontier commit (admit+settle)", [3]),
        _job_start(3, 1170, None, [4]),
        _stage_done(4, 1170, 1200, 1, 10),
        _task_end(0, 1000, 0, 40, 0, 1050),
        _task_end(1, 1060, 0, 90, 0, 1150),
        _task_end(4, 1170, 0, 30, 0, 1200),
        # submitted after the last task ends: outside the default window
        _job_start(4, 1900, "round 2: drain count", []),
    ]
    log = tmp_path / "app-2"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))

    stages, tasks, jobs = profile_crawl.read_eventlog(str(log))
    assert [d for _, d in jobs] == [
        "round 1: drain count", "round 1: frontier commit (admit+settle)",
        "round 1: frontier commit (admit+settle)", "", "round 2: drain count",
    ]
    got = {k: dict(v) for k, v in profile_crawl.by_description(stages, jobs).items()}
    assert got == {
        "round 1: drain count": {"jobs": 1, "run_s": 0.04, "cpu_s": 0.0, "tasks": 2},
        "round 1: frontier commit (admit+settle)": {
            "jobs": 2, "run_s": 0.15, "cpu_s": 0.0, "tasks": 5,
        },
        "(no description)": {"jobs": 1, "run_s": 0.01, "cpu_s": 0.0, "tasks": 1},
        "round 2: drain count": {"jobs": 1},
    }
    profile_crawl.report(stages, tasks, jobs)
    out = capsys.readouterr().out
    assert "by job description (jobs, run_s, cpu_s, tasks); 4 jobs:" in out
    assert "     2      0.1      0.0      5  round 1: frontier commit (admit+settle)" in out
    assert "round 2: drain count" not in out
