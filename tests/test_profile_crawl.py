"""tools/profile_crawl.py's event-log reader: task concurrency is counted
from executor-side task times, so it never exceeds the task slots."""

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

    _, tasks = profile_crawl.read_eventlog(str(log))
    assert sorted(tasks) == [(0, 100), (0, 120), (100, 250), (120, 200), (400, 500), (500, 600)]
    by_level, gaps = profile_crawl.concurrency(tasks, 0, 600)
    assert max(lvl for lvl, sec in by_level.items() if sec > 0) == 2
    assert gaps == [(250, 400)]
    assert abs(sum(by_level.values()) - 0.6) < 1e-9
    # the driver-side Finish Time would have claimed 4 at once
    late = [(e["Task Info"]["Launch Time"], e["Task Info"]["Finish Time"])
            for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert max(profile_crawl.concurrency(late, 0, 600)[0]) > 2
