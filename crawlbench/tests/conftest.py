from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """One 2-slot session with a plain (uncompressed, unrolled) event log,
    as the benchmark's traced runs use."""
    from tripwire_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    events = tmp_path_factory.mktemp("events")
    warehouse = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        "crawlbench_tests",
        cores=2,
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(warehouse),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    s.conf.set("crawlbench.test.events", str(events))
    yield s
    s.stop()
