"""Per-layer tracing for the crawl benchmark.

Spans are recorded from the benchmark's side, around calls into each
layer's public functions (the program itself is not modified):

- ``frontier``: ``politeness_schedule`` (claim) and ``settle``;
- ``fetch``: ``operators.crawl.fetch_extract``;
- ``discover``: ``operators.crawl.discover``;
- ``seen``: ``SeenState.init`` / ``admit`` / ``compact``, plus the
  snapshot commit that materializes a ``compact()`` result;
- ``snapshots``: ``SnapshotTable.commit`` / ``commit_append`` / ``read`` /
  ``read_base`` / ``read_deltas``;
- ``crawl``: the ``run_crawl`` call itself (the root span).

Spark is lazy, so a layer's work runs in whichever Spark job forces it.
Every span sets the local property ``crawlbench.owner`` while it is open,
and Spark copies local properties into each job it submits, so the event
log says which span was open when a job was submitted.  Jobs submitted
from ``run_crawl``'s own body are matched by the job description the loop
sets just before its eager checkpoints; the remaining root-context jobs
are reported as ``crawl.unattributed_s``.

Spans live in memory (``Tracer.spans``) and are written once at run end.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
from dataclasses import asdict, dataclass

OWNER_PROP = "crawlbench.owner"
LAYERS = ("frontier", "fetch", "discover", "seen", "snapshots", "crawl")
# The job description run_crawl sets before its eager fetch checkpoint.  Its
# other one, "settle+admit frontier checkpoint", is set only without a
# checkpoint directory, a path the benchmark does not run.
FETCH_DESC = "fetch+extract checkpoint"


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    end: float | None
    parent: int | None
    round: int | None


class Tracer:
    """Records spans around layer calls; inert until ``enabled``."""

    def __init__(self, sc, clock) -> None:
        self.sc = sc
        self.clock = clock
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.round: int | None = None
        self._compacted: list = []  # DataFrames returned by SeenState.compact
        self._patches: list[tuple[object, str, object]] = []
        # Seconds spent in span bookkeeping (py4j round-trips included).
        self.overhead_s = 0.0
        # Optional probe of Spark's cached bytes, run after each commit.
        self.cache_probe = None
        self.cache_peak_mb = 0.0

    # -- spans -------------------------------------------------------------
    def _set_owner(self, value: str | None) -> None:
        self.sc.setLocalProperty(OWNER_PROP, value)

    def enter(self, layer: str, name: str) -> Span:
        t0 = self.clock()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), layer, name, 0.0, None, parent, self.round)
        self.spans.append(s)
        self._stack.append(s)
        self._set_owner(str(s.id))
        s.start = self.clock()
        self.overhead_s += s.start - t0
        return s

    def exit(self, s: Span) -> None:
        s.end = self.clock()
        if self.cache_probe is not None and s.name.startswith("commit"):
            self.cache_peak_mb = max(self.cache_peak_mb, self.cache_probe())
        self._stack.pop()
        self._set_owner(str(self._stack[-1].id) if self._stack else None)
        self.overhead_s += self.clock() - s.end

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        s = self.enter(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.exit(s)

    def _on_description(self, desc: str | None) -> None:
        """run_crawl named its next driver action: jobs submitted from
        the root context until the next layer call belong to that layer."""
        if not (self.enabled and self._stack and len(self._stack) == 1):
            return
        root = self._stack[0].id
        self._set_owner(f"{root}:fetch" if desc and desc.endswith(FETCH_DESC) else str(root))

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _wrap(self, owner, attr: str, layer: str, name: str) -> None:
        fn = owner.__dict__[attr]

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(layer, name, fn, *args, **kwargs)

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every traced layer entry point (undone by ``uninstall``)."""
        from pyspark import SparkContext

        from tripwire_spark.operators import crawl
        from tripwire_spark.operators.seen import SeenState
        from tripwire_spark.sources.snapshots import SnapshotTable

        claim = crawl.politeness_schedule

        @functools.wraps(claim)
        def traced_claim(*args, **kwargs):
            if self.enabled:
                self.round = kwargs.get("round_no")
            return self.call("frontier", "claim", claim, *args, **kwargs)

        self._patch(crawl, "politeness_schedule", traced_claim)
        self._wrap(crawl, "settle", "frontier", "settle")
        self._wrap(crawl, "fetch_extract", "fetch", "fetch_extract")
        self._wrap(crawl, "discover", "discover", "discover")
        self._wrap(SeenState, "init", "seen", "init")
        self._wrap(SeenState, "admit", "seen", "admit")

        compact = SeenState.__dict__["compact"]

        @functools.wraps(compact)
        def traced_compact(svc, state):
            out = self.call("seen", "compact", compact, svc, state)
            if self.enabled:
                self._compacted.append(out)
            return out

        self._patch(SeenState, "compact", traced_compact)

        commit = SnapshotTable.__dict__["commit"]

        @functools.wraps(commit)
        def traced_commit(table, df, summary=None):
            if any(df is c for c in self._compacted):
                return self.call("seen", "compact_commit", commit, table, df, summary)
            return self.call("snapshots", f"commit:{table.name}", commit, table, df, summary)

        self._patch(SnapshotTable, "commit", traced_commit)
        for attr in ("commit_append", "read", "read_base", "read_deltas"):
            fn = SnapshotTable.__dict__[attr]

            def make(fn=fn, attr=attr):
                @functools.wraps(fn)
                def wrapper(table, *args, **kwargs):
                    return self.call("snapshots", f"{attr}:{table.name}", fn, table, *args, **kwargs)

                return wrapper

            self._patch(SnapshotTable, attr, make())

        set_desc = SparkContext.__dict__["setJobDescription"]

        @functools.wraps(set_desc)
        def traced_set_desc(sc, value):
            set_desc(sc, value)
            self._on_description(value)

        self._patch(SparkContext, "setJobDescription", traced_set_desc)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# -- interval arithmetic -------------------------------------------------------
def _merge(iv):
    out = []
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def _intersect(x, y):
    x, y = _merge(x), _merge(y)
    out, i, j = [], 0, 0
    while i < len(x) and j < len(y):
        a, b = max(x[i][0], y[j][0]), min(x[i][1], y[j][1])
        if a < b:
            out.append((a, b))
        if x[i][1] < y[j][1]:
            i += 1
        else:
            j += 1
    return out


def _subtract(x, y):
    out = []
    y = _merge(y)
    for a, b in _merge(x):
        cur = a
        for c, d in y:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _total(iv) -> float:
    return sum(b - a for a, b in _merge(iv))


# -- event log -----------------------------------------------------------------
# SQL timing metrics report milliseconds ("timing") or nanoseconds.
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
PY_METRICS = {
    "time to run Python workers": "py_total_s",
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_received",
}


def read_event_log(path: str) -> dict:
    """Jobs, per-stage task aggregates and extract_page's Python SQL
    metric accumulator ids from one Spark event log file."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    py_ids: dict[int, tuple[str, float]] = {}  # accumulator id -> (metric, unit scale)

    def walk(node):
        if "extract_page" in node.get("simpleString", "") and "Python" in node.get("nodeName", ""):
            for m in node.get("metrics", []):
                if m["name"] in PY_METRICS:
                    scale = _TIME_SCALE.get(m.get("metricType"), 1.0)
                    py_ids[m["accumulatorId"]] = (PY_METRICS[m["name"]], scale)
        for c in node.get("children", []):
            walk(c)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "owner": (ev.get("Properties") or {}).get(OWNER_PROP),
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                acc = {a["ID"]: a.get("Update") for a in info.get("Accumulables", [])}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "start": info["Launch Time"] / 1000.0,
                        "end": info["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "acc": acc,
                    }
                )
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                walk(ev["sparkPlanInfo"])
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks, "py_ids": py_ids}


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def attribute(spans: list[dict], root_id: int, log: dict) -> dict:
    """Per-layer self time, Spark work and the crawl's unattributed time
    for the traced crawl rooted at span ``root_id``.

    Every instant of the root span's wall lands in exactly one bucket:
    the self time of the innermost open layer span; or, in the root's own
    self time, the layer a job description names, ``crawl.unattributed_s``
    for other jobs, or ``crawl`` (driver time) when no job runs."""
    by_id = {s["id"]: s for s in spans}

    def in_tree(s):
        while s is not None:
            if s["id"] == root_id:
                return True
            s = by_id.get(s["parent"])
        return False

    tree = [s for s in spans if in_tree(s)]
    root = by_id[root_id]
    children: dict[int, list] = {}
    for s in tree:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))

    layer_self = {k: 0.0 for k in LAYERS}
    calls = {k: 0 for k in LAYERS}
    for s in tree:
        own = _subtract([(s["start"], s["end"])], children.get(s["id"], []))
        calls[s["layer"]] += 1
        if s["id"] != root_id:
            layer_self[s["layer"]] += _total(own)
    root_self = _subtract([(root["start"], root["end"])], children.get(root_id, []))

    # job -> layer
    ids = {str(s["id"]): s["layer"] for s in tree}
    job_layer: dict[int, str] = {}
    desc_iv: dict[str, list] = {}
    unattr_iv = []
    for jid, j in log["jobs"].items():
        owner = j["owner"]
        if owner is None or j["end"] is None:
            continue
        if ":" in owner:
            rid, layer = owner.split(":", 1)
            if rid != str(root_id):
                continue
            job_layer[jid] = layer
            desc_iv.setdefault(layer, []).append((j["submit"], j["end"]))
        elif owner in ids:
            job_layer[jid] = ids[owner]
            if owner == str(root_id):
                unattr_iv.append((j["submit"], j["end"]))

    remaining = root_self
    for layer, iv in desc_iv.items():
        got = _intersect(remaining, iv)
        layer_self[layer] += _total(got)
        remaining = _subtract(remaining, got)
    unattributed = _intersect(remaining, unattr_iv)
    layer_self["crawl"] = _total(_subtract(remaining, unattributed))

    spark_work = {k: {"jobs": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
                      "shuffle_write_bytes": 0, "spill_bytes": 0} for k in LAYERS}
    for jid, layer in job_layer.items():
        spark_work[layer]["jobs"] += 1
    py = {v: 0.0 for v in PY_METRICS.values()}
    busy = []
    for t in log["tasks"]:
        jid = log["stage_job"].get(t["stage"])
        if jid not in job_layer:
            continue
        w = spark_work[job_layer[jid]]
        w["tasks"] += 1
        w["exec_run_s"] += t["run_s"]
        w["exec_cpu_s"] += t["cpu_s"]
        w["shuffle_write_bytes"] += t["shuffle_write"]
        w["spill_bytes"] += t["spill"]
        busy.append((t["start"], t["end"]))
        for acc_id, upd in t["acc"].items():
            if acc_id in log["py_ids"] and upd is not None:
                name, scale = log["py_ids"][acc_id]
                py[name] += float(upd) * scale

    claims = sorted(s["start"] for s in tree if s["layer"] == "frontier" and s["name"] == "claim")
    bounds = claims + [root["end"]]
    rounds = [b - a for a, b in zip(bounds, bounds[1:])]
    wall = root["end"] - root["start"]
    return {
        "wall_s": wall,
        "self_s": layer_self,
        "unattributed_s": _total(unattributed),
        "calls": calls,
        "spark": spark_work,
        "python": py,
        "driver_gap_s": _total(_subtract([(root["start"], root["end"])], busy)),
        "round_s": rounds,
        "round_s_p50": statistics.median(rounds) if rounds else 0.0,
        "round_s_max": max(rounds) if rounds else 0.0,
        "snapshot_commit_s": sum(
            s["end"] - s["start"] for s in tree if s["layer"] == "snapshots" and s["name"].startswith("commit")
            and by_id[s["parent"]]["layer"] != "snapshots"
        ),
        "compact_s": sum(s["end"] - s["start"] for s in tree if s["name"] == "compact_commit"),
    }
