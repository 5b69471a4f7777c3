"""Crawl benchmark: one seeded workload on the checkpointed crawl loop.

    python3 crawlbench/run.py --workload parse-wide --seed 1 --seconds 30 --trace 0

Run it from the repository root.  Each run is one fresh process: it starts
Spark with ``local[nproc/2]`` task slots and a fixed driver heap, generates
the workload's tables from ``--seed`` into a fresh directory under
``.crawlbench_work/``, crawls them with ``run_crawl`` the way
``tools/submit_crawl.py`` does, checks the output against the generator's
reference text, and prints one JSON object as its last line.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
crawl with spans around every layer call and a Spark event log, and
prints the per-layer metrics instead; its spans and the parsed event-log
figures are written to ``.crawlbench_out/``.

The timed window is one cold crawl, whatever ``--seconds`` says: every
run of every commit times the same work in a JVM that has crawled
nothing yet (a second crawl in the same JVM runs about 20% faster).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path


def _process_start() -> float:
    """Wall-clock time this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROC_START = _process_start()
ROOT = Path(__file__).resolve().parent.parent
# Fixed driver heap, committed and touched at JVM start: G1 otherwise grows
# RSS toward whatever heap it is given at a run-dependent pace.  The
# touched heap is therefore a constant part of the process tree's RSS,
# which nonheap_rss_mb leaves out; heap use does not show in it (NOTES.md).
HEAP_MB = 2048
RESTORES = 3  # snapshots.restore_s is the median of this many restores
# Crawl rounds in the timed window: one checkpointed round costs 20-30 s
# on 2 task slots, so more do not fit the run budget (NOTES.md).
ROUNDS = 1
# Snapshot tables the crawl writes (``assignments`` only with identities).
SNAPSHOT_TABLES = ("frontier", "results", "fetch_log", "decision_log", "seen_sketch", "clicked")


@dataclass(frozen=True)
class Workload:
    """One workload; why each exists is in BENCHMARK.json and NOTES.md."""

    spec: object  # gen.GenSpec
    resume: bool  # set-up imports seeds and history into a checkpoint; the timed crawl resumes it


def workloads():
    from crawlbench.gen import GenSpec

    return {
        "parse-wide": Workload(
            spec=GenSpec(
                n_hosts=400, pages_max=10, pages_min=10, host_skew=0.0, words=1200, para_words=100,
                links=6, anchor_vocab=4000, same_host_share=0.7, link_skew=1.0,
                miss_share=0.03, blacklist_share=0.03, dup_share=0.05, seeds_per_host=8, budget=8,
            ),
            resume=False,
        ),
        "resume-deep": Workload(
            spec=GenSpec(
                n_hosts=1500, pages_max=1500, pages_min=3, host_skew=1.0, words=40, para_words=40,
                links=30, anchor_vocab=2000, same_host_share=0.8, link_skew=3.0,
                miss_share=0.03, blacklist_share=0.03, dup_share=0.05, seeds_per_host=50, budget=4,
                history=2_000_000, history_page_share=0.3,
            ),
            resume=True,
        ),
    }


# -- process-tree memory ------------------------------------------------------
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _is_py_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except (FileNotFoundError, ProcessLookupError):
        return False


class MemProbe:
    """Kernel high-water marks (VmHWM) of every process in this tree:
    the driver, its JVM and the Python daemon with its workers.  Each
    sample keeps the per-process maximum; a process that exits between
    samples keeps the HWM of its last sample."""

    def __init__(self) -> None:
        self.hwm_kb: dict[int, int] = {}
        self.py_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in _descendants(os.getpid()):
            kb = _status_kb(pid, "VmHWM:")
            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), kb)
            if _is_py_worker(pid):
                self.py_kb[pid] = max(self.py_kb.get(pid, 0), kb)

    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0

    def py_worker_mb(self) -> float:
        return max(self.py_kb.values(), default=0) / 1024.0


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


# -- the run --------------------------------------------------------------------
def _session(work: Path, slots: int, trace: bool):
    from tripwire_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{HEAP_MB}m",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "events").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("crawlbench", cores=slots, extra_conf=conf)


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python daemon and
    workers) to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def crawl(spark, tables, spec_patterns, rounds, ckpt, resume, preload=None):
    """``run_crawl`` as ``tools/submit_crawl.py`` calls it."""
    from tripwire_spark.operators.crawl import run_crawl

    return run_crawl(
        spark, tables["seeds"], tables["pages"], tables["robots"], spec_patterns,
        max_rounds=rounds, checkpoint_dir=str(ckpt), resume=resume,
        backpressure=False, trap_limit=None, seen_mode="auto", fetch_join="auto",
        seen_bucketed=True, validate_url_hash=False, seen_preload=preload,
    )


def restore(spark, tables, patterns, last_round, ckpt: Path, tracer) -> float:
    """Restart cost: the median over RESTORES restores of ``ckpt``, each
    from its own copy (so each pays a fresh restart's table registration):
    resume at the last committed round and force the restored frontier.
    Each restore is traced as its own root span.  Traced runs only: a
    restore here takes about 1 s, and on a shared machine its run-to-run
    spread (19-28% over ten runs) is wider than any end-to-end bound."""
    walls = []
    for i in range(RESTORES):
        copy = ckpt.with_name(f"{ckpt.name}-restore{i}")
        shutil.copytree(ckpt, copy)
        tracer.enabled = True
        root = tracer.enter("crawl", "restore")
        t = time.time()
        st = crawl(spark, tables, patterns, last_round, copy, resume=True)
        st.frontier.count()
        walls.append(time.time() - t)
        tracer.exit(root)
        tracer.enabled = False
        shutil.rmtree(copy)
    return statistics.median(walls)


def _manifest(ckpt: Path, table: str) -> list[dict]:
    p = ckpt / table / "manifest.json"
    return json.loads(p.read_text())["snapshots"] if p.exists() else []


def layer_counts(spark, state, ckpt: Path) -> dict:
    """Per-layer work counts of the timed crawl (rounds >= 1; round 0 is
    the seed and history import)."""
    from pyspark.sql import functions as F

    from tripwire_spark.operators.frontier import MAX_TRIES, ST_QUEUED
    from tripwire_spark.sources.snapshots import SnapshotTable

    m: dict[str, float] = {}
    fl = state.fetch_log
    r = fl.agg(F.sum(F.col("found").cast("int")).alias("hit"), F.count("*").alias("n")).first()
    m["fetch.pages"] = r["hit"] or 0
    m["fetch.misses"] = r["n"] - (r["hit"] or 0)
    dec = {
        row["decision"]: row["count"]
        for row in state.decision_log.filter(F.col("round") >= 1).groupBy("decision").count().collect()
    }
    m["discover.links"] = sum(dec.values())
    m["discover.candidates"] = dec.get("candidate", 0)
    for reason in ("blacklist", "negative-weight", "clicked-text"):
        m[f"discover.skip_{reason.replace('-', '_')}"] = dec.get(f"skipped-{reason}", 0)
    m["seen.admitted"] = state.frontier.filter(F.col("round_added") >= 1).count()
    m["seen.admit_ratio"] = m["seen.admitted"] / max(1, m["discover.candidates"])
    seen = SnapshotTable(spark, str(ckpt), "seen_sketch").read()
    s = seen.agg(F.sum("n_items").alias("n"), F.sum(F.length("hashes") + F.length("bloom")).alias("b")).first()
    m["seen.state_items"] = s["n"]
    m["seen.state_bytes"] = s["b"]
    front = SnapshotTable(spark, str(ckpt), "frontier")
    before = next(x for x in front.snapshots() if x["summary"].get("round") == 0)
    m["frontier.claimable"] = (
        front.read(before["id"]).filter((F.col("status") == ST_QUEUED) & (F.col("try") < MAX_TRIES)).count()
    )
    m["frontier.claimed"] = r["n"]
    m["frontier.claim_ratio"] = r["n"] / max(1, m["frontier.claimable"])
    m["frontier.rows_rewritten"] = sum(
        x["added_rows"] for x in front.snapshots() if x["summary"].get("round", 0) >= 1
    )
    for table in SNAPSHOT_TABLES:
        snaps = [x for x in _manifest(ckpt, table) if x["summary"].get("round", 0) >= 1]
        m[f"snapshots.{table}.bytes_written"] = sum(x.get("added_bytes", 0) for x in snaps)
        m[f"snapshots.{table}.files_written"] = sum(len(x.get("files", [])) for x in snaps)
    return m


def jvm_memory(spark) -> tuple[float, float]:
    """(old generation after a full GC, Spark cached blocks), in MB."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    old = 0.0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName() and pool.getCollectionUsage() is not None:
            old = pool.getCollectionUsage().getUsed() / 2**20
    return old, cached_mb(spark)


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _old_gen(spark):
    pools = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return next(p for p in pools if "Old Gen" in p.getName())


def run(args) -> dict:
    from crawlbench import check, gen
    from crawlbench.trace import LAYERS, Tracer, attribute, find_event_log, read_event_log

    wl = workloads()[args.workload]
    work = ROOT / ".crawlbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # spark-submit's launcher JVM: no hsperfdata file in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    slots = max(1, (os.cpu_count() or 2) // 2)
    mem = MemProbe()
    setup: dict[str, float] = {}
    spark = None
    try:
        t = time.time()
        spark = _session(work, slots, args.trace)
        setup["setup.session_s"] = time.time() - t
        tracer = Tracer(spark.sparkContext, time.time) if args.trace else None
        if tracer:
            tracer.install()
            tracer.cache_probe = lambda: cached_mb(spark)

        t = time.time()
        paths = gen.write_inputs(spark, wl.spec, args.seed, str(work / "inputs"))
        tables = {k: spark.read.parquet(v) for k, v in paths.items()}
        setup["setup.gen_s"] = time.time() - t

        t = time.time()
        imported, ckpt = work / "imported", work / "ckpt"
        if wl.resume:
            # round 0 only: seeded frontier plus the history import
            crawl(spark, tables, gen.BLACKLIST_PATTERNS, 0, imported, resume=False, preload=tables.get("history"))
            shutil.copytree(imported, ckpt)
        setup["setup.prefix_s"] = time.time() - t
        setup["setup.warmup_s"] = 0.0  # no warm-up crawl fits the run budget (crawlbench/NOTES.md)
        mem.sample()
        if tracer:
            _old_gen(spark).resetPeakUsage()

        # the timed window: one crawl
        setup_s = time.time() - PROC_START
        if tracer:
            tracer.enabled = True
            root = tracer.enter("crawl", "run_crawl")
        t = time.time()
        state = crawl(spark, tables, gen.BLACKLIST_PATTERNS, ROUNDS, ckpt, resume=wl.resume)
        wall = time.time() - t
        if tracer:
            tracer.exit(root)
            tracer.enabled = False
        mem.sample()
        tree_mb = mem.peak_mb()
        if tracer:
            old_peak_mb = _old_gen(spark).getPeakUsage().getUsed() / 2**20

        failures = check.check(state.frontier, state.results, state.fetch_log, tables["pages"])
        out = {
            "fetches_per_s": failures["attempted"] / wall,
            "setup_s": setup_s,
            "nonheap_rss_mb": tree_mb - HEAP_MB,
            "ckpt_bytes_per_url": _dir_bytes(str(ckpt)) / failures["frontier_rows"],
        }
        info = {
            "crawl_wall_s": wall, "digest": check.digest(state.frontier, state.results), "check": failures,
            "tree_peak_rss_mb": tree_mb, "slots": slots, "heap_mb": HEAP_MB,
            "spec": wl.spec.describe(), "resume": wl.resume, "rounds": ROUNDS, "setup": setup,
        }

        if tracer:
            # restart cost of the checkpoint the timed crawl started from
            # (resume-deep) or wrote (parse-wide)
            source, last_round = (imported, 0) if wl.resume else (ckpt, ROUNDS)
            restores = restore(spark, tables, gen.BLACKLIST_PATTERNS, last_round, source, tracer)
            layers = layer_counts(spark, state, ckpt)
            old_mb, cache_mb = jvm_memory(spark)
            layers.update(setup)
            layers["mem.jvm_old_after_gc_mb"] = old_mb
            layers["mem.jvm_old_peak_mb"] = old_peak_mb
            layers["mem.cached_mb"] = max(cache_mb, tracer.cache_peak_mb)
            layers["mem.py_worker_hwm_mb"] = mem.py_worker_mb()
        _shutdown(spark)
        spark = None

        if tracer:
            log = read_event_log(find_event_log(str(work / "events")))
            spans = tracer.dump()
            roots = [s for s in spans if s["layer"] == "crawl" and s["parent"] is None]
            crawl_root = next(s for s in roots if s["name"] == "run_crawl")
            a = attribute(spans, crawl_root["id"], log)
            for layer in LAYERS:
                layers[f"{layer}.calls"] = a["calls"][layer]
                layers[f"{layer}.self_s"] = a["self_s"][layer]
                for k, v in a["spark"][layer].items():
                    layers[f"{layer}.{k}"] = v
            for k, v in a["python"].items():
                layers[f"fetch.{k}"] = v
            layers["seen.compact_s"] = a["compact_s"]
            layers["snapshots.commit_s"] = a["snapshot_commit_s"]
            last_restore = [s for s in roots if s["name"] == "restore"][-1]
            layers["snapshots.restore_s"] = restores
            layers["snapshots.restore_read_s"] = attribute(spans, last_restore["id"], log)["self_s"]["snapshots"]
            layers["crawl.wall_s"] = a["wall_s"]
            layers["crawl.round_s_p50"] = a["round_s_p50"]
            layers["crawl.round_s_max"] = a["round_s_max"]
            layers["crawl.driver_gap_s"] = a["driver_gap_s"]
            layers["crawl.unattributed_s"] = a["unattributed_s"]
            layers["trace.span_overhead_s"] = tracer.overhead_s
            out_dir = ROOT / ".crawlbench_out"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"trace-{args.workload}-{args.seed}.json").write_text(
                json.dumps({"spans": spans, "attribution": a, "layers": layers, "run": info}, indent=1)
            )
            out = layers
        return {
            "correct": failures["failed"] == 0, "attempted": failures["attempted"],
            "failed": failures["failed"], "metrics": out, "info": info,
        }
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def declared_metrics(trace: bool) -> dict[str, str]:
    """{name: unit} of the metrics BENCHMARK.json declares for this mode."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="ignored: a run times one crawl")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "tripwire_spark" / "__init__.py").is_file():
        print(f"crawlbench: no tripwire_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.workload not in workloads():
        print(f"crawlbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = declared_metrics(bool(args.trace))
    res = run(args)
    info = res.pop("info")
    if set(res["metrics"]) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(res['metrics']) ^ set(units))}")
    print(f"crawlbench {args.workload} seed={args.seed}: crawl_wall_s={info['crawl_wall_s']} "
          f"tree_peak_rss_mb={info['tree_peak_rss_mb']} setup={info['setup']}")
    print(f"failed_share={res['failed'] / max(1, res['attempted']):.6f} ({res['failed']}/{res['attempted']}) "
          f"check={info['check']}")
    # The result line may hold only the four contract keys, so the run
    # digest goes on the line before it.
    print(f"digest={info['digest']}")
    res["attempted"] = max(1, res["attempted"])
    res["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()}
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
