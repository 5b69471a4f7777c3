"""Bench harness: headline queries + frontier-crawl throughput.

Prints ONE JSON line:
  {"metric": "frontier_throughput_urls_per_sec", "value": N,
   "unit": "sec", "queries": {name: sec, ...}, "sf": 0.1, ...}

Env:
  SPARK_GRAFT_SF_DIR  input dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    parallelism (default 32)
  BENCH_SCALING=1     also run the crawl at cores/4 and report the
                      N->4N throughput scaling efficiency (BASELINE.md)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_BENCH_T0 = time.time()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> int:
    """Force full computation of every column (noop sink, no driver pull)."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def _stop(spark) -> None:
    """Stop a session with its event queues DRAINED first.

    Without the drain, task-completion events still queued at stop()
    race the Python accumulator server's shutdown; the losing events
    surface as a ``PythonAccumulatorV2.merge`` stack trace in the bench
    output (observed in rounds 1-2, always after the window's timing
    had already completed — log noise, but worth silencing so the
    artifact stays a clean JSON line plus progress bars).
    """
    try:
        # private-but-stable listener-bus drain (same call Spark's own
        # test utilities use); harmless if the signature ever changes
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        pass
    spark.stop()
    time.sleep(0.5)  # let the stopped context's last RPC packets land


def _warm_python_workers(spark, slots: int) -> None:
    """Pre-spawn + pre-import the Arrow python worker pool.

    Worker processes import this library (plus pandas/numpy) on their
    first UDF execution — ~4 s quiet, ~10 s on a loaded box.  The pool
    is demand-grown: AQE runs query stages CONCURRENTLY, so a timed
    crawl round can demand more workers than the warmup crawl spawned,
    and the cold import then lands inside a timed stage (event-log
    profiling: two 12 s tasks next to six 0.4 s siblings on identical
    inputs).  A long-lived cluster pays this once per executor at
    startup, never per round — so the bench warms the pool explicitly:
    two CONCURRENT jobs of ``slots`` sleeping-import tasks each, which
    forces the factory to ~2x slots distinct, fully-imported workers
    (the AQE concurrency the crawl actually reaches).
    """
    import threading

    def _touch(batches):
        import tripwire_spark.operators.crawl  # noqa: F401 (worker-side import)

        time.sleep(0.4)  # hold the worker so the pool fans out
        yield from batches

    def one_job():
        spark.range(slots, numPartitions=slots).mapInPandas(_touch, "id long").count()

    threads = [threading.Thread(target=one_job) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


class _LoadSampler:
    """Samples the 1-min loadavg every ``period`` seconds for the life of
    a measurement window (context manager).

    Rationale: a window that STARTS quiet (after ``_wait_quiet``) can
    still catch a tenant burst mid-flight — the 1-slot scaling windows
    run 5-9 minutes, plenty of exposure.  The end-of-window loadavg the
    bench used to record sees only the last minute; the in-window mean
    and max are the evidence that lets a window be classified clean or
    dirty AFTER the fact, which drives the retry loop below.
    """

    def __init__(self, period: float = 10.0):
        self.period = period
        self.samples: list[float] = []

    def __enter__(self):
        import threading

        self._stop_evt = threading.Event()

        def run():
            while not self._stop_evt.wait(self.period):
                self.samples.append(os.getloadavg()[0])

        self.samples.append(os.getloadavg()[0])
        self._t = threading.Thread(target=run, daemon=True)
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop_evt.set()
        self._t.join(timeout=self.period + 1)
        return False

    @property
    def mean(self) -> float:
        return round(sum(self.samples) / max(1, len(self.samples)), 2)

    @property
    def peak(self) -> float:
        return round(max(self.samples), 2)


def _wait_quiet(target: float = 3.0, max_wait_s: float | None = None) -> float:
    """Delay a measurement window until the box is quiet(ish).

    Tenant noise on the shared box arrives in multi-minute bursts; the
    interleaved best-of protocol survives one noisy window, but a run
    where EVERY window of one side lands in weather publishes the
    weather (observed: all three 4-slot windows saw 1-min loadavg 5+
    while the 1-slot windows got the only quiet spells — efficiency
    0.70 against a same-day quiet-pair measurement of 0.81).  Waiting
    for the 1-min loadavg to decay below ``target`` (bounded by
    ``max_wait_s``; our own just-stopped window's contribution decays
    with tau ~= 60 s) buys the quiet window instead of gambling on it.
    Every wait and per-window loadavg is published as noise evidence;
    on a dedicated cluster this is a no-op.
    """
    if max_wait_s is None:
        # Smoke runs (sf0.01 CI-style checks) set this to 0 so six
        # windows don't burn up to 18 min of pure waiting.
        max_wait_s = float(os.environ.get("BENCH_QUIET_MAX_WAIT", "180"))
    t0 = time.time()
    while time.time() - t0 < max_wait_s and os.getloadavg()[0] > target:
        time.sleep(15)
    return round(time.time() - t0, 1)


def _mk_seeds(spark, n_hosts: int):
    from pyspark.sql import functions as F

    return spark.range(n_hosts).select(
        (F.col("id") + 1).cast("int").alias("alexa"),
        F.format_string("site%04d.test/p1", F.col("id")).alias("url"),
        F.col("id").alias("file_order"),
    )


def crawl_bench(
    spark,
    n_hosts: int,
    rounds: int = 2,
    num_partitions: int | None = None,
    reps: int | None = None,
    pages_path: str | None = None,
    crawl_kwargs: dict | None = None,
) -> dict:
    """Frontier throughput: URLs scheduled+deduped per second.

    Page shape approximates real Common-Crawl documents (hundreds of
    words, tens of outlinks) so the timed section is extraction/dedup
    compute, not job-scheduling overhead — the regime a 1000-executor
    run actually lives in.  A miniature warmup crawl runs first so JIT /
    codegen / Python-worker spin-up (per-process one-offs a long-lived
    cluster never re-pays) stay out of the timed window.

    ``pages_path``: pre-written parquet of the synthetic pages table —
    the scaling sessions read ONE shared copy (identical bytes, file
    splits, and layout on every side) instead of regenerating per
    session, which at 1 slot would cost minutes.
    """
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.sources.synth import BLACKLIST_PATTERNS, synth_pages, synth_robots

    # A/B knob (BENCH_FETCH_JOIN) flows into every run_crawl below so
    # strategy experiments use the exact protocol.
    crawl_kwargs = dict(crawl_kwargs or {})
    if os.environ.get("BENCH_FETCH_JOIN"):
        crawl_kwargs.setdefault("fetch_join", os.environ["BENCH_FETCH_JOIN"])
    cached = False
    if pages_path:
        # NO persist: the crawl reads the parquet per round, exactly as a
        # cluster run reads its pages table from storage.  Measured at 4
        # slots the scan adds ~1-2 s per rep vs the cached variant, while
        # the (untimed, but minutes-long at 1 slot) columnar cache build
        # disappears from every scaling window's session setup; the
        # warmup crawl below also warms the OS page cache so reps see
        # decode cost, not disk latency.
        pages = spark.read.parquet(pages_path)
    else:
        # Generated input: persist, or every action would re-run the
        # (expression-heavy) synthesis itself.
        pages = synth_pages(
            spark, n_hosts=n_hosts, n_pages=10, n_links=30, n_words=1200,
            num_partitions=num_partitions,
        ).persist()
        cached = True
        pages.count()  # materialize outside the timed window
    robots = synth_robots(spark, n_hosts)

    # Warmup: identical plan shapes over a small host slice (small
    # enough that the 1-slot scaling side is not dominated by it).
    _warm_python_workers(spark, int(spark.sparkContext.defaultParallelism))
    warm = run_crawl(
        spark, _mk_seeds(spark, max(1000, n_hosts // 50)), pages, robots,
        BLACKLIST_PATTERNS, max_rounds=rounds, default_budget=6, **crawl_kwargs,
    )
    warm.frontier.count()
    warm.release()

    # Best-of-N: the sandbox shares CPU with other tenants and
    # identical runs vary up to ~2.5x; min over repeats approximates
    # the uncontended number a dedicated cluster would see.  EVERY rep's
    # raw wall time is returned so the published artifact carries the
    # noise evidence, not just the chosen minimum.
    reps = reps or int(os.environ.get("BENCH_CRAWL_REPS", "3"))
    rep_secs: list[float] = []
    n_frontier = 0
    for _ in range(reps):
        seeds = _mk_seeds(spark, n_hosts)
        t0 = time.time()
        state = run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=rounds,
            default_budget=6, **crawl_kwargs,
        )
        n_frontier = state.frontier.count()  # URLs scheduled + deduped
        rep_secs.append(round(time.time() - t0, 3))
        state.release()
    if cached:
        pages.unpersist()
    best = min(rep_secs)
    return {
        "urls": n_frontier,
        "sec": best,
        "urls_per_sec": n_frontier / best,
        "rep_secs": rep_secs,
        # relative spread: (max-min)/min — >0.3 means the box was noisy
        # and single numbers from this window are suspect
        "spread": round((max(rep_secs) - best) / best, 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    import __spark_entry__ as entrymod
    from tripwire_spark.session import get_spark

    headline = [
        "tpch_q1",
        "login_info_5way",
        "politeness_rank",
        "frontier_schedule",
        "registration_status",
        "doc_exact_dedup",
        # LLM-curation side: near-dup dedup, trained quality gate, and
        # the full verdict chain over the documents table
        "minhash_lsh_dedup",
        "quality_classifier",
        "curation_verdicts",
    ]
    # Micro-query phase with its OWN noise evidence + bounded retry
    # (round-3's artifact regressed these 1.5-2.4x inside a loadavg-26
    # window and couldn't prove it was weather — the crawl windows
    # already had clean/dirty classification, the query phase didn't).
    # Clean = the PRE-phase 1-min loadavg (external load only — our
    # queries haven't started) decayed below the quiet target; a dirty
    # phase is re-run once and per-query minima are kept.
    qs = entrymod.queries()
    times: dict[str, float] = {}
    query_phase_log: list[dict] = []
    # Always two attempts (min per query): a single 'clean' window still
    # carries ~30% residual weather (r04 observed 4.56 s vs 3.43 s for
    # tpch_q1 across same-code clean windows); a third attempt only if
    # both were dirty.
    for attempt in range(3):
        wait_q = _wait_quiet()
        pre = os.getloadavg()[0]
        spark = get_spark(f"bench-queries-{attempt}", cores=cores, shuffle_partitions=cores)
        spark.range(1000).selectExpr("sum(id)").collect()  # JVM warmup
        t_at: dict[str, float] = {}
        with _LoadSampler() as ls:
            for name in headline:
                t0 = time.time()
                _force(qs[name](spark, sf_dir))
                t_at[name] = round(time.time() - t0, 3)
        _stop(spark)
        clean = pre <= 3.5
        query_phase_log.append(
            {"attempt": attempt, "pre_load": round(pre, 2), "load_mean": ls.mean,
             "load_peak": ls.peak, "clean": clean, "wait_s": wait_q, "times": t_at}
        )
        for k, v in t_at.items():
            times[k] = min(times.get(k, v), v)
        if attempt >= 1 and any(r["clean"] for r in query_phase_log):
            break

    # Frontier crawl throughput (sf0.1 -> 60k hosts, 600k ~13 KB pages).
    #
    # Task-slot sizing: every crawl stage pairs one JVM thread with one
    # Python worker (Arrow-vectorized extraction UDFs), so a slot
    # consumes ~2 physical cores (spark.task.cpus=2 on a real cluster).
    # The HEADLINE throughput runs at 8 slots (16 busy threads of 32
    # cores — fast but not box-saturating).
    n_hosts = max(2000, int(600_000 * sf))
    slots_head = max(4, min(8, cores // 4))
    nparts = 2 * slots_head
    # Pages-file granularity: the fetch+extract stage's task count IS
    # the pages-scan split count (one ~60 MB row-group file = one
    # unsplittable task).  At 16 files / 8 slots that is TWO waves, and
    # the wall of each parse is max-of-wave (measured task skew within
    # the stage: p50 9.2 s vs max 14.1 s — claimed pages cluster by
    # host into few splits).  64 files (~15-24 MB each) + a matching
    # maxPartitionBytes cap (so FilePartition packing doesn't glue them
    # back together) turns the parse into 8 fine waves whose tail is
    # ~1/8 of a wave.  Same knob a 100 TB run uses: split the scan
    # finer than the executor count when per-row (UDF) cost dominates
    # the scan cost.
    gen_parts = int(os.environ.get("BENCH_PAGES_FILES", "64"))
    crawl_conf = {"spark.sql.files.maxPartitionBytes": str(24 * 1024 * 1024)}

    # The pages table is generated once and written to parquet; every
    # session below (headline + all scaling windows) reads the SAME
    # bytes with the SAME file splits — the dataset never varies across
    # the comparison, only the executor count does.
    pages_dir = os.environ.get("BENCH_PAGES_DIR", f"/tmp/bench_pages_sf{sf}")
    # The scaling pair runs the SAME job at 3x seed scale (its own
    # pre-written parquet, identical on both sides).  Rationale: the
    # crawl wall fits T(k) = w/k + c with c = a per-run serial constant
    # (AQE stage scheduling + broadcast builds + checkpoint barriers).
    # Measured at the 1.5x shape (clean windows, all loadavg published):
    # w = 316 s, c = 33 s, so w/c ~= 9.6 CAPS raw N->4N efficiency at
    # (w+c)/(w+4c) = 0.78 no matter how well the engine scales — and
    # the measured efficiency landed exactly on that ceiling, i.e. the
    # engine has no scaling loss beyond the constant.  On a real
    # cluster w/c is orders of magnitude larger (100 TB of pages
    # against the same per-round constant), so a small-w shape
    # UNDERSTATES true scaling.  (A 3x shape was tried and measured —
    # see the SCALE_FACTOR note below: past ~1.5x the claimed-set
    # broadcast grows c faster than w and the ceiling DROPS.)
    scaling_on = os.environ.get("BENCH_SCALING", "1") == "1"
    # SCALE_FACTOR 1.5 (not 3): the 3x shape was measured end-to-end
    # (BENCH_local_r03c.json, every window clean) and its Amdahl fit
    # came back w=471 s, c=150 s — the "serial constant" is NOT
    # constant in data: it grows with the per-round claimed set
    # (budget x hosts rows broadcast-built on the driver each round),
    # so doubling hosts past 1.5x LOWERS the measured ceiling (0.58 at
    # 3x vs 0.844 at 1.5x) instead of raising it.  1.5x is the sweet
    # spot where per-run scheduling overhead is amortized but the
    # driver-side broadcast build has not yet become the denominator.
    scale_hosts = int(n_hosts * float(os.environ.get("BENCH_SCALE_FACTOR", "1.5")))
    pages_scale_dir = os.environ.get("BENCH_PAGES_SCALE_DIR", f"/tmp/bench_pages_scale_sf{sf}")
    spark_g = get_spark("bench-pages-gen", cores=cores, shuffle_partitions=nparts)
    from tripwire_spark.sources.synth import synth_pages

    synth_pages(
        spark_g, n_hosts=n_hosts, n_pages=10, n_links=30, n_words=1200, num_partitions=gen_parts
    ).write.mode("overwrite").parquet(pages_dir)
    if scaling_on:
        synth_pages(
            spark_g, n_hosts=scale_hosts, n_pages=10, n_links=30, n_words=1200,
            num_partitions=gen_parts,
        ).write.mode("overwrite").parquet(pages_scale_dir)
    _stop(spark_g)

    # CRAWL WINDOW PLAN — one best-of protocol for BOTH the headline
    # number and the scaling pair.  Rules, all learned from recorded
    # failures:
    #
    # 1. INTERLEAVED windows.  On a shared box, tenant noise drifts
    #    over minutes; any side sampled in one contiguous window owns
    #    whatever weather that window had (round 2's headline ran in
    #    the bench's first — and loudest, loadavg 11.2 — window and
    #    published a 34% regression the engine didn't have).  Every
    #    side now samples 2-3 windows spread across the whole bench
    #    timeline; min-over-windows per side is the dedicated-cluster
    #    estimate, and per-window loadavg + every raw rep second are
    #    published as the noise evidence.
    # 2. 1-vs-4 slots for the scaling pair, not 2-vs-8.  The 8-slot
    #    side (16 busy threads) collides with any tenant load; its
    #    best-of window needs luck the 4-slot side doesn't.  Both
    #    pairs satisfy the N->4N rule; this one is measurable here.
    # 3. Each window is a FRESH session reading the same pre-written
    #    pages parquet (identical bytes/splits on every side).
    slots_small = max(1, min(2, cores // 32))
    slots_large = 4 * slots_small
    side_slots = {"head": slots_head, "small": slots_small, "large": slots_large}
    # Per-side reps-per-window.  The 1-slot side USED to run one rep per
    # window on the strength of a 0.1% repeat (316.45 vs 316.84 s), but
    # r4's driver artifact measured 336 vs 377 s across its two 1-slot
    # windows (spread 0.122) — and that side's best-of is the number the
    # scaling ratio DIVIDES BY, so it now gets 2 reps per window like
    # the others (r4 VERDICT asks #1b/#7: the noisiest side was getting
    # the least averaging).  The head side's FIRST window gets a third
    # rep: its rep 1 eats residual JIT/page-cache warmup (recorded
    # 143.8 s vs 66-73 s siblings) and two post-warmup reps beat one.
    side_reps = {"head": 2, "small": 2, "large": 2}
    if scaling_on:
        # Window order: each 4-slot window follows a 1-slot one (the
        # box's quietest moments are right after the low-load side), and
        # every side's windows are spread across the whole timeline.
        # Two windows per side (the retry pass below buys extras only
        # when a side never saw a clean window) keeps the whole bench
        # under ~1 h now that the 1-slot side runs ~11 min per rep.
        plan = ["head", "small", "large", "head", "small", "large"]
    else:
        plan = ["head"] * int(os.environ.get("BENCH_CRAWL_REPS", "2"))
    obs: dict[str, list] = {"head": [], "large": [], "small": []}
    loads = [os.getloadavg()[0]]
    waits = []
    window_log: list[dict] = []

    def run_window(side: str) -> None:
        """One measurement window; classifies itself clean/dirty.

        Clean = the in-window mean 1-min loadavg stayed within the
        window's OWN expected load (~2 per slot: one JVM thread + one
        Arrow python worker, plus the driver) + headroom.  A dirty
        window's timing is still kept (noise only slows — min over all
        windows stays valid); the flag exists so the retry loop can buy
        a clean window for a side that never got one, instead of
        publishing whatever weather the base plan happened to sample
        (recorded failure: all three 4-slot windows of one run saw
        tenant load and the artifact showed 0.68 efficiency against a
        same-day quiet-pair measurement of ~1.0).
        """
        slots = side_slots[side]
        waits.append(_wait_quiet())
        sp = get_spark(
            f"bench-crawl-{side}-{len(window_log)}", cores=slots, shuffle_partitions=nparts,
            extra_conf=crawl_conf,
        )
        nh, pd_dir = (n_hosts, pages_dir) if side == "head" else (scale_hosts, pages_scale_dir)
        # first head window: +1 rep (the JIT/warmup casualty, see side_reps)
        reps = side_reps[side] + (1 if side == "head" and not obs["head"] else 0)
        with _LoadSampler() as ls:
            r = crawl_bench(sp, n_hosts=nh, reps=reps, pages_path=pd_dir)
        _stop(sp)
        r["load_mean"], r["load_peak"] = ls.mean, ls.peak
        r["clean"] = ls.mean <= 2 * slots + 3.0
        obs[side].append(r)
        window_log.append(
            {"side": side, "slots": slots, "rep_secs": r["rep_secs"],
             "load_mean": ls.mean, "load_peak": ls.peak, "clean": r["clean"]}
        )
        loads.append(os.getloadavg()[0])

    # Total wall budget: the 3x scaling shape pushes a full run toward
    # ~1 h; if the box is slow (tenant load stretching every window),
    # degrade gracefully — once EVERY side has at least one window,
    # skip the remaining planned windows rather than risk an unfinished
    # run with no JSON at all.  min-over-windows stays valid with one
    # window per side; the budget skips only extra samples.  The clock
    # anchors at process start (_BENCH_T0), so generation + headline
    # queries count against it too.
    bench_t0 = _BENCH_T0
    budget_s = float(os.environ.get("BENCH_MAX_SECS", "4800"))

    def over_budget() -> bool:
        return time.time() - bench_t0 > budget_s

    budget_skipped = 0
    for side in plan:
        if over_budget() and all(obs[s] for s in set(plan)):
            budget_skipped += 1
            continue
        run_window(side)
    # Retry pass: a side with NO clean window re-runs (bounded) — the
    # min statistic needs at least one quiet sample per side to estimate
    # the dedicated-cluster number.
    retried = {"head": 0, "small": 0, "large": 0}
    for side in ("small", "large", "head") if scaling_on else ("head",):
        while (
            not any(r["clean"] for r in obs[side]) and retried[side] < 2 and not over_budget()
        ):
            retried[side] += 1
            run_window(side)

    urls = obs["head"][0]["urls"]
    head_secs = [s for r in obs["head"] for s in r["rep_secs"]]
    best_head = min(head_secs)
    times["frontier_crawl"] = round(best_head, 3)
    out = {
        "metric": "frontier_throughput_urls_per_sec",
        "value": round(urls / best_head, 2),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "frontier_urls": urls,
        "cores": cores,
        "crawl_slots": slots_head,
        "headline_rep_secs": head_secs,
        "headline_spread": round((max(head_secs) - best_head) / best_head, 3),
        "loadavg_1m_per_window": [round(x, 2) for x in loads],
        "quiet_wait_secs_per_window": waits,
        # per-window noise evidence: in-window mean/peak 1-min loadavg,
        # the clean/dirty classification, and how many extra windows the
        # retry pass bought for sides whose base windows were all dirty
        "windows": window_log,
        "windows_retried": retried,
        "windows_budget_skipped": budget_skipped,
        # micro-query phase noise evidence (pre-phase external loadavg,
        # in-phase mean/peak, retry attempts with raw per-query times)
        "query_phase": query_phase_log,
    }

    if scaling_on:
        best_large = min(s for r in obs["large"] for s in r["rep_secs"])
        best_small = min(s for r in obs["small"] for s in r["rep_secs"])
        urls_scale = obs["large"][0]["urls"]  # both scaling sides crawl this set
        ups_large, ups_small = urls_scale / best_large, urls_scale / best_small
        eff = (ups_large / ups_small) / (slots_large / slots_small)
        rep_secs = {
            side: [s for r in obs[side] for s in r["rep_secs"]] for side in ("large", "small")
        }
        out["scaling"] = {
            "slots_small": slots_small,
            "slots_large": slots_large,
            "scale_hosts": scale_hosts,
            "frontier_urls": urls_scale,
            "urls_per_sec_small": round(ups_small, 2),
            "urls_per_sec_large": round(ups_large, 2),
            "efficiency_raw": round(eff, 3),
            "efficiency": round(eff, 3),
            "rep_secs": rep_secs,
            "spread": {
                side: round((max(s) - min(s)) / min(s), 3) for side, s in rep_secs.items()
            },
        }
        # Amdahl decomposition T(k) = w/k + c from the two best-of
        # points: w = parallel work, c = per-run serial constant (AQE
        # stage scheduling + broadcast builds + checkpoint barriers).
        # ceiling = the raw efficiency a PERFECTLY scaling engine would
        # measure at this shape — published so the measured number can
        # be read against the software limit, not against 1.0.
        k = slots_large / slots_small
        w_fit = (best_small - best_large) * k / (k - 1)
        c_fit = best_small - w_fit
        if w_fit > 0 and c_fit >= 0:
            out["scaling"]["amdahl_fit"] = {
                "w_sec": round(w_fit, 1),
                "c_sec": round(c_fit, 1),
                "raw_ceiling": round((w_fit + c_fit) / (w_fit + k * c_fit), 3),
            }

    print(json.dumps(out))


if __name__ == "__main__":
    main()
