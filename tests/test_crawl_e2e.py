"""M1 end-to-end: fixture crawl — byte-identical text, politeness cap,
deterministic ordering, seen-set exactness (SURVEY.md §5.2/5.4)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from tripwire_spark.sources.synth import (
    BLACKLIST_PATTERNS,
    synth_pages,
    synth_robots,
    synth_seeds,
)

N_HOSTS, N_PAGES, N_LINKS = 12, 4, 3


@pytest.fixture(scope="module")
def fixture_tables(spark):
    pages = synth_pages(spark, N_HOSTS, N_PAGES, N_LINKS).persist()
    seeds = synth_seeds(spark, n_seeds=8, n_dup=2, n_blacklisted=2).persist()
    robots = synth_robots(spark, N_HOSTS).persist()
    pages.count(), seeds.count(), robots.count()
    return pages, seeds, robots


def test_text_extraction_byte_identical(spark, fixture_tables):
    """Engine text (HTMLParser path) == generator text (SQL-expr path),
    byte for byte, for every page (pageUtils.js:58-61 invariant)."""
    from tripwire_spark.functions.html import extract_text

    pages, _, _ = fixture_tables
    mismatch = (
        pages.withColumn("etext", extract_text("html"))
        .filter((F.col("etext") != F.col("text")) | F.col("etext").isNull())
    )
    rows = mismatch.select("url", "text", "etext").collect()
    assert rows == [], f"text mismatch on {len(rows)} pages, e.g. {rows[:2]}"


def test_build_frontier_dedup_blacklist(spark, fixture_tables):
    from tripwire_spark.operators.frontier import build_frontier

    _, seeds, _ = fixture_tables
    fr = build_frontier(seeds, BLACKLIST_PATTERNS)
    rows = {r.url: r for r in fr.collect()}
    # 8 unique seeds; dups (uppercase variants of 0,1) collapsed; google blacklisted.
    assert len(rows) == 8
    assert "http://site0000.test/p0" in rows
    assert all("google" not in u for u in rows)
    # dedup kept the FIRST file_order (qid = file_order of first occurrence)
    assert rows["http://site0000.test/p0"].qid == 0


def test_crawl_end_to_end(spark, fixture_tables, tmp_path):
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    state = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=3, default_budget=2
    )
    frontier = state.frontier.persist()

    # 1. Seen-set exactness: one frontier row per canonical URL, ever.
    n = frontier.count()
    assert n == frontier.select("url").distinct().count()
    assert n == frontier.select("url_hash").distinct().count()

    # 2. Politeness: per (host, round) completed+failed fetches <= budget.
    per_round = (
        state.fetch_log.groupBy("host", "round")
        .agg(F.count("*").alias("n"))
        .join(robots, "host", "left")
        .withColumn("budget", F.coalesce("crawl_budget", F.lit(2)))
        .filter(F.col("n") > F.col("budget"))
    )
    assert per_round.count() == 0

    # 3. Robots: disallowed prefixes never fetched; seed rows for /p0 on
    # hosts h%4==0 end disabled.
    fetched_urls = [r.url for r in state.fetch_log.collect()]
    assert "http://site0000.test/p0" not in fetched_urls
    assert "http://site0004.test/p0" not in fetched_urls
    dis = {r.url for r in frontier.filter(F.col("status") == "disabled").collect()}
    assert "http://site0000.test/p0" in dis

    # 4. Byte-identical text on every fetched page.
    joined = state.results.alias("r").join(
        pages.select(F.col("url"), F.col("text").alias("expected")), "url"
    )
    bad = joined.filter(F.col("text") != F.col("expected")).count()
    assert bad == 0 and state.results.count() > 0

    # 5. Crawl-order replay: round-1 claims are the per-host FIFO prefix
    # by qid under the budget — verify against an independently computed
    # golden order.
    r1 = sorted(
        [(r.host, r.qid) for r in state.fetch_log.filter(F.col("round") == 1).collect()]
    )
    golden = sorted(
        [
            (f"site{s:04d}.test", s)
            for s in range(8)
            if s % 4 != 0  # robots-disabled hosts (h%4==0 disallow /p0)
        ]
    )
    assert r1 == golden

    # 6. Discovered URLs exist; qid = the full 64-bit url_hash (unique
    #    among discoveries by seen-set construction), and the frontier's
    #    compound key (qid, round_added) is unique overall.
    disc = frontier.filter(F.col("round_added") >= 1)
    assert disc.count() > 0
    assert disc.filter(F.col("qid") != F.col("url_hash")).count() == 0
    assert frontier.count() == frontier.select("qid", "round_added").distinct().count()
    frontier.unpersist()


def test_crawl_metrics_table(spark, fixture_tables):
    """S4/A8: per-round metrics derived from the logs — fetch counts
    split by outcome, candidate/skip decision counts."""
    from tripwire_spark.operators.crawl import crawl_metrics, run_crawl

    pages, seeds, robots = fixture_tables
    state = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2)
    m = {r["round"]: r for r in crawl_metrics(state).collect()}
    assert m[1]["n_fetches"] == m[1]["n_found"] + m[1]["n_missed"]
    assert m[1]["n_found"] > 0 and m[1]["n_candidates"] > 0


def test_backpressure_halves_budget_on_misses(spark, fixture_tables):
    """T8: a round fetching mostly misses caps the next round's claim
    budget (the bad-proxy gate analog, run_queue_nowrap:219-231)."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    # pages table withholding /p0 urls: every seed fetch misses round 1
    no_seed_pages = pages.filter(~F.col("url").endswith("/p0"))
    state = run_crawl(
        spark, seeds, no_seed_pages, None, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2, backpressure=True,
    )
    assert state.metrics[0]["miss_rate"] == 1.0
    assert state.metrics[0]["budget_cap_next"] == 1
    # and a healthy crawl never throttles
    ok = run_crawl(
        spark, seeds, pages, None, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2, backpressure=True,
    )
    assert all(mm["budget_cap_next"] is None for mm in ok.metrics)


def test_crawl_deterministic_across_runs(spark, fixture_tables):
    """Same input -> identical frontier (qid,url,status) on a re-run."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    a = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2)
    b = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2)
    rows_a = sorted(map(tuple, a.frontier.select("qid", "url", "status", "try").collect()))
    rows_b = sorted(map(tuple, b.frontier.select("qid", "url", "status", "try").collect()))
    assert rows_a == rows_b


def test_crawl_fetch_join_strategies_identical(spark, fixture_tables):
    """fetch_join='shuffle_hash' (the past-10^8-claimed switchover) and
    the cogroup seen mode must both produce the exact broadcast+scan
    frontier — the flags trade plan shape, never results."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables

    def rows(**kw):
        st = run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS,
            max_rounds=2, default_budget=2, **kw,
        )
        out = sorted(map(tuple, st.frontier.select("qid", "url", "status", "try").collect()))
        st.release()
        return out

    base = rows()  # seen_mode='auto' resolves to cogroup at this scale
    assert rows(fetch_join="shuffle_hash") == base
    assert rows(seen_mode="cogroup") == base
    assert rows(seen_mode="scan") == base
    # auto modes re-resolve per ROUND from zero-cost estimates (r5):
    # threshold=1 flips seen to scan / fetch to shuffle_hash from round
    # 2 on (round 1 has no prior-round numbers and takes the defaults)
    assert rows(seen_mode="auto", seen_mode_threshold=1) == base
    assert rows(fetch_join="auto", fetch_join_threshold=1) == base
    assert rows(fetch_join="auto") == base  # stays broadcast at this scale


def test_resume_from_checkpoint(spark, fixture_tables, tmp_path):
    """Kill after round 1, resume, final state == uninterrupted run."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    ck = str(tmp_path / "ck")
    full = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2
    )
    # interrupted: only round 1 committed...
    run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=1, default_budget=2, checkpoint_dir=ck,
    )
    # ...then resume to round 2.
    resumed = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2, checkpoint_dir=ck, resume=True,
    )
    rows_full = sorted(map(tuple, full.frontier.select("qid", "url", "status", "try").collect()))
    rows_res = sorted(map(tuple, resumed.frontier.select("qid", "url", "status", "try").collect()))
    assert rows_full == rows_res


def test_checkpoint_with_track_clicked_off(spark, fixture_tables, tmp_path):
    """Regression: checkpoint_dir + track_clicked=False must not crash on
    the clicked-table commit (the state is None by design)."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    state = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2,
        checkpoint_dir=str(tmp_path / "ck_nc"), track_clicked=False,
    )
    assert state.frontier.count() > 0 and state.rounds_run == 2


def test_long_crawl_bounded_lineage(spark):
    """A 20-round no-checkpoint crawl completes without plan blowup: the
    seen segments, clicked state, and log DAGs are compacted/pinned every
    ``compact_every`` rounds, so max_rounds is unbounded by design.

    Fixture: 2 hosts, each a 25-page chain (p_i links only to p_{i+1}
    with a distinct anchor text) — one discovery per host per round, so
    the frontier stays alive through all 20 rounds."""
    from tripwire_spark.operators.crawl import run_crawl

    n_pages, n_hosts = 25, 2
    ids = spark.range(n_hosts * n_pages)
    h = (F.col("id") / n_pages).cast("long")
    p = F.pmod(F.col("id"), F.lit(n_pages))
    pages = ids.select(
        F.format_string("http://site%04d.test/p%d", h, p).alias("url"),
        F.timestamp_seconds(F.lit(1451606400) + F.col("id")).alias("warc_ts"),
        F.concat(
            F.format_string("<html><head><title>s%d p%d</title></head><body>", h, p),
            F.format_string(
                '<a href="http://site%04d.test/p%d">next page %d</a>', h, p + 1, p + 1
            ),
            F.lit("</body></html>"),
        ).cast("binary").alias("html"),
        F.lit("en").alias("lang"),
    ).persist()
    seeds = spark.range(n_hosts).select(
        (F.col("id") + 1).cast("int").alias("alexa"),
        F.format_string("site%04d.test/p0", F.col("id")).alias("url"),
        F.col("id").alias("file_order"),
    )
    state = run_crawl(
        spark, seeds, pages, None, BLACKLIST_PATTERNS,
        max_rounds=20, default_budget=1, compact_every=4,
    )
    assert state.rounds_run == 20
    n = state.frontier.count()
    assert n == state.frontier.select("url_hash").distinct().count()
    # every round really fetched something (the frontier never drained)
    assert state.fetch_log.select("round").distinct().count() == 20
    # chain crawl: round r fetched exactly p_{r-1} of each host
    assert state.fetch_log.count() == 20 * n_hosts
    state.release()
    pages.unpersist()


def test_url_trap_detection_and_filter(spark):
    """A calendar-shape explosion on one host is flagged and trimmed to
    `keep` URLs; distinct-shape pages and other hosts pass untouched."""
    import pyspark.sql.functions as F

    from tripwire_spark.operators.frontier import detect_url_traps, filter_url_traps

    trap = spark.range(300).select(
        F.format_string("http://a.test/cal/2026/%d?session=%d", "id", "id").alias("url")
    )
    ok = spark.createDataFrame(
        [("http://a.test/about",), ("http://a.test/contact",), ("http://b.test/cal/2026/1?session=9",)],
        "url string",
    )
    urls = trap.unionByName(ok)

    shapes = {(r.host, r.shape): r for r in detect_url_traps(urls, limit=100).collect()}
    assert shapes[("a.test", "/cal/N/N?session")].is_trap
    assert shapes[("a.test", "/cal/N/N?session")].n_urls == 300
    assert not shapes[("b.test", "/cal/N/N?session")].is_trap  # same shape, other host
    assert not shapes[("a.test", "/about?")].is_trap

    kept = filter_url_traps(urls, limit=100, keep=5).collect()
    by_host = {}
    for r in kept:
        by_host.setdefault(r.url.split("/")[2], []).append(r.url)
    assert len([u for u in by_host["a.test"] if "/cal/" in u]) == 5  # trimmed
    assert "http://a.test/about" in by_host["a.test"]  # untouched
    assert by_host["b.test"] == ["http://b.test/cal/2026/1?session=9"]

    # deterministic across partitionings (keep = first K by url asc)
    a = sorted(r.url for r in filter_url_traps(urls.repartition(1), limit=100, keep=5).collect())
    b = sorted(r.url for r in filter_url_traps(urls.repartition(13), limit=100, keep=5).collect())
    assert a == b


def test_crawl_trap_limit_caps_shape_explosions(spark):
    """run_crawl(trap_limit=...) keeps a per-(host, shape) explosion out
    of the frontier: discoveries of one shape are capped at trap_keep
    while the default run admits them all."""
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.sources.synth import BLACKLIST_PATTERNS, synth_pages

    import pyspark.sql.functions as F

    n_hosts = 6
    pages = synth_pages(spark, n_hosts=n_hosts, n_pages=4, n_links=12, n_words=60)
    seeds = spark.range(n_hosts).select(
        (F.col("id") + 1).cast("int").alias("alexa"),
        F.format_string("site%04d.test/p1", F.col("id")).alias("url"),
        F.col("id").alias("file_order"),
    )
    base = run_crawl(spark, seeds, pages, None, BLACKLIST_PATTERNS,
                     max_rounds=1, default_budget=6)
    capped = run_crawl(spark, seeds, pages, None, BLACKLIST_PATTERNS,
                       max_rounds=1, default_budget=6, trap_limit=3)
    n_base, n_capped = base.frontier.count(), capped.frontier.count()
    assert n_capped < n_base  # synth link shapes repeat per host -> trimmed
    # every admitted row is still a valid frontier row
    assert capped.frontier.filter("url IS NULL OR host IS NULL").count() == 0
    base.release()
    capped.release()


def test_recrawl_schedule_estimator_and_plan(spark):
    from tripwire_spark.operators.frontier import recrawl_schedule

    # u1: 4 captures, digest changes on every interval (rate 1.0), last
    # seen at t=30.  u2: 3 captures, 1 change in 2 intervals (rate .5),
    # last seen at t=50 (the global "now" -> staleness 0).  u3: single
    # capture -> rate 0.
    s = 1_000_000  # one second of microseconds
    rows = [
        ("u1", 0, "a"), ("u1", 10 * s, "b"), ("u1", 20 * s, "c"), ("u1", 30 * s, "d"),
        ("u2", 0, "x"), ("u2", 25 * s, "x"), ("u2", 50 * s, "y"),
        ("u3", 40 * s, "z"),
    ]
    cap = spark.createDataFrame(rows, "url string, ts_us long, digest string")
    out = {r.url: r for r in recrawl_schedule(cap).collect()}
    assert (out["u1"].n_changes, out["u1"].change_rate6) == (3, 1_000_000)
    # priority = rate6 x staleness-in-SECONDS (micros would overflow
    # int64 after ~107 days for a rate-1.0 url)
    assert out["u1"].staleness_us == 20 * s and out["u1"].priority == 20 * 1_000_000
    assert (out["u2"].n_changes, out["u2"].change_rate6) == (1, 500_000)
    assert out["u2"].staleness_us == 0 and out["u2"].priority == 0
    assert out["u3"].change_rate6 == 0 and out["u3"].priority == 0

    # scale shape: the lag window and the per-url aggregate share ONE
    # url-keyed exchange; "now" joins as a broadcast
    plan = recrawl_schedule(cap)._jdf.queryExecution().executedPlan().toString()
    import re
    url_exchanges = len(re.findall(r"Exchange hashpartitioning\(url", plan))
    assert url_exchanges == 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_checkpoint_bucketed_cogroup_matches_scan(spark, fixture_tables, tmp_path):
    """VERDICT r4 ask #2 end-to-end: a checkpointed crawl whose admit
    runs in cogroup mode over the BUCKETED seen-sketch base (with round
    deltas riding the candidate side) lands on the exact frontier of the
    in-memory scan-mode crawl — with compact_every=2 so both a
    delta-on-base round AND a post-compaction round are exercised."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    ref = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=3, default_budget=2, seen_mode="scan",
    )
    ck = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=3, default_budget=2, seen_mode="cogroup",
        checkpoint_dir=str(tmp_path / "ck_bk"), compact_every=2,
    )
    a = sorted(map(tuple, ref.frontier.select("qid", "url", "status", "try").collect()))
    b = sorted(map(tuple, ck.frontier.select("qid", "url", "status", "try").collect()))
    assert a == b
    ref.release()


def test_resume_rejects_geometry_mismatch(spark, fixture_tables, tmp_path):
    """ADVICE r4 #2: resuming a checkpoint under a different seen-state
    bloom geometry fails fast instead of writing mixed-geometry deltas."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    ck = str(tmp_path / "ck_geo")
    run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=1, default_budget=2, checkpoint_dir=ck, bloom_buckets=8,
    )
    with pytest.raises(ValueError, match="geometry"):
        run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS,
            max_rounds=2, default_budget=2, checkpoint_dir=ck, resume=True,
            bloom_buckets=16,  # different m_bits per bucket
        )


def test_validate_url_hash_contract(spark, fixture_tables):
    """ADVICE r4 #3: a pages table whose stored url_hash was computed
    with a different hash must FAIL FAST under validate_url_hash=True
    (silently dropped fetches otherwise), and a correctly-stored column
    passes."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    good = pages.withColumn("url_hash", F.xxhash64(F.col("url")))
    st = run_crawl(
        spark, seeds, good, robots, BLACKLIST_PATTERNS,
        max_rounds=1, default_budget=2, validate_url_hash=True,
    )
    assert st.frontier.count() > 0
    bad = pages.withColumn("url_hash", F.xxhash64(F.col("url"), F.lit(7)))
    with pytest.raises(ValueError, match="url_hash"):
        run_crawl(
            spark, seeds, bad, robots, BLACKLIST_PATTERNS,
            max_rounds=1, default_budget=2, validate_url_hash=True,
        )


def test_validate_url_hash_samples_every_file(spark, fixture_tables, tmp_path):
    """ADVICE r5 (d): the url_hash check samples the whole table, not its
    first rows — a wrong column confined to a second (smaller) file of a
    two-file table fails validation."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    path = str(tmp_path / "pages_two_files")
    big = (
        pages.crossJoin(spark.range(30))
        .withColumn("url", F.concat("url", F.lit("?r="), F.col("id").cast("string")))
        .drop("id")
        .withColumn("url_hash", F.xxhash64(F.col("url")))
    )
    big.coalesce(1).write.parquet(path)
    bad = pages.withColumn("url_hash", F.xxhash64(F.col("url"), F.lit(7)))
    bad.coalesce(1).write.mode("append").parquet(path)
    two_files = spark.read.parquet(path)
    assert len(two_files.inputFiles()) == 2
    with pytest.raises(ValueError, match="url_hash"):
        run_crawl(
            spark, seeds, two_files, robots, BLACKLIST_PATTERNS,
            max_rounds=1, default_budget=2, validate_url_hash=True,
        )


def test_resume_fetch_join_auto_starts_from_last_claimed(
    spark, fixture_tables, tmp_path, monkeypatch
):
    """ADVICE r5 (c): a resumed fetch_join='auto' crawl decides its first
    round from the last committed round's claimed count instead of always
    broadcasting."""
    from tripwire_spark.operators import crawl

    pages, seeds, robots = fixture_tables
    ck = str(tmp_path / "ck_fj")
    crawl.run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=1, default_budget=2, checkpoint_dir=ck,
    )
    joins = []
    real = crawl.fetch_extract

    def spy(claimed, pages, join="broadcast"):
        joins.append(join)
        return real(claimed, pages, join=join)

    monkeypatch.setattr(crawl, "fetch_extract", spy)
    crawl.run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2, checkpoint_dir=ck, resume=True,
        fetch_join="auto", fetch_join_threshold=1,
    )
    assert joins == ["shuffle_hash"]


def test_fetch_auto_adds_no_driver_actions(spark, fixture_tables):
    """VERDICT r4 ask #4 'Done' criterion: a crawl at fetch_join='auto'
    runs the same driver-job count as fetch_join='broadcast' (the old
    auto path spent a dedicated claimed.count() job per round — +2 jobs
    at 2 rounds, well outside the ±1 AQE broadcast-job jitter this
    asserts within)."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    sc = spark.sparkContext

    def count_jobs(tag, **kw):
        sc.setJobGroup(tag, tag)
        st = run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS,
            max_rounds=2, default_budget=2, **kw,
        )
        st.frontier.count()
        st.release()
        ids = sc.statusTracker().getJobIdsForGroup(tag)
        sc.setJobGroup("jobcount-other", "other")
        return len(ids)

    a = count_jobs("jobcount-auto", fetch_join="auto")
    b = count_jobs("jobcount-bcast", fetch_join="broadcast")
    assert abs(a - b) <= 1, (a, b)


def _plan_node_names(plan) -> list[str]:
    """Operator names of a physical plan: adaptive plans are descended
    into, a cached relation's own plan is not (reading a cache runs none
    of the operators that built it)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_node_names(plan.executedPlan())
    names = [name]
    children = plan.children()
    for i in range(children.size()):
        names += _plan_node_names(children.apply(i))
    return names


def test_round_tasks_follow_rows(spark, tmp_path, monkeypatch):
    """A round's O(new) writes run in tasks sized by their rows, not one
    per seen-state bucket: the seen-sketch delta append and the frontier
    commit of a 64-bucket crawl each write a handful of files, and the
    decision-log append reads the canonicalized links from the round's
    cache instead of re-running the Python UDF chain over every link.

    Fixture: 40 seeded hosts with 8 links a page, so round 1 admits a
    few hundred urls and touches nearly every bucket."""
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.sources.snapshots import SnapshotTable

    pages = synth_pages(spark, 40, 16, 8).persist()
    seeds = synth_seeds(spark, n_seeds=40)
    robots = synth_robots(spark, 40)
    plans = {}
    real_append = SnapshotTable.commit_append

    def spy(self, delta, summary=None):
        plans[self.name] = _plan_node_names(delta._jdf.queryExecution().executedPlan())
        return real_append(self, delta, summary)

    monkeypatch.setattr(SnapshotTable, "commit_append", spy)
    buckets = 64
    ck = tmp_path / "ck_tasks"
    st = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=1, checkpoint_dir=str(ck), bloom_buckets=buckets,
    )
    assert st.rounds_run == 1

    def round1_files(table):
        snaps = json.loads((ck / table / "manifest.json").read_text())["snapshots"]
        (snap,) = [s for s in snaps if s["summary"].get("round") == 1]
        return snap["files"]

    files = {t: len(round1_files(t)) for t in ("seen_sketch", "frontier")}
    assert all(0 < n < buckets // 4 for n in files.values()), files
    assert "InMemoryTableScan" in plans["decision_log"]
    assert "ArrowEvalPython" not in plans["decision_log"], plans["decision_log"]
    pages.unpersist()


def test_seen_sketch_segment_bound(spark, tmp_path):
    """The per-bucket segment bound ``run_crawl``'s ``compact_every``
    docstring promises: the seen state a round's admit reads holds at
    most ``compact_every`` segments per bucket, and each segment is one
    row (the admit output's rebalance moves a bucket's delta row whole)."""
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.sources.snapshots import open_snapshot_table

    pages = synth_pages(spark, 24, 12, 3).persist()
    seeds = synth_seeds(spark, n_seeds=12)
    every, rounds, buckets = 2, 5, 8
    ck = str(tmp_path / "ck_segs")
    st = run_crawl(
        spark, seeds, pages, None, BLACKLIST_PATTERNS,
        max_rounds=rounds, default_budget=1, checkpoint_dir=ck,
        compact_every=every, bloom_buckets=buckets,
    )
    assert st.rounds_run == rounds
    table = open_snapshot_table(
        spark, ck, "seen_sketch", bucket_key="bucket", bucket_count=buckets
    )
    last_of_round = {s["summary"]["round"]: s["id"] for s in table.snapshots()}
    assert sorted(last_of_round) == list(range(rounds + 1))
    grew = 0
    for r, sid in sorted(last_of_round.items()):
        segs = table.read(sid).groupBy("bucket", "seg").count()
        worst = segs.groupBy("bucket").agg(
            F.count("*").alias("segs"), F.max("count").alias("rows_per_seg")
        ).agg(F.max("segs").alias("segs"), F.max("rows_per_seg").alias("rows")).first()
        assert worst["rows"] == 1, (r, worst)
        assert worst["segs"] <= every, (r, worst)
        grew = max(grew, worst["segs"])
    assert grew == every  # the bound is reached, not vacuous
    pages.unpersist()
