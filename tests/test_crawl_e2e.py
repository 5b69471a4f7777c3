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


def test_seed_decision_log_queues_exactly_the_frontier(spark, fixture_tables):
    """queue_sites checks the blacklist before the dedup (:112-113, then
    :117-127): a blacklisted line does not make a later line with the
    same canonical url a duplicate.  The seed decision log's "queued"
    lines are exactly the seeded frontier's rows, standalone and as
    round 0 of a crawl commits them."""
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.operators.frontier import build_frontier, seed_decision_log

    pages, _, robots = fixture_tables
    seeds = spark.createDataFrame(
        [
            (1, "http://a.test/google/../x", 0),  # blacklisted; canonical http://a.test/x
            (2, "a.test/x", 1),
            (3, "HTTP://A.test/x", 2),
            (4, "http://bad host/", 3),
        ],
        "alexa int, url string, file_order long",
    )
    decisions = {r.file_order: r.decision for r in seed_decision_log(seeds, BLACKLIST_PATTERNS).collect()}
    assert decisions == {
        0: "skipped-blacklist", 1: "queued", 2: "skipped-duplicate", 3: "skipped-invalid",
    }
    frontier = [(r.qid, r.url) for r in build_frontier(seeds, BLACKLIST_PATTERNS).collect()]
    assert frontier == [(1, "http://a.test/x")]

    st = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=0)
    logged = {r.parent_qid: r.decision for r in st.decision_log.collect()}
    assert logged == decisions
    assert [(r.qid, r.url) for r in st.frontier.collect()] == frontier
    st.release()


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


def test_backpressure_one_metrics_record_per_round(spark, fixture_tables, tmp_path):
    """A checkpointed backpressure crawl appends ONE record per round:
    the commit summary's round and claimed count plus the backpressure
    fields."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    state = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=3, default_budget=2, backpressure=True,
        checkpoint_dir=str(tmp_path / "ck_bp"),
    )
    assert state.rounds_run == 3
    assert len(state.metrics) == state.rounds_run
    for i, m in enumerate(state.metrics):
        assert m["round"] == i + 1
        assert set(m) == {"round", "claimed", "fetched", "miss_rate", "budget_cap_next"}
        assert 0 <= m["fetched"] <= m["claimed"]


def test_crawl_deterministic_across_runs(spark, fixture_tables):
    """Same input -> identical frontier (qid,url,status) on a re-run."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    a = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2)
    b = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2)
    rows_a = sorted(map(tuple, a.frontier.select("qid", "url", "status", "try").collect()))
    rows_b = sorted(map(tuple, b.frontier.select("qid", "url", "status", "try").collect()))
    assert rows_a == rows_b


def test_crawl_fetch_join_strategies_identical(spark, fixture_tables, monkeypatch):
    """fetch_join='shuffle_hash' (the past-10^8-claimed switchover) and
    fetch_join='auto' must produce the exact broadcast frontier — the
    flag trades plan shape, never results."""
    from tripwire_spark.operators import crawl

    pages, seeds, robots = fixture_tables

    def rows(**kw):
        st = crawl.run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS,
            max_rounds=2, default_budget=2, **kw,
        )
        out = sorted(map(tuple, st.frontier.select("qid", "url", "status", "try").collect()))
        st.release()
        return out

    base = rows()
    assert rows(fetch_join="shuffle_hash") == base
    # auto re-resolves per ROUND from the prior round's claimed count:
    # threshold=1 flips fetch to shuffle_hash from round 2 on (round 1
    # has no prior-round number and broadcasts)
    with monkeypatch.context() as m:
        m.setattr(crawl, "FETCH_JOIN_THRESHOLD", 1)
        assert rows(fetch_join="auto") == base
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


def test_resume_needs_checkpoint_dir(spark, fixture_tables):
    """resume=True with no checkpoint to resume from fails instead of
    silently crawling from the seeds."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    with pytest.raises(ValueError, match="checkpoint_dir"):
        run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, resume=True)


def test_scratch_checkpoint_removed_on_release(spark, fixture_tables, tmp_path, monkeypatch):
    """A crawl without checkpoint_dir commits into one private scratch
    directory, and release() leaves nothing behind."""
    import tempfile

    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    state = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1, default_budget=2
    )
    (scratch,) = list(tmp_path.iterdir())
    assert scratch.name.startswith("tripwire-crawl-")
    assert str(scratch) == state.scratch_dir
    assert (scratch / "frontier" / "manifest.json").exists()
    assert state.frontier.count() > 0
    state.release()
    assert list(tmp_path.iterdir()) == []
    state.release()  # idempotent


def test_moved_checkpoint_resumes(spark, fixture_tables, tmp_path):
    """Snapshot manifests name their data relative to the table
    directory: a 2-round checkpoint copied elsewhere, with the original
    deleted, resumes to round 3 onto the frontier of an uninterrupted
    3-round crawl — the bucketed seen-sketch base (compacted in round 2)
    included."""
    import shutil

    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    kw = dict(default_budget=2, compact_every=2)
    full = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=3,
        checkpoint_dir=str(tmp_path / "ck_full"), **kw,
    )
    orig, moved = tmp_path / "ck_orig", tmp_path / "ck_moved"
    run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2,
        checkpoint_dir=str(orig), **kw,
    )
    shutil.copytree(orig, moved)
    shutil.rmtree(orig)
    seen = json.loads((moved / "seen_sketch" / "manifest.json").read_text())["snapshots"]
    assert seen[-1]["bucket"] and seen[-1]["summary"]["stage"] == "compacted"
    resumed = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=3,
        checkpoint_dir=str(moved), resume=True, **kw,
    )
    assert resumed.rounds_run == 3
    cols = ("qid", "url", "status", "try")
    rows_full = sorted(map(tuple, full.frontier.select(*cols).collect()))
    rows_res = sorted(map(tuple, resumed.frontier.select(*cols).collect()))
    assert rows_full == rows_res
    assert resumed.results.count() == full.results.count()


def test_clicked_text_skips_survive_resume(spark, tmp_path):
    """D2 in the crawl loop (pagefinder.js:101-104,277-279): a crawl
    skips links whose anchor text was already clicked on the same site,
    and a crawl stopped after round 1 and resumed yields the
    uninterrupted crawl's frontier, results and decision log — with a
    stale ``clicked`` table holding an unrelated ck in the checkpoint,
    which the resume ignores."""
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.operators.frontier import FRONTIER_COLS
    from tripwire_spark.sources.snapshots import open_snapshot_table

    pages = synth_pages(spark, 40, 16, 8).persist()
    seeds = synth_seeds(spark, n_seeds=40).persist()
    robots = synth_robots(spark, 40).persist()
    full = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=3)
    ck = str(tmp_path / "ck_d2")
    run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1, checkpoint_dir=ck)
    stale = spark.createDataFrame(
        [("no-such-site.test", "no such anchor")], "phost string, anchor_text string"
    ).select(F.xxhash64("phost", "anchor_text").alias("ck"))
    open_snapshot_table(spark, ck, "clicked").commit(stale, {"round": 1})
    resumed = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=3,
        checkpoint_dir=ck, resume=True,
    )
    assert resumed.rounds_run == full.rounds_run

    def rows(df, *cols):
        return set(map(tuple, df.select(*cols).collect()))

    decisions = ("round", "parent_qid", "curl", "weight", "decision")
    full_decisions = rows(full.decision_log, *decisions)
    assert [d for d in full_decisions if d[-1] == "skipped-clicked-text"]
    assert rows(resumed.decision_log, *decisions) == full_decisions
    assert rows(resumed.frontier, *FRONTIER_COLS) == rows(full.frontier, *FRONTIER_COLS)
    result_cols = ("qid", "url", "text", "lang", "warc_ts")
    assert rows(resumed.results, *result_cols) == rows(full.results, *result_cols)
    full.release()
    for df in (pages, seeds, robots):
        df.unpersist()


def test_long_crawl_bounded_lineage(spark):
    """A 20-round crawl completes without plan blowup: every round
    re-reads its state from the snapshot tables and the seen segments
    are compacted every ``compact_every`` rounds, so max_rounds is
    unbounded by design.

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


def test_compacted_crawl_matches_uncompacted(spark, fixture_tables, tmp_path):
    """VERDICT r4 ask #2 end-to-end: a crawl whose admit reads the
    BUCKETED seen-sketch base with round deltas riding the candidate
    side lands on the exact frontier of a crawl that compacts every
    round and so never admits against deltas — with compact_every=2 both
    a delta-on-base round (2) AND a post-compaction round (3) run."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables

    def rows(every):
        st = run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS,
            max_rounds=3, default_budget=2,
            checkpoint_dir=str(tmp_path / f"ck_every{every}"), compact_every=every,
        )
        assert st.rounds_run == 3
        return sorted(map(tuple, st.frontier.select("qid", "url", "status", "try").collect()))

    assert rows(2) == rows(1)


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


def test_resume_bucket_check_runs_no_spark_job(spark, fixture_tables, tmp_path):
    """The resume check of the seen-state bucket count reads the
    seen-sketch manifest only: a resume under another ``bloom_buckets``
    fails before any Spark job runs, and so does a resume of a
    checkpoint whose commits recorded no count, or of one that still
    holds a ``results`` table (its fetch log rows carry no page text)."""
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.sources.snapshots import SnapshotTable

    pages, seeds, robots = fixture_tables
    sc = spark.sparkContext
    ck = tmp_path / "ck_buckets"
    run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=1, default_budget=2, checkpoint_dir=str(ck), bloom_buckets=8,
    )

    def resume_jobs(tag, buckets, match):
        sc.setJobGroup(tag, tag)
        try:
            with pytest.raises(ValueError, match=match):
                run_crawl(
                    spark, seeds, pages, robots, BLACKLIST_PATTERNS,
                    max_rounds=2, default_budget=2, checkpoint_dir=str(ck),
                    resume=True, bloom_buckets=buckets,
                )
        finally:
            sc.setJobGroup("bucketcheck-other", "other")
        return list(sc.statusTracker().getJobIdsForGroup(tag))

    assert resume_jobs("bucketcheck-changed", 16, "geometry") == []
    manifest = ck / "seen_sketch" / "manifest.json"
    man = json.loads(manifest.read_text())
    for snap in man["snapshots"]:
        del snap["summary"]["buckets"]
    manifest.write_text(json.dumps(man))
    assert resume_jobs("bucketcheck-unrecorded", 8, "records no bucket count") == []
    SnapshotTable(spark, str(ck), "results").commit(
        spark.createDataFrame([(1, "http://a.test/", "text")], "qid long, url string, text string"),
        {"round": 1},
    )
    assert resume_jobs("bucketcheck-results", 8, "results table") == []


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
    monkeypatch.setattr(crawl, "FETCH_JOIN_THRESHOLD", 1)
    crawl.run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2, checkpoint_dir=ck, resume=True,
        fetch_join="auto",
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


def _python_udf_evaluations(spark, plans) -> dict[str, int]:
    """UDF name -> number of ArrowEvalPython evaluations of it that
    running ``plans`` (physical plans) takes.  Unlike ``_plan_node_names``
    this descends into cached relations, because the first reader of a
    cache runs its plan, but into each distinct cache once, because only
    one reader does; adaptive plans and query stages are descended into,
    a reused exchange is not (it is computed once)."""
    seen, counts = set(), {}

    def walk(plan):
        name = plan.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(plan.executedPlan())
        if name.endswith("QueryStage"):
            return walk(plan.plan())
        if name == "InMemoryTableScan":
            key = spark._jvm.java.lang.System.identityHashCode(plan.relation().cacheBuilder())
            if key not in seen:
                seen.add(key)
                walk(plan.relation().cachedPlan())
            return
        if name == "ArrowEvalPython":
            udfs = plan.udfs()
            for i in range(udfs.size()):
                udf = udfs.apply(i).name()
                counts[udf] = counts.get(udf, 0) + 1
        children = plan.children()
        for i in range(children.size()):
            walk(children.apply(i))

    for plan in plans:
        walk(plan)
    return counts


def test_python_udfs_run_once_per_row(spark, fixture_tables, monkeypatch):
    """Every Python URL UDF of a crawl runs once per row: round 0's two
    commits (frontier, decision log) canonicalize each seed line once
    between them, from one cached seed frame, and round 1's frontier
    commit (which runs the admit) resolves each discovered link once.
    A ``curl IS NOT NULL`` filter under a cache would be pushed below
    the projection with the UDF inlined, and evaluate it twice."""
    from tripwire_spark.operators import crawl
    from tripwire_spark.sources.snapshots import SnapshotTable

    pages, seeds, robots = fixture_tables
    plans = {}
    real_commit = SnapshotTable.commit

    def spy(self, df, summary=None):
        key = (self.name, (summary or {}).get("round"))
        plans[key] = df._jdf.queryExecution().executedPlan()
        return real_commit(self, df, summary)

    monkeypatch.setattr(SnapshotTable, "commit", spy)
    st = crawl.run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1, default_budget=2
    )
    st.release()
    seeded = _python_udf_evaluations(spark, [plans["frontier", 0], plans["decision_log", 0]])
    assert seeded.get("canonicalize_url") == 1, seeded
    round1 = _python_udf_evaluations(spark, [plans["frontier", 1]])
    assert round1.get("resolve_canonicalize") == 1, round1
    for counts in (seeded, round1):
        assert set(counts.values()) == {1}, counts


def _scanned_paths(plan) -> list[str]:
    """Root paths of every file scan a physical plan runs: adaptive plans
    and query stages are descended into, a cached relation's own plan is
    not (reading a cache scans none of its sources)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _scanned_paths(plan.executedPlan())
    if name.endswith("QueryStage"):
        return _scanned_paths(plan.plan())
    if name.startswith("Scan parquet"):
        roots = plan.relation().location().rootPaths()
        return [roots.apply(i).toString() for i in range(roots.size())]
    paths = []
    children = plan.children()
    for i in range(children.size()):
        paths += _scanned_paths(children.apply(i))
    return paths


def test_frontier_commit_reads_frontier_once_and_no_robots(
    spark, fixture_tables, tmp_path, monkeypatch
):
    """Round 1's frontier commit settles found, missed and robots-disabled
    rows in one join against one frontier scan: the disabled rows come
    from the round's claim cache, so the commit reads the robots table
    zero times and the frontier once."""
    from tripwire_spark.operators import crawl
    from tripwire_spark.sources.snapshots import SnapshotTable

    pages, seeds, robots = fixture_tables
    robots.write.parquet(str(tmp_path / "robots_dim"))
    robots = spark.read.parquet(str(tmp_path / "robots_dim"))
    plans = {}
    real_commit = SnapshotTable.commit

    def spy(self, df, summary=None):
        plans[self.name, (summary or {}).get("round")] = df._jdf.queryExecution().executedPlan()
        return real_commit(self, df, summary)

    monkeypatch.setattr(SnapshotTable, "commit", spy)
    st = crawl.run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1, default_budget=2,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    assert st.frontier.filter(F.col("status") == "disabled").count() > 0
    paths = _scanned_paths(plans["frontier", 1])
    assert not [p for p in paths if "robots_dim" in p], paths
    assert len([p for p in paths if "/frontier/" in p]) == 1, paths


def test_disabled_rows_add_no_clicked_text(spark, fixture_tables, monkeypatch):
    """A row the schedule disables is never claimed, so its ``ck`` does
    not join the clicked-text (D2) state: round 2's ``clicked`` holds no
    ``ck`` that only a row disabled in round 2 carries.  Even hosts
    disallow ``/p1``, which round 1's pages link to (the seeds are
    ``/p0``, so the fixture's own robots block nothing after round 1)."""
    from tripwire_spark.operators import crawl

    pages, seeds, robots = fixture_tables
    robots = robots.withColumn(
        "disallow_prefixes",
        F.when(F.expr("cast(substr(host, 5, 4) as int) % 2 = 0"), F.array(F.lit("/p1")))
        .otherwise(F.array().cast("array<string>")),
    )
    schedules, clicked = {}, {}
    real_schedule, real_discover = crawl.politeness_schedule, crawl.discover

    def schedule_spy(frontier, *args, **kwargs):
        out = real_schedule(frontier, *args, **kwargs)
        schedules[kwargs["round_no"]] = (
            out.collect(),
            {r.ck for r in frontier.filter((F.col("status") == "completed") | (F.col("try") > 0))
             .select("ck").collect()},
        )
        return out

    def discover_spy(*args, **kwargs):
        if kwargs["clicked"] is not None:
            clicked[kwargs["round_no"]] = {r.ck for r in kwargs["clicked"].collect()}
        return real_discover(*args, **kwargs)

    monkeypatch.setattr(crawl, "politeness_schedule", schedule_spy)
    monkeypatch.setattr(crawl, "discover", discover_spy)
    crawl.run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2
    ).release()
    rows, claimed_before = schedules[2]
    running = {r.ck for r in rows if r.status == "running"}
    disabled_only = {r.ck for r in rows if r.status == "disabled"} - running - claimed_before
    assert disabled_only, "round 2 disabled no row with a ck of its own"
    assert not disabled_only & clicked[2], disabled_only & clicked[2]
    assert running - {None} <= clicked[2]


def test_round_caches_released_when_round_ends_or_raises(spark, fixture_tables, monkeypatch):
    """A round releases what it pinned when it ends and when it raises:
    no frame the crawl persisted stays cached and no RDD it persisted
    stays pinned — the parse's local checkpoint included, which
    ``DataFrame.unpersist()`` alone leaves pinned.  ``discover`` raises
    after the claim and parse are pinned; ``settle`` after the link,
    admit and new-row caches are too."""
    from pyspark import StorageLevel

    from tripwire_spark.operators import crawl

    pages, seeds, robots = fixture_tables
    frame_class = type(seeds)  # the session's DataFrame implementation
    jsc = spark.sparkContext._jsc

    def pinned_rdds():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    persisted = []
    real_persist = frame_class.persist

    def spy(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    def fail(*args, **kwargs):
        raise RuntimeError("round fails")

    for phase, n_frames in ((None, 5), ("discover", 2), ("settle", 5)):
        before = pinned_rdds()
        persisted.clear()
        with monkeypatch.context() as m:
            m.setattr(frame_class, "persist", spy)
            if phase is None:
                crawl.run_crawl(
                    spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2,
                    default_budget=2,
                ).release()
            else:
                m.setattr(crawl, phase, fail)
                with pytest.raises(RuntimeError, match="round fails"):
                    crawl.run_crawl(
                        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1,
                        default_budget=2,
                    )
        # round 0's seed frame, the claim, then the link/admit/new-row caches
        assert len(persisted) >= n_frames, (phase, len(persisted))
        assert [df.storageLevel for df in persisted] == [StorageLevel.NONE] * len(persisted), phase
        assert pinned_rdds() == before, phase


def _find_node(plan, name: str):
    """First node called ``name`` in a physical plan (adaptive plans are
    descended into), or None."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _find_node(plan.executedPlan(), name)
    if plan.nodeName() == name:
        return plan
    children = plan.children()
    for i in range(children.size()):
        hit = _find_node(children.apply(i), name)
        if hit is not None:
            return hit
    return None


def test_admit_runs_one_wave_over_physical_buckets(spark, fixture_tables, tmp_path):
    """run_crawl stores the seen-state base in P = min(bloom_buckets,
    defaultParallelism) physical buckets, here fewer than
    spark.sql.shuffle.partitions.  An admit over that base (plus the
    round's delta) reads the base with no exchange on the state side
    and runs one wave of at most P tasks, each over several of the 64
    logical buckets, and still rejects every url the state holds."""
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.operators.seen import SeenState
    from tripwire_spark.sources.snapshots import SnapshotTable

    pages, seeds, robots = fixture_tables
    slots, buckets = spark.sparkContext.defaultParallelism, 64
    assert slots < int(spark.conf.get("spark.sql.shuffle.partitions"))
    ck = tmp_path / "ck_wave"
    st = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=1, default_budget=2, checkpoint_dir=str(ck), bloom_buckets=buckets,
    )
    table = SnapshotTable(spark, str(ck), "seen_sketch")
    (base_snap,) = [s for s in table.snapshots() if s["op"] == "overwrite"]
    assert base_snap["bucket"]["n"] == slots
    assert all(s["summary"]["buckets"] == buckets for s in table.snapshots())

    known = st.frontier.select("url", "url_hash")
    n_known = known.count()
    new = spark.range(0, 2000, numPartitions=1).select(
        F.concat(F.lit("http://wave.test/"), F.col("id").cast("string")).alias("url")
    ).withColumn("url_hash", F.xxhash64("url"))
    out = SeenState(n_buckets=buckets).admit(
        known.unionByName(new).coalesce(1), table.read_base(),
        next_seg=2, delta_side=table.read_deltas(),
    )
    cogroup = _find_node(out._jdf.queryExecution().executedPlan(), "FlatMapCoGroupsInPandas")
    # the state side is the bucketed base scan as stored
    state_side = _plan_node_names(cogroup.children().apply(1))
    assert "Exchange" not in state_side, state_side  # a shuffle's node name
    assert [n for n in state_side if n.startswith("Scan parquet spark_catalog")], state_side
    assert out.rdd.getNumPartitions() <= slots
    fresh, delta = SeenState.split(out.persist(), ["url", "url_hash"])
    assert n_known > 0 and fresh.count() == 2000
    assert delta.select("bucket").distinct().count() > slots
    out.unpersist()
    st.release()


def test_resume_from_logical_count_base(spark, fixture_tables, tmp_path, monkeypatch):
    """A checkpoint whose seen-sketch base was stored in as many physical
    buckets as logical ones (the layout before the physical count
    followed the task slots) resumes onto the uninterrupted crawl's
    frontier and results, and its next compaction rewrites the base in
    P = min(bloom_buckets, defaultParallelism) buckets."""
    from tripwire_spark.operators import crawl

    pages, seeds, robots = fixture_tables
    slots, buckets = spark.sparkContext.defaultParallelism, 16
    assert slots < buckets
    kw = dict(default_budget=2, compact_every=2, bloom_buckets=buckets)
    full = crawl.run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=3,
        checkpoint_dir=str(tmp_path / "ck_full"), **kw,
    )
    real_open = crawl.open_snapshot_table

    def logical_layout(spark, base_dir, name, bucket_key=None, bucket_count=None):
        return real_open(
            spark, base_dir, name, bucket_key=bucket_key,
            bucket_count=buckets if bucket_key else None,
        )

    ck = tmp_path / "ck_logical"
    with monkeypatch.context() as m:
        m.setattr(crawl, "open_snapshot_table", logical_layout)
        crawl.run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1,
            checkpoint_dir=str(ck), **kw,
        )

    def base_counts():
        snaps = json.loads((ck / "seen_sketch" / "manifest.json").read_text())["snapshots"]
        return [s["bucket"]["n"] for s in snaps if s["op"] == "overwrite"]

    assert base_counts() == [buckets]
    resumed = crawl.run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=3,
        checkpoint_dir=str(ck), resume=True, **kw,
    )
    assert resumed.rounds_run == 3
    assert base_counts() == [buckets, slots]  # round 2 compacted
    cols = ("qid", "url", "status", "try")
    assert sorted(map(tuple, resumed.frontier.select(*cols).collect())) == sorted(
        map(tuple, full.frontier.select(*cols).collect())
    )
    assert sorted(map(tuple, resumed.results.select("qid", "url", "text").collect())) == sorted(
        map(tuple, full.results.select("qid", "url", "text").collect())
    )


def test_seeded_round_claims_from_committed_frontier(spark, fixture_tables, monkeypatch):
    """Round 1 of a fresh crawl claims from the seed frontier read back
    from its table, not from the lazy seed plan: the claimed frontier's
    plan re-runs neither the seed canonicalization (Python UDFs) nor
    its dedup (a window)."""
    from tripwire_spark.operators import crawl

    pages, seeds, robots = fixture_tables
    plans = []
    real = crawl.politeness_schedule

    def spy(frontier, *args, **kwargs):
        plans.append(_plan_node_names(frontier._jdf.queryExecution().executedPlan()))
        return real(frontier, *args, **kwargs)

    monkeypatch.setattr(crawl, "politeness_schedule", spy)
    st = crawl.run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1, default_budget=2
    )
    st.release()
    (names,) = plans
    assert not [n for n in names if n == "ArrowEvalPython" or n.startswith("Window")], names


def test_round_jobs_carry_phase_descriptions(spark, fixture_tables, monkeypatch):
    """Each of a round's driver actions runs under its own job
    description, and the parse's is set only after its plan is built
    (so a caller wrapping ``fetch_extract`` sees its action's jobs under
    that description, not its own).  The caller's description is back
    when the crawl returns or raises.  The crawl commits exactly the
    frontier, fetch_log, decision_log and seen_sketch tables: the
    clicked-text state is derived from the frontier, and the found
    pages are the fetch log's found rows."""
    import os

    from tripwire_spark.operators import crawl

    pages, seeds, robots = fixture_tables
    sc = spark.sparkContext
    at_build = []
    real = crawl.fetch_extract

    def spy(*args, **kwargs):
        at_build.append(sc.getLocalProperty("spark.job.description"))
        return real(*args, **kwargs)

    monkeypatch.setattr(crawl, "fetch_extract", spy)
    tag = "phase-descriptions"
    sc.setJobGroup(tag, tag)
    try:
        st = crawl.run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1, default_budget=2
        )
        assert sc.getLocalProperty("spark.job.description") == tag

        def failing_discover(*args, **kwargs):
            raise RuntimeError("round fails")

        with monkeypatch.context() as m:
            m.setattr(crawl, "discover", failing_discover)
            with pytest.raises(RuntimeError, match="round fails"):
                crawl.run_crawl(
                    spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1,
                    default_budget=2,
                )
        assert sc.getLocalProperty("spark.job.description") == tag
    finally:
        sc.setJobGroup("phase-descriptions-other", "other")
    assert sorted(os.listdir(st.scratch_dir)) == [
        "decision_log", "fetch_log", "frontier", "seen_sketch",
    ]
    st.release()
    assert at_build and not [d for d in at_build if d and d.endswith("fetch+extract checkpoint")]
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    descs = set()
    for jid in sc.statusTracker().getJobIdsForGroup(tag):
        d = store.job(jid).description()
        descs.add(d.get() if d.isDefined() else None)
    expected = {
        "round 0: seeded frontier commit", "round 0: seen-state init commit",
        "round 1: fetch+extract checkpoint", "round 1: drain count",
        "round 1: frontier commit (admit+settle)",
        "round 1: fetch_log append", "round 1: decision_log append",
        "round 1: seen_sketch append",
    }
    assert expected <= descs, expected - descs
    assert not [d for d in descs if d and ("clicked" in d or "results" in d)], descs


def test_seen_sketch_segment_bound(spark, tmp_path):
    """The per-bucket segment bound ``run_crawl``'s ``compact_every``
    docstring promises: the seen state a round's admit reads holds at
    most ``compact_every`` segments per bucket, and each segment is one
    row (the admit output's rebalance moves a bucket's delta row whole).
    The stored format: every seeded, delta and compacted row holds 8
    bytes per hash and empty (not NULL) bloom columns, and every commit
    records the bucket count."""
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
    assert all(s["summary"]["buckets"] == buckets for s in table.snapshots())
    last_of_round = {s["summary"]["round"]: s["id"] for s in table.snapshots()}
    assert sorted(last_of_round) == list(range(rounds + 1))
    grew = 0
    for r, sid in sorted(last_of_round.items()):
        stored = table.read(sid)
        fmt = stored.agg(
            F.count("*").alias("rows"),
            F.sum(
                (
                    F.col("bloom").isNotNull() & (F.length("bloom") == 0)
                    & (F.col("m_bits") == 0) & (F.col("k") == 0)
                    & (F.col("n_items") * 8 == F.length("hashes"))
                ).cast("int")
            ).alias("ok"),
        ).first()
        assert fmt["rows"] > 0 and fmt["ok"] == fmt["rows"], (r, fmt)
        segs = stored.groupBy("bucket", "seg").count()
        worst = segs.groupBy("bucket").agg(
            F.count("*").alias("segs"), F.max("count").alias("rows_per_seg")
        ).agg(F.max("segs").alias("segs"), F.max("rows_per_seg").alias("rows")).first()
        assert worst["rows"] == 1, (r, worst)
        assert worst["segs"] <= every, (r, worst)
        grew = max(grew, worst["segs"])
    assert grew == every  # the bound is reached, not vacuous
    pages.unpersist()


def test_seen_mode_accepts_only_auto(spark, fixture_tables):
    """The seen-state admit has one plan; ``seen_mode`` survives only as
    the ``'auto'`` keyword its callers pass, and any other value fails
    before any work."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    for mode in ("scan", "cogroup"):
        with pytest.raises(ValueError, match="seen_mode"):
            run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, seen_mode=mode)
