"""Crawl rounds: fetch (join against the pages table), extraction,
link discovery, frontier evolution, checkpoint/resume.

This is the Spark-first restatement of the reference's
claim/execute/settle loop (runners/run_queue_nowrap:586-699, SURVEY.md
§3.2): the live CasperJS page load is replaced by an **equi-join of the
claimed frontier against the Common-Crawl-style pages table** (J11);
one "round" = one deterministic batch over the whole claimable set
instead of one worker claiming one row.

Per round:
1. politeness schedule in one pass (W2 two-phase salted rank under
   budget, robots gate): the claim cache, ``running`` or ``disabled`` rows
2. fetch = claimed keys joined to pages on the 64-bit url hash (broadcast
   keys; both sides hash-exchanged past ``FETCH_JOIN_THRESHOLD`` claims)
3. extraction: byte-identical text (pageUtils.js:58-61), link + form
   candidates (vectorized pandas UDFs)
4. link scoring (C18 + D3 combine), blacklist (F1), clicked-text skip
   (D2: the ck of every frontier row ever claimed), canonicalize, then
   ONE cogrouped seen-state pass (seen.py SeenState.admit): in-round
   dedup + exact membership + the new delta segment in a single
   shuffle — D7 / F2 analog
5. settle: status transitions (T2) of the found, missed and disabled
   rows in one frontier join, hash-derived qids for discoveries
6. four commits (= Iceberg snapshots; resume = read the latest committed
   round): the frontier rewrite, then the fetch_log (S10, one row per
   claimed url; a found one carries its page, S7), decision_log (S9) and
   seen_sketch appends (+ assignments with ``identities``); the next
   round reads its state back from those tables.

Every crawl commits its rounds to snapshot tables, under
``checkpoint_dir`` or, without one, under a private scratch directory
that ``CrawlState.release()`` deletes.

Driver actions per round: the fetch+extract checkpoint, the drain count
on the claim cache, and the commits of step 6 (the admit chain runs in
the frontier commit; it reads no robots); each has its own job
description ("round r: ..."), so an event log splits a round by phase.
Task budget: a stage's task count follows its rows.  Only the html
parse (one task per input split) and the cogroup admit run wide, and
the admit runs one wave: one task per physical bucket of the stored
seen-state base, P = ``min(bloom_buckets, defaultParallelism)`` tasks,
each over ``bloom_buckets / P`` logical buckets (run_crawl docstring).
AQE coalesces every persist()ed intermediate (session.py lets
it change a cached plan's partitioning), the admit output is rebalanced
before its O(new) consumers, and every Python URL UDF runs once per
row: the link canonicalizer once per discovered link in the round's
frontier commit (one ``resolve_canonicalize`` evaluation in its plan),
the seed canonicalizer once per seed line in round 0.  Keeping both
counts low matters as much on a 1000-executor cluster as locally: the
frontier loop is latency-bound on scheduler round-trips and per-task
set-up, not data volume, once the per-round claim set is bounded.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tripwire_spark.functions.html import extract_page
from tripwire_spark.functions.scoring import link_weight
from tripwire_spark.functions.urls import reg_domain, resolve_canonicalize, url_hash, url_host
from tripwire_spark.operators.frontier import (
    FRONTIER_COLS,
    ST_COMPLETED,
    ST_DISABLED,
    ST_QUEUED,
    ST_RUNNING,
    blacklist_regex,
    politeness_schedule,
    seed_decision_log,
    seeded_frontier,
    settle,
)
from tripwire_spark.operators.seen import SeenState
from tripwire_spark.sources.snapshots import open_snapshot_table

# Discovered URLs carry qid = their FULL 64-bit url_hash — unique among
# discoveries by seen-set construction (each hash is admitted exactly
# once; a 64-bit collision between distinct urls is already collapsed by
# the hash-keyed seen set itself).  Seeds carry qid = file_order (round
# 0).  A seed's small qid could numerically equal some discovery's hash,
# so THE FRONTIER KEY IS THE COMPOUND (qid, round_added) — settle and
# miss-detection join on both columns.  Truncating the hash (the old
# round<<57 | hash%2^57 encoding) collided within a round at ~10^10
# scale and overflowed int64 at round 64; neither can happen now.
# Claim ORDER does not ride on qid for discoveries — politeness ranks by
# the explicit (round_added, weight desc, qid) key (frontier.claim_order).


FETCH_COLS = ["qid", "round_added", "try", "url", "host"]

# run_crawl(backpressure=True) halves the next round's politeness budget
# when a round misses more than this share of its claimed urls.
BACKPRESSURE_MISS_RATE = 0.5

# run_crawl(fetch_join="auto") hash-exchanges both fetch-join sides once
# the previous round claimed more urls than this.
FETCH_JOIN_THRESHOLD = 100_000_000


def fetch_extract(claimed: DataFrame, pages: DataFrame, join: str = "broadcast") -> DataFrame:
    """J11 fetch + single-parse extraction, fused.

    ``join="broadcast"`` (default): broadcast the claimed keys; the
    pages fact side never shuffles AND never exchanges — right while
    claimed rows/round stay under ~10^8 (~24 B/url of driver-built
    broadcast).  ``join="shuffle_hash"``: hash-exchange BOTH sides on
    the url hash — the build becomes distributed executor work instead
    of single-threaded driver time (the 3x scale experiment measured
    the broadcast build growing the per-round serial constant c from
    24 s to 150 s; see BASELINE.md).  With the pages table stored
    bucketed on the hash (sources/bucketed.py), the fact side of the
    shuffle_hash plan reads pre-partitioned and only the claimed keys
    move.  ``run_crawl(fetch_join="auto")`` picks per round by claimed
    count.

    broadcast(claimed keys) INNER JOIN pages **on the 64-bit canonical
    url hash** (SURVEY §2.3 J11: the fetch is an equi-join on the
    canonical url hash; hash identity is the same contract the seen set
    already keys the whole engine on).  The 100 TB fact side is never
    shuffled, and the BUILD side broadcasts only (url_hash, qid,
    round_added, try) — four numeric columns, ~3x smaller than the full
    frontier row, because the driver-side collect + hash-relation build
    of the broadcast is SERIAL time that lands in the per-round constant
    at any cluster size.  ``url`` comes back from the pages side
    (equal-by-hash) and ``host`` is recomputed with the same
    reg_domain(url_host(url)) expression that produced the frontier's
    host — per-claimed-page vectorized work that scales with slots
    instead of per-round driver time that does not.

    Then ONE ``extract_page`` pass produces byte-identical text + gated
    link candidates.  The output is the round's working set: FETCH_COLS
    + (warc_ts, lang, text, links) — crucially WITHOUT the html column,
    so caching it costs ~1% of caching the joined pages.  Every
    downstream consumer (links, the fetch log with its page text,
    settle outcomes, miss detection) reads this one skinny cache; the
    html bytes are touched exactly once per round.
    """
    keys = claimed.select("url_hash", "qid", "round_added", "try")
    # A pages table carrying a materialized url_hash column (the
    # bucketed layout sources/bucketed.py writes) joins on the STORED
    # column — required for bucket pruning/co-location, since a
    # computed xxhash64(url) expression can never match a bucket spec.
    # COLUMN CONTRACT: a stored url_hash MUST equal xxhash64(url) over
    # the same canonical url string the frontier hashes; a column
    # computed with a different hash (or over a non-canonical url form)
    # silently misjoins as dropped fetches.  run_crawl(
    # validate_url_hash=True) samples ~1000 rows and fails fast.
    p_hash = (
        F.col("url_hash") if "url_hash" in pages.columns else F.xxhash64(F.col("url"))
    )
    pg = pages.select(p_hash.alias("p_hash"), "url", "warc_ts", "html", "lang")
    if join not in ("broadcast", "shuffle_hash"):
        raise ValueError(f"join must be 'broadcast' or 'shuffle_hash', got {join!r}")
    keys = keys.hint(join)
    joined = keys.join(pg, keys["url_hash"] == pg["p_hash"], "inner")
    return joined.select(
        "qid",
        "round_added",
        "try",
        "url",
        reg_domain(url_host("url")).alias("host"),
        "warc_ts",
        "lang",
        extract_page("html").alias("p"),
    )


# F10: the link walk aborts on google/facebook pages
# (pagefinder.js:159-176,200-203 isGooglePage) — their links are never
# candidates.  Applied to the PARENT page url before link explode.
PAGE_GUARD = r"(?i)(google\.|facebook\.com)"


def discover(
    links: DataFrame,
    patterns: list[str],
    round_no: int,
    seen_state: SeenState,
    state: DataFrame,
    vid: int = 1,
    queue: str = "default",
    caches: list | None = None,
    clicked: DataFrame | None = None,
    trap_limit: int | None = None,
    trap_keep: int = 5,
    state_deltas: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Score, filter, canonicalize, dedup, and seen-filter new links.

    Returns (new_frontier_rows, decision_log_rows, state_delta).
    ``state_delta`` is the seen-state's NEW delta segments only (O(new
    urls)); the caller composes the next state via
    ``SeenState.advance(state, delta)`` or an append commit.
    qids are hash-derived (qid = url_hash; see module header) and carry
    no discovery order; claim priority rides the explicit
    (round_added, weight desc, qid) key (frontier.claim_order).  The
    (-weight, parent_qid, pos) order below only picks WHICH in-round
    duplicate of a url survives dedup: best-scoring link first, ties by
    the FIFO order of the page that found it — the deterministic analog
    of 'click the best link first' (pagefinder.js:122,246-249).

    In-round dedup + membership test + state update are ONE cogrouped
    ``seen_state.admit`` pass over ``state`` (the seen state's base) and
    ``state_deltas`` (segments appended since its last compaction); see
    seen.py.

    ``clicked`` (D2, pagefinder.js:101-104,277-279): per-site anchor
    texts already followed; candidates repeating a clicked text on the
    same site are skipped.  The state is a single 64-bit key column
    ``ck = xxhash64(parent host, anchor text)`` — the probe join
    shuffles one long, not two strings, and a hash collision wrongly
    suppressing a link has the same (accepted, documented) tolerance as
    the url seen set.  Every new frontier row carries its link's ``ck``,
    so the crawl loop derives this state from the frontier itself.

    ``links`` may carry a precomputed ``phost`` column (the crawl loop
    passes the frontier's host — zero extra work); without one the
    parent host is derived here (standalone/test use).
    """
    bl = blacklist_regex(patterns)
    scored = links.withColumn("curl", resolve_canonicalize("parent_url", "href"))
    if "phost" not in links.columns:
        scored = scored.withColumn("phost", reg_domain(url_host("parent_url")))
    scored = scored.withColumn(
        "weight", F.coalesce(link_weight("anchor_text"), F.lit(0.0))
    ).withColumn("__ck", F.xxhash64("phost", "anchor_text"))
    if clicked is not None:
        seen_text = clicked.select(F.col("ck").alias("__ck"), F.lit(True).alias("__clicked")).distinct()
        scored = scored.join(seen_text, "__ck", "left")
    else:
        scored = scored.withColumn("__clicked", F.lit(None).cast("boolean"))
    scored = scored.select("parent_qid", "pos", "curl", "weight", "__ck", "__clicked")
    if caches is not None:
        # The canonicalization UDF runs once per link: the decision log
        # below and the admit candidates both read this cache.
        scored = scored.persist()
        caches.append(scored)
    # Unresolvable links drop ABOVE the cache: a filter on `curl` under
    # it would be pushed below the projection with the UDF inlined into
    # its condition, and the cached plan would run the canonicalizer
    # twice per link (one ArrowEvalPython for the filter, one for the
    # column).
    scored = scored.filter(F.col("curl").isNotNull())
    # Decision log for every candidate (S9).
    decisions = scored.withColumn(
        "decision",
        F.when(F.col("curl").rlike(bl), F.lit("skipped-blacklist"))
        .when(F.col("weight") < 0, F.lit("skipped-negative-weight"))
        .when(F.col("__clicked"), F.lit("skipped-clicked-text"))
        .otherwise(F.lit("candidate")),
    ).select(F.lit(round_no).alias("round"), "parent_qid", "curl", "weight", "decision")

    kept = (
        scored.filter(~F.col("curl").rlike(bl))
        .filter(F.col("weight") >= 0)
        .filter(F.col("__clicked").isNull())
    )
    if trap_limit is not None:
        # Dynamic trap gate (opt-in): per-(host, shape) explosions are
        # trimmed to their first trap_keep urls BEFORE the seen-state
        # admit, so a calendar trap never floods the frontier.  One
        # extra (host, shape) window per round when enabled; trap trims
        # are not rows in the decision log (they never became
        # candidates of record — same posture as the static blacklist
        # applied at seed ingest).
        from tripwire_spark.operators.frontier import filter_url_traps

        kept = filter_url_traps(kept, "curl", limit=trap_limit, keep=trap_keep)
    # Not persisted: the admit's cogroup, their one reader, derives
    # these JVM-only filters and the hash from the cached `scored`.
    cands = kept.select(
        "curl",
        url_hash("curl").alias("url_hash"),
        (-F.col("weight")).alias("__negw"),
        "parent_qid",
        "pos",
        "__ck",
    )
    # Lazy persist of `admitted` is deliberate (unlike `parsed`): eagerly
    # checkpointing the cogroup serialized the round's DAG and measured
    # ~25% SLOWER at 8 slots; the admit chain reads the already-
    # materialized parsed blocks, so its cache race window is narrow.
    # state_deltas ride the candidate-side exchange, so over a bucketed
    # base no state bytes move (SeenState.admit).  next_seg=round_no
    # gives every round's delta segment its own id.
    # The admit output is bucket-aligned (n_buckets partitions over the
    # bucketed base); the rebalance re-sizes it by its bytes so every
    # O(new) consumer after it — the new rows' host UDF, the frontier
    # commit, the seen-sketch delta append — runs a few tasks, not one
    # per bucket.  That exchange carries the fresh candidates plus ONE
    # delta segment row per touched bucket: O(new) bytes, never state
    # bytes.
    admitted = seen_state.admit(
        cands, state, hash_col="url_hash",
        order_cols=["__negw", "parent_qid", "pos"],
        next_seg=round_no, delta_side=state_deltas,
    ).hint("rebalance").persist()
    if caches is not None:
        caches.append(admitted)
    fresh, state_delta = SeenState.split(
        admitted, ["curl", "url_hash", "__negw", "parent_qid", "pos", "__ck"]
    )
    # Deterministic qid = the full 64-bit url_hash.  The seen set
    # guarantees a hash enters the frontier exactly once, so the qid is
    # exactly as unique as the hash identity the whole engine keys on,
    # and it needs NO shuffle, NO sampling pass, and NO driver action
    # (the reference's serial INCR-allocated qid exists only to order
    # claims; claim priority is the explicit (round_added, weight desc,
    # qid) key, and the frontier's unique key is (qid, round_added)).
    new_rows = fresh.select(
        F.col("url_hash").alias("qid"),
        F.col("curl").alias("url"),
        F.col("url_hash"),
        reg_domain(url_host("curl")).alias("host"),
        F.lit(None).cast("int").alias("alexa"),
        F.lit(0).alias("try"),
        F.lit(ST_QUEUED).alias("status"),
        F.lit(queue).alias("queue"),
        F.lit(vid).alias("vid"),
        F.lit(round_no).alias("round_added"),
        (-F.col("__negw")).cast("double").alias("weight"),
        F.col("__ck").alias("ck"),
    )
    return new_rows, decisions, state_delta


def crawl_metrics(state: "CrawlState") -> DataFrame | None:
    """S4/A8: the per-round metrics table (the reference publishes these
    as Redis counters: queued counts at queue_sites:99,139-141, status
    events at run_queue_nowrap:104).  Derived lazily from the fetch and
    decision logs — zero extra driver actions in the crawl loop."""
    if state.fetch_log is None or state.decision_log is None:
        return None
    f = state.fetch_log.groupBy("round").agg(
        F.count("*").alias("n_fetches"),
        F.sum(F.col("found").cast("int")).alias("n_found"),
        F.sum((~F.col("found")).cast("int")).alias("n_missed"),
    )
    d = state.decision_log.groupBy("round").agg(
        F.sum((F.col("decision") == "candidate").cast("int")).alias("n_candidates"),
        F.sum(F.col("decision").startswith("skipped").cast("int")).alias("n_skipped"),
    )
    return f.join(d, "round", "full_outer").orderBy("round")


URL_HASH_SAMPLE_ROWS = 1000


def _check_url_hash(pages: DataFrame) -> None:
    """Fail fast when a stored ``url_hash`` breaks the ``xxhash64(url)``
    contract (run_crawl's ``validate_url_hash``).

    The sample is Bernoulli over the whole table, not a prefix: a prefix
    reads the first file only, so a bad column in any other file of a
    multi-file table would pass."""
    cols = pages.select("url", "url_hash")
    n = cols.count()
    if n == 0:
        return
    fraction = URL_HASH_SAMPLE_ROWS / n
    if fraction < 1.0:
        cols = cols.sample(fraction=fraction, seed=0)
    row = cols.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("url_hash") != F.xxhash64(F.col("url"))).alias("bad"),
    ).first()
    if row["bad"]:
        raise ValueError(
            f"pages.url_hash violates the xxhash64(url) contract on {row['bad']}/"
            f"{row['n']} sampled rows — the fetch join would silently drop these "
            "fetches; recompute the column (sources/bucketed.py writes it "
            "correctly) or drop it to fall back to the computed join key"
        )


@dataclass
class CrawlState:
    """A crawl's state after ``run_crawl``: the frontier and logs are
    lazy reads of its committed snapshot tables, and ``results`` is the
    found rows of the fetch log.  For a crawl run without
    ``checkpoint_dir`` they live in ``scratch_dir``, which ``release()``
    deletes (or process exit, if nobody calls it); the frames cannot be
    read after that."""

    frontier: DataFrame
    fetch_log: DataFrame | None = None
    decision_log: DataFrame | None = None
    assignments: DataFrame | None = None  # sticky identity<->domain map
    rounds_run: int = 0
    metrics: list[dict] = field(default_factory=list)
    scratch_dir: str | None = None

    @property
    def results(self) -> DataFrame | None:
        """The fetched pages (S7), one row per found fetch."""
        if self.fetch_log is None:
            return None
        return self.fetch_log.filter("found").select("qid", "url", "text", "lang", "warc_ts")

    def release(self) -> None:
        if self.scratch_dir:
            shutil.rmtree(self.scratch_dir, ignore_errors=True)
            self.scratch_dir = None


def _check_seen_buckets(summary: dict, bloom_buckets: int) -> None:
    """Refuse to resume a seen state written under another bucket count
    (``summary``: the latest seen-sketch commit's)."""
    if "buckets" not in summary:
        raise ValueError(
            "seen-state geometry: the checkpoint records no bucket count "
            "(written before seen-sketch commits recorded one), so it cannot "
            "be checked against this crawl's bloom_buckets; resuming it "
            "unchecked could re-admit urls"
        )
    if int(summary["buckets"]) != bloom_buckets:
        raise ValueError(
            f"seen-state geometry: checkpoint has {summary['buckets']} buckets, "
            f"this crawl {bloom_buckets}; resume with the bloom_buckets it was "
            "written under"
        )


def _release(frame: DataFrame) -> None:
    """Drop what ``frame`` pins.  A local checkpoint's RDD is not in the
    cache manager, so ``unpersist()`` alone leaves it pinned; its
    analyzed plan is the ``LogicalRDD`` over that RDD."""
    frame.unpersist()
    plan = frame._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _keeps_job_description(crawl):
    """Restore the caller's job description (``setJobGroup`` sets one)
    when ``crawl`` returns or raises: the loop names its own actions."""

    @functools.wraps(crawl)
    def wrapper(spark: SparkSession, *args, **kwargs):
        sc = spark.sparkContext
        caller_description = sc.getLocalProperty("spark.job.description")
        try:
            return crawl(spark, *args, **kwargs)
        finally:
            sc.setJobDescription(caller_description)

    return wrapper


@_keeps_job_description
def run_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    robots: DataFrame | None,
    patterns: list[str],
    max_rounds: int = 5,
    default_budget: int = 3,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    vid: int = 1,
    bloom_buckets: int = 64,
    backpressure: bool = False,
    identities: DataFrame | None = None,
    compact_every: int = 8,
    trap_limit: int | None = None,
    seen_mode: str = "auto",
    fetch_join: str = "broadcast",
    seen_preload: DataFrame | None = None,
    seen_bucketed: bool = True,
    validate_url_hash: bool = False,
) -> CrawlState:
    """The full crawl loop: one snapshot commit per round into
    ``checkpoint_dir``; ``resume=True`` continues from the latest
    committed round there (and raises ``ValueError`` without a
    ``checkpoint_dir``).

    Every crawl is checkpointed.  Without a ``checkpoint_dir`` the crawl
    commits into a private scratch directory on the driver's local disk
    (``tempfile.mkdtemp``) that ``CrawlState.release()`` deletes, so it
    needs the same driver- and executor-visible filesystem any Parquet
    stand-in checkpoint needs.

    ``backpressure`` (T8, run_queue_nowrap:29,124-126,219-231): when a
    round's miss rate exceeds ``BACKPRESSURE_MISS_RATE`` the next
    round's politeness budget halves (min 1) — the batch analog of
    sleeping on bad proxy checks; a healthy round restores the default.
    Costs one count per round on the cached parse; off by default so
    the throughput bench path is action-identical.  ``state.metrics``
    holds one record per round: ``{round, claimed}``, plus ``fetched``,
    ``miss_rate`` and ``budget_cap_next`` with backpressure on.

    ``identities`` (SURVEY §7 hard part 5; get_iid,
    common_utils.py:240-269): an identities dimension
    (iid, id_group, id_type, enabled, used, verified, in_use) turns on
    sticky identity<->domain assignment — every claimed host gets the
    lowest free identity once, reuses it in every later round, and the
    mapping persists in the ``assignments`` state table
    (checkpointed/restored like the frontier; only such a crawl has it).

    The clicked-text state (D2, ``discover``) is derived from the
    frontier each round: the ``ck`` of its claimed rows (``completed``
    or ``try > 0``) and of the rows the round claims.

    Commit cost per round is O(round delta) for the append-only tables
    (fetch_log, decision_log, seen_sketch — Iceberg fast-appends via
    ``commit_append``); only the two mutating tables (frontier,
    assignments) rewrite.  A found fetch's ``fetch_log`` row carries its
    page (``text``, ``lang``, ``warc_ts``; NULL on a miss): a resume
    refuses a checkpoint that still holds a ``results`` table, before
    any Spark job.  ``compact_every``: every K rounds
    the segmented seen state is compacted (one merged segment per
    bucket, committed as a full snapshot) — amortized O(total/K)
    maintenance, keeping the per-round admit cost O(new).  So the seen
    state a round's admit reads holds at most ``compact_every`` segments
    per bucket, one row each (tests/test_crawl_e2e.py pins it).  Every
    round re-reads its state from the tables, so lineage never grows
    with ``max_rounds``.

    The seen-state admit has one plan: a cogroup of the candidates
    against the state's base, with the segments appended since the last
    compaction riding the candidate side (``SeenState.admit``).  The
    seen-state snapshots have one layout: full snapshots are written
    bucketed on ``bucket``, so the base is read exchange-free
    (plan-asserted in tests/test_seen.py and tests/test_crawl_e2e.py)
    and the 10^10-state ∧ 10^8-new-urls corner ships only O(new x
    rounds-since-compaction) bytes through any exchange.  Two bucket
    counts are at work.  The LOGICAL count ``bloom_buckets`` shards the
    state (``bucket = url_hash % bloom_buckets``, one segment row per
    bucket) and is what a resume checks.  The PHYSICAL count P =
    ``min(bloom_buckets, spark.sparkContext.defaultParallelism)`` is the
    ``bucketBy(P, "bucket")`` of the stored base: the admit's cogroup
    runs one wave of P tasks, each over ``bloom_buckets / P`` logical
    buckets.  P is read when ``run_crawl`` starts (under dynamic
    allocation it can be small until executors register; the next
    compaction rewrites the base at the then-current P).  A base is read
    back at the P its manifest recorded, so a checkpoint written under
    another P resumes unchanged.  Every
    seen-state commit records ``bloom_buckets`` in its summary
    (``"buckets"``); a resume compares it with this crawl's
    ``bloom_buckets`` from the manifest alone, before any Spark job,
    and raises ``ValueError`` on a mismatch or on a checkpoint that
    recorded no count.  ``seen_mode`` accepts only ``'auto'`` and
    ``seen_bucketed`` only ``True``, the values callers pass; any other
    value raises ``ValueError``.

    ``fetch_join='auto'`` decides each round from the PREVIOUS
    round's claimed count against ``FETCH_JOIN_THRESHOLD`` (round 1
    defaults to broadcast — the seed round's claim set is the seed
    list; pass ``fetch_join='shuffle_hash'`` explicitly for a 10^9-seed
    bootstrap).  A resumed crawl reads that count from the last
    frontier commit's summary.

    ``validate_url_hash``: when the pages table carries a stored
    ``url_hash`` column the fetch join TRUSTS it as the join identity
    (required for the bucketed zero-exchange layout — a computed
    expression can never match a bucket spec).  The column contract is
    ``url_hash = xxhash64(url)`` over the SAME canonical url string the
    frontier hashes; a pages table hashed differently (or over a
    non-canonical url form) silently misjoins as dropped fetches.  This
    flag checks a uniform sample of about 1000 pages drawn across the
    whole table up front and fails fast on any mismatch — a row count
    and one scan of the ``url``/``url_hash`` columns at crawl start,
    off by default."""
    if seen_mode != "auto":
        raise ValueError(f"seen_mode must be 'auto', got {seen_mode!r}")
    if seen_bucketed is not True:
        raise ValueError(f"seen_bucketed must be True, got {seen_bucketed!r}")
    if resume and not checkpoint_dir:
        raise ValueError("resume=True needs the checkpoint_dir of the crawl it continues")
    if resume and os.path.exists(os.path.join(checkpoint_dir, "results", "manifest.json")):
        raise ValueError(
            "the checkpoint holds a results table, so its fetch_log rows carry no page "
            "text and a resumed crawl's results would lose those rounds"
        )
    if validate_url_hash and "url_hash" in pages.columns:
        _check_url_hash(pages)
    scratch_dir = None
    if not checkpoint_dir:
        checkpoint_dir = scratch_dir = tempfile.mkdtemp(prefix="tripwire-crawl-")
        atexit.register(shutil.rmtree, scratch_dir, ignore_errors=True)
    # Iceberg-backed when the runtime is on the classpath, else the
    # Parquet stand-in — the loop is agnostic (same commit/append/
    # read/rollback contract either way).  The seen sketch's full
    # snapshots are bucketed on ``bucket`` so admit's cogroup reads it
    # exchange-free, in one physical bucket per task slot: the cogroup
    # then runs one wave of that many tasks, each over bloom_buckets/P
    # logical buckets (docstring).
    physical_buckets = min(bloom_buckets, spark.sparkContext.defaultParallelism)
    names = ["frontier", "fetch_log", "decision_log", "seen_sketch"]
    if identities is not None:
        names.append("assignments")
    tables = {
        name: open_snapshot_table(
            spark, checkpoint_dir, name,
            bucket_key="bucket" if name == "seen_sketch" else None,
            bucket_count=physical_buckets if name == "seen_sketch" else None,
        )
        for name in names
    }
    # Every seen-sketch commit records its (logical) bucket count: a
    # state read under another count would probe the wrong bucket's
    # segments and re-admit urls it has seen.
    seen_summary = {"buckets": bloom_buckets}
    if resume and tables["seen_sketch"].latest_id():
        # manifest only: runs before any table read, so no Spark job
        _check_seen_buckets(tables["seen_sketch"].snapshots()[-1]["summary"], bloom_buckets)
    # Each driver action below names itself, so an event log splits a
    # round by phase.  The parse's text must keep ending in
    # "fetch+extract checkpoint": event-log readers key on it.
    # (_keeps_job_description restores the caller's own.)
    describe = spark.sparkContext.setJobDescription
    assignments = None  # sticky identity<->domain state (host, iid, group, type)
    prev_claimed: int | None = None  # fetch-join auto input, one round stale
    start_round = 1
    if resume and tables["frontier"].latest_id():
        describe("resume: read checkpoint")
        frontier = tables["frontier"].read()
        fetch_log = tables["fetch_log"].read() if tables["fetch_log"].latest_id() else None
        decision_log = tables["decision_log"].read()
        if identities is not None and tables["assignments"].latest_id():
            assignments = tables["assignments"].read()
        last = tables["frontier"].snapshots()[-1]["summary"]
        start_round = int(last.get("round", 0)) + 1
        # fetch_join='auto' picks from the previous round's claimed
        # count; a crawled round's commit recorded it (the seeded round
        # 0 did not).
        if last.get("claimed") is not None:
            prev_claimed = int(last["claimed"])
    else:
        # One canonicalized seed frame feeds both round-0 tables: the
        # frontier is its queued lines, the decision log all of them.
        seed_log = seed_decision_log(seeds, patterns).persist()
        try:
            describe("round 0: seeded frontier commit")
            tables["frontier"].commit(
                seeded_frontier(seed_log, vid=vid), {"round": 0, "stage": "seeded"}
            )
            describe("round 0: seeded decision_log commit")
            tables["decision_log"].commit(
                seed_log.select(
                    F.lit(0).alias("round"),
                    F.col("file_order").alias("parent_qid"),
                    F.col("url").alias("curl"),
                    F.lit(0.0).alias("weight"),
                    "decision",
                ),
                {"round": 0},
            )
        finally:
            seed_log.unpersist()
        # Read back what was committed: the seen init and round 1's
        # claim and settle scan the table instead of each re-running the
        # seed canonicalization and dedup.
        frontier = tables["frontier"].read()
        decision_log = tables["decision_log"].read()
        fetch_log = None

    state = CrawlState(frontier, fetch_log, decision_log, scratch_dir=scratch_dir)

    # Bucket-sharded seen-state (sorted hash segments per bucket):
    # initialized ONCE over the seed frontier (restored from its
    # snapshot on resume), then carried forward by each round's admit()
    # pass — O(new) update per round.
    seen_svc = SeenState(n_buckets=bloom_buckets)
    seen_deltas = None  # segments appended since the last full snapshot
    if resume and tables["seen_sketch"].latest_id():
        # the bucketed base snapshot + the segments appended on top
        seen_base = tables["seen_sketch"].read_base()
        seen_deltas = tables["seen_sketch"].read_deltas()
    else:
        # seen_preload: prior-corpus url hashes imported into the
        # initial seen set (history import on a fresh checkpoint, and
        # the knob behind the 10x-history scale experiment — preloaded
        # hashes grow STATE SIZE without touching crawl results,
        # isolating the admit read side's cost curve).
        init_src = state.frontier.select("url_hash")
        if seen_preload is not None:
            init_src = init_src.unionByName(seen_preload.select("url_hash"))
        # Seed segments committed once (bucketed layout); every round
        # then APPENDS its O(new) delta segments on top (resume reads
        # base + file union, never a rewritten blob).  The state is
        # disk-backed from here on — the shape that holds when it no
        # longer fits memory.
        describe("round 0: seen-state init commit")
        tables["seen_sketch"].commit(
            seen_svc.init(init_src, "url_hash"),
            {"round": 0, "stage": "seeded", **seen_summary},
        )
        seen_base = tables["seen_sketch"].read_base()

    budget_cap = None  # T8: None = healthy, no throttle
    for r in range(start_round, max_rounds + 1):
        # The claim cache: every claim consumer reads its `running` rows;
        # its `disabled` (robots-blocked) rows only settle.
        schedule = politeness_schedule(
            state.frontier, robots, default_budget=default_budget, round_no=r,
            budget_cap=budget_cap,
        ).persist()
        claimed = schedule.filter(F.col("status") == ST_RUNNING)
        # every frame the round pins; all are dropped when it ends,
        # also when it raises
        round_caches = [schedule]
        try:
            if identities is not None:
                # Sticky identity claim: mapped hosts reuse, new hosts take
                # the lowest free iid (first-claim-wins; get_iid analog).
                from tripwire_spark.operators.identity import sticky_assignments

                assignments = sticky_assignments(
                    claimed.select("host"), assignments, identities
                ).persist()
                round_caches.append(assignments)
            # D2 state at CLAIM time (pagefinder.js:277-279: links_clicked
            # records actual clicks): the ck of every row claimed in an
            # earlier round (settle leaves it completed or with try > 0) or
            # in this one, so this round's candidates are already suppressed
            # by it; admitted-but-never-claimed links suppress nothing.
            # Round 1 claims from the seeded frontier, whose ck is NULL
            # (seeded_frontier), so its probe is provably empty and skipped.
            clicked = None
            if r > 1:
                clicked = (
                    state.frontier.filter((F.col("status") == ST_COMPLETED) | (F.col("try") > 0))
                    .select("ck")
                    .unionByName(claimed.select("ck"))
                    .filter(F.col("ck").isNotNull())
                )
            # Fetch-join switchover (round-3 3x experiment, BASELINE.md):
            # the driver-built claimed-set broadcast is per-round SERIAL
            # time growing with budget x hosts; past FETCH_JOIN_THRESHOLD
            # claimed rows the distributed shuffle_hash build wins.  "auto"
            # decides from the PREVIOUS round's claimed count — a number the
            # loop already has — so the auto path runs the exact same driver
            # actions as a fixed strategy (round-4 ADVICE: the dedicated
            # claimed.count() here was itself a serial-constant term).
            # Round 1 (prev_claimed None) broadcasts: the seed round's claim
            # set is the seed list (docstring).  A resumed crawl starts from
            # the last committed round's count.
            strategy = fetch_join
            if fetch_join == "auto":
                strategy = (
                    "shuffle_hash"
                    if prev_claimed is not None and prev_claimed > FETCH_JOIN_THRESHOLD
                    else "broadcast"
                )
            # parsed is the round's single most expensive computation (the
            # html parse).  An ordinary persist() is NOT enough: the
            # commits' concurrent AQE jobs race on lazy-cache blocks and can
            # each re-run the parse (event-log profiling showed the full
            # pages scan + parse executing twice per round).  Eager
            # localCheckpoint runs the parse exactly once and hands every
            # consumer the same RDD blocks by identity — no plan-matching,
            # no race.  The plan is built first and the description set just
            # before the action, so the description names exactly its jobs.
            parsed = fetch_extract(claimed, pages, join=strategy)
            describe(f"round {r}: fetch+extract checkpoint")
            parsed = parsed.localCheckpoint(eager=True)
            round_caches.append(parsed)
            # Drain probe AFTER the parse, on the claimed cache the parse
            # materialized (no extra politeness evaluation up front); its
            # number also feeds next round's fetch_join='auto' pick and the
            # round's record.  A drained round commits nothing.
            describe(f"round {r}: drain count")
            n_claimed = claimed.count()
            if n_claimed == 0:
                break
            prev_claimed = n_claimed
            # Miss detection follows the same size logic: the parsed-keys
            # side is O(claimed), so its broadcast outgrows a shuffle at the
            # same threshold the fetch join does.  (qid, round_added) is the
            # frontier's unique key — qid alone can collide between a seed
            # (file_order) and a discovery (url_hash).
            anti_keys = parsed.select("qid", "round_added")
            if strategy == "broadcast":
                anti_keys = F.broadcast(anti_keys)
            misses = claimed.join(anti_keys, ["qid", "round_added"], "left_anti")
            # one row per claimed url: a found one carries its page (S7)
            fetched = parsed.select(
                "qid", "round_added", "url", "host", "try", F.lit(True).alias("found"),
                F.col("p.text").alias("text"), "lang", "warc_ts",
            ).unionByName(
                misses.select(
                    "qid", "round_added", "url", "host", "try", F.lit(False).alias("found")
                ),
                allowMissingColumns=True,
            )
            # F10: abort the link walk on google/facebook pages — their
            # links never become candidates (pagefinder.js:159-176,200-203).
            # phost rides along from the frontier row (already the reg
            # domain) so D2 never recomputes it per link.
            links = parsed.filter(~F.col("url").rlike(PAGE_GUARD)).select(
                F.col("qid").alias("parent_qid"),
                F.col("url").alias("parent_url"),
                F.col("host").alias("phost"),
                F.explode("p.links").alias("l"),
            ).select(
                "parent_qid",
                "parent_url",
                "phost",
                F.col("l.href").alias("href"),
                F.col("l.text").alias("anchor_text"),
                F.col("l.pos").alias("pos"),
            )
            new_rows, link_decisions, state_delta = discover(
                links, patterns, round_no=r, seen_state=seen_svc, state=seen_base,
                vid=vid, caches=round_caches, clicked=clicked, trap_limit=trap_limit,
                state_deltas=seen_deltas,
            )
            # new_rows feeds the settled frontier (and the snapshot commit);
            # pin it so its seen-state lineage isn't re-evaluated per consumer.
            new_rows = new_rows.persist()
            round_caches.append(new_rows)

            # round_added rides along so log rows share the frontier's
            # compound (qid, round_added) key — qid alone can collide
            # between a seed (file_order) and a discovery (url_hash).
            log = fetched.select(
                "qid", "round_added", "url", "host", F.lit(r).alias("round"), "found",
                F.when(F.col("found"), F.lit(0)).otherwise(F.lit(404)).alias("errno"),
                F.spark_partition_id().alias("partition_id"), "text", "lang", "warc_ts",
            )

            # a disabled row was never fetched: it settles with found NULL
            disabled = schedule.filter(F.col("status") == ST_DISABLED)
            outcomes = fetched.select("qid", "round_added", "try", "found").unionByName(
                disabled.select("qid", "round_added", "try"), allowMissingColumns=True
            )
            settled = settle(state.frontier, outcomes, new_urls=new_rows)

            # Mutating tables (frontier, assignments) rewrite; every
            # append-only table commits ONLY this round's delta (the Iceberg
            # fast-append) and is re-read as the file union — per-round
            # commit cost is O(round delta), not O(table).
            summary = {"round": r, "claimed": n_claimed}
            describe(f"round {r}: frontier commit (admit+settle)")
            tables["frontier"].commit(settled, summary)
            describe(f"round {r}: fetch_log append")
            tables["fetch_log"].commit_append(log, summary)
            describe(f"round {r}: decision_log append")
            tables["decision_log"].commit_append(link_decisions, summary)
            if assignments is not None:
                describe(f"round {r}: assignments commit")
                tables["assignments"].commit(assignments, summary)
                assignments = tables["assignments"].read()
            describe(f"round {r}: seen_sketch append")
            tables["seen_sketch"].commit_append(state_delta, {**summary, **seen_summary})
            if r % compact_every == 0:
                # Lazy maintenance: merge each bucket's segments into one
                # (full rewrite, amortized O(total/K) per round),
                # re-landing in the bucketed layout.
                describe(f"round {r}: seen_sketch compaction")
                tables["seen_sketch"].commit(
                    seen_svc.compact(tables["seen_sketch"].read()),
                    {"round": r, "stage": "compacted", **seen_summary},
                )
            # Next round reads the (possibly just-recompacted) bucketed
            # base + the small parquet deltas on top — lazy, disk-backed,
            # and SPLIT so admit can keep the base's bytes out of every
            # exchange.
            describe(f"round {r}: read back")
            seen_base = tables["seen_sketch"].read_base()
            seen_deltas = tables["seen_sketch"].read_deltas()
            state.frontier = tables["frontier"].read()
            state.fetch_log = tables["fetch_log"].read()
            state.decision_log = tables["decision_log"].read()
            state.rounds_run = r

            record = dict(summary)
            if backpressure:
                # T8: gate next round's claim budget on this round's health
                # (the count reads the round's parse — no recompute).
                describe(f"round {r}: backpressure count")
                n_ok = parsed.count()
                miss = 1.0 - n_ok / n_claimed
                budget_cap = (
                    max(1, default_budget // 2) if miss > BACKPRESSURE_MISS_RATE else None
                )
                record.update(
                    fetched=n_ok, miss_rate=round(miss, 4), budget_cap_next=budget_cap
                )
            state.metrics.append(record)
        finally:
            for c in round_caches:
                _release(c)

    state.assignments = assignments
    return state
