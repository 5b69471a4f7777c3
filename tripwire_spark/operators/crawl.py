"""Crawl rounds: fetch (join against the pages table), extraction,
link discovery, frontier evolution, checkpoint/resume.

This is the Spark-first restatement of the reference's
claim/execute/settle loop (runners/run_queue_nowrap:586-699, SURVEY.md
§3.2): the live CasperJS page load is replaced by an **equi-join of the
claimed frontier against the Common-Crawl-style pages table** (J11);
one "round" = one deterministic batch over the whole claimable set
instead of one worker claiming one row.

Per round:
1. politeness schedule (W2 two-phase salted rank under budget, robots
   filter)
2. fetch = broadcast(claimed) join pages on url (the pages fact table
   is never shuffled)
3. extraction: byte-identical text (pageUtils.js:58-61), link + form
   candidates (vectorized pandas UDFs)
4. link scoring (C18 + D3 combine), blacklist (F1), canonicalize, then
   ONE cogrouped seen-state pass (seen.py SeenState.admit): in-round
   dedup + membership + bloom/hash-state update in a single shuffle —
   D7 / F2 analog
5. settle: status transitions (T2), hash-derived qids for discoveries,
   fetch_log (S10) + decision_log (S9) appends
6. snapshot commit per state table (= Iceberg snapshot per round;
   resume = read latest committed round).

Stage budget: ~10 stages / 3 driver actions per round (politeness
windows, fetch+extract+admit chain, settle checkpoint).  Task budget:
a stage's task count follows its rows.  Only the html parse (one task
per input split) and the cogroup admit (one task per seen-state bucket)
run wide; AQE coalesces every persist()ed intermediate (session.py lets
it change a cached plan's partitioning), the admit output is rebalanced
before its O(new) consumers, and each link is canonicalized once per
round.  Keeping both counts low matters as much on a 1000-executor
cluster as locally: the frontier loop is latency-bound on scheduler
round-trips and per-task set-up, not data volume, once the per-round
claim set is bounded.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tripwire_spark.functions.html import extract_page
from tripwire_spark.functions.scoring import link_weight
from tripwire_spark.functions.urls import reg_domain, resolve_canonicalize, url_hash, url_host
from tripwire_spark.operators.frontier import (
    FRONTIER_COLS,
    ST_QUEUED,
    blacklist_regex,
    build_frontier,
    politeness_schedule,
    seed_decision_log,
    settle,
)
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
    downstream consumer (results, links, fetch log, settle outcomes,
    miss detection) reads this one skinny cache; the html bytes are
    touched exactly once per round.
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
    seen: DataFrame,
    patterns: list[str],
    round_no: int,
    vid: int = 1,
    queue: str = "default",
    seen_state=None,
    state: DataFrame | None = None,
    caches: list | None = None,
    clicked: DataFrame | None = None,
    trap_limit: int | None = None,
    trap_keep: int = 5,
    seen_mode: str = "scan",
    state_deltas: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None, DataFrame]:
    """Score, filter, canonicalize, dedup, and seen-filter new links.

    Returns (new_frontier_rows, decision_log_rows, state_delta,
    admitted_ck_rows).  ``state_delta`` is the seen-state's NEW delta
    segments only (O(new urls)); the caller composes the next state via
    ``SeenState.advance(state, delta)`` or an append commit.
    qids are hash-derived (qid = url_hash; see module header) and carry
    no discovery order; claim priority rides the explicit
    (round_added, weight desc, qid) key (frontier.claim_order).  The
    (-weight, parent_qid, pos) order below only picks WHICH in-round
    duplicate of a url survives dedup: best-scoring link first, ties by
    the FIFO order of the page that found it — the deterministic analog
    of 'click the best link first' (pagefinder.js:122,246-249).

    With a ``seen_state`` (SeenState), in-round dedup + membership test
    + state update collapse into ONE cogrouped pass (see seen.py);
    without one, falls back to a window-dedup + exact anti-join against
    ``seen`` (the frontier's urls).

    ``clicked`` (D2, pagefinder.js:101-104,277-279): per-site anchor
    texts already followed in EARLIER rounds; candidates repeating a
    clicked text on the same site are skipped.  The state is a single
    64-bit key column ``ck = xxhash64(parent host, anchor text)`` — the
    probe join shuffles one long, not two strings, and a hash collision
    wrongly suppressing a link has the same (accepted, documented)
    tolerance as the url seen set.  The fourth return value is this
    round's newly-clicked ck rows for the caller to fold into the state.

    ``links`` may carry a precomputed ``phost`` column (the crawl loop
    passes the frontier's host — zero extra work); without one the
    parent host is derived here (standalone/test use).
    """
    bl = blacklist_regex(patterns)
    scored = links.withColumn("curl", resolve_canonicalize("parent_url", "href")).filter(
        F.col("curl").isNotNull()
    )
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
        # The canonicalization UDF chain runs once per link: the decision
        # log below and the admit candidates (whose two readers are the
        # touched-bucket broadcast and the cogroup) all read this cache.
        scored = scored.persist()
        caches.append(scored)
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
    state_delta = None
    if seen_state is not None and state is not None:
        from tripwire_spark.operators.seen import SeenState

        # Not persisted: both readers of the admit pass (the touched-
        # bucket broadcast and the cogroup) re-derive these JVM-only
        # filters and the hash from the cached `scored`.
        cands = kept.select(
            "curl",
            url_hash("curl").alias("url_hash"),
            (-F.col("weight")).alias("__negw"),
            "parent_qid",
            "pos",
            "__ck",
        )
        # Lazy persist of `admitted` is deliberate (unlike `parsed`): eagerly
        # checkpointing the cogroup serialized the round's DAG and
        # measured ~25% SLOWER at 8 slots; the admit chain reads the
        # already-materialized parsed blocks, so its cache race window
        # is narrow.
        # seen_mode="scan" (default): the state is only SCANNED — its
        # bytes never enter an exchange; every admit shuffle/broadcast
        # is O(new links).  "cogroup" is the one-wide-shuffle pass
        # (right for small state, or past ~10^8 new urls/round where
        # the candidate-hash broadcast would outgrow the exchange it
        # avoids — and over a BUCKETED-stored state its state side is
        # exchange-free too, see SeenState.admit(delta_side=...)).
        # state_deltas: append segments since the last compaction,
        # shipped candidate-side in cogroup mode, unioned in scan mode.
        # next_seg=round_no skips the per-admit max(seg) state scan.
        # The admit output is bucket-aligned (n_buckets partitions over
        # the bucketed base); the rebalance re-sizes it by its bytes so
        # every O(new) consumer after it — the new rows' host UDF, the
        # frontier commit, the seen-sketch delta append — runs a few
        # tasks, not one per bucket.  That exchange carries the fresh
        # candidates plus ONE delta segment row per touched bucket:
        # O(new) bytes, never state bytes.
        admitted = seen_state.admit(
            cands, state, hash_col="url_hash",
            order_cols=["__negw", "parent_qid", "pos"],
            mode=seen_mode, next_seg=round_no, delta_side=state_deltas,
        ).hint("rebalance").persist()
        if caches is not None:
            caches.append(admitted)
        fresh, state_delta = SeenState.split(
            admitted, ["curl", "url_hash", "__negw", "parent_qid", "pos", "__ck"]
        )
    else:
        w = Window.partitionBy("curl").orderBy(F.col("weight").desc(), "parent_qid", "pos")
        deduped = kept.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
        fresh = deduped.join(seen.select(F.col("url").alias("curl")), "curl", "left_anti").select(
            "curl",
            url_hash("curl").alias("url_hash"),
            (-F.col("weight")).alias("__negw"),
            "parent_qid",
            "pos",
            "__ck",
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
    # ck rows of this round's ADMITTED links.  NOT yet "clicked": the
    # reference marks links_clicked on the actual click
    # (pagefinder.js:277-279), so the crawl loop folds a frontier row's
    # ck into the D2 state only when the row is CLAIMED (fetched).
    # Standalone callers that want admit-time semantics can fold these
    # directly.
    new_clicked = fresh.select(F.col("__ck").alias("ck"))
    return new_rows, decisions, state_delta, new_clicked


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
    frontier: DataFrame
    results: DataFrame | None = None
    fetch_log: DataFrame | None = None
    decision_log: DataFrame | None = None
    assignments: DataFrame | None = None  # sticky identity<->domain map
    rounds_run: int = 0
    metrics: list[dict] = field(default_factory=list)
    # Persisted intermediates backing the lazy results/log DAGs when no
    # checkpoint_dir is used; call .release() when done with the state.
    caches: list = field(default_factory=list)

    def release(self) -> None:
        for c in self.caches:
            c.unpersist()
        self.caches = []


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
    use_bloom: bool = True,
    bloom_buckets: int = 64,
    backpressure: bool = False,
    backpressure_miss_rate: float = 0.5,
    track_clicked: bool = True,
    identities: DataFrame | None = None,
    compact_every: int = 8,
    trap_limit: int | None = None,
    seen_mode: str = "auto",
    seen_mode_threshold: int = 50_000_000,
    scan_cand_limit: int = 100_000_000,
    est_links_per_page: int = 50,
    fetch_join: str = "broadcast",
    fetch_join_threshold: int = 100_000_000,
    seen_preload: DataFrame | None = None,
    seen_bucketed: bool = True,
    validate_url_hash: bool = False,
) -> CrawlState:
    """The full crawl loop; one snapshot commit per round when
    ``checkpoint_dir`` is given; ``resume=True`` continues from the
    latest committed round.

    ``backpressure`` (T8, run_queue_nowrap:29,124-126,219-231): when a
    round's miss rate exceeds ``backpressure_miss_rate`` the next
    round's politeness budget halves (min 1) — the batch analog of
    sleeping on bad proxy checks; a healthy round restores the default.
    Costs two counts per round on already-cached frames; off by default
    so the throughput bench path is action-identical.

    ``identities`` (SURVEY §7 hard part 5; get_iid,
    common_utils.py:240-269): an identities dimension
    (iid, id_group, id_type, enabled, used, verified, in_use) turns on
    sticky identity<->domain assignment — every claimed host gets the
    lowest free identity once, reuses it in every later round, and the
    mapping persists in the ``assignments`` state table
    (checkpointed/restored like the frontier).

    Commit cost per round is O(round delta) for the append-only tables
    (results, fetch_log, decision_log, clicked, seen_sketch — Iceberg
    fast-appends via ``commit_append``); only the two mutating tables
    (frontier, assignments) rewrite.  ``compact_every``: every K rounds
    the segmented seen state is compacted (one merged segment per
    bucket, committed as a full snapshot) and, in the no-checkpoint
    path, lineage-truncated — amortized O(total/K) maintenance, keeping
    the per-round admit cost O(new).  So the seen state a round's admit
    reads holds at most ``compact_every`` segments per bucket, one row
    each (tests/test_crawl_e2e.py pins it).

    ``seen_mode='auto'`` re-resolves the admit read strategy EVERY
    round from two zero-cost estimates (no dedicated count jobs): the
    running state size (restored ``n_items`` on resume + per-round
    candidate upper bounds) and the previous round's candidate volume
    (exact from the decision-log commit manifest when checkpointing,
    else ``claimed x est_links_per_page``).  Small state →
    ``cogroup``; large state + bounded candidates → ``scan`` (state
    bytes move zero hops); large state AND > ``scan_cand_limit``
    candidates → ``cogroup`` again, which with ``seen_bucketed``
    storage reads its state side exchange-free from the bucketed
    snapshot — so the 10^10-state ∧ 10^8-new-urls corner ships only
    O(new x rounds-since-compaction) bytes through any exchange.
    ``fetch_join='auto'`` likewise decides each round from the PREVIOUS
    round's claimed count (round 1 defaults to broadcast — the seed
    round's claim set is the seed list; pass ``fetch_join=
    'shuffle_hash'`` explicitly for a 10^9-seed bootstrap).  A resumed
    crawl reads that count from the last frontier commit's summary.

    ``seen_bucketed``: checkpointed seen-state snapshots are written
    bucketed on ``bucket`` (``bloom_buckets`` buckets) so the cogroup
    admit's state side needs no exchange (plan-asserted in
    tests/test_seen.py); plain layout when False (pre-round-5
    checkpoints read back fine either way).

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
    tables = None
    start_round = 1
    if checkpoint_dir:
        # Iceberg-backed when the runtime is on the classpath, else the
        # Parquet stand-in — the loop is agnostic (same commit/append/
        # read/rollback contract either way).  The seen sketch opts into
        # the bucketed physical layout (full snapshots bucketed on
        # ``bucket``) so admit's cogroup mode reads it exchange-free.
        seen_bk = "bucket" if seen_bucketed else None
        tables = {
            name: open_snapshot_table(
                spark, checkpoint_dir, name,
                bucket_key=seen_bk if name == "seen_sketch" else None,
                bucket_count=bloom_buckets if name == "seen_sketch" else None,
            )
            for name in (
                "frontier", "results", "fetch_log", "decision_log", "seen_sketch",
                "clicked", "assignments",
            )
        }
    if validate_url_hash and "url_hash" in pages.columns:
        _check_url_hash(pages)

    clicked = None  # D2 state: ck hashes of texts followed in earlier rounds
    # Whether the D2 state can hold ANY row yet.  A fresh crawl's round 1
    # claims only seeds (ck is NULL by build_frontier construction), so
    # its clicked-text probe is provably empty — skipping it saves the
    # probe's distinct+join exchanges in the round where the frontier is
    # purest.  Resume flips this on immediately (restored state may be
    # non-empty); otherwise the first executed round does.
    d2_nonempty = False
    assignments = None  # sticky identity<->domain state (host, iid, group, type)
    prev_claimed: int | None = None  # fetch-join auto input, one round stale
    if resume and tables and tables["frontier"].latest_id():
        frontier = tables["frontier"].read()
        results = tables["results"].read() if tables["results"].latest_id() else None
        fetch_log = tables["fetch_log"].read() if tables["fetch_log"].latest_id() else None
        decision_log = tables["decision_log"].read()
        clicked = tables["clicked"].read() if tables["clicked"].latest_id() else None
        # conservative: a resumed frontier carries ck rows, so even with
        # no restored clicked table the first resumed round's claim-time
        # fold can be non-empty
        d2_nonempty = True
        if tables["assignments"].latest_id():
            assignments = tables["assignments"].read()
        last = tables["frontier"].snapshots()[-1]["summary"]
        start_round = int(last.get("round", 0)) + 1
        # fetch_join='auto' picks from the previous round's claimed
        # count; a crawled round's commit recorded it (the seeded round
        # 0 did not).
        if last.get("claimed") is not None:
            prev_claimed = int(last["claimed"])
    else:
        frontier = build_frontier(seeds, patterns, vid=vid)
        decision_log = seed_decision_log(seeds, patterns).select(
            F.lit(0).alias("round"),
            F.col("file_order").alias("parent_qid"),
            F.col("url").alias("curl"),
            F.lit(0.0).alias("weight"),
            "decision",
        )
        results = None
        fetch_log = None
        if tables:
            tables["frontier"].commit(frontier, {"round": 0, "stage": "seeded"})
            tables["decision_log"].commit(decision_log, {"round": 0})

    state = CrawlState(frontier=frontier, results=results, fetch_log=fetch_log, decision_log=decision_log)
    if not tables:
        # Pin the seeded frontier once: every consumer below (seen-state
        # init, politeness, settle) reads the cached, host-clustered rows.
        state.frontier = state.frontier.localCheckpoint(eager=True)

    # Bucket-sharded seen-state (bloom bits + sorted hash array per
    # bucket): initialized ONCE over the seed frontier (restored from
    # its snapshot on resume), then carried forward by each round's
    # admit() pass — O(new) update per round.
    crawl_caches: list = []
    seen_svc = None
    seen_base = None    # full state (no-checkpoint) or the bucketed base snapshot (tables)
    seen_deltas = None  # append segments since the last full snapshot (tables path)
    # Zero-action auto-mode estimators (docstring): running state size
    # and last round's candidate volume.  A fresh crawl's initial state
    # is the seed frontier — the smallest the state will ever be — so
    # the small-state default (cogroup) is right without counting it;
    # both numbers then update per round from values the loop already
    # has (commit manifests / the claimed count), never a dedicated job.
    est_state_items = 0
    est_cand_rows: int | None = None
    seen_mode_auto = seen_mode == "auto"

    def _pick_seen_mode() -> str:
        if est_state_items <= seen_mode_threshold:
            return "cogroup"  # small state: one narrow exchange, no probe broadcast
        if est_cand_rows is not None and est_cand_rows > scan_cand_limit:
            # scan's O(candidates) probe broadcast would outgrow its
            # win; cogroup over the bucketed base keeps the state bytes
            # out of every exchange anyway (admit delta_side path)
            return "cogroup"
        return "scan"  # big state, bounded delta: state bytes move zero hops

    if use_bloom:
        from tripwire_spark.operators.seen import SeenState

        seen_svc = SeenState(n_buckets=bloom_buckets)
        if resume and tables and tables["seen_sketch"].latest_id():
            seen_base = tables["seen_sketch"].read_base()
            seen_deltas = tables["seen_sketch"].read_deltas()
            # ONE metadata-only job on the resume path (blob columns
            # pruned): sizes the restored history for the auto-mode
            # estimator AND fail-fasts on geometry drift — a checkpoint
            # written under a different capacity/bits_per_key would emit
            # delta segments whose blooms compact() cannot OR together.
            meta = tables["seen_sketch"].read().agg(
                F.sum("n_items").alias("n"),
                F.count_distinct("m_bits", "k").alias("geoms"),
                F.first("m_bits").alias("m"),
                F.first("k").alias("kk"),
            ).first()
            est_state_items = int(meta["n"] or 0)
            if meta["geoms"] is not None and int(meta["geoms"]) > 1:
                raise ValueError(
                    "restored seen state carries mixed bloom geometry across "
                    "segments — compact it with the service it was written under "
                    "before resuming"
                )
            if meta["m"] is not None and (
                int(meta["m"]) != seen_svc.m_bits or int(meta["kk"]) != seen_svc.k
            ):
                raise ValueError(
                    f"restored seen state geometry (m_bits={meta['m']}, k={meta['kk']}) "
                    f"!= this crawl's SeenState (m_bits={seen_svc.m_bits}, k={seen_svc.k}) "
                    "— resume with the same bloom_buckets/capacity/bits_per_key"
                )
        else:
            # seen_preload: prior-corpus url hashes imported into the
            # initial seen set (history import on a fresh checkpoint,
            # and the knob behind the 10x-history scale experiment —
            # preloaded hashes grow STATE SIZE without touching crawl
            # results, isolating the admit read side's cost curve).
            init_src = state.frontier.select("url_hash")
            if seen_preload is not None:
                init_src = init_src.unionByName(seen_preload.select("url_hash"))
                if seen_mode_auto:
                    # one-off import-time measurement so round 1's mode
                    # reflects the imported history's size
                    est_state_items += seen_preload.count()
            seen_base = seen_svc.init(init_src, "url_hash")
            if tables:
                # Seed segments committed once (bucketed layout); every
                # round then APPENDS its O(new) delta segments on top
                # (resume reads base + file union, never a rewritten
                # blob).  The state is disk-backed from here on — the
                # shape that holds when it no longer fits memory.
                tables["seen_sketch"].commit(seen_base, {"round": 0, "stage": "seeded"})
                seen_base = tables["seen_sketch"].read_base()
            else:
                seen_base = seen_base.persist()
                crawl_caches.append(seen_base)

    budget_cap = None  # T8: None = healthy, no throttle
    for r in range(start_round, max_rounds + 1):
        claimed, disabled = politeness_schedule(
            state.frontier, robots, default_budget=default_budget, round_no=r,
            budget_cap=budget_cap,
        )
        claimed = claimed.persist()
        round_pre_caches = []
        if identities is not None:
            # Sticky identity claim: mapped hosts reuse, new hosts take
            # the lowest free iid (first-claim-wins; get_iid analog).
            from tripwire_spark.operators.identity import sticky_assignments

            assignments = sticky_assignments(
                claimed.select("host"), assignments, identities
            ).persist()
            round_pre_caches.append(assignments)
        round_clicked = None
        if track_clicked:
            # D2 fold at CLAIM time (pagefinder.js:277-279: links_clicked
            # records actual clicks): the ck of every frontier row being
            # fetched this round joins the clicked-text state NOW, so
            # this round's candidates are already suppressed by it.
            # Admitted-but-never-claimed links do not suppress anything
            # — the reference would still follow them.
            round_clicked = claimed.filter(F.col("ck").isNotNull()).select("ck").persist()
            round_pre_caches.append(round_clicked)
            clicked = round_clicked if clicked is None else clicked.unionByName(round_clicked)
        # parsed is the round's single most expensive computation (the
        # html parse).  An ordinary persist() is NOT enough: the settle
        # checkpoint and the admit chain materialize as CONCURRENT AQE
        # jobs, and lazy-cache block races let both branches re-run the
        # parse (event-log profiling showed the full pages scan + parse
        # executing twice per round).  Eager localCheckpoint runs the
        # parse exactly once and hands every consumer the same RDD
        # blocks by identity — no plan-matching, no race.
        # (Job descriptions name each round's driver actions so event-log
        # profiling can attribute stages; zero cost otherwise.)
        _explain = os.environ.get("TRIPWIRE_CRAWL_EXPLAIN") == "1"
        # Fetch-join switchover (round-3 3x experiment, BASELINE.md):
        # the driver-built claimed-set broadcast is per-round SERIAL
        # time growing with budget x hosts; past fetch_join_threshold
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
                if prev_claimed is not None and prev_claimed > fetch_join_threshold
                else "broadcast"
            )
        parsed_df = fetch_extract(claimed, pages, join=strategy)
        if _explain:
            print(f"==== round {r} parsed plan ====")
            parsed_df.explain("formatted")
        spark.sparkContext.setJobDescription(f"round {r}: fetch+extract checkpoint")
        parsed = parsed_df.localCheckpoint(eager=True)
        # (qid, round_added) is the frontier's unique key — qid alone can
        # collide between a seed (file_order) and a discovery (url_hash)
        # Miss detection follows the same size logic: the parsed-keys
        # side is O(claimed), so its broadcast outgrows a shuffle at the
        # same threshold the fetch join does.
        anti_keys = parsed.select("qid", "round_added")
        if strategy == "broadcast":
            anti_keys = F.broadcast(anti_keys)
        misses = claimed.join(anti_keys, ["qid", "round_added"], "left_anti")
        fetched_meta = parsed.select(
            "qid", "round_added", "url", "host", "try", F.lit(True).alias("found")
        ).unionByName(
            misses.select("qid", "round_added", "url", "host", "try", F.lit(False).alias("found"))
        )
        round_results = parsed.select(
            "qid", "url", F.col("p.text").alias("text"), "lang", "warc_ts"
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
        seen = state.frontier.select("url", "url_hash")
        round_caches: list = [parsed, *round_pre_caches]
        round_seen_mode = _pick_seen_mode() if seen_mode_auto else seen_mode
        new_rows, link_decisions, state_delta, _admit_ck = discover(
            links, seen, patterns, round_no=r, vid=vid,
            seen_state=seen_svc, state=seen_base, caches=round_caches,
            clicked=clicked if d2_nonempty else None, trap_limit=trap_limit,
            seen_mode=round_seen_mode, state_deltas=seen_deltas,
        )
        # (D2 fold happens at CLAIM time above — _admit_ck, the admitted
        # links' ck rows, is for standalone discover() callers only.)
        # new_rows feeds the settled frontier (and the snapshot commit);
        # pin it so its seen-state lineage isn't re-evaluated per consumer.
        new_rows = new_rows.persist()
        round_caches.append(new_rows)

        # round_added rides along so log rows share the frontier's
        # compound (qid, round_added) key — qid alone can collide
        # between a seed (file_order) and a discovery (url_hash).
        log = fetched_meta.select(
            "qid",
            "round_added",
            "url",
            "host",
            F.lit(r).alias("round"),
            F.col("found"),
            F.when(F.col("found"), F.lit(0)).otherwise(F.lit(404)).alias("errno"),
            F.spark_partition_id().alias("partition_id"),
        )

        state.frontier = settle(
            state.frontier,
            fetched_meta.select("qid", "round_added", "try", "found"),
            new_urls=new_rows,
            disabled=disabled,
        )
        state.results = round_results if state.results is None else state.results.unionByName(round_results)
        state.fetch_log = log if state.fetch_log is None else state.fetch_log.unionByName(log)
        state.decision_log = state.decision_log.unionByName(link_decisions)
        state.rounds_run = r

        nxt = None
        if tables:
            # Mutating tables (frontier, assignments) rewrite; every
            # append-only table commits ONLY this round's delta (the
            # Iceberg fast-append) and is re-read as the file union —
            # per-round commit cost is O(round delta), not O(table).
            n_claimed = claimed.count()
            if n_claimed == 0:
                # drained: drop EVERY cache this round pinned (parsed,
                # scored, admitted, new_rows), not just claimed/parsed
                claimed.unpersist()
                for c in round_caches:
                    c.unpersist()
                state.rounds_run = r - 1
                break
            prev_claimed = n_claimed
            summary = {"round": r, "claimed": n_claimed}
            tables["frontier"].commit(state.frontier, summary)
            tables["results"].commit_append(round_results, summary)
            tables["fetch_log"].commit_append(log, summary)
            tables["decision_log"].commit_append(link_decisions, summary)
            if round_clicked is not None:
                tables["clicked"].commit_append(round_clicked, summary)
                clicked = tables["clicked"].read()
            if assignments is not None:
                tables["assignments"].commit(assignments, summary)
                assignments = tables["assignments"].read()
            if state_delta is not None:
                tables["seen_sketch"].commit_append(state_delta, summary)
                if seen_svc is not None and r % compact_every == 0:
                    # Lazy maintenance: merge each bucket's segments into
                    # one (full rewrite, amortized O(total/K) per round),
                    # re-landing in the bucketed layout.
                    tables["seen_sketch"].commit(
                        seen_svc.compact(tables["seen_sketch"].read()),
                        {"round": r, "stage": "compacted"},
                    )
                # Next round reads the (possibly just-recompacted)
                # bucketed base + the small parquet deltas on top —
                # lazy, disk-backed, and SPLIT so admit can keep the
                # base's bytes out of every exchange in any mode.
                seen_base = tables["seen_sketch"].read_base()
                seen_deltas = tables["seen_sketch"].read_deltas()
            state.frontier = tables["frontier"].read()
            state.results = tables["results"].read()
            state.fetch_log = tables["fetch_log"].read()
            state.decision_log = tables["decision_log"].read()
            state.metrics.append(summary)
            if seen_mode_auto:
                # Estimator updates, all commit-manifest-derived (zero
                # extra jobs): this round's candidate volume is the
                # decision-log append's recorded row count, and
                # admitted <= candidates bounds state growth from above
                # (overestimating only flips to scan earlier — the safe
                # direction at scale).
                est_cand_rows = int(
                    tables["decision_log"].snapshots()[-1].get("added_rows") or 0
                )
                est_state_items += est_cand_rows
        else:
            # No checkpoint: pin each round's frontier to break lineage
            # growth.  This one eager action also materializes the
            # round's hits/links/admitted caches, which the lazy
            # results/fetch_log/decision_log DAGs keep reading — so
            # those caches live until the crawl ends (crawl_caches),
            # not until the round ends.  The snapshot-table path instead
            # rewrites state to disk and can drop caches per round.
            if _explain:
                print(f"==== round {r} settled-frontier plan ====")
                state.frontier.explain("formatted")
            spark.sparkContext.setJobDescription(f"round {r}: settle+admit frontier checkpoint")
            state.frontier = state.frontier.localCheckpoint(eager=True)
            if state_delta is not None:
                # Prior segments are untouched; the delta is backed by
                # the (now materialized) admitted cache — no extra
                # action needed to advance.
                from tripwire_spark.operators.seen import SeenState

                nxt = SeenState.advance(seen_base, state_delta)
            if r % compact_every == 0:
                # Bound plan growth of the per-round union chains (seen
                # segments, clicked ck state, results/log DAGs): compact
                # + pin every K rounds, so an arbitrary max_rounds crawl
                # never accumulates an unbounded lineage.
                if nxt is not None and seen_svc is not None:
                    nxt = seen_svc.compact(nxt).localCheckpoint(eager=True)
                if clicked is not None:
                    clicked = clicked.localCheckpoint(eager=True)
                state.results = state.results.localCheckpoint(eager=True)
                state.fetch_log = state.fetch_log.localCheckpoint(eager=True)
                state.decision_log = state.decision_log.localCheckpoint(eager=True)
            # Emptiness probe AFTER the round's one materializing action:
            # reads the claimed cache (cheap) instead of forcing an extra
            # politeness evaluation up front.  A drained frontier costs
            # one no-op round instead of a per-round pre-check.  When an
            # auto mode wants the claimed count, take count() INSTEAD of
            # isEmpty() — still exactly one job on the cached frame, and
            # the number feeds next round's strategy picks (no dedicated
            # count jobs; round-4 ADVICE / VERDICT ask #4).
            if fetch_join == "auto" or seen_mode_auto:
                n_claimed = claimed.count()
                prev_claimed = n_claimed
                if seen_mode_auto:
                    est_cand_rows = n_claimed * est_links_per_page
                    est_state_items += est_cand_rows
                drained = n_claimed == 0
            else:
                drained = claimed.isEmpty()
            if drained:
                claimed.unpersist()
                # the lazy results/log DAGs still reference this round's
                # caches — hand them to CrawlState.release(), don't leak
                crawl_caches.extend(round_caches)
                state.rounds_run = r - 1
                break

        if backpressure:
            # T8: gate next round's claim budget on this round's health
            # (counts read the round's caches — no recompute).
            n_cl = claimed.count()
            n_ok = parsed.count()
            miss = 0.0 if n_cl == 0 else 1.0 - (n_ok / n_cl)
            budget_cap = (
                max(1, default_budget // 2) if miss > backpressure_miss_rate else None
            )
            state.metrics.append(
                {"round": r, "claimed": n_cl, "fetched": n_ok,
                 "miss_rate": round(miss, 4), "budget_cap_next": budget_cap}
            )

        claimed.unpersist()
        d2_nonempty = True  # later rounds may claim ck-bearing discoveries
        if nxt is not None:
            seen_base = nxt  # no-checkpoint path; tables path updated at commit
        if tables:
            for c in round_caches:
                c.unpersist()
        else:
            crawl_caches.extend(round_caches)

    spark.sparkContext.setJobDescription(None)
    state.assignments = assignments
    state.caches = crawl_caches
    return state
