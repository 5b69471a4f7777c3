"""Frontier state machine: seed ingestion, politeness scheduling,
salted repartitioning, status transitions.

Reference parity:
- Frontier = the ``queues`` table (schema.sql:1924-1938); status
  lifecycle queued/running/completed/failed/disabled
  (runners/common_queries.py:44-108).
- Seed ingestion = queue_sites (runners/queue_sites:89-141): blacklist
  filter (F1), domain interning/dedup (D4), decision log (S9).
- Claim order = ascending qid FIFO within a queue
  (common_queries.py:46-51 ``ORDER BY qid ASC LIMIT 1 FOR UPDATE``);
  ``FOR UPDATE`` locking is replaced by a deterministic rank-based
  schedule (Spark owns the whole frontier per round).
- Retry policy = try+1 requeue up to RETRY_MAX, claim filter
  try < MAX_TRIES (run_queue_nowrap:23,80,641-649).

Scale design: the politeness window partitions by host (high
cardinality — no skew blowup); the fetch join is pre-repartitioned by a
**salted host hash** so one mega-host cannot pin a single task
(SURVEY.md §4 custom work #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tripwire_spark.functions.urls import canonicalize_url, reg_domain, url_hash, url_host, url_path

MAX_TRIES = 5  # run_queue_nowrap:23
RETRY_MAX = 1  # run_queue_nowrap:80
DEFAULT_BUDGET = 3

ST_QUEUED = "queued"
ST_RUNNING = "running"
ST_COMPLETED = "completed"
ST_FAILED = "failed"
ST_DISABLED = "disabled"

FRONTIER_COLS = [
    "qid", "url", "url_hash", "host", "alexa", "try", "status", "queue", "vid",
    "round_added", "weight", "ck",
]
# ``ck`` = xxhash64(parent reg-domain, anchor text) of the link that
# discovered the row (NULL for seeds).  The D2 clicked-text state is
# derived from it: the ck of every row ever claimed (``settle`` leaves a
# claimed row completed or with try > 0).  The reference marks
# links_clicked only on an actual click (pagefinder.js:277-279), so an
# admitted-but-never-claimed link must NOT suppress same-text candidates.

# The frontier's claim-priority key (W2 / O1): FIFO across rounds
# (seeds of round 0 first), best-scoring links first within a round
# (pagefinder.js:122 — click the best link first), qid as the final
# deterministic tiebreak.  Seeds carry NULL weight; desc_nulls_last
# keeps round-0 ordering purely by qid (= seed file order).
def claim_order():
    return [F.col("round_added").asc(), F.col("weight").desc_nulls_last(), F.col("qid").asc()]


def blacklist_regex(patterns: list[str]) -> str:
    """Single alternation — one Catalyst-pushable rlike (F1).

    An empty pattern list must block NOTHING: ``()`` would match every
    URL and silently empty the frontier, so emit a never-matching
    alternation instead.
    """
    if not patterns:
        return r"(?!)"  # negative lookahead of nothing: matches no string
    return "(?i)(" + "|".join(patterns) + ")"


def seed_decision_log(seeds: DataFrame, patterns: list[str]) -> DataFrame:
    """S9: why each seed line was queued/skipped (queue_decision_log,
    schema.sql:2042-2055; inserts at queue_sites:122-135).

    The one canonicalized seed frame: every seed line with its canonical
    url ``curl`` and its ``decision``; the seeded frontier is its
    ``queued`` rows (``seeded_frontier``).  As in queue_sites the
    blacklist is checked first (:112-113), then the dedup (:117-127): a
    line is a duplicate only of an EARLIER valid, non-blacklisted line
    with the same canonical url, so "queued" is exactly the set of
    frontier rows.  Each seed url is canonicalized once (the Python UDF
    sits under the window, never under a filter Catalyst could copy it
    into)."""
    blocked = F.col("url").rlike(blacklist_regex(patterns))
    canon = seeds.withColumn("curl", canonicalize_url("url")).withColumn("__bl", blocked)
    w = Window.partitionBy("__bl", "curl").orderBy("file_order")
    return canon.withColumn("__rn", F.row_number().over(w)).select(
        *seeds.columns,
        "curl",
        F.when(F.col("__bl"), F.lit("skipped-blacklist"))
        .when(F.col("curl").isNull(), F.lit("skipped-invalid"))
        .when(F.col("__rn") > 1, F.lit("skipped-duplicate"))
        .otherwise(F.lit("queued"))
        .alias("decision"),
    )


def seeded_frontier(seed_log: DataFrame, vid: int = 1, queue: str = "default") -> DataFrame:
    """Frontier rows of a ``seed_decision_log`` frame: its queued lines.

    qid = seed ``file_order`` — sparse but monotone in file order, which
    preserves the reference's serial-insert FIFO *order relation*
    without a global row_number (scales to 10^10 seeds).
    Duplicate canonical URLs keep the first occurrence (min file_order),
    matching insert-then-skip semantics.  A queued line's ``curl`` is
    never NULL (xxhash64(NULL) = seed: never hash nulls).
    """
    return seed_log.filter(F.col("decision") == "queued").select(
        F.col("file_order").alias("qid"),
        F.col("curl").alias("url"),
        url_hash("curl").alias("url_hash"),
        reg_domain(url_host("curl")).alias("host"),
        F.col("alexa").cast("int").alias("alexa"),
        F.lit(0).alias("try"),
        F.lit(ST_QUEUED).alias("status"),
        F.lit(queue).alias("queue"),
        F.lit(vid).alias("vid"),
        F.lit(0).alias("round_added"),
        F.lit(None).cast("double").alias("weight"),
        F.lit(None).cast("long").alias("ck"),
    )


def build_frontier(seeds: DataFrame, patterns: list[str], vid: int = 1, queue: str = "default") -> DataFrame:
    """Seed CSV -> frontier rows (queue_sites:89-141 replayed as one
    job): ``seeded_frontier(seed_decision_log(seeds, patterns))``.
    ``run_crawl`` persists the decision frame once and commits both the
    frontier and the decision log from it."""
    return seeded_frontier(seed_decision_log(seeds, patterns), vid=vid, queue=queue)


def politeness_schedule(
    frontier: DataFrame,
    robots: DataFrame | None = None,
    default_budget: int = DEFAULT_BUDGET,
    round_no: int = 1,
    salt_buckets: int = 16,
    budget_cap: int | None = None,
) -> DataFrame:
    """Claim this round's jobs and gate them on robots in one pass: per-host
    FIFO rank under the politeness budget (W2: rank by qid within host;
    common_queries.py:42-56).

    Skew design (the salted host-hash strategy of SURVEY.md §4 #2): a
    mega-host with 10^7 pending URLs must not pin one window partition.
    Top-B per host is computed in two phases —

    1. rank within (host, blocked, salt) where salt = xxhash64(url) % S:
       each hot host fans out over S partitions; keep rank <= budget per
       salt (the global per-host top-B is a subset of the union of
       per-salt top-Bs, so phase 1 loses nothing);
    2. exact rank over (host) on the <= S*B survivors per host.

    Returns one frame of FRONTIER_COLS: claimed rows ``running``,
    robots-blocked rows ``disabled`` (one status pass, as the reference
    makes over ``queues``).  A blocked row takes no budget rank and stays
    salted in phase 2, so 10^7 disallowed URLs of one host spread too.
    ``robots`` is broadcast — a per-host dimension table, tiny next to
    the frontier — and read once.
    """
    claimable = frontier.filter((F.col("status") == ST_QUEUED) & (F.col("try") < MAX_TRIES))
    budget = F.lit(default_budget)
    blocked = F.lit(False)
    if robots is not None:
        claimable = claimable.join(F.broadcast(robots), "host", "left")
        path = url_path(F.col("url"))
        blocked = F.exists(
            F.coalesce(F.col("disallow_prefixes"), F.array().cast("array<string>")),
            lambda p: path.startswith(p),
        )
        budget = F.coalesce(F.col("crawl_budget"), budget)
    if budget_cap is not None:
        # T8 backpressure: an unhealthy previous round caps every host's
        # budget this round (run_queue_nowrap:219-231 gate analog).
        budget = F.least(budget, F.lit(budget_cap))
    salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
    salted = claimable.withColumn("__blocked", blocked).withColumn("__salt", salt)
    w1 = Window.partitionBy("queue", "host", "__blocked", "__salt").orderBy(*claim_order())
    survivors = salted.withColumn("__rn1", F.row_number().over(w1)).filter(
        F.col("__blocked") | (F.col("__rn1") <= budget)
    )
    w2 = Window.partitionBy("queue", "host", F.when(F.col("__blocked"), F.col("__salt")))
    return (
        survivors.withColumn("__rank", F.row_number().over(w2.orderBy(*claim_order())))
        .filter(F.col("__blocked") | (F.col("__rank") <= budget))
        .withColumn("status", F.when(F.col("__blocked"), ST_DISABLED).otherwise(ST_RUNNING))
        .select(*FRONTIER_COLS)
    )


def settle(
    frontier: DataFrame,
    outcomes: DataFrame,
    new_urls: DataFrame | None = None,
) -> DataFrame:
    """Apply one round's status transitions (T2 exit-code policy,
    run_queue_nowrap:49-80,641-649) — the batch MERGE INTO, one join:

    - found           -> completed
    - miss & try<RETRY_MAX -> queued, try+1   (requeue)
    - miss & try>=RETRY_MAX -> failed
    - robots-blocked  -> disabled
    plus appended newly-discovered queued rows.

    ``outcomes`` (qid, round_added, try, found): ``found`` is true or
    false for a claimed row, NULL for a robots-disabled one.
    """
    # The frontier's unique key is the COMPOUND (qid, round_added): a
    # seed's qid (file_order) may numerically equal a discovery's qid
    # (url_hash), but never within the same round_added.
    outcome = outcomes.select(
        "qid",
        "round_added",
        F.when(F.col("found").isNull(), F.lit(ST_DISABLED))
        .when(F.col("found"), F.lit(ST_COMPLETED))
        .when(F.col("try") < RETRY_MAX, F.lit(ST_QUEUED))
        .otherwise(F.lit(ST_FAILED))
        .alias("__new_status"),
        F.when(~F.col("found"), F.lit(1)).otherwise(F.lit(0)).alias("__try_inc"),
    )
    merged = frontier.join(outcome, ["qid", "round_added"], "left").select(
        "qid",
        "url",
        "url_hash",
        "host",
        "alexa",
        (F.col("try") + F.coalesce(F.col("__try_inc"), F.lit(0))).alias("try"),
        F.coalesce(F.col("__new_status"), F.col("status")).alias("status"),
        "queue",
        "vid",
        "round_added",
        "weight",
        "ck",
    )
    if new_urls is not None:
        merged = merged.unionByName(new_urls.select(*FRONTIER_COLS))
    return merged


# --- dynamic URL-trap detection --------------------------------------------


def url_shape(url: Column) -> Column:
    """Structural shape of a URL for trap detection: the path with long
    hex runs collapsed to 'H' and digit runs to 'N', plus the SORTED
    query parameter NAMES (values dropped) — calendar pages, session
    ids, and faceted-search explosions all collapse to one shape while
    legitimately distinct pages keep distinct shapes.

    Complements the static reference blacklist (F1,
    deployed/url_pattern_blacklist): that kills KNOWN trap patterns;
    this detects a host's own explosion dynamically.  regexp-only
    extraction (no parse_url) so the ANSI-SQL twin is exact.
    """
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    pshape = F.regexp_replace(
        F.regexp_replace(path, r"[0-9a-f]{8,}", "H"), r"[0-9]+", "N"
    )
    params = F.when(
        query != "",
        F.concat_ws(
            ",",
            F.array_sort(
                F.transform(F.split(query, "&"), lambda kv: F.split(kv, "=")[0])
            ),
        ),
    ).otherwise(F.lit(""))
    return F.concat(pshape, F.lit("?"), params)


def _trap_host(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://([^/?#]+)", 1))


def detect_url_traps(urls: DataFrame, url_col: str = "url", limit: int = 200) -> DataFrame:
    """Per-(host, shape) URL counts with trap verdicts: a shape holding
    more than ``limit`` URLs on one host is a crawl trap.  One
    partial-agg groupBy over (host, shape) — shapes are short strings,
    bodies never move; at 100 TB this is a scan-side projection plus a
    count shuffle of ~100 B/row."""
    u = F.col(url_col)
    return (
        urls.select(_trap_host(u).alias("host"), url_shape(u).alias("shape"))
        .groupBy("host", "shape")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .withColumn("is_trap", F.col("n_urls") > limit)
    )


def filter_url_traps(
    urls: DataFrame, url_col: str = "url", limit: int = 200, keep: int = 5
) -> DataFrame:
    """Drop trap URLs before they enter the frontier: shapes over
    ``limit`` per host are trimmed to their first ``keep`` URLs (url
    ascending — deterministic across cluster sizes); everything else
    passes untouched.  One window over (host, shape) — same skew
    posture as politeness ranking: a shape is at most one host's
    explosion, and the window ships only (host, shape, url)."""
    from pyspark.sql import Window

    u = F.col(url_col)
    w = Window.partitionBy("__th", "__ts")
    flagged = (
        urls.withColumn("__th", _trap_host(u))
        .withColumn("__ts", url_shape(u))
        .withColumn("__rn", F.row_number().over(w.orderBy(u)))
        .withColumn("__n", F.count(F.lit(1)).over(w))
    )
    return (
        flagged.filter((F.col("__n") <= limit) | (F.col("__rn") <= keep))
        .drop("__th", "__ts", "__rn", "__n")
    )


def recrawl_schedule(
    captures: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts_us",
    digest_col: str = "digest",
) -> DataFrame:
    """Freshness-driven re-crawl prioritization from a capture history
    (the CDX index shape: url, capture time, content digest).

    Estimates each URL's change rate from consecutive digest
    transitions (the Cho & Garcia-Molina page-freshness estimator:
    changes / observation intervals) and prioritizes by expected missed
    changes = change_rate x time-since-last-capture.  Output per url:
    (url, n_captures, n_changes, change_rate6, staleness_us, priority)
    where change_rate6 is 6-dp micro-units (bigint), staleness is
    micros against the table's max capture time, and priority =
    change_rate6 * staleness_us — an exact int64 product, so the
    ranking is byte-stable on any engine or cluster size.

    Plan: the lag window and the per-url aggregate share the
    partitioning key (ONE url-keyed exchange — the groupBy reuses the
    window's shuffle); "now" is a 1-row broadcast, never a driver
    action.  A never-seen-changed URL gets rate 0 and sorts by its
    tiebreak (url asc) — re-seeding cold URLs is the frontier's job,
    not this estimator's.
    """
    w = Window.partitionBy(url_col).orderBy(ts_col)
    prev = F.lag(digest_col).over(w)
    d = captures.select(url_col, ts_col, digest_col).withColumn(
        "__chg", (prev.isNotNull() & (F.col(digest_col) != prev)).cast("int")
    )
    per = d.groupBy(url_col).agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.sum("__chg").cast("bigint").alias("n_changes"),
        F.max(ts_col).alias("__last"),
    )
    # "now" from the RAW table, not from `per`: Spark does not
    # materialize shared subplans, so hanging a second consumer off
    # `per` re-executes its scan + url shuffle (verified in the final
    # adaptive plan — no ReusedExchange).  A ts-only scan with a
    # map-side max is one pruned column and no shuffle.
    now = captures.agg(F.max(F.col(ts_col)).alias("__now"))
    rate6 = F.when(
        F.col("n_captures") > 1,
        F.round(
            F.col("n_changes") * 1000000.0 / (F.col("n_captures") - 1), 0
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        per.crossJoin(F.broadcast(now))
        .select(
            url_col,
            "n_captures",
            "n_changes",
            rate6.alias("change_rate6"),
            (F.col("__now") - F.col("__last")).cast("bigint").alias("staleness_us"),
        )
        # rate is micro-units (<= 1e6) and staleness is truncated to
        # SECONDS for the product: 1e6 * 3e9 s (a century) ~ 3e15 stays
        # far inside int64 — micros x rate6 would wrap negative after
        # ~107 days of staleness and invert the ranking
        .withColumn(
            "priority",
            F.col("change_rate6") * F.floor(F.col("staleness_us") / 1_000_000).cast("bigint"),
        )
        .orderBy(F.col("priority").desc(), url_col)
    )


def tracking_params(
    captures: DataFrame,
    url_col: str = "url",
    digest_col: str = "digest",
    min_groups: int = 1,
) -> DataFrame:
    """Mine content-irrelevant query parameters from capture history —
    the URL-canonicalization learning loop search engines run over
    their own crawls: a parameter whose value varies while the page
    digest stays fixed (with every OTHER parameter held constant) is a
    tracking/session parameter the canonicalizer should strip.

    Evidence unit: a (host, path, other-params) context in which one
    parameter took >= 2 distinct values.  If the digest was constant in
    every such context seen for (host, param) — and at least
    ``min_groups`` contexts exist — the parameter is content-irrelevant
    on that host.  One param changing the page in ANY context clears it.

    Complements ``detect_url_traps``: the trap detector caps shape
    explosions defensively; this one LEARNS which parameters cause
    them and feeds ``strip_params`` so the frontier stops minting the
    duplicates at all (ref analog: the static F1 blacklist's
    ``sid=``-style patterns, deployed/url_pattern_blacklist — learned
    here instead of hand-listed).

    Scale shape: regexp-only parsing rides the scan; the explode emits
    one short row per (url, param) — digests are 16 bytes, bodies never
    move; two partial-agg groupBys, both keyed by short strings.
    Output: (host, param, n_contexts, invariant_contexts, is_tracking).
    """
    u = F.col(url_col)
    parts = captures.select(
        _trap_host(u).alias("host"),
        F.regexp_extract(u, r"^[a-z][a-z0-9+.\-]*://[^/?#]+([^?#]*)", 1).alias("path"),
        F.regexp_extract(u, r"\?([^#]*)", 1).alias("query"),
        F.col(digest_col).alias("digest"),
    ).filter(F.col("query") != "")
    kvs = parts.withColumn("__kvs", F.split(F.col("query"), "&"))
    ex = kvs.select(
        "host",
        "path",
        "digest",
        "__kvs",
        F.posexplode("__kvs").alias("__i", "__kv"),
    )
    # context = every OTHER kv pair, order-normalized; duplicates of the
    # same name are distinct pairs, so removing by POSITION keeps the
    # context exact even for repeated params
    others = F.array_join(
        F.array_sort(
            F.concat(
                F.slice(F.col("__kvs"), 1, F.col("__i")),
                F.slice(
                    F.col("__kvs"),
                    F.col("__i") + 2,
                    F.size("__kvs") - F.col("__i") - 1,
                ),
            )
        ),
        "&",
    )
    inst = ex.select(
        "host",
        "path",
        F.split(F.col("__kv"), "=")[0].alias("param"),
        F.regexp_extract(F.col("__kv"), "=(.*)$", 1).alias("val"),
        "digest",
        others.alias("ctx"),
    )
    ctxs = inst.groupBy("host", "path", "ctx", "param").agg(
        F.countDistinct("val").alias("__nv"),
        F.countDistinct("digest").alias("__nd"),
    )
    varied = ctxs.filter(F.col("__nv") >= 2)
    per_param = varied.groupBy("host", "param").agg(
        F.count(F.lit(1)).cast("long").alias("n_contexts"),
        F.sum(F.when(F.col("__nd") == 1, 1).otherwise(0))
        .cast("long")
        .alias("invariant_contexts"),
    )
    return per_param.withColumn(
        "is_tracking",
        (F.col("invariant_contexts") == F.col("n_contexts"))
        & (F.col("n_contexts") >= min_groups),
    )


def strip_params(
    urls: DataFrame,
    tracking: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Rewrite URLs with their host's learned tracking parameters
    removed (feed ``tracking_params`` output filtered to
    ``is_tracking``).  Remaining parameters keep their original order —
    order normalization is ``canonicalize_url``'s job; run this first.

    Plan: the per-host param list collapses to one short array row per
    host (collect_set over the mined table — already tiny) and
    broadcast-joins the URL side; the rewrite is a filter over the
    split query array.  The 100 TB url side never shuffles.
    """
    u = F.col(url_col)
    # rename the dim key before joining: .drop("host") after a join
    # would drop EVERY host column, including one the caller's url
    # frame legitimately carries (frontier tables all do)
    per_host = tracking.groupBy("host").agg(
        F.collect_set("param").alias("__strip")
    ).select(F.col("host").alias("__sp_host"), "__strip")
    d = urls.withColumn("__h", _trap_host(u)).join(
        F.broadcast(per_host),
        F.col("__h") == F.col("__sp_host"),
        "left",
    ).drop("__sp_host")
    base = F.regexp_extract(u, r"^([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    frag = F.regexp_extract(u, r"(#.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda kv: ~F.array_contains(F.col("__strip"), F.split(kv, "=")[0]),
    )
    rebuilt = F.when(
        F.col("__strip").isNull() | (query == ""), u
    ).otherwise(
        F.concat(
            base,
            F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
                F.lit("")
            ),
            frag,
        )
    )
    return d.withColumn(url_col, rebuilt).drop("__h", "__strip")


def scorecard_budgets(
    scorecard: DataFrame,
    group_col: str = "source",
    default_budget: int = DEFAULT_BUDGET,
    floor_budget: int = 1,
) -> DataFrame:
    """Close the curation->crawl feedback loop: turn the per-domain
    ``textstats.domain_scorecard`` into next round's politeness budgets
    — a domain keeping keep_rate of its docs through the curation gates
    earns round(default * keep_rate) fetch slots, never below
    ``floor_budget`` (every domain keeps a probe budget so a recovered
    site can climb back).  An SEO farm whose keep_rate collapses stops
    consuming crawl capacity the very next round.

    Output is a valid ``politeness_schedule`` robots dim: (host,
    crawl_budget, disallow_prefixes=[]); merge with real robots rules by
    joining on host and keeping the least budget.  Integer micro-unit
    arithmetic end-to-end — budgets are byte-stable across engines.
    """
    # half-up INTEGER arithmetic (keep_rate6 >= 0), no double rounding:
    # the byte-stability claim holds by construction, engine-independent
    b = F.greatest(
        F.lit(floor_budget),
        F.expr(f"cast(({default_budget} * keep_rate6 + 500000) div 1000000 as int)"),
    )
    return scorecard.select(
        F.col(group_col).alias("host"),
        b.alias("crawl_budget"),
        F.array().cast("array<string>").alias("disallow_prefixes"),
    )
