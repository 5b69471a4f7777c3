"""Host-graph analytics: integer-exact PageRank for frontier
prioritization.

A production crawler ranks hosts by link authority when deciding how
much politeness budget each gets (the reference ranks by Alexa position
— ``alexa.src``, ``queue_sites``'s seed ordering; PageRank over the
crawl's OWN host graph is the self-contained generalization once a few
rounds of links exist).  This module computes it as a fixed-iteration
DataFrame loop — the classic iterative-Spark shape.

Determinism contract (the reason for the integer arithmetic): PageRank
is normally a float fixpoint, and float SUMs depend on accumulation
order, which differs across engines, partitionings, and cluster sizes.
Here ALL mass lives in int64 micro-units (UNIT = 1e12 = one full rank
point) and every step is integer division/multiplication:

    r0(v)   = UNIT div N
    c_i(v)  = sum over in-edges (u,v) of  r_i(u) div outdeg(u)
    r_i+1(v)= (UNIT * (100-D)) div 100 div N  +  (D * c_i(v)) div 100

with D = damping percent (85).  Floor-division loses <= outdeg(u)
micro-units per node per step (leaked, like dangling mass — documented
deviation from textbook PageRank, where both are redistributed), and in
exchange the result is bit-identical everywhere: the DuckDB oracle twin
hash-matches exactly, and a 1000-executor run reproduces the laptop
byte-for-byte.

Scale shape: per iteration one join of edges against the (node, rank)
table on src and one partial-agg groupBy on dst — both shuffles keyed
by node, so co-partitioning is reused across iterations by AQE; ranks
are 2 longs/node; ``checkpoint_every`` truncates the growing loop
lineage the same way the crawl loop does.  No driver collect anywhere;
N is a 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UNIT = 10**12


def page_rank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Rank nodes of a directed graph; returns (node, rank_micro) with
    rank_micro summing to <= UNIT (floor-division leakage).  Edges are
    deduplicated (unweighted semantics)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    nodes = (
        e.select(F.col("s").alias("node")).union(e.select(F.col("d").alias("node"))).distinct()
    )
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    n1 = nodes.select(F.count(F.lit(1)).alias("n"))
    base = nodes.crossJoin(F.broadcast(n1))
    ranks = base.selectExpr("node", f"CAST({UNIT} AS BIGINT) div n AS r")
    for i in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "s"), "s")
            .join(outdeg, "s")
            .selectExpr("d AS node", "r div od AS c")
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = base.join(contrib, "node", "left").selectExpr(
            "node",
            f"CAST({UNIT} AS BIGINT) * {100 - damping_pct} div 100 div n"
            f" + {damping_pct} * coalesce(c, CAST(0 AS BIGINT)) div 100 AS r",
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("r").alias("rank_micro"))


def host_rank_weights(
    frontier: DataFrame, ranks: DataFrame, use_broadcast: bool = True
) -> DataFrame:
    """Set the frontier's claim weight from host authority.

    ``ranks`` is ``page_rank`` output with node = registrable host; the
    rank becomes the claim weight (``frontier.claim_order`` sorts
    weight DESC within a round, so high-authority hosts are fetched
    first), and hosts without a rank keep their existing weight (NULL
    sorts last).  The rank side is 2 longs/host: broadcastable to
    ~10^7 hosts (``use_broadcast=True``, the dimension-join default);
    beyond that pass False and it is a plain shuffle join on host.
    """
    r = ranks.select(
        F.col("node").alias("host"), (F.col("rank_micro") / 1.0e12).alias("__w")
    )
    if use_broadcast:
        r = F.broadcast(r)
    return (
        frontier.join(r, "host", "left")
        .withColumn("weight", F.coalesce(F.col("__w"), F.col("weight")))
        .drop("__w")
    )


def anchor_text_profile(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    k: int = 3,
) -> DataFrame:
    """Per-target anchor-text corpus: what the web CALLS each URL.

    Aggregated inbound anchor text is a classic relevance/training
    signal (it describes the target, not the source — the public
    anchor-text corpora built from Common Crawl are exactly this
    table).  Output per target: (target, rnk, text, n, n_inlinks) —
    the top-``k`` anchor texts by inbound count (ties: text asc) plus
    the target's total in-link count.

    Plan: links are extracted ONCE per page (same single-parse
    discipline as the crawl); hrefs resolve/canonicalize against the
    page url scan-side, once per link; then one partial-agg groupBy
    (target, text) — Zipf-skewed texts collapse map-side — and a
    per-target window over the already-aggregated (distinct-text-sized)
    rows.  Page html never
    enters a shuffle; the exchanged rows are (url, text, long).
    """
    from pyspark.sql import Window
    from pyspark.sql.types import StringType

    from tripwire_spark.functions.html import extract_links
    from tripwire_spark.functions.urls import resolve_canonicalize

    # The NULL filter below would be pushed under the projection with a
    # deterministic UDF copied into it (two canonicalizer passes per
    # link).  A nondeterministic twin stays in the projection; the shared
    # resolve_canonicalize, which the crawl plans use, stays deterministic.
    canonicalize_once = F.pandas_udf(resolve_canonicalize.func, StringType()).asNondeterministic()
    links = pages.select(
        F.col(url_col), F.explode(extract_links(F.col(html_col))).alias("l")
    )
    per = (
        links.select(
            canonicalize_once(url_col, F.col("l.href")).alias("target"),
            F.col("l.text").alias("text"),
        )
        # javascript:/malformed hrefs canonicalize to NULL — drop them
        # before the groupBy or they pool into a bogus NULL profile
        .filter(F.col("target").isNotNull())
        .groupBy("target", "text")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("target")
    wr = Window.partitionBy("target").orderBy(F.col("n").desc(), "text")
    return (
        per.withColumn("n_inlinks", F.sum("n").over(wt).cast("long"))
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("target", "rnk", "text", "n", "n_inlinks")
    )


def trust_rank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    iterations: int = 3,
    damping_pct: int = 85,
    checkpoint_every: int = 8,
) -> DataFrame:
    """TrustRank (Gyongyi et al., VLDB 2004): PageRank whose teleport
    mass flows ONLY to a hand-vetted trusted seed set, so authority
    must travel over real links from trusted hosts — link farms that
    manufacture PageRank out of their own teleport share get none.
    The crawl-side complement to the content-level SEO signals
    (domain_scorecard keep-rate, url traps).

        t0(v)     = UNIT div S          if v in seeds else 0
        t_i+1(v)  = [v in seeds] * (UNIT*(100-D)) div 100 div S
                    + D * sum_in(t_i(u) div outdeg(u)) div 100

    Same integer micro-unit discipline as ``page_rank`` (bit-identical
    on any engine or cluster size; floor-division leakage documented
    there).  ``seeds`` is one column of trusted nodes — a dimension
    table, broadcast; per iteration the same edges-join + partial-agg
    groupBy as page_rank.  Returns (node, trust_micro)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    nodes = (
        e.select(F.col("s").alias("node")).union(e.select(F.col("d").alias("node"))).distinct()
    )
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    # seeds absent from the graph are dropped BEFORE counting ns: they
    # can neither hold nor propagate mass, and counting them would
    # silently dilute every present seed's teleport share (total
    # injected trust must be UNIT regardless of how many vetted hosts
    # have been crawled yet)
    sd = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
    )
    if sd.isEmpty():
        raise ValueError(
            "trust_rank: no seed appears in the graph — an empty teleport "
            "set would make every trust score NULL/zero and spam_mass "
            "would flag the whole web as spam"
        )
    s1 = sd.select(F.count(F.lit(1)).alias("ns"))
    base = (
        nodes.join(F.broadcast(sd.withColumn("__seed", F.lit(1))), "node", "left")
        .crossJoin(F.broadcast(s1))
        .select("node", F.coalesce("__seed", F.lit(0)).alias("__seed"), "ns")
    )
    ranks = base.selectExpr(
        "node", f"__seed * (CAST({UNIT} AS BIGINT) div ns) AS r"
    )
    for i in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "s"), "s")
            .join(outdeg, "s")
            .selectExpr("d AS node", "r div od AS c")
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = base.join(contrib, "node", "left").selectExpr(
            "node",
            f"__seed * (CAST({UNIT} AS BIGINT) * {100 - damping_pct} div 100 div ns)"
            f" + {damping_pct} * coalesce(c, CAST(0 AS BIGINT)) div 100 AS r",
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("r").alias("trust_micro"))


def spam_mass(
    page_ranks: DataFrame, trust_ranks: DataFrame, use_broadcast: bool = True
) -> DataFrame:
    """Relative spam mass (Gyongyi et al. 2006): the share of a node's
    PageRank NOT backed by trust — mass6 = (pr - tr) / pr in 6-dp
    micro-units, clamped to [0, 1e6].  High spam mass + high rank =
    link farm; feed it to the frontier the same way as
    ``host_rank_weights`` (negated) or gate budgets on it.  One join of
    two (node, long) tables — broadcast by default; past ~10^7 nodes
    pass ``use_broadcast=False`` for a plain shuffle join (the same
    dial, threshold, and reasoning as ``host_rank_weights``)."""
    pr = page_ranks.select("node", "rank_micro")
    tr = trust_ranks.select("node", "trust_micro")
    if use_broadcast:
        tr = F.broadcast(tr)
    j = pr.join(tr, "node", "left").select(
        "node",
        "rank_micro",
        F.coalesce("trust_micro", F.lit(0)).alias("trust_micro"),
    )
    # all-integer, all-non-negative: clamp the diff BEFORE the integer
    # division so Spark's truncating `div` and ANSI floor-division agree
    # (they differ only on negatives), and no double ever rounds
    return j.withColumn(
        "spam_mass6",
        F.when(
            F.col("rank_micro") > 0,
            F.expr(
                "greatest(CAST(0 AS BIGINT), rank_micro - trust_micro)"
                " * 1000000 div rank_micro"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
