"""Integer-exact PageRank (operators/graph.py)."""

import pyspark.sql.functions as F

from tripwire_spark.operators.graph import UNIT, page_rank


def _edges(spark):
    # a -> b, c -> b, b -> a : b has in-degree 2, c dangles (no inlinks)
    return spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("b", "a")], "src string, dst string"
    )


def test_one_iteration_hand_traced(spark):
    r = {x.node: x.rank_micro for x in page_rank(_edges(spark), iterations=1).collect()}
    r0 = UNIT // 3  # 333_333_333_333
    base = UNIT * 15 // 100 // 3  # 50_000_000_000
    assert r["b"] == base + 85 * (2 * r0) // 100
    assert r["a"] == base + 85 * r0 // 100
    assert r["c"] == base  # no in-edges: teleport mass only


def test_rank_order_and_mass_conservation(spark):
    out = page_rank(_edges(spark), iterations=3).collect()
    r = {x.node: x.rank_micro for x in out}
    assert r["b"] > r["a"] > r["c"]
    # floor division only LEAKS mass: total <= UNIT, but close to it
    assert 0.9 * UNIT < sum(r.values()) <= UNIT


def test_deterministic_across_partitionings(spark):
    e = _edges(spark)
    big = spark.createDataFrame(
        [(f"h{i % 17}", f"h{(i * 7) % 17}") for i in range(200)], "src string, dst string"
    )
    for edges in (e, big):
        a = page_rank(edges.repartition(1), iterations=4).collect()
        b = page_rank(edges.repartition(9), iterations=4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_duplicate_edges_are_unweighted(spark):
    dup = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("c", "b"), ("b", "a")], "src string, dst string"
    )
    a = {x.node: x.rank_micro for x in page_rank(_edges(spark), iterations=2).collect()}
    b = {x.node: x.rank_micro for x in page_rank(dup, iterations=2).collect()}
    assert a == b


def test_host_rank_weights_drive_claim_order(spark):
    """page_rank output becomes the within-round claim priority: the
    high-authority host is claimed before the rest under a tight budget."""
    from tripwire_spark.operators.frontier import build_frontier, politeness_schedule
    from tripwire_spark.operators.graph import host_rank_weights

    seeds = spark.createDataFrame(
        [(i + 1, f"http://site{i}.test/", i) for i in range(4)],
        "alexa int, url string, file_order long",
    )
    fr = build_frontier(seeds, [])
    ranks = spark.createDataFrame(
        [("site2.test", 900_000_000_000), ("site0.test", 100_000_000_000)],
        "node string, rank_micro long",
    )
    weighted = host_rank_weights(fr, ranks)
    w = {r.host: r.weight for r in weighted.collect()}
    assert w["site2.test"] == 0.9 and w["site0.test"] == 0.1
    assert w["site1.test"] is None  # unranked host keeps NULL weight
    rows = politeness_schedule(weighted, default_budget=1).orderBy("host").collect()
    assert {r.status for r in rows} == {"running"}
    # every host still gets its politeness slot; ordering is per-round
    # claim priority which claim_order pins (weight desc nulls last)
    assert {r.host for r in rows} == {f"site{i}.test" for i in range(4)}


def test_anchor_text_profile_canonicalizes_each_link_once(spark):
    """The profile's plan evaluates the link canonicalizer once per link:
    one ArrowEvalPython node for it, none copied into the NULL filter.
    The shared ``resolve_canonicalize`` the crawl uses stays
    deterministic."""
    from tripwire_spark.functions.urls import resolve_canonicalize
    from tripwire_spark.operators.graph import anchor_text_profile
    from tripwire_spark.sources.synth import synth_pages

    def udf_nodes(plan):
        if plan.nodeName() == "AdaptiveSparkPlan":
            return udf_nodes(plan.executedPlan())
        names = []
        if plan.nodeName() == "ArrowEvalPython":
            udfs = plan.udfs()
            names += [udfs.apply(i).name() for i in range(udfs.size())]
        children = plan.children()
        for i in range(children.size()):
            names += udf_nodes(children.apply(i))
        return names

    out = anchor_text_profile(synth_pages(spark, 40, 8, 3))
    names = udf_nodes(out._jdf.queryExecution().executedPlan())
    assert names.count("resolve_canonicalize") == 1, names
    assert names.count("extract_links") == 1, names
    assert resolve_canonicalize.deterministic
    assert out.count() > 0


def test_checkpoint_every_bounds_lineage(spark):
    # 12 iterations with checkpointing every 4: completes and stays exact
    e = _edges(spark)
    got = {
        x.node: x.rank_micro
        for x in page_rank(e, iterations=12, checkpoint_every=4).collect()
    }
    ref = {
        x.node: x.rank_micro
        for x in page_rank(e, iterations=12, checkpoint_every=100).collect()
    }
    assert got == ref


def test_anchor_text_profile(spark):
    from tripwire_spark.operators.graph import anchor_text_profile

    wrap = "<html><body>{}</body></html>".format
    pages = spark.createDataFrame(
        [
            ("http://a.test/", wrap('<a href="/x">Sign up</a><a href="http://b.test/y">More</a>')),
            ("http://c.test/", wrap('<a href="http://a.test/x">Sign up</a><a href="http://a.test/x">Join now</a>')),
            ("http://d.test/", wrap('<a href="http://a.test/x">Sign up</a>')),
        ],
        "url string, html string",
    )
    out = anchor_text_profile(pages, k=2).collect()
    by_target = {}
    for r in out:
        by_target.setdefault(r.target, []).append(r)
    ax = sorted(by_target["http://a.test/x"], key=lambda r: r.rnk)
    # relative href resolved against the page url; counts aggregated
    # across source pages; ties after the top text broken by text asc
    assert [(r.text, r.n, r.n_inlinks) for r in ax] == [("Sign up", 3, 4), ("Join now", 1, 4)]
    assert by_target["http://b.test/y"][0].text == "More"
