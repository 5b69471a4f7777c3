"""Tests of the crawl benchmark's generator, output check and trace.

    python3 -m pytest crawlbench/tests -q

(from the repository root; three to four minutes on two task slots).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from crawlbench import check, gen, run
from crawlbench.trace import Tracer, attribute, find_event_log, read_event_log

SPEC = gen.GenSpec(
    n_hosts=12, pages_max=40, pages_min=4, host_skew=1.0, words=20, para_words=10,
    links=8, anchor_vocab=50, same_host_share=0.6, link_skew=2.0,
    miss_share=0.1, blacklist_share=0.1, dup_share=0.1, seeds_per_host=2, budget=3,
    history=5_000, history_page_share=0.2,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _tables(spark, tmp_path, seed=7, partitions=gen.PARTITIONS):
    paths = gen.write_inputs(spark, SPEC, seed, str(tmp_path / f"inputs{partitions}"), partitions)
    return {k: spark.read.parquet(v) for k, v in paths.items()}


def test_page_rows_are_deterministic_per_seed():
    pools = gen._pools(SPEC, 3)
    a = [gen.page_row(SPEC, 3, h, p, pools) for h in range(4) for p in range(4)]
    b = [gen.page_row(SPEC, 3, h, p, gen._pools(SPEC, 3)) for h in range(4) for p in range(4)]
    c = [gen.page_row(SPEC, 4, h, p, gen._pools(SPEC, 4)) for h in range(4) for p in range(4)]
    assert a == b
    assert a != c


def test_generator_tables_are_deterministic_per_seed(spark):
    for make, again_kw in ((gen.pages, {"partitions": 3}), (gen.history, {"partitions": 3}),
                           (gen.seeds, {}), (gen.robots, {})):
        one = _rows(make(spark, SPEC, 5))
        again = _rows(make(spark, SPEC, 5, **again_kw))
        other = _rows(make(spark, SPEC, 6))
        assert one == again, make.__name__
        assert one != other, make.__name__
    pages = gen.pages(spark, SPEC, 5)
    assert pages.count() == sum(gen.host_pages(SPEC, h) for h in range(SPEC.n_hosts))


def test_resumed_crawl_digest_equals_uninterrupted(spark, tmp_path):
    t = _tables(spark, tmp_path)
    pat = gen.BLACKLIST_PATTERNS
    run.crawl(spark, t, pat, 1, tmp_path / "resumed", resume=False, preload=t["history"])
    resumed = run.crawl(spark, t, pat, 3, tmp_path / "resumed", resume=True)
    straight = run.crawl(spark, t, pat, 3, tmp_path / "straight", resume=False, preload=t["history"])
    assert resumed.rounds_run == straight.rounds_run == 3
    d = check.digest(resumed.frontier, resumed.results)
    assert d == check.digest(straight.frontier, straight.results)
    result = check.check(straight.frontier, straight.results, straight.fetch_log, t["pages"])
    assert result["failed"] == 0
    assert result["attempted"] > 0


def test_digest_is_independent_of_partitioning(spark, tmp_path):
    """Two crawls of one seed, with inputs and shuffles partitioned
    differently, agree on the digest."""
    pat = gen.BLACKLIST_PATTERNS
    t = _tables(spark, tmp_path)
    one = run.crawl(spark, t, pat, 2, tmp_path / "one", resume=False, preload=t["history"])
    d_one = check.digest(one.frontier, one.results)
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        t3 = _tables(spark, tmp_path, partitions=3)
        other = run.crawl(spark, t3, pat, 2, tmp_path / "other", resume=False, preload=t3["history"])
        d_other = check.digest(other.frontier, other.results)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    assert d_one == d_other


def test_check_trips_on_one_altered_byte(spark, tmp_path):
    t = _tables(spark, tmp_path)
    st = run.crawl(spark, t, gen.BLACKLIST_PATTERNS, 2, tmp_path / "ck", resume=False)
    ok = check.check(st.frontier, st.results, st.fetch_log, t["pages"])
    assert ok["failed"] == 0
    victim = st.results.orderBy("url").first()["url"]
    # flip the last character of one page's text
    altered = st.results.withColumn(
        "text",
        F.when(
            F.col("url") == victim,
            F.concat(F.expr("substring(text, 1, length(text) - 1)"), F.lit("#")),
        ).otherwise(F.col("text")),
    )
    bad = check.check(st.frontier, altered, st.fetch_log, t["pages"])
    assert bad["text_mismatch"] == 1
    assert bad["failed"] == 1
    assert check.digest(st.frontier, altered) != check.digest(st.frontier, st.results)


def test_traced_self_times_sum_to_crawl_wall(spark, tmp_path):
    t = _tables(spark, tmp_path)
    tracer = Tracer(spark.sparkContext, time.time)
    tracer.install()
    try:
        tracer.enabled = True
        root = tracer.enter("crawl", "run_crawl")
        run.crawl(spark, t, gen.BLACKLIST_PATTERNS, 2, tmp_path / "ck", resume=False)
        tracer.exit(root)
        tracer.enabled = False
    finally:
        tracer.uninstall()
    time.sleep(1.0)  # let the event log writer flush the last job end
    log = read_event_log(find_event_log(spark.conf.get("crawlbench.test.events")))
    a = attribute(tracer.dump(), root.id, log)
    total = sum(a["self_s"].values()) + a["unattributed_s"]
    assert total == pytest.approx(a["wall_s"], rel=0.01)
    assert a["wall_s"] == pytest.approx(root.end - root.start)
    assert a["calls"]["frontier"] >= 4  # claim + settle per round
    assert a["spark"]["snapshots"]["jobs"] > 0
    assert len(a["round_s"]) == 2
