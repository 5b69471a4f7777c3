"""Identity lifecycle operators: O2 claim allocation, F13 sanitization,
S6 backup sink (common_queries.py:237-250, common_utils.py:242-246,
handle_email.py:76-96)."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_claim_identities_rank_and_zip(spark):
    from tripwire_spark.operators.identity import claim_identities

    identities = spark.createDataFrame(
        [
            # iid, group, type, enabled, used, verified, in_use
            (5, "g1", "t", True, False, True, False),
            (3, "g1", "t", True, False, True, False),
            (9, "g1", "t", True, False, True, False),
            (7, "g1", "t", False, False, True, False),  # disabled
            (2, "g1", "t", True, True, True, False),    # used
            (4, "g2", "t", True, False, True, False),
            (6, "g1", "t", True, False, True, False),   # pre-assigned below
        ],
        "iid long, id_group string, id_type string, enabled boolean, used boolean, verified boolean, in_use boolean",
    )
    assignments = spark.createDataFrame([(6,)], "iid long")
    demand = spark.createDataFrame(
        [(101, "g1", "t"), (102, "g1", "t"), (103, "g1", "t"), (104, "g1", "t"), (105, "g2", "t")],
        "demand_id long, id_group string, id_type string",
    )
    out = {
        r["demand_id"]: r["iid"]
        for r in claim_identities(demand, identities, assignments, demand_order=["demand_id"]).collect()
    }
    # free g1 iids in ORDER BY iid ASC: 3, 5, 9 (2 used, 7 disabled, 6 assigned);
    # FIFO demand gets them in arrival order; demand 104 exceeds supply -> no row
    assert out == {101: 3, 102: 5, 103: 9, 105: 4}


def test_name_sanitization(spark):
    from tripwire_spark.operators.identity import sanitize_names

    df = spark.createDataFrame(
        [("ok-1", "t_a"), ("bad name", "t"), ("fine", "semi;colon")],
        "id_group string, id_type string",
    )
    kept = sanitize_names(df, ["id_group", "id_type"]).collect()
    assert [(r["id_group"], r["id_type"]) for r in kept] == [("ok-1", "t_a")]


def test_backup_messages_partition_layout(spark, tmp_path):
    from tripwire_spark.operators.identity import backup_messages

    msgs = spark.createDataFrame(
        [("Alice7", "raw-a"), ("bob", "raw-b"), (None, "raw-c")],
        "username string, message string",
    )
    out = str(tmp_path / "eml")
    backup_messages(msgs, out)
    # by-username/<initial>/<username> layout via partition dirs
    read = spark.read.parquet(out)
    rows = {r["message"]: (r["__initial"], r["__username"]) for r in read.collect()}
    assert rows["raw-a"] == ("a", "alice7")
    assert rows["raw-b"] == ("b", "bob")
    assert rows["raw-c"] == ("_", "__missing__")


def test_recheck_schedule_delays(spark):
    from tripwire_spark.streaming.monitor import CHECK_DELAYS_S, recheck_schedule

    assert CHECK_DELAYS_S == [120, 720]  # tripwire-mail-checker:26
    e = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "rid long, regtime string")
    rows = sorted(
        (r["delay_s"], str(r["scheduled_ts"])) for r in recheck_schedule(e).collect()
    )
    assert rows == [
        (120, "2024-01-01 00:02:00"),
        (720, "2024-01-01 00:12:00"),
    ]


def test_link_text_fallback_alt_and_val(spark):
    # C15 (pagefinder.js:131-156): text -> val -> alt; empty-after-
    # fallback links die on the 1..30 gate
    from tripwire_spark.functions.html import extract_links

    html = (
        '<html><body>'
        '<a href="/a">Plain text</a>'
        '<a href="/b"><img src="x.png" alt="Image alt text"></a>'
        '<a href="/c" value="Value text"></a>'
        '<a href="/d"><img src="y.png"></a>'
        "</body></html>"
    )
    df = spark.createDataFrame([(html,)], "html string")
    links = {r["l"]["href"]: r["l"]["text"] for r in df.select(F.explode(extract_links("html")).alias("l")).collect()}
    assert links == {"/a": "Plain text", "/b": "Image alt text", "/c": "Value text"}


def test_sticky_identity_assignment_in_crawl(spark, tmp_path):
    """SURVEY §7 hard part 5: each claimed host gets one identity on
    first claim and keeps it for the whole crawl; no identity serves
    two hosts (get_iid / url_id_assignments semantics)."""
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.sources.synth import BLACKLIST_PATTERNS, synth_pages, synth_robots

    pages = synth_pages(spark, 12, 4, 3)
    robots = synth_robots(spark, 12)
    seeds = spark.range(8).select(
        (F.col("id") + 1).cast("int").alias("alexa"),
        F.format_string("site%04d.test/p0", F.col("id")).alias("url"),
        F.col("id").alias("file_order"),
    )
    identities = spark.range(1, 200).select(
        F.col("id").alias("iid"),
        F.lit("default").alias("id_group"),
        F.lit("default").alias("id_type"),
        F.lit(True).alias("enabled"),
        F.lit(False).alias("used"),
        F.lit(True).alias("verified"),
        F.lit(False).alias("in_use"),
    )
    ck = tmp_path / "ck_id"
    state = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=3, default_budget=2, identities=identities, checkpoint_dir=str(ck),
    )
    # the only crawl that commits an assignments table
    assert sorted(p.name for p in ck.iterdir()) == [
        "assignments", "decision_log", "fetch_log", "frontier", "seen_sketch",
    ]
    rows = state.assignments.collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], set()).add(r["iid"])
    # one identity per host, sticky across all rounds
    assert all(len(v) == 1 for v in by_host.values())
    # no identity shared between hosts
    iids = [r["iid"] for r in rows]
    assert len(iids) == len(set(iids))
    # every host that was ever claimed is mapped
    claimed_hosts = {r["host"] for r in state.fetch_log.select("host").distinct().collect()}
    assert claimed_hosts <= set(by_host)


def test_discover_clicked_text_memory(spark):
    # D2: a candidate repeating an earlier-round clicked text on the
    # same site is skipped and logged
    from tripwire_spark.operators.crawl import discover
    from tripwire_spark.operators.seen import SeenState

    links = spark.createDataFrame(
        [
            (1, "http://s1.test/p0", "http://s1.test/new", "Sign up", 0),
            (1, "http://s1.test/p0", "http://s1.test/other", "Fresh text", 1),
            (2, "http://s2.test/p0", "http://s2.test/new", "Sign up", 0),  # other site: kept
        ],
        "parent_qid long, parent_url string, href string, anchor_text string, pos int",
    )
    seen = spark.createDataFrame([], "url string, url_hash long")
    svc = SeenState(n_buckets=4)
    # clicked state = xxhash64(parent host, anchor text) keys
    clicked = spark.createDataFrame([("s1.test", "Sign up")], "phost string, lt string").select(
        F.xxhash64("phost", "lt").alias("ck")
    )
    new_rows, decisions, _ = discover(
        links, ["blacklisted-nothing"], round_no=2, seen_state=svc,
        state=svc.init(seen, "url_hash"), clicked=clicked,
    )
    urls = {r["url"] for r in new_rows.collect()}
    assert "http://s1.test/new" not in urls  # repeated text on same site skipped
    assert "http://s1.test/other" in urls
    assert "http://s2.test/new" in urls  # same text, different site: kept
    dec = {r["curl"]: r["decision"] for r in decisions.collect()}
    assert dec["http://s1.test/new"] == "skipped-clicked-text"
