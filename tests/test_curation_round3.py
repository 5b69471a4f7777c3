"""Round-3 additions: sessionization, tracking-param mining, corpus
shuffle/rank, perplexity buckets, text repair, BPE merge training."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F


# ---------- sessionize ----------------------------------------------------


def test_sessionize_gaps_and_stats(spark):
    from tripwire_spark.operators.logs import session_stats, sessionize

    rows = [
        ("a", 100, 1),
        ("a", 200, 2),
        ("a", 2200, 3),  # gap 2000 > 600 -> new session
        ("a", 2300, 4),
        ("b", 50, 5),
        ("b", 700, 6),  # gap 650 > 600 -> new session
    ]
    df = spark.createDataFrame(rows, "host string, ts_s long, rid long")
    out = sessionize(df, gap_s=600, order_cols=("rid",))
    got = {(r["rid"]): (r["session_seq"], r["session_id"]) for r in out.collect()}
    assert got[1] == (1, "a#1") and got[2] == (1, "a#1")
    assert got[3] == (2, "a#2") and got[4] == (2, "a#2")
    assert got[5] == (1, "b#1") and got[6] == (2, "b#2")

    st = {
        (r["host"], r["session_seq"]): (r["n_rows"], r["dwell_s"])
        for r in session_stats(out).collect()
    }
    assert st[("a", 1)] == (2, 100)
    assert st[("a", 2)] == (2, 100)
    assert st[("b", 2)] == (1, 0)


def test_sessionize_exact_gap_stays(spark):
    from tripwire_spark.operators.logs import sessionize

    df = spark.createDataFrame(
        [("h", 0, 1), ("h", 600, 2)], "host string, ts_s long, rid long"
    )
    out = sessionize(df, gap_s=600, order_cols=("rid",))
    assert {r["session_seq"] for r in out.collect()} == {1}


# ---------- tracking_params / strip_params --------------------------------


def test_tracking_params_learns_session_id(spark):
    from tripwire_spark.operators.frontier import tracking_params

    rows = []
    # sid varies, digest constant, page param fixed -> tracking
    for i in range(3):
        rows.append((f"http://s.test/a?page=1&sid={i}", "d1"))
    # page varies and digest varies -> content param
    for i in range(3):
        rows.append((f"http://s.test/a?page={i}&sid=9", f"d{i}"))
    df = spark.createDataFrame(rows, "url string, digest string")
    out = {r["param"]: r for r in tracking_params(df).collect()}
    assert out["sid"]["is_tracking"] is True
    assert out["page"]["is_tracking"] is False
    assert out["sid"]["n_contexts"] == out["sid"]["invariant_contexts"] == 1


def test_tracking_params_any_context_change_clears(spark):
    from tripwire_spark.operators.frontier import tracking_params

    rows = [
        ("http://s.test/a?x=1", "d1"),
        ("http://s.test/a?x=2", "d1"),  # invariant context
        ("http://s.test/b?x=1", "e1"),
        ("http://s.test/b?x=2", "e2"),  # x changes page /b
    ]
    df = spark.createDataFrame(rows, "url string, digest string")
    out = {r["param"]: r for r in tracking_params(df).collect()}
    assert out["x"]["n_contexts"] == 2
    assert out["x"]["invariant_contexts"] == 1
    assert out["x"]["is_tracking"] is False


def test_strip_params_rewrites_only_learned_hosts(spark):
    from tripwire_spark.operators.frontier import strip_params

    tracking = spark.createDataFrame(
        [("s.test", "sid"), ("s.test", "utm_source")], "host string, param string"
    )
    urls = spark.createDataFrame(
        [
            ("http://s.test/a?sid=4&page=2&utm_source=x",),
            ("http://s.test/a?sid=4",),
            ("http://s.test/plain",),
            ("http://other.test/a?sid=7",),
            ("http://s.test/a?page=1#frag",),
        ],
        "url string",
    )
    got = sorted(r["url"] for r in strip_params(urls, tracking).collect())
    assert got == sorted(
        [
            "http://s.test/a?page=2",
            "http://s.test/a",
            "http://s.test/plain",
            "http://other.test/a?sid=7",
            "http://s.test/a?page=1#frag",
        ]
    )


def test_strip_params_broadcasts_dim(spark):
    from tripwire_spark.operators.frontier import strip_params

    tracking = spark.createDataFrame([("s.test", "sid")], "host string, param string")
    urls = spark.createDataFrame([("http://s.test/a?sid=1",)], "url string")
    plan = strip_params(urls, tracking)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ---------- global_rank / shuffle_corpus ----------------------------------


def test_global_rank_matches_single_window(spark):
    from tripwire_spark.operators.packing import global_rank

    rows = [(i, (i * 37) % 101) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, key long")
    out = global_rank(df, "key", tiebreak=("id",), n_buckets=7)
    got = {r["id"]: r["pos"] for r in out.collect()}
    expect = {
        rid: p
        for p, (rid, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == expect


def test_shuffle_corpus_is_permutation_and_seed_sensitive(spark):
    from tripwire_spark.operators.packing import shuffle_corpus

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    a = {r["doc_id"]: r["pos"] for r in shuffle_corpus(df, seed="e1").collect()}
    b = {r["doc_id"]: r["pos"] for r in shuffle_corpus(df, seed="e2").collect()}
    a2 = {r["doc_id"]: r["pos"] for r in shuffle_corpus(df, seed="e1").collect()}
    assert sorted(a.values()) == list(range(100))
    assert a == a2  # deterministic
    assert a != b  # epoch reshuffle
    # not the identity order
    assert [a[i] for i in range(100)] != list(range(100))


# ---------- perplexity_buckets --------------------------------------------


def test_perplexity_buckets_thirds(spark):
    from tripwire_spark.operators.lm import perplexity_buckets, train_bigram_lm

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)], "doc_id long, text string"
    )
    model = train_bigram_lm(train)
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat"),
            (3, "cat the on sat"),
            (4, "zebra quantum flux"),
            (5, "mat the on sat cat"),
            (6, "the mat"),
            (7, "x"),  # 1 token -> unscored, excluded
        ],
        "doc_id long, text string",
    )
    out = perplexity_buckets(docs, model)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 7 not in rows
    counts = Counter(r["ppl_bucket"] for r in rows.values())
    assert counts == {"head": 2, "middle": 2, "tail": 2}
    # the in-domain doc must rank in the head, the scrambled one in the
    # tail (same words, bigrams never seen in training)
    assert rows[1]["ppl_bucket"] == "head"
    assert rows[3]["ppl_bucket"] == "tail"


# ---------- clean_text ----------------------------------------------------


def test_clean_text_repairs_mojibake(spark):
    from tripwire_spark.functions.text_clean import clean_text

    raw = "Itâ€™s a cafÃ© â€”  rÃ©sumÃ© here"
    df = spark.createDataFrame([(raw,)], "t string")
    got = df.select(clean_text(F.col("t")).alias("c")).collect()[0]["c"]
    assert got == "It’s a café — résumé here"


def test_clean_text_sql_twin_matches(spark):
    import duckdb

    from tripwire_spark.functions.text_clean import clean_text, clean_text_sql

    samples = [
        "Itâ€™s â€œquotedâ€ â€“ okâ€¦",
        "cafÃ© naÃ¯ve faÃ§ade SchÃ¶n GrÃ¶ÃŸe",
        "plain ascii stays",
        "tabs\t\tand  spaces \n next line end",
        "ctrlcharsgone",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    spark_out = [
        r["c"] for r in df.select(clean_text(F.col("t")).alias("c")).collect()
    ]
    con = duckdb.connect()
    duck_out = [
        con.execute("select " + clean_text_sql("$1::varchar"), [s]).fetchone()[0]
        for s in samples
    ]
    assert spark_out == duck_out


# ---------- BPE -----------------------------------------------------------


def _ref_bpe(word_counts: dict[str, int], n_merges: int, min_count: int = 2):
    """Exact reference BPE (Sennrich 2016), greedy left-to-right merge,
    tie-break (max count, lexicographically smallest pair)."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (l, r), cnt = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if cnt < min_count:
            break
        merges.append((l, r, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_merges_match_reference(spark):
    from tripwire_spark.operators.bpe import train_bpe_merges, word_vocab

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low"),
            (2, "new newer newest new lower"),
            (3, "wide wider widest new low"),
        ],
        "doc_id long, text string",
    )
    wc = {r["word"]: r["cnt"] for r in word_vocab(docs).collect()}
    expect = _ref_bpe(wc, 8)
    got = train_bpe_merges(docs, 8)
    assert got == expect
    assert len(got) == 8


def test_bpe_merges_overlap_run(spark):
    # 'aaaa' stresses greedy left-to-right: (a,a) merges to [aa,aa],
    # then (aa,aa) -> [aaaa]
    from tripwire_spark.operators.bpe import train_bpe_merges, word_vocab

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaa")], "doc_id long, text string"
    )
    wc = {r["word"]: r["cnt"] for r in word_vocab(docs).collect()}
    expect = _ref_bpe(wc, 4)
    got = train_bpe_merges(docs, 4)
    assert got == expect
    assert got[0][:2] == ("a", "a")


def test_bpe_segment_applies_merges(spark):
    from tripwire_spark.operators.bpe import bpe_segment, train_bpe_merges

    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "lowest slow")], "doc_id long, text string"
    )
    merges = [(l, r) for l, r, _ in train_bpe_merges(docs, 3)]
    out = {r["doc_id"]: r for r in bpe_segment(docs, merges).collect()}
    # every document's pieces re-concatenate to its pre-token stream
    from tripwire_spark.operators.textstats import bpe_tokens

    toks = {
        r["doc_id"]: "".join(r["t"])
        for r in docs.select("doc_id", bpe_tokens(F.col("text")).alias("t")).collect()
    }
    for d in (1, 2):
        assert "".join(out[d]["pieces"]) == toks[d]
        assert out[d]["n_pieces"] == len(out[d]["pieces"])


# ---------- streaming session rollup --------------------------------------


def test_session_rollup_stream_matches_batch(spark, tmp_path):
    import shutil

    from tripwire_spark.operators.logs import session_stats, sessionize
    from tripwire_spark.streaming.monitor import session_rollup_stream

    SF = "/root/testdata/sf0.001"
    src = tmp_path / "sess_src"
    src.mkdir(exist_ok=True)
    shutil.copy(f"{SF}/events.parquet", src / "events.parquet")
    batch0 = spark.read.parquet(f"{SF}/events.parquet")
    logs_cols = [
        F.format_string("site%02d.test", F.pmod(F.col("user_id"), F.lit(5))).alias("host"),
        # parquet TIMESTAMP_NTZ -> TIMESTAMP: watermarks require an
        # instant-typed event time
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").alias("rid"),
    ]
    batch = batch0.select(*logs_cols)
    stream = (
        spark.readStream.schema(batch0.schema).parquet(str(src)).select(*logs_cols)
    )

    agg = session_rollup_stream(stream, gap="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessout")
        .option("checkpointLocation", str(tmp_path / "cks"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.host, r.session_start, r.session_end): r.n_rows
        for r in spark.sql("SELECT * FROM sessout").collect()
    }
    want = {
        (r.host, r.session_start, r.session_end): r.n_rows
        for r in session_rollup_stream(batch, gap="1 hour").collect()
    }
    assert got == want and len(want) > 0

    # the native session_window rollup agrees with the batch
    # lag/cumsum operator on session count and sizes per host
    b = sessionize(
        batch.withColumn("ts_s", F.unix_timestamp("ts")), gap_s=3600, order_cols=("rid",)
    )
    st = session_stats(b)
    by_host_batch = {
        r.host: sorted(r.sizes)
        for r in st.groupBy("host").agg(F.collect_list("n_rows").alias("sizes")).collect()
    }
    by_host_stream: dict[str, list[int]] = {}
    for (h, _s, _e), n in want.items():
        by_host_stream.setdefault(h, []).append(n)
    assert {h: sorted(v) for h, v in by_host_stream.items()} == by_host_batch


def test_scorecard_budget_feeds_politeness(spark):
    # curation->crawl loop: a low-keep-rate domain gets a smaller claim
    # budget through the REAL politeness_schedule path
    from tripwire_spark.operators.frontier import (
        ST_QUEUED,
        politeness_schedule,
        scorecard_budgets,
    )

    sc = spark.createDataFrame(
        [("good.test", 1000000), ("farm.test", 0)], "source string, keep_rate6 long"
    )
    budgets = scorecard_budgets(sc, default_budget=4)
    rows = []
    qid = 0
    for host in ("good.test", "farm.test"):
        for i in range(6):
            qid += 1
            rows.append(
                (qid, f"http://{host}/p{i}", qid * 7, host, 1, 0, ST_QUEUED,
                 "default", 1, 0, None, None)
            )
    frontier = spark.createDataFrame(
        rows,
        "qid long, url string, url_hash long, host string, alexa int, try int, "
        "status string, queue string, vid int, round_added int, weight double, ck long",
    )
    schedule = politeness_schedule(frontier, robots=budgets)
    per_host = {
        (r["host"], r["status"]): r["n"]
        for r in schedule.groupBy("host", "status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # no row is disabled: the scorecard dim disallows nothing
    assert per_host == {("good.test", "running"): 4, ("farm.test", "running"): 1}


# ---------- review-finding regressions -------------------------------------


def test_bpe_survives_line_terminators(spark):
    # blank lines pre-tokenize to "\n\n" / "\r" whitespace tokens; the
    # DOTALL seed must fence them (Java '.' alone would not), so
    # neither training nor segmentation crashes or drops characters
    from tripwire_spark.operators.bpe import bpe_segment, train_bpe_merges
    from tripwire_spark.operators.textstats import bpe_tokens

    docs = spark.createDataFrame(
        [(1, "para one\n\npara two"), (2, "mac\rline  sep two two")],
        "doc_id long, text string",
    )
    merges = [(l, r) for l, r, _ in train_bpe_merges(docs, 2, min_count=1)]
    out = {r["doc_id"]: r for r in bpe_segment(docs, merges).collect()}
    toks = {
        r["doc_id"]: "".join(r["t"])
        for r in docs.select("doc_id", bpe_tokens(F.col("text")).alias("t")).collect()
    }
    for d in (1, 2):
        assert "".join(out[d]["pieces"]) == toks[d]


def test_strip_params_keeps_caller_host_column(spark):
    from tripwire_spark.operators.frontier import strip_params

    tracking = spark.createDataFrame([("s.test", "sid")], "host string, param string")
    urls = spark.createDataFrame(
        [("http://s.test/a?sid=1&p=2", "s.test")], "url string, host string"
    )
    out = strip_params(urls, tracking)
    assert "host" in out.columns
    row = out.collect()[0]
    assert row["host"] == "s.test" and row["url"] == "http://s.test/a?p=2"


def test_global_rank_full_range_and_null_keys(spark):
    from pyspark.sql import functions as F2

    from tripwire_spark.operators.packing import global_rank

    # xxhash64-style keys spanning the full signed-64 range: the
    # (mx - mn) subtraction must not wrap and scramble buckets
    df = spark.createDataFrame([(i,) for i in range(300)], "id long").select(
        "id", F2.xxhash64("id").alias("key")
    )
    rows = [(r["id"], r["key"]) for r in df.collect()]
    out = {r["id"]: r["pos"] for r in global_rank(df, "key", tiebreak=("id",)).collect()}
    expect = {
        rid: p for p, (rid, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert out == expect

    # NULL keys rank first, deterministically, and no row is dropped
    dfn = spark.createDataFrame(
        [(1, None), (2, 10), (3, None), (4, 5)], "id long, key long"
    )
    got = {r["id"]: r["pos"] for r in global_rank(dfn, "key", tiebreak=("id",)).collect()}
    assert got == {1: 0, 3: 1, 4: 2, 2: 3}


# ---------- exact quantiles -------------------------------------------------


def test_exact_quantiles_match_reference(spark):
    from tripwire_spark.operators.packing import exact_quantiles

    vals = [((i * 53) % 997) for i in range(400)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, v long"
    )
    got = {r["q"]: r["value"] for r in exact_quantiles(df, "v", (0.0, 0.25, 0.5, 0.95, 1.0)).collect()}
    sv = sorted(vals)
    n = len(sv)
    expect = {
        q: sv[round(q * 1000000) * (n - 1) // 1000000]
        for q in (0.0, 0.25, 0.5, 0.95, 1.0)
    }
    assert got == expect


def test_quantile_band_trims_tails(spark):
    from tripwire_spark.operators.packing import quantile_band

    df = spark.createDataFrame([(i, i) for i in range(101)], "doc_id long, v long")
    out = quantile_band(df, "v", lo=0.10, hi=0.90)
    kept = sorted(r["doc_id"] for r in out.filter(F.col("in_band")).collect())
    assert kept == list(range(10, 91))
    assert out.count() == 101  # verdict column, nothing dropped


def test_clean_text_invariants_on_nasty_corpus(spark):
    # one Spark pass over a deliberately nasty corpus: every mojibake
    # table entry, control chars, nbsp runs, boundary whitespace
    import duckdb

    from tripwire_spark.functions.text_clean import MOJIBAKE, clean_text, clean_text_sql

    samples = [f"x {bad} y" for bad, _ in MOJIBAKE]
    samples += [
        "".join(chr(c) for c in range(0, 32)) + "end",
        "  run of nbsp ",
        "  lead and trail  ",
        "line \n  next\t\tline \n",
        "",
        "\x7f\x80\x9fdel and c1",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i long, t string")
    got = {
        r["i"]: r["c"] for r in df.select("i", clean_text(F.col("t")).alias("c")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(samples):
        c = got[i]
        # no C0 (except \n) / C1 / DEL / nbsp / tab survives
        assert all(
            not (ord(ch) < 32 and ch != "\n") and not (127 <= ord(ch) <= 160)
            for ch in c
        ), (s, c)
        assert "  " not in c and not c.startswith(" ") and not c.endswith(" ")
        # the generated SQL twin agrees byte-for-byte
        duck = con.execute("select " + clean_text_sql("$1::varchar"), [s]).fetchone()[0]
        assert duck == c, (s, c, duck)


# ---------- trust_rank / spam_mass ----------------------------------------


def _ref_trust_rank(edges, seeds, iterations=3, d=85):
    UNIT = 10**12
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    e = sorted(set(edges))
    od = {}
    for s, _ in e:
        od[s] = od.get(s, 0) + 1
    ns = len(seeds)
    r = {v: (UNIT // ns if v in seeds else 0) for v in nodes}
    for _ in range(iterations):
        c = {v: 0 for v in nodes}
        for s, t in e:
            c[t] += r[s] // od[s]
        r = {
            v: (UNIT * (100 - d) // 100 // ns if v in seeds else 0)
            + d * c[v] // 100
            for v in nodes
        }
    return r


def test_trust_rank_matches_reference_and_starves_farms(spark):
    from tripwire_spark.operators.graph import page_rank, spam_mass, trust_rank

    # trusted cluster t0<->t1 -> good; spam farm f0<->f1<->f2 heavily
    # self-linked, no path from trusted side
    edges = [
        ("t0", "t1"), ("t1", "t0"), ("t0", "good"), ("t1", "good"),
        ("f0", "f1"), ("f1", "f2"), ("f2", "f0"), ("f0", "f2"),
        ("f2", "f1"), ("f1", "f0"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("t0",), ("t1",)], "node string")
    got = {r["node"]: r["trust_micro"] for r in trust_rank(e, seeds).collect()}
    assert got == _ref_trust_rank(edges, {"t0", "t1"})
    # farm nodes get exactly zero trust; the linked 'good' page gets some
    assert got["f0"] == got["f1"] == got["f2"] == 0
    assert got["good"] > 0

    sm = {
        r["node"]: r["spam_mass6"]
        for r in spam_mass(page_rank(e), trust_rank(e, seeds)).collect()
    }
    # farm: all rank is unbacked by trust
    assert sm["f0"] == sm["f1"] == sm["f2"] == 1000000
    # trusted seeds carry little spam mass, farms carry the most
    assert sm["t0"] < 500000 and sm["good"] < sm["f0"]


def test_exact_quantiles_rational_pick_regression(spark):
    # q=0.7 over 91 rows: decimal semantics pick rank floor(0.7*90)=63;
    # double arithmetic yields 62.999... -> 62.  The integer-rational
    # pick must give 63 (the value 630 here).
    from tripwire_spark.operators.packing import exact_quantiles

    df = spark.createDataFrame([(i, i * 10) for i in range(91)], "doc_id long, v long")
    got = {r["q"]: r["value"] for r in exact_quantiles(df, "v", (0.7,)).collect()}
    assert got == {0.7: 630}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_quantiles(df, "v", (0.5, 1.5))
    with _pytest.raises(ValueError):
        exact_quantiles(df, "v", ())


def test_trust_rank_rejects_empty_or_absent_seeds(spark):
    import pytest as _pytest

    from tripwire_spark.operators.graph import trust_rank

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError):
        trust_rank(e, spark.createDataFrame([], "node string"))
    with _pytest.raises(ValueError):
        trust_rank(e, spark.createDataFrame([("zzz",)], "node string"))
    # absent seeds are dropped from ns: one present seed gets FULL unit
    seeds = spark.createDataFrame([("a",), ("not-in-graph",)], "node string")
    got = {r["node"]: r["trust_micro"] for r in trust_rank(e, seeds, iterations=1).collect()}
    # t1(a) = teleport only (no in-edges): UNIT*15//100//1
    assert got["a"] == 10**12 * 15 // 100
