"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``     — flagship crawl: seeds derived from the sf0.001
                       customer table, crawled against deterministic
                       synthetic Common-Crawl-style pages.
``queries()``        — one entry per implemented operator (SURVEY.md §2),
                       each runnable at any sf dir.
``oracle_sql()``     — DuckDB twins.  Column names/aliases match the
                       Spark side exactly; double sums go through exact
                       DECIMAL aggregation then a final cast to DOUBLE so
                       both engines hash identically.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec_sum(col, scale=2):
    """Exact decimal sum -> double (identical across Spark and DuckDB)."""
    return F.sum(col.cast(f"decimal(28,{scale})")).cast("double")


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: frontier crawl seeded from sf0.001 customers.

    Loads /root/testdata/sf0.001/customer.parquet, derives a
    deterministic seed list, runs the full crawl loop (politeness,
    robots, fetch join, byte-identical extraction, discovery) against
    synthetic pages, and returns the extracted-results DataFrame.
    """
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.sources.synth import BLACKLIST_PATTERNS, synth_pages, synth_robots

    customer = _t(spark, "/root/testdata/sf0.001", "customer")
    n_hosts = 40
    seeds = customer.select(
        F.col("c_custkey").cast("int").alias("alexa"),
        F.format_string("site%04d.test/p0", F.pmod(F.col("c_custkey"), F.lit(n_hosts))).alias("url"),
        F.col("c_custkey").cast("long").alias("file_order"),
    )
    pages = synth_pages(spark, n_hosts=n_hosts, n_pages=4, n_links=3)
    robots = synth_robots(spark, n_hosts=n_hosts)
    state = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2
    )
    return state.results.select("url", "text", "lang")


# ---------------------------------------------------------------------------
# queries — each callable (spark, sf_dir) -> DataFrame


def q_claim_filter(spark: SparkSession, sf: str) -> DataFrame:
    # F3: claim-eligibility predicate (common_queries.py:46-48)
    return (
        _t(spark, sf, "orders")
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") < 50000))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_politeness_rank(spark: SparkSession, sf: str) -> DataFrame:
    # W2: per-host FIFO rank under budget (common_queries.py:42-56)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf, "events")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_first_last_flag(spark: SparkSession, sf: str) -> DataFrame:
    # W1: labeled_status first/last flags (schema.sql:1842-1843)
    wa = Window.partitionBy("user_id").orderBy("event_id")
    wd = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        _t(spark, sf, "events")
        .withColumn("is_first", F.row_number().over(wa) == 1)
        .withColumn("is_last", F.row_number().over(wd) == 1)
        .select("event_id", "user_id", "is_first", "is_last")
    )


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    # J5: identity-claim anti join (common_queries.py:242-244)
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti").select(
        "c_custkey", "c_name"
    )


def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    # J8: existence check (common_queries.py:162-166)
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi").select(
        "c_custkey", "c_nationkey"
    )


def q_login_info_5way(spark: SparkSession, sf: str) -> DataFrame:
    # J1: 5-way equi-join view login_info (schema.sql:1904-1905); dims broadcast
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_items"),
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
        )
    )


def q_registration_status(spark: SparkSession, sf: str) -> DataFrame:
    # A3: array_agg + max per group (schema.sql:2112); order pinned by o_orderkey
    o = _t(spark, sf, "orders")
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderkey").alias("max_orderkey"),
        F.count("*").alias("n_orders"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("o_orderkey", "o_orderstatus"))),
                lambda x: x["o_orderstatus"],
            ),
        ).alias("statii"),
    )


def q_array_overlap(spark: SparkSession, sf: str) -> DataFrame:
    # J9: acceptable-status array overlap (common_queries.py:299-304)
    o = _t(spark, sf, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.collect_set("o_orderstatus").alias("sts"))
        .filter(F.arrays_overlap(F.col("sts"), F.array(F.lit("F"), F.lit("P"))))
        .select("custkey")
    )


def q_time_bucket(spark: SparkSession, sf: str) -> DataFrame:
    # C6: date_trunc day bucketing (schema.sql:2035)
    e = _t(spark, sf, "events")
    return e.groupBy(F.date_trunc("day", "ts").alias("day_ts")).agg(
        F.count("*").alias("n_events"),
        _dec_sum(F.col("value"), 6).alias("sum_value"),
    )


def q_price_bucket(spark: SparkSession, sf: str) -> DataFrame:
    # C8: alexa bucketing (alexa/500)*500 (schema.sql:2035)
    o = _t(spark, sf, "orders")
    return (
        o.withColumn("price_bucket", (F.floor(F.col("o_totalprice") / 500) * 500).cast("long"))
        .groupBy("price_bucket")
        .agg(F.count("*").alias("n_orders"))
    )


def q_latest_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    # O3: latest registration per username (handle_email.py:280-289)
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("o_custkey").alias("custkey"), "o_orderkey", "o_orderdate")
    )


def q_repeat_bonus_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # D1: URL-seen within email — first weight + 20 per repeat
    # (handle_email.py:196,379,413-420)
    e = _t(spark, sf, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_seen"),
        (F.min_by("value", "event_id").cast("double") + 20 * (F.count("*") - 1).cast("double")).alias(
            "weight"
        ),
    )


def q_link_reweight(spark: SparkSession, sf: str) -> DataFrame:
    """D3: pairwise selector reweight — an ORDERED fold, not a
    commutative agg (pagefinder.js:79-93; SURVEY.md §7 hard part 4).

    Rule per selector, iterating matches in declaration order: if both
    accumulated and new weight are >= 0, weight = max(acc, new) + 1;
    otherwise the (most) negative wins.  Expressed as
    sort_array(collect_list(struct)) + F.aggregate so the fold order is
    pinned regardless of partitioning."""
    p = _t(spark, sf, "part")
    rows = p.select(
        F.col("p_brand").alias("selector"),
        F.col("p_partkey").alias("ord"),
        (F.pmod(F.col("p_partkey") * 13 + F.length("p_type"), F.lit(7)) - F.lit(2))
        .cast("long")
        .alias("w"),
    )
    arr = rows.groupBy("selector").agg(
        F.sort_array(F.collect_list(F.struct("ord", "w"))).alias("ws")
    )
    folded = F.aggregate(
        F.expr("slice(ws, 2, size(ws) - 1)"),
        F.col("ws")[0]["w"],
        lambda acc, x: F.when((acc >= 0) & (x["w"] >= 0), F.greatest(acc, x["w"]) + 1).otherwise(
            F.least(acc, x["w"])
        ),
    )
    return arr.select("selector", F.size("ws").alias("n_matches"), folded.alias("weight"))


def q_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    # C1: norm_url (schema.sql:902-907) over synthesized quirky URLs
    from tripwire_spark.functions.urls import canonicalize_url

    c = _t(spark, sf, "customer")
    raw = F.concat(
        F.lit("HTTP://Site"),
        F.col("c_custkey"),
        F.lit(".TEST:80/p"),
        F.pmod(F.col("c_custkey"), F.lit(7)),
        F.when(F.pmod(F.col("c_custkey"), F.lit(3)) == 0, F.lit("/sub/./x/../y")).otherwise(F.lit("")),
        F.when(F.pmod(F.col("c_custkey"), F.lit(5)) == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return c.select(F.col("c_custkey").alias("custkey"), canonicalize_url(raw).alias("canon_url"))


def q_reg_domain(spark: SparkSession, sf: str) -> DataFrame:
    # C4: dns_reg_domain politeness key (schema.sql:305-310)
    from tripwire_spark.functions.urls import reg_domain

    c = _t(spark, sf, "customer")
    host = (
        F.when(
            F.pmod(F.col("c_custkey"), F.lit(3)) == 0,
            F.concat(F.lit("www.shop"), F.col("c_custkey"), F.lit(".co.uk")),
        )
        .when(
            F.pmod(F.col("c_custkey"), F.lit(3)) == 1,
            F.concat(F.lit("a.b.site"), F.col("c_custkey"), F.lit(".com")),
        )
        .otherwise(F.concat(F.lit("site"), F.col("c_custkey"), F.lit(".test")))
    )
    return c.select(F.col("c_custkey").alias("custkey"), reg_domain(host).alias("rdomain"))


def q_frontier_schedule(spark: SparkSession, sf: str) -> DataFrame:
    # The frontier scheduling kernel (W2+O1) over seeds synthesized from
    # orders: per-host FIFO prefix under a budget of 3.
    o = _t(spark, sf, "orders")
    seeds = o.select(
        F.format_string("h%02d", F.pmod(F.col("o_custkey"), F.lit(20))).alias("host"),
        F.col("o_orderkey").alias("qid"),
    )
    w = Window.partitionBy("host").orderBy("qid")
    return seeds.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= 3)


def q_retry_policy(spark: SparkSession, sf: str) -> DataFrame:
    # T2: exit-code -> status transitions (run_queue_nowrap:49-80)
    e = _t(spark, sf, "events")
    agg = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("tries")
    )
    return agg.select(
        "user_id",
        "tries",
        F.when(F.col("tries") == 0, "completed")
        .when(F.col("tries") <= 2, "queued")
        .otherwise("failed")
        .alias("status"),
    )


def q_doc_token_count(spark: SparkSession, sf: str) -> DataFrame:
    # Text analysis: whitespace token counting over documents
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_txt"),
    )


def q_doc_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Exact dedup by content hash (md5 — identical in both engines)
    d = _t(spark, sf, "documents")
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id")
    )


def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    # Headline agg (TPC-H Q1 shape) — the bench workhorse
    l = _t(spark, sf, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# batch 2: dedup family, similarity, text analytics, ip algebra, views


def _aug_docs(spark: SparkSession, sf: str) -> DataFrame:
    """documents + near-duplicate copies (doc_id%25==0 -> +' zzz end'),
    built identically in the DuckDB oracles."""
    d = _t(spark, sf, "documents").select(F.col("doc_id").alias("doc"), "text")
    dups = (
        _t(spark, sf, "documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(25)) == 0)
        .select((F.col("doc_id") + 100000).alias("doc"), F.concat(F.col("text"), F.lit(" zzz end")).alias("text"))
    )
    return d.unionAll(dups)


_AUG_DOCS_SQL = """
        docs AS (
          SELECT doc_id AS doc, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc, text || ' zzz end' AS text
          FROM documents WHERE doc_id % 25 = 0),
        toks AS (SELECT doc, string_split_regex(lower(trim(text)), '\\s+') AS t FROM docs),
        idx AS (SELECT doc, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks),
        sh AS (SELECT DISTINCT doc, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
        sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
        inter AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
          FROM sh a JOIN sh b USING (shingle) WHERE a.doc < b.doc GROUP BY 1, 2)
"""

_JACCARD_PAIRS_SQL = f"""
        WITH {_AUG_DOCS_SQL}
        SELECT doc_a, doc_b,
               round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc = inter.doc_a
        JOIN sizes sb ON sb.doc = inter.doc_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
"""


def q_ngram_jaccard_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Exact n-gram-Jaccard near-dup pairs (training-data dedup baseline)
    from tripwire_spark.operators.dedup import exact_jaccard_pairs, shingles

    return exact_jaccard_pairs(shingles(_aug_docs(spark, sf), "doc", "text", 3), 0.8)


def q_minhash_lsh_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # MinHash+LSH with exact verification: recall ~1 at tau=0.8, so the
    # verified output equals the exact pair set (oracle below).
    from tripwire_spark.operators.dedup import minhash_dedup_pairs

    # materialize=True: single-box run, shingles feed 3 consumers
    return minhash_dedup_pairs(
        _aug_docs(spark, sf), "doc", "text", n=3, k=64, bands=32, rows=2,
        threshold=0.8, materialize=True,
    )


def q_simhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # SimHash near-dup pairs (engine-hash based -> rows-only check; the
    # pytest suite asserts planted dups are found)
    from tripwire_spark.operators.dedup import simhash, simhash_pairs

    return simhash_pairs(simhash(_aug_docs(spark, sf), "doc", "text"), max_hamming=7)


def q_embedding_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # Embedding-cosine near-dup over corpus + perturbed copies
    from tripwire_spark.operators.dedup import embedding_dup_pairs

    e = _t(spark, sf, "embeddings")
    pert = e.filter(F.pmod(F.col("vec_id"), F.lit(50)) == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.slice(F.col("embedding").cast("array<double>"), 1, 1),
            F.array(F.element_at(F.col("embedding").cast("array<double>"), 2) + F.lit(0.5)),
            F.slice(F.col("embedding").cast("array<double>"), 3, 62),
        ).alias("embedding"),
    )
    aug = e.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionAll(pert)
    return embedding_dup_pairs(aug, "vec_id", "embedding", threshold=0.9)


def q_ann_topk_brute(spark: SparkSession, sf: str) -> DataFrame:
    # Brute-force cosine top-3 for query vectors (vec_id % 100 == 0)
    from tripwire_spark.operators.similarity import brute_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.pmod(F.col("vec_id"), F.lit(100)) == 0)
    return brute_topk(e, q, k=3)


def q_ann_topk_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # Sign-LSH bucketed ANN (scale path; recall checked in pytest)
    from tripwire_spark.operators.similarity import signlsh_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.pmod(F.col("vec_id"), F.lit(100)) == 0)
    return signlsh_topk(e, q, k=3)


def q_ann_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    # IVF ANN: trained coarse quantizer (deterministic k-means), probe
    # the query's nearest cells only (recall checked in pytest vs the
    # brute baseline; rows-only here by the same declared design as
    # ann_topk_lsh — the quantizer is not SQL-expressible)
    from tripwire_spark.operators.similarity import ivf_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.pmod(F.col("vec_id"), F.lit(100)) == 0)
    return ivf_topk(e, q, k=3, n_centroids=16, n_probe=6)


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    # Language ID: stopword-hit argmax (deterministic tie-break)
    from tripwire_spark.operators import textstats as TS

    d = _t(spark, sf, "documents")
    toks = TS.tokens(F.col("text"))
    cols = [s.alias(f"{lang}_hits") for lang, s in TS.lang_scores(toks)]
    return d.select("doc_id", "lang", TS.lang_id(toks).alias("pred_lang"), *cols)


def q_doc_quality(spark: SparkSession, sf: str) -> DataFrame:
    # Quality gates: token count, mean token length, stopword ratio
    from tripwire_spark.operators import textstats as TS

    d = _t(spark, sf, "documents")
    feats = TS.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["mean_token_len"], 6).alias("mean_token_len"),
        F.round(feats["stop_ratio"], 6).alias("stop_ratio"),
        feats["keep"].alias("keep"),
    )


def q_doc_entropy(spark: SparkSession, sf: str) -> DataFrame:
    # Character-distribution quality signals: Shannon entropy of the
    # 38-bucket lowercased char distribution + alnum ratio (pure
    # scan-side exprs; textstats.entropy_features).
    from tripwire_spark.operators import textstats as TS

    d = _t(spark, sf, "documents")
    feats = TS.entropy_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        F.round(feats["char_entropy"], 6).alias("char_entropy"),
        F.round(feats["alnum_ratio"], 6).alias("alnum_ratio"),
    )


def q_c4_line_clean(spark: SparkSession, sf: str) -> DataFrame:
    # C4 line-level cleaning (Raffel et al. 2020 sec. 2.2): terminal
    # -punctuation + >=5-word + no-javascript line gates, lorem-ipsum /
    # curly-brace / <3-sentence page gates (textstats.c4_line_filters).
    from tripwire_spark.operators import textstats as TS

    d = _t(spark, sf, "documents")
    feats = TS.c4_line_filters(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_lines"].alias("n_lines"),
        feats["n_kept"].alias("n_kept"),
        feats["cleaned_md5"].alias("cleaned_md5"),
        feats["keep"].alias("keep"),
    )


def q_doc_repetition(spark: SparkSession, sf: str) -> DataFrame:
    # Gopher repetition gates: dup-line / dup-2gram / top-2gram fractions
    from tripwire_spark.operators import textstats as TS

    d = _t(spark, sf, "documents")
    feats = TS.repetition_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["dup_line_frac"].alias("dup_line_frac"),
        feats["dup_2gram_frac"].alias("dup_2gram_frac"),
        feats["top_2gram_frac"].alias("top_2gram_frac"),
        feats["keep"].alias("keep"),
    )


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    # Benchmark decontamination: 3-gram overlap vs a broadcast eval set
    # (eval corpus := every 50th document, so hits are guaranteed)
    from tripwire_spark.operators.dedup import decontaminate

    d = _t(spark, sf, "documents")
    ev = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return decontaminate(d, ev, "doc_id", "text", "doc_id", "text", n=3, max_overlap=0.2)


def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Incremental dedup: a NEW batch (the +100000 near-dup copies) vs a
    # pre-built corpus index — history contributes only its persisted
    # LSH bucket rows + candidate-key shingles, never a full re-scan
    from tripwire_spark.operators.dedup import (
        band_buckets,
        incremental_dedup_pairs,
        minhash_signatures,
        shingles,
    )

    corpus = _t(spark, sf, "documents").select(F.col("doc_id").alias("doc"), "text")
    batch = (
        _t(spark, sf, "documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(25)) == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc"),
            F.concat(F.col("text"), F.lit(" zzz end")).alias("text"),
        )
    )
    corpus_sh = shingles(corpus, "doc", "text", 3)
    idx_buckets = band_buckets(minhash_signatures(corpus_sh, 64), 32, 2)
    new_sh = shingles(batch, "doc", "text", 3)
    return incremental_dedup_pairs(new_sh, corpus_sh, idx_buckets, 64, 32, 2, 0.8)


def q_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # ExactSubstr-style repeated-span removal (Lee et al. 2022): every
    # 8-token window seen earlier in (doc, pos) order loses its tokens
    from tripwire_spark.operators.dedup import remove_repeated_spans

    return remove_repeated_spans(_aug_docs(spark, sf), "doc", "text", span=8)


def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    # Fingerprints: md5 of normalized text + order-sensitive rolling hash
    from tripwire_spark.operators import textstats as TS

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        TS.fingerprint_md5(F.col("text")).alias("fp_md5"),
        TS.rolling_fingerprint(F.col("text")).alias("fp_roll"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    # tf-idf keyword extraction: top-3 characteristic terms per document
    # (smoothed idf, deterministic term-asc tie-break)
    from tripwire_spark.operators.weighting import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf, "documents"), "doc_id", "text", k=3)


def q_domain_mixture(spark: SparkSession, sf: str) -> DataFrame:
    # Temperature-scaled domain mixing weights (alpha=0.5) per source
    from tripwire_spark.operators.weighting import domain_mixture

    return domain_mixture(_t(spark, sf, "documents"), "source", "text", alpha=0.5)


def q_dsir_importance(spark: SparkSession, sf: str) -> DataFrame:
    # DSIR-style importance: hashed-bigram NB log-likelihood ratio of
    # the lang='en' slice vs the rest, mean per gram
    from tripwire_spark.operators.weighting import dsir_importance

    d = _t(spark, sf, "documents")
    return dsir_importance(d, F.col("lang") == "en", "doc_id", "text", buckets=4096)


def q_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    # Composition: temperature weights -> per-domain keep fractions ->
    # deterministic md5 sampling of a 30% corpus budget
    from tripwire_spark.operators.weighting import mixture_sample

    return mixture_sample(
        _t(spark, sf, "documents"), "source", "text", "doc_id", alpha=0.5, budget_frac=0.3
    ).select("doc_id", "source", "lang", "n_chars")


def q_curation_verdicts(spark: SparkSession, sf: str) -> DataFrame:
    # End-to-end curation decision per doc: quality -> repetition ->
    # language -> exact-dup keep-first (first failed gate = verdict)
    from tripwire_spark.operators.textstats import curation_verdicts

    return curation_verdicts(_t(spark, sf, "documents"), "doc_id", "text", langs=("en",))


def q_url_traps(spark: SparkSession, sf: str) -> DataFrame:
    # Dynamic crawl-trap detection: per-(host, URL-shape) explosion
    # counts — calendar/session/facet URLs collapse to one shape
    from tripwire_spark.operators.frontier import detect_url_traps

    e = _t(spark, sf, "events")
    url = F.when(
        F.pmod(F.col("event_id"), F.lit(2)) == 0,
        F.format_string(
            "http://trap%02d.test/cal/2026/%d?session=%d",
            F.pmod(F.col("user_id"), F.lit(3)).cast("int"),
            F.col("event_id"),
            F.col("event_id") * 7,
        ),
    ).otherwise(
        F.format_string(
            "http://site%02d.test/about/team",
            F.pmod(F.col("user_id"), F.lit(40)).cast("int"),
        )
    )
    return detect_url_traps(e.select(url.alias("url")), limit=200)


def q_host_rank(spark: SparkSession, sf: str) -> DataFrame:
    # Integer-exact PageRank (3 iterations, damping 85%) over a host
    # graph derived deterministically from events — the frontier
    # prioritization signal (reference ranks hosts by Alexa position;
    # alexa.src / queue_sites seed order)
    from tripwire_spark.operators.graph import page_rank

    e = _t(spark, sf, "events").select(
        F.format_string("h%02d", F.pmod(F.col("user_id"), F.lit(50)).cast("int")).alias("src"),
        F.format_string("h%02d", F.pmod(F.col("event_id"), F.lit(50)).cast("int")).alias("dst"),
    )
    return page_rank(e, "src", "dst", iterations=3)


def q_ip4_algebra(spark: SparkSession, sf: str) -> DataFrame:
    # C5: ip4/ip4r algebra on int64 (schema.sql:398-1467); /24 masking (C7)
    c = _t(spark, sf, "customer")
    ip = F.pmod(F.col("c_custkey") * F.lit(2654435761), F.lit(4294967296)).cast("long")
    net24 = ip.bitwiseAND(F.lit(4294967040))
    dotted = F.concat_ws(
        ".",
        F.shiftrightunsigned(ip, 24).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftrightunsigned(ip, 16).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftrightunsigned(ip, 8).bitwiseAND(F.lit(255)).cast("string"),
        ip.bitwiseAND(F.lit(255)).cast("string"),
    )
    return c.select(
        F.col("c_custkey").alias("custkey"),
        ip.alias("ip"),
        net24.alias("net24"),
        dotted.alias("dotted"),
        ip.between(F.lit(1 << 30), F.lit(3 << 30)).alias("in_range"),
    )


def q_keyword_count(spark: SparkSession, sf: str) -> DataFrame:
    # A6: keyword occurrence counting (submitcheck.js:6-14,130-141)
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("(slow|merge|join)"), 0)).cast("long").alias("n_kw"),
    )


def q_fill_pct(spark: SparkSession, sf: str) -> DataFrame:
    # A5: fill-success percentage, 1-decimal rounding (tripwire.js:185-206)
    e = _t(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) * 100.0 / F.count("*"), 1
        ).alias("fill_pct")
    )


def q_public_view(spark: SparkSession, sf: str) -> DataFrame:
    # C6+C7+C8 combo: the public_login_info_v1 coarsening (schema.sql:2034-2035)
    e = _t(spark, sf, "events")
    ip = F.pmod(F.col("user_id") * F.lit(2654435761), F.lit(4294967296)).cast("long")
    return (
        e.select(
            F.date_trunc("week", F.col("ts")).alias("week_ts"),
            ip.bitwiseAND(F.lit(4294967040)).alias("net24"),
            (F.floor(F.col("value") / 50) * 50).cast("long").alias("value_bucket"),
        )
        .groupBy("week_ts", "net24", "value_bucket")
        .agg(F.count("*").alias("n"))
    )


def q_login_info_v2(spark: SparkSession, sf: str) -> DataFrame:
    # J2: 6-way join + min agg (login_info_v2, schema.sql:1945-1946)
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"], "left")
        .groupBy("r_name", "s_name")
        .agg(F.count("*").alias("n_items"), F.min("o_totalprice").alias("min_price"))
    )


def q_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    # A7/T5: sliding failure counter over last 20 samples (proxy-watch:25-36)
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-19, 0)
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).over(w).alias("fails_in_window"),
    )


def q_heartbeat_liveness(spark: SparkSession, sf: str) -> DataFrame:
    # T6: alive = heard recently (redbeat.py:28-38)
    e = _t(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.max("ts").alias("last_beat"),
        (F.max("ts") >= F.lit("2024-01-30 00:00:00").cast("timestamp")).alias("alive"),
    )


def q_visibility_delay(spark: SparkSession, sf: str) -> DataFrame:
    # F7/T3: ignore_until visibility gate (handle_email.py:676-688)
    e = _t(spark, sf, "events")
    return (
        e.filter(
            (F.col("ts") <= F.lit("2024-01-15 00:00:00").cast("timestamp"))
            & (F.col("event_type") != "error")
        )
        .select("event_id", "user_id", "ts")
    )


def q_dequeue_batch(spark: SparkSession, sf: str) -> DataFrame:
    # O4/O6: ORDER BY ... LIMIT batch dequeue (handle_email.py:683-688)
    e = _t(spark, sf, "events")
    return e.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(10).select("event_id", "user_id", "ts")


def q_distinct_segments(spark: SparkSession, sf: str) -> DataFrame:
    # D6: SELECT DISTINCT (force-pull-compromised:13-14)
    return _t(spark, sf, "customer").select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# batch 3: mail pipeline (C10-C14, W5, F9, D1 — SURVEY.md §3.3)


def _synth_emails(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic emails from orders: the body plants one good
    confirmation URL, a blacklisted-domain URL, an image URL (regex-
    excluded), a too-short URL, and (o%3==0) a repeat of the good URL."""
    o = _t(spark, sf, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(10)) < 3)
    c, k = F.col("o_custkey"), F.col("o_orderkey")
    good = F.concat(F.lit("https://shop"), c, F.lit(".example.com/confirm/account/"), k, F.lit("xyz"))
    subject = (
        F.when(F.pmod(k, F.lit(5)) == 0, F.lit("Please confirm your account"))
        .when(F.pmod(k, F.lit(5)) == 1, F.lit("Welcome aboard"))
        .when(F.pmod(k, F.lit(5)) == 2, F.lit("Invoice attached"))
        .when(F.pmod(k, F.lit(5)) == 3, F.lit("Activate your profile"))
        .otherwise(F.lit("Random newsletter"))
    )
    body = F.concat(
        F.lit("Visit "), good, F.lit(" now or "),
        F.lit("https://www.google.com/confirm/account/"), k, F.lit("xyzzz "),
        F.lit("img http://img"), c, F.lit(".example.com/banner/image123.png "),
        F.lit("short https://s"), c, F.lit(".example.com/a "),
        F.when(F.pmod(k, F.lit(3)) == 0, F.concat(F.lit("again "), good, F.lit(" "))).otherwise(F.lit("")),
    )
    return o.select(k.alias("umid"), subject.alias("subject"), body.alias("body"))


def q_mail_best_url(spark: SparkSession, sf: str) -> DataFrame:
    # Full mail dataflow: subject filter (F9) -> URL_PATTERN extraction
    # (C10) -> exact C11 scoring -> repeat bonus (D1) -> top-1 (W5)
    from tripwire_spark.operators.mail_pipeline import best_confirmation_urls

    return best_confirmation_urls(_synth_emails(spark, sf))


def q_mail_parse(spark: SparkSession, sf: str) -> DataFrame:
    # C12 subject decode + C14 to-address precedence/unwrap
    from tripwire_spark.functions.mail import decode_subject, extract_to

    o = _t(spark, sf, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(10)) < 2)
    c, k = F.col("o_custkey"), F.col("o_orderkey")
    raw_headers = F.when(
        F.pmod(k, F.lit(2)) == 0,
        F.concat(F.lit("To: Order Alerts <alerts"), c, F.lit("@mail.test>\n\n")),
    ).otherwise(F.concat(F.lit("To: user"), c, F.lit("@mail.test\n\n")))
    subject = F.when(F.pmod(k, F.lit(2)) == 0, F.lit("=?utf-8?q?Please_confirm_now?=")).otherwise(
        F.lit("Welcome aboard")
    )
    return o.select(
        k.alias("umid"),
        extract_to(raw_headers).alias("to_addr"),
        decode_subject(subject).alias("subject_decoded"),
    )


def q_link_scoring(spark: SparkSession, sf: str) -> DataFrame:
    # C18 link weights + D3 pairwise reweight fold
    # (pagefinder/expressions.js:3-17, pagefinder.js:79-93)
    from tripwire_spark.functions.scoring import link_weight

    o = _t(spark, sf, "orders")
    texts = [
        "Sign up",            # sign[ -]*up 6
        "Register here",      # regist 5
        "create an account",  # account 3.5 then create.*account 11 -> max+1 = 12
        "Login",              # log *in 3
        "next page",          # no match -> NULL
        "Join the forum",     # join[^t] 4 then forum 2 -> max+1 = 5
        "Visit facebook page",  # facebook -8
        "facebook account",   # account 3.5 then facebook -8 -> negative wins
    ]
    t = F.element_at(F.array(*[F.lit(x) for x in texts]), (F.pmod(F.col("o_orderkey"), F.lit(8)) + 1).cast("int"))
    return o.select(
        F.col("o_orderkey").alias("umid"), t.alias("anchor_text"), link_weight(t).alias("weight")
    )


def q_form_discovery(spark: SparkSession, sf: str) -> DataFrame:
    # C17 form scoring + W4 top-1 + isRegPage threshold over REAL fixture
    # HTML (synth_pages embeds the signup form on p%7==3 pages)
    from tripwire_spark.functions.html import extract_forms
    from tripwire_spark.functions.scoring import MIN_FORM_SCORE, form_score
    from tripwire_spark.sources.synth import synth_pages

    c = _t(spark, sf, "customer")
    keys = c.select(
        F.pmod(F.col("c_custkey"), F.lit(40)).alias("h"), F.pmod(F.col("c_custkey"), F.lit(8)).alias("p")
    ).distinct()
    pages = synth_pages(spark, n_hosts=40, n_pages=8, n_links=3)
    sel = keys.select(F.format_string("http://site%04d.test/p%d", "h", "p").alias("url")).join(
        pages, "url"
    )
    forms = sel.select("url", F.explode(extract_forms("html")).alias("f"))
    scored = forms.select(
        "url",
        form_score(
            F.col("f.action"), F.col("f.form_id"), F.col("f.name"),
            F.col("f.buttons"), F.col("f.n_password"), F.col("f.n_visible"),
        ).alias("score"),
    )
    w = Window.partitionBy("url").orderBy(F.col("score").desc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("url", "score", (F.col("score") >= MIN_FORM_SCORE).alias("is_reg_page"))
    )


# ---------------------------------------------------------------------------
# round-2 gap batch: F11, J7, C13, A1, F13, T4, O2, S6, F10, D2, J3/F6, C15


def q_recaptcha_filter(spark: SparkSession, sf: str) -> DataFrame:
    # F11: the recaptcha kill-switch (tripwire.js:122-134) ahead of fill
    from tripwire_spark.functions.formfill import recaptcha_gate

    o = _t(spark, sf, "orders")
    html = F.when(
        F.pmod(F.col("o_orderkey"), F.lit(4)) == 0,
        F.concat(F.lit('<form id="f'), F.col("o_orderkey"), F.lit('"><div class="g-recaptcha"></div></form>')),
    ).otherwise(F.concat(F.lit('<form id="f'), F.col("o_orderkey"), F.lit('"><input name="email"></form>')))
    pages = o.select(F.col("o_orderkey").alias("umid"), html.alias("html"))
    return recaptcha_gate(pages).select("umid", "html")


def q_nested_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    # J7: the two-step semi-then-anti mail dequeue exclusion
    # (handle_email.py:676-688): parts are eligible unless mapped (via
    # lineitem) to a supplier in a 'running' nation
    p = _t(spark, sf, "part")
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    running = s.filter(F.col("s_nationkey") < 5).select("s_suppkey")
    mapped = l.join(running, l["l_suppkey"] == running["s_suppkey"], "left_semi").select(
        F.col("l_partkey").alias("p_partkey")
    )
    return p.join(mapped, "p_partkey", "left_anti").select("p_partkey", "p_name")


def q_select_payload(spark: SparkSession, sf: str) -> DataFrame:
    # C13: multipart payload selection — prefer text/plain (w1) over
    # text/html (w5), recursing with min weight (handle_email.py:303-327)
    from tripwire_spark.functions.mail import select_payload

    o = _t(spark, sf, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(10)) < 2)
    k = F.col("o_orderkey")
    plain = F.concat(F.lit("plain body "), k)
    htmlb = F.concat(F.lit("<p>html body "), k, F.lit("</p>"))
    multi = F.concat(
        F.lit('Content-Type: multipart/alternative; boundary="BB"\n\n--BB\n'),
        F.lit("Content-Type: text/html\n\n"), htmlb,
        F.lit("\n--BB\nContent-Type: text/plain\n\n"), plain, F.lit("\n--BB--\n"),
    )
    html_only = F.concat(F.lit("Content-Type: text/html\n\n"), htmlb)
    plain_only = F.concat(F.lit("Content-Type: text/plain\n\n"), plain)
    raw = (
        F.when(F.pmod(k, F.lit(3)) == 0, multi)
        .when(F.pmod(k, F.lit(3)) == 1, html_only)
        .otherwise(plain_only)
    )
    return o.select(k.alias("umid"), select_payload(raw).alias("payload"))


def q_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    # A1: grouped min + count-distinct (login_info, schema.sql:1905)
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    o = _t(spark, sf, "orders")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


def q_sanitize_names(spark: SparkSession, sf: str) -> DataFrame:
    # F13: group/type name sanitization [a-zA-Z0-9_-] (common_utils.py:242-246)
    from tripwire_spark.operators.identity import name_valid

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    name = F.element_at(
        F.array(
            F.lit("batch-01"), F.lit("test_group"), F.lit("bad group"),
            F.lit("ok-Name_2"), F.lit("semi;colon"), F.lit("dot.name"),
        ),
        (F.pmod(k, F.lit(6)) + 1).cast("int"),
    )
    return c.select(k.alias("custkey"), name.alias("id_group"), name_valid(name).alias("valid"))


def q_recheck_schedule(spark: SparkSession, sf: str) -> DataFrame:
    # T4: re-check timers 2 min / 12 min after the event (CHECK_DELAYS,
    # tripwire-mail-checker:26)
    from tripwire_spark.streaming.monitor import recheck_schedule

    e = _t(spark, sf, "events").filter(F.col("event_type") == "signup")
    out = recheck_schedule(e.select("event_id", "user_id", F.col("ts").alias("regtime")))
    return out.select("event_id", "user_id", "delay_s", "scheduled_ts")


def q_identity_claim(spark: SparkSession, sf: str) -> DataFrame:
    # O2: rank-and-zip identity allocation (common_queries.py:237-250):
    # k-th demand per segment gets the k-th lowest free identity
    from tripwire_spark.operators.identity import claim_identities

    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    segs = F.array(*[F.lit(s) for s in ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]])
    demand = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("demand_id"),
        F.element_at(segs, (F.pmod(F.col("o_orderkey"), F.lit(5)) + 1).cast("int")).alias("id_group"),
        F.lit("default").alias("id_type"),
    )
    identities = c.select(
        F.col("c_custkey").alias("iid"),
        F.col("c_mktsegment").alias("id_group"),
        F.lit("default").alias("id_type"),
        (F.pmod(F.col("c_custkey"), F.lit(7)) != 0).alias("enabled"),
        (F.pmod(F.col("c_custkey"), F.lit(11)) == 0).alias("used"),
        F.lit(True).alias("verified"),
        F.lit(False).alias("in_use"),
    )
    assignments = c.filter(F.pmod(F.col("c_custkey"), F.lit(13)) == 0).select(
        F.col("c_custkey").alias("iid")
    )
    out = claim_identities(demand, identities, assignments, demand_order=["demand_id"])
    return out.select("demand_id", "id_group", "iid")


def q_eml_backup_path(spark: SparkSession, sf: str) -> DataFrame:
    # S6: by-username/<initial>/<username> backup sharding
    # (handle_email.py:76-96); missing usernames -> __MISSING__
    from tripwire_spark.operators.identity import eml_backup_path

    c = _t(spark, sf, "customer")
    un = F.when(
        F.pmod(F.col("c_custkey"), F.lit(20)) == 0, F.lit(None).cast("string")
    ).otherwise(F.concat(F.lit("User"), F.col("c_custkey")))
    return c.select(
        F.col("c_custkey").alias("custkey"), eml_backup_path(un).alias("backup_path")
    )


def q_page_guard(spark: SparkSession, sf: str) -> DataFrame:
    # F10: google/facebook page guard aborts the link walk
    # (pagefinder.js:159-176,200-203)
    from tripwire_spark.operators.crawl import PAGE_GUARD

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    url = F.element_at(
        F.array(
            F.concat(F.lit("http://site"), k, F.lit(".test/p1")),
            F.concat(F.lit("https://www.google.com/search?q="), k),
            F.concat(F.lit("https://shop"), k, F.lit(".example.com/signup")),
            F.concat(F.lit("https://facebook.com/page"), k),
        ),
        (F.pmod(k, F.lit(4)) + 1).cast("int"),
    )
    return c.select(k.alias("custkey"), url.alias("url")).filter(~url.rlike(PAGE_GUARD))


def q_clicked_text_memory(spark: SparkSession, sf: str) -> DataFrame:
    # D2: clicked-link text memory across passes — a candidate repeating
    # a text already followed on the same site in an EARLIER round is
    # skipped; same-round repeats survive (pagefinder.js:101-104,277-279)
    e = _t(spark, sf, "events")
    texts = F.array(
        F.lit("Sign up"), F.lit("Register"), F.lit("Join now"), F.lit("Account"), F.lit("Login")
    )
    links = e.select(
        F.col("event_id").alias("link_id"),
        F.format_string("site%02d.test", F.pmod(F.col("user_id"), F.lit(25))).alias("phost"),
        (F.pmod(F.col("event_id"), F.lit(3)) + 1).alias("round"),
        F.element_at(texts, (F.pmod(F.col("event_id"), F.lit(5)) + 1).cast("int")).alias("lt"),
    )
    w = Window.partitionBy("phost", "lt")
    return (
        links.withColumn("first_round", F.min("round").over(w))
        .filter(F.col("round") == F.col("first_round"))
        .select("link_id", "phost", "round", "lt")
    )


def q_mail_rid_view(spark: SparkSession, sf: str) -> DataFrame:
    # J3 + F6 + O3 composed: registrations join identities, 10-day
    # recency window, latest per identity (schema.sql:1953-1954;
    # handle_email.py:280-289)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    # now() analog = 1998-07-25 (fixed replay point); 10-day window
    recent = o.filter(F.col("o_orderdate") > F.lit("1998-07-15").cast("date"))
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    latest = recent.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return latest.join(c, latest["o_custkey"] == c["c_custkey"]).select(
        F.col("o_orderkey").alias("rid"),
        F.col("c_custkey").alias("iid"),
        F.lower(F.col("c_name")).alias("username"),
        F.col("o_orderdate").alias("regtime"),
    )


def q_link_text_fallback(spark: SparkSession, sf: str) -> DataFrame:
    # C15: link text falls back text -> val -> alt (pagefinder.js:131-156);
    # image links score by alt instead of dying on the 1..30 length gate
    from tripwire_spark.functions.html import extract_links

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    html = F.element_at(
        F.array(
            F.concat(F.lit('<html><body><a href="/r'), k, F.lit('">Register here</a></body></html>')),
            F.concat(F.lit('<html><body><a href="/r'), k, F.lit('"><img src="b.png" alt="Sign up now"></a></body></html>')),
            F.concat(F.lit('<html><body><a href="/r'), k, F.lit('" value="Join the club"></a></body></html>')),
            F.concat(F.lit('<html><body><a href="/r'), k, F.lit('"><img src="b.png"></a></body></html>')),
        ),
        (F.pmod(k, F.lit(4)) + 1).cast("int"),
    )
    links = c.select(k.alias("custkey"), F.explode(extract_links(html)).alias("l"))
    return links.select("custkey", F.col("l.text").alias("link_text"))


def q_top_link(spark: SparkSession, sf: str) -> DataFrame:
    # W3: top-1 link per page over REAL fixture HTML — extract anchors,
    # score (C18 + D3 fold), drop non-matching/negative, rank by weight
    # desc with document order ties (pagefinder.js:116-126,246-249)
    from tripwire_spark.functions.html import extract_links
    from tripwire_spark.functions.scoring import score_links
    from tripwire_spark.sources.synth import synth_pages

    c = _t(spark, sf, "customer")
    keys = c.select(F.pmod(F.col("c_custkey"), F.lit(40)).alias("h")).distinct()
    pages = synth_pages(spark, n_hosts=40, n_pages=8, n_links=3)
    sel = keys.select(
        F.format_string("http://site%04d.test/p%d", "h", F.pmod("h", F.lit(8))).alias("url")
    ).join(pages, "url")
    links = sel.select("url", F.explode(extract_links("html")).alias("l")).select(
        "url", F.col("l.text").alias("text"), F.col("l.pos").alias("pos")
    )
    scored = score_links(links)
    w = Window.partitionBy("url").orderBy(F.col("weight").desc(), F.col("pos"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("url", F.col("text").alias("best_text"), "weight", "pos")
    )


def q_dns_validate(spark: SparkSession, sf: str) -> DataFrame:
    # C3: norm_dns_name + dns_name_valid (schema.sql:893-898,27-32)
    from tripwire_spark.functions.urls import dns_name_valid, norm_dns_name

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    host = F.element_at(
        F.array(
            F.concat(F.lit("Shop"), k, F.lit(".Example.COM")),
            F.concat(F.lit("host"), k, F.lit(".test.")),
            F.concat(F.lit("-bad"), k, F.lit(".test")),
            F.concat(F.lit("under_score"), k, F.lit(".test")),
            F.concat(F.lit("double..dot"), k, F.lit(".test")),
        ),
        (F.pmod(k, F.lit(5)) + 1).cast("int"),
    )
    return c.select(
        k.alias("custkey"),
        norm_dns_name(host).alias("norm_name"),
        dns_name_valid(host).alias("is_valid"),
    )


def q_conf_render(spark: SparkSession, sf: str) -> DataFrame:
    # C22: identity -> JS conf template substitution
    # (get_conf_file.py:180-202 string.Template over identity fields)
    from tripwire_spark.functions.identity_conf import render_conf

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    return c.select(
        k.alias("iid"),
        render_conf(
            iid=k,
            username=F.concat(F.lit("user"), k),
            email=F.concat(F.lit("user"), k, F.lit("@mail.test")),
            password=F.concat(F.lit("pw"), F.pmod(k * 7, F.lit(100000))),
        ).alias("conf_js"),
    )


def q_mail_e2e(spark: SparkSession, sf: str) -> DataFrame:
    # The composed accept_mail dataflow over RAW RFC-822 multipart
    # messages (handle_email.py:496-573): C14+C12+C13 in one parse, F9
    # gate, C10+C11+W5 over the SELECTED payload.  The html part plants
    # a decoy URL that must never win because payload selection prefers
    # text/plain.
    from tripwire_spark.operators.mail_pipeline import accept_mail

    o = _t(spark, sf, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(10)) < 3)
    c, k = F.col("o_custkey"), F.col("o_orderkey")
    to_hdr = F.when(
        F.pmod(k, F.lit(2)) == 0,
        F.concat(F.lit("To: Order Alerts <alerts"), c, F.lit("@mail.test>\n")),
    ).otherwise(F.concat(F.lit("To: user"), c, F.lit("@mail.test\n")))
    subj_hdr = F.when(
        F.pmod(k, F.lit(3)) == 0, F.lit("Subject: =?utf-8?q?Please_confirm_your_account?=\n")
    ).when(F.pmod(k, F.lit(3)) == 1, F.lit("Subject: Random newsletter\n")).otherwise(
        F.lit("Subject: Welcome aboard\n")
    )
    good = F.concat(F.lit("https://shop"), c, F.lit(".example.com/confirm/account/"), k, F.lit("xyz"))
    decoy = F.concat(F.lit("https://decoy"), c, F.lit(".example.com/confirm/account/"), k, F.lit("zz"))
    raw = F.concat(
        to_hdr,
        subj_hdr,
        F.lit('Content-Type: multipart/alternative; boundary="BB"\n\n--BB\n'),
        F.lit("Content-Type: text/html\n\n<p>see "), decoy, F.lit(" </p>\n--BB\n"),
        F.lit("Content-Type: text/plain\n\nVisit "), good, F.lit(" now\n--BB--\n"),
    )
    return accept_mail(o.select(k.alias("umid"), raw.alias("raw")))


# ---------------------------------------------------------------------------
# formfiller (C19 + W6 + A5/verification) — formfiller/expressions.js:1-224,
# formfiller.js:296-377,703-742, tripwire.js:269-287

# 16 deterministic field specs (id, name, value, type, tag, label,
# placeholder, near_text); NULL = undefined attr.  Spec s = custkey % 16.
_FIELD_SPECS: list[tuple] = [
    ("email", "email", None, "email", "input", None, None, None),
    ("user_name", "username", None, "text", "input", "Username", None, None),
    ("pass", "password", None, "password", "input", None, None, None),
    ("first_name", "fname", None, "text", "input", "First name", None, None),
    ("lastname", "surname", None, "text", "input", "Last name", None, None),
    ("phone_number", "phone", None, "tel", "input", None, None, None),
    ("dob_month", "birth_month", None, "text", "input", None, None, None),
    ("captcha_input", "captcha", None, "text", "input", "Enter the security code", None, None),
    ("zip", "zipcode", None, "text", "input", "ZIP / Postal code", None, None),
    ("sex", "gender", None, None, "select", None, None, None),
    ("country", "country_code", None, "text", "input", "Country", None, None),
    ("address1", "street_address", None, "text", "input", "Street address", None, None),
    ("city", "town", None, "text", "input", None, None, "City / Town"),
    ("agree_terms", "terms", "yes", "checkbox", "input", None, None, None),
    ("submit_btn", "signup", "Sign up!", "submit", "input", None, None, None),
    ("bday_year", "year", None, "text", "input", None, "YYYY", None),
]

_FIELD_ATTR_NAMES = ["id", "name", "value", "type", "tag", "label", "placeholder", "near_text"]


def _synth_fields(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    s = (F.pmod(F.col("c_custkey"), F.lit(16)) + 1).cast("int")
    cols = [F.col("c_custkey").alias("custkey")]
    for ai, attr in enumerate(_FIELD_ATTR_NAMES):
        arr = F.array(*[F.lit(spec[ai]).cast("string") for spec in _FIELD_SPECS])
        cols.append(F.element_at(arr, s).alias(attr))
    return c.select(*cols)


def _fields_cte() -> str:
    """The DuckDB twin of _synth_fields."""
    picks = []
    for ai, attr in enumerate(_FIELD_ATTR_NAMES):
        vals = ", ".join(
            "NULL" if spec[ai] is None else "'" + spec[ai] + "'" for spec in _FIELD_SPECS
        )
        picks.append(f'([{vals}])[(c_custkey % 16) + 1] AS "{attr}"')
    return "SELECT c_custkey AS custkey, " + ", ".join(picks) + " FROM customer"


def _patterns_values_sql() -> str:
    """Attr-expanded pattern table as a VALUES list (expressions.js:1-224
    via formfill.EXPANDED_PATTERNS — DuckDB re-runs every regex with its
    own engine, so matching itself is independently verified)."""
    from tripwire_spark.functions.formfill import EXPANDED_PATTERNS

    rows = ", ".join(
        f"({o}, '{pt}', '{a}', '{rx}', {w}, {str(d).lower()})"
        for (o, pt, pi, a, rx, w, d) in EXPANDED_PATTERNS
    )
    return f"pat(ord, ptype, attr, pattern, weight, die_on_fail) AS (VALUES {rows})"


def q_field_pattern_match(spark: SparkSession, sf: str) -> DataFrame:
    # C19: every (field, pattern, attr) match (formfiller.js:296-377)
    from tripwire_spark.functions.formfill import field_pattern_matches

    return field_pattern_matches(_synth_fields(spark, sf), ["custkey"])


def q_field_best_pattern(spark: SparkSession, sf: str) -> DataFrame:
    # W6: best pattern per field (formfiller.js:703-710); oracle is
    # hand-traced per spec
    from tripwire_spark.functions.formfill import best_field_pattern, field_pattern_matches

    m = field_pattern_matches(_synth_fields(spark, sf), ["custkey"])
    return best_field_pattern(m, ["custkey"]).select(
        "custkey", "ptype", "attr", "pattern", "weight", "die_on_fail"
    )


def q_fill_plan(spark: SparkSession, sf: str) -> DataFrame:
    # The fill walk (formfiller.js:714-742): first valued type in
    # (weight desc, ord) order; buttons trivial; captcha-only unfilled
    from tripwire_spark.functions.formfill import fill_plan

    return fill_plan(_synth_fields(spark, sf), ["custkey"])


def q_form_fill_report(spark: SparkSession, sf: str) -> DataFrame:
    # A5 fill-pct + required-set verification (tripwire.js:269-287) per
    # form (form = 16 consecutive custkeys)
    from tripwire_spark.functions.formfill import fill_plan, form_fill_report

    fields = _synth_fields(spark, sf).withColumn(
        "fid", F.floor(F.col("custkey") / 16).cast("long")
    )
    plan = fill_plan(fields, ["fid", "custkey"])
    return form_fill_report(plan, ["fid"])


_ADJS = ["Quick", "Calm", "Brave", "Sly", "Merry", "Stout", "Keen", "Wry"]
_NOUNS = ["Otter", "Falcon", "Maple", "Comet", "Harbor", "Pebble", "Willow", "Drift"]


def q_credentials(spark: SparkSession, sf: str) -> DataFrame:
    # C23: deterministic AdjNoun%02d%02d usernames (mkusername.py:67-114)
    # with hash-free arithmetic selection so both engines agree; md5 of
    # the username mirrors the reference's md5 utility.
    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    adj = F.element_at(F.array(*[F.lit(a) for a in _ADJS]), (F.pmod(k * 7, F.lit(8)) + 1).cast("int"))
    noun = F.element_at(F.array(*[F.lit(n) for n in _NOUNS]), (F.pmod(k * 13, F.lit(8)) + 1).cast("int"))
    username = F.substring(
        F.concat(adj, noun, F.lpad(F.pmod(k * 3, F.lit(100)).cast("string"), 2, "0"),
                 F.lpad(F.pmod(k * 11, F.lit(100)).cast("string"), 2, "0")),
        1, 15,
    )
    # weak password: Capitalized noun + digits to length 8 (mkusername.py:85-89)
    weak = F.rpad(noun, 8, "7")
    return c.select(
        k.alias("custkey"),
        username.alias("username"),
        F.md5(username.cast("binary")).alias("username_md5"),
        weak.alias("weak_password"),
    )


def q_dob_phone_formats(spark: SparkSession, sf: str) -> DataFrame:
    # C21: one value -> acceptable-strings fan-out (get_conf_file.py:50-135)
    o = _t(spark, sf, "orders")
    d = F.col("o_orderdate")
    phone = F.lpad(F.pmod(F.col("o_custkey") * 7919, F.lit(10000000)).cast("string"), 10, "0")
    dob_formats = F.concat_ws(
        "|",
        F.date_format(d, "MM/dd/yyyy"),
        F.date_format(d, "MM-dd-yyyy"),
        F.date_format(d, "yyyy-MM-dd"),
        F.date_format(d, "dd.MM.yyyy"),
        F.date_format(d, "yyyyMMdd"),
        F.date_format(d, "M/d/yyyy"),
    )
    phone_formats = F.concat_ws(
        "|",
        phone,
        F.concat(F.lit("("), F.substring(phone, 1, 3), F.lit(") "), F.substring(phone, 4, 3), F.lit("-"), F.substring(phone, 7, 4)),
        F.concat(F.substring(phone, 1, 3), F.lit("-"), F.substring(phone, 4, 3), F.lit("-"), F.substring(phone, 7, 4)),
    )
    return o.select(
        F.col("o_orderkey").alias("umid"), dob_formats.alias("dob_formats"), phone_formats.alias("phone_formats")
    )


def q_gid_sharding(spark: SparkSession, sf: str) -> DataFrame:
    # C24: gid -> %08d -> aa/bb/cc/dd output sharding (run_queue_nowrap:157-169)
    o = _t(spark, sf, "orders")
    g = F.lpad(F.col("o_orderkey").cast("string"), 8, "0")
    return o.select(
        F.col("o_orderkey").alias("gid"),
        F.concat_ws(
            "/", F.substring(g, 1, 2), F.substring(g, 3, 2), F.substring(g, 5, 2), F.substring(g, 7, 2)
        ).alias("shard_path"),
    )


def q_submit_check(spark: SparkSession, sf: str) -> DataFrame:
    # Post-submit verification state machine (submitcheck.js:144-264):
    # pre/post ERROR+COMEON keyword deltas, retry-once when the form
    # survives the first click, ec 70/71 mapping.  Six scenario classes
    # (doc_id % 6) exercise every verdict branch: clean pass,
    # retry-then-pass, form-survives-retry (70), still-reg-page (71),
    # error-words-increased, url-unchanged.
    from tripwire_spark.operators.submitcheck import submit_check

    d = _t(spark, sf, "documents")
    s = F.pmod(F.col("doc_id"), F.lit(6))
    pre_url = F.concat(F.lit("http://site"), F.col("doc_id"), F.lit(".test/register"))
    pre_text = F.concat(F.lit("Register now sign up "), F.col("text"))
    done_url = F.concat(F.lit("http://site"), F.col("doc_id"), F.lit(".test/done"))
    post_text = F.element_at(
        F.array(
            F.lit("welcome aboard thank you"),
            F.lit("Register still sign up"),
            F.lit("Register still sign up"),
            F.lit("thank you confirmation page"),
            F.concat(F.lit("error invalid warning error "), pre_text),
            F.lit("welcome aboard"),
        ),
        (s + 1).cast("int"),
    )
    attempts = d.select(
        F.col("doc_id").alias("page_id"),
        pre_url.alias("pre_url"),
        pre_text.alias("pre_text"),
        F.when(s == 5, pre_url).otherwise(done_url).alias("post_url"),
        post_text.alias("post_text"),
        s.isin(1, 2).alias("post_form_exists"),
        s.isin(1, 2, 3).alias("post_is_reg"),
        F.when(s == 1, F.concat(done_url, F.lit("?ok"))).otherwise(done_url).alias("retry_url"),
        F.when(s == 1, F.lit("welcome aboard")).otherwise(post_text).alias("retry_text"),
        (s == 2).alias("retry_form_exists"),
        (s == 2).alias("retry_is_reg"),
    )
    return submit_check(attempts)


def q_clicked_text_hash(spark: SparkSession, sf: str) -> DataFrame:
    # D2 as the crawl actually runs it (crawl.py:141-159): the
    # clicked-text state is the single 64-bit key ck = xxhash64(parent
    # host, anchor text); a candidate is followed iff no SAME ck was
    # followed in an earlier round.  The oracle restates admit-then-probe
    # on the explicit (phost, text) pair key — equal output pins the
    # xxhash64 collision-tolerance contract (a collision would suppress
    # extra links here and hash-mismatch).
    e = _t(spark, sf, "events")
    texts = F.array(
        F.lit("Sign up"), F.lit("Register"), F.lit("Join now"), F.lit("Account"), F.lit("Login")
    )
    links = e.select(
        F.col("event_id").alias("link_id"),
        F.format_string("site%02d.test", F.pmod(F.col("user_id"), F.lit(25))).alias("phost"),
        (F.pmod(F.col("event_id"), F.lit(3)) + 1).alias("round"),
        F.element_at(texts, (F.pmod(F.col("event_id"), F.lit(5)) + 1).cast("int")).alias("lt"),
    ).withColumn("ck", F.xxhash64("phost", "lt"))
    w = Window.partitionBy("ck")  # the HASH key, not the string pair
    return links.withColumn(
        "followed", F.col("round") == F.min("round").over(w)
    ).select("link_id", "phost", "round", "lt", "followed")


def q_token_shard_pack(spark: SparkSession, sf: str) -> DataFrame:
    # Training-shard packing: sequential-fill fixed-token-budget shards
    # over the documents corpus.  The Spark side runs the two-phase
    # distributed cumsum (operators/packing.py); the oracle is the
    # single-window SQL restatement of the same contract — equal output
    # proves the partition-parallel plan computes the global running sum
    # exactly.
    from tripwire_spark.operators.packing import pack_shards

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    return pack_shards(d, budget=2000, token_col="n_tokens", order_col="doc_id", n_buckets=16)


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic per-language sampling with a content-derived (md5)
    # selector — reproducible across engines/runs/cluster sizes; the
    # DuckDB twin replays the exact same keep decisions.
    from tripwire_spark.operators.packing import stratified_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang", "source", "n_chars")
    return stratified_sample(
        d, {"en": 0.5, "de": 0.25, "zh": 0.1}, group_col="lang", id_col="doc_id"
    )


def q_doc_sentences(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic sentence segmentation (lookaround-free, identical
    # under java.util.regex and RE2) exploded to one row per sentence
    from tripwire_spark.operators.textstats import sentences

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", F.posexplode(sentences(F.col("text"))).alias("sent_id", "sentence")
    ).select("doc_id", F.col("sent_id").cast("long").alias("sent_id"), "sentence")


def q_doc_bpe_tokens(spark: SparkSession, sf: str) -> DataFrame:
    # BPE-ish regex token counting next to the whitespace count (the
    # GPT-2 pre-tokenizer split, RE2-compatible subset)
    from tripwire_spark.operators.textstats import bpe_token_count, tokens

    d = _t(spark, sf, "documents")
    ws = F.size(F.filter(tokens(F.col("text")), lambda x: x != "")).cast("long")
    return d.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        ws.alias("n_ws_tokens"),
        F.when(ws > 0, F.round(bpe_token_count(F.col("text")) / ws, 6))
        .otherwise(F.lit(0.0))
        .alias("bpe_per_ws"),
    )


def q_anchor_profile(spark: SparkSession, sf: str) -> DataFrame:
    # Per-target anchor-text corpus over the deterministic synth link
    # graph; the oracle regenerates the same (target, text) multiset
    # closed-form from the _anchor_structs construction
    from tripwire_spark.operators.graph import anchor_text_profile
    from tripwire_spark.sources.synth import synth_pages

    pages = synth_pages(spark, n_hosts=40, n_pages=8, n_links=3)
    return anchor_text_profile(pages, k=2)


def q_main_content(spark: SparkSession, sf: str) -> DataFrame:
    # Boilerplate removal over closed-form fixture pages: nav + footer
    # link blocks dropped by link density, prose block kept; the oracle
    # reconstructs the expected main text from the same construction
    from tripwire_spark.functions.boilerplate import main_content

    k = F.col("c_custkey")
    para = F.format_string(
        "sample prose content for page %d with enough plain words to clear "
        "the minimum block length gate %d",
        F.pmod(k, F.lit(7)),
        F.pmod(k, F.lit(5)),
    )
    html = F.concat(
        F.lit('<html><head><title>T</title></head><body>'
              '<div><a href="/h">Home</a> <a href="/a">About</a> '
              '<a href="/c">Contact</a></div><p>'),
        para,
        F.lit('</p><div><a href="/t">Terms</a> <a href="/p">Privacy</a>'
              "</div></body></html>"),
    )
    pages = _t(spark, sf, "customer").select(k.alias("custkey"), html.alias("html"))
    return main_content(pages).select(
        "custkey", "main_text", "n_blocks_kept", "n_blocks_total"
    )


def q_domain_scorecard(spark: SparkSession, sf: str) -> DataFrame:
    # Per-domain curation rollup: how each source survives the
    # quality -> repetition -> language -> dedup gate chain
    from tripwire_spark.operators.textstats import domain_scorecard

    return domain_scorecard(_t(spark, sf, "documents"), group_col="source")


def q_recrawl_schedule(spark: SparkSession, sf: str) -> DataFrame:
    # Freshness estimator over a CDX-shaped capture history synthesized
    # from events: digest transitions -> change rate -> staleness-
    # weighted re-crawl priority (exact int64 ranking)
    from tripwire_spark.operators.frontier import recrawl_schedule

    e = _t(spark, sf, "events")
    cap = e.select(
        F.concat(
            F.lit("http://site"),
            F.pmod(F.col("user_id"), F.lit(40)),
            F.lit(".test/p"),
            F.pmod(F.col("event_id"), F.lit(5)),
        ).alias("url"),
        # session tz is UTC, so the NTZ -> TZ cast matches DuckDB's
        # naive epoch_us exactly
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.md5(
            F.concat(F.lit("v"), F.pmod(F.expr("event_id div 7"), F.lit(3)).cast("string"))
        ).alias("digest"),
    )
    return recrawl_schedule(cap)


def q_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    # fastText/CCNet-style hashed log-odds classifier: train on the
    # corpus with lang=='en' as the label proxy, score every document
    from tripwire_spark.operators.classifier import classifier_score, train_log_odds

    d = _t(spark, sf, "documents")
    w = train_log_odds(d, F.col("lang") == "en", "text", buckets=4096)
    return classifier_score(d, w, "doc_id", "text", buckets=4096, carry=["lang"])


def q_surt_key(spark: SparkSession, sf: str) -> DataFrame:
    # SURT / CDX index key over synthesized quirky URLs (mixed case,
    # www. prefixes, unsorted query params); the oracle reconstructs
    # the expected key closed-form
    from tripwire_spark.functions.urls import surt

    k = F.col("c_custkey")
    raw = F.concat(
        F.lit("HTTP://"),
        F.when(k % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"),
        k,
        F.lit(".Test/p"),
        F.pmod(k, F.lit(7)),
        F.when(F.pmod(k, F.lit(3)) == 0, F.lit("?b=2&a=1"))
        .when(F.pmod(k, F.lit(3)) == 1, F.lit("?a=1"))
        .otherwise(F.lit("")),
    )
    return _t(spark, sf, "customer").select(k.alias("custkey"), surt(raw).alias("surt_key"))


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    # Context-window prep: overlapping 32-token chunks at stride 24,
    # trailing chunks under 8 tokens dropped
    from tripwire_spark.operators.packing import chunk_documents

    return chunk_documents(
        _t(spark, sf, "documents"), window=32, stride=24, min_tokens=8
    )


def q_seen_admit(spark: SparkSession, sf: str) -> DataFrame:
    # F2/D7 as the crawl actually runs them: SeenState.init on a round-1
    # url set, then SeenState.admit of a candidate batch with in-batch
    # repeats — the REAL bucketed delta-segment numpy path (seen.py),
    # not a SQL restatement on the Spark side.  The oracle restates
    # admit-then-dedup on the url STRING (anti-join vs round 1 + first
    # occurrence by ord within the batch); equality pins both the
    # membership semantics and the xxhash64 collision-tolerance
    # contract of the 64-bit hash key.
    from tripwire_spark.operators.seen import SeenState

    e = _t(spark, sf, "events")
    url = F.format_string(
        "http://site%02d.test/p%d",
        F.pmod(F.col("user_id"), F.lit(50)),
        F.pmod(F.col("event_id"), F.lit(20)),
    )
    r1 = (
        e.filter(F.pmod(F.col("event_id"), F.lit(4)) == 0)
        .select(url.alias("url"))
        .select(F.xxhash64("url").alias("url_hash"))
    )
    svc = SeenState(n_buckets=16)
    state = svc.init(r1, "url_hash")
    cand = e.select(
        F.col("event_id").alias("ord"),
        url.alias("url"),
    ).withColumn("url_hash", F.xxhash64("url"))
    admitted = svc.admit(cand, state, "url_hash", order_cols=["ord"], next_seg=1)
    fresh, _delta = SeenState.split(admitted, ["ord", "url", "url_hash"])
    return fresh.select("ord", "url")


def q_domain_intern(spark: SparkSession, sf: str) -> DataFrame:
    # D4: domain interning (insert-if-absent, ref
    # runners/common_queries.py:272-287) — first occurrence per domain
    # by arrival order, ids assigned in insertion order (dense,
    # deterministic); same window shape as frontier.py:74-75.
    e = _t(spark, sf, "events")
    d = e.select(
        F.col("event_id").alias("ord"),
        F.format_string("site%02d.test", F.pmod(F.col("user_id"), F.lit(37))).alias("domain"),
    )
    first = d.groupBy("domain").agg(F.min("ord").alias("first_ord"))
    w = Window.orderBy("first_ord")
    return first.select(
        F.row_number().over(w).cast("long").alias("domain_id"), "domain", "first_ord"
    )


def q_link_length_filter(spark: SparkSession, sf: str) -> DataFrame:
    # F12: link-text length gate 1..30 (html.py:284 — pagefinder skips
    # empty anchors and >30-char texts before scoring).
    e = _t(spark, sf, "events")
    alpha = F.lit("abcdefghijklmnopqrstuvwxyz0123456789____")
    txt = F.substring(alpha, 1, F.pmod(F.col("event_id"), F.lit(40)).cast("int"))
    return (
        e.select(F.col("event_id").alias("link_id"), txt.alias("text"))
        .filter(F.length("text").between(1, 30))
        .select("link_id", "text", F.length("text").cast("long").alias("text_len"))
    )


def q_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    # Connected components over a duplicate-pair edge list (the step
    # that turns near-dup PAIRS into per-doc keep/drop verdicts).  The
    # Spark side runs alternating large-star/small-star
    # (operators/clustering.py — O(log n) shuffle rounds); the oracle
    # is the recursive-CTE transitive closure of the SAME deterministic
    # edge list.  Equal output proves the star iteration reaches the
    # exact min-label fixpoint.
    from tripwire_spark.operators.clustering import connected_components

    e = _t(spark, sf, "events")
    edges = e.select(
        F.pmod(F.col("event_id"), F.lit(500)).cast("long").alias("src"),
        F.pmod(F.col("event_id") * 7 + 3, F.lit(500)).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return connected_components(edges).select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


def q_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # C4-style repeated-line removal: globally keep the FIRST occurrence
    # (by doc_id, position) of every distinct 12-word line, rebuild each
    # doc from its survivors.  One shuffle on the line value; the oracle
    # restates the same first-occurrence window in SQL.
    from tripwire_spark.operators.dedup import dedup_lines

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return dedup_lines(d, "doc_id", "text", words_per_line=12)


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    # PII scrubbing over documents with deterministically injected
    # emails / phones / IPs (the corpus tables are word soup, so the
    # query plants PII the same way on both engines).  Redaction is
    # pure regexp_replace — JVM codegen, no shuffle.
    from tripwire_spark.functions.pii import pii_counts, redact_pii

    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.format_string(
                " contact user%d@example.com or 555-%03d-%04d at 10.%d.3.%d",
                F.col("doc_id"),
                F.pmod(F.col("doc_id"), F.lit(1000)),
                F.pmod(F.col("doc_id") * 3, F.lit(10000)),
                F.pmod(F.col("doc_id"), F.lit(256)),
                F.pmod(F.col("doc_id") * 7, F.lit(256)),
            ),
        ).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    return planted.select(
        "doc_id",
        redact_pii(F.col("text")).alias("clean_text"),
        counts["n_emails"].cast("long").alias("n_emails"),
        counts["n_ips"].cast("long").alias("n_ips"),
        counts["n_phones"].cast("long").alias("n_phones"),
    )


def q_url_blacklist(spark: SparkSession, sf: str) -> DataFrame:
    # F1: the frontier's URL blacklist (deployed/url_pattern_blacklist
    # semantics) as a standalone oracle-checked filter — one compiled
    # single-alternation rlike per row, the same expression
    # frontier.py:54 applies to every discovered link.
    from tripwire_spark.sources.synth import BLACKLIST_PATTERNS

    e = _t(spark, sf, "events")
    hosts = F.array(
        F.lit("shop"), F.lit("google"), F.lit("news"), F.lit("facebook"),
        F.lit("blogspot"), F.lit("forum"), F.lit("youtube"), F.lit("mail"),
    )
    urls = e.select(
        F.col("event_id").alias("link_id"),
        F.format_string(
            "http://%s%d.test/page%d",
            F.element_at(hosts, (F.pmod(F.col("event_id"), F.lit(8)) + 1).cast("int")),
            F.pmod(F.col("event_id"), F.lit(100)),
            F.pmod(F.col("event_id"), F.lit(7)),
        ).alias("url"),
    )
    pat = "|".join(BLACKLIST_PATTERNS)
    return urls.filter(~F.col("url").rlike(pat)).select("link_id", "url")


def q_warc_ingest(spark: SparkSession, sf: str) -> DataFrame:
    # WARC -> pages-table ingestion (BASELINE input_hint: Common-Crawl
    # -style archives).  Each supplier key becomes a one-record
    # .warc.gz built ON THE EXECUTORS with the fixture writer (the same
    # framing Common Crawl uses: one gzip member per record, HTTP
    # response payload); parse_warc must recover url/timestamp/body
    # byte-exactly, pinned by a closed-form oracle.
    import pandas as pd

    from tripwire_spark.sources.warc import parse_warc, write_warc

    s = _t(spark, sf, "supplier").select("s_suppkey")

    def mk(batches):
        for pdf in batches:
            rows = []
            for k in pdf["s_suppkey"]:
                k = int(k)
                url = f"http://site{k}.test/w{k % 7}"
                ts = f"2026-08-{10 + k % 17:02d}T01:02:{k % 60:02d}Z"
                body = f"<html><body>warc {k}</body></html>".encode()
                rows.append((f"mem://{k}.warc.gz", write_warc([(url, ts, body)])))
            yield pd.DataFrame(rows, columns=["path", "content"])

    files = s.mapInPandas(mk, "path string, content binary")
    return parse_warc(files).select(
        "url", "warc_ts", F.col("html").cast("string").alias("html_text")
    )


def _synth_robots_bodies(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic robots.txt bodies from supplier: a Googlebot-only
    group (never applies), a '*'+OtherBot group with trailing comment /
    uppercase key / empty-Disallow edge cases (k%4!=0), and a literal
    TripwireBot group (k%3==0) that must shadow the star group."""
    s = _t(spark, sf, "supplier")
    k = F.col("s_suppkey")
    group_a = F.lit(
        "User-Agent: Googlebot\nDisallow: /google-only\nCrawl-delay: 9\n\n"
    )
    group_b = F.when(
        F.pmod(k, F.lit(4)) != 0,
        F.concat(
            F.lit("User-agent: *\nUser-agent: OtherBot\nCrawl-delay: "),
            (F.pmod(k, F.lit(5)) + 1),
            F.lit("\nDisallow: /cgi-bin # legacy\nDISALLOW: /p"),
            F.pmod(k, F.lit(7)),
            F.lit("\n\nAllow: /public\nDisallow:\n\n"),
        ),
    ).otherwise(F.lit(""))
    group_c = F.when(
        F.pmod(k, F.lit(3)) == 0,
        F.concat(
            F.lit("User-agent: TripwireBot\nDisallow: /tw"),
            F.pmod(k, F.lit(5)),
            F.lit("\nCrawl-delay: 7\n"),
        ),
    ).otherwise(F.lit(""))
    body = F.concat(F.lit("# robots for site"), k, F.lit("\n\n"), group_a, group_b, group_c)
    return s.select(F.concat(F.lit("site"), k, F.lit(".test")).alias("host"), body.alias("body"))


def q_robots_parse(spark: SparkSession, sf: str) -> DataFrame:
    # robots.txt -> politeness dimension table (RFC 9309 grouping +
    # most-specific-group precedence; north-rule robots support).  The
    # oracle is an independent closed-form derivation of the same
    # synthetic corpus, so every parsing rule (case-insensitive keys,
    # trailing comments, blank lines inside a group, empty Disallow,
    # named-group-shadows-star) is pinned end to end.  The sorted
    # prefix array is projected to a '|'-joined scalar so the driver's
    # pandas row-hash canonicalizer (which sorts cell values) never
    # sees a list-typed cell.
    from tripwire_spark.functions.robots import parse_robots

    parsed = parse_robots(_synth_robots_bodies(spark, sf), agent="TripwireBot")
    return parsed.select(
        "host",
        F.array_join(F.col("disallow_prefixes"), "|").alias("disallow_prefixes"),
        "crawl_delay",
    )


def q_sitemap_urls(spark: SparkSession, sf: str) -> DataFrame:
    # sitemap.xml <loc> extraction -> frontier seed rows (S1 analog for
    # crawl-discovered sitemaps): regexp_extract_all + explode, with
    # whitespace-padded and empty <loc> edge cases.
    from tripwire_spark.functions.robots import sitemap_locs

    o = _t(spark, sf, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(20)) == 0)
    c, k = F.col("o_custkey"), F.col("o_orderkey")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>https://site'),
        c, F.lit(".test/a"), k,
        F.lit("</loc></url><url><loc>  https://site"),
        c, F.lit(".test/b"), F.pmod(k, F.lit(5)),
        F.lit("  </loc></url><url><loc></loc></url></urlset>"),
    )
    sitemaps = o.select(F.concat(F.lit("site"), c, F.lit(".test")).alias("host"), xml.alias("body"))
    return sitemap_locs(sitemaps)


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    # Gap-based sessionization of a fetch-log-shaped stream (S10
    # analytics): new session when the same host is silent > 600 s
    from tripwire_spark.operators.logs import sessionize

    e = _t(spark, sf, "events")
    logs = e.select(
        F.col("event_id").alias("rid"),
        F.format_string("site%02d.test", F.pmod(F.col("user_id"), F.lit(20))).alias("host"),
        F.pmod(F.col("event_id") * 6007, F.lit(86400)).alias("ts_s"),
    )
    return sessionize(logs, gap_s=600, order_cols=("rid",))


def q_crawl_sessions(spark: SparkSession, sf: str) -> DataFrame:
    # Per-session rollup: bursts of crawler activity per host with dwell
    from tripwire_spark.operators.logs import session_stats, sessionize

    e = _t(spark, sf, "events")
    logs = e.select(
        F.col("event_id").alias("rid"),
        F.format_string("site%02d.test", F.pmod(F.col("user_id"), F.lit(20))).alias("host"),
        F.pmod(F.col("event_id") * 6007, F.lit(86400)).alias("ts_s"),
    )
    return session_stats(sessionize(logs, gap_s=600, order_cols=("rid",)))


def q_tracking_params(spark: SparkSession, sf: str) -> DataFrame:
    # URL-parameter role mining over a capture history whose digest
    # depends on (host, path, page) but never sid -> sid is learned as
    # tracking, page as content
    from tripwire_spark.operators.frontier import tracking_params

    e = _t(spark, sf, "events")
    host = F.format_string("s%02d.test", F.pmod(F.col("user_id"), F.lit(10)))
    path = F.concat(F.lit("/p"), F.pmod(F.col("event_id"), F.lit(5)).cast("string"))
    page = F.pmod(F.col("event_id"), F.lit(3))
    sid = F.pmod(F.col("event_id"), F.lit(7))
    cap = e.select(
        F.format_string("http://%s%s?page=%s&sid=%s", host, path, page.cast("string"), sid.cast("string")).alias("url"),
        F.md5(F.concat_ws("|", F.lit("c"), host, path, page.cast("string"))).alias("digest"),
    )
    return tracking_params(cap)


def q_strip_params(spark: SparkSession, sf: str) -> DataFrame:
    # Apply a learned tracking-param table: sid/utm stripped on the
    # learned hosts only, content params and foreign hosts untouched
    from tripwire_spark.operators.frontier import strip_params

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    urls = c.select(
        k.alias("custkey"),
        F.when(
            F.pmod(k, F.lit(3)) == 0,
            F.format_string("http://s%02d.test/plain", F.pmod(k, F.lit(5))),
        )
        .otherwise(
            F.format_string(
                "http://s%02d.test/a?sid=%s&page=%s&utm=x",
                F.pmod(k, F.lit(5)),
                F.pmod(k, F.lit(9)).cast("string"),
                F.pmod(k, F.lit(4)).cast("string"),
            )
        )
        .alias("url"),
    )
    tracking = spark.createDataFrame(
        [("s00.test", "sid"), ("s00.test", "utm"), ("s02.test", "sid"), ("s04.test", "utm")],
        "host string, param string",
    )
    return strip_params(urls, tracking)


def q_shuffle_corpus(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic training-order permutation: md5(seed|id) rank via
    # the two-phase global_rank (no single-partition sort)
    from tripwire_spark.operators.packing import shuffle_corpus

    d = _t(spark, sf, "documents").select("doc_id")
    return shuffle_corpus(d, seed="e1")


def q_ppl_buckets(spark: SparkSession, sf: str) -> DataFrame:
    # CCNet head/middle/tail corpus partition under the lang='en'
    # hashed-bigram LM; exact integer bucket arithmetic
    from tripwire_spark.operators.lm import perplexity_buckets, train_bigram_lm

    d = _t(spark, sf, "documents")
    model = train_bigram_lm(d.filter(F.col("lang") == "en"), "doc_id", "text", buckets=4096)
    return perplexity_buckets(d, model, "doc_id", "text", buckets=4096)


def q_clean_text(spark: SparkSession, sf: str) -> DataFrame:
    # ftfy-lite repair: mojibake prefix/suffix + control chars wrapped
    # around real document text, cleaned byte-identically in both engines
    from tripwire_spark.functions.text_clean import _moji, clean_text

    d = _t(spark, sf, "documents")
    pre = _moji("It’s a café — résumé: ")
    suf = _moji(" Ünicode…")
    raw = F.concat(
        F.lit(pre), F.substring(F.col("text"), 1, 50), F.lit("\x01\x02"), F.lit(suf)
    )
    return d.select("doc_id", clean_text(raw).alias("cleaned"))


def q_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    # Distributed BPE merge training, first 3 merges over the document
    # corpus (vocab-sized state; driver sees one argmax row per merge)
    from tripwire_spark.operators.bpe import train_bpe_merges

    # min_count=1: the unrolled DuckDB oracle always emits 3 merge
    # rows, so the trainer must not stop early on a sparse corpus where
    # the best pair count dips under the default floor of 2
    d = _t(spark, sf, "documents")
    merges = train_bpe_merges(d, 3, min_count=1)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank long, left string, right string, pair_cnt long",
    )


def q_bpe_segment(spark: SparkSession, sf: str) -> DataFrame:
    # Apply a fixed merge list; pieces re-flattened in document order
    # (joined on chr(30) — pieces legitimately contain spaces)
    from tripwire_spark.operators.bpe import bpe_segment

    d = _t(spark, sf, "documents")
    merges = [(" ", "t"), ("h", "e"), (" t", "he")]
    seg = bpe_segment(d, merges)
    return seg.select(
        "doc_id", "n_pieces", F.array_join("pieces", "\x1e").alias("pieces_str")
    )


def q_scorecard_budgets(spark: SparkSession, sf: str) -> DataFrame:
    # Curation->crawl feedback: per-domain politeness budgets earned by
    # curation keep-rate (floor 1, default 8)
    from tripwire_spark.operators.frontier import scorecard_budgets
    from tripwire_spark.operators.textstats import domain_scorecard

    sc = domain_scorecard(_t(spark, sf, "documents"), group_col="source")
    return scorecard_budgets(sc, group_col="source", default_budget=8).select(
        "host", "crawl_budget"
    )


def q_doc_length_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    # EXACT corpus quantiles (engine-stable percentile_disc semantics
    # with id tiebreak) via the two-phase global rank
    from tripwire_spark.operators.packing import exact_quantiles

    d = _t(spark, sf, "documents")
    return exact_quantiles(d, "n_chars", (0.05, 0.5, 0.95))


def q_length_band(spark: SparkSession, sf: str) -> DataFrame:
    # outlier trim: keep docs inside the exact [P10, P90] length band
    from tripwire_spark.operators.packing import quantile_band

    d = _t(spark, sf, "documents").select("doc_id", "n_chars")
    return quantile_band(d, "n_chars", lo=0.10, hi=0.90)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "doc_length_quantiles": q_doc_length_quantiles,
    "length_band": q_length_band,
    "sessionize": q_sessionize,
    "crawl_sessions": q_crawl_sessions,
    "tracking_params": q_tracking_params,
    "strip_params": q_strip_params,
    "shuffle_corpus": q_shuffle_corpus,
    "ppl_buckets": q_ppl_buckets,
    "clean_text": q_clean_text,
    "bpe_merges": q_bpe_merges,
    "bpe_segment": q_bpe_segment,
    "scorecard_budgets": q_scorecard_budgets,
    "warc_ingest": q_warc_ingest,
    "robots_parse": q_robots_parse,
    "sitemap_urls": q_sitemap_urls,
    "recaptcha_filter": q_recaptcha_filter,
    "seen_admit": q_seen_admit,
    "domain_intern": q_domain_intern,
    "link_length_filter": q_link_length_filter,
    "dup_clusters": q_dup_clusters,
    "line_dedup": q_line_dedup,
    "pii_redact": q_pii_redact,
    "url_blacklist": q_url_blacklist,
    "submit_check": q_submit_check,
    "clicked_text_hash": q_clicked_text_hash,
    "token_shard_pack": q_token_shard_pack,
    "stratified_sample": q_stratified_sample,
    "chunk_documents": q_chunk_documents,
    "surt_key": q_surt_key,
    "quality_classifier": q_quality_classifier,
    "recrawl_schedule": q_recrawl_schedule,
    "domain_scorecard": q_domain_scorecard,
    "main_content": q_main_content,
    "anchor_profile": q_anchor_profile,
    "doc_bpe_tokens": q_doc_bpe_tokens,
    "doc_sentences": q_doc_sentences,
    "nested_anti_join": q_nested_anti_join,
    "select_payload": q_select_payload,
    "count_distinct": q_count_distinct,
    "sanitize_names": q_sanitize_names,
    "recheck_schedule": q_recheck_schedule,
    "identity_claim": q_identity_claim,
    "eml_backup_path": q_eml_backup_path,
    "page_guard": q_page_guard,
    "clicked_text_memory": q_clicked_text_memory,
    "mail_rid_view": q_mail_rid_view,
    "link_text_fallback": q_link_text_fallback,
    "mail_e2e": q_mail_e2e,
    "dns_validate": q_dns_validate,
    "conf_render": q_conf_render,
    "top_link": q_top_link,
    "field_pattern_match": q_field_pattern_match,
    "field_best_pattern": q_field_best_pattern,
    "fill_plan": q_fill_plan,
    "form_fill_report": q_form_fill_report,
    "credentials": q_credentials,
    "dob_phone_formats": q_dob_phone_formats,
    "gid_sharding": q_gid_sharding,
    "link_scoring": q_link_scoring,
    "form_discovery": q_form_discovery,
    "mail_best_url": q_mail_best_url,
    "mail_parse": q_mail_parse,
    "ngram_jaccard_dedup": q_ngram_jaccard_dedup,
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "simhash_dedup": q_simhash_dedup,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "ann_topk_brute": q_ann_topk_brute,
    "ann_topk_lsh": q_ann_topk_lsh,
    "ann_topk_ivf": q_ann_topk_ivf,
    "lang_id": q_lang_id,
    "doc_quality": q_doc_quality,
    "doc_repetition": q_doc_repetition,
    "doc_entropy": q_doc_entropy,
    "c4_line_clean": q_c4_line_clean,
    "decontaminate": q_decontaminate,
    "incremental_dedup": q_incremental_dedup,
    "span_dedup": q_span_dedup,
    "doc_fingerprint": q_doc_fingerprint,
    "tfidf_top_terms": q_tfidf_top_terms,
    "domain_mixture": q_domain_mixture,
    "dsir_importance": q_dsir_importance,
    "host_rank": q_host_rank,
    "mixture_sample": q_mixture_sample,
    "curation_verdicts": q_curation_verdicts,
    "url_traps": q_url_traps,
    "ip4_algebra": q_ip4_algebra,
    "keyword_count": q_keyword_count,
    "fill_pct": q_fill_pct,
    "public_view": q_public_view,
    "login_info_v2": q_login_info_v2,
    "sliding_window": q_sliding_window,
    "heartbeat_liveness": q_heartbeat_liveness,
    "visibility_delay": q_visibility_delay,
    "dequeue_batch": q_dequeue_batch,
    "distinct_segments": q_distinct_segments,
    "claim_filter": q_claim_filter,
    "politeness_rank": q_politeness_rank,
    "first_last_flag": q_first_last_flag,
    "anti_join": q_anti_join,
    "semi_join": q_semi_join,
    "login_info_5way": q_login_info_5way,
    "registration_status": q_registration_status,
    "array_overlap": q_array_overlap,
    "time_bucket": q_time_bucket,
    "price_bucket": q_price_bucket,
    "latest_per_customer": q_latest_per_customer,
    "repeat_bonus_dedup": q_repeat_bonus_dedup,
    "link_reweight": q_link_reweight,
    "url_canonicalize": q_url_canonicalize,
    "reg_domain": q_reg_domain,
    "frontier_schedule": q_frontier_schedule,
    "retry_policy": q_retry_policy,
    "doc_token_count": q_doc_token_count,
    "doc_exact_dedup": q_doc_exact_dedup,
    "tpch_q1": q_tpch_q1,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


ORACLES: dict[str, str] = {
    # closed-form reconstruction of the synthetic WARC corpus built by
    # q_warc_ingest: url/date/body are pure functions of s_suppkey, so
    # a parser that drops, duplicates, or byte-shifts any record fails
    "warc_ingest": """
        SELECT 'http://site' || s_suppkey || '.test/w' || (s_suppkey % 7) AS url,
               CAST('2026-08-' || lpad(CAST(10 + s_suppkey % 17 AS VARCHAR), 2, '0')
                    || ' 01:02:' || lpad(CAST(s_suppkey % 60 AS VARCHAR), 2, '0')
                    AS TIMESTAMP) AS warc_ts,
               '<html><body>warc ' || s_suppkey || '</body></html>' AS html_text
        FROM supplier
    """,
    # closed-form independent derivation of the synthetic robots corpus
    # (_synth_robots_bodies): TripwireBot group shadows '*' (k%3==0);
    # otherwise the star group applies when present (k%4!=0); else
    # nothing applies.  Pins every parse rule end to end.
    "robots_parse": """
        SELECT 'site' || s_suppkey || '.test' AS host,
               CASE WHEN s_suppkey % 3 = 0
                      THEN '/tw' || (s_suppkey % 5)
                    WHEN s_suppkey % 4 <> 0
                      THEN '/cgi-bin|/p' || (s_suppkey % 7)
                    ELSE '' END AS disallow_prefixes,
               CASE WHEN s_suppkey % 3 = 0 THEN 7.0
                    WHEN s_suppkey % 4 <> 0 THEN CAST(1 + s_suppkey % 5 AS DOUBLE)
                    ELSE NULL END AS crawl_delay
        FROM supplier
    """,
    "sitemap_urls": """
        SELECT 'site' || o_custkey || '.test' AS host,
               'https://site' || o_custkey || '.test/a' || o_orderkey AS url
        FROM orders WHERE o_orderkey % 20 = 0
        UNION ALL
        SELECT 'site' || o_custkey || '.test' AS host,
               'https://site' || o_custkey || '.test/b' || (o_orderkey % 5) AS url
        FROM orders WHERE o_orderkey % 20 = 0
    """,
    "claim_filter": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderstatus = 'O' AND o_totalprice < 50000
    """,
    "politeness_rank": """
        SELECT user_id, event_id, rn FROM (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn <= 3
    """,
    "first_last_flag": """
        SELECT event_id, user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1 AS is_first,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1 AS is_last
        FROM events
    """,
    "anti_join": """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    "semi_join": """
        SELECT c_custkey, c_nationkey FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "login_info_5way": """
        SELECT r_name, n_name, count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "registration_status": """
        SELECT o_custkey AS custkey, max(o_orderkey) AS max_orderkey,
               count(*) AS n_orders,
               string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS statii
        FROM orders GROUP BY o_custkey
    """,
    "array_overlap": """
        SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus IN ('F','P')
    """,
    "time_bucket": """
        SELECT date_trunc('day', ts) AS day_ts, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1
    """,
    "price_bucket": """
        SELECT CAST(floor(o_totalprice / 500) AS BIGINT) * 500 AS price_bucket,
               count(*) AS n_orders
        FROM orders GROUP BY 1
    """,
    "latest_per_customer": """
        SELECT o_custkey AS custkey, o_orderkey, o_orderdate FROM (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders) WHERE rn = 1
    """,
    "repeat_bonus_dedup": """
        SELECT user_id, event_type, count(*) AS n_seen,
               CAST(arg_min(value, event_id) AS DOUBLE)
                 + 20 * CAST(count(*) - 1 AS DOUBLE) AS weight
        FROM events GROUP BY user_id, event_type
    """,
    "link_reweight": """
        WITH rows_w AS (
          SELECT p_brand AS selector, p_partkey AS ord,
                 CAST(((p_partkey * 13 + length(p_type)) % 7 + 7) % 7 - 2 AS BIGINT) AS w
          FROM part
        ), packed AS (
          SELECT selector,
                 list(w ORDER BY ord, w) AS ws
          FROM rows_w GROUP BY selector
        )
        SELECT selector, len(ws) AS n_matches,
               list_reduce(ws, (acc, x) -> CASE WHEN acc >= 0 AND x >= 0
                                                THEN greatest(acc, x) + 1
                                                ELSE least(acc, x) END) AS weight
        FROM packed
    """,
    "url_canonicalize": """
        SELECT c_custkey AS custkey,
               'http://site' || c_custkey || '.test/p' || (c_custkey % 7)
               || CASE WHEN c_custkey % 3 = 0 THEN '/sub/y' ELSE '' END
               AS canon_url
        FROM customer
    """,
    "reg_domain": """
        SELECT c_custkey AS custkey,
               CASE WHEN c_custkey % 3 = 0 THEN 'shop' || c_custkey || '.co.uk'
                    WHEN c_custkey % 3 = 1 THEN 'site' || c_custkey || '.com'
                    ELSE 'site' || c_custkey || '.test' END AS rdomain
        FROM customer
    """,
    "frontier_schedule": """
        SELECT host, qid, rank FROM (
          SELECT printf('h%02d', o_custkey % 20) AS host, o_orderkey AS qid,
                 row_number() OVER (PARTITION BY printf('h%02d', o_custkey % 20)
                                    ORDER BY o_orderkey) AS rank
          FROM orders) WHERE rank <= 3
    """,
    "retry_policy": """
        SELECT user_id, tries,
               CASE WHEN tries = 0 THEN 'completed'
                    WHEN tries <= 2 THEN 'queued'
                    ELSE 'failed' END AS status
        FROM (SELECT user_id,
                     CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS tries
              FROM events GROUP BY user_id)
    """,
    "doc_token_count": """
        SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_txt
        FROM documents
    """,
    "doc_exact_dedup": """
        SELECT md5(text) AS content_hash, count(*) AS n_copies,
               min(doc_id) AS keeper_doc_id
        FROM documents GROUP BY 1
    """,
    "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
}


_STOP = {
    "de": "['der','die','das','und','ist','nicht','ich','du','mit','ein']",
    "en": "['the','a','and','of','to','in','is','it','you','that']",
    "es": "['el','los','y','es','yo','con','un','una','que','por']",
    "fr": "['le','la','les','et','est','je','tu','avec','un','une']",
}

_LANG_HITS = ",\n".join(
    f"CAST(len(list_filter(t, x -> list_contains({arr}, x))) AS BIGINT) AS {lang}_hits"
    for lang, arr in _STOP.items()
)

# Shared CTE chain for the curation family: per-doc gate features ->
# verdict (quality -> repetition -> language -> dup keep-first).  Both
# curation_verdicts and its per-domain rollup (domain_scorecard) build
# on the same `v` relation.
_CURATION_CTES = f"""toks AS (
              SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            feat AS (
              SELECT doc_id, text, t,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     (length(trim(text)) - (len(t) - 1)) / CAST(len(t) AS DOUBLE) AS mtl,
                     {_LANG_HITS},
                     list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS ls,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
                          ELSE [] END AS g,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
              FROM toks),
            feat2 AS (
              SELECT doc_id, n_tokens, mtl, fp,
                     CASE WHEN de_hits >= en_hits AND de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
                          WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
                          WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
                          WHEN fr_hits > 0 THEN 'fr'
                          ELSE 'und' END AS pred_lang,
                     CASE WHEN len(ls) > 0
                          THEN (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE)
                          ELSE 0.0 END AS dlf,
                     CASE WHEN len(g) > 0
                          THEN (len(g) - len(list_distinct(g))) / CAST(len(g) AS DOUBLE)
                          ELSE 0.0 END AS d2f,
                     CASE WHEN len(g) > 0
                          THEN list_max(list_transform(list_distinct(g),
                                 x -> len(list_filter(g, y -> y = x)))) / CAST(len(g) AS DOUBLE)
                          ELSE 0.0 END AS t2f,
                     row_number() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                                        ORDER BY doc_id) AS rn
              FROM feat),
            v AS (
              SELECT doc_id, pred_lang, n_tokens,
                     CASE WHEN NOT (n_tokens >= 20 AND n_tokens <= 100000 AND mtl >= 2 AND mtl <= 12)
                          THEN 'quality'
                          WHEN NOT (dlf <= 0.30 AND d2f <= 0.60 AND t2f <= 0.20)
                          THEN 'repetition'
                          WHEN pred_lang <> 'en' THEN 'language'
                          WHEN rn > 1 THEN 'duplicate'
                          ELSE 'keep' END AS verdict
              FROM feat2)"""

def _doc_entropy_oracle() -> str:
    # Built by textstats.entropy_sql — the SAME loop that builds the
    # Spark expression tree, so the entropy sum's float fold order is
    # identical term-for-term in both engines.
    from tripwire_spark.operators.textstats import entropy_sql

    e = entropy_sql("text")
    return f"""
        SELECT doc_id, {e['n_chars']} AS n_chars,
               round({e['char_entropy']}, 6) AS char_entropy,
               round({e['alnum_ratio']}, 6) AS alnum_ratio
        FROM documents
    """


ORACLES["doc_entropy"] = _doc_entropy_oracle()

# C4 line cleaning: same gates, RE2-safe patterns (no lookarounds), and
# the cleaned text compared by md5 so the oracle never ships full bodies.
ORACLES["c4_line_clean"] = r"""
    WITH l AS (
      SELECT doc_id,
             lower(regexp_replace(text, '[^\x00-\x7f]', chr(127), 'g')) AS low,
             list_filter(string_split_regex(text, '\r?\n'),
                         x -> length(trim(x)) > 0) AS nl,
             list_filter(string_split_regex(text, '\r?\n'), x ->
                 regexp_matches(trim(x), '[.!?"]\z')
                 AND len(string_split_regex(trim(x), '[ \t\r\n\f\x0B]+')) >= 5
                 AND NOT contains(lower(regexp_replace(trim(x),
                         '[^\x00-\x7f]', chr(127), 'g')), 'javascript')) AS kept
      FROM documents),
    j AS (
      SELECT doc_id, low, nl, kept,
             -- array_to_string([]) is NULL in DuckDB; Spark array_join is ''
             coalesce(array_to_string(kept, chr(10)), '') AS cleaned
      FROM l)
    SELECT doc_id,
           CAST(len(nl) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           md5(cleaned) AS cleaned_md5,
           (len(kept) > 0
            AND NOT contains(low, 'lorem ipsum')
            AND NOT contains(low, '{')
            AND len(regexp_extract_all(cleaned, '[.!?]')) >= 3) AS keep
    FROM j
"""

ORACLES.update(
    {
        # Analytic oracles: expected outputs derived independently from
        # the planted constructions (weights traced by hand from the
        # reference's expression tables).
        "credentials": """
            WITH base AS (
              SELECT c_custkey AS custkey,
                     (['Quick','Calm','Brave','Sly','Merry','Stout','Keen','Wry'])[(c_custkey * 7) % 8 + 1] AS adj,
                     (['Otter','Falcon','Maple','Comet','Harbor','Pebble','Willow','Drift'])[(c_custkey * 13) % 8 + 1] AS noun,
                     lpad(CAST((c_custkey * 3) % 100 AS VARCHAR), 2, '0') AS d1,
                     lpad(CAST((c_custkey * 11) % 100 AS VARCHAR), 2, '0') AS d2
              FROM customer)
            SELECT custkey,
                   substring(adj || noun || d1 || d2, 1, 15) AS username,
                   md5(substring(adj || noun || d1 || d2, 1, 15)) AS username_md5,
                   rpad(noun, 8, '7') AS weak_password
            FROM base
        """,
        "dob_phone_formats": """
            WITH p AS (
              SELECT o_orderkey AS umid, o_orderdate AS d,
                     lpad(CAST((o_custkey * 7919) % 10000000 AS VARCHAR), 10, '0') AS ph
              FROM orders)
            SELECT umid,
                   strftime(d, '%m/%d/%Y') || '|' || strftime(d, '%m-%d-%Y') || '|'
                     || strftime(d, '%Y-%m-%d') || '|' || strftime(d, '%d.%m.%Y') || '|'
                     || strftime(d, '%Y%m%d') || '|' || strftime(d, '%-m/%-d/%Y') AS dob_formats,
                   ph || '|(' || substring(ph,1,3) || ') ' || substring(ph,4,3) || '-' || substring(ph,7,4)
                      || '|' || substring(ph,1,3) || '-' || substring(ph,4,3) || '-' || substring(ph,7,4)
                     AS phone_formats
            FROM p
        """,
        "gid_sharding": """
            WITH g AS (SELECT o_orderkey AS gid, lpad(CAST(o_orderkey AS VARCHAR), 8, '0') AS s FROM orders)
            SELECT gid, substring(s,1,2) || '/' || substring(s,3,2) || '/'
                        || substring(s,5,2) || '/' || substring(s,7,2) AS shard_path
            FROM g
        """,
        "link_scoring": """
            SELECT o_orderkey AS umid,
                   t AS anchor_text,
                   CASE t WHEN 'Sign up' THEN 6.0
                          WHEN 'Register here' THEN 5.0
                          WHEN 'create an account' THEN 12.0
                          WHEN 'Login' THEN 3.0
                          WHEN 'next page' THEN NULL
                          WHEN 'Join the forum' THEN 5.0
                          WHEN 'Visit facebook page' THEN -8.0
                          WHEN 'facebook account' THEN -8.0 END AS weight
            FROM (SELECT o_orderkey,
                         (['Sign up','Register here','create an account','Login',
                           'next page','Join the forum','Visit facebook page',
                           'facebook account'])[(o_orderkey % 8) + 1] AS t
                  FROM orders)
        """,
        # Fixture form: action=/register(+6) id=signup(sign.*up +3),
        # button name=register(+4), 1 password(+0), -3 + max(3,5)=+2 -> 15
        "form_discovery": """
            SELECT DISTINCT
                   'http://site' || lpad(CAST(c_custkey % 40 AS VARCHAR), 4, '0')
                     || '.test/p' || (c_custkey % 8) AS url,
                   15.0 AS score,
                   TRUE AS is_reg_page
            FROM customer WHERE (c_custkey % 8) % 7 = 3
        """,
        "mail_best_url": """
            SELECT o_orderkey AS umid,
                   'https://shop' || o_custkey || '.example.com/confirm/account/'
                     || o_orderkey || 'xyz' AS url,
                   CAST(least(greatest(length('confirm/account/' || o_orderkey || 'xyz') - 20, 0), 60)
                        + 200 + 30
                        + CASE WHEN o_orderkey % 3 = 0 THEN 20 ELSE 0 END AS DOUBLE) AS weight
            FROM orders
            WHERE o_orderkey % 10 < 3 AND o_orderkey % 5 IN (0, 1, 3)
        """,
        "mail_parse": """
            SELECT o_orderkey AS umid,
                   CASE WHEN o_orderkey % 2 = 0 THEN 'alerts' || o_custkey || '@mail.test'
                        ELSE 'user' || o_custkey || '@mail.test' END AS to_addr,
                   CASE WHEN o_orderkey % 2 = 0 THEN 'Please confirm now'
                        ELSE 'Welcome aboard' END AS subject_decoded
            FROM orders WHERE o_orderkey % 10 < 2
        """,
        "ngram_jaccard_dedup": _JACCARD_PAIRS_SQL,
        "minhash_lsh_dedup": _JACCARD_PAIRS_SQL,  # verified LSH == exact pairs (recall ~1-4e-14)
        "embedding_dup_pairs": """
            WITH aug AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000,
                     list_concat(list_concat((embedding::DOUBLE[])[1:1],
                                             [(embedding::DOUBLE[])[2] + 0.5]),
                                 (embedding::DOUBLE[])[3:]) AS v
              FROM embeddings WHERE vec_id % 50 = 0)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
            FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
        """,
        "ann_topk_brute": """
            WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 100 = 0),
            c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
            scored AS (
              SELECT qid, cid,
                     round(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 9) AS cos9
              FROM q JOIN c ON cid <> qid),
            ranked AS (
              SELECT qid, cid, cos9,
                     row_number() OVER (PARTITION BY qid ORDER BY cos9 DESC, cid) AS rank
              FROM scored)
            SELECT qid, cid, round(cos9, 6) AS cos, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "lang_id": f"""
            WITH toks AS (
              SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            hits AS (SELECT doc_id, lang, {_LANG_HITS} FROM toks)
            SELECT doc_id, lang,
                   CASE WHEN de_hits >= en_hits AND de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
                        WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
                        WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
                        WHEN fr_hits > 0 THEN 'fr'
                        ELSE 'und' END AS pred_lang,
                   de_hits, en_hits, es_hits, fr_hits
            FROM hits
        """,
        "doc_quality": """
            WITH toks AS (
              SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            feat AS (
              SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                     (length(trim(text)) - (len(t) - 1)) / CAST(len(t) AS DOUBLE) AS mtl,
                     CAST(len(list_filter(t, x -> list_contains(
                          ['the','a','and','of','to','in','is','it','you','that'], x))) AS DOUBLE)
                       / len(t) AS sr
              FROM toks)
            SELECT doc_id, n_tokens, round(mtl, 6) AS mean_token_len, round(sr, 6) AS stop_ratio,
                   (n_tokens >= 20 AND n_tokens <= 100000 AND mtl >= 2 AND mtl <= 12) AS keep
            FROM feat
        """,
        "doc_repetition": """
            WITH lined AS (
              SELECT doc_id,
                     list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS ls,
                     string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM documents),
            feat AS (
              SELECT doc_id,
                     CASE WHEN len(ls) > 0
                          THEN (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE)
                          ELSE 0.0 END AS dlf,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
                          ELSE [] END AS g
              FROM lined),
            feat2 AS (
              SELECT doc_id, dlf, len(g) AS ng,
                     CASE WHEN len(g) > 0
                          THEN (len(g) - len(list_distinct(g))) / CAST(len(g) AS DOUBLE)
                          ELSE 0.0 END AS d2f,
                     CASE WHEN len(g) > 0
                          THEN list_max(list_transform(list_distinct(g),
                                 x -> len(list_filter(g, y -> y = x)))) / CAST(len(g) AS DOUBLE)
                          ELSE 0.0 END AS t2f
              FROM feat)
            SELECT doc_id, round(dlf, 6) AS dup_line_frac, round(d2f, 6) AS dup_2gram_frac,
                   round(t2f, 6) AS top_2gram_frac,
                   (dlf <= 0.30 AND d2f <= 0.60 AND t2f <= 0.20) AS keep
            FROM feat2
        """,
        "decontaminate": """
            WITH toks AS (
              SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            idx AS (SELECT doc, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks),
            sh AS (SELECT DISTINCT doc, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
            esh AS (SELECT DISTINCT shingle FROM sh WHERE doc % 50 = 0),
            totals AS (SELECT doc, count(*) AS n_shingles FROM sh GROUP BY doc),
            hits AS (SELECT doc, count(*) AS n_hits FROM sh JOIN esh USING (shingle) GROUP BY doc)
            SELECT t.doc, t.n_shingles, coalesce(h.n_hits, 0) AS n_hits,
                   round(coalesce(h.n_hits, 0) / CAST(t.n_shingles AS DOUBLE), 6) AS overlap,
                   coalesce(h.n_hits, 0) / CAST(t.n_shingles AS DOUBLE) > 0.2 AS contaminated
            FROM totals t LEFT JOIN hits h ON h.doc = t.doc
        """,
        "incremental_dedup": f"""
            WITH {_AUG_DOCS_SQL}
            SELECT doc_a, doc_b,
                   round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc = inter.doc_a
            JOIN sizes sb ON sb.doc = inter.doc_b
            WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
              AND doc_b >= 100000
        """,
        "span_dedup": """
            WITH docs AS (
              SELECT doc_id AS doc, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc, text || ' zzz end' AS text
              FROM documents WHERE doc_id % 25 = 0),
            toks AS (SELECT doc, string_split_regex(trim(text), '\\s+') AS t FROM docs),
            wins AS (
              SELECT doc, unnest(CASE WHEN len(t) >= 8
                                      THEN generate_series(1, len(t) - 7)
                                      ELSE [] END) AS p, t
              FROM toks),
            sp AS (SELECT doc, p,
                          ('0x' || substr(md5(array_to_string(t[p:p+7], ' ')), 1, 12))::BIGINT AS whash
                   FROM wins),
            rk AS (SELECT doc, p, row_number() OVER (PARTITION BY whash ORDER BY doc, p) AS rn FROM sp),
            rem AS (SELECT doc, list_sort(list(p)) AS ps FROM rk WHERE rn > 1 GROUP BY doc),
            j AS (SELECT toks.doc, t, coalesce(rem.ps, []) AS ps
                  FROM toks LEFT JOIN rem ON toks.doc = rem.doc),
            k AS (SELECT doc, t,
                         list_filter(generate_series(1, len(t)),
                                     i -> NOT len(list_filter(ps, q -> i >= q AND i < q + 8)) > 0) AS kept
                  FROM j)
            SELECT doc AS doc_id,
                   array_to_string(list_transform(kept, i -> t[i]), ' ') AS clean_text,
                   CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(len(t) - len(kept) AS BIGINT) AS n_removed
            FROM k
        """,
        "doc_fingerprint": """
            WITH toks AS (
              SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            vals AS (
              SELECT doc_id, text,
                     list_transform(t, x -> CAST(length(x) AS BIGINT) + 31 * CAST(ascii(substring(x, 1, 1)) AS BIGINT)) AS v
              FROM toks)
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
                   list_reduce(list_prepend(CAST(0 AS BIGINT), v),
                               (a, b) -> (a * 131 + b) % 1000000007) AS fp_roll
            FROM vals
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            n AS (SELECT count(*) AS n_corpus FROM documents),
            terms AS (
              SELECT doc_id, len(t) AS doc_len, unnest(t) AS term FROM toks),
            tf AS (
              SELECT doc_id, term, count(*) AS n, any_value(doc_len) AS doc_len
              FROM terms WHERE term <> '' GROUP BY doc_id, term),
            dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            idf AS (SELECT term, round(ln((n_corpus + 1) / CAST(df + 1 AS DOUBLE)) + 1.0, 6) AS idf
                    FROM dfs, n),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.n,
                     tf.n / CAST(tf.doc_len AS DOUBLE) * idf.idf AS s
              FROM tf JOIN idf USING (term)),
            ranked AS (
              SELECT doc_id, term, n, s,
                     row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS rnk
              FROM scored)
            SELECT doc_id, rnk, term, n, round(s, 6) AS tfidf FROM ranked WHERE rnk <= 3
        """,
        "domain_mixture": """
            WITH toks AS (
              SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            per AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len(list_filter(t, x -> x <> ''))) AS BIGINT) AS n_tokens
              FROM toks GROUP BY source),
            r AS (SELECT *, round(power(CAST(n_tokens AS DOUBLE), 0.5), 6) AS raw6 FROM per),
            tot AS (SELECT sum(CAST(round(raw6 * 1000000.0, 0) AS BIGINT)) AS tot_micro FROM r)
            SELECT source, n_docs, n_tokens,
                   round(raw6 * 1000000.0 / tot_micro, 6) AS weight
            FROM r, tot
        """,
        "dsir_importance": """
            WITH toks AS (
              SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            g AS (
              SELECT doc_id, CAST(lang = 'en' AS INT) AS is_t,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
                          ELSE [] END AS grams
              FROM toks),
            gb AS (
              SELECT doc_id, is_t,
                     ('0x' || substr(md5(unnest(grams)), 1, 8))::BIGINT % 4096 AS bucket
              FROM g),
            stats AS (
              SELECT bucket, CAST(sum(is_t) AS BIGINT) AS n_t,
                     CAST(count(*) - sum(is_t) AS BIGINT) AS n_r
              FROM gb GROUP BY bucket),
            totals AS (SELECT sum(n_t) AS tot_t, sum(n_r) AS tot_r FROM stats),
            model AS (
              SELECT bucket,
                     CAST(round((ln((n_t + 1) / CAST(tot_t + 4096 AS DOUBLE))
                               - ln((n_r + 1) / CAST(tot_r + 4096 AS DOUBLE))) * 1000000.0, 0)
                          AS BIGINT) AS llr_micro
              FROM stats, totals),
            per_doc AS (
              SELECT gb.doc_id, count(*) AS n_grams, sum(m.llr_micro) AS s
              FROM gb JOIN model m USING (bucket) GROUP BY gb.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                   coalesce(round(p.s / 1000000.0 / p.n_grams, 6), 0.0) AS dsir_score
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "mixture_sample": """
            WITH toks AS (
              SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            per AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len(list_filter(t, x -> x <> ''))) AS BIGINT) AS n_tokens
              FROM toks GROUP BY source),
            r AS (SELECT *, round(power(CAST(n_tokens AS DOUBLE), 0.5), 6) AS raw6 FROM per),
            tot AS (SELECT sum(CAST(round(raw6 * 1000000.0, 0) AS BIGINT)) AS tot_micro FROM r),
            mix AS (SELECT source, n_docs,
                           round(raw6 * 1000000.0 / tot_micro, 6) AS weight
                    FROM r, tot),
            n AS (SELECT count(*) AS n FROM documents),
            frac AS (SELECT source, least(1.0, 0.3 * weight * n.n / n_docs) AS f FROM mix, n)
            SELECT d.doc_id, d.source, d.lang, d.n_chars
            FROM documents d JOIN frac USING (source)
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
                  < CAST(floor(f * 10000) AS BIGINT)
        """,
        "curation_verdicts": f"""
            WITH {_CURATION_CTES}
            SELECT doc_id, pred_lang, n_tokens, verdict, verdict = 'keep' AS keep FROM v
        """,
        "domain_scorecard": f"""
            WITH {_CURATION_CTES},
            j AS (SELECT d.source, v.n_tokens, v.verdict FROM v JOIN documents d USING (doc_id))
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                   CAST(sum(CASE WHEN verdict = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                   CAST(sum(CASE WHEN verdict = 'repetition' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition,
                   CAST(sum(CASE WHEN verdict = 'language' THEN 1 ELSE 0 END) AS BIGINT) AS n_language,
                   CAST(sum(CASE WHEN verdict = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicate,
                   CAST(round(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) * 1000000.0
                              / count(*), 0) AS BIGINT) AS keep_rate6
            FROM j GROUP BY source
        """,
        "url_traps": """
            WITH u AS (
              SELECT CASE WHEN event_id % 2 = 0
                          THEN printf('http://trap%02d.test/cal/2026/%d?session=%d',
                                      CAST(user_id % 3 AS INT), event_id, event_id * 7)
                          ELSE printf('http://site%02d.test/about/team',
                                      CAST(user_id % 40 AS INT)) END AS url
              FROM events),
            parts AS (
              SELECT lower(regexp_extract(url, '^[a-z][a-z0-9+.\\-]*://([^/?#]+)', 1)) AS host,
                     regexp_extract(url, '^[a-z][a-z0-9+.\\-]*://[^/?#]+([^?#]*)', 1) AS path,
                     regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM u),
            sh AS (
              SELECT host,
                     regexp_replace(regexp_replace(path, '[0-9a-f]{8,}', 'H', 'g'),
                                    '[0-9]+', 'N', 'g')
                     || '?' ||
                     CASE WHEN query <> ''
                          THEN array_to_string(list_sort(list_transform(
                                 string_split(query, '&'), kv -> string_split(kv, '=')[1])), ',')
                          ELSE '' END AS shape
              FROM parts)
            SELECT host, shape, count(*) AS n_urls, count(*) > 200 AS is_trap
            FROM sh GROUP BY host, shape
        """,
        "host_rank": """
            WITH e AS (
              SELECT DISTINCT printf('h%02d', CAST(user_id % 50 AS INT)) AS s,
                              printf('h%02d', CAST(event_id % 50 AS INT)) AS d
              FROM events),
            nd AS (SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
            n AS (SELECT count(*) AS n FROM nd),
            od AS (SELECT s, count(*) AS od FROM e GROUP BY s),
            r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) // n.n AS r FROM nd, n),
            c1 AS (SELECT e.d AS node, CAST(sum(r0.r // od.od) AS BIGINT) AS c
                   FROM e JOIN r0 ON e.s = r0.node JOIN od ON e.s = od.s GROUP BY e.d),
            r1 AS (SELECT nd.node,
                          CAST(1000000000000 AS BIGINT) * 15 // 100 // n.n
                          + 85 * coalesce(c1.c, 0) // 100 AS r
                   FROM nd CROSS JOIN n LEFT JOIN c1 ON nd.node = c1.node),
            c2 AS (SELECT e.d AS node, CAST(sum(r1.r // od.od) AS BIGINT) AS c
                   FROM e JOIN r1 ON e.s = r1.node JOIN od ON e.s = od.s GROUP BY e.d),
            r2 AS (SELECT nd.node,
                          CAST(1000000000000 AS BIGINT) * 15 // 100 // n.n
                          + 85 * coalesce(c2.c, 0) // 100 AS r
                   FROM nd CROSS JOIN n LEFT JOIN c2 ON nd.node = c2.node),
            c3 AS (SELECT e.d AS node, CAST(sum(r2.r // od.od) AS BIGINT) AS c
                   FROM e JOIN r2 ON e.s = r2.node JOIN od ON e.s = od.s GROUP BY e.d),
            r3 AS (SELECT nd.node,
                          CAST(1000000000000 AS BIGINT) * 15 // 100 // n.n
                          + 85 * coalesce(c3.c, 0) // 100 AS r
                   FROM nd CROSS JOIN n LEFT JOIN c3 ON nd.node = c3.node)
            SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r3
        """,
        "ip4_algebra": """
            WITH ips AS (
              SELECT c_custkey AS custkey,
                     CAST((c_custkey * 2654435761) % 4294967296 AS BIGINT) AS ip
              FROM customer)
            SELECT custkey, ip, ip & 4294967040 AS net24,
                   ((ip >> 24) & 255) || '.' || ((ip >> 16) & 255) || '.'
                     || ((ip >> 8) & 255) || '.' || (ip & 255) AS dotted,
                   ip BETWEEN 1073741824 AND 3221225472 AS in_range
            FROM ips
        """,
        "keyword_count": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '(slow|merge|join)')) AS BIGINT) AS n_kw
            FROM documents
        """,
        "fill_pct": """
            SELECT user_id,
                   round(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 100.0
                         / count(*), 1) AS fill_pct
            FROM events GROUP BY user_id
        """,
        "public_view": """
            SELECT date_trunc('week', ts) AS week_ts,
                   (CAST((user_id * 2654435761) % 4294967296 AS BIGINT) & 4294967040) AS net24,
                   CAST(floor(value / 50) AS BIGINT) * 50 AS value_bucket,
                   count(*) AS n
            FROM events GROUP BY 1, 2, 3
        """,
        "login_info_v2": """
            SELECT r_name, s_name, count(*) AS n_items, min(o_totalprice) AS min_price
            FROM lineitem
            JOIN orders    ON l_orderkey = o_orderkey
            JOIN customer  ON o_custkey = c_custkey
            JOIN nation    ON c_nationkey = n_nationkey
            JOIN region    ON n_regionkey = r_regionkey
            LEFT JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY r_name, s_name
        """,
        "sliding_window": """
            SELECT event_id, user_id,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT) AS fails_in_window
            FROM events
        """,
        "heartbeat_liveness": """
            SELECT user_id, max(ts) AS last_beat,
                   max(ts) >= TIMESTAMP '2024-01-30 00:00:00' AS alive
            FROM events GROUP BY user_id
        """,
        "visibility_delay": """
            SELECT event_id, user_id, ts FROM events
            WHERE ts <= TIMESTAMP '2024-01-15 00:00:00' AND event_type <> 'error'
        """,
        "dequeue_batch": """
            SELECT event_id, user_id, ts FROM events
            ORDER BY ts DESC, event_id DESC LIMIT 10
        """,
        "distinct_segments": "SELECT DISTINCT c_mktsegment FROM customer",
    }
)


ORACLES.update(
    {
        "recaptcha_filter": """
            SELECT o_orderkey AS umid,
                   '<form id="f' || o_orderkey || '"><input name="email"></form>' AS html
            FROM orders WHERE o_orderkey % 4 <> 0
        """,
        "nested_anti_join": """
            SELECT p_partkey, p_name FROM part
            WHERE p_partkey NOT IN (
              SELECT l_partkey FROM lineitem WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier WHERE s_nationkey < 5))
        """,
        "select_payload": """
            SELECT o_orderkey AS umid,
                   CASE WHEN o_orderkey % 3 = 1 THEN '<p>html body ' || o_orderkey || '</p>'
                        ELSE 'plain body ' || o_orderkey END AS payload
            FROM orders WHERE o_orderkey % 10 < 2
        """,
        "count_distinct": """
            SELECT n_name, min(o_orderdate) AS first_order,
                   count(DISTINCT o_custkey) AS n_customers,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "sanitize_names": """
            WITH n AS (
              SELECT c_custkey AS custkey,
                     (['batch-01','test_group','bad group','ok-Name_2','semi;colon','dot.name'])
                       [(c_custkey % 6) + 1] AS id_group
              FROM customer)
            SELECT custkey, id_group,
                   regexp_matches(id_group, '^[a-zA-Z0-9_-]+$') AS valid
            FROM n
        """,
        "recheck_schedule": """
            SELECT event_id, user_id, d.delay_s,
                   ts + to_seconds(d.delay_s) AS scheduled_ts
            FROM events CROSS JOIN (VALUES (120), (720)) AS d(delay_s)
            WHERE event_type = 'signup'
        """,
        "identity_claim": """
            WITH demand AS (
              SELECT o_orderkey AS demand_id,
                     (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])
                       [(o_orderkey % 5) + 1] AS id_group
              FROM orders WHERE o_orderstatus = 'O'),
            free AS (
              SELECT c_custkey AS iid, c_mktsegment AS id_group FROM customer
              WHERE c_custkey % 7 <> 0 AND c_custkey % 11 <> 0 AND c_custkey % 13 <> 0),
            ri AS (SELECT iid, id_group,
                          row_number() OVER (PARTITION BY id_group ORDER BY iid) AS rk
                   FROM free),
            rd AS (SELECT demand_id, id_group,
                          row_number() OVER (PARTITION BY id_group ORDER BY demand_id) AS rk
                   FROM demand)
            SELECT demand_id, id_group, iid FROM rd JOIN ri USING (id_group, rk)
        """,
        "eml_backup_path": """
            SELECT c_custkey AS custkey,
                   CASE WHEN c_custkey % 20 = 0 THEN 'by-username/_/__missing__'
                        ELSE 'by-username/u/user' || c_custkey END AS backup_path
            FROM customer
        """,
        "page_guard": """
            SELECT c_custkey AS custkey,
                   CASE WHEN c_custkey % 4 = 0 THEN 'http://site' || c_custkey || '.test/p1'
                        ELSE 'https://shop' || c_custkey || '.example.com/signup' END AS url
            FROM customer WHERE c_custkey % 4 IN (0, 2)
        """,
        "submit_check": """
            WITH base AS (
              SELECT doc_id AS page_id, doc_id % 6 AS s,
                     'http://site' || doc_id || '.test/register' AS pre_url,
                     'Register now sign up ' || text AS pre_text,
                     'http://site' || doc_id || '.test/done' AS done_url
              FROM documents),
            attempts AS (
              SELECT page_id, s, pre_url, pre_text,
                     CASE WHEN s = 5 THEN pre_url ELSE done_url END AS post_url,
                     CASE s WHEN 0 THEN 'welcome aboard thank you'
                            WHEN 1 THEN 'Register still sign up'
                            WHEN 2 THEN 'Register still sign up'
                            WHEN 3 THEN 'thank you confirmation page'
                            WHEN 4 THEN 'error invalid warning error ' || pre_text
                            ELSE 'welcome aboard' END AS post_text,
                     s IN (1, 2) AS post_form_exists,
                     s IN (1, 2, 3) AS post_is_reg,
                     CASE WHEN s = 1 THEN done_url || '?ok' ELSE done_url END AS retry_url,
                     (s = 2) AS retry_form_exists,
                     (s = 2) AS retry_is_reg,
                     done_url
              FROM base),
            folded AS (
              SELECT page_id, pre_url, pre_text,
                     post_form_exists AS retried,
                     CASE WHEN post_form_exists THEN retry_url ELSE post_url END AS f_url,
                     CASE WHEN post_form_exists
                          THEN (CASE WHEN s = 1 THEN 'welcome aboard' ELSE post_text END)
                          ELSE post_text END AS f_text,
                     CASE WHEN post_form_exists THEN retry_form_exists
                          ELSE post_form_exists END AS f_form,
                     CASE WHEN post_form_exists THEN retry_is_reg
                          ELSE post_is_reg END AS f_reg
              FROM attempts),
            counted AS (
              SELECT *,
                     len(regexp_extract_all(pre_text, '(?i)warning'))
                       + len(regexp_extract_all(pre_text, '(?i)error'))
                       + len(regexp_extract_all(pre_text, '(?i)invalid')) AS n_err_pre,
                     len(regexp_extract_all(f_text, '(?i)warning'))
                       + len(regexp_extract_all(f_text, '(?i)error'))
                       + len(regexp_extract_all(f_text, '(?i)invalid')) AS n_err_post,
                     len(regexp_extract_all(pre_text, '(?i)regist'))
                       + len(regexp_extract_all(pre_text, '(?i)sign.*in'))
                       + len(regexp_extract_all(pre_text, '(?i)sign.*up')) AS n_comeon_pre,
                     len(regexp_extract_all(f_text, '(?i)regist'))
                       + len(regexp_extract_all(f_text, '(?i)sign.*in'))
                       + len(regexp_extract_all(f_text, '(?i)sign.*up')) AS n_comeon_post
              FROM folded)
            SELECT page_id, retried, n_err_pre, n_err_post, n_comeon_pre, n_comeon_post,
                   NOT f_form AS form_gone,
                   NOT f_reg AS not_reg_page,
                   n_err_post <= n_err_pre AS errors_ok,
                   n_comeon_post <= n_comeon_pre AS comeons_ok,
                   f_url <> pre_url AS url_changed,
                   (NOT f_form AND NOT f_reg AND n_err_post <= n_err_pre
                    AND n_comeon_post <= n_comeon_pre AND f_url <> pre_url) AS passed,
                   CASE WHEN f_form THEN 70 WHEN f_reg THEN 71 ELSE 0 END AS ec
            FROM counted
        """,
        "clicked_text_hash": """
            WITH links AS (
              SELECT event_id AS link_id,
                     printf('site%02d.test', user_id % 25) AS phost,
                     (event_id % 3) + 1 AS round,
                     (['Sign up','Register','Join now','Account','Login'])[(event_id % 5) + 1] AS lt
              FROM events)
            SELECT link_id, phost, round, lt,
                   round = min(round) OVER (PARTITION BY phost, lt) AS followed
            FROM links
        """,
        "token_shard_pack": """
            WITH toks AS (
              SELECT doc_id,
                     CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
              FROM documents),
            offs AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS token_offset
              FROM toks)
            SELECT doc_id, n_tokens, token_offset,
                   CAST(FLOOR(token_offset / 2000) AS BIGINT) AS shard
            FROM offs
        """,
        "stratified_sample": """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
                  < CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                          WHEN 'zh' THEN 0.1 ELSE 0.0 END) * 10000 AS BIGINT)
        """,
        "doc_sentences": """
            WITH s AS (
              SELECT doc_id,
                     list_filter(list_transform(
                         regexp_extract_all(text, '[^.!?]+[.!?]*', 0),
                         x -> trim(x)), x -> x <> '') AS arr
              FROM documents),
            st AS (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i FROM s)
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_id, arr[i] AS sentence
            FROM st
        """,
        "doc_bpe_tokens": """
            WITH c AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text,
                          '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+',
                          0)) AS BIGINT) AS n_bpe_tokens,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                          x -> x <> '')) AS BIGINT) AS n_ws_tokens
              FROM documents)
            SELECT doc_id, n_bpe_tokens, n_ws_tokens,
                   CASE WHEN n_ws_tokens > 0
                        THEN round(n_bpe_tokens / CAST(n_ws_tokens AS DOUBLE), 6)
                        ELSE 0.0 END AS bpe_per_ws
            FROM c
        """,
        "anchor_profile": """
            WITH l AS (
              SELECT printf('http://site%04d.test/p%d',
                            CAST((h.h * 7 + p.p * 13 + i.i * 29 + 1) % 40 AS INT),
                            CAST((h.h + p.p * 3 + i.i * 11) % 8 AS INT)) AS target,
                     (['Sign up','Register here','create an account','Login',
                       'next page','more info','Contact','Terms of service'])
                       [CAST((h.h + p.p + i.i) % 8 AS INT) + 1] AS text
              FROM generate_series(0, 39) h(h),
                   generate_series(0, 7) p(p),
                   generate_series(0, 2) i(i)),
            per AS (SELECT target, text, count(*) AS n FROM l GROUP BY target, text),
            agg AS (
              SELECT *,
                     CAST(sum(n) OVER (PARTITION BY target) AS BIGINT) AS n_inlinks,
                     CAST(row_number() OVER (PARTITION BY target ORDER BY n DESC, text)
                          AS BIGINT) AS rnk
              FROM per)
            SELECT target, rnk, text, n, n_inlinks FROM agg WHERE rnk <= 2
        """,
        "main_content": """
            SELECT c_custkey AS custkey,
                   'sample prose content for page ' || (c_custkey % 7) ||
                   ' with enough plain words to clear the minimum block length gate ' ||
                   (c_custkey % 5) AS main_text,
                   CAST(1 AS BIGINT) AS n_blocks_kept,
                   CAST(3 AS BIGINT) AS n_blocks_total
            FROM customer
        """,
        "recrawl_schedule": """
            WITH cap AS (
              SELECT 'http://site' || (user_id % 40) || '.test/p' || (event_id % 5) AS url,
                     epoch_us(ts) AS ts_us,
                     md5('v' || ((event_id // 7) % 3)) AS digest
              FROM events),
            d AS (
              SELECT url, ts_us, digest,
                     CASE WHEN lag(digest) OVER w IS NOT NULL
                           AND digest <> lag(digest) OVER w
                          THEN 1 ELSE 0 END AS chg
              FROM cap WINDOW w AS (PARTITION BY url ORDER BY ts_us)),
            per AS (
              SELECT url, count(*) AS n_captures,
                     CAST(sum(chg) AS BIGINT) AS n_changes,
                     max(ts_us) AS last_ts
              FROM d GROUP BY url),
            now AS (SELECT max(ts_us) AS now_us FROM cap),
            r AS (
              SELECT url, n_captures, n_changes,
                     CASE WHEN n_captures > 1
                          THEN CAST(round(n_changes * 1000000.0 / (n_captures - 1), 0) AS BIGINT)
                          ELSE 0 END AS change_rate6,
                     CAST(now_us - last_ts AS BIGINT) AS staleness_us
              FROM per, now)
            SELECT url, n_captures, n_changes, change_rate6, staleness_us,
                   change_rate6 * CAST(floor(staleness_us / 1000000.0) AS BIGINT) AS priority
            FROM r
        """,
        "quality_classifier": """
            WITH ex AS (
              SELECT doc_id, (lang = 'en') AS y,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS tok
              FROM documents),
            b AS (
              SELECT doc_id, y,
                     ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS bucket
              FROM ex),
            per AS (
              SELECT bucket,
                     sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos_n,
                     sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS neg_n
              FROM b GROUP BY bucket),
            tot AS (SELECT sum(pos_n) AS pt, sum(neg_n) AS nt FROM per),
            w AS (
              SELECT bucket,
                     CAST(round((ln((pos_n + 1) / (pt + 4096.0))
                               - ln((neg_n + 1) / (nt + 4096.0))) * 1000000.0, 0)
                          AS BIGINT) AS w6
              FROM per, tot),
            sc AS (
              SELECT b.doc_id, sum(coalesce(w.w6, 0)) AS s6, count(*) AS n_toks
              FROM b LEFT JOIN w USING (bucket) GROUP BY b.doc_id)
            SELECT d.doc_id, d.lang, coalesce(sc.n_toks, 0) AS n_toks,
                   coalesce(round(sc.s6 / 1000000.0 / sc.n_toks, 6), 0.0) AS quality_score,
                   coalesce(sc.s6, 0) > 0 AS keep
            FROM documents d LEFT JOIN sc USING (doc_id)
        """,
        "surt_key": """
            SELECT c_custkey AS custkey,
                   'test,site' || c_custkey || ')/p' || (c_custkey % 7) ||
                   (CASE c_custkey % 3 WHEN 0 THEN '?a=1&b=2'
                         WHEN 1 THEN '?a=1' ELSE '' END) AS surt_key
            FROM customer
        """,
        "chunk_documents": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents),
            nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
            st AS (SELECT doc_id, t, unnest(range(0, n, 24)) AS g FROM nz),
            s AS (SELECT doc_id, CAST(g // 24 AS BIGINT) AS chunk_id,
                         list_slice(t, g + 1, g + 32) AS p
                  FROM st)
            SELECT doc_id, chunk_id, array_to_string(p, ' ') AS chunk_text,
                   CAST(len(p) AS BIGINT) AS chunk_tokens
            FROM s WHERE len(p) >= 8
        """,
        "clicked_text_memory": """
            WITH links AS (
              SELECT event_id AS link_id,
                     printf('site%02d.test', user_id % 25) AS phost,
                     (event_id % 3) + 1 AS round,
                     (['Sign up','Register','Join now','Account','Login'])[(event_id % 5) + 1] AS lt
              FROM events)
            SELECT link_id, phost, round, lt FROM (
              SELECT *, min(round) OVER (PARTITION BY phost, lt) AS fr FROM links)
            WHERE round = fr
        """,
        "mail_rid_view": """
            WITH recent AS (
              SELECT * FROM orders WHERE o_orderdate > DATE '1998-07-15'),
            latest AS (
              SELECT *, row_number() OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM recent)
            SELECT o_orderkey AS rid, c_custkey AS iid,
                   lower(c_name) AS username, o_orderdate AS regtime
            FROM latest JOIN customer ON o_custkey = c_custkey WHERE rn = 1
        """,
        "link_text_fallback": """
            SELECT c_custkey AS custkey,
                   (['Register here','Sign up now','Join the club'])[(c_custkey % 4) + 1] AS link_text
            FROM customer WHERE c_custkey % 4 <> 3
        """,
        # Hand-traced accept_mail outcome: subject gate drops k%3=1; the
        # text/plain part wins payload selection so only the good URL
        # scores (path ramp + confirm 200 + account 30).
        "mail_e2e": """
            SELECT o_orderkey AS umid,
                   CASE WHEN o_orderkey % 2 = 0 THEN 'alerts' || o_custkey || '@mail.test'
                        ELSE 'user' || o_custkey || '@mail.test' END AS to_addr,
                   CASE WHEN o_orderkey % 3 = 0 THEN 'Please confirm your account'
                        ELSE 'Welcome aboard' END AS subject_decoded,
                   'https://shop' || o_custkey || '.example.com/confirm/account/'
                     || o_orderkey || 'xyz' AS url,
                   CAST(least(greatest(length('confirm/account/' || o_orderkey || 'xyz') - 20, 0), 60)
                        + 200 + 30 AS DOUBLE) AS weight
            FROM orders WHERE o_orderkey % 10 < 3 AND o_orderkey % 3 <> 1
        """,
        # W3 hand-trace: page (h, p=h%8) carries links i=0..2 with texts
        # ANCHOR_TEXTS[(h+p+i)%8]; C18 weights for that table are
        # [6,5,12,3,NULL,NULL,NULL,NULL] ('create an account' combines
        # 3.5 then 11 -> 12); pages whose three texts all miss (k=4,5)
        # yield no row.
        "top_link": """
            WITH hs AS (SELECT DISTINCT c_custkey % 40 AS h FROM customer),
            pg AS (SELECT h, h % 8 AS p, (h + (h % 8)) % 8 AS k FROM hs)
            SELECT printf('http://site%04d.test/p%d', h, p) AS url,
                   CASE k WHEN 0 THEN 'create an account' WHEN 1 THEN 'create an account'
                          WHEN 2 THEN 'create an account' WHEN 3 THEN 'Login'
                          WHEN 6 THEN 'Sign up' WHEN 7 THEN 'Sign up' END AS best_text,
                   CAST(CASE k WHEN 0 THEN 12 WHEN 1 THEN 12 WHEN 2 THEN 12
                               WHEN 3 THEN 3 WHEN 6 THEN 6 WHEN 7 THEN 6 END AS DOUBLE) AS weight,
                   CAST(CASE k WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 0
                               WHEN 3 THEN 0 WHEN 6 THEN 2 WHEN 7 THEN 1 END AS INTEGER) AS pos
            FROM pg WHERE k NOT IN (4, 5)
        """,
        "dns_validate": """
            WITH h AS (
              SELECT c_custkey AS custkey, c_custkey % 5 AS s,
                     (['shop' || c_custkey || '.example.com',
                       'host' || c_custkey || '.test.',
                       '-bad' || c_custkey || '.test',
                       'under_score' || c_custkey || '.test',
                       'double..dot' || c_custkey || '.test'])[(c_custkey % 5) + 1] AS host
              FROM customer)
            SELECT custkey,
                   regexp_replace(host, '\\.$', '') AS norm_name,
                   s IN (0, 1, 3) AS is_valid
            FROM h
        """,
        "conf_render": """
            SELECT c_custkey AS iid,
                   '//' || chr(10) || '// IID: ' || c_custkey || chr(10) || '//' || chr(10)
                   || 'exports.fields = {' || chr(10)
                   || '    username: ["user' || c_custkey || '"],' || chr(10)
                   || '    email: ["user' || c_custkey || '@mail.test"],' || chr(10)
                   || '    password: ["pw' || (c_custkey * 7) % 100000 || '"],' || chr(10)
                   || '};' || chr(10)
                   || 'exports.requiredSet = {email: true, password: true};' || chr(10)
                     AS conf_js
            FROM customer
        """,
        # C19: DuckDB re-runs every expanded pattern with its own regex
        # engine over the same synthesized fields.
        "field_pattern_match": f"""
            WITH fields AS ({_fields_cte()}),
            {_patterns_values_sql()},
            m AS (
              SELECT f.custkey, p.ord, p.ptype, p.attr, p.pattern, p.weight, p.die_on_fail,
                     CASE p.attr WHEN 'id' THEN f."id" WHEN 'name' THEN f."name"
                          WHEN 'value' THEN f."value" WHEN 'type' THEN f."type"
                          WHEN 'tag' THEN f."tag" WHEN 'label' THEN f."label"
                          WHEN 'placeholder' THEN f."placeholder"
                          ELSE f."near_text" END AS av
              FROM fields f CROSS JOIN pat p)
            SELECT custkey, CAST(ord AS INTEGER) AS ord, ptype, attr, pattern,
                   CAST(weight AS DOUBLE) AS weight, die_on_fail
            FROM m WHERE av IS NOT NULL AND regexp_matches(av, pattern, 'i')
        """,
        # W6: hand-traced winner per spec (weight desc, declaration
        # order ties); spec 14 (submit button) matches nothing.
        "field_best_pattern": """
            WITH sp AS (SELECT c_custkey AS custkey, c_custkey % 16 AS s FROM customer)
            SELECT custkey,
              (['email','username','password','firstname','lastname','phone','month','captcha',
                'zip','sex','country','address','city','checkboxes',NULL,'year'])[s+1] AS ptype,
              (['type','id','type','id','id','id','id','id',
                'id','id','id','id','id','type',NULL,'placeholder'])[s+1] AS attr,
              (['email','user.*name','password','.*first.*name.*','.*last.*name.*','phone',
                '.*month.*','captcha','(zip|(post.*code))','(sex|gender)','.*country.*',
                '.*address.*','city','checkbox',NULL,'.*yy'])[s+1] AS pattern,
              CAST(([10,2,5,3,3,3,2,5,0,0,0,6,2,8,NULL,2])[s+1] AS DOUBLE) AS weight,
              s IN (0, 2) AS die_on_fail
            FROM sp WHERE s <> 14
        """,
        # Fill walk: captcha-only field (spec 7) stays unfilled (no
        # configured value); button (spec 14) trivially succeeds.
        "fill_plan": """
            WITH sp AS (SELECT c_custkey AS custkey, c_custkey % 16 AS s FROM customer)
            SELECT custkey,
              (['email','username','password','firstname','lastname','phone','month',NULL,
                'zip','sex','country','address','city','checkboxes',NULL,'year'])[s+1] AS fill_type,
              s <> 7 AS filled,
              s = 14 AS is_button
            FROM sp
        """,
        # Forms missing the email spec die on the required set
        # (tripwire.js:269-287); everything else clears 55%.
        "form_fill_report": """
            WITH sp AS (SELECT c_custkey AS custkey,
                               CAST(FLOOR(c_custkey / 16) AS BIGINT) AS fid,
                               c_custkey % 16 AS s
                        FROM customer),
            agg AS (
              SELECT fid, count(*) AS n_fields,
                     CAST(sum(CASE WHEN s <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
                     round(sum(CASE WHEN s <> 7 THEN 1 ELSE 0 END) * 100.0 / count(*), 1) AS fill_pct,
                     bool_or(s = 0) AS has_email, bool_or(s = 2) AS has_password
              FROM sp GROUP BY fid)
            SELECT fid, n_fields, n_filled, fill_pct,
                   CASE WHEN NOT has_email OR NOT has_password THEN 'missing_required'
                        WHEN fill_pct < 55 THEN 'below_threshold'
                        ELSE 'ok' END AS status
            FROM agg
        """,
    }
)

ORACLES.update(
    {
        "seen_admit": """
            WITH r1 AS (
              SELECT DISTINCT printf('http://site%02d.test/p%d',
                                     user_id % 50, event_id % 20) AS url
              FROM events WHERE event_id % 4 = 0),
            c2 AS (
              SELECT event_id AS ord,
                     printf('http://site%02d.test/p%d',
                            user_id % 50, event_id % 20) AS url
              FROM events),
            firsts AS (
              SELECT ord, url,
                     row_number() OVER (PARTITION BY url ORDER BY ord) AS rn
              FROM c2)
            SELECT ord, url FROM firsts
            WHERE rn = 1 AND url NOT IN (SELECT url FROM r1)
        """,
        "domain_intern": """
            WITH d AS (
              SELECT event_id AS ord,
                     printf('site%02d.test', user_id % 37) AS domain
              FROM events),
            first AS (
              SELECT domain, min(ord) AS first_ord FROM d GROUP BY domain)
            SELECT row_number() OVER (ORDER BY first_ord) AS domain_id,
                   domain, first_ord
            FROM first
        """,
        "link_length_filter": """
            WITH t AS (
              SELECT event_id AS link_id,
                     substr('abcdefghijklmnopqrstuvwxyz0123456789____',
                            1, event_id % 40) AS text
              FROM events)
            SELECT link_id, text, CAST(length(text) AS BIGINT) AS text_len
            FROM t WHERE length(text) BETWEEN 1 AND 30
        """,
        # Transitive closure by recursive CTE: lbl reaches id via any
        # path => component(id) = min(lbl).  Same deterministic edge
        # list as the Spark side; equality pins the star-iteration
        # fixpoint of operators/clustering.py.
        "dup_clusters": """
            WITH RECURSIVE
            raw AS (
              SELECT CAST(event_id % 500 AS BIGINT) AS src,
                     CAST((event_id * 7 + 3) % 500 AS BIGINT) AS dst
              FROM events),
            edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
            bidir AS (SELECT src, dst FROM edges
                      UNION SELECT dst, src FROM edges),
            nodes AS (SELECT DISTINCT src AS id FROM bidir),
            reach(id, lbl) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.id)
            SELECT id AS node, MIN(lbl) AS component FROM reach GROUP BY id
        """,
        # First-occurrence window over 12-word lines; docs rebuilt from
        # survivors in original order.  l[i:i+11] is 1-based inclusive
        # = Spark's slice(toks, i, 12).
        "line_dedup": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
              FROM documents),
            lines AS (
              SELECT doc_id,
                     CAST(gs.i AS INTEGER) // 12 AS pos,
                     array_to_string(l[gs.i + 1 : gs.i + 12], ' ') AS line
              FROM toks, LATERAL (
                SELECT unnest(range(0, CAST(greatest(len(l), 1) AS BIGINT), 12)) AS i) gs),
            ranked AS (
              SELECT doc_id, pos, line,
                     row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
              FROM lines)
            SELECT doc_id,
                   COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY pos),
                            '') AS clean_text,
                   count(*) AS n_lines,
                   CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept
            FROM ranked GROUP BY doc_id
        """,
        "pii_redact": """
            WITH planted AS (
              SELECT doc_id,
                     text || printf(' contact user%d@example.com or 555-%03d-%04d at 10.%d.3.%d',
                                    doc_id, doc_id % 1000, (doc_id * 3) % 10000,
                                    doc_id % 256, (doc_id * 7) % 256) AS text
              FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
                       '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '<PHONE>', 'g') AS clean_text,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(text,
                       '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b')) AS BIGINT) AS n_phones
            FROM planted
        """,
        "url_blacklist": """
            WITH urls AS (
              SELECT event_id AS link_id,
                     printf('http://%s%d.test/page%d',
                            (['shop','google','news','facebook','blogspot',
                              'forum','youtube','mail'])[(event_id % 8) + 1],
                            event_id % 100, event_id % 7) AS url
              FROM events)
            SELECT link_id, url FROM urls
            WHERE NOT regexp_matches(url,
              'google|microsoft|apple|facebook|yahoo|tumblr|blogspot|blogger|youtube|gmail')
        """,
    }
)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)


# ---------------------------------------------------------------------------
# round-3 session additions: LM perplexity gate, corpus split, vocabulary
# induction, point-in-time (as-of) capture lookup


def q_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    # CCNet-style quality gate: hashed conditional-bigram LM trained on
    # the lang='en' slice, every document scored by perplexity under it
    from tripwire_spark.operators.lm import lm_perplexity, train_bigram_lm

    d = _t(spark, sf, "documents")
    model = train_bigram_lm(d.filter(F.col("lang") == "en"), "doc_id", "text", buckets=4096)
    return lm_perplexity(d, model, "doc_id", "text", buckets=4096)


def q_split_corpus(spark: SparkSession, sf: str) -> DataFrame:
    # deterministic train/val/test assignment: contiguous md5-bucket
    # ranges over the doc id (stable under corpus growth)
    from tripwire_spark.operators.packing import split_corpus

    d = _t(spark, sf, "documents")
    return split_corpus(d, {"train": 0.9, "val": 0.05, "test": 0.05}, "doc_id").select(
        "doc_id", "split"
    )


def q_vocab_induce(spark: SparkSession, sf: str) -> DataFrame:
    # frequency-induced seed vocabulary: global top-k tokens via
    # TakeOrderedAndProject (never a full sort of the token table)
    from tripwire_spark.operators.weighting import vocab_induce

    return vocab_induce(_t(spark, sf, "documents"), "text", size=200, min_count=2)


def q_asof_capture(spark: SparkSession, sf: str) -> DataFrame:
    # wayback "closest at-or-before" semantics: CDX index built from a
    # closed-form capture history, as-of joined against per-url queries
    # (mixed-case urls exercise the SURT canonicalization on both sides)
    from tripwire_spark.sources.warc import asof_lookup, build_cdx_index

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    caps = (
        c.select(k.alias("k"))
        .select("k", F.explode(F.sequence(F.lit(0), F.pmod(F.col("k"), F.lit(3)))).alias("i"))
        .select(
            F.concat(F.lit("http://Site"), F.col("k"), F.lit(".Test/doc")).alias("url"),
            (F.col("k") * 1000 + F.col("i") * 100).cast("long").alias("warc_ts"),
            F.concat(
                F.lit("body"), F.col("k"), F.lit("-"), F.floor(F.col("i") / 2)
            ).cast("binary").alias("html"),
        )
    )
    cdx = build_cdx_index(caps, url_col="url", ts_col="warc_ts", body_col="html", shards=8)
    queries_df = c.select(
        F.concat(F.lit("http://site"), k, F.lit(".test/doc")).alias("url"),
        (k * 1000 + F.pmod(k, F.lit(4)) * 100 - 50).cast("long").alias("ts"),
    )
    return asof_lookup(cdx, queries_df, "url", "ts")


QUERIES.update(
    {
        "lm_perplexity": q_lm_perplexity,
        "split_corpus": q_split_corpus,
        "vocab_induce": q_vocab_induce,
        "asof_capture": q_asof_capture,
    }
)

ORACLES.update(
    {
        "lm_perplexity": """
            WITH toks AS (
              SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM documents),
            g0 AS (
              SELECT doc_id, lang,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
                          ELSE [] END AS grams
              FROM toks),
            g AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g0),
            gb AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS bg,
                     ('0x' || substr(md5(string_split(gram, ' ')[1]), 1, 8))::BIGINT % 4096 AS cx
              FROM g),
            bgc AS (SELECT bg AS bucket, count(*) AS c_bg FROM gb WHERE lang = 'en' GROUP BY bg),
            ctxc AS (SELECT cx AS bucket, count(*) AS c_ctx FROM gb WHERE lang = 'en' GROUP BY cx),
            inst AS (
              SELECT gb.doc_id,
                     CAST(round((ln(CAST(coalesce(b.c_bg, 0) + 1 AS DOUBLE))
                               - ln(CAST(coalesce(c.c_ctx, 0) + 4096 AS DOUBLE))) * 1000000.0, 0)
                          AS BIGINT) AS lp
              FROM gb LEFT JOIN bgc b ON gb.bg = b.bucket
                      LEFT JOIN ctxc c ON gb.cx = c.bucket),
            per AS (SELECT doc_id, count(*) AS n_grams, sum(lp) AS s FROM inst GROUP BY doc_id)
            SELECT d.doc_id, CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                   round(exp(-(p.s / 1000000.0) / p.n_grams), 6) AS ppl
            FROM documents d LEFT JOIN per p USING (doc_id)
        """,
        "split_corpus": """
            SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 9000
                        THEN 'train'
                        WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 9500
                        THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "vocab_induce": """
            WITH toks AS (
              SELECT string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
            tt AS (SELECT unnest(t) AS term FROM toks),
            c AS (SELECT term, count(*) AS n FROM tt
                  WHERE term <> '' GROUP BY term HAVING count(*) >= 2),
            r AS (SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS token_id FROM c)
            SELECT token_id, term AS token, CAST(n AS BIGINT) AS n
            FROM r WHERE token_id <= 200
        """,
        "asof_capture": """
            WITH ix AS (
              SELECT c_custkey, unnest(range(0, (c_custkey % 3) + 1)) AS i FROM customer),
            caps AS (
              SELECT 'test,site' || c_custkey || ')/doc' AS surt_key,
                     c_custkey * 1000 + i * 100 AS ts,
                     'http://Site' || c_custkey || '.Test/doc' AS url,
                     md5('body' || c_custkey || '-' || (i // 2)) AS digest
              FROM ix),
            q AS (
              SELECT 'test,site' || c_custkey || ')/doc' AS surt_key,
                     'http://site' || c_custkey || '.test/doc' AS q_url,
                     c_custkey * 1000 + (c_custkey % 4) * 100 - 50 AS asof_ts
              FROM customer),
            m AS (
              SELECT q.q_url AS url, q.asof_ts, c.ts AS capture_ts,
                     c.url AS capture_url, c.digest,
                     row_number() OVER (PARTITION BY q.q_url, q.asof_ts
                                        ORDER BY c.ts DESC NULLS LAST, c.url) AS rn
              FROM q LEFT JOIN caps c ON q.surt_key = c.surt_key AND c.ts <= q.asof_ts)
            SELECT url, asof_ts, capture_ts, capture_url, digest FROM m WHERE rn = 1
        """,
    }
)


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup: embedding-cluster + intra-cluster cosine pairs ->
    # one-survivor-per-component keep list.  rows-only by declared
    # design (the trained k-means quantizer is not SQL-restatable);
    # true-positive + planted-dup recall pinned by
    # tests/test_dedup_similarity.py::test_semantic_dedup_finds_planted_dups
    from tripwire_spark.operators.similarity import semantic_dedup_keep

    e = _t(spark, sf, "embeddings")
    return semantic_dedup_keep(e, "vec_id", "embedding", threshold=0.95, n_centroids=8)


QUERIES.update({"semantic_dedup": q_semantic_dedup})


# ---------------------------------------------------------------------------
# round-3 session additions (2): crawl-log sessions, URL-param mining,
# corpus shuffle, CCNet ppl buckets, text repair, distributed BPE

_SESSION_LOG_CTE = """
            l AS (SELECT event_id AS rid,
                         printf('site%02d.test', CAST(user_id % 20 AS INT)) AS host,
                         (event_id * 6007) % 86400 AS ts_s
                  FROM events),
            m AS (SELECT rid, host, ts_s,
                         CASE WHEN lag(ts_s) OVER w IS NULL
                                OR ts_s - lag(ts_s) OVER w > 600 THEN 1 ELSE 0 END AS nw
                  FROM l WINDOW w AS (PARTITION BY host ORDER BY ts_s, rid)),
            s AS (SELECT rid, host, ts_s,
                         CAST(sum(nw) OVER (PARTITION BY host ORDER BY ts_s, rid
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                  FROM m)"""

# DuckDB twin of textstats.BPE_SPLIT_RE (leading ' doubled for the SQL
# literal)
_BPE_RE_SQL = (
    "'''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'"
)


def _bpe_stage(n: int) -> str:
    """One unrolled BPE merge: pair counts over the double-fenced vocab,
    deterministic argmax, replace() rewrite (the same left-to-right
    greedy semantics the Spark path runs)."""
    s, ss = "chr(31)", "chr(31)||chr(31)"
    prev = f"s{n-1}"
    return f"""
            l{n} AS (SELECT string_split(syms, {ss}) AS a, cnt FROM {prev}),
            p{n} AS (SELECT unnest(list_transform(generate_series(2, len(a)-2),
                             i -> {{'l': a[i], 'r': a[i+1]}})) AS pr, cnt FROM l{n}),
            pc{n} AS (SELECT pr.l AS lft, pr.r AS rgt, sum(cnt) AS c FROM p{n} GROUP BY 1, 2),
            b{n} AS (SELECT lft, rgt, c FROM pc{n} ORDER BY c DESC, lft, rgt LIMIT 1),
            s{n} AS (SELECT replace(syms, {s}||b.lft||{ss}||b.rgt||{s},
                                    {s}||b.lft||b.rgt||{s}) AS syms, cnt
                     FROM {prev} CROSS JOIN b{n} b)"""


def _bpe_vocab_cte() -> str:
    s = "chr(31)"
    return f"""
            words0 AS (
              SELECT unnest(regexp_extract_all(text, {_BPE_RE_SQL}, 0)) AS word
              FROM documents),
            vocab AS (
              SELECT word, count(*) AS cnt FROM words0
              WHERE NOT contains(word, chr(31)) AND NOT contains(word, chr(10))
              GROUP BY word),
            s0 AS (
              SELECT {s} || regexp_replace(word, '(?s)(.)', {s} || '\\1' || {s}, 'g') || {s} AS syms, cnt
              FROM vocab)"""


def _bpe_segment_oracle() -> str:
    from tripwire_spark.functions.text_clean import _sql_lit
    from tripwire_spark.operators.bpe import SEP

    merges = [(" ", "t"), ("h", "e"), (" t", "he")]
    s = "chr(31)"
    rew = f"{s} || regexp_replace(u.word, '(?s)(.)', {s} || '\\1' || {s}, 'g') || {s}"
    for l, r in merges:
        pat = _sql_lit(SEP + l + SEP + SEP + r + SEP)
        rep = _sql_lit(SEP + l + r + SEP)
        rew = f"replace({rew}, {pat}, {rep})"
    return f"""
            WITH w AS (
              SELECT doc_id, regexp_extract_all(text, {_BPE_RE_SQL}, 0) AS ws
              FROM documents),
            e AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
                            i -> {{'pos': i, 'word': ws[i]}})) AS u FROM w),
            seg AS (SELECT doc_id, u.pos AS pos,
                           string_split({rew}, chr(31)||chr(31)) AS a
                    FROM e WHERE NOT contains(u.word, chr(31))),
            ps AS (SELECT doc_id, pos, a[2:len(a)-1] AS p FROM seg)
            SELECT doc_id, CAST(sum(len(p)) AS BIGINT) AS n_pieces,
                   string_agg(array_to_string(p, chr(30)), chr(30) ORDER BY pos) AS pieces_str
            FROM ps GROUP BY doc_id"""


def _clean_text_oracle() -> str:
    from tripwire_spark.functions.text_clean import _moji, _sql_lit, clean_text_sql

    pre = _moji("It’s a café — résumé: ")
    suf = _moji(" Ünicode…")
    raw = f"{_sql_lit(pre)} || substr(text, 1, 50) || chr(1) || chr(2) || {_sql_lit(suf)}"
    return f"SELECT doc_id, {clean_text_sql(raw)} AS cleaned FROM documents"


_LM_SCORE_CTES = """
            toks AS (
              SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM documents),
            g0 AS (
              SELECT doc_id, lang,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
                          ELSE [] END AS grams
              FROM toks),
            g AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g0),
            gb AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS bg,
                     ('0x' || substr(md5(string_split(gram, ' ')[1]), 1, 8))::BIGINT % 4096 AS cx
              FROM g),
            bgc AS (SELECT bg AS bucket, count(*) AS c_bg FROM gb WHERE lang = 'en' GROUP BY bg),
            ctxc AS (SELECT cx AS bucket, count(*) AS c_ctx FROM gb WHERE lang = 'en' GROUP BY cx),
            inst AS (
              SELECT gb.doc_id,
                     CAST(round((ln(CAST(coalesce(b.c_bg, 0) + 1 AS DOUBLE))
                               - ln(CAST(coalesce(c.c_ctx, 0) + 4096 AS DOUBLE))) * 1000000.0, 0)
                          AS BIGINT) AS lp
              FROM gb LEFT JOIN bgc b ON gb.bg = b.bucket
                      LEFT JOIN ctxc c ON gb.cx = c.bucket),
            per AS (SELECT doc_id, count(*) AS n_grams, sum(lp) AS s FROM inst GROUP BY doc_id),
            scored AS (
              SELECT d.doc_id, CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                     round(exp(-(p.s / 1000000.0) / p.n_grams), 6) AS ppl
              FROM documents d LEFT JOIN per p USING (doc_id))"""

ORACLES.update(
    {
        "sessionize": f"""
            WITH {_SESSION_LOG_CTE.strip()}
            SELECT rid, host, ts_s, session_seq,
                   host || '#' || CAST(session_seq AS VARCHAR) AS session_id
            FROM s
        """,
        "crawl_sessions": f"""
            WITH {_SESSION_LOG_CTE.strip()}
            SELECT host, session_seq, CAST(count(*) AS BIGINT) AS n_rows,
                   min(ts_s) AS first_ts, max(ts_s) AS last_ts,
                   CAST(max(ts_s) - min(ts_s) AS BIGINT) AS dwell_s
            FROM s GROUP BY host, session_seq
        """,
        "tracking_params": """
            WITH c AS (
              SELECT printf('s%02d.test', CAST(user_id % 10 AS INT)) AS host,
                     '/p' || CAST(event_id % 5 AS VARCHAR) AS path,
                     CAST(event_id % 3 AS VARCHAR) AS page,
                     CAST(event_id % 7 AS VARCHAR) AS sid
              FROM events),
            cap AS (SELECT host, path, page, sid,
                           md5('c|' || host || '|' || path || '|' || page) AS digest
                    FROM c),
            inst AS (
              SELECT host, path, 'page' AS param, page AS val, digest, 'sid=' || sid AS ctx FROM cap
              UNION ALL
              SELECT host, path, 'sid', sid, digest, 'page=' || page FROM cap),
            g AS (SELECT host, path, ctx, param,
                         count(DISTINCT val) AS nv, count(DISTINCT digest) AS nd
                  FROM inst GROUP BY 1, 2, 3, 4),
            v AS (SELECT * FROM g WHERE nv >= 2)
            SELECT host, param, CAST(count(*) AS BIGINT) AS n_contexts,
                   CAST(sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS invariant_contexts,
                   sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) = count(*) AS is_tracking
            FROM v GROUP BY host, param
        """,
        "strip_params": """
            WITH u AS (
              SELECT c_custkey AS custkey,
                     CAST(c_custkey % 5 AS INT) AS h,
                     c_custkey % 3 = 0 AS plain,
                     c_custkey % 9 AS sid, c_custkey % 4 AS page
              FROM customer)
            SELECT custkey,
                   CASE WHEN plain THEN printf('http://s%02d.test/plain', h)
                        WHEN h = 0 THEN printf('http://s00.test/a?page=%d', page)
                        WHEN h = 2 THEN printf('http://s02.test/a?page=%d&utm=x', page)
                        WHEN h = 4 THEN printf('http://s04.test/a?sid=%d&page=%d', sid, page)
                        ELSE printf('http://s%02d.test/a?sid=%d&page=%d&utm=x', h, sid, page)
                   END AS url
            FROM u
        """,
        "shuffle_corpus": """
            SELECT doc_id,
                   CAST(row_number() OVER (
                          ORDER BY ('0x' || substr(md5('e1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                                   doc_id) - 1 AS BIGINT) AS pos
            FROM documents
        """,
        "ppl_buckets": f"""
            WITH {_LM_SCORE_CTES.strip()},
            s2 AS (SELECT * FROM scored WHERE ppl IS NOT NULL),
            r AS (SELECT doc_id, n_grams, ppl,
                         row_number() OVER (ORDER BY CAST(round(ppl * 1000000.0, 0) AS BIGINT),
                                            doc_id) - 1 AS pos,
                         count(*) OVER () AS n
                  FROM s2)
            SELECT doc_id, n_grams, ppl,
                   CASE CAST((pos * 3) // n AS INT) WHEN 0 THEN 'head'
                        WHEN 1 THEN 'middle' ELSE 'tail' END AS ppl_bucket
            FROM r
        """,
        "clean_text": _clean_text_oracle(),
        "bpe_merges": f"""
            WITH {_bpe_vocab_cte().strip()},{_bpe_stage(1)},{_bpe_stage(2)},{_bpe_stage(3)}
            SELECT * FROM (
              SELECT 1 AS rank, lft AS left, rgt AS right, CAST(c AS BIGINT) AS pair_cnt FROM b1
              UNION ALL SELECT 2, lft, rgt, CAST(c AS BIGINT) FROM b2
              UNION ALL SELECT 3, lft, rgt, CAST(c AS BIGINT) FROM b3)
        """,
        "bpe_segment": _bpe_segment_oracle(),
        "scorecard_budgets": f"""
            WITH {_CURATION_CTES},
            j AS (SELECT d.source, v.verdict FROM v JOIN documents d USING (doc_id)),
            sc AS (SELECT source,
                          CAST(round(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) * 1000000.0
                                     / count(*), 0) AS BIGINT) AS keep_rate6
                   FROM j GROUP BY source)
            SELECT source AS host,
                   greatest(1, CAST((8 * keep_rate6 + 500000) // 1000000 AS INT)) AS crawl_budget
            FROM sc
        """,
    }
)

ORACLES.update(
    {
        "doc_length_quantiles": """
            WITH s AS (SELECT doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL),
            r AS (SELECT n_chars,
                         row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS pos,
                         count(*) OVER () AS n
                  FROM s)
            SELECT q, value FROM (
              SELECT CAST(0.05 AS DOUBLE) AS q, n_chars AS value FROM r WHERE pos = (50000 * (n - 1)) // 1000000
              UNION ALL SELECT CAST(0.5 AS DOUBLE), n_chars FROM r WHERE pos = (500000 * (n - 1)) // 1000000
              UNION ALL SELECT CAST(0.95 AS DOUBLE), n_chars FROM r WHERE pos = (950000 * (n - 1)) // 1000000)
        """,
        "length_band": """
            WITH s AS (SELECT doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL),
            r AS (SELECT n_chars,
                         row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS pos,
                         count(*) OVER () AS n
                  FROM s),
            lo AS (SELECT n_chars AS v FROM r WHERE pos = (100000 * (n - 1)) // 1000000),
            hi AS (SELECT n_chars AS v FROM r WHERE pos = (900000 * (n - 1)) // 1000000)
            SELECT d.doc_id, d.n_chars,
                   d.n_chars >= lo.v AND d.n_chars <= hi.v AS in_band
            FROM documents d CROSS JOIN lo CROSS JOIN hi
        """,
    }
)


# ---------------------------------------------------------------------------
# round-3 session additions (3): TrustRank + spam mass

def q_trust_rank(spark: SparkSession, sf: str) -> DataFrame:
    # Seed-teleport TrustRank over the same synthetic host graph as
    # host_rank; trusted seeds = h00..h09
    from tripwire_spark.operators.graph import trust_rank

    e = _t(spark, sf, "events").select(
        F.format_string("h%02d", F.pmod(F.col("user_id"), F.lit(50)).cast("int")).alias("src"),
        F.format_string("h%02d", F.pmod(F.col("event_id"), F.lit(50)).cast("int")).alias("dst"),
    )
    seeds = (
        _t(spark, sf, "events")
        .filter(F.pmod(F.col("user_id"), F.lit(50)) < 10)
        .select(
            F.format_string("h%02d", F.pmod(F.col("user_id"), F.lit(50)).cast("int")).alias("node")
        )
        .distinct()
    )
    return trust_rank(e, seeds, iterations=3)


def q_spam_mass(spark: SparkSession, sf: str) -> DataFrame:
    # relative spam mass: PageRank share unbacked by trust, integer-exact
    from tripwire_spark.operators.graph import page_rank, spam_mass, trust_rank

    e = _t(spark, sf, "events").select(
        F.format_string("h%02d", F.pmod(F.col("user_id"), F.lit(50)).cast("int")).alias("src"),
        F.format_string("h%02d", F.pmod(F.col("event_id"), F.lit(50)).cast("int")).alias("dst"),
    )
    seeds = (
        _t(spark, sf, "events")
        .filter(F.pmod(F.col("user_id"), F.lit(50)) < 10)
        .select(
            F.format_string("h%02d", F.pmod(F.col("user_id"), F.lit(50)).cast("int")).alias("node")
        )
        .distinct()
    )
    return spam_mass(page_rank(e, iterations=3), trust_rank(e, seeds, iterations=3))


QUERIES.update({"trust_rank": q_trust_rank, "spam_mass": q_spam_mass})


def _rank_iter_ctes(kind: str, iters: int = 3) -> str:
    """Unrolled integer rank iterations; kind 'pr' (uniform teleport)
    or 'tr' (seed teleport) — same arithmetic the Spark loops run."""
    U = "CAST(1000000000000 AS BIGINT)"
    out = []
    if kind == "pr":
        out.append(f"pr0 AS (SELECT node, {U} // n.n AS r FROM nd, n)")
        tele = f"{U} * 15 // 100 // n.n"
        base_from = "nd CROSS JOIN n"
        pfx = "pr"
    else:
        out.append(
            f"tr0 AS (SELECT nd.node, CASE WHEN sd.node IS NOT NULL THEN {U} // ns.ns ELSE 0 END AS r"
            "  FROM nd LEFT JOIN sd ON nd.node = sd.node CROSS JOIN ns)"
        )
        tele = f"CASE WHEN sd.node IS NOT NULL THEN {U} * 15 // 100 // ns.ns ELSE 0 END"
        base_from = "nd LEFT JOIN sd ON nd.node = sd.node CROSS JOIN ns"
        pfx = "tr"
    for i in range(1, iters + 1):
        out.append(
            f"{pfx}c{i} AS (SELECT e.d AS node, CAST(sum({pfx}{i-1}.r // od.od) AS BIGINT) AS c"
            f"  FROM e JOIN {pfx}{i-1} ON e.s = {pfx}{i-1}.node JOIN od ON e.s = od.s GROUP BY e.d)"
        )
        out.append(
            f"{pfx}{i} AS (SELECT nd.node, {tele} + 85 * coalesce({pfx}c{i}.c, 0) // 100 AS r"
            f"  FROM {base_from} LEFT JOIN {pfx}c{i} ON nd.node = {pfx}c{i}.node)"
        )
    return ",\n            ".join(out)


_GRAPH_BASE_CTES = """e AS (
              SELECT DISTINCT printf('h%02d', CAST(user_id % 50 AS INT)) AS s,
                              printf('h%02d', CAST(event_id % 50 AS INT)) AS d
              FROM events),
            nd AS (SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
            n AS (SELECT count(*) AS n FROM nd),
            od AS (SELECT s, count(*) AS od FROM e GROUP BY s),
            sd AS (SELECT DISTINCT printf('h%02d', CAST(user_id % 50 AS INT)) AS node
                   FROM events WHERE user_id % 50 < 10),
            ns AS (SELECT count(*) AS ns FROM sd)"""

ORACLES.update(
    {
        "trust_rank": f"""
            WITH {_GRAPH_BASE_CTES},
            {_rank_iter_ctes('tr')}
            SELECT node, CAST(r AS BIGINT) AS trust_micro FROM tr3
        """,
        "spam_mass": f"""
            WITH {_GRAPH_BASE_CTES},
            {_rank_iter_ctes('pr')},
            {_rank_iter_ctes('tr')}
            SELECT p.node, CAST(p.r AS BIGINT) AS rank_micro,
                   CAST(t.r AS BIGINT) AS trust_micro,
                   CAST(CASE WHEN p.r > 0
                             THEN greatest(0, p.r - t.r) * 1000000 // p.r
                             ELSE 0 END AS BIGINT) AS spam_mass6
            FROM pr3 p JOIN tr3 t ON p.node = t.node
        """,
    }
)
