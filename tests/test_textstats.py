"""Character-entropy quality signals (textstats.entropy_features).

Hand-traced Shannon entropies over the 38-bucket alphabet; the
DuckDB-twin parity is pinned by the `doc_entropy` oracle row.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tripwire_spark.operators.textstats import entropy_features


def _entropies(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    feats = entropy_features(F.col("text"))
    rows = (
        df.select("id", *(feats[k].alias(k) for k in ("n_chars", "char_entropy", "alnum_ratio")))
        .orderBy("id")
        .collect()
    )
    return rows


def test_char_entropy_hand_traced(spark):
    rows = _entropies(
        spark,
        [
            "aabb",        # two equiprobable buckets -> exactly 1 bit
            "aaaa",        # single bucket -> 0 bits
            "a!",          # 'a' + OTHER bucket, equiprobable -> 1 bit
            "",            # empty -> 0 by definition, no NaN/null
            "AaBb",        # lowercased first: same as "aabb"
        ],
    )
    assert [r.n_chars for r in rows] == [4, 4, 2, 0, 4]
    ents = [r.char_entropy for r in rows]
    assert abs(ents[0] - 1.0) < 1e-12
    assert ents[1] == 0.0
    assert abs(ents[2] - 1.0) < 1e-12
    assert ents[3] == 0.0
    assert abs(ents[4] - 1.0) < 1e-12
    # alnum ratio: "a!" is half alnum; space is NOT alnum
    assert abs(rows[2].alnum_ratio - 0.5) < 1e-12


def test_char_entropy_mixed_distribution(spark):
    # "aab" -> p(a)=2/3, p(b)=1/3
    (row,) = _entropies(spark, ["aab"])
    expect = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert abs(row.char_entropy - expect) < 1e-12
    assert row.alnum_ratio == 1.0


def test_c4_line_filters_hand_traced(spark):
    from tripwire_spark.operators.textstats import c4_line_filters

    good = "This line has five good words.\nAnother fine sentence ends here!\nA third proper sentence follows now?"
    docs = [
        (0, good),                                   # all 3 lines survive -> keep
        (1, "short line.\n" + good),                 # <5 words line dropped, page kept
        (2, good + "\nenable javascript to view."),  # javascript line dropped
        (3, good.replace(".", "")),                  # '.' line dropped; '!' and '?' survive
        (4, good + "\nlorem ipsum dolor sit amet."), # page gate: lorem ipsum
        (5, good + "\nfunction f() { return; }"),    # page gate: curly brace
        (6, "Only two sentences live here.\nAnd this is the second one."),  # <3 sentences
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    feats = c4_line_filters(F.col("text"))
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id", *(feats[k].alias(k) for k in ("n_lines", "n_kept", "keep"))
        ).collect()
    }
    assert (rows[0].n_lines, rows[0].n_kept, rows[0].keep) == (3, 3, True)
    assert (rows[1].n_kept, rows[1].keep) == (3, True)
    assert (rows[2].n_kept, rows[2].keep) == (3, True)
    assert (rows[3].n_kept, rows[3].keep) == (2, False)  # 2 sentences < 3
    assert rows[4].keep is False and rows[4].n_kept == 4  # line gates pass, page gate kills
    assert rows[5].keep is False
    assert (rows[6].n_kept, rows[6].keep) == (2, False)


def test_space_counts_in_alphabet_not_alnum(spark):
    (row,) = _entropies(spark, ["a a"])  # a:2/3, space:1/3
    expect = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert abs(row.char_entropy - expect) < 1e-12
    assert abs(row.alnum_ratio - 2 / 3) < 1e-12


def test_c4_crlf_and_unicode_parity_paths(spark):
    from tripwire_spark.operators.textstats import c4_line_filters, entropy_features

    crlf = "Five good words end here.\r\nAnother proper line sits right here!\r\nA third one finishes the page now?"
    docs = [(0, crlf), (1, "JAVASCRİPT in a line with five words here."), (2, "İİaabb")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    cf = c4_line_filters(F.col("text"))
    ef = entropy_features(F.col("text"))
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            cf["n_lines"].alias("nl"), cf["n_kept"].alias("nk"), cf["keep"].alias("keep"),
            ef["n_chars"].alias("nc"), F.round(ef["char_entropy"], 6).alias("H"),
        ).collect()
    }
    # CRLF doc: \r?\n split leaves no \r tails; all 3 lines keep, page keeps
    assert (rows[0].nl, rows[0].nk, rows[0].keep) == (3, 3, True)
    # Turkish İ: non-ASCII folds to DEL BEFORE lower() on both engines,
    # so n_chars stays 1:1 with the input (İ != 'i'+combining in Spark)
    assert rows[2].nc == 6
    # İİaabb -> buckets {OTHER:2, a:2, b:2} -> log2(3) bits
    import math
    assert abs(rows[2].H - math.log2(3)) < 1e-6


def test_entropy_features_compile_without_codegen_fallback(spark):
    """The three entropy columns compile to generated Java within the
    JVM's 64 KB method limit: with ``spark.sql.codegen.fallback=false``
    an over-limit method raises instead of falling back to
    interpretation.  Values are the hand-traced ones above."""
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = _entropies(spark, ["aabb", "a!"])
    finally:
        spark.conf.set(key, old)
    assert [r.n_chars for r in rows] == [4, 2]
    assert [r.char_entropy for r in rows] == [1.0, 1.0]
    assert rows[1].alnum_ratio == 0.5
