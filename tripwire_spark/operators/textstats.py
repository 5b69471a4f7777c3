"""Text analytics for training-data pipelines: language ID, quality
scoring, token stats, document fingerprinting.

All operators are pure Spark column expressions (JVM-side, codegen'd,
no UDFs) so they run at 100 TB scan speed and have exact ANSI-SQL
oracle twins.  The reference's nearest analog is the ``lang_class``
enum + page-text keyword analytics (schema.sql:241-247,
submitcheck.js:6-14 keyword counting); the rest follows standard
web-corpus curation practice (Gopher-style length/stopword gates).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword sets (top function words per language).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ich", "du", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "je", "tu", "avec", "un", "une"],
    "es": ["el", "los", "y", "es", "yo", "con", "un", "una", "que", "por"],
}

ROLLING_MOD = 1_000_000_007
ROLLING_MULT = 131


def tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.lower(F.trim(text)), r"\s+")


# GPT-2-style pre-tokenizer split (the public gpt-2 regex minus its
# lookahead clauses, which RE2 engines reject — the DuckDB oracle twin
# runs RE2, Spark runs java.util.regex, and this subset tokenizes
# identically on both): contractions, letter runs, digit runs,
# punctuation runs, whitespace — each with an optional leading space.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_tokens(text: Column) -> Column:
    """Subword-boundary pre-tokens (BPE tokenizers split within these,
    never across, so their count is the stable upper-structure of the
    true token count)."""
    return F.regexp_extract_all(text, F.lit(BPE_SPLIT_RE), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text)).cast("long")


# Sentence split as "runs of non-terminators plus their trailing
# terminators" — deliberately lookaround-free so java.util.regex and
# RE2 (the DuckDB oracle engine) segment identically.  The C4 span
# rules and ExactSubstr both speak in sentences; this is the
# deterministic segmenter they compose with.
SENTENCE_RE = r"[^.!?]+[.!?]*"


def sentences(text: Column) -> Column:
    """Trimmed, non-empty sentence array in document order."""
    return F.filter(
        F.transform(
            F.regexp_extract_all(text, F.lit(SENTENCE_RE), 0), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )


def stopword_hits(toks: Column, lang: str) -> Column:
    """# tokens that are stopwords of ``lang`` (size of filtered array)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")


def lang_scores(toks: Column) -> list[tuple[str, Column]]:
    return [(lang, stopword_hits(toks, lang)) for lang in sorted(STOPWORDS)]


def lang_id(toks: Column) -> Column:
    """argmax stopword hits; ties broken by language code order; 'und'
    (undetermined) when no stopword matched at all."""
    scores = lang_scores(toks)
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    # iterate in REVERSE code order so earlier codes win ties with >=
    for lang, s in reversed(scores):
        cond = s > best_score
        tie = (s == best_score) & (s > 0) & (F.lit(True))
        best_lang = F.when(cond | tie, F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(best_score, s)
    return best_lang


def quality_features(text: Column) -> dict[str, Column]:
    """Gopher-style quality gates, all SQL-expressible."""
    toks = tokens(text)
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(F.trim(text)).cast("long")
    mean_token_len = ((n_chars - (n_tokens - 1)).cast("double") / n_tokens)
    stop_ratio = stopword_hits(toks, "en").cast("double") / n_tokens
    return {
        "n_tokens": n_tokens,
        "mean_token_len": mean_token_len,
        "stop_ratio": stop_ratio,
        "keep": (n_tokens >= 20) & (n_tokens <= 100000) & (mean_token_len >= 2) & (mean_token_len <= 12),
    }


# Character alphabet for the entropy/alnum quality signals.  Lowercase
# letters + digits + space; everything else (punctuation, unicode)
# collapses into ONE "other" bucket, so the distribution has a fixed 38
# buckets and the whole computation is a scan-side projection.
ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "

# Non-ASCII chars fold 1:1 into DEL before lower(): Unicode lowercasing
# is NOT engine-identical (Java lower('İ') = 'i'+combining-dot, two
# chars; DuckDB/utf8proc = 'i', one char), so the oracle twin only
# matches if both engines lowercase the SAME pure-ASCII string.  The
# placeholder keeps length 1:1 and lands in the OTHER bucket, which is
# where non-ASCII was counted anyway.
_NON_ASCII_RE = r"[^\x00-\x7f]"
_ASCII_PLACEHOLDER = "\x7f"


def _bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` computed once per row: a lambda
    body re-evaluates every outer expression it names once per array
    element, while a lambda variable is computed once."""
    return F.transform(F.array(value), body)[0]


def _sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0), lambda acc, x: acc + x)


def _char_buckets(text: Column) -> Column:
    """The 38 bucket counts of :func:`entropy_features` as one int array:
    the ``ENTROPY_ALPHABET`` chars in order, then OTHER."""
    alphabet = F.array(*(F.lit(c) for c in ENTROPY_ALPHABET))

    def counts(s: Column) -> Column:
        n = F.length(s)
        per_char = F.transform(alphabet, lambda c: n - F.length(F.replace(s, c, F.lit(""))))
        return _bind(per_char, lambda cs: F.concat(cs, F.array(n - _sum(cs))))

    return _bind(F.lower(F.regexp_replace(text, _NON_ASCII_RE, _ASCII_PLACEHOLDER)), counts)


def entropy_features(text: Column) -> dict[str, Column]:
    """Character-distribution quality signals (CCNet/Gopher-adjacent):

    - ``char_entropy``: Shannon entropy (bits) of the lowercased
      character distribution over ``ENTROPY_ALPHABET`` + one OTHER
      bucket.  Low entropy flags boilerplate/keyword-stuffed/repeated
      -character junk; near-max entropy flags encoded blobs.
    - ``alnum_ratio``: fraction of characters that are [a-z0-9] after
      lowercasing — the classic symbol-soup gate.

    Pure column expressions, no UDF, no explode, no shuffle: a
    higher-order ``transform`` over the alphabet takes the per-char
    counts as ``length(replace(s, c, ''))`` deltas, once per row, and
    ``aggregate`` folds the entropy left-to-right from 0.0 — the DuckDB
    oracle twin (``entropy_sql``) adds the SAME terms in the SAME order,
    so both engines return the same doubles (6-dp rounding absorbs the
    <=1e-12 cross-libm drift).  One CASE WHEN per bucket, written out,
    made Spark's generated Java outgrow the JVM's 64 KB method limit.
    ~37 string passes/row is scan-speed at 100 TB: it is per-row map
    work on a column the scan already read.  Non-ASCII folds to one
    OTHER-bucket placeholder per char BEFORE lowercasing (see
    ``_NON_ASCII_RE``) so both engines lowercase identical ASCII.
    """
    n_alnum = ENTROPY_ALPHABET.index(" ")  # [a-z0-9] lead the alphabet

    def entropy(bs: Column) -> Column:
        def fold(nd: Column) -> Column:
            def term(c: Column) -> Column:
                p = c.cast("double") / nd
                return F.when(c > 0, -p * F.log2(p)).otherwise(F.lit(0.0))

            return F.aggregate(bs, F.lit(0.0), lambda acc, c: acc + term(c))

        return _bind(_sum(bs).cast("double"), fold)

    def alnum_ratio(bs: Column) -> Column:
        return _bind(_sum(bs), lambda n: F.when(
            n > 0, _sum(F.slice(bs, 1, n_alnum)).cast("double") / n.cast("double")
        ).otherwise(F.lit(0.0)))

    buckets = _char_buckets(text)
    return {
        "n_chars": _sum(buckets).cast("long"),
        "char_entropy": _bind(buckets, entropy),
        "alnum_ratio": _bind(buckets, alnum_ratio),
    }


def entropy_sql(text_expr: str) -> dict[str, str]:
    """ANSI-SQL twins of :func:`entropy_features`, with the entropy terms
    in the same ORDER as the Spark fold, so the float sums match."""
    # 'g': DuckDB regexp_replace is first-match-only by default where
    # Spark's is global.
    s = f"lower(regexp_replace({text_expr}, '{_NON_ASCII_RE}', chr(127), 'g'))"
    n = f"length({s})"
    def cnt(c: str) -> str:
        lit = "' '" if c == " " else f"'{c}'"
        return f"({n} - length(replace({s}, {lit}, '')))"
    counts = [cnt(c) for c in ENTROPY_ALPHABET]
    alnum = " + ".join(cnt(c) for c in ENTROPY_ALPHABET if c != " ")
    covered = " + ".join(counts)
    buckets = counts + [f"({n} - ({covered}))"]
    terms = []
    for c in buckets:
        p = f"(CAST({c} AS DOUBLE) / {n})"
        terms.append(f"CASE WHEN {c} > 0 THEN -{p} * log2({p}) ELSE 0.0 END")
    ent = " + ".join(terms)
    return {
        "n_chars": f"CAST({n} AS BIGINT)",
        "char_entropy": f"CASE WHEN {n} > 0 THEN {ent} ELSE 0.0 END",
        "alnum_ratio": f"CASE WHEN {n} > 0 THEN CAST({alnum} AS DOUBLE) / {n} ELSE 0.0 END",
    }


def c4_line_filters(text: Column) -> dict[str, Column]:
    """C4 line-level cleaning heuristics (Raffel et al. 2020, sec. 2.2):

    - keep only lines that end in terminal punctuation (``. ! ? "``),
      have >= 5 words, and do not contain the word "javascript";
    - drop the PAGE if nothing survives, if it contains "lorem ipsum"
      or a curly brace, or if the cleaned text has < 3 sentences.

    Returns ``n_lines`` (non-empty input lines), ``n_kept`` (surviving
    lines), ``cleaned_md5`` (fingerprint of the newline-rejoined cleaned
    text — pins the exact cleaned bytes without shipping them through
    the oracle compare), and ``keep`` (the page verdict).

    Pure column expressions; the HOF lambdas reference only their
    element variable (no outer-array capture — see the repetition-gate
    recapture note), so this stays one codegen'd scan-side projection
    at 100 TB.  The C4 bad-word page filter is the blacklist operator's
    job (F1) and is not duplicated here.

    Engine-parity choices (java.util.regex vs the oracle's RE2):
    lines split on ``\\r?\\n`` so CRLF corpora don't leave ``\\r`` tails;
    the terminal-punctuation anchor is ``\\z`` (end of TEXT in both
    engines — Java ``$`` also matches before a final line terminator,
    RE2's does not); the word split uses an explicit whitespace class
    (Java ``\\s`` includes ``\\x0B``, RE2's does not); and the lowercase
    substring gates fold non-ASCII to DEL first (see ``_NON_ASCII_RE``)
    because Unicode lowercasing differs between the engines.
    """
    lines = F.split(text, r"\r?\n")
    _ws = r"[ \t\r\n\f\x0B]+"

    def _low(c: Column) -> Column:
        return F.lower(F.regexp_replace(c, _NON_ASCII_RE, _ASCII_PLACEHOLDER))

    def _line_ok(l: Column) -> Column:
        t = F.trim(l)
        return (
            t.rlike('[.!?"]\\z')
            & (F.size(F.split(t, _ws)) >= 5)
            & ~_low(t).contains("javascript")
        )

    kept = F.filter(lines, _line_ok)
    cleaned = F.array_join(kept, "\n")
    low = _low(text)
    n_sentences = F.regexp_count(cleaned, F.lit(r"[.!?]"))
    return {
        "n_lines": F.size(F.filter(lines, lambda l: F.length(F.trim(l)) > 0)).cast("long"),
        "n_kept": F.size(kept).cast("long"),
        "cleaned_md5": F.md5(cleaned),
        "keep": (
            (F.size(kept) > 0)
            & ~low.contains("lorem ipsum")
            & ~low.contains("{")
            & (n_sentences >= 3)
        ),
    }


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style repetition gates (Rae et al. 2021, app. A1.1),
    word-level so the DuckDB oracle twin is exact:

    - ``dup_line_frac``: fraction of non-empty lines that repeat an
      earlier line (1 - distinct/total).
    - ``dup_2gram_frac``: fraction of word 2-grams that are duplicates.
    - ``top_2gram_frac``: fraction of all 2-grams claimed by the single
      most frequent 2-gram.
    - ``keep``: Gopher thresholds (0.30 / 0.60 / 0.20).  Deviation from
      the paper: fractions are over word counts, not characters —
      character-weighted fractions need a per-gram length weighting
      that adds nothing at these thresholds.

    All pure column expressions (codegen'd, no UDFs).  The per-row
    top-gram count is O(distinct-grams x grams) inside one row — fine
    for web documents (<=100k tokens by the quality gate), and it stays
    a scan-side projection at 100 TB: no shuffle, no state.
    """
    lines = F.filter(
        F.split(text, r"\n"), lambda l: F.length(F.trim(l)) > 0
    )
    n_lines = F.size(lines).cast("long")
    dup_line_frac = F.when(
        n_lines > 0,
        (n_lines - F.size(F.array_distinct(lines))).cast("double") / n_lines,
    ).otherwise(F.lit(0.0))

    toks = tokens(text)
    # 2-grams by zipping the array with its own shift.  NOT transform
    # over an index sequence with F.slice(toks, i, 2) inside the lambda:
    # a lambda that captures an outer array expression re-evaluates it
    # per ELEMENT (measured 11 s vs 0.6 s for 5k x 100-token docs at
    # sf0.1) — zip_with keeps the token array a lambda argument.
    n_toks = F.size(toks)
    shift_len = F.greatest(n_toks - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, shift_len),
        F.slice(toks, 2, shift_len),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_grams = F.size(grams).cast("long")
    dup_2gram_frac = F.when(
        n_grams > 0,
        (n_grams - F.size(F.array_distinct(grams))).cast("double") / n_grams,
    ).otherwise(F.lit(0.0))
    # top multiplicity = longest equal-run in the SORTED gram array —
    # one sort + one linear aggregate pass.  (The naive distinct x
    # filter nesting re-evaluates the gram-construction expression
    # inside every lambda element: measured 245 s for 5k x 100-token
    # docs at sf0.1 vs ~2 s for this form, identical semantics.)
    sorted_grams = F.array_sort(grams)
    run_next = lambda acc, x: F.when(  # noqa: E731
        x == acc["prev"], acc["run"] + 1
    ).otherwise(F.lit(1))
    top_count = F.aggregate(
        sorted_grams,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_next(acc, x).alias("run"),
            F.greatest(acc["best"], run_next(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    ).cast("long")
    top_2gram_frac = F.when(
        n_grams > 0, top_count.cast("double") / n_grams
    ).otherwise(F.lit(0.0))

    return {
        "dup_line_frac": F.round(dup_line_frac, 6),
        "dup_2gram_frac": F.round(dup_2gram_frac, 6),
        "top_2gram_frac": F.round(top_2gram_frac, 6),
        "keep": (dup_line_frac <= 0.30)
        & (dup_2gram_frac <= 0.60)
        & (top_2gram_frac <= 0.20),
    }


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercased text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ").cast("binary"))


def token_value(tok: Column) -> Column:
    """Deterministic cross-engine token value (no engine hash):
    len(tok) + 31 * ascii(first char)."""
    return F.length(tok).cast("long") + 31 * F.ascii(F.substring(tok, 1, 1)).cast("long")


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over tokens: fold h = (h*131 + v) % M.
    Order-sensitive (a permuted document fingerprints differently),
    unlike the md5-of-normalized-text variant."""
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLLING_MULT + token_value(t)) % ROLLING_MOD,
    )


def curation_verdicts(docs, id_col: str = "doc_id", text_col: str = "text",
                      langs: tuple[str, ...] = ("en",),
                      carry: tuple[str, ...] = ()):
    """The end-to-end curation decision per document — the gates above
    composed in the order a production corpus pass applies them:

        quality -> repetition -> language -> exact-dup keep-first

    Each doc gets the FIRST gate it fails as its verdict ('quality',
    'repetition', 'language', 'duplicate') or 'keep'.  Duplicate =
    non-first doc (by id) of an md5 content fingerprint, so re-running
    at any cluster size keeps the same survivor.

    Plan shape: every gate is a scan-side column expression; the only
    exchange is the fingerprint window (16-byte key).  At 100 TB this
    is one pass over text plus one hash shuffle — the pipeline
    `stratified_sample` / `pack_shards` then consume.
    """
    from pyspark.sql import DataFrame, Window  # noqa: F401

    from pyspark.sql import functions as F

    q = quality_features(F.col(text_col))
    rep = repetition_features(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        *carry,
        q["n_tokens"].alias("n_tokens"),
        q["keep"].alias("__q"),
        rep["keep"].alias("__r"),
        lang_id(tokens(F.col(text_col))).alias("pred_lang"),
        fingerprint_md5(F.col(text_col)).alias("__fp"),
    )
    w = Window.partitionBy("__fp").orderBy(id_col)
    v = base.withColumn("__rn", F.row_number().over(w))
    verdict = (
        F.when(~F.col("__q"), F.lit("quality"))
        .when(~F.col("__r"), F.lit("repetition"))
        .when(~F.col("pred_lang").isin(*langs), F.lit("language"))
        .when(F.col("__rn") > 1, F.lit("duplicate"))
        .otherwise(F.lit("keep"))
    )
    return v.select(
        id_col,
        *carry,
        "pred_lang",
        "n_tokens",
        verdict.alias("verdict"),
        (verdict == "keep").alias("keep"),
    )


def domain_scorecard(docs, group_col: str = "source", id_col: str = "doc_id",
                     text_col: str = "text", langs: tuple[str, ...] = ("en",)):
    """Per-domain curation scorecard: the rollup a crawl operator reads
    to decide which domains deserve budget (RefinedWeb/CCNet publish
    exactly this shape — per-domain survival through each gate).

    Output per group: (group, n_docs, n_tokens, n_keep, n_quality,
    n_repetition, n_language, n_duplicate, keep_rate6) with keep_rate6
    the 6-dp micro-unit keep share.  Feeds straight back into the
    frontier: a domain with a collapsing keep_rate is a trap/SEO-farm
    signal (`detect_url_traps` catches shape-level traps; this catches
    content-level ones).

    Plan: the group column rides THROUGH curation_verdicts' projection
    (carry param — no join back onto the corpus), so the rollup adds
    ONE partial-agg groupBy over (group) beyond the verdicts' own
    fingerprint window.
    """
    from pyspark.sql import functions as F

    v = curation_verdicts(docs, id_col, text_col, langs, carry=(group_col,))
    n = lambda name: F.sum(F.when(F.col("verdict") == name, 1).otherwise(0)).cast(  # noqa: E731
        "bigint"
    ).alias("n_" + name)
    return (
        v.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_keep"),
            n("quality"),
            n("repetition"),
            n("language"),
            n("duplicate"),
        )
        .withColumn(
            "keep_rate6",
            F.round(F.col("n_keep") * 1000000.0 / F.col("n_docs"), 0).cast("bigint"),
        )
    )
