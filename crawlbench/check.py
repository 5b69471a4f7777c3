"""Output check and run digest for one finished crawl.

A fetch counts as failed when its extracted text is not byte-identical
to the generator's reference text, when its url exists in ``pages`` but
the fetch log records a miss, or when its ``url_hash`` appears more than
once in the frontier.  The digest is order independent, so two crawls of
one seed must produce the same digest whatever their partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sum_hash(df: DataFrame, *cols: str) -> str:
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
    ).first()
    return f"{row['n']}:{row['s']}"


def digest(frontier: DataFrame, results: DataFrame) -> str:
    """Digest of frontier ``(url_hash, status, round_added)`` and results
    ``(url, xxhash64(text))``."""
    f = _sum_hash(frontier, "url_hash", "status", "round_added")
    r = _sum_hash(results.select("url", F.xxhash64("text").alias("th")), "url", "th")
    return f"frontier={f};results={r}"


def check(frontier: DataFrame, results: DataFrame, fetch_log: DataFrame, pages: DataFrame) -> dict:
    """{attempted, text_mismatch, false_miss, dup_hash, failed, frontier_rows}
    for a crawl."""
    ref = pages.select("url", F.col("text").alias("ref"))
    attempted = fetch_log.count()
    text_mismatch = (
        results.join(ref, "url", "left").filter(~F.col("text").eqNullSafe(F.col("ref"))).count()
    )
    false_miss = fetch_log.filter(~F.col("found")).join(ref.select("url"), "url", "left_semi").count()
    dup = (
        frontier.groupBy("url_hash").count().filter(F.col("count") > 1)
        .agg(F.sum(F.col("count") - 1)).first()[0]
    ) or 0
    out = {
        "frontier_rows": frontier.count(),
        "attempted": attempted,
        "text_mismatch": text_mismatch,
        "false_miss": false_miss,
        "dup_hash": int(dup),
    }
    out["failed"] = text_mismatch + false_miss + int(dup)
    return out
