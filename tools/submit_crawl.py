"""spark-submit entrypoint for the frontier crawl — the north rule's
launch path (``spark-submit --py-files`` on a multi-executor cluster).

    spark-submit \
        --py-files $(python tools/package_pyfiles.py) \
        tools/submit_crawl.py \
        --pages /path/or/catalog.db.pages \
        --seeds /path/seeds.csv \
        --checkpoint-dir /path/crawl_ckpt \
        --rounds 5 --budget 3 [--resume] [--synth-hosts N]

No master / executor flags here: sizing belongs to the spark-submit
command line (``--num-executors`` etc.) or the cluster manager, so the
SAME job script runs at N and 4N executors for the scaling criterion.
``--pages`` accepts either a parquet directory or an Iceberg table name
(``catalog.db.table`` — read via the catalog when the runtime jars are
on the classpath).  ``--synth-hosts`` generates the deterministic
Common-Crawl-style synthetic pages/robots/seeds instead (sandbox
evidence mode; no external data).

Reference analog: runners/queue_sites + run_queue_nowrap (the reference
launches its crawler workers against the Postgres frontier; here the
cluster manager owns the workers and the snapshot tables own the
state).
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

try:
    # The production import source: the ``--py-files`` zip (spark-submit
    # puts it on the driver's sys.path before this script runs) or an
    # installed package.  The repo-root insert is a dev-run fallback
    # only, so a packaging break cannot be masked by the checkout.
    import tripwire_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _read_pages(spark, ref: str):
    """Parquet dir or Iceberg table name (contains no '/' and has dots)."""
    if "/" not in ref and "." in ref:
        return spark.read.table(ref)
    return spark.read.parquet(ref)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="pages table: parquet dir or Iceberg catalog.db.table")
    ap.add_argument("--seeds", help="seed CSV (alexa,url) or parquet dir")
    ap.add_argument("--robots", help="robots table (parquet dir); optional")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--budget", type=int, default=3)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--backpressure", action="store_true")
    ap.add_argument("--seen-mode", default="auto",
                    choices=["auto", "scan", "cogroup"],
                    help="seen-state admit read strategy (auto re-resolves "
                         "per round from zero-cost estimates)")
    ap.add_argument("--fetch-join", default="auto",
                    choices=["auto", "broadcast", "shuffle_hash"],
                    help="claimed->pages join strategy (auto: prior round's "
                         "claimed count vs threshold)")
    ap.add_argument("--no-seen-bucketed", action="store_true",
                    help="disable the bucketed seen-sketch snapshot layout")
    ap.add_argument("--validate-url-hash", action="store_true",
                    help="sample-check a stored pages.url_hash column "
                         "against the xxhash64(url) contract at startup")
    ap.add_argument("--trap-limit", type=int, default=None,
                    help="cap per-(host, URL-shape) discoveries at this count "
                         "(dynamic crawl-trap gate; off by default)")
    ap.add_argument("--synth-hosts", type=int, default=0,
                    help="generate N synthetic hosts instead of --pages/--seeds")
    args = ap.parse_args()

    # Under spark-submit the JVM gateway already exists (spark-submit
    # launches PythonRunner, which exports PYSPARK_GATEWAY_PORT) and the
    # session conf — master, executor count, memory — is fully described
    # by the submit command line, so a bare getOrCreate inherits it; the
    # library factory (which pins its own local[*] master) is the
    # plain-`python` dev fallback only.
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        if "PYSPARK_GATEWAY_PORT" in os.environ:
            from tripwire_spark.session import CACHED_PLAN_COALESCE_CONF

            spark = SparkSession.builder.appName("tripwire-crawl").getOrCreate()
            spark.sparkContext.setLogLevel("WARN")
            # a runtime SQL conf: the cluster path plans cached frames
            # exactly as get_spark's sessions do
            spark.conf.set(CACHED_PLAN_COALESCE_CONF, "true")
        else:
            from tripwire_spark.session import get_spark

            spark = get_spark("tripwire-crawl")

    from tripwire_spark.operators.crawl import crawl_metrics, run_crawl
    from tripwire_spark.sources.synth import (
        BLACKLIST_PATTERNS,
        synth_pages,
        synth_robots,
        synth_seeds,
    )

    if args.synth_hosts:
        pages = synth_pages(spark, n_hosts=args.synth_hosts, n_pages=10, n_links=30)
        robots = synth_robots(spark, args.synth_hosts)
        seeds = synth_seeds(spark, n_seeds=args.synth_hosts)
    else:
        if not (args.pages and args.seeds):
            ap.error("--pages and --seeds are required without --synth-hosts")
        pages = _read_pages(spark, args.pages)
        if args.seeds.endswith(".csv"):
            seeds = (
                spark.read.option("header", "true").csv(args.seeds)
                .selectExpr("cast(alexa as int) alexa", "url",
                            "monotonically_increasing_id() as file_order")
            )
        else:
            seeds = spark.read.parquet(args.seeds)
        robots = _read_pages(spark, args.robots) if args.robots else None

    state = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=args.rounds, default_budget=args.budget,
        checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        backpressure=args.backpressure, trap_limit=args.trap_limit,
        seen_mode=args.seen_mode, fetch_join=args.fetch_join,
        seen_bucketed=not args.no_seen_bucketed,
        validate_url_hash=args.validate_url_hash,
    )
    n = state.frontier.count()
    print(f"crawl complete: rounds={state.rounds_run} frontier_urls={n}")
    crawl_metrics(state).show(truncate=False)
    state.release()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
