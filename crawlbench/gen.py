"""Seeded input generator for the crawl benchmark: pages, robots, seeds and
a URL history, all derived from one integer seed.

Each page is built by ``page_row(spec, seed, h, p)`` from a
``random.Random`` seeded with the string ``"{seed}/{h}/{p}"`` (string
seeds hash with SHA-512, so the stream is the same in every process and
under any ``PYTHONHASHSEED``).  Pages are generated inside Spark with
``mapInPandas``; the history is pure column arithmetic.  The same
``(spec, seed)`` therefore yields the same tables, row for row, in any
session and at any partitioning.

The ``pages`` table carries a reference ``text`` column written here,
independently of ``tripwire_spark.functions.html``: it states the
extraction rule ``title + " " + visible body text nodes joined by single
spaces`` directly over the pieces the html is assembled from.  The output
check compares the crawl's extracted text against it byte for byte.

Each anchor slot of a page draws one uniform that picks its kind:

- ``blacklist``: an absolute href to a host the blacklist rejects;
- ``miss``: an href to a path that is not in ``pages`` (a fetch miss);
- ``dup``: slot 0's target in another spelling (upper-case scheme and
  host, a fragment), which canonicalizes to the same url;
- ``normal``: a page of the same host (relative href) with probability
  ``same_host_share``, else an absolute href to a uniformly drawn host.
  The target page index is ``floor(n * u ** link_skew)``, so a
  ``link_skew`` above 1 concentrates links on each host's first pages.
"""

from __future__ import annotations

import random
from dataclasses import asdict, dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Body words: stems x suffixes, about 10 bytes per word with its space.
_STEMS = (
    "harbor lantern meadow quarry ribbon saddle thistle umbrella velvet "
    "walnut anchor beacon cinder dapple ember falcon garnet hollow island "
    "juniper kettle ledger marble nectar orchard pebble quiver rafter "
    "sorrel timber upland vessel willow yarrow zephyr bramble copper "
    "drizzle estuary furrow glacier heather indigo jasmine kestrel "
    "lichen mantle nimbus osprey parcel quartz russet spindle tundra"
).split()
_SUFFIXES = ["", "s", "ing", "ed", "ward", "ness", "ology", "scape"]
_ANCHOR_STEMS = ["topic", "section", "archive", "story", "guide", "notes", "report"]
# Anchor texts the link scorer weighs: positive, then negative ones.
_SCORED_ANCHORS = ["sign up", "register now", "my account", "log in", "community",
                   "facebook page", "google maps"]
_SCORED_SHARE = 0.05  # share of anchors drawn from _SCORED_ANCHORS
_LANGS = ["english", "possible-english", "unknown"]
_PARA_POOL = 256
# Seed file and robots extras, the same in every workload.
_SEED_DUP_SHARE = 0.05  # upper-case duplicate seed lines
_SEED_BLACKLIST = 5  # seed lines on blacklisted hosts
_DISALLOW_SHARE = 0.1  # hosts whose robots disallow /p7 (p7, p70-p79, ...)
PARTITIONS = 4  # partitions of the generated pages and history

BLACKLIST_PATTERNS = ["google", "facebook", "blockedhost"]
BASE_TS = 1_600_000_000
PAGES_SCHEMA = "url string, warc_ts long, html binary, text string, lang string"


@dataclass(frozen=True)
class GenSpec:
    """Input shape of one workload."""

    n_hosts: int
    pages_max: int  # pages of the largest host
    pages_min: int  # floor for Zipf-shrunk hosts
    host_skew: float  # Zipf exponent of host sizes (0 = uniform)
    words: int  # body words per page (a multiple of para_words)
    para_words: int  # words per <p>
    links: int  # anchors per page
    anchor_vocab: int  # distinct plain anchor texts
    same_host_share: float
    link_skew: float  # >1 concentrates link targets on low page indices
    miss_share: float
    blacklist_share: float
    dup_share: float
    seeds_per_host: int
    budget: int  # robots crawl_budget per host
    history: int = 0  # url hashes of retired hosts in the imported history
    history_page_share: float = 0.0  # share of non-seed pages already in history

    def describe(self) -> dict:
        return asdict(self)


def host_pages(spec: GenSpec, h: int) -> int:
    """Pages of host h: pages_max / (h+1)^host_skew, floored at pages_min."""
    return max(spec.pages_min, int(spec.pages_max / (h + 1) ** spec.host_skew))


def host_name(h: int) -> str:
    return f"h{h:05d}.test"


def _pools(spec: GenSpec, seed: int) -> tuple[list[str], list[str]]:
    rng = random.Random(f"{seed}/pools")
    words = [s + x for s in _STEMS for x in _SUFFIXES]
    paras = [" ".join(rng.choice(words) for _ in range(spec.para_words)) for _ in range(_PARA_POOL)]
    anchors = [f"{rng.choice(_ANCHOR_STEMS)} {i}" for i in range(spec.anchor_vocab)]
    return paras, anchors


def page_row(spec: GenSpec, seed: int, h: int, p: int, pools) -> tuple:
    """(url, warc_ts, html, text, lang) of page p of host h."""
    paras, anchors = pools
    rng = random.Random(f"{seed}/{h}/{p}")
    body = [rng.choice(paras) for _ in range(spec.words // spec.para_words)]
    links = []
    first = None
    for i in range(spec.links):
        u = rng.random()
        th = h if rng.random() < spec.same_host_share else rng.randrange(spec.n_hosts)
        tp = int(host_pages(spec, th) * rng.random() ** spec.link_skew)
        if u < spec.blacklist_share:
            href = f"http://blockedhost{rng.randrange(97)}.test/p{tp}"
        elif u < spec.blacklist_share + spec.miss_share:
            href = f"http://{host_name(th)}/gone{rng.randrange(1 << 20)}"
        elif u < spec.blacklist_share + spec.miss_share + spec.dup_share and first:
            fth, ftp = first
            href = f"HTTP://{host_name(fth).upper()}/p{ftp}#dup"
        else:
            href = f"/p{tp}" if th == h else f"http://{host_name(th)}/p{tp}"
            first = first or (th, tp)
        if rng.random() < _SCORED_SHARE:
            text = rng.choice(_SCORED_ANCHORS)
        else:
            text = anchors[rng.randrange(spec.anchor_vocab)]
        links.append((href, text))
    title = f"Page {p} of host {h}"
    html = "".join(
        [
            "<!DOCTYPE html><html><head><title>", title,
            "</title><style>p{margin:0}</style></head><body><div class=\"main\">",
            *(f"<p>{x}</p>" for x in body),
            f"</div><script>var page={p};</script><ul>",
            *(f'<li><a href="{href}">{text}</a></li>' for href, text in links),
            "</ul></body></html>",
        ]
    )
    # Reference text from the pieces: title, then every visible body
    # text node in document order (paragraphs, then anchor texts).
    text = " ".join([title, *body, *(t for _, t in links)])
    return (
        f"http://{host_name(h)}/p{p}",
        BASE_TS + h * 10_000 + p,
        html.encode(),
        text,
        _LANGS[rng.randrange(len(_LANGS))],
    )


def pages(spark: SparkSession, spec: GenSpec, seed: int, partitions: int = PARTITIONS) -> DataFrame:
    """(url, warc_ts, html, text, lang): one row per (host, page)."""
    pools = _pools(spec, seed)

    def gen(batches):
        for b in batches:
            rows = [
                page_row(spec, seed, int(h), p, pools)
                for h in b["id"]
                for p in range(host_pages(spec, int(h)))
            ]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    # Hosts dealt round-robin over partitions (n_hosts >= partitions), so
    # Zipf-large hosts spread out.
    n = partitions
    hosts = spark.range(0, n, 1, n).select(
        F.explode(F.sequence("id", F.lit(spec.n_hosts - 1), F.lit(n))).alias("id")
    )
    df = hosts.mapInPandas(gen, PAGES_SCHEMA)
    return df.withColumn("warc_ts", F.timestamp_seconds("warc_ts"))


def _frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side rows as a DataFrame, shipped through Arrow via pandas."""
    names = [f.split()[0] for f in schema.split(", ")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def robots(spark: SparkSession, spec: GenSpec, seed: int) -> DataFrame:
    """(host, disallow_prefixes, crawl_budget) per generated host."""
    rng = random.Random(f"{seed}/robots")
    rows = [
        (host_name(h), ["/p7"] if rng.random() < _DISALLOW_SHARE else [], spec.budget)
        for h in range(spec.n_hosts)
    ]
    return _frame(spark, rows, "host string, disallow_prefixes array<string>, crawl_budget int")


def seeds(spark: SparkSession, spec: GenSpec, seed: int) -> DataFrame:
    """(alexa, url, file_order): scheme-less seed lines (pages
    0..seeds_per_host-1 of every host), upper-case duplicates and
    blacklisted lines, in a seeded shuffled file order."""
    rng = random.Random(f"{seed}/seeds")
    lines = []
    for h in range(spec.n_hosts):
        for p in range(min(spec.seeds_per_host, host_pages(spec, h))):
            lines.append(f"{host_name(h)}/p{p}")
            if rng.random() < _SEED_DUP_SHARE:
                lines.append(f"{host_name(h).upper()}/p{p}")
    lines += [f"www.google{i}.com" for i in range(_SEED_BLACKLIST)]
    rng.shuffle(lines)
    rows = [(i + 1, url, i) for i, url in enumerate(lines)]
    return _frame(spark, rows, "alexa int, url string, file_order long")


def history(spark: SparkSession, spec: GenSpec, seed: int, partitions: int = PARTITIONS) -> DataFrame:
    """(url_hash): an imported prior-crawl url history — ``history``
    urls of retired hosts plus ``history_page_share`` of the non-seed
    pages, so those pages count as already seen."""
    old = spark.range(0, spec.history, 1, partitions).select(
        F.xxhash64(F.format_string("http://old%d-%d.test/x%d", F.lit(seed), F.col("id") % 50_000, F.col("id")))
        .alias("url_hash")
    )
    rng = random.Random(f"{seed}/history")
    known = [
        (f"http://{host_name(h)}/p{p}",)
        for h in range(spec.n_hosts)
        for p in range(spec.seeds_per_host, host_pages(spec, h))
        if rng.random() < spec.history_page_share
    ]
    pages_seen = _frame(spark, known, "url string").select(
        F.xxhash64("url").alias("url_hash")
    )
    return old.unionByName(pages_seen)


def write_inputs(
    spark: SparkSession, spec: GenSpec, seed: int, out_dir: str, partitions: int = PARTITIONS
) -> dict[str, str]:
    """Write every table of (spec, seed) as parquet under ``out_dir``;
    returns {table: path}."""
    tables = {
        "pages": pages(spark, spec, seed, partitions),
        "robots": robots(spark, spec, seed).coalesce(1),
        "seeds": seeds(spark, spec, seed).coalesce(1),
    }
    if spec.history:
        tables["history"] = history(spark, spec, seed, partitions)
    paths = {}
    for name, df in tables.items():
        paths[name] = f"{out_dir}/{name}"
        df.write.mode("overwrite").parquet(paths[name])
    return paths
