"""tripwire_spark — a from-scratch PySpark-native URL-frontier + fetch
scheduler with the query/data-processing capabilities of ccied/tripwire.

Architecture (idiomatic Spark, not a port):

- ``functions``  — column-level building blocks: RFC-3986 URL
  canonicalization, registrable-domain extraction, link/form scoring,
  text extraction, IPv4 algebra, e-mail parsing.  Vectorized pandas/Arrow
  UDFs only where built-ins can't express the semantics.
- ``operators``  — frontier state machine, politeness budgeting, crawl
  rounds, partitioned Bloom seen-set, dedup (exact/MinHash-LSH/SimHash/
  n-gram-Jaccard/embedding), similarity search, text analytics.
- ``sources``    — seed CSV scan, deterministic synthetic fixtures
  (pages/seeds/robots/emails, seed=42), snapshot tables (Iceberg-style
  atomic manifest commits over Parquet; real Iceberg behind import-try).
- ``streaming``  — sliding-window health monitor, visibility-delay retry
  queue, heartbeat liveness (Structured Streaming + batch twins).

Reference parity is documented per function/class with file:line citations
into /root/reference (see SURVEY.md for the full inventory).
"""

from tripwire_spark import zipcache as _zipcache

__version__ = "0.1.0"

# Every Python worker that unpickles one of our functions imports this
# package; the patch then spares each later task in that worker a full
# re-parse of every cached zip archive (see zipcache).
_zipcache.install()
