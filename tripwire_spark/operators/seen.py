"""Exact, bucket-sharded URL-seen set with O(new) delta segments.

Scale math (SURVEY.md §7 hard part 6): at 10^10 URLs the seen set is
~80 GB of 64-bit hashes — far too big for one driver-side structure.
So it is sharded by ``bucket = url_hash % n_buckets`` into rows keyed
(bucket, seg), each row one segment: a sorted int64 hash array stored
as one binary blob.  A round's admit is ONE cogrouped ``applyInPandas``
pass (``SeenState.admit``): each cogroup group is one bucket, which
sees its candidates and its segments together and runs ``admit_bucket``
— in-batch dedup, exact ``searchsorted`` membership over the sorted
segments, and the new delta segment — in numpy, with no per-row Python.
A task runs every group of its partition, so the cogroup's task count is
its partition count (a bucketed base's bucket count), not ``n_buckets``.

Membership is hash-exact (JVM-side xxhash64): P[any collision] ≈
n²/2^65 ≈ 0.003 even at 10^10 urls.  The stored rows keep three columns
of an earlier per-segment bloom filter (``bloom``/``m_bits``/``k``),
which no probe ever read: every row written now holds ``bloom = b""``
(empty, not NULL), ``m_bits = 0`` and ``k = 0``.  The columns stay so
``STATE_SCHEMA`` and the checkpoints written under it are unchanged,
and so readers that sum ``length(bloom)`` still get a number; rows of
older checkpoints still carry real blooms, which admit ignores and
``compact()`` drops.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_COLS = ["bucket", "seg", "bloom", "hashes", "n_items", "m_bits", "k"]
_SEG_PAD = STATE_COLS[2:]  # the segment columns a fresh candidate row leaves null


def _segment(bucket: int, seg: int, hs: np.ndarray) -> dict:
    """One stored segment row over the sorted hashes ``hs``, with the
    empty legacy bloom columns (module docstring)."""
    return dict(
        bucket=[bucket], seg=[seg], bloom=[b""], hashes=[hs.tobytes()],
        n_items=[len(hs)], m_bits=[0], k=[0],
    )


def admit_bucket(
    bucket: int,
    cand: pd.DataFrame,
    segs: list[np.ndarray],
    next_seg: int,
    hash_col: str = "url_hash",
    order_cols: list[str] | None = None,
) -> pd.DataFrame:
    """One bucket's admit: the per-bucket body of ``SeenState.admit``.

    ``cand`` holds the bucket's candidate rows; ``segs`` its stored
    segments, each a sorted int64 hash array.  Keeps the first row per
    ``hash_col`` in ``order_cols`` ascending order, drops every hash
    found in any segment, and returns the admit output rows: the fresh
    candidates (kind=0, segment columns null) and, when any are fresh,
    ONE delta segment row (kind=1, seg=``next_seg``) holding exactly
    their sorted hashes."""
    if order_cols:
        cand = cand.sort_values([hash_col, *order_cols], kind="mergesort")
    cand = cand.drop_duplicates(subset=[hash_col], keep="first")
    hs = cand[hash_col].to_numpy(dtype=np.int64)
    seen = np.zeros(len(hs), dtype=bool)
    for old in segs:  # each segment is sorted; <= compact_every of them
        if len(old):
            idx = np.clip(np.searchsorted(old, hs), 0, len(old) - 1)
            seen |= old[idx] == hs
    cand_cols = list(cand.columns)
    out_cols = ["kind", "bucket", "seg", *cand_cols, *_SEG_PAD]
    fresh = cand[~seen].copy()
    fhs = np.sort(hs[~seen])
    fresh.insert(0, "kind", 0)
    fresh.insert(1, "bucket", bucket)
    fresh.insert(2, "seg", None)
    for c in _SEG_PAD:
        fresh[c] = None
    if len(fhs) == 0:
        return fresh[out_cols]
    st_row = {c: [None] for c in cand_cols}
    st_row.update(kind=[1], **_segment(bucket, int(next_seg), fhs))
    with warnings.catch_warnings():
        # all-NA padding columns are intentional (union schema)
        warnings.simplefilter("ignore", FutureWarning)
        out = pd.concat([fresh, pd.DataFrame(st_row)], ignore_index=True)
    return out[out_cols]


def compact_bucket(bucket: int, segs: pd.DataFrame) -> pd.DataFrame:
    """Merge one bucket's segment rows into a single seg=0 row (the
    sorted-hash union): the per-bucket body of ``compact``.  Legacy
    bloom bits in ``segs`` are dropped, not merged."""
    hs = np.unique(np.concatenate([np.frombuffer(b, dtype=np.int64) for b in segs["hashes"]]))
    return pd.DataFrame(_segment(bucket, 0, hs))


class SeenState:
    """Bucket-sharded URL-seen *state service* with **delta segments**.

    ``admit()`` performs the entire per-round seen-set interaction —
    in-round dedup, membership test, state update — as ONE cogrouped
    pass, and its output carries the admitted (fresh) candidates plus
    ONE NEW delta segment per touched bucket.  Per-round cost is
    **O(new), not O(total)**:

    - **state written per round = O(new urls)**: prior segments are
      never re-emitted through the shuffle or the snapshot commit
      (Iceberg append, not rewrite).  Segment sprawl is bounded by lazy
      ``compact()`` every K rounds — amortized O(total/K) per round.
    - **state read per round = every bucket, written = O(new)**: the
      cogroup reads the state as it is stored (a bucketed scan reads
      every file whichever buckets the candidates touch), but a bucket
      with no candidates emits no delta row, so its stored blobs pass
      to the next snapshot byte-identical (asserted in
      tests/test_seen.py).
    - **state bytes in exchanges = zero** when the base is stored
      bucketed on ``bucket`` (snapshot tables with ``bucket_key=
      "bucket"``): the bucketed scan satisfies the cogroup's clustering,
      and the segments appended since the last compaction ride the
      candidate-side exchange (``admit(delta_side=...)``).

    Scale math: ``n_buckets`` is the LOGICAL sharding knob: it sets the
    segment rows (one per bucket and segment) and so the size of one
    Arrow blob.  At 10^10 urls with n_buckets=4096 each bucket's
    compacted state is ~20 MB of hashes; a round's delta segments are
    KBs.  The PHYSICAL bucket count P of a bucketed base is the
    storage's ``bucketBy(P, "bucket")``, and the cogroup runs one task
    per physical bucket, each over ``n_buckets / P`` groups.
    ``run_crawl`` stores its base with P = min(n_buckets,
    defaultParallelism), so a round's admit is one wave of tasks
    whatever ``n_buckets`` is, and no task pays the per-task Python
    set-up for a handful of hashes.

    Reference parity: the seen set is the already-queued check of
    queue_sites (runners/queue_sites:117-127) keyed on the canonical
    url (schema.sql:902-907 norm_url), per SURVEY.md §2.7 D7/F2.
    """

    STATE_SCHEMA = (
        "bucket int, seg int, bloom binary, hashes binary, n_items long, m_bits long, k int"
    )

    def __init__(self, n_buckets: int = 64) -> None:
        self.n_buckets = n_buckets

    def bucket_col(self, hash_col):
        return F.pmod(hash_col, F.lit(self.n_buckets)).cast("int")

    def init(self, urls: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Seed state from an initial url-hash set (e.g. the seeded
        frontier): one seg=0 row per bucket."""

        def make(key, pdf: pd.DataFrame):
            hs = np.unique(pdf["h"].to_numpy(dtype=np.int64))
            return pd.DataFrame(_segment(int(key[0]), 0, hs))

        prepared = urls.select(self.bucket_col(F.col(hash_col)).alias("bucket"), F.col(hash_col).alias("h"))
        return prepared.groupBy("bucket").applyInPandas(make, schema=self.STATE_SCHEMA)

    def admit(
        self,
        candidates: DataFrame,
        state: DataFrame,
        hash_col: str = "url_hash",
        order_cols: list[str] | None = None,
        *,
        next_seg: int,
        delta_side: DataFrame | None = None,
    ) -> DataFrame:
        """(candidates, state) -> mixed rows: kind=0 fresh candidates,
        kind=1 the NEW delta segment per touched bucket (seg=``next_seg``,
        only this round's fresh hashes).  Compose the next state with
        ``advance(state, delta)`` (in memory) or an append-commit of the
        delta (snapshot table).  A crawl loop passes its round number as
        ``next_seg``: monotonic ids are all advance/compact need.

        ``state`` is the cogroup's right side, read whole.
        ``delta_side``: segments appended since the state's last full
        snapshot.  They are padded to the candidate shape and ride the
        candidate-side exchange, so over a bucketed ``state`` no state
        bytes enter any exchange (plan-asserted in tests/test_seen.py).

        Dedup within the batch keeps the first row per ``hash_col`` in
        ``order_cols`` ascending order (pass a total order for
        determinism).  ``hash_col`` must be non-null (pandas float64
        upcast would corrupt 64-bit hashes).
        """
        order_cols = order_cols or []
        cand_fields = [
            T.StructField(f.name, f.dataType, True) for f in candidates.schema.fields
        ]
        seg_fields = T.StructType.fromDDL(self.STATE_SCHEMA).fields[1:]  # all nullable
        out_schema = T.StructType(
            [T.StructField("kind", T.IntegerType(), False),
             T.StructField("bucket", T.IntegerType(), False), seg_fields[0]]
            + cand_fields + seg_fields[1:]
        )
        cand = candidates.withColumn("__bucket", self.bucket_col(F.col(hash_col)))
        left = cand
        seg_cols = STATE_COLS[1:]
        if delta_side is not None:
            null_seg = [F.lit(None).cast(f.dataType).alias(f.name) for f in seg_fields]
            # EVERY integral candidate column is zero-filled (not NULL) on
            # segment rows: one null in an int64 Arrow column makes pandas
            # deliver the whole column as float64, corrupting the CANDIDATE
            # values sharing it past the 52-bit mantissa — and candidate
            # frames carry 64-bit hashes beyond hash_col (parent qids, D2
            # ck hashes).  Segment rows' candidate fields are never read,
            # so the fill value is free; non-integral types stay NULL.
            _integral = ("long", "int", "integer", "short", "byte", "bigint", "smallint", "tinyint")
            null_cand = [
                F.lit(0).cast(f.dataType).alias(f.name)
                if f.dataType.simpleString() in _integral
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in candidates.schema.fields
            ]
            left = cand.select(
                "__bucket", F.lit(0).alias("__seg_tag"), *candidates.columns, *null_seg
            ).unionByName(
                delta_side.select(
                    F.col("bucket").alias("__bucket"), F.lit(1).alias("__seg_tag"),
                    *null_cand, *seg_cols,
                )
            )

        def step(key, lf: pd.DataFrame, st: pd.DataFrame):
            segs = [np.frombuffer(b, dtype=np.int64) for b in st["hashes"]]
            if "__seg_tag" in lf.columns:
                is_seg = lf["__seg_tag"].to_numpy() == 1
                segs += [np.frombuffer(b, dtype=np.int64) for b in lf.loc[is_seg, "hashes"]]
                lf = lf[~is_seg].drop(columns=["__seg_tag", *seg_cols])
            return admit_bucket(
                int(key[0]), lf.drop(columns="__bucket"), segs, next_seg, hash_col, order_cols,
            )

        return (
            left.groupBy("__bucket")
            .cogroup(state.groupBy(F.col("bucket").alias("__bucket")))
            .applyInPandas(step, schema=out_schema)
        )

    @staticmethod
    def split(admitted: DataFrame, cand_cols: list[str]) -> tuple[DataFrame, DataFrame]:
        """(fresh candidates, NEW delta segments) from a cached admit()
        result.  The delta is O(new urls); union it onto the prior state
        (``advance``) or append-commit it to the state's snapshot table."""
        fresh = admitted.filter(F.col("kind") == 0).select(*cand_cols)
        delta = admitted.filter(F.col("kind") == 1).select(*STATE_COLS)
        return fresh, delta

    @staticmethod
    def advance(state: DataFrame, delta: DataFrame) -> DataFrame:
        """Next-round state = prior segments (byte-untouched) + the new
        delta segments."""
        return state.select(*STATE_COLS).unionByName(delta.select(*STATE_COLS))

    def compact(self, state: DataFrame) -> DataFrame:
        """Merge every bucket's segments into one seg=0 row (sorted-hash
        union).  Lazy maintenance: run every K rounds, so the
        per-round amortized rewrite is O(total/K) while admit() itself
        stays O(new)."""
        return state.groupBy("bucket").applyInPandas(
            lambda key, pdf: compact_bucket(int(key[0]), pdf), schema=self.STATE_SCHEMA
        )
