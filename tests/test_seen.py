"""Seen-state properties: the per-bucket admit kernel against a Python
model, O(new) delta segments, byte-identical untouched buckets, the
bucketed base with candidate-side deltas, and compaction (SURVEY.md
§5.4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F


def _urls(spark, start, n):
    return spark.range(start, start + n).select(
        F.format_string("http://h%d.test/p%d", F.pmod("id", F.lit(97)), F.col("id")).alias("url"),
        F.xxhash64(F.format_string("http://h%d.test/p%d", F.pmod("id", F.lit(97)), F.col("id"))).alias(
            "url_hash"
        ),
    )


# -- the per-bucket kernel, Spark-free ------------------------------------

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@st.composite
def _admit_case(draw):
    """A bucket's stored segments (base + deltas) and a candidate batch
    drawn from one small pool of full-range int64 hashes, so batches
    repeat hashes and hit both base and delta segments."""
    pool = draw(st.lists(I64, min_size=1, max_size=24, unique=True))
    seg = st.lists(st.sampled_from(pool), max_size=12).map(
        lambda xs: np.unique(np.array(xs, dtype=np.int64))
    )
    base = draw(st.lists(seg, max_size=2))
    deltas = draw(st.lists(seg, max_size=3))
    rows = draw(st.lists(st.tuples(st.sampled_from(pool), I64, st.integers(0, 3)), max_size=40))
    return pool, base, deltas, rows


@settings(max_examples=300, deadline=None)
@given(_admit_case())
def test_admit_bucket_matches_model(case):
    """Fresh rows are the set difference, first row per hash by
    ``order_cols``; the companion int64 survives byte-exact; the delta
    segment holds exactly the fresh hashes; compaction keeps membership.
    Every row written stores empty bloom columns, also when compacting
    an older checkpoint's rows that carry real bloom bits."""
    from tripwire_spark.operators.seen import admit_bucket, compact_bucket

    pool, base, deltas, rows = case
    bucket, next_seg = 3, 5
    cand = pd.DataFrame(
        {
            "url_hash": np.array([r[0] for r in rows], dtype=np.int64),
            "ck": np.array([r[1] for r in rows], dtype=np.int64),
            "ord": np.array([r[2] for r in rows], dtype=np.int64),
            "pos": np.arange(len(rows), dtype=np.int64),
        }
    )
    segs = base + deltas
    stored = set().union(*(s.tolist() for s in segs))
    first: dict[int, tuple] = {}
    for pos, (h, ck, order) in enumerate(rows):
        if h not in stored and (h not in first or (order, pos) < first[h][2:]):
            first[h] = (h, ck, order, pos)
    want = set(first.values())

    out = admit_bucket(bucket, cand, segs, next_seg, "url_hash", ["ord", "pos"])
    assert list(out.columns) == [
        "kind", "bucket", "seg", "url_hash", "ck", "ord", "pos",
        "bloom", "hashes", "n_items", "m_bits", "k",
    ]
    fresh = out[out["kind"] == 0]
    got = {tuple(int(r[c]) for c in ("url_hash", "ck", "ord", "pos")) for _, r in fresh.iterrows()}
    assert got == want
    assert len(fresh) == len(want)
    delta = out[out["kind"] == 1]
    if not want:
        assert len(delta) == 0
        new_segs = []
    else:
        (d,) = delta.itertuples(index=False)
        assert (d.bucket, d.seg, d.n_items, d.bloom, d.m_bits, d.k) == (
            bucket, next_seg, len(want), b"", 0, 0,
        )
        fhs = np.frombuffer(d.hashes, dtype=np.int64)
        assert fhs.tolist() == sorted(first)
        new_segs = [fhs]

    all_segs = segs + new_segs
    if not all_segs:
        return
    # the stored segments as an older checkpoint holds them: real bloom bits
    seg_rows = pd.DataFrame(
        {
            "bloom": [bytes(range(64)) for _ in all_segs],
            "hashes": [s.tobytes() for s in all_segs],
            "m_bits": 512,
            "k": 7,
        }
    )
    (c,) = compact_bucket(bucket, seg_rows).itertuples(index=False)
    merged = np.frombuffer(c.hashes, dtype=np.int64)
    assert (c.seg, c.n_items, c.bloom, c.m_bits, c.k) == (0, len(merged), b"", 0, 0)
    for h in pool:  # membership unchanged by compaction
        assert (h in merged) == any(h in s for s in all_segs)
    again = admit_bucket(bucket, cand, [merged], next_seg + 1, "url_hash", ["ord", "pos"])
    assert len(again) == 0


# -- SeenState delta segments (O(new) per-round state) -------------------


def _admit(svc, cands, state, next_seg=1):
    from tripwire_spark.operators.seen import SeenState

    out = svc.admit(cands, state, hash_col="url_hash", next_seg=next_seg).persist()
    fresh, delta = SeenState.split(out, ["url", "url_hash"])
    return fresh, delta


def test_seen_state_admit_emits_only_delta_segments(spark):
    """admit() writes O(new) state: the kind=1 output is ONE new segment
    per touched bucket holding only this round's fresh hashes — prior
    segments are never re-emitted through the shuffle."""
    from tripwire_spark.operators.seen import SeenState

    svc = SeenState(n_buckets=8)
    state = svc.init(_urls(spark, 0, 4000), "url_hash").persist()
    # candidates confined to buckets {0, 1}: half already seen, half new
    cands = (
        _urls(spark, 2000, 4000)
        .filter(svc.bucket_col(F.col("url_hash")).isin(0, 1))
        .persist()
    )
    n_new = cands.filter(F.col("url_hash").isin(
        [r.url_hash for r in _urls(spark, 4000, 2000).collect()]
    )).count()
    fresh, delta = _admit(svc, cands, state)
    drows = delta.collect()
    # delta rows exist only for touched buckets, one segment each
    assert {r.bucket for r in drows} <= {0, 1}
    assert len(drows) == len({r.bucket for r in drows})
    # delta carries exactly the fresh hashes, nothing from prior state
    assert sum(r.n_items for r in drows) == fresh.count() == n_new
    assert all(r.seg == 1 for r in drows)  # seeded seg=0 + one new


def test_seen_state_untouched_buckets_byte_identical(spark):
    """Buckets receiving no candidates emit no delta segment, and their
    stored blobs flow to the next state byte-identical."""
    from tripwire_spark.operators.seen import SeenState

    svc = SeenState(n_buckets=8)
    state = svc.init(_urls(spark, 0, 4000), "url_hash").persist()
    before = {
        (r.bucket, r.seg): (r.bloom, r.hashes, r.n_items) for r in state.collect()
    }
    cands = (
        _urls(spark, 4000, 1000)
        .filter(svc.bucket_col(F.col("url_hash")).isin(0, 1))
        .persist()
    )
    out = svc.admit(cands, state, hash_col="url_hash", next_seg=1).persist()
    _, delta = SeenState.split(out, ["url", "url_hash"])
    nxt = SeenState.advance(state, delta).persist()
    after = {(r.bucket, r.seg): (r.bloom, r.hashes, r.n_items) for r in nxt.collect()}
    for key, blob in before.items():
        assert after[key] == blob  # prior segments byte-identical
    # and every new segment belongs to a touched bucket
    assert all(b in (0, 1) for (b, s) in set(after) - set(before))


def test_seen_state_segmented_membership_and_compact(spark):
    """Multi-round segmented state is membership-exact, re-admitting seen
    urls yields zero fresh, and compact() folds all segments into one per
    bucket while preserving the exact hash set."""
    from tripwire_spark.operators.seen import SeenState

    svc = SeenState(n_buckets=4)
    state = svc.init(_urls(spark, 0, 1000), "url_hash").persist()
    hwm = 1000  # ids 0..hwm-1 admitted so far
    for rnd, start in enumerate((500, 1200, 1800), 1):  # three overlapping rounds
        cands = _urls(spark, start, 1000).persist()
        fresh, delta = _admit(svc, cands, state, next_seg=rnd)
        # fresh = candidates minus everything admitted before (exact)
        got = sorted(r.url for r in fresh.collect())
        want = sorted(r.url for r in _urls(spark, hwm, start + 1000 - hwm).collect())
        assert got == want
        hwm = start + 1000
        state = SeenState.advance(state, delta).persist()
    # after all rounds: total distinct = 0..2800
    total = sum(r.n_items for r in state.collect())
    assert total == 2800
    # re-admitting anything in range yields zero fresh
    again, delta2 = _admit(svc, _urls(spark, 0, 2800), state, next_seg=4)
    assert again.count() == 0
    assert delta2.count() == 0  # no fresh -> no delta segment at all
    # compact: one seg=0 row per bucket, same membership
    compacted = svc.compact(state).persist()
    rows = compacted.collect()
    assert len(rows) == len({r.bucket for r in rows}) and all(r.seg == 0 for r in rows)
    assert sum(r.n_items for r in rows) == 2800
    again2, _ = _admit(svc, _urls(spark, 0, 2800), compacted, next_seg=4)
    assert again2.count() == 0


def test_seen_admit_bucketed_base_with_delta_side(spark, tmp_path):
    """VERDICT r4 ask #2 (the huge-state ∧ huge-delta corner): with the
    state persisted BUCKETED on ``bucket`` (snapshot tables with
    ``bucket_key='bucket'``) and the post-compaction delta segments
    passed via ``delta_side``, cogroup admit must (a) return exactly the
    plain-union answer, and (b) keep the BASE state's bytes out of every
    Exchange — only candidates + the small deltas ride the shuffle."""
    from tripwire_spark.operators.seen import SeenState
    from tripwire_spark.sources.snapshots import SnapshotTable

    svc = SeenState(n_buckets=8)
    base_mem = svc.init(_urls(spark, 0, 3000), "url_hash")
    tbl = SnapshotTable(
        spark, str(tmp_path), "seen_sketch", bucket_key="bucket", bucket_count=8
    )
    tbl.commit(base_mem, {"round": 0})
    base = tbl.read_base()
    # one delta segment batch on top of the base (urls 3000..3999)
    d_out = svc.admit(
        _urls(spark, 3000, 1000), base, hash_col="url_hash", next_seg=1,
    ).persist()
    _, delta = SeenState.split(d_out, ["url", "url_hash"])
    tbl.commit_append(delta, {"round": 1})
    base, deltas = tbl.read_base(), tbl.read_deltas()
    assert deltas is not None

    # overlaps base AND delta AND fresh; __ck is a SECOND full-range
    # 64-bit hash column riding along (like discover's D2 ck) — its
    # byte-exact survival pins the no-float64-upcast contract (one null
    # in an int64 Arrow column silently rounds every value past 2^53)
    cands = _urls(spark, 2500, 2500).withColumn(
        "__ck", F.xxhash64("url", F.lit("salt"))
    )
    out = svc.admit(
        cands, base, hash_col="url_hash", next_seg=2, delta_side=deltas,
    ).persist()
    fresh, delta2 = SeenState.split(out, ["url", "url_hash", "__ck"])
    # (a) answer == the admit over the unioned state
    ref_out = svc.admit(
        cands, SeenState.advance(base, deltas), hash_col="url_hash", next_seg=2,
    ).persist()
    ref_fresh, ref_delta = SeenState.split(ref_out, ["url", "url_hash", "__ck"])
    assert sorted((r["url"], r["__ck"]) for r in fresh.collect()) == sorted(
        (r["url"], r["__ck"]) for r in ref_fresh.collect()
    )
    assert sorted((r.bucket, r.n_items) for r in delta2.collect()) == sorted(
        (r.bucket, r.n_items) for r in ref_delta.collect()
    )
    # and both equal first-principles: fresh = ids 4000..4999
    assert fresh.count() == 1000
    # (b) plan: the state IS read bucketed, and any Exchange carrying
    # segment blobs is the tagged candidate-side union (__seg_tag rides
    # along) — a state-side exchange would carry hashes WITHOUT the tag
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Bucketed: true" in plan
    blocks, cur = {}, None
    for line in plan.splitlines():
        if line.startswith("(") and ")" in line:
            name = line.split(")", 1)[1].strip()
            cur = line if name.startswith("Exchange") else None
        elif cur and line.strip().startswith("Input"):
            blocks[cur] = line
    for node, inputs in blocks.items():
        if "hashes" in inputs:
            assert "__seg_tag" in inputs, (
                f"state blobs in a non-delta exchange: {node} {inputs}"
            )


def test_admit_preserves_full_range_int64_columns(spark):
    """Round-5 regression (real bug found in review): a null-padded
    tagged union float64-upcast the candidates' OTHER int64 columns,
    silently rounding 64-bit hashes (D2 ck, discovery parent qids) past
    the 52-bit mantissa — 1491 of 1500 companion hashes corrupted in the
    repro.  Pins byte-exact survival through admit."""
    from tripwire_spark.operators.seen import SeenState

    svc = SeenState(n_buckets=8)
    state = svc.init(_urls(spark, 0, 3000), "url_hash").persist()
    cands = _urls(spark, 2500, 2000).withColumn("ck64", F.xxhash64("url", F.lit("ck")))
    out = svc.admit(cands, state, hash_col="url_hash", next_seg=1)  # 500 hits, 1500 fresh
    fresh, _ = SeenState.split(out, ["url", "url_hash", "ck64"])
    bad = fresh.filter(F.col("ck64") != F.xxhash64("url", F.lit("ck"))).count()
    assert bad == 0, f"{bad} corrupted 64-bit companion values"
    assert fresh.count() == 1500


def test_admit_delta_side_matches_model(spark):
    """End to end through Arrow and pandas with ``delta_side``: the delta
    segments ride the candidate exchange padded to the candidate shape,
    and the answer is the model's — candidates minus base and deltas,
    the first row per url by ``order_cols``, a full-range int64
    companion intact, one delta segment per touched bucket."""
    from tripwire_spark.operators.seen import SeenState

    svc = SeenState(n_buckets=8)
    base = svc.init(_urls(spark, 0, 1000), "url_hash").persist()
    d_out = svc.admit(_urls(spark, 1000, 500), base, next_seg=1).persist()
    _, deltas = SeenState.split(d_out, ["url", "url_hash"])
    # ids 800..1799 twice each: hits in the base (800..999) and in the
    # deltas (1000..1499), fresh 1500..1799, every url repeated in-batch
    reps = spark.range(2).select(F.col("id").alias("rep"))
    cands = _urls(spark, 800, 1000).crossJoin(reps).withColumn("ck64", F.xxhash64("url", "rep"))
    out = svc.admit(
        cands, base, order_cols=["rep"], next_seg=2, delta_side=deltas
    ).persist()
    fresh, delta = SeenState.split(out, ["url", "url_hash", "rep", "ck64"])
    want = _urls(spark, 1500, 300).withColumn("rep", F.lit(0).cast("long")).withColumn(
        "ck64", F.xxhash64("url", "rep")
    )
    cols = ["url", "url_hash", "rep", "ck64"]
    assert sorted(map(tuple, fresh.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    drows = delta.collect()
    assert len(drows) == len({r.bucket for r in drows}) and all(r.seg == 2 for r in drows)
    assert sum(r.n_items for r in drows) == 300
