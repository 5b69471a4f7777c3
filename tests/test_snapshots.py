"""Snapshot-table contract: atomic commits, fast-append (O(delta) per
round), time travel, rollback/GC safety over append lineage, and the
Iceberg delegation probe (SURVEY.md §2.1 S7/S8; the reference's
single-Postgres source of truth, schema.sql:1924-1938)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_commit_append_unions_and_writes_only_delta(spark, tmp_path):
    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "log")
    t.commit(_df(spark, 0, 100), {"round": 1})
    sid2 = t.commit_append(_df(spark, 100, 150), {"round": 2})
    sid3 = t.commit_append(_df(spark, 150, 160), {"round": 3})
    assert t.read().count() == 160
    # time travel still sees each round's view
    assert t.read(sid2).count() == 150
    assert t.read(1).count() == 100
    # the append snapshot REFERENCES the parent's files, rewrites nothing:
    # snap3 lists 3 data dirs of which only the last is new
    snaps = t.snapshots()
    assert snaps[-1]["op"] == "append" and len(snaps[-1]["paths"]) == 3
    assert snaps[-1]["paths"][:2] == t._paths(snaps[-2])
    assert sid3 == 3


def test_rollback_preserves_shared_append_files(spark, tmp_path):
    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "log")
    t.commit(_df(spark, 0, 100))
    t.commit_append(_df(spark, 100, 150))
    t.commit_append(_df(spark, 150, 160))
    t.rollback(2)
    # snapshot 2 still reads every byte it referenced (the shared dirs
    # of snapshot 3's lineage were NOT deleted)
    assert t.read().count() == 150
    assert t.latest_id() == 2


def test_expire_keeps_files_referenced_by_live_snapshots(spark, tmp_path):
    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "log")
    t.commit(_df(spark, 0, 100))
    t.commit_append(_df(spark, 100, 150))
    t.commit_append(_df(spark, 150, 160))
    t.expire_snapshots(keep_last=2)
    # snapshots 2 and 3 share snapshot 1's data dir -> it must survive
    assert t.read().count() == 160
    assert t.read(2).count() == 150


def test_commit_append_on_empty_table_is_full_commit(spark, tmp_path):
    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "log")
    sid = t.commit_append(_df(spark, 0, 10), {"round": 1})
    assert sid == 1 and t.read().count() == 10
    assert t.snapshots()[0]["op"] == "overwrite"


def test_manifest_swap_is_atomic(spark, tmp_path):
    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "log")
    t.commit(_df(spark, 0, 10))
    # no stray tmp manifests left behind
    stray = [p for p in os.listdir(t.dir) if ".tmp." in p]
    assert stray == []


def test_per_partition_lineage_stats(spark, tmp_path):
    """Every commit records Iceberg-manifest-style per-file stats (one
    parquet file per Spark output partition): appends stat only ADDED
    files, totals reconcile with read(), and lineage() exposes it all as
    a queryable frame keyed by snapshot."""
    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "log")
    t.commit(_df(spark, 0, 100).repartition(4), {"round": 1})
    t.commit_append(_df(spark, 100, 150).repartition(2), {"round": 2})
    s1, s2 = t.snapshots()
    assert len(s1["files"]) == 4 and s1["added_rows"] == 100
    assert len(s2["files"]) == 2 and s2["added_rows"] == 50
    assert all(f["bytes"] > 0 for f in s2["files"])
    # added_rows across lineage == rows visible at the head snapshot
    assert sum(s["added_rows"] for s in t.snapshots()) == t.read().count()
    lin = t.lineage()
    assert lin.count() == 6
    per_snap = {
        r["snapshot_id"]: r["rows"]
        for r in lin.groupBy("snapshot_id").agg(F.sum("rows").alias("rows")).collect()
    }
    assert per_snap == {1: 100, 2: 50}


def test_iceberg_probe_and_factory(spark, tmp_path):
    """Without the Iceberg runtime on the classpath the factory returns
    the Parquet stand-in; with it, the delegating subclass (skip-guarded:
    this container ships no Iceberg jars)."""
    import pytest

    from tripwire_spark.sources.snapshots import (
        IcebergSnapshotTable,
        SnapshotTable,
        iceberg_available,
        open_snapshot_table,
    )

    t = open_snapshot_table(spark, str(tmp_path), "log")
    if not iceberg_available(spark):
        assert type(t) is SnapshotTable
        with pytest.raises(RuntimeError):
            IcebergSnapshotTable(spark, str(tmp_path), "log2")
        pytest.skip("Iceberg runtime not on the classpath (expected here)")
    # real-Iceberg path: same contract as the stand-in
    assert isinstance(t, IcebergSnapshotTable)
    t.commit(_df(spark, 0, 10), {"round": 1})
    t.commit_append(_df(spark, 10, 15), {"round": 2})
    assert t.read().count() == 15
    assert t.read(1).count() == 10
    assert t.lineage().groupBy().sum("rows").collect()[0][0] == 15


def test_bucketed_commit_read_base_and_deltas(spark, tmp_path):
    """Bucketed snapshot layout (VERDICT r4 ask #2): full commits write
    a bucketBy table whose scan is hash-clustered on the key; appends
    stay plain deltas; read_base/read_deltas expose the split; and a
    catalog that has never seen the table (fresh session on resume)
    re-registers it from the recorded DDL."""
    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "seen_sketch", bucket_key="bucket", bucket_count=4)
    df = spark.range(100).selectExpr("cast(id % 4 as int) as bucket", "id as v")
    t.commit(df, {"round": 0})
    base = t.read_base()
    assert base.count() == 100
    assert t.read_deltas() is None

    # the observable contract: clustering on the key needs NO exchange
    # (a bare scan legitimately drops the bucket layout — Spark's
    # autoBucketedScan — so assert on a query that exercises it)
    def bucketed_no_exchange(df):
        agg = df.groupBy("bucket").count()
        plan = agg._sc._jvm.PythonSQLUtils.explainString(
            agg._jdf.queryExecution(), "formatted"
        )
        assert "Bucketed: true" in plan
        assert "Exchange" not in plan

    bucketed_no_exchange(base)
    # appends: plain parquet deltas, split out by read_deltas
    delta = spark.range(100, 120).selectExpr("cast(id % 4 as int) as bucket", "id as v")
    t.commit_append(delta, {"round": 1})
    assert t.read().count() == 120
    assert t.read_base().count() == 100
    assert t.read_deltas().count() == 20
    # fresh-session resume: drop the catalog entry, read must re-register
    tbl_name = t.snapshots()[0]["bucket"]["table"]
    spark.sql(f"DROP TABLE IF EXISTS {tbl_name}")
    assert not spark.catalog.tableExists(tbl_name)
    again = SnapshotTable(spark, str(tmp_path), "seen_sketch", bucket_key="bucket", bucket_count=4)
    rb = again.read_base()
    assert rb.count() == 100
    bucketed_no_exchange(rb)  # re-registered WITH the bucket spec
    # a second full commit becomes the new base; deltas reset
    t.commit(t.read(), {"round": 2, "stage": "compacted"})
    assert t.read_base().count() == 120
    assert t.read_deltas() is None


def test_bucketed_rollback_drops_registration(spark, tmp_path):
    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "st", bucket_key="bucket", bucket_count=2)
    df = spark.range(10).selectExpr("cast(id % 2 as int) as bucket", "id as v")
    sid1 = t.commit(df, {})
    t.commit(df.limit(5), {})
    tbl2 = t.snapshots()[-1]["bucket"]["table"]
    t.rollback(sid1)
    assert not spark.catalog.tableExists(tbl2)
    assert t.read().count() == 10


def test_manifest_paths_relative_and_absolute_still_read(spark, tmp_path):
    """Manifests name data dirs relative to the table directory; a
    manifest written with absolute paths (the older format) still reads."""
    import json

    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "log")
    t.commit(_df(spark, 0, 100))
    t.commit_append(_df(spark, 100, 150))
    snaps = t.snapshots()
    assert all(not os.path.isabs(p) for s in snaps for p in t._paths(s))
    man = json.loads(open(t._manifest_path).read())
    for s in man["snapshots"]:
        if "paths" in s:
            s["paths"] = [os.path.join(t.dir, p) for p in s["paths"]]
        else:
            s["path"] = os.path.join(t.dir, s["path"])
    t._write_manifest(man)
    assert t.read().count() == 150
    assert t.read_deltas().count() == 50


def test_snapshot_reads_run_no_spark_job(spark, tmp_path):
    """Every commit records the schema it wrote, so reading a snapshot
    back (latest, time travel, bucketed base, deltas) launches no
    schema-inference job; a manifest that recorded no schema (the older
    format) still reads, through inference, to the same schema."""
    import json

    from tripwire_spark.sources.snapshots import SnapshotTable

    sc = spark.sparkContext
    log = SnapshotTable(spark, str(tmp_path), "log")
    log.commit(_df(spark, 0, 100), {"round": 1})
    log.commit_append(_df(spark, 100, 150).withColumn("w", F.lit(0.5)), {"round": 2})
    seen = SnapshotTable(spark, str(tmp_path), "seen", bucket_key="bucket", bucket_count=2)
    seen.commit(spark.range(10).selectExpr("cast(id % 2 as int) as bucket", "id as v"))
    seen.commit_append(spark.range(10, 14).selectExpr("cast(id % 2 as int) as bucket", "id as v"))
    assert all("schema" in s for t in (log, seen) for s in t.snapshots())

    tag = "snapshot-reads"
    sc.setJobGroup(tag, tag)
    try:
        frames = [log.read(), log.read(1), log.read_deltas(), seen.read_base(), seen.read_deltas()]
    finally:
        sc.setJobGroup("snapshot-reads-other", "other")
    assert list(sc.statusTracker().getJobIdsForGroup(tag)) == []
    # the recorded schema is the one Spark's schema merge would infer
    dirs = log._data_dirs(log._select(None))
    merged = spark.read.option("mergeSchema", True).parquet(*dirs)
    assert frames[0].schema == merged.schema
    assert frames[0].count() == 150 and frames[1].count() == 100
    assert frames[2].count() == 50 and frames[4].count() == 4

    man = json.loads(open(log._manifest_path).read())
    for s in man["snapshots"]:
        del s["schema"]
    log._write_manifest(man)
    assert log.read().schema == spark.read.parquet(*dirs).schema
    assert log.read().count() == 150


def test_read_uses_the_selected_snapshots_schema(spark, tmp_path):
    """A snapshot reads under the schema it recorded: a column an append
    added comes back, NULL on the rows written before it, while time
    travel to the first snapshot reads its own narrower schema."""
    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "log")
    t.commit(_df(spark, 0, 100), {"round": 1})
    t.commit_append(_df(spark, 100, 150).withColumn("w", F.lit(0.5)), {"round": 2})
    got = t.read()
    assert got.columns == ["id", "v", "w"]
    w = {r["id"]: r["w"] for r in got.collect()}
    assert len(w) == 150
    assert all(w[i] is None for i in range(100)) and all(w[i] == 0.5 for i in range(100, 150))
    assert t.read(1).columns == ["id", "v"]
    assert t.read_deltas().columns == ["id", "v", "w"]
    assert t.read_deltas().count() == 50


def test_iceberg_table_reads_base_as_whole_table(tmp_path):
    """An Iceberg table's ledger names no data files, so its base is the
    whole table at the snapshot and it has no separate deltas: the crawl's
    seen-state reads (``read_base``/``read_deltas``) go through ``read``.
    Built over a hand-written ledger with ``read`` stubbed, so no Iceberg
    runtime is needed."""
    from tripwire_spark.sources.snapshots import IcebergSnapshotTable

    t = IcebergSnapshotTable.__new__(IcebergSnapshotTable)
    t.name, t.dir = "seen_sketch", str(tmp_path / "seen_sketch")
    t.bucket_key = t.bucket_count = None
    t._manifest_path = os.path.join(t.dir, "manifest.json")
    os.makedirs(t.dir)
    ledger = [
        {"id": 1, "parent": None, "op": "overwrite", "iceberg_snapshot_id": 7001,
         "ts": 0.0, "summary": {"round": 0, "buckets": 8}},
        {"id": 2, "parent": 1, "op": "append", "iceberg_snapshot_id": 7002,
         "ts": 1.0, "summary": {"round": 1, "buckets": 8}},
    ]
    t._write_manifest({"table": t.name, "snapshots": ledger})
    t.read = lambda snapshot_id=None: ("whole table", snapshot_id)
    assert t.read_base() == ("whole table", None)
    assert t.read_base(1) == ("whole table", 1)
    assert t.read_deltas() is None and t.read_deltas(2) is None


def test_ids_that_name_no_snapshot_are_refused(spark, tmp_path):
    """A read, a rollback or an expiry by an id or ``keep_last`` that
    names no snapshot raises ``ValueError`` naming the table, before the
    manifest or any data is touched: ``rollback(0)`` would otherwise drop
    every snapshot and its data, and ``keep_last=0`` expire nothing."""
    import pytest

    from tripwire_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "log")
    t.commit(_df(spark, 0, 100))
    t.commit_append(_df(spark, 100, 150))
    manifest = (tmp_path / "log" / "manifest.json").read_text()
    data = sorted(os.listdir(tmp_path / "log"))
    for read in (t.read, t.read_base, t.read_deltas):
        with pytest.raises(ValueError, match="table log: no snapshot 7"):
            read(7)
    for sid in (0, 3):
        with pytest.raises(ValueError, match=f"table log: no snapshot {sid}"):
            t.rollback(sid)
    with pytest.raises(ValueError, match="table log: keep_last must be at least 1, got 0"):
        t.expire_snapshots(keep_last=0)
    assert (tmp_path / "log" / "manifest.json").read_text() == manifest
    assert sorted(os.listdir(tmp_path / "log")) == data
    assert t.read().count() == 150


def test_iceberg_ids_that_name_no_snapshot_are_refused(tmp_path):
    """The Iceberg twin refuses the same ids before any catalog call
    (built over a hand-written ledger with no session: a call that
    reached Spark would fail on ``spark`` being None)."""
    import pytest

    from tripwire_spark.sources.snapshots import IcebergSnapshotTable

    t = IcebergSnapshotTable.__new__(IcebergSnapshotTable)
    t.name, t.dir, t.spark = "log", str(tmp_path / "log"), None
    t.identifier = "cat.db.log"
    t._manifest_path = os.path.join(t.dir, "manifest.json")
    os.makedirs(t.dir)
    ledger = [{"id": 1, "parent": None, "op": "overwrite", "iceberg_snapshot_id": 7001,
               "ts": 0.0, "summary": {}}]
    t._write_manifest({"table": t.name, "snapshots": ledger})
    with pytest.raises(ValueError, match="table log: no snapshot 2"):
        t.read(2)
    for sid in (0, 2):
        with pytest.raises(ValueError, match=f"table log: no snapshot {sid}"):
            t.rollback(sid)
    with pytest.raises(ValueError, match="table log: keep_last must be at least 1, got 0"):
        t.expire_snapshots(keep_last=0)
    assert t.snapshots() == ledger
