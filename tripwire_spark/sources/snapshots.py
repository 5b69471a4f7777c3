"""Snapshot tables: atomic, resumable state commits.

Iceberg is the production target (BASELINE.json north rule); its jars
are not in this container, so ``SnapshotTable`` reproduces the part of
its contract the engine relies on over plain Parquet:

- **atomic commit**: data written to an immutable snapshot directory,
  then a tiny JSON manifest is swapped via atomic ``os.replace`` —
  readers see the old or the new snapshot, never a partial write
  (Iceberg's metadata-pointer swap).
- **snapshot history + summary**: every commit records a monotonically
  increasing id, the parent id, and a caller-supplied summary dict
  (per-round lineage metrics live here).
- **time travel / resume**: ``read(snapshot_id)`` or latest.
- **relocatable**: a manifest names its data dirs relative to the table
  directory, so a checkpoint directory can be copied or moved whole.
- **schema in the manifest**: every commit records the schema of what it
  wrote, and a read of a snapshot passes that snapshot's schema to
  Spark, so a column a later append added reads NULL on older rows and
  a read runs no schema-inference (footer-reading) job; a manifest
  written before schemas were recorded still reads through inference.

If real Iceberg is on the classpath (``iceberg_available()`` probes the
JVM), the ``IcebergSnapshotTable`` subclass delegates data storage to
``writeTo(...)`` / snapshot-id time travel instead; same interface, and
the JSON manifest shrinks to a summary ledger mapping our monotonically
increasing ids to Iceberg snapshot ids (Iceberg owns atomicity, file
lists, and GC).  The container default remains the Parquet stand-in.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotTable:
    """A named table with atomic snapshot commits under ``base_dir``.

    ``bucket_key``/``bucket_count``: when set, every FULL snapshot
    (``commit``) is written **bucketed on that key** via
    ``bucketBy(...).saveAsTable`` — the physical layout contract of
    sources/bucketed.py, applied to mutable state.  A bucketed snapshot
    reads back as a catalog table whose scan satisfies hash-clustering
    on the key, so downstream cogroups/joins on it need NO exchange on
    this side (the seen-state admit's scale shape; plan-asserted in
    tests/test_seen.py).  Appends stay plain parquet deltas — callers
    that need the split read ``read_base()`` (bucketed) +
    ``read_deltas()`` (small).  This is the stand-in for Iceberg's
    ``bucket(N, key)`` partition transform on the same table.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        name: str,
        bucket_key: str | None = None,
        bucket_count: int | None = None,
    ) -> None:
        self.spark = spark
        self.name = name
        self.dir = os.path.join(base_dir, name)
        self.bucket_key = bucket_key
        self.bucket_count = bucket_count
        os.makedirs(self.dir, exist_ok=True)
        self._manifest_path = os.path.join(self.dir, "manifest.json")

    def _table_name(self, sid: int, data_dir: str) -> str:
        """Catalog identifier for a bucketed snapshot: unique per data
        directory, so parallel checkpoints in one session never collide
        and a copied checkpoint never reads its original's registration."""
        safe = re.sub(r"[^A-Za-z0-9_]", "_", self.name)
        digest = hashlib.md5(data_dir.encode()).hexdigest()[:8]
        return f"tw_{safe}_{digest}_snap{sid:06d}"

    def _bucket_table(self, snap: dict) -> str:
        return self._table_name(snap["id"], self._data_dirs(snap)[0])

    # -- manifest ---------------------------------------------------------
    def _manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"table": self.name, "snapshots": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        return self._manifest()["snapshots"]

    def latest_id(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1]["id"] if snaps else None

    @staticmethod
    def _paths(snap: dict) -> list[str]:
        """Data dirs of a snapshot as its manifest stores them (append
        snapshots list several): relative to the table directory, so a
        checkpoint can be copied or moved whole."""
        return snap.get("paths") or [snap["path"]]

    def _data_dirs(self, snap: dict) -> list[str]:
        """``_paths`` resolved against the table directory; an absolute
        path (manifests written before paths were relative) stays as is."""
        return [os.path.join(self.dir, p) for p in self._paths(snap)]

    def _write_manifest(self, man: dict) -> None:
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic pointer swap

    # -- commit / read ------------------------------------------------------
    def _new_data_dir(self, sid: int) -> str:
        return os.path.join(self.dir, f"snap-{sid:06d}-{uuid.uuid4().hex[:8]}")

    @staticmethod
    def _file_stats(data_dir: str) -> list[dict]:
        """Per-file lineage stats for one snapshot data dir — the
        Iceberg-manifest analog (each parquet file is one Spark output
        partition).  Reads only parquet FOOTERS (driver-side metadata,
        O(#files), no data scan), exactly what Iceberg's manifest writer
        records per data file at commit time."""
        import pyarrow.parquet as pq

        out = []
        for fn in sorted(os.listdir(data_dir)):
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(data_dir, fn)
            out.append(
                {
                    "file": fn,
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": os.path.getsize(p),
                }
            )
        return out

    def commit(self, df: DataFrame, summary: dict | None = None) -> int:
        """Write ``df`` as a new FULL immutable snapshot (table rewrite);
        atomic manifest swap.  With a bucket spec the snapshot is
        written bucketed+sorted on the key (see class docstring)."""
        man = self._manifest()
        parent = man["snapshots"][-1]["id"] if man["snapshots"] else None
        sid = (parent or 0) + 1
        data_dir = self._new_data_dir(sid)
        bucket_info = None
        if self.bucket_key:
            tbl = self._table_name(sid, data_dir)
            (
                df.write.mode("overwrite")
                .bucketBy(self.bucket_count, self.bucket_key)
                .sortBy(self.bucket_key)
                .option("path", data_dir)
                .format("parquet")
                .saveAsTable(tbl)
            )
            bucket_info = {
                "key": self.bucket_key,
                "n": self.bucket_count,
                "table": tbl,
                # schema DDL recorded so a FRESH session (resume) can
                # re-register the external bucketed table before reading
                "schema": ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
                ),
            }
        else:
            df.write.mode("overwrite").parquet(data_dir)
        files = self._file_stats(data_dir)
        snap = {
            "id": sid,
            "parent": parent,
            "path": os.path.basename(data_dir),
            "op": "overwrite",
            "ts": time.time(),
            "summary": summary or {},
            "schema": df.schema.jsonValue(),
            "files": files,
            "added_rows": sum(f["rows"] for f in files),
            "added_bytes": sum(f["bytes"] for f in files),
        }
        if bucket_info:
            snap["bucket"] = bucket_info
        man["snapshots"].append(snap)
        self._write_manifest(man)
        return sid

    def commit_append(self, delta: DataFrame, summary: dict | None = None) -> int:
        """APPEND ``delta`` as a new snapshot: writes only the delta's
        bytes and records (parent's data files + the new one) — the
        Iceberg fast-append.  A round's commit therefore costs O(round
        delta), not O(table); ``read()`` unions the file list.  Falls
        back to a full commit when the table has no snapshots yet."""
        man = self._manifest()
        if not man["snapshots"]:
            return self.commit(delta, summary)
        parent = man["snapshots"][-1]
        sid = parent["id"] + 1
        data_dir = self._new_data_dir(sid)
        delta.write.mode("overwrite").parquet(data_dir)
        files = self._file_stats(data_dir)
        man["snapshots"].append(
            {
                "id": sid,
                "parent": parent["id"],
                "paths": self._paths(parent) + [os.path.basename(data_dir)],
                "op": "append",
                "ts": time.time(),
                "summary": summary or {},
                "schema": delta.schema.jsonValue(),
                # lineage stats cover only the ADDED files — O(delta)
                # footer reads per fast-append, like an Iceberg manifest
                "files": files,
                "added_rows": sum(f["rows"] for f in files),
                "added_bytes": sum(f["bytes"] for f in files),
            }
        )
        self._write_manifest(man)
        return sid

    def _select(self, snapshot_id: int | None) -> dict:
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"table {self.name}: no snapshots")
        if snapshot_id is None:
            return snaps[-1]
        return self._snapshot(snaps, snapshot_id)

    def _snapshot(self, snaps: list[dict], snapshot_id: int) -> dict:
        """The snapshot ``snapshot_id`` names; ``ValueError`` when none
        does, so no caller reads, keeps or drops by an id that is not
        there."""
        for s in snaps:
            if s["id"] == snapshot_id:
                return s
        raise ValueError(f"table {self.name}: no snapshot {snapshot_id}")

    def _check_keep_last(self, keep_last: int) -> None:
        if keep_last < 1:
            raise ValueError(
                f"table {self.name}: keep_last must be at least 1, got {keep_last}"
            )

    def _read_bucketed(self, snap: dict) -> DataFrame:
        """Catalog-table read of a bucketed full snapshot; re-registers
        the external table (DDL with the recorded bucket spec) when the
        session's catalog has never seen it — resume in a fresh JVM."""
        b = snap["bucket"]
        tbl = self._bucket_table(snap)
        if not self.spark.catalog.tableExists(tbl):
            self.spark.sql(
                f"CREATE TABLE {tbl} ({b['schema']}) USING PARQUET "
                f"CLUSTERED BY ({b['key']}) SORTED BY ({b['key']}) "
                f"INTO {b['n']} BUCKETS LOCATION '{self._data_dirs(snap)[0]}'"
            )
        return self.spark.table(tbl)

    def _read_parquet(self, snap: dict, data_dirs: list[str]) -> DataFrame:
        """Parquet read of ``data_dirs`` (``snap``'s, or some of them)
        under the schema ``snap`` recorded: a column an append added reads
        NULL on the rows written before it.  Without a recorded schema (an
        older manifest) Spark infers it, in a job of its own."""
        reader = self.spark.read
        if "schema" in snap:
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        return reader.parquet(*data_dirs)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        snap = self._select(snapshot_id)
        if snap.get("bucket") and snap["op"] == "overwrite":
            return self._read_bucketed(snap)
        return self._read_parquet(snap, self._data_dirs(snap))

    def _base_of(self, snap: dict) -> dict:
        """Most recent FULL snapshot at-or-before ``snap`` (every chain
        starts with one: the first commit_append falls back to commit)."""
        snaps = self.snapshots()
        for s in reversed(snaps[: snaps.index(snap) + 1]):
            if s["op"] == "overwrite":
                return s
        return snap

    def read_base(self, snapshot_id: int | None = None) -> DataFrame:
        """The bucketed-layout base underlying the selected snapshot —
        its most recent FULL ancestor.  With a bucket spec this scan
        satisfies hash-clustering on the key (no exchange downstream)."""
        snap = self._base_of(self._select(snapshot_id))
        if snap.get("bucket"):
            return self._read_bucketed(snap)
        return self._read_parquet(snap, self._data_dirs(snap))

    def read_deltas(self, snapshot_id: int | None = None) -> DataFrame | None:
        """The append deltas on top of ``read_base()`` (None when the
        selected snapshot IS a full one) — O(appends since last full
        snapshot), the small side a caller ships through an exchange."""
        snap = self._select(snapshot_id)
        base_paths = set(self._data_dirs(self._base_of(snap)))
        delta_paths = [p for p in self._data_dirs(snap) if p not in base_paths]
        if not delta_paths:
            return None
        return self._read_parquet(snap, delta_paths)

    def lineage(self) -> DataFrame:
        """Per-partition lineage as a queryable DataFrame: one row per
        (snapshot, data file) with the file's row count and byte size —
        what `SELECT * FROM t.files` gives you on real Iceberg.  Built
        from the manifest (driver-side, no data scan), so fetch/dedup
        metrics per round AND per output partition are one filter away:

            table.lineage().filter("snapshot_id = 3").agg(sum("rows"))
        """
        rows = [
            (
                int(s["id"]),
                s["op"],
                f["file"],
                int(f["rows"]),
                int(f["bytes"]),
            )
            for s in self.snapshots()
            for f in s.get("files", [])
        ]
        return self.spark.createDataFrame(
            rows, "snapshot_id int, op string, file string, rows bigint, bytes bigint"
        )

    def rollback(self, snapshot_id: int) -> None:
        """Drop snapshots newer than ``snapshot_id`` (resume-after-kill).
        Data dirs still referenced by a kept snapshot (append lineage)
        survive; only orphaned dirs are deleted."""
        man = self._manifest()
        self._snapshot(man["snapshots"], snapshot_id)
        keep, drop = [], []
        for s in man["snapshots"]:
            (keep if s["id"] <= snapshot_id else drop).append(s)
        man["snapshots"] = keep
        self._write_manifest(man)
        referenced = {p for s in keep for p in self._data_dirs(s)}
        for s in drop:
            if s.get("bucket"):
                self.spark.sql(f"DROP TABLE IF EXISTS {self._bucket_table(s)}")
            for p in self._data_dirs(s):
                if p not in referenced:
                    shutil.rmtree(p, ignore_errors=True)

    def expire_snapshots(self, keep_last: int = 2) -> None:
        """GC data dirs reachable only from expired snapshots, keeping
        manifest history (Iceberg expire_snapshots)."""
        self._check_keep_last(keep_last)
        man = self._manifest()
        kept = man["snapshots"][-keep_last:]
        referenced = {p for s in kept for p in self._data_dirs(s)}
        for s in man["snapshots"][:-keep_last]:
            expired = False
            for p in self._data_dirs(s):
                if p not in referenced and os.path.exists(p):
                    shutil.rmtree(p, ignore_errors=True)
                    expired = True
            if expired:
                s["expired"] = True
                if s.get("bucket"):
                    self.spark.sql(f"DROP TABLE IF EXISTS {self._bucket_table(s)}")
        self._write_manifest(man)


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath AND a
    catalog is configured (``spark.sql.catalog.<name>``).  Probed at
    call time, not import time, so a session started with
    ``--packages org.apache.iceberg:iceberg-spark-runtime...`` upgrades
    transparently."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — JVM classpath probe
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


class IcebergSnapshotTable(SnapshotTable):
    """SnapshotTable over a real Iceberg catalog table.

    Data commits delegate to the DataFrameWriterV2 API
    (``df.writeTo(t).createOrReplace()`` for full snapshots,
    ``.append()`` for fast-appends); reads time-travel via the
    ``snapshot-id`` read option (the DataFrame twin of ``VERSION AS
    OF``); rollback calls the ``rollback_to_snapshot`` procedure.  The
    local JSON manifest persists only our ledger — (our id → iceberg
    snapshot id, caller summary) — because the crawl resume path reads
    per-round summaries (``snapshots()[-1]["summary"]``), which Iceberg
    snapshot properties do not round-trip as a dict.

    Production note (100 TB): the seen-state and log tables are
    append-only, so every per-round commit is an Iceberg fast-append —
    manifest-list surgery, no data rewrite; ``expire_snapshots`` maps to
    the catalog's own maintenance procedure.
    """

    def __init__(
        self, spark: SparkSession, base_dir: str, name: str, catalog: str = "iceberg"
    ) -> None:
        if not iceberg_available(spark):
            raise RuntimeError("Iceberg runtime not on the classpath")
        super().__init__(spark, base_dir, name)
        safe = name.replace("-", "_")
        self.identifier = f"{catalog}.tripwire_ck.{safe}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.tripwire_ck")

    def _current_iceberg_snapshot(self) -> int:
        row = (
            self.spark.sql(
                f"SELECT snapshot_id FROM {self.identifier}.snapshots ORDER BY committed_at DESC LIMIT 1"
            )
        ).collect()
        return int(row[0][0])

    def _record(self, op: str, summary: dict | None) -> int:
        man = self._manifest()
        parent = man["snapshots"][-1]["id"] if man["snapshots"] else None
        sid = (parent or 0) + 1
        man["snapshots"].append(
            {
                "id": sid,
                "parent": parent,
                "op": op,
                "iceberg_snapshot_id": self._current_iceberg_snapshot(),
                "ts": time.time(),
                "summary": summary or {},
            }
        )
        self._write_manifest(man)
        return sid

    def commit(self, df: DataFrame, summary: dict | None = None) -> int:
        df.writeTo(self.identifier).using("iceberg").createOrReplace()
        return self._record("overwrite", summary)

    def commit_append(self, delta: DataFrame, summary: dict | None = None) -> int:
        if self.latest_id() is None:
            return self.commit(delta, summary)
        delta.writeTo(self.identifier).append()
        return self._record("append", summary)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        snap = self._select(snapshot_id)
        return (
            self.spark.read.option("snapshot-id", snap["iceberg_snapshot_id"])
            .table(self.identifier)
        )

    def read_base(self, snapshot_id: int | None = None) -> DataFrame:
        """The whole table at the snapshot, appended segments included:
        the ledger keeps no base/delta file split, and a reader that
        unions ``read_base()`` with ``read_deltas()`` gets the same rows."""
        return self.read(snapshot_id)

    def read_deltas(self, snapshot_id: int | None = None) -> DataFrame | None:
        """None: ``read_base`` already holds every appended row."""
        return None

    def lineage(self) -> DataFrame:
        """Per-file lineage straight from Iceberg's own metadata: the
        ``.entries`` table records, per manifest entry, the committing
        snapshot and the data file's row count / byte size (status 1 =
        ADDED, matching the stand-in's added-files semantics).  Joined to
        our ledger ids via the Iceberg snapshot id."""
        ledger = self.spark.createDataFrame(
            [
                (int(s["id"]), s["op"], int(s["iceberg_snapshot_id"]))
                for s in self.snapshots()
            ],
            "snapshot_id int, op string, iceberg_snapshot_id bigint",
        )
        entries = self.spark.sql(
            f"SELECT snapshot_id AS iceberg_snapshot_id, "
            f"data_file.file_path AS file, data_file.record_count AS rows, "
            f"data_file.file_size_in_bytes AS bytes "
            f"FROM {self.identifier}.entries WHERE status = 1"
        )
        return ledger.join(entries, "iceberg_snapshot_id").select(
            "snapshot_id", "op", "file", "rows", "bytes"
        )

    def rollback(self, snapshot_id: int) -> None:
        man = self._manifest()
        self._snapshot(man["snapshots"], snapshot_id)
        keep = [s for s in man["snapshots"] if s["id"] <= snapshot_id]
        catalog = self.identifier.split(".", 1)[0]
        self.spark.sql(
            f"CALL {catalog}.system.rollback_to_snapshot('{self.identifier.split('.', 1)[1]}', "
            f"{keep[-1]['iceberg_snapshot_id']})"
        )
        man["snapshots"] = keep
        self._write_manifest(man)

    def expire_snapshots(self, keep_last: int = 2) -> None:
        self._check_keep_last(keep_last)
        man = self._manifest()
        old = man["snapshots"][:-keep_last]
        if not old:
            return
        catalog, table = self.identifier.split(".", 1)
        self.spark.sql(
            f"CALL {catalog}.system.expire_snapshots(table => '{table}', "
            f"snapshot_ids => ARRAY({', '.join(str(s['iceberg_snapshot_id']) for s in old)}))"
        )
        for s in old:
            s["expired"] = True
        self._write_manifest(man)


def open_snapshot_table(
    spark: SparkSession,
    base_dir: str,
    name: str,
    prefer_iceberg: bool = True,
    bucket_key: str | None = None,
    bucket_count: int | None = None,
) -> SnapshotTable:
    """Factory: the Iceberg-backed table when the runtime is present,
    else the Parquet stand-in — callers (run_crawl) stay agnostic.

    ``bucket_key``/``bucket_count`` request the bucketed physical layout
    for full snapshots (parquet stand-in: bucketBy table; real Iceberg
    would declare ``PARTITIONED BY (bucket(N, key))`` on the table DDL —
    the transform the stand-in's spec mirrors)."""
    if prefer_iceberg and iceberg_available(spark):
        try:
            return IcebergSnapshotTable(spark, base_dir, name)
        except Exception:
            pass
    return SnapshotTable(spark, base_dir, name, bucket_key=bucket_key, bucket_count=bucket_count)
