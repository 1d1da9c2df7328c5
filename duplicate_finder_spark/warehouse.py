"""Warehouse facade: pluggable table format with checkpoint/resume.

The north rule asks for Iceberg tables with resumable, lineage-tracked
per-stage state. This sandbox has no Iceberg runtime jar (no network), so
the facade ships two implementations behind one call surface:

* ``ParquetWarehouse`` (default): a directory per table holding
  immutable ``snapshot-<id>`` dirs and a ``current`` symlink swapped
  atomically (``os.replace`` of a link — the POSIX analogue of
  Iceberg's snapshot-pointer commit), each snapshot carrying a
  ``manifest.json`` with lineage (stage name, input fingerprint,
  config hash, row count). Readers only ever see a complete snapshot,
  and a reader that resolved the previous snapshot keeps working
  through one subsequent write (the last superseded snapshot is
  retained; older ones are garbage-collected on write).
* ``IcebergWarehouse``: same call sites via ``saveAsTable``/``table`` on
  a configured Iceberg catalog — activates when
  ``spark.sql.catalog.<name>`` is present (config-only switch; the
  code path is real, just not exercisable here).

``checkpoint_or_compute`` is the resumability primitive: each pipeline
stage (signatures, edges, clusters) calls it with a deterministic
fingerprint; on rerun, a stage whose (input, config) fingerprint matches
the manifest is read back instead of recomputed — the engine restarts
from the last completed stage, replacing the reference's manual
``.clear()`` memory management (duplicate_finder.py:45,54,72) with
durable state.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class StageManifest:
    stage: str
    fingerprint: str
    rows: int
    written_at: float
    # per-partition lineage (north rule): ParquetWarehouse records the
    # rows of each non-empty written file, read from the Parquet footers,
    # in file-path order (IcebergWarehouse: rows per read split) — the
    # skew evidence a rerun or an operator-tuning pass reads before
    # touching the data
    partition_rows: list[int] = field(default_factory=list)
    n_partitions: int = 0
    max_partition_rows: int = 0

    @property
    def skew_ratio(self) -> float:
        """max/mean partition rows — 1.0 is perfectly balanced."""
        if not self.partition_rows or self.rows == 0:
            return 1.0
        mean = self.rows / len(self.partition_rows)
        return self.max_partition_rows / mean if mean else 1.0


def _file_rows(data_dir: str) -> list[int]:
    """Rows of each non-empty Parquet file under ``data_dir`` (a
    ``partition_by`` write nests them in ``col=value`` dirs), in path
    order. Read from the footers on the driver: no Spark job. Spark's
    hidden and marker files (``.``/``_`` prefixes) are skipped, and so
    is the zero-row file an empty write leaves."""
    paths = []
    for d, dirs, files in os.walk(data_dir):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        paths += [os.path.join(d, f) for f in files
                  if not f.startswith((".", "_"))]
    rows = (pq.read_metadata(p).num_rows for p in sorted(paths))
    return [n for n in rows if n]


def _partition_histogram(df: DataFrame) -> list[int]:
    """Rows per partition, in partition-id order. One lightweight job —
    a groupBy on spark_partition_id() is map-side only per split."""
    counts = (df.groupBy(F.spark_partition_id().alias("pid")).count()
              .collect())
    return [int(c["count"]) for c in
            sorted(counts, key=lambda r: r["pid"])]


class _Warehouse:
    """What both table formats derive from their own ``manifest``,
    ``read`` and ``write``."""

    spark: SparkSession
    manifest: Callable[[str], StageManifest | None]
    read: Callable[..., DataFrame]
    write: Callable[..., StageManifest]

    def exists(self, name: str) -> bool:
        return self.manifest(name) is not None

    def read_json(self, name: str):
        """The value last committed by ``write_json``, or None."""
        return (json.loads(self.read(name).first()["value"])
                if self.exists(name) else None)

    def write_json(self, name: str, value) -> None:
        """Commit ``value`` as a one-row ``value string`` table."""
        self.write(self.spark.createDataFrame([(json.dumps(value),)],
                                              "value string"), name)

    # -- resumability ----------------------------------------------------------

    def checkpoint_or_compute(self, name: str, fingerprint: str,
                              compute) -> tuple[DataFrame, bool]:
        """Return (df, resumed): reuse the stored stage iff its manifest
        fingerprint matches; else compute, persist, and return fresh."""
        m = self.manifest(name)
        if m is not None and m.fingerprint == fingerprint:
            return self.read(name), True
        df = compute()
        self.write(df, name, stage=name, fingerprint=fingerprint)
        return self.read(name), False


class ParquetWarehouse(_Warehouse):
    """Local/HDFS-path warehouse with atomic snapshot-pointer semantics:
    each write lands in an immutable ``snapshot-<id>`` dir, then a
    ``current`` symlink is swapped via ``os.replace`` (atomic on POSIX)
    — there is no instant at which a reader can observe a missing or
    partial table. The superseded snapshot survives one write so
    DataFrames already bound to it (Spark resolves the real path at
    plan time) finish their jobs; snapshots beyond ``retain`` are GC'd.

    Iceberg-parity surface: ``history`` ≙ the snapshot log,
    ``read(name, snapshot_id=...)`` ≙ ``VERSION AS OF`` time travel,
    ``retain`` ≙ snapshot expiration policy."""

    def __init__(self, spark: SparkSession, root: str, retain: int = 2):
        if retain < 2:
            raise ValueError("retain must be >= 2: the superseded "
                             "snapshot must survive for in-flight readers")
        self.spark = spark
        self.root = root
        self.retain = retain
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _current(self, name: str) -> str | None:
        """Real path of the current snapshot dir, or None."""
        link = os.path.join(self._table_dir(name), "current")
        if not os.path.lexists(link):
            return None
        return os.path.realpath(link)

    # -- core API --------------------------------------------------------------

    def write(self, df: DataFrame, name: str, stage: str = "",
              fingerprint: str = "",
              partition_by: list[str] | None = None) -> StageManifest:
        """Write df as the new current snapshot of ``name``.
        ``partition_by`` hash/dir-partitions the snapshot (Iceberg
        partition-spec parity) so downstream reads with an equality /
        IN filter on those columns prune to just the touched dirs."""
        table = self._table_dir(name)
        os.makedirs(table, exist_ok=True)
        snap_id = "snapshot-" + uuid.uuid4().hex[:12]
        snap = os.path.join(table, snap_id)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(snap, "data"))
        parts = _file_rows(os.path.join(snap, "data"))
        rows = sum(parts)
        manifest = StageManifest(stage=stage or name,
                                 fingerprint=fingerprint, rows=rows,
                                 written_at=time.time(),
                                 partition_rows=parts,
                                 n_partitions=len(parts),
                                 max_partition_rows=max(parts, default=0))
        with open(os.path.join(snap, "manifest.json"), "w") as f:
            json.dump(manifest.__dict__, f)
        # atomic pointer swap: build the link aside, replace over it
        prev = os.path.basename(self._current(name) or "")
        tmp_link = os.path.join(table, ".current-" + uuid.uuid4().hex[:8])
        os.symlink(snap_id, tmp_link)
        os.replace(tmp_link, os.path.join(table, "current"))
        # GC (snapshot expiration): keep the new snapshot, the superseded
        # one (in-flight readers bound to it finish; retain >= 2), then
        # the newest — a crashed write's orphan never outranks those two
        snaps = sorted(
            (e for e in os.listdir(table) if e.startswith("snapshot-")),
            key=lambda e: (e != snap_id, e != prev,
                           -os.path.getmtime(os.path.join(table, e))))
        for entry in snaps[self.retain:]:
            shutil.rmtree(os.path.join(table, entry), ignore_errors=True)
        return manifest

    def read_json(self, name: str):
        """``<root>/<name>.json``, read with one ``open``: no Spark job."""
        try:
            with open(os.path.join(self.root, name + ".json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def write_json(self, name: str, value) -> None:
        """Commit ``<root>/<name>.json`` as ``write`` swaps its link:
        build a dot-prefixed temp file aside, fsync, ``os.replace``."""
        tmp = os.path.join(self.root, f".{name}.json-{uuid.uuid4().hex[:8]}")
        try:
            with open(tmp, "w") as f:
                json.dump(value, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(self.root, name + ".json"))
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
            raise

    def read(self, name: str, snapshot_id: str | None = None) -> DataFrame:
        """Bind to a snapshot's real (immutable) path — the returned
        DataFrame stays valid through the next write. ``snapshot_id``
        (from ``history``) time-travels to a retained older snapshot
        (Iceberg ``VERSION AS OF``)."""
        if snapshot_id is not None:
            snap = os.path.join(self._table_dir(name), snapshot_id)
            if not os.path.isdir(snap):
                raise FileNotFoundError(
                    f"snapshot not retained: {name}/{snapshot_id} "
                    f"(retain={self.retain})")
            return self.spark.read.parquet(os.path.join(snap, "data"))
        cur = self._current(name)
        if cur is None:
            raise FileNotFoundError(f"warehouse table not found: {name}")
        return self.spark.read.parquet(os.path.join(cur, "data"))

    def history(self, name: str) -> list[dict]:
        """Snapshot log, newest first: [{snapshot_id, is_current, stage,
        fingerprint, rows, written_at}] — the retained tail of the
        table's write history (Iceberg snapshot-log parity)."""
        table = self._table_dir(name)
        if not os.path.isdir(table):
            return []
        cur = self._current(name)
        out = []
        for entry in os.listdir(table):
            mpath = os.path.join(table, entry, "manifest.json")
            if not entry.startswith("snapshot-") \
                    or not os.path.exists(mpath):
                continue
            with open(mpath) as f:
                m = json.load(f)
            out.append({"snapshot_id": entry,
                        "is_current": os.path.join(table, entry) == cur,
                        "stage": m["stage"],
                        "fingerprint": m["fingerprint"],
                        "rows": m["rows"], "written_at": m["written_at"]})
        return sorted(out, key=lambda d: d["written_at"], reverse=True)

    def manifest(self, name: str) -> StageManifest | None:
        cur = self._current(name)
        if cur is None:
            return None
        path = os.path.join(cur, "manifest.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return StageManifest(**json.load(f))

    def drop(self, name: str) -> None:
        d = self._table_dir(name)
        if os.path.exists(d):
            shutil.rmtree(d)

    def tables(self) -> list[str]:
        """Names of all tables with a current snapshot (Iceberg SHOW
        TABLES parity), sorted."""
        return sorted(n for n in os.listdir(self.root)
                      if self._current(n) is not None)


class IcebergWarehouse(_Warehouse):
    """Iceberg-backed implementation (same surface). Requires an Iceberg
    catalog on the session (``spark.sql.catalog.<catalog>`` configs +
    iceberg-spark-runtime jar); lineage rides Iceberg snapshot metadata
    plus a ``<table>_manifest`` side table."""

    # explicit schema: inference would fail on an EMPTY stage output —
    # partition_rows = [] has no inferable element type
    # (CANNOT_DETERMINE_TYPE on PySpark 4.x), and a dup-free corpus
    # legitimately checkpoints zero edges
    MANIFEST_SCHEMA = ("stage string, fingerprint string, rows long, "
                       "written_at double, partition_rows array<long>, "
                       "n_partitions int, max_partition_rows long")

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
            raise RuntimeError(
                f"Iceberg catalog '{catalog}' is not configured on this "
                f"session: set spark.sql.catalog.{catalog} (and the "
                f"iceberg-spark-runtime jar) or use the parquet warehouse "
                f"(--format parquet)")
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.prefix}")

    def _fq(self, name: str) -> str:
        return f"{self.prefix}.{name}"

    def write(self, df: DataFrame, name: str, stage: str = "",
              fingerprint: str = "",
              partition_by: list[str] | None = None) -> StageManifest:
        w = df.writeTo(self._fq(name)).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        back = self.spark.table(self._fq(name))
        parts = _partition_histogram(back)
        manifest = StageManifest(stage=stage or name,
                                 fingerprint=fingerprint, rows=sum(parts),
                                 written_at=time.time(),
                                 partition_rows=parts,
                                 n_partitions=len(parts),
                                 max_partition_rows=max(parts, default=0))
        self.spark.createDataFrame([manifest.__dict__],
                                   schema=self.MANIFEST_SCHEMA) \
            .writeTo(self._fq(name + "_manifest")).using("iceberg") \
            .createOrReplace()
        return manifest

    def read(self, name: str) -> DataFrame:
        return self.spark.table(self._fq(name))

    def manifest(self, name: str) -> StageManifest | None:
        try:
            row = self.spark.table(self._fq(name + "_manifest")).collect()
        except Exception:  # noqa: BLE001 — table not found
            return None
        return StageManifest(**row[0].asDict()) if row else None

    def drop(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._fq(name)}")
        self.spark.sql(f"DROP TABLE IF EXISTS {self._fq(name + '_manifest')}")

    def tables(self) -> list[str]:
        """Data-table names in the namespace (manifest side tables
        excluded), sorted — SHOW TABLES on the catalog."""
        rows = self.spark.sql(f"SHOW TABLES IN {self.prefix}").collect()
        return sorted(r["tableName"] for r in rows
                      if not r["tableName"].endswith("_manifest"))


def get_warehouse(spark: SparkSession, root_or_catalog: str,
                  fmt: str = "parquet"):
    if fmt == "iceberg":
        catalog, _, ns = root_or_catalog.partition(".")
        return IcebergWarehouse(spark, catalog, ns or "dedup")
    return ParquetWarehouse(spark, root_or_catalog)
