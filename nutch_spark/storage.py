"""Snapshot-versioned, url-bucketed table storage — the Iceberg stand-in.

On a production cluster the crawldb/pages live in Iceberg tables
partitioned by ``bucket(url, N)`` (north rule); commits are snapshot
pointer swaps, reads can time-travel, and old snapshots expire. The
sandbox has no Iceberg runtime, so :class:`SnapshotTable` reproduces
the exact same contract on what IS available:

- **data layout**: Spark *bucketed* tables (``bucketBy(N, url)`` +
  ``sortBy(url)``) — the engine-visible property Iceberg's bucket
  transform provides: scans carry ``HashPartitioning(url, N)``, so
  url-keyed joins/aggregations against the table run with NO Exchange
  on the table side (a storage-partitioned join);
- **commit protocol**: each snapshot is its own bucketed table dir;
  a ``_table.json`` metadata file lists snapshots and the current
  pointer, and commits are ``os.replace`` pointer swaps — atomic, so a
  crash mid-write leaves the previous snapshot current (Iceberg's
  metadata.json swap);
- **time-travel**: ``read(snapshot_id)`` opens any retained snapshot
  (``VERSION AS OF``);
- **expiry**: ``expire_snapshots(keep_last)`` drops old snapshot
  tables and their data (``expireSnapshots``).

Snapshot tables self-register: a fresh SparkSession (resume after a
crash, a different process) re-creates the catalog entries from the
persisted metadata — schema, bucket spec and location all come from
``_table.json``, never from the session that wrote them.

Reference analog: the crawldb ``current/old`` MapFile install
(CrawlDb.java:155-173) gives atomic replace but neither history nor
bucketed join locality; this layer supplies both.

The crawl's other per-round tables (segments, linkdb, URL-seen layer,
index products) have one store, :class:`RoundStore`: the reference's
temp-dir-plus-rename install with a ``_snapshot.json`` commit record,
listed and read only once the round's crawldb snapshot is committed.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import default_cores


def partition_lineage(path: str) -> list[dict]:
    """Per-partition lineage for commit records (north rule:
    checkpoints carry per-partition lineage): one entry per parquet
    part file with its row count and byte size, read from the parquet
    FOOTERS — no extra Spark job; resume/audit can verify a snapshot
    partition-by-partition without scanning data."""
    out = []
    try:
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover - pyarrow is baked in
        return out
    for root, _dirs, files in os.walk(path):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            try:
                rows = pq.ParquetFile(fp).metadata.num_rows
            except Exception:
                rows = None
            out.append({
                "file": os.path.relpath(fp, path),
                "rows": rows,
                "bytes": os.path.getsize(fp),
            })
    return out


def lineage_rows(lineage: list[dict] | None) -> int | None:
    """Total rows from footer lineage, or None when it is missing or
    any footer was unreadable (callers fall back to a Spark count)."""
    if not lineage or any(p["rows"] is None for p in lineage):
        return None
    return sum(p["rows"] for p in lineage)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


class SnapshotTable:
    """One logical table with snapshot history, stored as a family of
    url-bucketed Spark tables under ``base_dir/name/``."""

    def __init__(self, spark: SparkSession, base_dir: str, name: str,
                 bucket_col: str = "url", n_buckets: int | None = None,
                 sort: bool = True):
        """``n_buckets=None`` keeps the table's bucket count: the current
        snapshot's when the table exists, else the session's task
        threads (:func:`~nutch_spark.session.default_cores`).

        ``sort``: keep each bucket file sorted by the bucket column
        (Iceberg write-order). Worth it for write-once/join-many
        tables (pages: the SMJ probe side skips its per-round Sort);
        pure write-side cost for tables that are rewritten every round
        and only ever hash-aggregated or filtered (crawldb), which
        pass ``sort=False``."""
        self.spark = spark
        self.name = name
        self.dir = os.path.join(base_dir, name)
        self.bucket_col = bucket_col
        if n_buckets is None:
            n_buckets = self._recorded_buckets() or default_cores()
        self.n_buckets = n_buckets
        self.sort = sort
        # catalog identifiers must be unique per on-disk table (the
        # session catalog is shared across CrawlRuns/tests)
        digest = hashlib.md5(os.path.abspath(self.dir).encode()) \
            .hexdigest()[:10]
        self._prefix = f"snap_{name}_{digest}"
        # footer lineage and write seconds captured at stage() time,
        # consumed by publish()
        self._staged: dict[int, tuple[list[dict], float]] = {}

    # --- metadata ------------------------------------------------------
    def _meta_path(self) -> str:
        return os.path.join(self.dir, "_table.json")

    def _recorded_buckets(self) -> int | None:
        """Bucket count in ``_table.json``: the current snapshot's, else
        the table's own; None when neither is recorded."""
        try:
            with open(self._meta_path()) as f:
                meta = json.load(f)
        except FileNotFoundError:
            return None
        cur = meta["snapshots"].get(str(meta["current"]), {})
        return cur.get("n_buckets") or meta.get("n_buckets")

    def _load_meta(self) -> dict:
        try:
            with open(self._meta_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"snapshots": {}, "current": None,
                    "bucket_col": self.bucket_col,
                    "n_buckets": self.n_buckets}

    def _save_meta(self, meta: dict) -> None:
        """Atomic metadata swap — the commit point (Iceberg's
        metadata.json pointer). ``os.replace`` is atomic on POSIX."""
        os.makedirs(self.dir, exist_ok=True)
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path())

    def snapshots(self) -> list[int]:
        return sorted(int(k) for k in self._load_meta()["snapshots"])

    def current_id(self) -> int | None:
        return self._load_meta()["current"]

    # --- write path ------------------------------------------------------
    def _table_name(self, snapshot_id: int) -> str:
        return f"{self._prefix}_s{snapshot_id}"

    def stage(self, df: DataFrame, snapshot_id: int) -> DataFrame:
        """Write snapshot data (durable, NOT yet visible): the bucketed
        table for ``snapshot_id`` is materialized but the metadata
        pointer still names the previous snapshot. :meth:`publish`
        makes it current; ``stage``+``publish`` = Iceberg's
        write-then-swap commit. Returns a read of the staged table,
        its footer row count attached as ``_nutch_lineage_rows``.

        The write lands in a ``.tmp`` dir first and swaps in only after
        the job completes, so re-staging a snapshot id whose previous
        data feeds the new plan (re-running a crashed round reads
        round N−1 but re-staging round 0 at inject reads round 0) never
        overwrites its own input mid-job."""
        t0 = time.monotonic()
        tbl = self._table_name(snapshot_id)
        wtbl = tbl + "_w"
        path = os.path.join(self.dir, f"s{snapshot_id}")
        tmp = path + ".tmp"
        self.spark.sql(f"DROP TABLE IF EXISTS {wtbl}")
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        # repartition on the bucket expression: Spark's bucket files use
        # the same murmur3 HashPartitioning, so when the upstream plan
        # already ends url-partitioned (the updatedb merge join does)
        # EnsureRequirements elides this exchange; otherwise it is the
        # one unavoidable shuffle of a bucketed write (without it every
        # task writes n_buckets files — file-count explosion at scale)
        w = (df.repartition(self.n_buckets, self.bucket_col)
               .write.mode("overwrite")
               .bucketBy(self.n_buckets, self.bucket_col))
        if self.sort:
            w = w.sortBy(self.bucket_col)
        w.option("path", tmp).saveAsTable(wtbl)
        schema = json.loads(self.spark.table(wtbl).schema.json())
        # swap the completed write into place (data is fully on disk;
        # DROP of an external table removes only the catalog entry)
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        self.spark.sql(f"DROP TABLE IF EXISTS {wtbl}")
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        self._create_external(tbl, schema, path, self.bucket_col,
                              self.n_buckets, self.sort)
        lineage = partition_lineage(path)
        self._staged[snapshot_id] = (lineage, time.monotonic() - t0)
        out = self.spark.table(tbl)
        out._nutch_lineage_rows = lineage_rows(lineage)
        return out

    def _create_external(self, tbl: str, schema: dict, path: str,
                         bucket_col: str, n_buckets: int,
                         sort: bool) -> None:
        """Catalog entry over the bucketed files at ``path``. The CREATE
        carries the bucket spec, so the table scans with the writing
        session's storage partitioning."""
        st = StructType.fromJson(schema)
        cols = ", ".join(f"{_quote(f.name)} {f.dataType.simpleString()}"
                         for f in st.fields)
        bc = _quote(bucket_col)
        sorted_by = f"SORTED BY ({bc}) " if sort else ""
        self.spark.sql(
            f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({bc}) {sorted_by}"
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'")

    def publish(self, df_schema_src: DataFrame, snapshot_id: int) -> None:
        """Commit: record the staged snapshot in the metadata (with
        per-partition lineage from the parquet footers — north rule:
        checkpoints carry per-partition lineage — the commit time and
        the wall seconds of its :meth:`stage` write, None when another
        process staged it) and swap the current pointer (atomic)."""
        path = os.path.join(self.dir, f"s{snapshot_id}")
        lineage, write_s = self._staged.pop(snapshot_id, None) \
            or (partition_lineage(path), None)
        meta = self._load_meta()
        meta["snapshots"][str(snapshot_id)] = {
            "table": self._table_name(snapshot_id),
            "path": path,
            "schema": json.loads(df_schema_src.schema.json()),
            "n_buckets": self.n_buckets,
            "bucket_col": self.bucket_col,
            "sort": self.sort,
            "rows": sum(p["rows"] or 0 for p in lineage),
            "partitions": lineage,
            "ts": time.time(),
            "write_s": write_s,
        }
        meta["current"] = snapshot_id
        self._save_meta(meta)

    def commit(self, df: DataFrame, snapshot_id: int) -> DataFrame:
        """stage + publish in one step."""
        out = self.stage(df, snapshot_id)
        self.publish(out, snapshot_id)
        return out

    # --- read path -----------------------------------------------------
    def _ensure_registered(self, snap: dict) -> None:
        """Re-create the catalog entry from persisted metadata when a
        fresh session resumes over existing snapshot data."""
        if not self.spark.catalog.tableExists(snap["table"]):
            self._create_external(snap["table"], snap["schema"],
                                  snap["path"], snap["bucket_col"],
                                  snap["n_buckets"], snap.get("sort", True))

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Current snapshot, or time-travel to ``snapshot_id``
        (Iceberg ``VERSION AS OF``), its footer row count attached as
        ``_nutch_lineage_rows``."""
        meta = self._load_meta()
        sid = meta["current"] if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"table {self.name} has no snapshots")
        try:
            snap = meta["snapshots"][str(sid)]
        except KeyError:
            raise ValueError(
                f"table {self.name}: snapshot {sid} not found "
                f"(retained: {self.snapshots()})") from None
        self._ensure_registered(snap)
        out = self.spark.table(snap["table"])
        out._nutch_lineage_rows = lineage_rows(snap.get("partitions"))
        return out

    # --- maintenance -----------------------------------------------------
    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots (the current
        one is always retained). Returns the expired ids."""
        meta = self._load_meta()
        ids = sorted(int(k) for k in meta["snapshots"])
        cur = meta["current"]
        keep = set(ids[-keep_last:]) | ({cur} if cur is not None else set())
        expired = [i for i in ids if i not in keep]
        for sid in expired:
            snap = meta["snapshots"].pop(str(sid))
            self.spark.sql(f"DROP TABLE IF EXISTS {snap['table']}")
            shutil.rmtree(snap["path"], ignore_errors=True)
        self._save_meta(meta)
        return expired


class RoundStore:
    """The crawl's per-round tables: ``<name>/round=N`` parquet dirs
    under ``base_dir``, each committed by a ``_snapshot.json`` record
    (rows, footer lineage, commit time, the write's wall seconds and
    the writer's extra fields). ``marker`` is the crawldb, whose
    current snapshot is the latest done round: a later round's tables,
    installed before a crash cut that round's crawldb commit, are not
    committed, and a resume overwrites them."""

    def __init__(self, spark: SparkSession, base_dir: str,
                 marker: SnapshotTable):
        self.spark = spark
        self.dir = base_dir
        self.marker = marker
        # writer schema and write seconds per staged ``.tmp`` dir,
        # consumed by install()
        self._staged: dict[str, tuple[StructType, float]] = {}

    def path(self, name: str, rnd: int) -> str:
        return os.path.join(self.dir, name, f"round={rnd}")

    def _read(self, path: str, schema: StructType | None,
              lineage: list[dict]) -> DataFrame:
        """``path`` with ``schema`` (or inferred) and its footer rows."""
        reader = self.spark.read
        out = (reader if schema is None else reader.schema(schema)) \
            .parquet(path)
        out._nutch_lineage_rows = lineage_rows(lineage)
        return out

    def stage(self, df: DataFrame, name: str, rnd: int) -> str:
        """Write ``df`` to the table's ``.tmp`` dir; returns that dir."""
        tmp = self.path(name, rnd) + ".tmp"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        t0 = time.monotonic()
        df.write.mode("overwrite").parquet(tmp)
        self._staged[tmp] = (df.schema, time.monotonic() - t0)
        return tmp

    def install(self, name: str, rnd: int, **record) -> DataFrame:
        """Commit what :meth:`stage` wrote, with no Spark job: stamp the
        record, then swap current -> ``.old``, ``.tmp`` -> current and
        drop ``.old`` (CrawlDb.install; dir renames are atomic on
        POSIX). Returns the table read with its writer's schema."""
        path = self.path(name, rnd)
        tmp, old = path + ".tmp", path + ".old"
        schema, write_s = self._staged.pop(tmp)
        lineage = partition_lineage(tmp)
        with open(os.path.join(tmp, "_snapshot.json"), "w") as f:
            json.dump({"name": name, "round": rnd, "ts": time.time(),
                       "write_s": write_s,
                       "rows": sum(p["rows"] or 0 for p in lineage),
                       "partitions": lineage, **record}, f)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        return self._read(path, schema, lineage)

    def write(self, df: DataFrame, name: str, rnd: int,
              **record) -> DataFrame:
        """:meth:`stage` + :meth:`install`. A crash at any point leaves
        the previous install or a ``.tmp`` dir, never a half-written
        table with a record."""
        self.stage(df, name, rnd)
        return self.install(name, rnd, **record)

    def record(self, name: str, rnd: int) -> dict | None:
        """Commit record of round ``rnd``'s ``name`` table, or None
        when that table is not committed."""
        cur = self.marker.current_id()
        if cur is None or rnd > cur:
            return None
        try:
            with open(os.path.join(self.path(name, rnd),
                                   "_snapshot.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def rounds(self, name: str) -> list[int]:
        """Rounds with a committed ``name`` table, ascending; ``.tmp``
        (staged) and ``.old`` (mid-install) dirs are not rounds."""
        base = os.path.join(self.dir, name)
        found = (re.fullmatch(r"round=(\d+)", d)
                 for d in (os.listdir(base) if os.path.isdir(base) else ()))
        return sorted(r for r in (int(m[1]) for m in found if m)
                      if self.record(name, r) is not None)

    def read(self, name: str, rnd: int | None = None,
             schema: StructType | None = None) -> DataFrame | None:
        """Committed round ``rnd`` (default: the latest) of ``name``,
        or None. Without ``schema`` the parquet reader infers it."""
        if rnd is None:
            rnd = max(self.rounds(name), default=-1)
        rec = self.record(name, rnd)
        return None if rec is None else \
            self._read(self.path(name, rnd), schema, rec["partitions"])
