"""Snapshot table catalog — the Iceberg-shaped source/sink (B1/B13).

At CC scale the ingestion story is an Iceberg table of web pages and the
pipeline writes stage outputs back as table snapshots: atomic commits,
snapshot isolation, time travel, and copy-on-write partition overwrites
(idempotent resume = re-running a partition replaces exactly that
partition). ``ParquetSnapshotCatalog`` implements those semantics on bare
parquet + a JSON commit log.

Layout per table (all data files immutable once committed):

    <root>/<table>/
        snap-<uuid>/<partition dirs or plain parquet>   # one dir per commit
        _log.json                                       # ordered commits

A commit appends to ``_log.json`` via write-temp + ``os.replace`` — the
atomic pointer flip that stands in for an Iceberg metadata swap. Readers
resolve the latest committed snapshot; a crash after data write but
before log append leaves an orphan directory that readers never see
(same as Iceberg's uncommitted data files). Concurrent committers
serialize on an O_EXCL lock file around the log read-modify-replace
(the sandbox analog of Iceberg's optimistic commit protocol), so racing
commits both land with unique snapshot ids instead of one silently
losing its update.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = ["ParquetSnapshotCatalog"]


class ParquetSnapshotCatalog:
    """Snapshot semantics over parquet directories + a JSON commit log."""

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)

    # -- commit log -------------------------------------------------------
    def _log_path(self, table: str) -> Path:
        return self.root / table / "_log.json"

    def _read_log(self, table: str) -> list[dict]:
        p = self._log_path(table)
        if not p.exists():
            return []
        return json.loads(p.read_text())

    # lock-protocol knobs (class attrs so tests can shrink them):
    # max wait for a LIVE holder / age past which a lock with no live
    # holder evidence is considered abandoned
    _lock_timeout = 30.0
    _lock_stale_after = 30.0

    def _reclaim_stale_lock(self, lock: Path) -> bool:
        """Reclaim a lock whose holder crashed: recorded PID is dead, or
        (for a lock with no readable PID) mtime exceeds the staleness
        bound. Returns True if the lock was (or already is) gone so the
        caller retries the O_EXCL create immediately. The inode re-check
        before unlink keeps one waiter from deleting a DIFFERENT
        holder's fresh lock created after this waiter's stat (the
        residual stat->unlink window is microseconds and only reachable
        through a second simultaneous reclaim of the same dead lock —
        acceptable for the sandbox analog; real Iceberg's optimistic
        commit has no lock file to leak at all)."""
        try:
            st = os.stat(lock)
        except FileNotFoundError:
            return True
        try:
            raw = lock.read_text().split()
            pid = int(raw[0]) if raw else -1
        except (FileNotFoundError, ValueError, OSError):
            pid = -1
        if pid > 0:
            try:
                os.kill(pid, 0)
                stale = False  # genuinely live holder: loud failure only
            except ProcessLookupError:
                stale = True  # holder is dead — reclaim now
            except PermissionError:
                stale = False  # alive, different user
        else:
            # no PID recorded (holder between open and write, or a
            # pre-upgrade empty lock): age alone decides
            stale = time.time() - st.st_mtime > self._lock_stale_after
        if not stale:
            return False
        try:
            if os.stat(lock).st_ino != st.st_ino:
                return False  # a new holder replaced it since we looked
            os.unlink(lock)
        except FileNotFoundError:
            pass
        return True

    @contextmanager
    def _commit_lock(self, table: str):
        """Serialize log read-modify-replace across committers with an
        O_EXCL lock file — the sandbox analog of Iceberg's optimistic
        commit protocol: without it two writers that both read the log
        before either replaces it would silently drop one commit (lost
        update). The holder records its PID; a lock whose holder died is
        reclaimed automatically (round-5 ADVICE: a crash between os.open
        and the finally used to wedge every later commit into a 30 s
        spin + TimeoutError needing manual deletion). Live contention
        still fails loudly after the bounded wait."""
        lock = self._log_path(table).with_suffix(".json.lock")
        deadline = time.monotonic() + self._lock_timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{os.getpid()} {time.time():.3f}".encode())
                break
            except FileExistsError:
                if self._reclaim_stale_lock(lock):
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"commit lock for table {table!r} held too long "
                        f"({lock}) by a live holder"
                    ) from None
                time.sleep(0.005)
        try:
            yield
        finally:
            os.close(fd)
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass  # a (misjudged) reclaim won the race; commit is done

    def _append_commit(self, table: str, entry: dict) -> None:
        with self._commit_lock(table):
            log = self._read_log(table)
            # max+1, not len+1: expire_snapshots may truncate the log head
            # and ids must never be reused
            entry["snapshot_id"] = (
                max(e["snapshot_id"] for e in log) + 1 if log else 1
            )
            entry["committed_at"] = time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            )
            log.append(entry)
            tmp = self._log_path(table).with_suffix(".json.tmp")
            tmp.write_text(json.dumps(log, indent=2))
            os.replace(tmp, self._log_path(table))  # atomic pointer flip

    def snapshots(self, table: str) -> list[dict]:
        return self._read_log(table)

    # -- write paths ------------------------------------------------------
    def _new_snap_dir(self, table: str) -> Path:
        d = self.root / table / f"snap-{uuid.uuid4().hex[:12]}"
        d.mkdir(parents=True, exist_ok=False)
        return d

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: str | None = None,
    ) -> dict:
        """Full-table overwrite as a new snapshot (previous snapshots stay
        readable via time travel)."""
        snap = self._new_snap_dir(table)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(str(snap / "data"))
        if partition_by:
            # per-partition path keys, so a later overwrite_partitions can
            # carry untouched partitions forward by reference
            parts = {
                d: str(snap / "data" / d)
                for d in os.listdir(snap / "data")
                if d.startswith(f"{partition_by}=")
            }
            ptype = dict(df.dtypes).get(partition_by)
        else:
            parts = {"data": str(snap / "data")}
            ptype = None
        entry = {
            "op": "overwrite_table",
            "partition_by": partition_by,
            "partition_type": ptype,
            "paths": parts,
        }
        self._append_commit(table, entry)
        return entry

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_col: str
    ) -> dict:
        """Copy-on-write partition overwrite (Iceberg
        ``overwritePartitions``): partitions present in ``df`` are
        replaced; every other partition of the current snapshot is
        carried forward BY REFERENCE (its immutable files are re-listed,
        not rewritten) — this is what makes per-partition re-runs
        idempotent and cheap."""
        snap = self._new_snap_dir(table)
        df.write.mode("overwrite").partitionBy(partition_col).parquet(
            str(snap / "data")
        )
        # keys from the dirs Spark actually wrote (partition values are
        # URL-encoded in dir names — raw values would mismatch)
        new_paths = {
            d: str(snap / "data" / d)
            for d in os.listdir(snap / "data")
            if d.startswith(f"{partition_col}=")
        }
        carried = {}
        log = self._read_log(table)
        if log:
            prev = log[-1]["paths"]
            if "data" in prev:
                raise ValueError(
                    f"table {table!r} is unpartitioned; write it with "
                    "partition_by before overwrite_partitions"
                )
            for key, path in prev.items():
                if key not in new_paths:
                    carried[key] = path
        entry = {
            "op": "overwrite_partitions",
            "partition_by": partition_col,
            "partition_type": dict(df.dtypes).get(partition_col),
            "replaced": sorted(new_paths),
            "paths": {**carried, **new_paths},
        }
        self._append_commit(table, entry)
        return entry

    # -- read paths -------------------------------------------------------
    def _entry(self, table: str, snapshot_id: int | None = None) -> dict:
        log = self._read_log(table)
        if not log:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        if snapshot_id is None:
            return log[-1]
        # look up by recorded id, not list position — expire_snapshots may
        # have truncated the head of the log
        for e in log:
            if e["snapshot_id"] == snapshot_id:
                return e
        raise FileNotFoundError(
            f"table {table!r} has no snapshot {snapshot_id} (expired?)"
        )

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Read the latest (or a time-travel) snapshot."""
        entry = self._entry(table, snapshot_id)
        paths = entry["paths"]
        if "data" in paths and len(paths) == 1:
            return self.spark.read.parquet(paths["data"])
        return self._read_partition_paths(paths, entry.get("partition_type"))

    def _read_partition_paths(
        self, paths: dict[str, str], ptype: str | None
    ) -> DataFrame:
        # partitioned: reconstruct the partition column from the dir key
        # with its recorded type (basePath tricks don't apply across
        # snapshots — dirs live in different snap roots, exactly like
        # Iceberg data files)
        from urllib.parse import unquote

        ptype = ptype or "string"
        frames = []
        for key, path in sorted(paths.items()):
            col, _, raw = key.partition("=")
            # Spark's Hive-style null sentinel must round-trip back to NULL
            value = (
                F.lit(None)
                if raw == "__HIVE_DEFAULT_PARTITION__"
                else F.lit(unquote(raw))
            )
            frames.append(
                self.spark.read.parquet(path).withColumn(
                    col, value.cast(ptype)
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def read_changes(
        self, table: str, from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental scan (Iceberg incremental-read analog): rows of
        data files ADDED strictly after ``from_snapshot_id``, up to
        ``to_snapshot_id`` (default: current). Under copy-on-write
        overwrites a changed partition appears with its full new
        contents; carried-forward (unchanged) partitions are skipped —
        exactly the input an incremental consumer (e.g.
        jobs/incremental_dedup_job.py) wants to process per tick.
        """
        base = self._entry(table, from_snapshot_id)
        cur = self._entry(table, to_snapshot_id)
        old = set(base["paths"].values())
        added = {k: p for k, p in cur["paths"].items() if p not in old}
        if not added:
            return self.read(table, to_snapshot_id).limit(0)
        if "data" in added:
            return self.spark.read.parquet(added["data"])
        return self._read_partition_paths(added, cur.get("partition_type"))

    def expire_snapshots(self, table: str, keep_last: int = 1) -> list[int]:
        """Retention maintenance (Iceberg ``expireSnapshots`` analog):
        drop all but the last ``keep_last`` commits from the log and
        delete data directories referenced ONLY by expired snapshots
        (carried-forward dirs shared with survivors are kept). Returns
        the expired snapshot ids."""
        import shutil

        # the log swap takes the same commit lock as writers: an expiry
        # racing a concurrent commit must neither drop that commit nor
        # resurrect expired entries
        with self._commit_lock(table):
            log = self._read_log(table)
            if len(log) <= keep_last:
                return []
            expired, kept = log[:-keep_last], log[-keep_last:]
            live = {p for e in kept for p in e["paths"].values()}
            # metadata first, data second (the Iceberg ordering): once the
            # log swap commits, readers can no longer resolve the expired
            # ids, so a crash mid-deletion leaves only unreachable orphan
            # dirs — never a committed snapshot whose files are gone
            tmp = self._log_path(table).with_suffix(".json.tmp")
            tmp.write_text(json.dumps(kept, indent=2))
            os.replace(tmp, self._log_path(table))
        removed_ids = []
        for e in expired:
            removed_ids.append(e["snapshot_id"])
            for p in e["paths"].values():
                if p not in live and os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                    # drop now-empty data/ and snap-*/ parents
                    for parent in (Path(p).parent, Path(p).parent.parent):
                        if parent.is_dir() and not any(parent.iterdir()):
                            parent.rmdir()
        return removed_ids

