"""Snapshot catalog semantics: atomic commits, time travel, copy-on-write
partition overwrite (the idempotent-resume primitive), crash orphans."""

from __future__ import annotations

import os

import pytest

from fastcdc_rs_spark.sources.table import ParquetSnapshotCatalog


def _rows(df):
    return sorted((r[0], r[1]) for r in df.select("p", "v").collect())


def test_overwrite_partitions_copy_on_write(spark, tmp_path):
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame(
        [(p, f"v{p}") for p in range(4)], "p int, v string"
    )
    cat.write(base, "docs", partition_by="p")
    assert _rows(cat.read("docs")) == [(p, f"v{p}") for p in range(4)]

    # replace exactly partition 2 (a re-run of one partition's work)
    patch = spark.createDataFrame([(2, "NEW")], "p int, v string")
    entry = cat.overwrite_partitions(patch, "docs", "p")
    assert entry["replaced"] == ["p=2"]
    got = _rows(cat.read("docs"))
    assert got == [(0, "v0"), (1, "v1"), (2, "NEW"), (3, "v3")]

    # untouched partitions were carried by reference, not rewritten
    paths = cat.snapshots("docs")[-1]["paths"]
    snap1_paths = cat.snapshots("docs")[0]["paths"]
    assert paths["p=0"] == snap1_paths["p=0"]
    assert paths["p=2"] != snap1_paths["p=2"]

    # time travel: snapshot 1 still shows the original partition 2
    old = _rows(cat.read("docs", snapshot_id=1))
    assert old == [(p, f"v{p}") for p in range(4)]

    # idempotent re-run: same patch again -> same current view
    cat.overwrite_partitions(patch, "docs", "p")
    assert _rows(cat.read("docs")) == got
    assert len(cat.snapshots("docs")) == 3


def test_uncommitted_data_invisible(spark, tmp_path):
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    df = spark.createDataFrame([(1, "a")], "p int, v string")
    cat.write(df, "t", partition_by="p")
    # simulate a crash: data directory written, commit log never appended
    orphan = cat.root / "t" / "snap-deadbeef" / "data"
    orphan.mkdir(parents=True)
    spark.createDataFrame([(9, "GHOST")], "p int, v string").write.parquet(
        str(orphan / "p=9"), mode="overwrite"
    )
    assert _rows(cat.read("t")) == [(1, "a")]  # ghost never visible


def test_unpartitioned_guard_and_missing_table(spark, tmp_path):
    cat = ParquetSnapshotCatalog(spark, str(tmp_path / "lake"))
    with pytest.raises(FileNotFoundError):
        cat.read("nope")
    df = spark.createDataFrame([(1, "a")], "p int, v string")
    cat.write(df, "flat")  # unpartitioned
    with pytest.raises(ValueError, match="unpartitioned"):
        cat.overwrite_partitions(df, "flat", "p")
    assert _rows(cat.read("flat")) == [(1, "a")]


def test_partition_values_with_special_chars_roundtrip(spark, tmp_path):
    # Spark URL-encodes partition values in dir names (a/b -> a%2Fb);
    # the catalog must key commits by the encoded dir and decode on read.
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    vals = ["en US", "a/b", "x=y", "plain"]
    df = spark.createDataFrame([(v, 1) for v in vals], "p string, v int")
    cat.write(df, "t", partition_by="p")
    assert sorted(r[0] for r in cat.read("t").select("p").collect()) == sorted(vals)

    patch = spark.createDataFrame([("a/b", 99)], "p string, v int")
    entry = cat.overwrite_partitions(patch, "t", "p")
    assert entry["replaced"] == ["p=a%2Fb"]
    got = sorted((r[0], r[1]) for r in cat.read("t").select("p", "v").collect())
    assert got == [("a/b", 99), ("en US", 1), ("plain", 1), ("x=y", 1)]


def test_read_changes_incremental_scan(spark, tmp_path):
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame(
        [(p, f"v{p}") for p in range(4)], "p int, v string"
    )
    cat.write(base, "docs", partition_by="p")
    patch = spark.createDataFrame([(2, "NEW"), (9, "ADDED")], "p int, v string")
    cat.overwrite_partitions(patch, "docs", "p")

    # changes since snapshot 1 = exactly the rewritten/new partitions
    changed = _rows(cat.read_changes("docs", from_snapshot_id=1))
    assert changed == [(2, "NEW"), (9, "ADDED")]
    # no-op range -> empty frame with the right schema
    empty = cat.read_changes("docs", from_snapshot_id=2)
    assert empty.count() == 0 and set(empty.columns) == {"p", "v"}


def test_expire_snapshots_retention(spark, tmp_path):
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame(
        [(p, f"v{p}") for p in range(3)], "p int, v string"
    )
    cat.write(base, "t", partition_by="p")
    cat.overwrite_partitions(
        spark.createDataFrame([(1, "B")], "p int, v string"), "t", "p"
    )
    cat.overwrite_partitions(
        spark.createDataFrame([(2, "C")], "p int, v string"), "t", "p"
    )
    assert cat.expire_snapshots("t", keep_last=1) == [1, 2]
    # current view unchanged; expired ids now unreadable; carried-forward
    # dirs referenced by the survivor still exist
    assert _rows(cat.read("t")) == [(0, "v0"), (1, "B"), (2, "C")]
    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read("t", snapshot_id=1)
    # ids keep increasing after expiry (no reuse)
    cat.overwrite_partitions(
        spark.createDataFrame([(0, "D")], "p int, v string"), "t", "p"
    )
    assert cat.snapshots("t")[-1]["snapshot_id"] == 4
    assert _rows(cat.read("t")) == [(0, "D"), (1, "B"), (2, "C")]


def test_null_partition_value_roundtrips(spark, tmp_path):
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    df = spark.createDataFrame(
        [("en", 1), (None, 2), ("fr", 3)], "p string, v int"
    )
    cat.write(df, "t", partition_by="p")
    rows = sorted(
        ((r.p, r.v) for r in cat.read("t").collect()), key=lambda t: t[1]
    )
    assert rows == [("en", 1), (None, 2), ("fr", 3)]


def test_crash_between_data_write_and_log_append(spark, tmp_path, monkeypatch):
    # The real failure Iceberg defends: the writer dies AFTER its data
    # files land but BEFORE the metadata swap. Simulated by failing
    # _append_commit inside the actual write path (not by hand-placing an
    # orphan dir): the half-written snapshot must stay invisible to every
    # read surface, and the next successful commit must be unaffected.
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "p int, v string")
    cat.write(base, "t", partition_by="p")

    def killed(table, entry):
        raise RuntimeError("writer killed before log append")

    monkeypatch.setattr(cat, "_append_commit", killed)
    patch = spark.createDataFrame([(2, "NEW")], "p int, v string")
    with pytest.raises(RuntimeError, match="killed"):
        cat.overwrite_partitions(patch, "t", "p")
    monkeypatch.undo()

    # orphan data dir exists on disk but no read surface resolves it
    snap_dirs = [d for d in os.listdir(cat.root / "t") if d.startswith("snap-")]
    assert len(snap_dirs) == 2  # committed + orphan
    assert _rows(cat.read("t")) == [(1, "a"), (2, "b")]
    assert len(cat.snapshots("t")) == 1

    # recovery: the retried commit succeeds and incremental scan sees
    # exactly the retried rows, never the orphan's
    cat.overwrite_partitions(patch, "t", "p")
    assert _rows(cat.read("t")) == [(1, "a"), (2, "NEW")]
    assert _rows(cat.read_changes("t", from_snapshot_id=1)) == [(2, "NEW")]


def test_expiry_racing_time_travel_readers(spark, tmp_path):
    # Readers that resolved a SURVIVING snapshot before expiry must stay
    # fully readable afterwards (shared carried-forward dirs are kept);
    # a reader that pre-resolved an EXPIRED snapshot fails loudly at
    # collect (its unshared files are gone), and re-resolving the expired
    # id fails cleanly at metadata — never a silent partial read. (Iceberg
    # closes the remaining window with retention horizons; same contract.)
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame(
        [(p, f"v{p}") for p in range(3)], "p int, v string"
    )
    cat.write(base, "t", partition_by="p")  # snap 1
    cat.overwrite_partitions(
        spark.createDataFrame([(1, "B")], "p int, v string"), "t", "p"
    )  # snap 2
    cat.overwrite_partitions(
        spark.createDataFrame([(2, "C")], "p int, v string"), "t", "p"
    )  # snap 3

    survivor_df = cat.read("t")                     # resolved pre-expiry
    expired_df = cat.read("t", snapshot_id=1)       # resolved pre-expiry
    assert cat.expire_snapshots("t", keep_last=1) == [1, 2]

    # survivor reader: every partition (incl. dirs carried forward from
    # expired snapshots) still present
    assert _rows(survivor_df) == [(0, "v0"), (1, "B"), (2, "C")]
    # expired reader: loud failure, not silent partial data
    with pytest.raises(Exception):
        expired_df.collect()
    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read("t", snapshot_id=1)


def test_concurrent_writers_racing_commit(spark, tmp_path):
    # two committers racing the log read-modify-replace must BOTH land
    # (unique, gapless snapshot ids) — the lock-file serialization that
    # stands in for Iceberg's optimistic commit retry. Threads hammer
    # _append_commit directly so the race window is the log swap itself,
    # not Spark job scheduling.
    import threading

    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame([(0, "v0")], "p int, v string")
    cat.write(base, "docs", partition_by="p")

    n_threads, per_thread = 8, 5
    errs = []

    def committer(tid):
        try:
            for k in range(per_thread):
                cat._append_commit(
                    "docs",
                    {"op": "overwrite_table", "partition_by": "p",
                     "partition_type": "int",
                     "paths": {f"p={tid}": f"/fake/{tid}/{k}"}},
                )
        except Exception as e:  # surfaced below — asserts in threads vanish
            errs.append(e)

    threads = [threading.Thread(target=committer, args=(t,))
               for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    log = cat.snapshots("docs")
    ids = [e["snapshot_id"] for e in log]
    assert len(log) == 1 + n_threads * per_thread   # no lost update
    assert ids == list(range(1, len(log) + 1))      # unique + gapless


def test_read_changes_spanning_expired_boundary(spark, tmp_path):
    # an incremental scan whose from-snapshot has been expired must fail
    # loudly (the consumer's bookmark is no longer resolvable — exactly
    # Iceberg's behavior), while a scan from a surviving snapshot still
    # returns only the rows added after it.
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    for i in range(3):
        df = spark.createDataFrame(
            [(p, f"s{i}") for p in range(i + 1)], "p int, v string"
        )
        cat.overwrite_partitions(df, "docs", "p") if i else cat.write(
            df, "docs", partition_by="p"
        )
    expired = cat.expire_snapshots("docs", keep_last=2)
    assert expired == [1]

    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read_changes("docs", from_snapshot_id=1)

    # surviving bookmark still works: snapshot 3 replaced p=0..2, and vs
    # snapshot 2 the added files are exactly snapshot 3's replacements
    got = sorted(
        (r.p, r.v) for r in cat.read_changes("docs", 2).collect()
    )
    assert got == [(0, "s2"), (1, "s2"), (2, "s2")]


def test_stale_lock_from_dead_holder_is_reclaimed(spark, tmp_path):
    # Round-5 ADVICE: a holder that crashes between os.open and the
    # finally used to wedge every later commit into a 30 s spin +
    # TimeoutError. A lock whose recorded PID is dead is reclaimed
    # automatically and the commit proceeds.
    import subprocess

    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame([(0, "v0")], "p int, v string")
    cat.write(base, "t", partition_by="p")

    p = subprocess.Popen(["true"])
    p.wait()
    lock = cat._log_path("t").with_suffix(".json.lock")
    lock.write_text(f"{p.pid} 0.0")
    cat._lock_timeout = 2.0  # the reclaim must beat this, not ride it

    cat.write(spark.createDataFrame([(1, "v1")], "p int, v string"),
              "t", partition_by="p")
    assert not lock.exists()
    assert [e["snapshot_id"] for e in cat.snapshots("t")] == [1, 2]


def test_legacy_empty_lock_reclaimed_by_age_only(spark, tmp_path):
    # A lock with no recorded PID (holder between open and write, or a
    # pre-upgrade empty file) is reclaimed only past the staleness age —
    # a FRESH empty lock is honored (the real holder may be mid-write).
    import time as _time

    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame([(0, "v0")], "p int, v string")
    cat.write(base, "t", partition_by="p")
    lock = cat._log_path("t").with_suffix(".json.lock")

    # fresh empty lock + tiny timeout: still the loud failure
    lock.write_text("")
    cat._lock_timeout = 0.3
    cat._lock_stale_after = 60.0
    with pytest.raises(TimeoutError, match="live holder"):
        cat._append_commit("t", {"op": "x", "paths": {}})
    # age it past the staleness bound: reclaimed, commit lands
    old = _time.time() - 120
    os.utime(lock, (old, old))
    cat._append_commit(
        "t", {"op": "overwrite_table", "partition_by": "p",
              "partition_type": "int", "paths": {"p=0": "/fake"}})
    assert not lock.exists()


def test_live_holder_contention_still_fails_loudly(spark, tmp_path):
    # A lock held by a LIVE process (this one) is never reclaimed — the
    # bounded wait ends in TimeoutError, exactly as before.
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame([(0, "v0")], "p int, v string")
    cat.write(base, "t", partition_by="p")
    lock = cat._log_path("t").with_suffix(".json.lock")
    lock.write_text(f"{os.getpid()} 0.0")
    cat._lock_timeout = 0.3
    with pytest.raises(TimeoutError, match="live holder"):
        cat._append_commit("t", {"op": "x", "paths": {}})
    lock.unlink()


def test_overwrite_partitions_racing_expire_snapshots(spark, tmp_path):
    # Round-4 verdict follow-up: copy-on-write partition overwrites
    # racing retention maintenance. Both take the commit lock, so every
    # overwrite lands (monotone ids, no lost update), no expired
    # snapshot resurfaces, and the final table state is the last
    # overwrite of each partition with carried-forward survivors intact.
    import threading

    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame(
        [(p, "base") for p in range(3)], "p int, v string"
    )
    cat.write(base, "t", partition_by="p")

    errs: list[Exception] = []
    done = threading.Event()

    def writer():
        try:
            for k in range(4):
                patch = spark.createDataFrame(
                    [(k % 3, f"w{k}")], "p int, v string"
                )
                cat.overwrite_partitions(patch, "t", "p")
        except Exception as e:
            errs.append(e)
        finally:
            done.set()

    def expirer():
        try:
            while not done.is_set():
                cat.expire_snapshots("t", keep_last=1)
        except Exception as e:
            errs.append(e)

    tw, te = threading.Thread(target=writer), threading.Thread(target=expirer)
    tw.start(); te.start()
    tw.join(); te.join()
    assert not errs, errs
    cat.expire_snapshots("t", keep_last=1)

    log = cat.snapshots("t")
    assert len(log) == 1 and log[-1]["snapshot_id"] == 5  # 1 base + 4
    got = dict(_rows(cat.read("t")))
    # last writes win: p0 <- w3, p1 <- w1, p2 <- w2; carried dirs intact
    assert got == {0: "w3", 1: "w1", 2: "w2"}


def test_reader_pinned_to_snapshot_survives_compaction(spark, tmp_path):
    # A reader pinned to a snapshot while a writer compacts (rewrites
    # the same rows into a new snapshot) must keep seeing its snapshot's
    # files byte-for-byte — data files are immutable and expiry is the
    # ONLY thing that can invalidate a pinned reader.
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    base = spark.createDataFrame(
        [(p, f"v{p}") for p in range(3)], "p int, v string"
    )
    cat.write(base, "t", partition_by="p")
    pinned = cat.read("t", snapshot_id=1)

    # "compaction": rewrite the live rows (possibly re-bucketed) as a
    # fresh snapshot, twice, plus one real data change on top
    cat.write(cat.read("t").repartition(1), "t", partition_by="p")
    cat.write(cat.read("t").repartition(2), "t", partition_by="p")
    cat.overwrite_partitions(
        spark.createDataFrame([(1, "NEW")], "p int, v string"), "t", "p"
    )

    # the pinned plan still reads the original files
    assert _rows(pinned) == [(0, "v0"), (1, "v1"), (2, "v2")]
    assert _rows(cat.read("t", snapshot_id=1)) == _rows(pinned)
    assert dict(_rows(cat.read("t")))[1] == "NEW"

    # compaction + expiry of the pinned snapshot is what breaks it
    cat.expire_snapshots("t", keep_last=1)
    with pytest.raises(Exception):
        pinned.collect()
