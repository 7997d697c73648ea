"""Concurrent-writer safety of the lineage snapshot store.

Before the staged atomic-rename publish (_publish_snapshot), two
writers racing on a fresh stage could both allocate v00001 and write
mode("overwrite") into the SAME data directory — one deleting the
other's parquet files mid-read (observed as FileNotFoundException in
a doubled oracle sweep).  These tests pin the fixed protocol: every
writer assembles in a private _staging dir, the version-slot rename
gives each number exactly one owner, and the pointer swap is
last-writer-wins between two COMPLETE snapshots.
"""

import json
import os
import tempfile
import threading
import time

from pyspark.sql import functions as F

from geographiclib_go_spark.plans import lineage


def _mk_build(spark, n, tag):
    def build():
        return (spark.range(n)
                .select(F.col("id"),
                        F.lit(tag).alias("tag"),
                        (F.col("id") * 3 + 1).alias("val")))
    return build


def test_concurrent_writers_same_stage(spark):
    """Two threads race run_stage on the same fresh stage with the
    same fingerprint: both must return fully-readable data, every
    published snapshot must be complete (commit.json + readable
    parquet + committed lineage), and the stage must resume as a no-op
    afterwards."""
    with tempfile.TemporaryDirectory() as root:
        barrier = threading.Barrier(2)
        results, errors = {}, {}

        def writer(tag):
            try:
                barrier.wait(timeout=60)
                df = lineage.run_stage(
                    spark, root, "race", _mk_build(spark, 500, tag),
                    input_fingerprint="fp-race")
                # force a full read of whatever snapshot this writer
                # ended up bound to — the pre-fix failure mode was
                # exactly this read hitting deleted files
                results[tag] = df.count()
            except Exception as e:  # pragma: no cover - failure path
                errors[tag] = e

        ts = [threading.Thread(target=writer, args=(t,))
              for t in ("a", "b")]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=300)
        assert not errors, f"writer(s) failed: {errors}"
        assert results == {"a": 500, "b": 500}

        # every snapshot directory is complete: commit.json present,
        # data readable, committed lineage consistent
        snaps = os.path.join(root, "race", "snapshots")
        names = sorted(os.listdir(snaps))
        assert len(names) >= 1
        for name in names:
            meta_path = os.path.join(snaps, name, "commit.json")
            with open(meta_path) as fh:
                meta = json.load(fh)
            assert meta["rows"] == 500
            v = int(name[1:])
            assert meta["version"] == v
            data = lineage.read_stage(spark, root, "race", version=v)
            assert data.count() == 500
            lin = lineage.read_lineage(spark, root, "race", version=v)
            got = lin.agg(F.sum("rows")).collect()[0][0]
            assert got == 500

        # the pointer names one of the published versions and the
        # stage now resumes as a metadata no-op (no new snapshot)
        cur = lineage.current_snapshot(root, "race")
        assert f"v{cur['version']:05d}" in names
        assert lineage.stage_is_complete(root, "race", "fp-race")
        before = len(os.listdir(snaps))
        again = lineage.run_stage(
            spark, root, "race", _mk_build(spark, 500, "c"),
            input_fingerprint="fp-race")
        assert again.count() == 500
        assert len(os.listdir(snaps)) == before

        # no staging scratch left behind by successful publishes
        staging = os.path.join(root, "race", "_staging")
        assert not os.path.isdir(staging) or os.listdir(staging) == []


def test_expire_sweeps_dead_staging_but_not_live(spark):
    """A crashed writer's staging leftovers are swept once they age
    past the TTL; a fresh (possibly live) writer's staging dir is
    left alone."""
    with tempfile.TemporaryDirectory() as root:
        lineage.run_stage(spark, root, "s", _mk_build(spark, 10, "x"),
                          input_fingerprint="fp1")
        dead = os.path.join(root, "s", "_staging", "123-deadbeef")
        os.makedirs(dead)
        with open(os.path.join(dead, "partial.bin"), "w") as fh:
            fh.write("half-written")
        # fresh dir + generous TTL: kept
        lineage.expire_snapshots(root, "s", keep=2,
                                 staging_ttl_s=3600)
        assert os.path.isdir(dead)
        # TTL 0: everything in staging is past its lifetime
        lineage.expire_snapshots(root, "s", keep=2, staging_ttl_s=0)
        assert not os.path.isdir(dead)
        # the committed snapshot is untouched
        assert lineage.read_stage(spark, root, "s").count() == 10


def test_expire_keeps_staging_with_fresh_data(spark):
    """A live writer's staging dir whose top-level mtime is old (a
    long parquet write under data/ never refreshes it) is kept while
    any file in its tree is fresh, and swept once the whole tree has
    aged past the TTL."""
    with tempfile.TemporaryDirectory() as root:
        lineage.run_stage(spark, root, "s", _mk_build(spark, 10, "x"),
                          input_fingerprint="fp1")
        live = os.path.join(root, "s", "_staging", "456-cafef00d")
        data = os.path.join(live, "data")
        os.makedirs(data)
        part = os.path.join(data, "part-00000.parquet")
        with open(part, "w") as fh:
            fh.write("still being written")
        old = time.time() - 7200
        os.utime(data, (old, old))
        os.utime(live, (old, old))
        lineage.expire_snapshots(root, "s", keep=2, staging_ttl_s=3600)
        assert os.path.isfile(part)
        os.utime(part, (old, old))
        lineage.expire_snapshots(root, "s", keep=2, staging_ttl_s=3600)
        assert not os.path.isdir(live)
        assert lineage.read_stage(spark, root, "s").count() == 10


def test_version_slot_collision_retries(spark, monkeypatch):
    """If the version slot a writer computed gets taken between its
    allocation scan and the publish rename (simulated by forcing the
    first allocation onto an occupied slot), the publish retries with
    the next number instead of corrupting the occupant."""
    with tempfile.TemporaryDirectory() as root:
        lineage.run_stage(spark, root, "s", _mk_build(spark, 10, "x"),
                          input_fingerprint="fp1")
        # squat on v00002 — non-empty, so rename must fail ENOTEMPTY
        squat = os.path.join(root, "s", "snapshots", "v00002")
        os.makedirs(squat)
        with open(os.path.join(squat, "occupied"), "w") as fh:
            fh.write("someone else's snapshot")
        # force the writer to ALLOCATE the occupied slot first, as if
        # the squatter appeared after the allocation scan
        real_next = lineage._next_version
        calls = {"n": 0}

        def stale_then_real(root_, stage_):
            calls["n"] += 1
            return 2 if calls["n"] == 1 else real_next(root_, stage_)

        monkeypatch.setattr(lineage, "_next_version", stale_then_real)
        lineage.run_stage(spark, root, "s", _mk_build(spark, 20, "y"),
                          input_fingerprint="fp2")
        assert calls["n"] >= 2  # the retry loop actually re-allocated
        # the squatter is untouched; the new snapshot took v00003
        assert os.path.exists(os.path.join(squat, "occupied"))
        cur = lineage.current_snapshot(root, "s")
        assert cur["version"] == 3 and cur["rows"] == 20
        assert lineage.read_stage(spark, root, "s").count() == 20


def test_concurrent_writers_in_one_group_count_own_jobs(spark):
    """Two threads in one job group write two stages at once.  Each
    commit's ``jobs`` counts its own writer's jobs alone: writer "a"
    runs one extra job in build() (2 in all), "b" none (1), and both
    builds start only after both writers are inside run_stage."""
    sc = spark.sparkContext
    with tempfile.TemporaryDirectory() as root:
        barrier = threading.Barrier(2)
        errors = {}

        def writer(stage):
            def build():
                barrier.wait(timeout=60)
                if stage == "a":
                    spark.range(10).collect()
                return _mk_build(spark, 100, stage)()

            sc.setJobGroup("shared-writers", "two concurrent writers")
            try:
                lineage.run_stage(spark, root, stage, build,
                                  input_fingerprint="fp")
            except Exception as e:  # pragma: no cover - failure path
                errors[stage] = e
            finally:
                sc.setJobGroup(None, None)

        ts = [threading.Thread(target=writer, args=(s,))
              for s in ("a", "b")]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in ts)
        assert not errors, f"writer(s) failed: {errors}"
        # run_stage's bounded bus drain may leave a count short, never
        # long: neither writer counts the other's jobs
        jobs = {s: lineage.current_snapshot(root, s)["jobs"]
                for s in ("a", "b")}
        assert jobs["a"] <= 2 and jobs["b"] <= 1, jobs
        # ... though the group holds all three
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)  # raises on timeout
        in_group = sc.statusTracker().getJobIdsForGroup("shared-writers")
        assert len(in_group) == 3, list(in_group)
