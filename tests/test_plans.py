"""Physical-plan quality gates: filters push to the parquet scan,
small sides broadcast, bytes columns are pruned, and the lineage
store resumes idempotently."""

import json
import os
import shutil
import tempfile
import threading
import time
import warnings

import pytest

from pyspark.sql import functions as F

from geographiclib_go_spark.plans import lineage
from geographiclib_go_spark.operators import spatial_join as sj


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = (li.filter(F.col("l_shipdate") <= "1996-01-01")
         .select("l_orderkey", "l_quantity"))
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    # column pruning reached the scan: only the 3 needed columns
    assert "ReadSchema" in plan
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in rs, rs


def test_bytes_pruned_from_feature_scan(spark):
    """The multimodal feature plan must not carry caption/lat/lon."""
    from geographiclib_go_spark.sources import images as im
    from geographiclib_go_spark.operators import multimodal as mm
    with tempfile.TemporaryDirectory() as d:
        im.generate_images(spark, 50, skew_pct=0).write.parquet(
            d + "/img")
        imgs = spark.read.parquet(d + "/img")
        feats = mm.extract_features(imgs)
        plan = _plan(feats)
        rs = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "caption" not in rs and "phash" not in rs, rs
        assert "bytes" in rs


def test_distance_join_broadcasts_small_queries(spark, sf_dir):
    pts = (spark.read.parquet(f"{sf_dir}/customer.parquet")
           .select("c_custkey",
                   ((F.col("c_custkey") * 9973) % 17000 / 100.0 - 85.0)
                   .alias("lat"),
                   ((F.col("c_custkey") * 7919) % 36000 / 100.0 - 180.0)
                   .alias("lon")))
    q = spark.createDataFrame([(0, 40.0, -74.0), (1, 51.5, -0.1)],
                              "qid long, lat double, lon double")
    j = sj.distance_join(pts, q, radius_m=500e3)
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_lineage_resume_is_noop(spark):
    with tempfile.TemporaryDirectory() as root:
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(100).withColumn(
                "v", F.col("id") * 2)

        df1 = lineage.run_stage(spark, root, "s1", build,
                                input_fingerprint="fp1")
        assert calls["n"] == 1
        assert df1.count() == 100
        # resume: same fingerprint -> no recompute
        df2 = lineage.run_stage(spark, root, "s1", build,
                                input_fingerprint="fp1")
        assert calls["n"] == 1
        assert df2.count() == 100
        # changed input -> recompute
        lineage.run_stage(spark, root, "s1", build,
                          input_fingerprint="fp2")
        assert calls["n"] == 2
        assert lineage.verify_stage(spark, root, "s1")
        # the committed lineage carries the row count
        lin = lineage.read_lineage(spark, root, "s1")
        assert lin.agg(F.sum("rows")).collect()[0][0] == 100


def _jobs_in_group(spark, group, fn):
    """Spark jobs `fn` runs, counted in a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    # the status store is fed by the listener bus: let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_commit_is_one_job_resume_is_none(spark):
    """A stage commit is its data write alone (rows and checksum are
    observed during it), and a resume reads with the committed schema,
    so it runs no job at all."""
    with tempfile.TemporaryDirectory() as root:
        def run():
            return lineage.run_stage(
                spark, root, "s", lambda: spark.range(0, 1000, 1, 4),
                input_fingerprint="fp1")

        t0 = time.time()
        built = _jobs_in_group(spark, "commit-one-job-build", run)
        t1 = time.time()
        assert len(built) == 1, built
        cur = lineage.current_snapshot(root, "s")
        assert cur["jobs"] == 1
        # the start beside the wall (rounded to ms) lies inside the call
        assert t0 - 0.001 <= cur["started_at"] <= t1
        assert cur["started_at"] + cur["wall_s"] <= t1 + 0.002
        resumed = _jobs_in_group(spark, "commit-one-job-resume", run)
        assert resumed == [], resumed
        assert len(lineage.snapshot_history(root, "s")) == 1


@pytest.mark.parametrize("partition_by", [None, ["k"]])
def test_commit_lineage_equals_reread(spark, partition_by):
    """commit.json's rows and checksum, observed during the write,
    equal what a re-read of the committed data recomputes — also for
    a hive-partitioned stage, whose partition column comes back last
    and with its written type — and read_lineage reports them."""
    with tempfile.TemporaryDirectory() as root:
        df = lineage.run_stage(
            spark, root, "s",
            lambda: spark.range(0, 5000, 1, 6).select(
                "id", (F.col("id") % 5).alias("k"),
                (F.col("id") * 0.5).alias("x")),
            input_fingerprint="fp1", partition_by=partition_by)
        cur = lineage.current_snapshot(root, "s")
        assert df.schema["k"].dataType.simpleString() == "bigint"

        def totals(lin):
            r = lin.agg(F.sum("rows"), F.bit_xor("checksum")).collect()[0]
            return r[0], r[1]
        want = (cur["rows"], cur["checksum"])
        assert want[0] == 5000
        assert totals(lineage.partition_lineage(
            lineage.read_stage(spark, root, "s"))) == want
        assert totals(lineage.read_lineage(spark, root, "s")) == want
        assert lineage._global_checksum(df) == cur["checksum"]


@pytest.mark.parametrize("damage", ["truncate", "delete", "drop_version"])
def test_resume_rebuilds_damaged_snapshot(spark, damage):
    """A resume checks the committed file list and sizes: a truncated
    or deleted data file in the CURRENT snapshot, or a pointer that
    names a missing version, is not served — the stage is built again
    and published as a new version."""
    with tempfile.TemporaryDirectory() as root:
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(0, 1000, 1, 4)

        lineage.run_stage(spark, root, "s", build, input_fingerprint="fp1")
        data_dir = os.path.join(root, "s", "snapshots", "v00001", "data")
        victim = os.path.join(data_dir, sorted(
            f for f in os.listdir(data_dir) if f.endswith(".parquet"))[0])
        if damage == "truncate":
            with open(victim, "r+b") as fh:
                fh.truncate(os.path.getsize(victim) // 2)
        elif damage == "delete":
            os.remove(victim)
        else:
            shutil.rmtree(os.path.dirname(data_dir))
        assert not lineage.stage_is_complete(root, "s", "fp1")

        df = lineage.run_stage(spark, root, "s", build,
                               input_fingerprint="fp1")
        assert calls["n"] == 2
        assert lineage.current_snapshot(root, "s")["version"] == 2
        assert df.count() == 1000
        assert lineage.stage_is_complete(root, "s", "fp1")


def test_verify_stage_detects_changed_value(spark):
    """verify_stage compares the recomputed checksum, not only the row
    count: a data file rewritten with the same rows but one changed
    value (and its committed size patched to match, so only the
    values differ) fails verification."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    with tempfile.TemporaryDirectory() as root:
        lineage.run_stage(
            spark, root, "s",
            lambda: spark.range(0, 1000, 1, 4).withColumn(
                "v", F.col("id") * 2),
            input_fingerprint="fp1")
        assert lineage.verify_stage(spark, root, "s")
        cur = lineage.current_snapshot(root, "s")
        snap = os.path.join(root, "s", "snapshots", "v00001")
        rel = sorted(f for f in os.listdir(os.path.join(snap, "data"))
                     if f.endswith(".parquet"))[0]
        path = os.path.join(snap, "data", rel)
        table = pq.read_table(path)
        v = table.column("v")
        table = table.set_column(table.schema.get_field_index("v"), "v",
                                 pc.add(v, 1))
        pq.write_table(table, path)
        # the local filesystem's checksum sidecar would flag the edit
        crc = os.path.join(os.path.dirname(path), f".{rel}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        assert pq.read_metadata(path).num_rows == table.num_rows
        cur["files"][rel] = os.path.getsize(path)
        for meta_path in (os.path.join(snap, "commit.json"),
                          os.path.join(root, "s", "_CURRENT")):
            with open(meta_path, "w") as fh:
                json.dump(cur, fh)
        assert lineage.read_stage(spark, root, "s").count() == 1000
        assert not lineage.verify_stage(spark, root, "s")


def test_lineage_time_travel_rollback_expire(spark):
    """Iceberg-shaped commit semantics on plain files: every write is
    a new immutable snapshot + atomic pointer swap; old versions stay
    readable (time travel), rollback is a pointer move, expiration
    prunes all but the newest N and never the current."""
    with tempfile.TemporaryDirectory() as root:
        for n, fp in ((100, "fp1"), (200, "fp2"), (300, "fp3")):
            lineage.run_stage(spark, root, "s", lambda n=n:
                              spark.range(n), input_fingerprint=fp)
        hist = lineage.snapshot_history(root, "s")
        assert [m["version"] for m in hist] == [1, 2, 3]
        assert lineage.current_snapshot(root, "s")["version"] == 3
        # time travel: every retained version readable
        for v, n in ((1, 100), (2, 200), (3, 300)):
            assert lineage.read_stage(spark, root, "s", version=v) \
                .count() == n
        # rollback: pointer move only; resume logic follows the pointer
        lineage.rollback_stage(root, "s", 2)
        assert lineage.read_stage(spark, root, "s").count() == 200
        assert lineage.stage_is_complete(root, "s", "fp2")
        assert not lineage.stage_is_complete(root, "s", "fp3")
        # a new write after rollback takes a FRESH version number
        lineage.run_stage(spark, root, "s",
                          lambda: spark.range(400),
                          input_fingerprint="fp4")
        assert lineage.current_snapshot(root, "s")["version"] == 4
        # expire: keep newest 2 (v3, v4), never the current
        expired = lineage.expire_snapshots(root, "s", keep=2)
        assert expired == [1, 2]
        assert [m["version"]
                for m in lineage.snapshot_history(root, "s")] == [3, 4]
        assert lineage.read_stage(spark, root, "s").count() == 400


def test_compact_stage_binpacks_without_changing_data(spark):
    """Small-file compaction: a fan-out-written stage (many tiny
    files) rewrites into few larger files as a NEW verified snapshot;
    content hash + row count match, resume fingerprint carries over,
    the old version stays time-travelable, and a tampered rewrite is
    refused before the pointer swap."""
    with tempfile.TemporaryDirectory() as root:
        df0 = lineage.run_stage(
            spark, root, "s",
            lambda: spark.range(0, 10_000, 1, 64).withColumn(
                "k", F.col("id") % 7).withColumn(
                "v", F.xxhash64("id")),
            input_fingerprint="fp1")
        before = lineage.current_snapshot(root, "s")

        meta = lineage.compact_stage(spark, root, "s", target_files=4)
        assert meta["version"] == before["version"] + 1
        assert meta["compacted_from"] == before["version"]
        assert meta["files_before"] >= 64
        assert meta["files_after"] <= 4
        assert meta["rows"] == 10_000

        # readers: same data, fewer files; resume unchanged
        after = lineage.read_stage(spark, root, "s")
        assert after.count() == 10_000
        assert lineage._global_checksum(after) == \
            lineage._global_checksum(df0)
        assert lineage.stage_is_complete(root, "s", "fp1")
        # run_stage resume still short-circuits onto the compacted
        # snapshot (no recompute)
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(1)

        lineage.run_stage(spark, root, "s", build,
                          input_fingerprint="fp1")
        assert calls["n"] == 0
        # old version still time-travelable until expiry
        assert lineage.read_stage(spark, root, "s",
                                  version=before["version"]) \
            .count() == 10_000
        assert lineage.verify_stage(spark, root, "s")

        # clustering compaction preserves hive layout + data
        meta2 = lineage.compact_stage(spark, root, "s",
                                      target_files=2,
                                      partition_by=["k"])
        data_dir = os.path.join(root, "s", "snapshots",
                                f"v{meta2['version']:05d}", "data")
        assert any(d.startswith("k=") for d in os.listdir(data_dir))
        # hive layout reads the partition key back as int; align to
        # the source schema (values, not container widths, compare)
        got = lineage.read_stage(spark, root, "s").select(
            [F.col(f.name).cast(f.dataType) for f in df0.schema])
        assert lineage._global_checksum(got) == \
            lineage._global_checksum(df0)


def test_compact_stage_refuses_corrupt_rewrite(spark, monkeypatch):
    """If the rewrite does not reproduce the source checksum exactly,
    the pointer must NOT swap and the bad snapshot stays uncommitted
    (expire_snapshots sweeps it as an orphan)."""
    with tempfile.TemporaryDirectory() as root:
        lineage.run_stage(spark, root, "s",
                          lambda: spark.range(0, 1000, 1, 16),
                          input_fingerprint="fp1")
        real = lineage._global_checksum
        state = {"first": True}

        def skewed(df):
            # first call measures the SOURCE; corrupt only the
            # post-rewrite measurement
            if state["first"]:
                state["first"] = False
                return real(df)
            return real(df) ^ 1

        monkeypatch.setattr(lineage, "_global_checksum", skewed)
        with pytest.raises(RuntimeError, match="changed data"):
            lineage.compact_stage(spark, root, "s", target_files=2)
        monkeypatch.setattr(lineage, "_global_checksum", real)
        cur = lineage.current_snapshot(root, "s")
        assert cur["version"] == 1          # pointer never moved
        assert lineage.read_stage(spark, root, "s").count() == 1000
        # the abandoned rewrite never reached snapshots/ — it is only
        # staging scratch (swept by expire_snapshots' TTL), so the
        # version sequence stays dense
        assert [m["version"]
                for m in lineage.snapshot_history(root, "s")] == [1]
        staging = os.path.join(root, "s", "_staging")
        assert os.path.isdir(staging) and len(os.listdir(staging)) == 1
        lineage.expire_snapshots(root, "s", keep=2, staging_ttl_s=0)
        assert os.listdir(staging) == []
        meta = lineage.compact_stage(spark, root, "s", target_files=2)
        assert meta["version"] == 2


def test_asof_join_matches_pandas_merge_asof(spark):
    """The union+window as-of join must reproduce pandas merge_asof
    (backward, by key) including equal-timestamp matches and
    no-prior-row nulls."""
    import numpy as np
    import pandas as pd
    from geographiclib_go_spark.operators import temporal as tp

    rng = np.random.default_rng(21)
    base = pd.Timestamp("2026-01-01")
    l_pdf = pd.DataFrame({
        "lid": np.arange(300),
        "key": rng.integers(0, 7, 300),
        "ts": [base + pd.Timedelta(seconds=int(s))
               for s in rng.integers(0, 5000, 300)],
    })
    r_pdf = pd.DataFrame({
        "rid": np.arange(1000, 1120),
        "key": rng.integers(0, 7, 120),
        "ts": [base + pd.Timedelta(seconds=int(s))
               for s in rng.integers(0, 5000, 120)],
    })
    # plant an equal-timestamp pair: must match ("at or before")
    l_pdf.loc[0, ["key", "ts"]] = (3, r_pdf.ts.iloc[0])
    r_pdf.loc[0, "key"] = 3
    # de-dup right (key, ts) so the match is uniquely defined
    r_pdf = r_pdf.drop_duplicates(["key", "ts"]).reset_index(drop=True)

    got = tp.asof_join(spark.createDataFrame(l_pdf),
                       spark.createDataFrame(r_pdf),
                       on="key", ts_col="ts", right_cols=["rid"],
                       seq_col="rid").toPandas()
    got = got.set_index("lid").sort_index()

    want = pd.merge_asof(
        l_pdf.sort_values("ts"), r_pdf.sort_values("ts"),
        on="ts", by="key", direction="backward").set_index("lid") \
        .sort_index()
    want_rid = want.rid.astype("float64")
    got_rid = got.r_rid.astype("float64")
    pd.testing.assert_series_equal(got_rid, want_rid,
                                   check_names=False)
    # the planted equal-ts row did match
    assert got.r_rid.loc[0] == 1000


def test_sessionize_matches_builtin_session_window(spark, sf_dir):
    """The lag+running-sum sessionization must produce exactly the
    sessions Spark's built-in session_window(gap) produces: same
    session count per user, same per-session event counts."""
    from geographiclib_go_spark import queries as Q

    got = Q.events_sessionize(spark, sf_dir).toPandas()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = (ev.groupBy("user_id",
                       F.session_window("ts", "6 hours").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .toPandas())
    g = got.groupby("user_id").agg(n_sessions=("session_seq", "max"),
                                   total=("n_events", "sum"))
    w = want.groupby("user_id").agg(n_sessions=("n_events", "size"),
                                    total=("n_events", "sum"))
    assert g.sort_index().equals(w.sort_index())
    # per-session size multisets match too
    for uid in g.index:
        a = sorted(got[got.user_id == uid].n_events.tolist())
        b = sorted(want[want.user_id == uid].n_events.tolist())
        assert a == b, uid


def test_lineage_survives_crashed_partial_snapshot(spark):
    """Two crash points of a writer, each run on a fresh root:

    - after writing data but before commit.json and the rename: an
      orphan snapshot dir without commit.json;
    - after the rename but before the pointer swap: a complete vN
      with its commit.json while _CURRENT still names vN-1.

    Either way the stage must still read the version the pointer
    names, resume correctly, and allocate a FRESH version number past
    the leftover dir on the next write."""
    for crash in ("before_rename", "before_pointer_swap"):
        with tempfile.TemporaryDirectory() as root:
            lineage.run_stage(spark, root, "s", lambda: spark.range(100),
                              input_fingerprint="fp1")
            if crash == "before_rename":
                # orphan v2 with data, no commit
                orphan = os.path.join(root, "s", "snapshots", "v00002",
                                      "data")
                spark.range(7).write.parquet(orphan)
                history = [1]
            else:
                # a published v2 whose pointer swap never happened
                v1 = lineage.current_snapshot(root, "s")
                lineage.run_stage(spark, root, "s",
                                  lambda: spark.range(7),
                                  input_fingerprint="fp_crashed")
                with open(os.path.join(root, "s", "_CURRENT"), "w") as fh:
                    json.dump(v1, fh)
                history = [1, 2]
            # reads and resume still follow the committed pointer (v1)
            assert lineage.read_stage(spark, root, "s").count() == 100
            assert lineage.stage_is_complete(root, "s", "fp1")
            assert [m["version"] for m in
                    lineage.snapshot_history(root, "s")] == history
            # next write: must not collide with the v2 dir -> v3+
            lineage.run_stage(spark, root, "s", lambda: spark.range(200),
                              input_fingerprint="fp2")
            cur = lineage.current_snapshot(root, "s")
            assert cur["version"] >= 3, crash
            assert lineage.read_stage(spark, root, "s").count() == 200


def test_asof_join_empty_right_side(spark):
    """No right rows at all: every left row survives with nulls."""
    import pandas as pd
    from geographiclib_go_spark.operators import temporal as tp
    base = pd.Timestamp("2026-01-01")
    l_df = spark.createDataFrame(pd.DataFrame({
        "lid": [1, 2], "key": [0, 1],
        "ts": [base, base + pd.Timedelta(hours=1)]}))
    r_df = spark.createDataFrame(
        [], "rid long, key long, ts timestamp")
    got = tp.asof_join(l_df, r_df, on="key", ts_col="ts",
                       right_cols=["rid"], seq_col="rid").toPandas()
    assert len(got) == 2 and got.r_rid.isna().all()


def test_row_count_estimate_reads_footers_not_data(spark, sf_dir):
    """knn_join's ring planner must never scan the fact table to pick
    a resolution: for a parquet-backed points side the row count comes
    from file footers DRIVER-SIDE — zero Spark jobs (VERDICT r2 item
    4).  Derived plans fall back to a bounded short-circuit probe."""
    sc = spark.sparkContext
    li = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sc.setJobGroup("footer-probe", "must not launch jobs")
    n, exact = sj._estimate_row_count(li)
    sc.setJobGroup(None, None)
    assert exact and n == li.count()
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        "footer-probe")
    assert list(jobs) == [], jobs
    # projection keeps the footer path; a filter must NOT
    proj_n, proj_exact = sj._estimate_row_count(li.select("c_custkey"))
    assert proj_exact and proj_n == n
    f_n, f_exact = sj._estimate_row_count(
        li.filter(F.col("c_custkey") < 10))
    assert f_exact and f_n == 10  # bounded probe, exact when small


def test_asof_join_null_payload_row_consistent(spark):
    """When a payload column is NULL on the true as-of match, the
    operator must return that NULL — not substitute the value from an
    older right row — and all carried columns must come from the SAME
    right row (ADVICE r2: per-column last-ignorenulls stitched rows;
    the struct-packed fill cannot)."""
    import pandas as pd
    from geographiclib_go_spark.operators import temporal as tp
    base = pd.Timestamp("2026-01-01")
    l_pdf = pd.DataFrame({
        "lid": [0, 1],
        "key": [1, 1],
        "ts": [base + pd.Timedelta(seconds=30),
               base + pd.Timedelta(seconds=60)],
    })
    r_pdf = pd.DataFrame({
        "rid": [100, 101],
        "key": [1, 1],
        "ts": [base + pd.Timedelta(seconds=10),
               base + pd.Timedelta(seconds=50)],
        "val": pd.array([7.5, None], dtype="float64"),
        "tag": ["a", None],
    })
    got = tp.asof_join(spark.createDataFrame(l_pdf),
                       spark.createDataFrame(r_pdf),
                       on="key", ts_col="ts",
                       right_cols=["rid", "val", "tag"],
                       seq_col="rid").toPandas().set_index("lid")
    # lid 0 matches rid 100 (full payload)
    assert got.loc[0, "r_rid"] == 100
    assert got.loc[0, "r_val"] == 7.5 and got.loc[0, "r_tag"] == "a"
    # lid 1 matches rid 101 whose val/tag are genuinely NULL — they
    # must STAY null (not be stitched from rid 100)
    assert got.loc[1, "r_rid"] == 101
    assert pd.isna(got.loc[1, "r_val"]) and got.loc[1, "r_tag"] is None


def test_expire_snapshots_removes_old_orphans(spark):
    """Orphan snapshot dirs (crashed writers: data, no commit.json)
    older than the retained window are expired — they are never
    readable, so leaving them leaks disk forever (ADVICE r2).  An
    orphan NEWER than every committed version may be an in-flight
    writer and must survive."""
    with tempfile.TemporaryDirectory() as root:
        for i, fp in enumerate(["a", "b", "c"], start=1):
            lineage.run_stage(spark, root, "s",
                              lambda n=i: spark.range(n * 10),
                              input_fingerprint=fp)
        snaps = os.path.join(root, "s", "snapshots")
        # old orphan below the retained window, and a possibly
        # in-flight orphan above every committed version
        os.makedirs(os.path.join(snaps, "v00000", "data"))
        os.makedirs(os.path.join(snaps, "v00099", "data"))
        expired = lineage.expire_snapshots(root, "s", keep=2)
        assert 0 in expired and 1 in expired
        names = set(os.listdir(snaps))
        assert "v00000" not in names and "v00001" not in names
        assert {"v00002", "v00003", "v00099"} <= names
        # current still reads
        assert lineage.read_stage(spark, root, "s").count() == 30


def test_route_intersections_plan_is_map_only(spark):
    """The crossings operator must be a single map-only stage: no
    Exchange anywhere in the plan (the route ships in the closure,
    the fan-out is emitted flat by mapInPandas)."""
    import pandas as pd
    from geographiclib_go_spark.operators import intersect as ix
    pdf = pd.DataFrame({
        "sid": range(50),
        "lat1": [float(i % 60) for i in range(50)],
        "lon1": [float(i % 120) - 60 for i in range(50)],
        "lat2": [float(i % 50) - 20 for i in range(50)],
        "lon2": [float(i % 100) - 20 for i in range(50)],
    })
    out = ix.route_intersections(spark.createDataFrame(pdf),
                                 [10.0, 52.0, 36.0],
                                 [-70.0, 0.0, 140.0], 6371000.0, 0.0)
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_interval_join_bucket_matches_broadcast(spark):
    """The dedup-free bucketed interval join must return exactly the
    broadcast nested-loop pairs — including pairs spanning many
    buckets (emitted once, from the canonical bucket), touching
    intervals (excluded: half-open strict overlap), and containment."""
    import numpy as np
    import pandas as pd
    from geographiclib_go_spark.operators import temporal as tp

    rng = np.random.default_rng(7)
    B = 1000  # small bucket so intervals span many buckets
    l_start = rng.integers(0, 50_000, 400)
    l_pdf = pd.DataFrame({
        "lid": np.arange(400), "ls": l_start,
        "le": l_start + rng.integers(1, 12_000, 400)})
    r_start = rng.integers(0, 50_000, 60)
    r_pdf = pd.DataFrame({
        "rid": np.arange(60), "rs": r_start,
        "re": r_start + rng.integers(1, 9_000, 60)})
    # plant: exact touch (no overlap), 1-unit overlap, containment
    l_pdf.loc[0, ["ls", "le"]] = (100, 200)
    r_pdf.loc[0, ["rs", "re"]] = (200, 300)      # touch: excluded
    r_pdf.loc[1, ["rs", "re"]] = (199, 300)      # 1-unit overlap
    r_pdf.loc[2, ["rs", "re"]] = (0, 60_000)     # contains everything

    ldf, rdf = spark.createDataFrame(l_pdf), spark.createDataFrame(r_pdf)
    cols = ["lid", "rid"]
    got = (tp.interval_join(ldf, rdf, "ls", "le", "rs", "re",
                            bucket=B, strategy="bucket")
           .select(*cols).toPandas()
           .sort_values(cols).reset_index(drop=True))
    want = (tp.interval_join(ldf, rdf, "ls", "le", "rs", "re",
                             strategy="broadcast")
            .select(*cols).toPandas()
            .sort_values(cols).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want)
    # canonical-bucket dedup produced no duplicate pairs
    assert not got.duplicated(cols).any()
    # the planted cases behave as specified
    pairs = set(map(tuple, got.values))
    assert (0, 0) not in pairs and (0, 1) in pairs and (0, 2) in pairs


def test_sketch_quantiles_within_relative_error_bound(spark):
    """The base-2/6-bit bucket sketch guarantees estimate in
    [true, true*(1+2^-5)] by construction (upper bucket bound,
    monotone buckets): check against exact percentiles on sf0.001."""
    import math
    import numpy as np
    from geographiclib_go_spark import queries as Q
    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r for r in
           Q.events_value_sketch_quantiles(spark, sf).collect()}
    raw = (spark.read.parquet(f"{sf}/events.parquet")
           .select("event_type", "value").toPandas())
    assert got and set(got) == set(raw.event_type.unique())
    for t, grp in raw.groupby("event_type"):
        vals = np.sort(np.round(grp.value.to_numpy() * 100)) / 100.0
        n = len(vals)
        for q in (50, 90, 99):
            est = got[t][f"p{q}_est"]
            # the sketch targets the k-th order statistic,
            # k = ceil(q*n/100); its bucket upper bound overshoots
            # by at most 2^-5 relative (plus the 1-cent grid)
            tru = vals[math.ceil(q * n / 100) - 1]
            assert tru <= est <= tru * (1 + 2**-5) + 0.01, \
                (t, q, est, tru)


def test_bloom_probe_is_prescan_filter_no_exchange(spark, sf_dir):
    """The Bloom membership probe must be a plain Filter sitting on
    the parquet scan — codegen expressions only, evaluated BEFORE the
    partial aggregate and the Exchange (that pre-shuffle pruning is
    the operator's whole point)."""
    from pyspark.sql import functions as F
    from geographiclib_go_spark.operators import bloom as bl
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    words = [3] * ((1 << 14) // bl.WORD)
    probed = (li.filter(bl.bloom_might_contain(
                  F.col("l_orderkey"), words, 1 << 14, 4))
              .groupBy("l_returnflag").count())
    plan = _plan(probed)
    # no Python evaluation anywhere, and the Filter precedes
    # (= appears BELOW, i.e. later in the string than) the Exchange
    assert "Python" not in plan, plan
    assert "Filter" in plan and "Exchange" in plan, plan
    assert plan.index("Exchange") < plan.index("Filter"), plan
    # register build: partial bit_or before its shuffle
    regs = bl.bloom_registers(
        li.select(F.col("l_orderkey").alias("key")), "key", 1 << 14, 4)
    rplan = _plan(regs)
    assert "partial_bit_or" in rplan or "partial" in rplan, rplan


def test_cms_estimate_broadcasts_registers(spark):
    """The CMS min-probe must join candidates against the register
    table with a BroadcastHashJoin (registers are O(depth*width),
    candidates unbounded)."""
    from pyspark.sql import functions as F
    from geographiclib_go_spark.operators import cms
    docs = spark.createDataFrame(
        [(i, f"tok{i} common word") for i in range(40)],
        "doc_id long, text string")
    regs = cms.cms_registers(docs, "text")
    toks = (docs.select(F.explode(F.split("text", cms.WS_REGEX_JAVA))
                        .alias("tok"))
            .filter(F.length("tok") > 0).distinct())
    est = cms.cms_estimate(toks, regs, "tok")
    plan = _plan(est)
    assert "BroadcastHashJoin" in plan, plan


def test_aqe_splits_skewed_join_at_runtime(spark):
    """Runtime complement to the engine's STATIC skew handling (the
    salted (tile, salt) Window of queries.image_tile_rebalance; an
    aggregate needs no salt, its partial aggregation folds a hot key
    per map task).  A skewed join key must be split by AQE's
    skew-join at runtime — session.build_session ships
    spark.sql.adaptive.skewJoin.enabled=true for exactly this.  The
    gate executes a deliberately skewed sort-merge join (one key
    carrying ~all rows) under tightened skew thresholds and asserts
    the FINAL adaptive plan marks the join skew=true and the result
    is still exact."""
    conf = spark.conf
    saved = {k: conf.get(k) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )}
    try:
        # force SMJ, and lower the skew bar so the fixture-scale hot
        # partition (a few MB) is detected the way a multi-GB one is
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                 "1.0")
        conf.set("spark.sql.adaptive.skewJoin"
                 ".skewedPartitionThresholdInBytes", "16KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                 "8KB")
        n_hot, n_keys = 40_000, 16
        left = (spark.range(n_hot + (n_keys - 1) * 4)
                .select(F.when(F.col("id") < n_hot, F.lit(0))
                        .otherwise((F.col("id") % (n_keys - 1)) + 1)
                        .alias("k"),
                        F.concat(F.lit("payload-payload-payload-"),
                                 F.col("id")).alias("v")))
        right = (spark.range(n_keys * 3)
                 .select((F.col("id") % n_keys).alias("k"),
                         F.col("id").alias("r")))
        j = left.join(right, "k")
        # run THIS DataFrame's own query execution (count() would
        # plan a separate aggregate tree and leave j's adaptive plan
        # unfinalized)
        got = len(j.collect())
        # exact: every left row matches the 3 right rows of its key
        assert got == (n_hot + (n_keys - 1) * 4) * 3
        plan = _plan(j)
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_tile_stats_exact_on_salted_hot_tile(spark):
    """All images on one point make one hot tile.  tile_stats is one
    groupBy, and Spark spreads its countDistinct over (tile_id, phash)
    before the per-tile merge (the salt a hand-written two-phase
    aggregate would add), so both counts are exact.  Unstaged, the hot
    tiles are not observed: hot_tiles is None."""
    from geographiclib_go_spark.plans import pipeline
    from geographiclib_go_spark.sources import images as im

    imgs = (im.generate_images(spark, 2000)
            .withColumn("lat", F.lit(12.5)).withColumn("lon", F.lit(45.5)))
    out = pipeline.tile_and_join(spark, imgs)
    assert out["hot_tiles"] is None
    rows = out["tile_stats"].collect()
    want = imgs.agg(F.countDistinct("phash")).collect()[0][0]
    assert len(rows) == 1 and rows[0]["n_images"] == 2000
    assert want < 2000  # repeated phashes on the hot tile
    assert rows[0]["n_distinct_phash"] == want


def _hot_tile_images(spark, n=2000):
    """generate_images with ~60% of its rows (picked by an id hash)
    moved onto one point, so the pipeline finds exactly one hot
    tile."""
    from geographiclib_go_spark.sources import images as im
    on_hot = F.pmod(F.xxhash64("image_id"), F.lit(5)) < 3
    return (im.generate_images(spark, n, skew_pct=3)
            .withColumn("lat", F.when(on_hot, 12.5).otherwise(F.col("lat")))
            .withColumn("lon", F.when(on_hot, 45.5).otherwise(F.col("lon"))))


STAGES = ("tiles", "nearest_landmark", "pip", "invariants", "dedup_split",
          "tile_stats")


TILES_READERS = ("dedup_split", "tile_stats", "nearest_landmark", "pip")


def test_staged_build_job_counts_and_resume_runs_none(spark):
    """A staged tile_and_join build runs at most 9 Spark jobs (pip 1,
    dedup_split at most 2, tile_stats at most 3: its two exchanges and
    the write, with the hot tiles observed during the write; every job
    inside a stage commit), and a resume of the complete root runs
    none: the hot tiles come back from the tile_stats commit.  The
    stages run in threads of their own, which carry the caller's job
    group and job tags (no "Tags will not be inherited" warning), and
    a stage that reads tiles starts only after tiles committed."""
    from geographiclib_go_spark.plans import pipeline
    sc = spark.sparkContext
    imgs = _hot_tile_images(spark)
    with tempfile.TemporaryDirectory() as root:
        out = {}

        def run(key):
            out[key] = pipeline.tile_and_join(spark, imgs, stage_root=root,
                                              fingerprint="fp")
        tag = "staged-build-caller"
        sc.addJobTag(tag)
        try:
            with warnings.catch_warnings():
                warnings.filterwarnings(
                    "error", message=".*Tags will not be inherited")
                built = _jobs_in_group(spark, "staged-build",
                                       lambda: run("build"))
        finally:
            sc.removeJobTag(tag)
        tagged = sc._jsc.sc().statusTracker().getJobIdsForTag(tag)
        assert sorted(tagged) == sorted(built), (tagged, built)
        commits = {s: lineage.current_snapshot(root, s) for s in STAGES}
        per_stage = {s: c["jobs"] for s, c in commits.items()}
        assert len(built) <= 9, per_stage
        assert sum(per_stage.values()) == len(built), per_stage
        tiles = commits["tiles"]
        for s in TILES_READERS:
            # started_at and wall_s are each rounded to 1 ms
            assert (commits[s]["started_at"]
                    >= tiles["started_at"] + tiles["wall_s"] - 0.002), s
        assert per_stage["pip"] == 1, per_stage
        assert per_stage["dedup_split"] <= 2, per_stage
        assert per_stage["tile_stats"] <= 3, per_stage
        assert len(out["build"]["hot_tiles"]) == 1
        assert commits["tile_stats"]["hot_tiles"] == out["build"]["hot_tiles"]

        resumed = _jobs_in_group(spark, "staged-resume",
                                 lambda: run("resume"))
        assert resumed == [], resumed
        assert out["resume"]["hot_tiles"] == out["build"]["hot_tiles"]
        for s in STAGES:
            assert lineage.current_snapshot(root, s)["version"] == 1, s


def _wait_at(barrier, fn):
    """`fn`, returning its frame only once `barrier.parties` callers
    are waiting (BrokenBarrierError after the barrier's timeout)."""
    def wrapped(*args, **kw):
        out = fn(*args, **kw)
        barrier.wait()
        return out
    return wrapped


def test_staged_build_runs_independent_stages_together(spark, monkeypatch):
    """tiles and invariants are built at the same time, and so are
    the stages that read tiles: each build waits on a barrier that
    only the other stages of its level can release, so a build that
    ran the stages one after another would break the barrier."""
    from geographiclib_go_spark.plans import pipeline
    sources = threading.Barrier(2, timeout=60)
    readers = threading.Barrier(3, timeout=60)
    for mod, name, barrier in (
            (pipeline.tiling, "assign_tiles", sources),
            (pipeline.im, "decode_invariants", sources),
            (pipeline.ded, "corpus_split", readers),
            (pipeline.nearest, "nearest_dim_join", readers),
            (pipeline.sj, "pip_join", readers)):
        monkeypatch.setattr(mod, name, _wait_at(barrier, getattr(mod, name)))
    with tempfile.TemporaryDirectory() as root:
        pipeline.tile_and_join(spark, _hot_tile_images(spark),
                               stage_root=root, fingerprint="fp")
        for s in STAGES:
            assert lineage.current_snapshot(root, s)["version"] == 1, s
    assert not sources.broken and not readers.broken


def test_failing_stage_waits_for_the_others_and_resumes(spark, monkeypatch):
    """A stage that raises in the middle of a staged build: the error
    reaches the caller only after every other started stage returned,
    no job or stage thread outlives the call, the stages that
    committed hold complete snapshots, and a rerun without the fault
    builds only the failed stage."""
    from geographiclib_go_spark.plans import pipeline
    sc = spark.sparkContext
    imgs = _hot_tile_images(spark)
    run_stage = pipeline.lineage.run_stage
    returned = []

    def recording(spark_, root_, stage, *args, **kw):
        out = run_stage(spark_, root_, stage, *args, **kw)
        returned.append(stage)
        return out

    def pip_fault(*args, **kw):
        raise RuntimeError("injected pip fault")

    monkeypatch.setattr(pipeline.lineage, "run_stage", recording)
    threads = set(threading.enumerate())
    with tempfile.TemporaryDirectory() as root:
        with monkeypatch.context() as fault:
            fault.setattr(pipeline.sj, "pip_join", pip_fault)
            with pytest.raises(RuntimeError, match="injected pip fault"):
                pipeline.tile_and_join(spark, imgs, stage_root=root,
                                       fingerprint="fp")
            others = sorted(s for s in STAGES if s != "pip")
            assert sorted(returned) == others, returned
            assert not [t for t in set(threading.enumerate()) - threads
                        if t.name.startswith("ThreadPoolExecutor")
                        and t.is_alive()]
            sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
            assert list(sc.statusTracker().getActiveJobsIds()) == []
        assert lineage.current_snapshot(root, "pip") is None
        for s in others:
            assert lineage.stage_is_complete(root, s, "fp"), s
            assert lineage.verify_stage(spark, root, s), s

        returned.clear()
        out = pipeline.tile_and_join(spark, imgs, stage_root=root,
                                     fingerprint="fp")
        for s in STAGES:
            assert lineage.current_snapshot(root, s)["version"] == 1, s
        assert lineage.verify_stage(spark, root, "pip")
        assert len(out["hot_tiles"]) == 1


def test_unstaged_jobs_all_come_from_dedup_split(spark, monkeypatch):
    """Unstaged, tile_and_join runs only the jobs of building
    dedup_split (its connected components checkpoint eagerly): the
    tile_stats frame is built without running a job, and the hot
    tiles are not looked for."""
    from geographiclib_go_spark.plans import pipeline
    sc = spark.sparkContext
    tag = "unstaged-dedup-split"
    corpus_split = pipeline.ded.corpus_split

    def tagged(df):
        sc.addJobTag(tag)
        try:
            return corpus_split(df)
        finally:
            sc.removeJobTag(tag)
    monkeypatch.setattr(pipeline.ded, "corpus_split", tagged)
    imgs = _hot_tile_images(spark)
    out = {}

    def run():
        out.update(pipeline.tile_and_join(spark, imgs))
    jobs = _jobs_in_group(spark, "unstaged-tile-and-join", run)
    dedup_jobs = list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    assert len(jobs) <= 5, jobs
    assert sorted(jobs) == sorted(dedup_jobs), (jobs, dedup_jobs)
    assert out["hot_tiles"] is None


def test_tile_stats_commit_without_hot_tiles_rebuilds(spark):
    """A tile_stats commit written before the hot tiles were committed
    lacks the field: that stage counts as incomplete and rebuilds
    (a new version that carries the field); the others resume."""
    from geographiclib_go_spark.plans import pipeline
    imgs = _hot_tile_images(spark)
    with tempfile.TemporaryDirectory() as root:
        first = pipeline.tile_and_join(spark, imgs, stage_root=root,
                                       fingerprint="fp")
        ptr = os.path.join(root, "tile_stats", "_CURRENT")
        with open(ptr) as fh:
            old = json.load(fh)
        del old["hot_tiles"]
        with open(ptr, "w") as fh:
            json.dump(old, fh)

        again = pipeline.tile_and_join(spark, imgs, stage_root=root,
                                       fingerprint="fp")
        cur = lineage.current_snapshot(root, "tile_stats")
        assert cur["version"] == 2
        assert cur["hot_tiles"] == first["hot_tiles"] == again["hot_tiles"]
        assert len(again["hot_tiles"]) == 1
        assert (cur["rows"], cur["checksum"]) == (old["rows"], old["checksum"])
        for s in STAGES[:-1]:
            assert lineage.current_snapshot(root, s)["version"] == 1, s
