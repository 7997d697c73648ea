"""Checkpointed, VERSIONED stage snapshots with lineage + metrics
(north rule: any stage resumes idempotently).

Storage abstraction: Iceberg when a catalog is configured, else plain
parquet directories with Iceberg-SHAPED commit semantics — a stage is
a pointer to an immutable snapshot, every write creates a NEW
snapshot, and commit is an atomic pointer swap (SURVEY.md §7 risk 4):

  <root>/<stage>/snapshots/v00001/data/        immutable stage output
  <root>/<stage>/snapshots/v00001/commit.json  metrics + lineage
  <root>/<stage>/_CURRENT                      atomic pointer (rename),
                                               a copy of commit.json
  <root>/<stage>/_staging/<pid>-<uuid>/        writer-private scratch;
                                               published into snapshots/
                                               by ONE atomic dir rename

commit.json carries, besides the input fingerprint and timings:

- ``rows`` and ``checksum``: the row count and the order-insensitive
  xor of row hashes (``_row_hash``), observed while the data was
  written — the write is the stage's only Spark job;
- ``schema``: the written schema (``DataFrame.schema.json()``), which
  every read applies, so a read infers nothing and runs no job, and
  hive partition columns come back with their written types;
- ``files``: each data file's path (relative to ``data/``) and byte
  size, which a resume checks against the filesystem;
- ``jobs`` (only when the caller set a Spark job group): the Spark
  jobs the build and write ran, counted by a job tag of this call
  alone, so concurrent writers in one group never count each other's
  jobs;
- any ``extra`` fields the caller asked for (``run_stage``), such as
  the hot tiles of the pipeline's ``tile_stats`` stage.

This buys, with plain files, the Iceberg guarantees the engine
depends on:

- resume:     ``run_stage`` short-circuits when the CURRENT snapshot
              carries the same input fingerprint and its data files
              are exactly the committed ones — reruns are metadata
              no-ops; a crashed run never half-overwrites a committed
              snapshot (writes go to a new version dir); a truncated,
              deleted or stray data file makes the stage rebuild.
- time travel: ``read_stage(..., version=n)`` reads any retained
              snapshot; ``snapshot_history`` lists them.
- rollback:   ``rollback_stage`` repoints CURRENT to an older
              version — one atomic rename, no data movement.
- retention:  ``expire_snapshots`` prunes old versions (never the
              current one).

``verify_stage`` recomputes (rows, checksum) from the data and
compares them with the commit, which detects changed values as well
as lost rows.  A commit.json without rows/checksum/schema/files was
written by an older version of this module; such a stage counts as
not complete and rebuilds once.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import time
import uuid
from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from geographiclib_go_spark.functions.localdf import literal_df


def _stage_base(root: str, stage: str) -> str:
    return os.path.join(root, stage)


def _staging_dir(root: str, stage: str) -> str:
    """A writer-unique scratch directory for one in-flight snapshot.
    Everything (data, commit.json) is assembled here and
    published into snapshots/ with ONE atomic directory rename, so a
    version directory under snapshots/ is complete by construction
    and two concurrent writers can never touch the same path."""
    return os.path.join(_stage_base(root, stage), "_staging",
                        f"{os.getpid()}-{uuid.uuid4().hex[:12]}")


def _snap_dir(root: str, stage: str, version: int) -> str:
    return os.path.join(_stage_base(root, stage), "snapshots",
                        f"v{version:05d}")


def _pointer_path(root: str, stage: str) -> str:
    return os.path.join(_stage_base(root, stage), "_CURRENT")


def current_snapshot(root: str, stage: str) -> dict | None:
    """The committed pointer: {"version": n, "input_fingerprint": ...,
    metrics...}, or None when the stage never committed."""
    try:
        with open(_pointer_path(root, stage)) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def snapshot_history(root: str, stage: str) -> list:
    """All retained snapshots (committed or orphaned), oldest first:
    [{"version": n, ...commit metadata...}, ...]."""
    snaps = os.path.join(_stage_base(root, stage), "snapshots")
    out = []
    if not os.path.isdir(snaps):
        return out
    for name in sorted(os.listdir(snaps)):
        meta_path = os.path.join(snaps, name, "commit.json")
        try:
            with open(meta_path) as fh:
                out.append(json.load(fh))
        except (OSError, json.JSONDecodeError):
            continue
    return out


def _row_hash(df: DataFrame):
    """xxhash64 over the columns in name order: the one row hash of
    every checksum here, so a checksum does not depend on the column
    order a hive-partitioned read introduces."""
    return F.xxhash64(*[F.col(c) for c in sorted(df.columns)])


def _lineage_aggs(df: DataFrame) -> list:
    """(rows, checksum) aggregates over `df`; the checksum is an xor
    fold (associative, commutative, overflow-free) of row hashes, so
    it is stable under repartitioning and row order."""
    return [F.count(F.lit(1)).alias("rows"),
            F.bit_xor(_row_hash(df)).alias("checksum")]


def partition_lineage(df: DataFrame) -> DataFrame:
    """(partition_id, rows, checksum) per partition of `df`; the rows
    sum and the checksums xor to the stage totals in commit.json."""
    return (df.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(*_lineage_aggs(df)))


def _snapshot_meta(root: str, stage: str, version: int = None) -> dict:
    """commit.json of a retained snapshot, or the CURRENT pointer's
    copy of it when `version` is None."""
    if version is None:
        cur = current_snapshot(root, stage)
        if cur is None:
            raise FileNotFoundError(f"stage {stage!r} has no committed "
                                    f"snapshot under {root}")
        return cur
    with open(os.path.join(_snap_dir(root, stage, version),
                           "commit.json")) as fh:
        return json.load(fh)


def _file_sizes(data_dir: str) -> dict:
    """{path relative to data_dir: bytes} of every data file."""
    return {os.path.relpath(f, data_dir): os.path.getsize(f)
            for f in _data_files(data_dir)}


def _intact(root: str, stage: str, meta: dict) -> bool:
    """The commit carries its lineage, and its data directory holds
    exactly the committed files at their committed sizes (a truncated,
    deleted or stray file fails) — a listing and a stat per file, no
    data read."""
    if not all(k in meta for k in ("rows", "checksum", "schema", "files")):
        return False
    data_dir = os.path.join(_snap_dir(root, stage, meta["version"]), "data")
    return _file_sizes(data_dir) == meta["files"]


def stage_is_complete(root: str, stage: str, input_fingerprint: str = "",
                      required=()) -> bool:
    """The CURRENT commit has this input fingerprint, carries every
    field named in `required`, and its data files are intact."""
    cur = current_snapshot(root, stage)
    return (cur is not None
            and cur.get("input_fingerprint", "") == input_fingerprint
            and all(k in cur for k in required)
            and _intact(root, stage, cur))


def read_stage(spark: SparkSession, root: str, stage: str,
               version: int = None) -> DataFrame:
    """Stage output — the current snapshot, or any retained version
    (time travel) — read with its committed schema (no inference
    job)."""
    meta = _snapshot_meta(root, stage, version)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    return spark.read.schema(schema).parquet(
        os.path.join(_snap_dir(root, stage, meta["version"]), "data"))


def read_lineage(spark: SparkSession, root: str, stage: str,
                 version: int = None) -> DataFrame:
    """The committed lineage as one (partition_id, rows, checksum)
    row, built from commit.json."""
    meta = _snapshot_meta(root, stage, version)
    return literal_df(spark, [(0, meta["rows"], meta["checksum"])],
                      "partition_id int, rows long, checksum long")


def _commit_meta(stage: str, input_fingerprint: str, t0: float,
                 data_dir: str, rows: int, checksum: int,
                 schema: str) -> dict:
    files = _file_sizes(data_dir)
    return {
        "stage": stage,
        "rows": rows,
        # bit_xor over no rows is null; the empty xor is 0
        "checksum": checksum or 0,
        "schema": schema,
        "files": files,
        "wall_s": round(time.time() - t0, 3),
        "input_fingerprint": input_fingerprint,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "n_files": len(files),
    }


def run_stage(spark: SparkSession, root: str, stage: str,
              build: Callable[[], DataFrame],
              input_fingerprint: str = "",
              partition_by: list = None,
              extra: dict = None) -> DataFrame:
    """Execute (or resume) one pipeline stage.

    If the CURRENT snapshot committed with the same input fingerprint
    and its data files are intact, its data is returned without
    recompute.  Otherwise build() is written into a writer-unique
    STAGING directory (data + commit metadata, with the row count and
    checksum observed during the write: one Spark job) and published
    into snapshots/ with one atomic directory rename before the
    CURRENT pointer swaps — concurrent
    readers of the old snapshot are never disturbed, a crash before
    publish leaves only staging scratch (swept by expire_snapshots),
    and CONCURRENT writers of the same stage are safe: each assembles
    in its own staging dir, the version-slot rename makes exactly one
    writer own each version number (losers retry with the next), and
    the pointer swap is last-writer-wins between two complete
    snapshots.

    `extra` carries commit fields beyond the lineage: build() fills
    its values before the write and they are committed with the
    snapshot; a resume fills them from the commit.  A commit that
    lacks one of its keys counts as incomplete, so the stage rebuilds.

    When the caller set a Spark job group, the commit's ``jobs``
    counts the jobs of build() and the write: they run under a job
    tag unique to this call (a tag, not a job group, so the caller's
    group and its accounting are kept), and statusTracker lists the
    jobs carrying it."""
    extra = {} if extra is None else extra
    if stage_is_complete(root, stage, input_fingerprint, extra):
        cur = current_snapshot(root, stage)
        extra.update((k, cur[k]) for k in extra)
        return read_stage(spark, root, stage, version=cur["version"])

    staging = _staging_dir(root, stage)
    sc = spark.sparkContext
    tag = "run_stage-" + os.path.basename(staging)
    t0 = time.time()
    sc.addJobTag(tag)
    try:
        df = build()
        # unnamed: concurrent writers each get their own observation
        obs = Observation()
        writer = df.observe(obs, *_lineage_aggs(df)).write \
            .mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        data_dir = os.path.join(staging, "data")
        writer.parquet(data_dir)
    finally:
        sc.removeJobTag(tag)
    lin = obs.get
    meta = _commit_meta(stage, input_fingerprint, t0, data_dir,
                        lin["rows"], lin["checksum"], df.schema.json())
    meta.update(extra)
    if sc.getLocalProperty("spark.jobGroup.id"):
        # the status store is fed by the listener bus: give it up to
        # 1 s to list every job of the write (a bus still busy then
        # leaves the count short; it never fails the commit)
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(1000)
        except Py4JError:
            pass
        meta["jobs"] = len(
            sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    version = _publish_snapshot(root, stage, staging, meta)
    return read_stage(spark, root, stage, version=version)


def _publish_snapshot(root: str, stage: str, staging: str,
                      meta: dict) -> int:
    """Atomically move a fully-assembled staging directory into the
    next free version slot and swap the CURRENT pointer.  The
    directory rename is the commit: on POSIX, rename onto an existing
    non-empty directory fails (ENOTEMPTY/EEXIST), so when two writers
    race for the same version number exactly one wins the slot and
    the loser re-allocates — no writer ever writes inside another's
    directory, which is what makes concurrent same-stage writers safe
    (each publishes a complete snapshot; the pointer is last-writer-
    wins between them)."""
    snaps_parent = os.path.join(_stage_base(root, stage), "snapshots")
    os.makedirs(snaps_parent, exist_ok=True)
    while True:
        version = _next_version(root, stage)
        meta["version"] = version
        with open(os.path.join(staging, "commit.json"), "w") as fh:
            json.dump(meta, fh)
        try:
            os.rename(staging, _snap_dir(root, stage, version))
            break
        except OSError as e:
            if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
            # another writer took this slot between the listing and
            # the rename; re-scan and try the next number
            continue
    ptr = _pointer_path(root, stage)
    tmp = ptr + f".tmp.{os.getpid()}.v{version}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, ptr)  # atomic commit: pointer swap
    return version


def _next_version(root: str, stage: str) -> int:
    """Next snapshot number past EVERY existing directory under
    snapshots/ (with the staged publish protocol each one is a
    complete snapshot, but pre-protocol orphans without commit.json
    are counted too — reusing their number would collide)."""
    cur = current_snapshot(root, stage)
    version = (cur["version"] + 1) if cur else 1
    snaps_dir = os.path.join(_stage_base(root, stage), "snapshots")
    if os.path.isdir(snaps_dir):
        for name in os.listdir(snaps_dir):
            if name.startswith("v") and name[1:].isdigit():
                version = max(version, int(name[1:]) + 1)
    return version


def _data_files(path: str) -> list:
    out = []
    for dirpath, _, names in os.walk(path):
        out.extend(os.path.join(dirpath, n) for n in names
                   if n.endswith(".parquet"))
    return out


def _global_checksum(df: DataFrame):
    """The xor of `_row_hash` over all of `df` — the checksum
    commit.json records, invariant under repartitioning AND under the
    column reordering a hive-partitioned read introduces."""
    return df.agg(F.bit_xor(_row_hash(df))).collect()[0][0]


def compact_stage(spark: SparkSession, root: str, stage: str,
                  target_files: int = None,
                  target_file_bytes: int = 128 * 1024 * 1024,
                  partition_by: list = None) -> dict:
    """Bin-pack the CURRENT snapshot's files into fewer, larger ones
    as a NEW snapshot version — the small-file maintenance every
    long-lived 100-TB table needs (streaming sinks and fine-grained
    resume fan-out leave many tiny parquet files, and scan cost
    becomes file-open overhead once files fall far below the ~128 MB
    ``maxPartitionBytes`` split target).  Mirrors Iceberg's
    rewrite_data_files(binpack) contract with plain snapshots.

    The target file count defaults to total-bytes / target_file_bytes;
    that DERIVED target reduces via ``coalesce`` (no exchange —
    partitions concatenate; the exact count is approximate since the
    scan may bin-pack small files below the file count, which only
    makes output files larger than target).  An EXPLICIT
    ``target_files`` or a clustering ``partition_by`` uses
    ``repartition`` so the requested layout is honored exactly.  Data-preserving by VERIFICATION, not trust: row count
    and the order-insensitive global xor-of-row-hashes checksum must
    match the source snapshot before the pointer swaps; on mismatch
    the new snapshot stays uncommitted (expire_snapshots sweeps it)
    and RuntimeError raises.  The input_fingerprint carries over, so
    ``stage_is_complete`` / ``run_stage`` resume semantics are
    unchanged, and the old version stays readable (time travel) until
    expiry."""
    cur = current_snapshot(root, stage)
    if cur is None:
        raise FileNotFoundError(f"stage {stage!r} has no committed "
                                f"snapshot under {root}")
    old_dir = os.path.join(_snap_dir(root, stage, cur["version"]),
                           "data")
    old_files = _data_files(old_dir)
    df = read_stage(spark, root, stage, version=cur["version"])
    derived = target_files is None
    if derived:
        total = sum(os.path.getsize(f) for f in old_files)
        target_files = max(1, -(-total // target_file_bytes))
    old_count, old_sum = cur["rows"], _global_checksum(df)

    staging = _staging_dir(root, stage)
    t0 = time.time()
    if partition_by:
        packed = df.repartition(target_files, *partition_by)
    elif derived and target_files < len(old_files):
        # bin-packing's own target: concatenate without an exchange.
        # coalesce can only REDUCE the scan's read-partition count
        # (which may already bin-pack small files below the file
        # count), so the exact output count is approximate — fine
        # here, where the target is itself a size heuristic, and
        # undershooting only means larger-than-target files.
        packed = df.coalesce(target_files)
    else:
        # an EXPLICIT target_files is a caller-requested layout:
        # honor it exactly (repartition), never the coalesce
        # under-delivery above
        packed = df.repartition(target_files)
    writer = packed.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(staging, "data"))

    out = spark.read.parquet(os.path.join(staging, "data"))
    rows = out.count()
    # hive partition-column type inference can read a partition key
    # back in a NARROWER container (bigint -> int); align to the
    # source schema so the checksum compares VALUES, not widths
    aligned = out.select([F.col(f.name).cast(f.dataType)
                          for f in df.schema])
    new_sum = _global_checksum(aligned)
    if rows != old_count or new_sum != old_sum:
        raise RuntimeError(
            f"compaction of {stage!r} v{cur['version']} changed data "
            f"(rows {old_count}->{rows}, checksum {old_sum}->{new_sum})"
            f"; staging dir left unpublished")
    meta = _commit_meta(stage, cur.get("input_fingerprint", ""), t0,
                        os.path.join(staging, "data"), rows, new_sum,
                        cur["schema"])
    meta.update(compacted_from=cur["version"],
                files_before=len(old_files),
                files_after=meta["n_files"])
    _publish_snapshot(root, stage, staging, meta)
    return meta


def rollback_stage(root: str, stage: str, version: int) -> dict:
    """Repoint CURRENT at an older retained snapshot (one atomic
    rename, no data movement) and return its metadata."""
    meta = _snapshot_meta(root, stage, version)
    ptr = _pointer_path(root, stage)
    tmp = ptr + f".tmp.rb{version}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, ptr)
    return meta


def _tree_mtime(path: str) -> float:
    """Newest mtime of `path` and everything under it."""
    newest = os.path.getmtime(path)
    for dirpath, dirnames, filenames in os.walk(path):
        for name in dirnames + filenames:
            try:
                newest = max(newest, os.path.getmtime(
                    os.path.join(dirpath, name)))
            except OSError:  # moved or removed by its live writer
                continue
    return newest


def expire_snapshots(root: str, stage: str, keep: int = 2,
                     staging_ttl_s: float = 86400.0) -> list:
    """Delete all but the newest `keep` COMMITTED snapshots — never
    the current one — plus every ORPHANED snapshot directory (no
    commit.json: pre-staging-protocol leftovers) older than the
    oldest retained committed version, plus STAGING scratch older
    than `staging_ttl_s` (a crashed writer's half-assembled snapshot;
    the TTL keeps a live concurrent writer's staging dir safe).  A
    staging dir's age is that of the NEWEST entry in its tree: a long
    parquet write under data/ never touches the top dir's mtime.
    Orphans and dead staging are never readable, so without this they
    would leak disk forever (ADVICE r2).  Returns the expired version
    numbers.

    Concurrent writers are safe (the staged atomic-rename publish in
    `_publish_snapshot` gives each version slot exactly one owner);
    readers are unaffected (the pointer swap is atomic)."""
    staging_parent = os.path.join(_stage_base(root, stage), "_staging")
    if os.path.isdir(staging_parent):
        now = time.time()
        for name in os.listdir(staging_parent):
            p = os.path.join(staging_parent, name)
            try:
                if now - _tree_mtime(p) > staging_ttl_s:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue
    cur = current_snapshot(root, stage)
    cur_v = cur["version"] if cur else None
    hist = snapshot_history(root, stage)
    old = hist[:-keep] if keep > 0 else hist
    victims = [m["version"] for m in old]
    committed = {m["version"] for m in hist}
    keep_floor = min([m["version"] for m in hist[len(old):]],
                     default=None)
    snaps_dir = os.path.join(_stage_base(root, stage), "snapshots")
    if os.path.isdir(snaps_dir):
        for name in os.listdir(snaps_dir):
            if not (name.startswith("v") and name[1:].isdigit()):
                continue
            v = int(name[1:])
            if (v not in committed
                    and (keep_floor is None or v < keep_floor)):
                victims.append(v)
    expired = []
    for v in victims:
        if v == cur_v:
            continue
        shutil.rmtree(_snap_dir(root, stage, v), ignore_errors=True)
        expired.append(v)
    return expired


def verify_stage(spark: SparkSession, root: str, stage: str) -> bool:
    """Recompute (rows, checksum) of the current stage output in one
    aggregate and compare them with the commit (a corruption /
    partial-write detector that sees changed values, not only a
    changed count)."""
    cur = current_snapshot(root, stage)
    if cur is None or not _intact(root, stage, cur):
        return False
    data = read_stage(spark, root, stage, version=cur["version"])
    got = data.agg(*_lineage_aggs(data)).collect()[0]
    return (got["rows"], got["checksum"] or 0) == \
        (cur["rows"], cur["checksum"])
