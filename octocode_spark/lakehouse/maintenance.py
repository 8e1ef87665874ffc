"""Table maintenance: adaptive compaction planning + clustered rewrite.

Reference anchors:
- optimize_tables (compact fragments + extend indexes + prune versions),
  src/store/mod.rs:666-721 → plan_compaction + rewrite_partitions +
  rewrite_manifests + expire_snapshots.
- adaptive layout parameters from table size, src/store/vector_optimizer.rs:
  130-197 → target file count = ceil(bytes / 512MB), skip partitions already
  at target layout.
- growth-triggered re-layout >50% drift, src/store/vector_optimizer.rs:226-258
  → needs_recluster().

Scale design: planning is METADATA-ONLY (manifest stats, no data IO); each
partition commits its own snapshot so (a) a killed job resumes at partition
granularity via the ledger, (b) concurrent readers see atomic per-partition
transitions, (c) the commit critical section stays O(one partition's files)
even when the table has 10^12 rows. Partitions are processed in descending
byte size (longest-pole-first) — at 1000 executors the scheduler fills the
tail with small partitions.

One rewrite body, ``_rewrite_group``: read a group of planned partitions
once, range-shuffle them on (partition columns, curve key) — or coalesce when
not clustering — write once, commit per partition. ``rewrite_global`` runs it
once over the whole plan; ``rewrite_partitions`` once per partition,
sequentially or on a thread pool; ``full_maintenance`` picks between the two
by the share of table bytes the plan covers.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from octocode_spark.functions.zorder import with_cluster_key
from octocode_spark.lakehouse.ledger import Ledger
from octocode_spark.lakehouse.metadata import DataFile
from octocode_spark.lakehouse.table import LakeTable, partition_key

TARGET_FILE_SIZE = 512 * 1024 * 1024  # north-star 512MB bin-pack target


@dataclass
class PartitionPlan:
    partition: dict[str, str]
    key: str
    inputs: list[DataFile]
    target_files: int
    reason: str  # small-files | recluster | merge

    @property
    def bytes(self) -> int:
        return sum(f.bytes for f in self.inputs)

    @property
    def records(self) -> int:
        return sum(f.records for f in self.inputs)


@dataclass
class CompactionPlan:
    partitions: list[PartitionPlan] = field(default_factory=list)

    @property
    def bytes(self) -> int:
        return sum(p.bytes for p in self.partitions)

    @property
    def records(self) -> int:
        return sum(p.records for p in self.partitions)


def plan_compaction(
    table: LakeTable,
    target_file_size: int = TARGET_FILE_SIZE,
    small_file_ratio: float = 0.75,
    min_input_files: int = 2,
    force: bool = False,
) -> CompactionPlan:
    """Pick partitions worth rewriting, metadata-only.

    A partition needs compaction when it has ≥ min_input_files files below
    small_file_ratio × target (the small-files problem the reference's
    fragment compaction solves). Already-compacted partitions are skipped —
    the vector_optimizer's "skip below threshold" discipline — which makes
    repeated maintenance runs idempotent and cheap.
    """
    plan = CompactionPlan()
    small_cut = int(target_file_size * small_file_ratio)
    for key, files in sorted(table.partitions().items()):
        small = [f for f in files if f.bytes < small_cut]
        if not force and len(small) < min_input_files:
            continue
        inputs = files if force else small
        if not inputs:
            continue
        total = sum(f.bytes for f in inputs)
        target_files = max(1, -(-total // target_file_size))  # ceil
        if not force and len(inputs) <= target_files:
            continue  # already at or below target layout
        plan.partitions.append(
            PartitionPlan(
                partition=inputs[0].partition,
                key=key,
                inputs=inputs,
                target_files=target_files,
                reason="small-files" if not force else "recluster",
            )
        )
    # longest pole first
    plan.partitions.sort(key=lambda p: p.bytes, reverse=True)
    return plan


def needs_recluster(before_files: int, before_rows: int, after_files: int, after_rows: int,
                    drift: float = 0.5) -> bool:
    """Growth-triggered re-layout (reference: recreate index when partition
    count drifted >50% or rows grew >50%, vector_optimizer.rs:226-258)."""
    if before_rows <= 0 or before_files <= 0:
        return True
    return (
        abs(after_files - before_files) / before_files > drift
        or (after_rows - before_rows) / before_rows > drift
    )


@dataclass
class RewriteResult:
    partitions_done: list[str]
    partitions_skipped: list[str]
    files_in: int
    files_out: int
    bytes_in: int
    rows: int
    seconds: float
    snapshots: list[int]
    phases: dict = field(default_factory=dict)  # per-phase seconds (bench attribution)


def _resume(table: LakeTable, plan: CompactionPlan, ledger: Ledger | None,
            op: str) -> tuple[list[PartitionPlan], RewriteResult]:
    """Split the plan into partitions still to rewrite and an empty result
    listing the skipped ones. A partition is skipped when its ledger row is
    `done` AND its commit_id is still in the snapshot log (lineage-validated
    replay, C6)."""
    valid_ids = {s.snapshot_id for s in table.meta.snapshots}
    done = ledger.done_partitions(op, valid_ids) if ledger else set()
    res = RewriteResult([], [p.key for p in plan.partitions if p.key in done], 0, 0, 0, 0, 0.0, [])
    return [p for p in plan.partitions if p.key not in done], res


def _rewrite_group(
    spark: SparkSession,
    table: LakeTable,
    group: list[PartitionPlan],
    ledger: Ledger | None,
    op: str,
    cluster_by: str | None,
    res: RewriteResult,
    lock: threading.Lock,
) -> dict:
    """Rewrite a group of planned partitions with ONE read + ONE write, then
    commit each partition as its own atomic snapshot, ledger row written ONLY
    after the snapshot commits (C3 write ordering). Adds the group's counts
    to ``res`` under ``lock``; returns the per-phase seconds."""
    if ledger:
        for p in group:
            ledger.mark_pending(op, p.key)
    # capture the sidecar set the scan below will bake in: a MoR delete
    # committing between here and replace_files must CONFLICT, not be
    # silently resurrected (validateNoNewDeleteFiles, _commit docstring)
    planned_sidecars = table.delete_files()
    df = table.read_files(spark, [f for p in group for f in p.inputs], delete_files=planned_sidecars)
    n_out = sum(p.target_files for p in group)
    if cluster_by:
        # one balanced range exchange over (partition, curve key) → disjoint
        # per-file key ranges → tight min/max stats → manifest file-skipping
        # works, and a Zipf-hot partition spreads over its share of reducers.
        # repartitionByRange SAMPLES its child to pick bounds, so the scan +
        # curve key run twice. Measured: recomputing costs ~1/8th of caching
        # (columnar cache materialization of wide token rows is far more
        # expensive than a parquet re-scan), so we deliberately do NOT persist.
        part_cols = table.meta.partition_by
        df = (
            with_cluster_key(df, curve=cluster_by)
            .repartitionByRange(n_out, *part_cols, "_zkey")
            .sortWithinPartitions(*part_cols, "_zkey")
            .drop("_zkey")
        )
    else:
        # pure bin-pack (no re-cluster): coalesce merges small files with
        # NO shuffle — round-robin repartition would pay both a full
        # shuffle and Spark's sort-before-repartition on fat token rows
        df = df.coalesce(n_out)
    added, phases = table._write_datafiles_timed(df)

    t_c0 = time.monotonic()
    added_by_part: dict[str, list[DataFile]] = {}
    for f in added:
        added_by_part.setdefault(partition_key(f.partition), []).append(f)
    known = {f.path for f in planned_sidecars}
    for p in group:
        new_files = added_by_part.pop(p.key, [])
        snap = table.replace_files(
            [f.path for f in p.inputs],
            new_files,
            operation=op,
            summary={"partition": p.key, "reason": p.reason, "cluster": cluster_by or "none"},
            known_sidecars=known,
        )
        if ledger:
            ledger.mark_done(op, p.key, len(p.inputs), p.bytes, p.records, snap.snapshot_id)
        with lock:
            res.partitions_done.append(p.key)
            res.files_in += len(p.inputs)
            res.files_out += len(new_files)
            res.bytes_in += p.bytes
            res.rows += p.records
            res.snapshots.append(snap.snapshot_id)
    if added_by_part:  # outputs for partitions not in the group: impossible by
        # construction (inputs came only from group partitions), fail loudly
        raise RuntimeError(f"unplanned output partitions: {sorted(added_by_part)}")
    phases["commit_s"] = round(time.monotonic() - t_c0, 3)
    return phases


def rewrite_partitions(
    spark: SparkSession,
    table: LakeTable,
    plan: CompactionPlan,
    ledger: Ledger | None = None,
    op: str = "compact",
    cluster_by: str | None = None,  # None | "zorder" | "hilbert"
    target_file_size: int = TARGET_FILE_SIZE,
    fail_after: int | None = None,  # test hook: simulate a kill after k partitions
    max_concurrency: int = 1,
) -> RewriteResult:
    """Incremental mode: one ``_rewrite_group`` job per planned partition, so
    a killed job loses at most the partitions in flight.

    ``max_concurrency`` > 1 runs partition rewrites as concurrent Spark jobs
    (Iceberg's rewrite action does the same with file groups): the scheduler
    interleaves their stages, so a small partition's single write task no
    longer leaves the cluster idle while a big one sorts. Commits stay safe —
    the plans touch disjoint files and the metadata CAS serializes them.
    """
    todo, res = _resume(table, plan, ledger, op)
    lock = threading.Lock()
    t0 = time.monotonic()

    def run_one(p: PartitionPlan) -> None:
        _rewrite_group(spark, table, [p], ledger, op, cluster_by, res, lock)

    if max_concurrency <= 1 or fail_after is not None:
        for completed, p in enumerate(todo):
            if fail_after is not None and completed >= fail_after:
                raise RuntimeError(f"simulated kill after {completed} partitions")
            run_one(p)
    else:
        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            list(pool.map(run_one, todo))
    res.seconds = time.monotonic() - t0
    return res


def rewrite_global(
    spark: SparkSession,
    table: LakeTable,
    plan: CompactionPlan,
    ledger: Ledger | None = None,
    op: str = "compact",
    cluster_by: str | None = "zorder",
) -> RewriteResult:
    """Throughput mode: ONE ``_rewrite_group`` over every planned partition —
    one read and one range shuffle, then per-partition atomic commits.

    vs rewrite_partitions (incremental mode): no per-partition job overhead
    and full-cluster parallelism on one shuffle — the right shape when most
    of the table needs rewriting (initial cluster, major compaction). Commit
    + ledger granularity is unchanged (still per partition); what coarsens is
    compute-resume: a kill before the write finishes replays the whole job.
    """
    if not cluster_by:
        raise ValueError(
            "rewrite_global is the clustering path; pure bin-packing is a "
            "per-partition coalesce — use rewrite_partitions(cluster_by=None)"
        )
    todo, res = _resume(table, plan, ledger, op)
    if not todo:
        return res
    t0 = time.monotonic()
    res.phases = _rewrite_group(spark, table, todo, ledger, op, cluster_by, res, threading.Lock())
    res.seconds = time.monotonic() - t0
    return res


def prune_dangling_delete_sidecars(table: LakeTable):
    """Drop merge-on-read delete sidecars whose referenced data files are no
    longer live — after compaction rewrites a file, its pending deletes are
    baked into the rewrite (read_files applies them) and the sidecar entries
    dangle. A sidecar is removable only when EVERY referenced file is gone;
    partially-dangling sidecars stay (their live entries still apply, dead
    entries match nothing). Driver-side pyarrow reads — sidecars are small
    by the MoR tier's contract. Returns the commit Snapshot or None."""
    sidecars = table.delete_files()
    if not sidecars:
        return None
    live = {os.path.basename(f.path) for f in table.files()}
    dead = [
        f for f in sidecars
        if not (table._sidecar_file_names([f]) & live)
    ]
    if not dead:
        return None
    return table.replace_files(
        [f.path for f in dead], added=[], operation="prune-deletes",
        summary={"pruned-delete-sidecars": len(dead)},
    )


def full_maintenance(
    spark: SparkSession,
    table: LakeTable,
    ledger: Ledger | None = None,
    cluster_by: str | None = "zorder",
    target_file_size: int = TARGET_FILE_SIZE,
    expire_older_than_ms: int | None = None,
    retain_last: int = 3,
    max_concurrency: int = 4,
) -> dict:
    """The optimize_tables analog: compact + cluster, merge manifests,
    expire snapshots, GC orphans. Per-table errors are NOT swallowed (unlike
    the reference) — a maintenance engine must fail loudly."""
    plan = plan_compaction(table, target_file_size=target_file_size)
    # adaptive mode choice (M2 spirit): when most of the table is being
    # rewritten, one global scan+shuffle beats per-partition jobs (no per-job
    # latency, full-width shuffle); for incremental touch-ups, per-partition
    # jobs keep compute-resume granularity
    table_bytes = sum(f.bytes for f in table.files()) or 1
    if cluster_by and plan.bytes / table_bytes > 0.5:
        rewrite = rewrite_global(spark, table, plan, ledger=ledger, op="compact",
                                 cluster_by=cluster_by)
    else:
        rewrite = rewrite_partitions(
            spark, table, plan, ledger=ledger, op="compact", cluster_by=cluster_by,
            target_file_size=target_file_size, max_concurrency=max_concurrency,
        )
    pruned_deletes = prune_dangling_delete_sidecars(table)
    manifest_snap = table.rewrite_manifests()
    # expire deletes the files it expired (provenance-safe); the orphan scan
    # only reaps crash leftovers older than the writer grace window, so it
    # can never race a concurrent writer's staged-but-uncommitted files
    expired = table.expire_snapshots(older_than_ms=expire_older_than_ms, retain_last=retain_last)
    orphans = table.remove_orphan_files()
    return {
        "rewrite": rewrite,
        "manifest_snapshot": manifest_snap.snapshot_id if manifest_snap else None,
        "expired_snapshots": len(expired),
        "expired_files_removed": len(getattr(table, "last_gc_files", [])),
        "orphans_removed": len(orphans),
        "pruned_delete_sidecars": pruned_deletes.summary.get("pruned-delete-sidecars", 0)
        if pruned_deletes else 0,
    }
