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
once, route every row to one of its partition's own ``target_files`` shuffle
slots (``repartitionById``; the curve key's cut points pick the slot when
clustering, a broadcast-joined per-partition relation carries offsets and
cut points), sort, write once, commit per partition. Both entry points pack
the plan into groups run one after another: ``rewrite_partitions`` bounds a
group by ``max_concurrency × defaultParallelism`` output files,
``rewrite_global`` puts the whole plan in one group; ``full_maintenance``
picks between the two by the share of table bytes the plan covers.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from octocode_spark.functions.zorder import with_cluster_key
from octocode_spark.lakehouse.ledger import Ledger
from octocode_spark.lakehouse.metadata import DataFile
from octocode_spark.lakehouse.table import LakeTable, partition_key, partition_key_col

TARGET_FILE_SIZE = 512 * 1024 * 1024  # north-star 512MB bin-pack target


@dataclass
class PartitionPlan:
    partition: dict[str, str]  # the inputs' partition dict; {} without inputs
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
    phases: dict = field(default_factory=dict)  # per-phase seconds, summed over groups


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


def _local_frame(spark: SparkSession, rows: list[dict], schema: pa.Schema) -> DataFrame:
    """A small driver-side relation. Built from Arrow it is a LocalRelation
    (rows held in the plan) rather than a Python RDD, so scanning it starts
    no Python worker."""
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema))


def _cut_points(spark: SparkSession, df: DataFrame, multi: list[PartitionPlan]) -> dict[str, list]:
    """Per partition with target_files = t > 1, its t-1 ``_zkey`` cut points:
    one ``percentile_approx`` aggregate grouped by partition on a shared grid
    of g = max t quantiles; cut i is the grid point floor(i·g/t)/g, at most
    1/g below i/t, and the t-1 points are distinct because g ≥ t."""
    g = max(p.target_files for p in multi)
    t = {p.key: p.target_files for p in multi}
    wanted = _local_frame(spark, [{"_pkey": k} for k in t], pa.schema([("_pkey", pa.string())]))
    rows = (
        df.join(F.broadcast(wanted), "_pkey")
        .groupBy("_pkey")
        .agg(F.percentile_approx("_zkey", [i / g for i in range(1, g)]).alias("q"))
        .collect()
    )
    return {r["_pkey"]: [r["q"][i * g // t[r["_pkey"]] - 1] for i in range(1, t[r["_pkey"]])]
            for r in rows}


_SLOTS = pa.schema([("_pkey", pa.string()), ("_off", pa.int32()), ("_t", pa.int32()),
                    ("_cuts", pa.list_(pa.int64()))])


def _route(spark: SparkSession, df: DataFrame, group: list[PartitionPlan],
           part_cols: list[str], cluster_by: str | None) -> DataFrame:
    """The group's rows in Σ target_files shuffle slots, ready to write.

    A row's slot is its partition's offset (running Σ target_files over the
    group) plus a bucket — the number of the partition's ``_zkey`` cut points
    at or below the row's key when clustering, round-robin otherwise — so
    every partition owns exactly its ``target_files`` slots and no output
    file spans two partitions. Offsets and cut points reach the rows through
    a broadcast join with a small per-partition relation, so the plan's
    expressions stay the same size whatever the group holds."""
    df = df.withColumn("_pkey", partition_key_col(part_cols))
    slots, n_out = [], 0
    for p in group:
        slots.append({"_pkey": p.key, "_off": n_out, "_t": p.target_files, "_cuts": []})
        n_out += p.target_files
    if cluster_by:
        # disjoint per-file curve-key ranges → tight min/max stats → manifest
        # file-skipping works. The cut-point aggregate scans the inputs a
        # second time, and only when some partition targets several files;
        # recomputing costs ~1/8th of caching (columnar cache
        # materialization of wide token rows is far more expensive than a
        # parquet re-scan), so we deliberately do NOT persist.
        df = with_cluster_key(df, curve=cluster_by)
        multi = [p for p in group if p.target_files > 1]
        cuts = _cut_points(spark, df, multi) if multi else {}
        for s in slots:
            s["_cuts"] = cuts.get(s["_pkey"], [])
        bucket = F.size(F.filter("_cuts", lambda c: c <= F.col("_zkey")))
    else:
        bucket = F.pmod(F.monotonically_increasing_id(), F.col("_t"))
    df = df.join(F.broadcast(_local_frame(spark, slots, _SLOTS)), "_pkey", "left")
    # a row whose partition is not in the group cannot happen (the inputs
    # are the group's files); fail loudly rather than pile it onto slot 0
    slot = F.when(F.col("_off").isNull(),
                  F.raise_error(F.concat(F.lit("unplanned partition "), F.col("_pkey"))))
    df = df.repartitionById(n_out, slot.otherwise(F.col("_off") + bucket).cast("int"))
    if cluster_by:
        df = df.sortWithinPartitions(*part_cols, "_zkey").drop("_zkey")
    return df.drop("_pkey", "_off", "_t", "_cuts")


def _rewrite_group(
    spark: SparkSession,
    table: LakeTable,
    group: list[PartitionPlan],
    ledger: Ledger | None,
    op: str,
    cluster_by: str | None,
    res: RewriteResult,
    fail_after: int | None = None,
) -> None:
    """Rewrite a group of planned partitions with ONE read + ONE shuffle +
    ONE write (``_route`` gives each partition its own ``target_files``
    output files), then commit each partition as its own atomic snapshot,
    ledger row written ONLY after the snapshot commits (C3 write ordering).
    Adds the group's counts and phase seconds to ``res``; ``fail_after``
    (test hook) simulates a kill once that many partitions of the whole
    rewrite have committed."""
    if ledger:
        for p in group:
            ledger.mark_pending(op, p.key)
    # capture the sidecar set the scan below will bake in: a MoR delete
    # committing between here and replace_files must CONFLICT, not be
    # silently resurrected (validateNoNewDeleteFiles, _commit docstring)
    planned_sidecars = table.delete_files()
    df = table.read_files(spark, [f for p in group for f in p.inputs], delete_files=planned_sidecars)
    added, phases = table._write_datafiles_timed(_route(spark, df, group, table.meta.partition_by, cluster_by))

    t_c0 = time.monotonic()
    added_by_part: dict[str, list[DataFile]] = {}
    for f in added:
        added_by_part.setdefault(partition_key(f.partition), []).append(f)
    unplanned = set(added_by_part) - {p.key for p in group}
    if unplanned:  # outputs for partitions not in the group: impossible by
        # construction (inputs came only from group partitions), fail loudly
        raise RuntimeError(f"unplanned output partitions: {sorted(unplanned)}")
    known = {f.path for f in planned_sidecars}
    for p in group:
        if fail_after is not None and len(res.partitions_done) >= fail_after:
            raise RuntimeError(f"simulated kill after {fail_after} partitions")
        new_files = added_by_part.get(p.key, [])
        snap = table.replace_files(
            [f.path for f in p.inputs],
            new_files,
            operation=op,
            summary={"partition": p.key, "reason": p.reason, "cluster": cluster_by or "none"},
            known_sidecars=known,
        )
        if ledger:
            ledger.mark_done(op, p.key, len(p.inputs), p.bytes, p.records, snap.snapshot_id)
        res.partitions_done.append(p.key)
        res.files_in += len(p.inputs)
        res.files_out += len(new_files)
        res.bytes_in += p.bytes
        res.rows += p.records
        res.snapshots.append(snap.snapshot_id)
    phases["commit_s"] = round(time.monotonic() - t_c0, 3)
    for k, v in phases.items():
        res.phases[k] = round(res.phases.get(k, 0.0) + v, 3)


def _rewrite_packed(
    spark: SparkSession,
    table: LakeTable,
    plan: CompactionPlan,
    ledger: Ledger | None,
    op: str,
    cluster_by: str | None,
    bound: float,
    fail_after: int | None = None,
) -> RewriteResult:
    """Pack the planned partitions still to do, in plan order (largest
    first), into groups of Σ target_files ≤ ``bound`` — a partition above the
    bound is a group of its own — and run one ``_rewrite_group`` per group,
    one group after another."""
    todo, res = _resume(table, plan, ledger, op)
    t0 = time.monotonic()
    group: list[PartitionPlan] = []
    width = 0
    for p in todo:
        if group and width + p.target_files > bound:
            _rewrite_group(spark, table, group, ledger, op, cluster_by, res, fail_after)
            group, width = [], 0
        group.append(p)
        width += p.target_files
    if group:
        _rewrite_group(spark, table, group, ledger, op, cluster_by, res, fail_after)
    res.seconds = time.monotonic() - t0
    return res


def rewrite_partitions(
    spark: SparkSession,
    table: LakeTable,
    plan: CompactionPlan,
    ledger: Ledger | None = None,
    op: str = "compact",
    cluster_by: str | None = None,  # None | "zorder" | "hilbert"
    target_file_size: int = TARGET_FILE_SIZE,
    fail_after: int | None = None,  # test hook: simulate a kill after k partition commits
    max_concurrency: int = 1,
) -> RewriteResult:
    """Incremental mode: pack the planned partitions, largest first, into
    groups of at most ``max_concurrency × defaultParallelism`` output files —
    the work k concurrent full-width jobs would keep in flight — and run one
    ``_rewrite_group`` per group, one group after another (Iceberg's
    RewriteDataFiles packs small partitions into file groups the same way).
    A partition above the bound is a group of its own. Commits and ledger
    rows stay per partition, so a killed job loses at most one group's
    uncommitted partitions.

    ``target_file_size`` is ignored: each planned partition already carries
    its ``target_files`` (``plan_compaction``'s argument sets them).
    """
    bound = max(1, max_concurrency) * spark.sparkContext.defaultParallelism
    return _rewrite_packed(spark, table, plan, ledger, op, cluster_by, bound, fail_after)


def rewrite_global(
    spark: SparkSession,
    table: LakeTable,
    plan: CompactionPlan,
    ledger: Ledger | None = None,
    op: str = "compact",
    cluster_by: str | None = "zorder",
) -> RewriteResult:
    """Throughput mode: ONE ``_rewrite_group`` over every planned partition —
    one read and one shuffle, then per-partition atomic commits.

    vs rewrite_partitions (incremental mode): no bound on the group, so
    full-cluster parallelism on one shuffle — the right shape when most of
    the table needs rewriting (initial cluster, major compaction). Commit +
    ledger granularity is unchanged (still per partition); what coarsens is
    compute-resume: a kill before the write finishes replays the whole job.
    """
    return _rewrite_packed(spark, table, plan, ledger, op, cluster_by, math.inf)


def prune_dangling_delete_sidecars(table: LakeTable):
    """Drop merge-on-read delete sidecars whose referenced data files are no
    longer live — after compaction rewrites a file, its pending deletes are
    baked into the rewrite (read_files applies them) and the sidecar entries
    dangle. A sidecar is removable only when EVERY referenced file is gone;
    partially-dangling sidecars stay (their live entries still apply, dead
    entries match nothing). Metadata only: each sidecar's manifest ``refs``
    name its files. Returns the commit Snapshot or None."""
    sidecars = table.delete_files()
    if not sidecars:
        return None
    live = {f.path for f in table.files()}
    dead = [f for f in sidecars if live.isdisjoint(f.refs)]
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
    # rewritten, one global scan+shuffle beats several jobs (no per-job
    # latency, full-width shuffle); for incremental touch-ups, bounded groups
    # keep compute-resume granularity
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
