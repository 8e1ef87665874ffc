"""MERGE INTO for LakeTable — copy-on-write upsert keyed on doc_id — and
``change_rows``, the one row-level change executor that MERGE, DELETE and
coalesced replication write and commit through.

Semantics (north rule; reference differential upsert,
src/indexer/differential_processor.rs:132-201):

    MERGE INTO target t USING source s ON t.doc_id = s.doc_id
    WHEN MATCHED AND s.deleted THEN DELETE
    WHEN MATCHED                THEN UPDATE SET *
    WHEN NOT MATCHED AND NOT s.deleted THEN INSERT *

Execution, Spark-first:
1. **File pruning** — only target files that can contain a source key are
   rewritten. Manifest min/max on doc_id + partition values prune first
   (metadata-only); then a distinct-join of file paths confirms (the J1
   anti-join pattern). Untouched files are carried over verbatim, so a MERGE
   touching 0.1% of keys rewrites 0.1% of the table. The source keys are
   broadcast when they fit (classic small-dim broadcast, J2); a skewed
   shuffle join is left to AQE's skew-join split, which the session enables.
2. **Layout** — ``change_rows`` writes survivors ∪ inserts through the
   compaction router (``maintenance._route``) in one ``repartitionById``
   shuffle: every partition it writes gets exactly ceil(estimated bytes /
   TARGET_FILE_SIZE) files, so maintenance has no per-partition sliver to
   fold afterwards. Nothing is sampled, so the anti-join child runs once.
3. **Atomicity** — ``change_rows`` commits once: copy-on-write replaces the
   touched files with their rewrite; merge-on-read adds one delete sidecar
   plus any inserts. The summary counts the files rewritten and added and
   the partitions written. MERGE's ledger gets one row per written
   partition, all naming that snapshot.
"""

from __future__ import annotations

import bisect
import math
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from octocode_spark.lakehouse.ledger import Ledger
from octocode_spark.lakehouse.maintenance import TARGET_FILE_SIZE, PartitionPlan, _route
from octocode_spark.lakehouse.metadata import DataFile, Snapshot
from octocode_spark.lakehouse.table import LakeTable, partition_key, partition_key_col

# broadcast the source-key set up to this many keys; beyond it, shuffle join
# with AQE skew splitting (at 10^12-row scale the planner threshold maps to
# spark.sql.autoBroadcastJoinThreshold on real key bytes)
BROADCAST_KEY_LIMIT = 2_000_000


@dataclass
class MergeStats:
    files_rewritten: int
    files_added: int
    updated_or_deleted_candidates: int
    source_rows: int
    snapshot_id: int | None


@dataclass
class RowChange:
    snapshot: Snapshot | None  # None: nothing changed, nothing committed
    files_rewritten: int
    added: list[DataFile]  # data files written (a delete sidecar is not one)
    rows_hit: int  # rows ``hits`` selected: rewritten away or sidecar-deleted


def change_rows(
    spark: SparkSession,
    table: LakeTable,
    candidates: list[DataFile],
    dels: list[DataFile],
    hits: Callable[[DataFrame], DataFrame],
    keep: Callable[[DataFrame], DataFrame] | None = None,
    mode: str = "cow",
    operation: str = "merge",
    inserts: DataFrame | None = None,
    insert_rows: dict[str, int] | None = None,
    live: list[DataFile] = (),
    summary: dict | None = None,
    branch: str | None = None,
) -> RowChange:
    """THE row-level change: find the rows of ``candidates`` that change,
    write their replacement and commit once.

    ``hits(tagged)`` narrows the position-tagged live scan of ``candidates``
    (``dels``, the sidecars the plan baked in, applied) to the changing rows.
    ``inserts`` are new rows, ``insert_rows`` their count per partition key.

    - ``mode="cow"``: one grouped collect of the hits finds the touched files
      and the partition key of their rows; ``keep`` of those files' live rows
      ∪ ``inserts`` is routed, each written partition sized ceil((touched
      bytes + inserts × the mean row width of ``live``) / TARGET_FILE_SIZE)
      files; one ``replace_files`` commits it, conflicting with any sidecar
      newer than ``dels`` on a touched file. Without ``inserts`` and hits it
      commits nothing.
    - ``mode="mor"``: the hits' tags become one delete sidecar, inserts are
      routed the same way, and ONE commit adds both; it conflicts if a file
      the sidecar references is no longer live (a racing compaction would
      otherwise bake the rows back in). With neither it commits nothing.
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"{operation}: unknown mode {mode!r} ('cow' or 'mor')")
    part_cols = table.meta.partition_by
    tagged = table._tagged_live_scan(spark, candidates, delete_files=dels) if candidates else None
    touched: dict[str, list[DataFile]] = {}
    sidecars: list[DataFile] = []
    rows_hit = 0
    if mode == "mor":
        if tagged is not None:
            sidecars = table._write_delete_sidecar(hits(tagged), candidates)
        rows_hit = sum(f.records for f in sidecars)
    elif tagged is not None:
        # the partition key of the rows (the key the router slots them by),
        # whatever the file's partition dict says
        by_name = {os.path.basename(f.path): f for f in candidates}
        for r in (
            hits(tagged)
            .groupBy("_dfile", partition_key_col(part_cols).alias("_pkey"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ):
            rows_hit += r["n"]
            touched.setdefault(r["_pkey"], []).append(by_name[r["_dfile"]])
    touched_files = [f for files in touched.values() for f in files]
    if mode == "cow" and not touched_files and inserts is None:
        return RowChange(None, 0, [], 0)

    new_data = inserts
    if touched_files:
        # read_files with the plan's sidecars: pending MoR deletes on touched
        # files are baked into the rewrite, not resurrected
        survivors = keep(table.read_files(spark, touched_files, delete_files=dels))
        new_data = survivors if inserts is None else survivors.unionByName(inserts)
    insert_rows = insert_rows or {}
    live_rows = sum(f.records for f in live)
    row_bytes = sum(f.bytes for f in live) / live_rows if live_rows else 0
    group = []
    for k in sorted(touched.keys() | insert_rows.keys()):
        files = touched.get(k, [])
        est = sum(f.bytes for f in files) + insert_rows.get(k, 0) * row_bytes
        n_files = max(1, math.ceil(est / TARGET_FILE_SIZE))
        group.append(PartitionPlan(files[0].partition if files else {}, k, files, n_files, operation))
    added = table._write_datafiles(_route(spark, new_data, group, part_cols, None)) if group else []
    info = {
        **(summary or {}),
        "files-rewritten": len(touched_files),
        "files-added": len(added),
        "partitions-written": len({partition_key(f.partition) for f in added}),
    }
    if mode == "mor":
        if not sidecars and not added:
            return RowChange(None, 0, [], 0)
        snap = table._commit(
            operation, added=sidecars + added, replaced=[],
            summary={**info, "mor-delete-entries": rows_hit}, branch=branch,
            require_live=[p for f in sidecars for p in f.refs],
        )
    else:
        snap = table.replace_files(
            [f.path for f in touched_files], added, operation=operation, summary=info,
            branch=branch, known_sidecars={f.path for f in dels},
        )
    return RowChange(snap, len(touched_files), added, rows_hit)


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    source: DataFrame,
    key: str = "doc_id",
    deleted_col: str = "deleted",
    ledger: Ledger | None = None,
    branch: str | None = None,
) -> MergeStats:
    """Run the MERGE. ``source`` must carry the table schema + optional
    ``deleted`` flag column.

    With ``branch``, the MERGE reads from and commits to the WAP staging
    branch: main readers see nothing until ``publish_branch`` — the full
    Write-Audit-Publish shape for a bulk upsert."""
    data_cols = [f.name for f in table.schema.fields]
    part_cols = table.meta.partition_by
    has_delete = deleted_col in source.columns
    src = source.select(*data_cols, *( [deleted_col] if has_delete else [] )).cache()
    # fail loudly on source type drift (same policy as append's _check_schema):
    # select() catches missing columns, but a long n_tok against an int table
    # column would otherwise write drifted parquet behind the table schema
    table._check_schema(src.select(*data_cols))
    if has_delete:
        dt = dict((f.name, f.dataType.simpleString()) for f in src.schema.fields)[deleted_col]
        if dt != "boolean":
            raise ValueError(f"MERGE {deleted_col!r} column must be boolean, got {dt}")
    # materialize the cache once with the one aggregate the layout needs:
    # source rows and upsert rows per partition key (a NULL flag deletes,
    # as the upsert filter below reads it)
    is_upsert = ~F.col(deleted_col) if has_delete else F.lit(True)
    src_counts = (
        src.groupBy(partition_key_col(part_cols).alias("_pkey"))
        .agg(F.count(F.lit(1)).alias("n"), F.count(F.when(is_upsert, 1)).alias("up"))
        .collect()
    )
    n_src = sum(r["n"] for r in src_counts)
    upsert_rows = {r["_pkey"]: r["up"] for r in src_counts if r["up"]}

    # ---- 1. pruning: which live files can contain a source key?
    head = table.branch_head(branch) if branch else None
    live = table.files(snapshot_id=head)
    candidates = live
    # metadata prune on doc_id min/max (driver-side over manifests): one
    # Arrow collect of the distinct non-NULL source keys, then a bisect per
    # file's [kmin, kmax]. GATED on the same BROADCAST_KEY_LIMIT as the exact
    # confirm: a 50M-key source would be a driver-OOM-sized collect for a
    # prune that buys nothing (a source that large hits nearly every file
    # anyway, and the exact semi-join owns correctness either way).
    if live and n_src <= BROADCAST_KEY_LIMIT and all(key in f.stats for f in live):
        sorted_keys = _sorted_keys(src, key)
        if sorted_keys is not None:
            candidates = [f for f in live if _may_hold(sorted_keys, *f.stats[key])]

    # ---- 2. exact confirm (semi-join on the source keys), then rewrite the
    # touched files without them (anti-join) ∪ the upserts, one commit. The
    # scan is the table's position-tagged live scan (input_file_name()
    # rejects multi-source plans once the sidecar anti-join joins in): a row
    # already MoR-deleted must not mark its file touched nor survive into
    # the rewrite.
    keys = src.select(key)
    small = n_src <= BROADCAST_KEY_LIMIT
    upserts = (src.filter(~F.col(deleted_col)) if has_delete else src).select(*data_cols)
    res = change_rows(
        spark, table, candidates, table.delete_files(snapshot_id=head),
        hits=lambda tagged: tagged.join(
            F.broadcast(keys.distinct()) if small else keys.distinct(), key, "left_semi"),
        keep=lambda df: df.join(F.broadcast(keys) if small else keys, key, "left_anti"),
        inserts=upserts,
        insert_rows=upsert_rows,
        live=live,
        summary={"source-rows": n_src, "files-pruned-by-stats": len(live) - len(candidates)},
        branch=branch,
    )
    if ledger:
        by_part: dict[str, int] = {}
        for f in res.added:
            k = partition_key(f.partition)
            by_part[k] = by_part.get(k, 0) + f.records
        for part, rows in by_part.items():
            ledger.mark_done("merge", part, res.files_rewritten, 0, rows, res.snapshot.snapshot_id)
    src.unpersist()
    return MergeStats(
        files_rewritten=res.files_rewritten,
        files_added=len(res.added),
        updated_or_deleted_candidates=res.rows_hit,
        source_rows=n_src,
        snapshot_id=res.snapshot.snapshot_id,
    )


def _sorted_keys(src: DataFrame, key: str) -> list | None:
    """The distinct non-NULL values of ``src[key]``, sorted — or None when the
    key is neither an integer nor a binary-collated string: other types'
    manifest stats (stringified dates, decimals, NaN-bearing floats) do not
    order like the values."""
    dt = src.schema[key].dataType
    if not (isinstance(dt, T.IntegralType) or dt == T.StringType()):
        return None
    keys = src.select(key).where(F.col(key).isNotNull()).distinct().toArrow()
    return sorted(keys.column(0).to_pylist())


def _may_hold(keys: list, kmin, kmax) -> bool:
    """Some key in the sorted ``keys`` lies in [kmin, kmax]."""
    i = bisect.bisect_left(keys, kmin)
    return i < len(keys) and keys[i] <= kmax
