"""Changelog-driven table replication: follow a source LakeTable's snapshot
log and apply its row-level deltas to a destination table — the reference's
watcher → incremental-reindex loop (src/mcp/watcher.rs:33-142, the git-diff
incremental source S3) composed with the CDC scan.

Two application modes:

``replicate_changelog`` — each source commit's delta applies as its OWN
destination commit, in ancestry order: a key deleted and re-appended across
two source commits lands delete-then-insert, and a row inserted then deleted
nets to absent, exactly mirroring source state commit-for-commit. Deletes
apply as merge-on-read positional deletes keyed on ``key`` via a CLUSTER-SIDE
semi-join (``delete_where_keys`` — the delete keys never touch the driver and
never appear as plan literals); inserts append.

``replicate_coalesced`` — the reference watcher's DEBOUNCE semantics
(watcher.rs:33-62: N filesystem events coalesce into one reindex): the whole
window of source commits folds into ONE destination commit. Net effect per
key, not per event — changed keys' old copies are semi-join-deleted and their
window-end live rows re-inserted from the source head, so a key inserted then
deleted inside the window nets to absent and a chatty 100-commit source costs
one metadata commit instead of a commit storm. It is a merge-on-read
``merge.change_rows``, the executor MERGE and DELETE commit through: the
delete sidecar and the inserts (routed to their partitions' target file
counts) land in the SAME atomic snapshot, which conflicts if a racing
compaction replaced a file the sidecar references. Unlike the per-commit
mode, replaying a coalesced window is IDEMPOTENT (re-deleting the changed
keys and re-inserting the same head-state rows is a fixpoint), so it is also
the crash-recovery path.

Cursor discipline: the caller persists the returned snapshot id (e.g. in a
Ledger row) AFTER the destination commits land and passes it back next round
(C3 write ordering: data commit first, cursor after). Per-commit replay is
idempotent for deletes but NOT for inserts (append has no key guard) — on a
crash between commit and cursor write, re-sync with ``replicate_coalesced``
(or MERGE) instead.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from octocode_spark.lakehouse.merge import change_rows
from octocode_spark.lakehouse.table import LakeTable, partition_key_col


def replicate_changelog(
    spark: SparkSession,
    src: LakeTable,
    dst: LakeTable,
    from_snapshot_id: int,
    key: str,
    to_snapshot_id: int | None = None,
) -> int:
    """Apply src's changes after ``from_snapshot_id`` (up to
    ``to_snapshot_id``, default current) to dst, one destination commit per
    source commit. Returns the new cursor (the last applied source snapshot
    id, or ``from_snapshot_id`` when nothing changed)."""
    cursor = from_snapshot_id
    for s in src.refresh()._main_window(from_snapshot_id, to_snapshot_id):
        delta = src.changelog_read(spark, from_snapshot_id=cursor, to_snapshot_id=s.snapshot_id)
        # deletes FIRST: within one source commit the delete rows are the
        # PRE-existing copies (a same-commit insert+delete pair cannot occur;
        # appends and MoR deletes are distinct operations), so removing by
        # key before appending reproduces the source's final state. The keys
        # stay a DataFrame end to end — semi-joined against the destination
        # scan, written straight into the sidecar (no driver collect, no
        # isin literal: a 10M-row source delete is one shuffle here). The
        # isEmpty probe touches only the single-commit delta, so append-only
        # commits never pay the full destination scan the keyed delete costs.
        del_keys = delta.filter(F.col("_change_type") == "delete").select(key)
        if not del_keys.isEmpty():
            dst.delete_where_keys(spark, del_keys, mode="mor")
        ins = (
            delta.filter(F.col("_change_type") == "insert")
            .drop("_change_type", "_snapshot_id")
        )
        if not ins.isEmpty():
            dst.append(ins)
        cursor = s.snapshot_id
    return cursor


def replicate_coalesced(
    spark: SparkSession,
    src: LakeTable,
    dst: LakeTable,
    from_snapshot_id: int,
    key: str,
    to_snapshot_id: int | None = None,
) -> int:
    """Fold the whole (from, to] window into ONE destination commit (see
    module doc). Returns the new cursor."""
    window = src.refresh()._main_window(from_snapshot_id, to_snapshot_id)
    if not window:
        return from_snapshot_id
    head = window[-1].snapshot_id
    delta = src.changelog_read(spark, from_snapshot_id=from_snapshot_id, to_snapshot_id=head)
    # materialize the (small, one-column) changed-key frame ONCE: it feeds
    # BOTH the destination-hits semi-join and the head-state inserts
    # semi-join, and without a lineage cut each action replays the whole
    # multi-snapshot changelog scan (the same read-amplification class the
    # dedup Jaccard paths had)
    changed = delta.select(key).dropDuplicates([key]).localCheckpoint(eager=True)
    # net inserts = the source's WINDOW-END live rows of every changed key —
    # no event-order reasoning needed, and duplicate-key sources replicate
    # all surviving copies; one grouped count sizes their layout
    inserts = (
        src.read(spark, snapshot_id=head).join(changed, key, "left_semi")
        .select(*dst.schema.names)
    )
    counts = inserts.groupBy(partition_key_col(dst.meta.partition_by).alias("_pkey")).count()
    files = dst.files()
    change_rows(
        spark, dst, files, dst.delete_files(),
        hits=lambda tagged: tagged.join(changed, key, "left_semi"),
        mode="mor",
        operation="replicate",
        inserts=inserts,
        insert_rows={r["_pkey"]: r["count"] for r in counts.collect()},
        live=files,
        summary={"source-window": f"{from_snapshot_id}..{head}"},
    )
    return head


def watch_replicate(
    spark: SparkSession,
    src: LakeTable,
    dst: LakeTable,
    cursor: int,
    key: str,
    rounds: int,
    on_cursor=None,
    max_consecutive_errors: int = 3,
    poll_interval_s: float = 0.0,
) -> int:
    """The watcher loop: each round debounce-coalesces everything the source
    committed since the cursor into one destination commit; transient errors
    are retried up to ``max_consecutive_errors`` CONSECUTIVE failures before
    the loop re-raises (the reference watcher's bounded error cap,
    watcher.rs:103-142 — an unreachable source must not spin forever).
    ``on_cursor`` (cursor persistence hook, e.g. a Ledger write) fires after
    each successful round, honoring C3 write ordering. Returns the final
    cursor. ``rounds`` bounds the loop for schedulability/testing; run it
    under an external scheduler for a long-lived tail."""
    import time

    errors = 0
    for rnd in range(rounds):
        try:
            new_cursor = replicate_coalesced(spark, src, dst, cursor, key)
            errors = 0
            if new_cursor != cursor:
                cursor = new_cursor
                if on_cursor is not None:
                    on_cursor(cursor)
        except Exception:
            errors += 1
            if errors >= max_consecutive_errors:
                raise
        if poll_interval_s and rnd + 1 < rounds:
            time.sleep(poll_interval_s)
    return cursor
