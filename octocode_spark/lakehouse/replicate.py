"""Changelog-driven table replication: follow a source LakeTable's snapshot
log and apply its row-level deltas to a destination table — the reference's
watcher → incremental-reindex loop (src/mcp/watcher.rs:33-142, the git-diff
incremental source S3) composed with the CDC scan.

Both modes apply a window of source commits the same way, through
``replicate_coalesced``: the keys the window's changelog names are
semi-join-deleted from the destination (merge-on-read: a delete sidecar, no
data file rewritten) and the source's window-end live rows of those keys are
re-inserted, routed to their partitions' target file counts. It is a
merge-on-read ``merge.change_rows``, the executor MERGE and DELETE commit
through: the sidecar and the inserts land in ONE atomic snapshot, which
conflicts if a racing compaction replaced a file the sidecar references.
Net effect per key, not per event: a key inserted then deleted inside the
window nets to absent, and duplicate-key sources replicate every surviving
copy.

``replicate_changelog`` — one destination commit per source commit, in
ancestry order (a one-commit window each), mirroring source state
commit-for-commit.

``replicate_coalesced`` — the reference watcher's DEBOUNCE semantics
(watcher.rs:33-62: N filesystem events coalesce into one reindex): the whole
window folds into ONE destination commit, so a chatty 100-commit source
costs one metadata commit instead of a commit storm.

Both modes are IDEMPOTENT: re-deleting the changed keys and re-inserting the
same source rows is a fixpoint, so replaying any prefix of an applied window
leaves the destination unchanged.

Cursor discipline: the caller persists the returned snapshot id (e.g. in a
Ledger row) AFTER the destination commits land and passes it back next round
(C3 write ordering: data commit first, cursor after). A cursor write lost in
a crash only replays.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from octocode_spark.lakehouse.merge import BROADCAST_KEY_LIMIT, _may_hold, _sorted_keys, change_rows
from octocode_spark.lakehouse.table import LakeTable


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
        cursor = replicate_coalesced(spark, src, dst, cursor, key, to_snapshot_id=s.snapshot_id)
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
    n_changed = changed.count()
    if not n_changed:
        return head
    # net inserts = the source's WINDOW-END live rows of every changed key —
    # no event-order reasoning needed. Their layout is sized from metadata
    # (counting them would run the source scan a second time): each
    # partition gets at most its rows and about one row per changed key, and
    # every partition is planned, because a changed key may keep a copy in a
    # partition the window never touched
    inserts = (
        src.read(spark, snapshot_id=head).join(changed, key, "left_semi")
        .select(*dst.schema.names)
    )
    files = dst.files()
    # metadata prune, as MERGE does: only destination files whose key
    # min/max can hold a changed key are scanned for hits
    candidates = files
    if n_changed <= BROADCAST_KEY_LIMIT and all(key in f.stats for f in files):
        keys = _sorted_keys(changed, key)
        if keys is not None:
            candidates = [f for f in files if _may_hold(keys, *f.stats[key])]
    change_rows(
        spark, dst, candidates, dst.delete_files(),
        hits=lambda tagged: tagged.join(changed, key, "left_semi"),
        mode="mor",
        operation="replicate",
        inserts=inserts,
        insert_rows={
            k: min(sum(f.records for f in fs), n_changed) for k, fs in src.partitions(head).items()
        },
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
