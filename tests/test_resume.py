"""Kill/resume from the per-partition checkpoint ledger (north rule; F3).

Contract from the reference: partial state retained, markers not advanced,
rerun resumes exactly the unfinished work (src/indexer/mod.rs:888-894 +
persist_and_store_metadata ordering :494-574).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from octocode_spark.functions.digest import table_digest
from octocode_spark.lakehouse import Ledger
from octocode_spark.lakehouse.maintenance import plan_compaction, rewrite_partitions
from tests.conftest import make_sequences_table


def test_kill_then_resume_replays_only_unfinished(spark, tmp_table_dir, tmp_path):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=3000, small_files=24)
    pre = table_digest(t.read(spark))
    ledger = Ledger(str(tmp_path / "ledger"))
    plan = plan_compaction(t)
    n_parts = len(plan.partitions)
    assert n_parts >= 4
    k = n_parts // 2

    with pytest.raises(RuntimeError, match="simulated kill"):
        rewrite_partitions(spark, t, plan, ledger=ledger, cluster_by="zorder", fail_after=k)

    # the table is still fully consistent mid-run: every commit was atomic
    assert table_digest(t.read(spark)) == pre
    done_rows = [r for r in ledger.all_rows("compact") if r.status == "done"]
    assert len(done_rows) == k

    # resume: replan against current metadata, rerun with the same ledger
    t.refresh()
    plan2 = plan_compaction(t)
    res2 = rewrite_partitions(spark, t, plan2, ledger=ledger, cluster_by="zorder")
    # only the n-k unfinished partitions were rewritten
    done_keys = {r.partition for r in done_rows}
    assert set(res2.partitions_done).isdisjoint(done_keys)
    assert len(res2.partitions_done) == n_parts - k
    assert table_digest(t.read(spark)) == pre
    # ledger now fully done
    assert len(ledger.done_partitions("compact")) == n_parts


def _data_files_on_disk(t) -> set[str]:
    data = os.path.join(t.root, "data")
    return {os.path.relpath(os.path.join(d, n), t.root) for d, _, names in os.walk(data) for n in names}


def test_kill_mid_group_then_resume_and_orphan_gc(spark, tmp_table_dir, tmp_path):
    """The planned partitions share one group, so the kill lands after its
    write and k of its commits: the other partitions' outputs are in data/
    but referenced by no snapshot. Resume finishes them; orphan GC then
    leaves data/ holding only live files and sidecars."""
    t = make_sequences_table(spark, tmp_table_dir, n_rows=3000, small_files=24)
    victim = t.read(spark).select("doc_id").first()["doc_id"]
    t.delete_where(spark, F.col("doc_id") == victim, mode="mor")
    pre = table_digest(t.read(spark))
    ledger = Ledger(str(tmp_path / "ledger"))
    plan = plan_compaction(t)
    n_parts = len(plan.partitions)
    assert n_parts >= 4
    # one group at max_concurrency=4
    assert sum(p.target_files for p in plan.partitions) <= 4 * spark.sparkContext.defaultParallelism
    k = n_parts // 2

    with pytest.raises(RuntimeError, match="simulated kill"):
        rewrite_partitions(spark, t, plan, ledger=ledger, cluster_by="zorder", max_concurrency=4,
                           fail_after=k)
    assert table_digest(t.read(spark)) == pre
    done_rows = [r for r in ledger.all_rows("compact") if r.status == "done"]
    assert len(done_rows) == k
    snap_ids = [s.snapshot_id for s in t.meta.snapshots]
    referenced = {f.path for i in snap_ids for f in t.files(snapshot_id=i) + t.delete_files(snapshot_id=i)}
    staged = _data_files_on_disk(t) - referenced
    assert staged  # the uncommitted partitions' outputs of the killed group

    t.refresh()
    res = rewrite_partitions(spark, t, plan_compaction(t), ledger=ledger, cluster_by="zorder",
                             max_concurrency=4)
    assert set(res.partitions_done).isdisjoint(r.partition for r in done_rows)
    assert len(res.partitions_done) == n_parts - k
    assert len(ledger.done_partitions("compact")) == n_parts
    assert table_digest(t.read(spark)) == pre

    now = int(time.time() * 1000) + 1000
    t.expire_snapshots(older_than_ms=now, retain_last=1)
    t.remove_orphan_files(older_than_ms=now)
    on_disk = _data_files_on_disk(t)
    assert on_disk == {f.path for f in t.files()} | {f.path for f in t.delete_files()}
    assert staged.isdisjoint(on_disk)
    assert table_digest(t.read(spark)) == pre


def test_resume_revalidates_lineage(spark, tmp_table_dir, tmp_path):
    """A done ledger row whose commit_id is NOT in the snapshot log (lineage
    drift — e.g. the table was replaced) must be replayed, mirroring the
    reference's branch-coherence refusal (src/indexer/search.rs:720-746)."""
    t = make_sequences_table(spark, tmp_table_dir, n_rows=1500, small_files=12)
    ledger = Ledger(str(tmp_path / "ledger"))
    plan = plan_compaction(t)
    key = plan.partitions[0].key
    # forge a done row with a bogus snapshot id
    ledger.mark_done("compact", key, 1, 1, 1, commit_id=123456789)
    res = rewrite_partitions(spark, t, plan, ledger=ledger)
    assert key in res.partitions_done  # replayed despite 'done' marker


def test_ledger_write_ordering(spark, tmp_table_dir, tmp_path):
    """Ledger rows must reference snapshots that exist in the table log —
    evidence that data commit precedes ledger write (C3)."""
    t = make_sequences_table(spark, tmp_table_dir, n_rows=1500, small_files=12)
    ledger = Ledger(str(tmp_path / "ledger"))
    rewrite_partitions(spark, t, plan_compaction(t), ledger=ledger)
    snap_ids = {s.snapshot_id for s in t.meta.snapshots}
    for row in ledger.all_rows("compact"):
        if row.status == "done":
            assert row.commit_id in snap_ids
