"""Clustered rewrite through both entry points — rewrite_global (one
scan+shuffle over the plan) and rewrite_partitions (one job per partition,
sequential or threaded) — with per-partition commits."""

from __future__ import annotations

import pytest

from octocode_spark.functions.digest import group_counts, table_digest
from octocode_spark.lakehouse import Ledger
from octocode_spark.lakehouse.maintenance import plan_compaction, rewrite_global, rewrite_partitions
from tests.conftest import make_sequences_table

# every way the engine runs a clustered rewrite: "range" is rewrite_global's
# one range shuffle over the whole plan, which full_maintenance picks for
# major compactions; "partitions_threaded" is its default for incremental
# touch-ups (max_concurrency=4)
ENTRY_POINTS = {
    "range": lambda spark, t, plan, **kw: rewrite_global(spark, t, plan, cluster_by="zorder", **kw),
    "partitions": lambda spark, t, plan, **kw: rewrite_partitions(spark, t, plan, cluster_by="zorder", **kw),
    "partitions_threaded": lambda spark, t, plan, **kw: rewrite_partitions(
        spark, t, plan, cluster_by="zorder", max_concurrency=4, **kw),
}


@pytest.mark.parametrize("entry", list(ENTRY_POINTS))
def test_global_rewrite_preserves_data_and_commits_per_partition(spark, tmp_table_dir, tmp_path, entry):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=3000, small_files=24)
    pre = table_digest(t.read(spark))
    pre_groups = {(r["source"], r["n_tok_bucket"]): r["cnt"] for r in group_counts(t.read(spark)).collect()}
    ledger = Ledger(str(tmp_path / "ledger"))
    plan = plan_compaction(t)
    n_parts = len(plan.partitions)

    res = ENTRY_POINTS[entry](spark, t, plan, ledger=ledger)
    assert len(res.partitions_done) == n_parts
    assert len(res.snapshots) == n_parts  # one atomic snapshot per partition
    assert table_digest(t.read(spark)) == pre
    post_groups = {(r["source"], r["n_tok_bucket"]): r["cnt"] for r in group_counts(t.read(spark)).collect()}
    assert post_groups == pre_groups
    # ledger lineage: every done row references a live snapshot
    snap_ids = {s.snapshot_id for s in t.meta.snapshots}
    for row in ledger.all_rows("compact"):
        assert row.status == "done" and row.commit_id in snap_ids


def test_global_rewrite_skips_ledger_done_partitions(spark, tmp_table_dir, tmp_path):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=2000, small_files=16)
    ledger = Ledger(str(tmp_path / "ledger"))
    plan = plan_compaction(t)
    # pretend the first partition already finished under a live snapshot
    done_key = plan.partitions[0].key
    live_snap = t.meta.current_snapshot_id
    ledger.mark_done("compact", done_key, 1, 1, 1, commit_id=live_snap)
    res = rewrite_global(spark, t, plan, ledger=ledger, cluster_by="zorder")
    assert done_key in res.partitions_skipped
    assert done_key not in res.partitions_done
    assert len(res.partitions_done) == len(plan.partitions) - 1


@pytest.mark.parametrize("entry", list(ENTRY_POINTS))
def test_global_rewrite_files_are_zorder_clustered(spark, tmp_table_dir, tmp_path, entry):
    """Clustering quality gate (FIXTURES.md F4 golden_minmax): at EQUAL
    output file counts, the z-ordered layout's per-file n_tok spans must be
    substantially tighter than unclustered compaction — i.e. the manifest
    min/max stats actually enable n_tok file-skipping."""
    from tests.conftest import make_sequences_table as mk

    t_plain = mk(spark, str(tmp_path / "plain"), n_rows=4000, small_files=24, max_tok_cap=4096)
    t_z = mk(spark, str(tmp_path / "zorder"), n_rows=4000, small_files=24, max_tok_cap=4096)

    def avg_ntok_span(files):
        spans = [f.stats["n_tok"][1] - f.stats["n_tok"][0] for f in files if "n_tok" in f.stats]
        return sum(spans) / len(spans)

    # z-order span reduction scales ~ nfiles^(1/3): compare at a realistic
    # many-files-per-partition geometry (the 100TB regime), not 1-2 files
    target = 192 * 1024
    rewrite_partitions(spark, t_plain, plan_compaction(t_plain, target_file_size=target),
                       cluster_by=None, target_file_size=target)
    ENTRY_POINTS[entry](spark, t_z, plan_compaction(t_z, target_file_size=target))
    plain_span = avg_ntok_span(t_plain.files())
    z_span = avg_ntok_span(t_z.files())
    assert z_span <= plain_span * 0.7, (z_span, plain_span)

