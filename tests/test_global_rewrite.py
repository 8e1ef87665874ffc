"""Clustered rewrite through both entry points — rewrite_global (one
scan+shuffle over the plan) and rewrite_partitions (the plan packed into
bounded groups, one scan+shuffle each) — with per-partition commits."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from octocode_spark.datagen import sequences
from octocode_spark.functions.digest import group_counts, table_digest
from octocode_spark.lakehouse import LakeTable, Ledger
from octocode_spark.lakehouse import maintenance as maint
from octocode_spark.lakehouse.maintenance import (
    CompactionPlan,
    PartitionPlan,
    _route,
    plan_compaction,
    rewrite_global,
    rewrite_partitions,
)
from octocode_spark.lakehouse.table import NULL_PARTITION
from tests.conftest import make_sequences_table

# every way the engine runs a clustered rewrite: "range" is rewrite_global's
# one group over the whole plan, which full_maintenance picks for major
# compactions; "partitions_threaded" is its default for incremental
# touch-ups (max_concurrency=4; the id dates from when that mode ran one job
# per partition on a thread pool)
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



ESCAPED = "2024-01-01 00:00:00 50%#?[a/b=c] "


def _escaped_values_table(spark, root: str) -> LakeTable:
    """The sequences table with ``source`` values Spark %XX-escapes in
    directory names (':' as in every timestamp, '%', '#', '?', '[', '/',
    '=') and NULLs (Spark's __HIVE_DEFAULT_PARTITION__ directory)."""
    df = sequences(spark, 4000, max_tok_cap=4096).withColumn(
        "source",
        F.when(F.xxhash64("doc_id") % 9 == 0, F.lit(None)).otherwise(F.concat(F.lit(ESCAPED), F.col("source"))),
    )
    t = LakeTable.create(root, df.schema, partition_by=["source"], stat_cols=["n_tok", "doc_id"])
    t.append(df.repartition(24))
    return t


@pytest.mark.parametrize("case", ["single_file", "multi_file", "escaped_values"])
@pytest.mark.parametrize("entry", list(ENTRY_POINTS))
def test_rewrite_gives_each_partition_exactly_its_target_files(spark, tmp_path, entry, case):
    """Every planned partition ends with exactly min(target_files, rows) new
    files, however many partitions share a shuffle. A range shuffle over
    (partition, curve key) let ranges cross partition boundaries: on a plan
    of single-file partitions it wrote about twice the planned files.
    Partition values Spark escapes in directory names find their own slots
    too, because partition dicts hold the unescaped value."""
    root = str(tmp_path / "t")
    if case == "escaped_values":
        t = _escaped_values_table(spark, root)
        values = {f.partition["source"] for f in t.files()}
        assert NULL_PARTITION in values
        assert all(v.startswith(ESCAPED) for v in values - {NULL_PARTITION})
    else:
        t = make_sequences_table(spark, root, n_rows=4000, small_files=24, max_tok_cap=4096)
    target = None if case == "single_file" else 192 * 1024
    plan = plan_compaction(t, **({"target_file_size": target} if target else {}))
    assert len(plan.partitions) >= 8
    assert (max(p.target_files for p in plan.partitions) > 1) == bool(target)
    before = {f.path for f in t.files()}
    ENTRY_POINTS[entry](spark, t, plan)
    new = {k: [f for f in fs if f.path not in before] for k, fs in t.partitions().items()}
    got = {p.key: len(new.get(p.key, [])) for p in plan.partitions}
    want = {p.key: min(p.target_files, p.records) for p in plan.partitions}
    assert got == want


def _record_groups(monkeypatch) -> list[list[PartitionPlan]]:
    """Replace the rewrite body with a recorder of the groups it is given."""
    groups: list[list[PartitionPlan]] = []

    def fake(spark, table, group, ledger, op, cluster_by, res, fail_after=None):
        groups.append(list(group))
        res.partitions_done.extend(p.key for p in group)

    monkeypatch.setattr(maint, "_rewrite_group", fake)
    return groups


def test_rewrite_partitions_packs_small_partitions_into_one_group(spark, tmp_table_dir, monkeypatch):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=2000, small_files=16)
    plan = plan_compaction(t)
    assert all(p.target_files == 1 for p in plan.partitions)
    assert 1 < len(plan.partitions) <= 16 <= 4 * spark.sparkContext.defaultParallelism
    groups = _record_groups(monkeypatch)
    res = rewrite_partitions(spark, t, plan, cluster_by="zorder", max_concurrency=4)
    assert groups == [plan.partitions]
    assert res.partitions_done == [p.key for p in plan.partitions]


def test_rewrite_partitions_splits_groups_at_the_bound(spark, monkeypatch):
    bound = 4 * spark.sparkContext.defaultParallelism
    sizes = [2 * bound + 1, bound, bound - 1, 3, 2, 2] + [1] * bound
    plan = CompactionPlan([
        PartitionPlan({"source": f"s{i}"}, f"source=s{i}", [], n, "small-files") for i, n in enumerate(sizes)
    ])
    no_history = SimpleNamespace(meta=SimpleNamespace(snapshots=[]))
    groups = _record_groups(monkeypatch)
    rewrite_partitions(spark, no_history, plan, max_concurrency=4)
    assert [p for g in groups for p in g] == plan.partitions  # each once, largest first
    assert len(groups) > 1
    for g in groups:
        assert len(g) == 1 or sum(p.target_files for p in g) <= bound, [p.target_files for p in g]


def test_route_plan_stays_bounded_at_500_partitions(spark):
    """The routing plan must not grow with the group: offsets and cut points
    ride in a broadcast-joined relation, not in per-partition expressions.
    500 planned partitions of 5 target files each plan in a tree comparable
    to a 5-partition one, and every row lands in one of its own partition's
    five slots."""
    base = sequences(spark, 5000, max_tok_cap=256).drop("source")

    def routed(n_parts: int):
        df = base.withColumn("source", F.concat(F.lit("s"), F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("string")))
        group = [PartitionPlan({"source": f"s{i}"}, f"source=s{i}", [], 5, "recluster")
                 for i in range(n_parts)]
        out = _route(spark, df, group, ["source"], "zorder")
        return out, out._jdf.queryExecution().optimizedPlan().toString()

    _, plan5 = routed(5)
    df500, plan500 = routed(500)
    assert len(plan500) < 2 * len(plan5) + 2000, (len(plan5), len(plan500))
    slots = df500.select("source", F.spark_partition_id().alias("slot")).distinct().collect()
    for r in slots:
        assert int(r["source"][1:]) == r["slot"] // 5, (r["source"], r["slot"])
    per_part = {}
    for r in slots:
        per_part.setdefault(r["source"], set()).add(r["slot"])
    assert max(len(s) for s in per_part.values()) == 5  # cut points split partitions
