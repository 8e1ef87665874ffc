"""MERGE INTO semantics: update / insert / delete arms, pruning, layout.

Expected results are computed independently with plain DataFrame set algebra
(anti-join + union), the same oracle construction the reference's
differential tests use (src/indexer/differential_processor.rs:132-201).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from octocode_spark.datagen import sequence_updates, sequences
from octocode_spark.functions.digest import table_digest
from octocode_spark.lakehouse.maintenance import plan_compaction, rewrite_partitions
from octocode_spark.lakehouse.merge import merge_into
from tests.conftest import make_sequences_table

N = 2500


def _expected_after_merge(spark, n_rows, updates):
    base = sequences(spark, n_rows, max_tok_cap=256)
    survivors = base.join(updates.select("doc_id"), "doc_id", "left_anti")
    upserts = updates.filter(~F.col("deleted")).select("doc_id", "tokens", "n_tok", "source")
    return survivors.unionByName(upserts)


def test_merge_update_insert_delete(spark, tmp_table_dir):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=N, small_files=16)
    updates = sequence_updates(spark, N, 600, max_tok_cap=256)
    expected = _expected_after_merge(spark, N, updates)

    # the delete arm must target rows that actually exist pre-merge,
    # otherwise the delete assertions below are vacuous
    pre = sequences(spark, N, max_tok_cap=256).select("doc_id")
    deleted_existing = updates.filter("deleted").join(pre, "doc_id", "left_semi").count()
    assert deleted_existing > 0

    stats = merge_into(spark, t, updates)
    got = t.read(spark)
    assert table_digest(got) == table_digest(expected)
    assert stats.snapshot_id is not None

    # delete arm really removed rows
    deleted_ids = updates.filter("deleted").select("doc_id")
    assert got.join(deleted_ids, "doc_id", "left_semi").count() == 0
    # update arm really mutated tokens
    upd_ids = updates.filter("not deleted").select("doc_id", F.col("n_tok").alias("new_n"))
    mismatch = (
        got.join(upd_ids, "doc_id")
        .filter("n_tok != new_n")
        .count()
    )
    assert mismatch == 0


def test_merge_prunes_untouched_files(spark, tmp_table_dir):
    """A MERGE whose keys live in one partition must not rewrite other
    partitions' files (file-level pruning via doc_id min/max + semi-join)."""
    t = make_sequences_table(spark, tmp_table_dir, n_rows=N, small_files=16)
    # compact first so files have tight doc_id ranges
    rewrite_partitions(spark, t, plan_compaction(t), cluster_by=None)
    before = {f.path for f in t.files()}
    wiki_files = {f.path for f in t.files(partition_filter={"source": "wikipedia"})}

    one = (
        t.read(spark)
        .filter("source = 'wikipedia'")
        .limit(5)
        .withColumn("deleted", F.lit(False))
        .withColumn("tokens", F.slice("tokens", 1, 8))
        .withColumn("n_tok", F.least("n_tok", F.lit(8)).cast("int"))
    )
    stats = merge_into(spark, t, one)
    after = {f.path for f in t.files()}
    untouched_elsewhere = before - wiki_files
    assert untouched_elsewhere <= after  # only wikipedia files were replaced
    assert stats.files_rewritten <= len(wiki_files)


def test_merge_insert_only_into_empty_partition_space(spark, tmp_table_dir):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=500, small_files=4)
    pre_rows = t.read(spark).count()
    fresh = (
        sequences(spark, 520, max_tok_cap=64)
        .filter("cast(substring(doc_id, -12, 12) as long) >= 500")
        .withColumn("deleted", F.lit(False))
    )
    merge_into(spark, t, fresh)
    assert t.read(spark).count() == pre_rows + 20


def test_merge_rejects_source_type_drift(spark, tmp_table_dir):
    """MERGE must fail loudly when a source column's TYPE drifts from the
    table schema (select() only catches missing columns), and when the
    deleted flag is not boolean — same policy as append's _check_schema."""
    import pytest

    t = make_sequences_table(spark, tmp_table_dir, n_rows=200, small_files=4)
    drifted = sequence_updates(spark, 200, 50, max_tok_cap=256).withColumn(
        "n_tok", F.col("n_tok").cast("long")
    )
    with pytest.raises(ValueError, match="schema drift"):
        merge_into(spark, t, drifted)
    bad_flag = sequence_updates(spark, 200, 50, max_tok_cap=256).withColumn(
        "deleted", F.col("deleted").cast("int")
    )
    with pytest.raises(ValueError, match="must be boolean"):
        merge_into(spark, t, bad_flag)
    # the table is untouched by either rejected merge
    assert t.read(spark).count() == 200


def test_merge_evaluates_the_anti_join_once(spark, tmp_table_dir):
    """Plan evidence for the double-scan fix: the touched-file scan +
    anti-join is the child of exactly one SQL execution (the write), and no
    sampling exchange (range bounds, percentile cut points) sits over the
    survivors ∪ upserts union — sampling would re-execute that child."""
    t = make_sequences_table(spark, tmp_table_dir, n_rows=N, small_files=8)
    updates = sequence_updates(spark, N, 400, max_tok_cap=256)
    expected = _expected_after_merge(spark, N, updates)

    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        it = store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    seen = {e.executionId() for e in executions()}
    merge_into(spark, t, updates)
    plans = [e.physicalPlanDescription() for e in executions() if e.executionId() not in seen]
    anti = [p for p in plans if "LeftAnti" in p]
    assert len(anti) == 1, f"anti-join evaluated by {len(anti)} executions"
    assert "rangepartitioning" not in anti[0].lower()
    assert "percentile" not in anti[0].lower()
    assert table_digest(t.read(spark)) == table_digest(expected)


def test_merge_writes_each_partition_its_target_files(spark, tmp_table_dir, monkeypatch):
    """MERGE writes survivors ∪ upserts through the compaction router: each
    partition it writes gains exactly its planned target_files — one at the
    default target, however many files the partition held — so maintenance
    has no sliver to fold. Covers updates, deletes, multi-file partitions and
    inserts into a partition the table does not have yet."""
    from octocode_spark.lakehouse import merge as merge_mod
    from octocode_spark.lakehouse.table import partition_key

    def gained(before: set[str]) -> dict[str, int]:
        out: dict[str, int] = {}
        for f in t.files():
            if f.path not in before:
                k = partition_key(f.partition)
                out[k] = out.get(k, 0) + 1
        return out

    t = make_sequences_table(spark, tmp_table_dir, n_rows=N, small_files=16)
    assert min(len(fs) for fs in t.partitions().values()) > 1
    fresh = (
        sequences(spark, 30, max_tok_cap=256)
        .withColumn("doc_id", F.concat(F.lit("new-"), "doc_id"))
        .withColumn("source", F.lit("brand-new"))
        .withColumn("deleted", F.lit(False))
    )
    updates = sequence_updates(spark, N, 600, max_tok_cap=256).unionByName(fresh)
    expected = _expected_after_merge(spark, N, updates)

    before = {f.path for f in t.files()}
    merge_into(spark, t, updates)
    added = gained(before)
    assert "source=brand-new" in added and len(added) > 2
    assert set(added.values()) == {1}, added
    summary = t.meta.snapshot().summary
    assert summary["files-added"] == sum(added.values())
    assert summary["partitions-written"] == len(added)
    assert table_digest(t.read(spark)) == table_digest(expected)

    # a smaller target splits the bigger partitions: each still gains
    # exactly the target_files the router was planned with
    groups = []
    orig = merge_mod._route

    def spy(spark_, df, group, *a):
        groups.append(group)
        return orig(spark_, df, group, *a)

    monkeypatch.setattr(merge_mod, "_route", spy)
    monkeypatch.setattr(merge_mod, "TARGET_FILE_SIZE", 48 << 10)
    before = {f.path for f in t.files()}
    merge_into(spark, t, sequence_updates(spark, N + 600, 300, max_tok_cap=256))
    planned = {p.key: p.target_files for p in groups[0]}
    assert max(planned.values()) > 1, planned
    assert gained(before) == planned


def test_merge_huge_source_skips_bounds_prune_broadcast(spark, tmp_table_dir, monkeypatch):
    """Sources above BROADCAST_KEY_LIMIT must neither collect nor broadcast
    their distinct keys for the min/max bounds prune (round-5 verdict wrong
    #2: a 50M-key source would OOM the driver or executors for a prune that
    buys nothing). The gate skips the prune entirely — every live file
    becomes a candidate, correctness still owned by the exact semi-join.
    Limit shrunk via monkeypatch so a 600-key source counts as 'huge'."""
    from octocode_spark.lakehouse import merge as merge_mod

    t = make_sequences_table(spark, tmp_table_dir, n_rows=N, small_files=8)
    updates = sequence_updates(spark, N, 600, max_tok_cap=256)
    expected = _expected_after_merge(spark, N, updates)

    monkeypatch.setattr(merge_mod, "BROADCAST_KEY_LIMIT", 100)
    DataFrame = type(updates)
    broadcast_children = []
    orig = F.broadcast

    def spy(df):
        broadcast_children.append(df._jdf.queryExecution().analyzed().toString())
        return orig(df)

    arrow_collects = []
    orig_to_arrow = DataFrame.toArrow

    def spy_to_arrow(df):
        arrow_collects.append(df._jdf.queryExecution().analyzed().toString())
        return orig_to_arrow(df)

    monkeypatch.setattr(merge_mod.F, "broadcast", spy)
    monkeypatch.setattr(DataFrame, "toArrow", spy_to_arrow)
    stats = merge_into(spark, t, updates)
    # no broadcast call may carry the distinct source keys of the prune
    # (the MoR sidecar anti-join broadcast, if any, is fine — it is bounded
    # by delete-file size, not source size), and no key set is collected
    # (Dataset.distinct() analyzes to a Deduplicate node)
    for plan in broadcast_children:
        assert "Distinct" not in plan and "Deduplicate" not in plan, (
            f"bounds-prune key broadcast not gated:\n{plan}")
    assert arrow_collects == [], "bounds-prune key collect not gated"
    assert stats.snapshot_id is not None
    assert table_digest(t.read(spark)) == table_digest(expected)

    # control: under the limit the prune collects the distinct keys once
    monkeypatch.setattr(merge_mod, "BROADCAST_KEY_LIMIT", 1_000_000)
    merge_into(spark, t, sequence_updates(spark, N, 50, max_tok_cap=256))
    assert len(arrow_collects) == 1 and "Deduplicate" in arrow_collects[0]
