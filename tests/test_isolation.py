"""Snapshot isolation + concurrency (north rule; FIXTURES.md F5).

A reader pinned to a pre-compaction snapshot must see bitwise-identical data
while and after compaction rewrites the files underneath it; concurrent
committers must serialize via the optimistic-commit CAS (replacing the
reference's PID write lock, src/lock.rs:12-103).
"""

from __future__ import annotations

import threading

from octocode_spark.functions.digest import table_digest
from octocode_spark.lakehouse import CommitConflict, LakeTable
from octocode_spark.lakehouse.maintenance import plan_compaction, rewrite_partitions
from tests.conftest import make_sequences_table


def test_reader_pinned_during_compaction(spark, tmp_table_dir):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=2000, small_files=16)
    pin = t.meta.current_snapshot_id
    golden = table_digest(t.read(spark, snapshot_id=pin))

    # "concurrent" reader handle opened before the rewrite
    reader = LakeTable.load(tmp_table_dir)

    plan = plan_compaction(t)
    # interleave: compact one partition, read pinned, compact the rest
    first = plan
    first_one = type(plan)(partitions=plan.partitions[:1])
    rest = type(plan)(partitions=plan.partitions[1:])
    rewrite_partitions(spark, t, first_one, cluster_by="zorder")

    mid_digest = table_digest(reader.read(spark, snapshot_id=pin))
    assert mid_digest == golden  # serializable read mid-compaction

    rewrite_partitions(spark, t, rest, cluster_by="zorder")
    assert table_digest(reader.read(spark, snapshot_id=pin)) == golden
    # and the CURRENT snapshot has identical content (compaction preserves data)
    assert table_digest(reader.refresh().read(spark)) == golden


def test_concurrent_commit_race_serializes(spark, tmp_table_dir):
    """Two threads commit appends simultaneously; the CAS must serialize them
    into two snapshots with no lost update."""
    from octocode_spark.datagen import sequences

    df = sequences(spark, 600, max_tok_cap=64)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=["source"], stat_cols=[])
    handles = [LakeTable.load(tmp_table_dir) for _ in range(4)]
    staged = [
        h._write_datafiles(df.filter(f"pmod(xxhash64(doc_id), 4) = {i}"))
        for i, h in enumerate(handles)
    ]
    errs: list[Exception] = []

    def commit(h, files):
        try:
            h._commit("append", added=files, replaced=[])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(h, f)) for h, f in zip(handles, staged)]
    [x.start() for x in threads]
    [x.join() for x in threads]
    assert not errs
    t.refresh()
    assert len(t.meta.snapshots) == 4
    assert t.read(spark).count() == df.count()


def test_conflicting_rewrites_one_wins_one_replans(spark, tmp_table_dir):
    """Two compactions of the same files: exactly one commits, the loser gets
    CommitConflict and can replan — Iceberg CommitFailedException semantics."""
    t = make_sequences_table(spark, tmp_table_dir, n_rows=1000, small_files=8)
    pre = table_digest(t.read(spark))
    a, b = LakeTable.load(tmp_table_dir), LakeTable.load(tmp_table_dir)
    files = t.files()
    paths = [f.path for f in files]
    added_a = a._write_datafiles(a.read_files(spark, files).repartition(2))
    added_b = b._write_datafiles(b.read_files(spark, files).repartition(2))
    a.replace_files(paths, added_a)
    try:
        b.replace_files(paths, added_b)
        raise AssertionError("second replace must conflict")
    except CommitConflict:
        pass
    # loser replans against fresh metadata and succeeds
    b.refresh()
    plan = plan_compaction(b, force=True)
    rewrite_partitions(spark, b, plan)
    assert table_digest(b.read(spark)) == pre


def _metadata_only_table(root: str) -> LakeTable:
    """A table with one committed snapshot, built without a Spark job (its
    manifest names a data file that is never read)."""
    from pyspark.sql import types as T

    from octocode_spark.lakehouse.metadata import DataFile

    t = LakeTable.create(root, T.StructType([T.StructField("doc_id", T.StringType())]))
    t._commit("append", added=[DataFile("data/x.parquet", {}, 1, 1)], replaced=[])
    return t


def test_concurrent_metadata_commits_lose_no_update(tmp_table_dir):
    """8 handles race metadata-only commits (properties and branch refs)
    from their own threads: every one lands — a lost race re-applies its
    change to fresh metadata instead of overwriting the winner's."""
    _metadata_only_table(tmp_table_dir)
    handles = [LakeTable.load(tmp_table_dir) for _ in range(8)]
    start = threading.Barrier(len(handles))
    errs: list[Exception] = []

    def commit(i: int, h: LakeTable) -> None:
        start.wait()
        try:
            if i % 2:
                h.create_branch(f"b{i}")
            else:
                h.update_properties({f"k{i}": f"v{i}"})
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(i, h)) for i, h in enumerate(handles)]
    [x.start() for x in threads]
    [x.join() for x in threads]
    assert not errs
    meta = LakeTable.load(tmp_table_dir).meta
    assert meta.version == 1 + len(handles)
    for i in range(len(handles)):
        key = f"branch:b{i}" if i % 2 else f"k{i}"
        assert key in meta.properties, key
    assert all(meta.properties[f"k{i}"] == f"v{i}" for i in range(0, len(handles), 2))


def test_metadata_commit_gives_up_after_retry_bound(tmp_table_dir, monkeypatch):
    """A commit that loses every race raises CommitConflict after
    COMMIT_RETRIES retries instead of spinning forever."""
    from octocode_spark.lakehouse import table as table_mod

    t = _metadata_only_table(tmp_table_dir)
    calls = []

    def always_lose(root, meta):
        calls.append(meta.version)
        if len(calls) > 100:
            raise RuntimeError("commit retried without bound")
        return False

    monkeypatch.setattr(table_mod, "write_metadata_exclusive", always_lose)
    try:
        t.update_properties({"k": "v"})
        raise AssertionError("a commit that never wins must raise CommitConflict")
    except CommitConflict:
        pass
    assert len(calls) == table_mod.COMMIT_RETRIES + 1
    assert LakeTable.load(tmp_table_dir).meta.properties == {}
