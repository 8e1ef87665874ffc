"""LakeTable format: append/read round-trip, time travel, pruning, commits."""

from __future__ import annotations

import threading

import pytest

from octocode_spark.datagen import sequences
from octocode_spark.functions.digest import table_digest
from octocode_spark.lakehouse import CommitConflict, LakeTable
from octocode_spark.lakehouse.table import partition_key, stat_range_filter
from tests.conftest import make_sequences_table


def test_append_read_roundtrip_digest(spark, tmp_table_dir):
    df = sequences(spark, 1000, max_tok_cap=128)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=["source"], stat_cols=["n_tok", "doc_id"])
    t.append(df)
    assert table_digest(t.read(spark)) == table_digest(df)


def test_time_travel_pins_old_snapshot(spark, tmp_table_dir):
    df = sequences(spark, 500, max_tok_cap=128)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=["source"], stat_cols=["n_tok"])
    s1 = t.append(df)
    d1 = table_digest(t.read(spark))
    t.append(sequences(spark, 100, max_tok_cap=128).limit(50))
    assert t.read(spark).count() == 550
    # reader pinned to s1 sees the old data exactly
    assert table_digest(t.read(spark, snapshot_id=s1.snapshot_id)) == d1


def test_incremental_read_returns_only_new_rows(spark, tmp_table_dir):
    """S3 incremental source: rows added between two snapshots, planned from
    manifest diffs only."""
    df = sequences(spark, 600, max_tok_cap=64)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=["source"], stat_cols=["n_tok"])
    s1 = t.append(df.filter("cast(substring(doc_id, -12, 12) as long) < 400"))
    s2 = t.append(df.filter("cast(substring(doc_id, -12, 12) as long) >= 400"))
    inc = t.incremental_read(spark, from_snapshot_id=s1.snapshot_id)
    assert inc.count() == 200
    expected = df.filter("cast(substring(doc_id, -12, 12) as long) >= 400")
    assert table_digest(inc) == table_digest(expected)
    # bounded window [s1, s2] equals the same thing here
    assert t.incremental_read(spark, s1.snapshot_id, s2.snapshot_id).count() == 200
    # from the latest snapshot: nothing new
    assert len(t.incremental_files(s2.snapshot_id)) == 0


def test_partition_pruning_uses_manifests_only(spark, tmp_table_dir):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=2000)
    files = t.files(partition_filter={"source": "github"})
    assert files and all(f.partition == {"source": "github"} for f in files)
    manifest_count = sum(f.records for f in files)
    assert manifest_count == t.read(spark).filter("source = 'github'").count()


def test_stat_filter_skips_files(spark, tmp_table_dir):
    df = sequences(spark, 2000, max_tok_cap=256)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=[], stat_cols=["n_tok"])
    # two appends with disjoint n_tok ranges → min/max must separate them
    t.append(df.filter("n_tok < 100"))
    t.append(df.filter("n_tok >= 100"))
    low = t.files(stat_filter=stat_range_filter("n_tok", hi=99))
    high = t.files(stat_filter=stat_range_filter("n_tok", lo=100))
    assert low and high
    assert {f.path for f in low}.isdisjoint({f.path for f in high})
    assert sum(f.records for f in low) == df.filter("n_tok < 100").count()


def test_footer_harvest_tiers_agree(spark, tmp_table_dir, monkeypatch):
    """The threaded and Spark-job footer harvests of one partitioned write
    yield the same DataFiles (partition, records, bytes, stats). The Spark-job
    threshold is lowered so a few dozen files reach it; the input is a
    LocalRelation, so both writes lay out identical files."""
    import concurrent.futures
    import json

    src = sequences(spark, 600, max_tok_cap=64)
    df = spark.createDataFrame(src.toPandas(), src.schema)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=["source"], stat_cols=["n_tok", "doc_id"])
    pools, jobs = [], []
    orig_pool = concurrent.futures.ThreadPoolExecutor
    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor",
                        lambda *a, **k: pools.append(1) or orig_pool(*a, **k))
    SC = type(spark.sparkContext)
    orig_parallelize = SC.parallelize
    monkeypatch.setattr(SC, "parallelize",
                        lambda self, *a, **k: jobs.append(1) or orig_parallelize(self, *a, **k))
    tiers = {"threaded": (10**9, 1, 0), "spark-job": (1, 0, 1)}
    harvested = {}
    for name, (distributed_min, n_pools, n_jobs) in tiers.items():
        monkeypatch.setattr(LakeTable, "HARVEST_DISTRIBUTED_MIN", distributed_min)
        pools.clear()
        jobs.clear()
        files = t._write_datafiles(df)
        assert (len(pools), len(jobs)) == (n_pools, n_jobs), name
        harvested[name] = sorted(
            (partition_key(f.partition), f.records, f.bytes, json.dumps(f.stats, sort_keys=True))
            for f in files
        )
    assert len(harvested["threaded"]) > 4
    assert harvested["spark-job"] == harvested["threaded"]


def test_manifest_entry_refs_only_on_delete_sidecars():
    """A delete sidecar's manifest entry carries ``refs`` and must: one
    without them fails to load, naming the file. Data-file entries
    serialize exactly as before ``refs`` existed."""
    from octocode_spark.lakehouse.metadata import DataFile

    data = DataFile("data/a.parquet", {"source": "web"}, 3, 100, {"n_tok": [1, 9]})
    assert data.to_json() == {"path": "data/a.parquet", "partition": {"source": "web"},
                              "records": 3, "bytes": 100, "stats": {"n_tok": [1, 9]}}
    sidecar = DataFile("data/_deletes/d.parquet", {}, 2, 10, content="deletes",
                       refs=["data/a.parquet"])
    assert DataFile.from_json(sidecar.to_json()) == sidecar
    legacy = {k: v for k, v in sidecar.to_json().items() if k != "refs"}
    with pytest.raises(ValueError, match="data/_deletes/d.parquet"):
        DataFile.from_json(legacy)


def test_concurrent_appends_both_commit(spark, tmp_table_dir):
    df = sequences(spark, 400, max_tok_cap=64)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=["source"], stat_cols=[])
    a, b = LakeTable.load(tmp_table_dir), LakeTable.load(tmp_table_dir)
    pre_a = a._write_datafiles(df.filter("n_tok % 2 = 0"))
    pre_b = b._write_datafiles(df.filter("n_tok % 2 = 1"))
    errs = []

    def commit(handle, files):
        try:
            handle._commit("append", added=files, replaced=[])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = [threading.Thread(target=commit, args=(a, pre_a)), threading.Thread(target=commit, args=(b, pre_b))]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    t.refresh()
    assert t.read(spark).count() == df.count()
    assert len(t.meta.snapshots) == 2  # both commits landed as distinct snapshots


def test_replace_conflict_detected(spark, tmp_table_dir):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=500, small_files=4)
    f0 = t.files()[0]
    # another writer rewrites f0 first
    other = LakeTable.load(tmp_table_dir)
    replacement = other._write_datafiles(other.read_files(spark, [f0]))
    other.replace_files([f0.path], replacement)
    # our replace of the same file must now fail loudly
    mine = t._write_datafiles(t.read_files(spark, [f0]))
    with pytest.raises(CommitConflict):
        t.replace_files([f0.path], mine)


def test_expire_and_orphan_gc_preserve_current(spark, tmp_table_dir):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=800, small_files=8, max_tok_cap=64)
    d = table_digest(t.read(spark))
    # rows 800..849 of the deterministic generator: disjoint from the first 800
    extra = sequences(spark, 850, max_tok_cap=64).filter(
        "cast(substring(doc_id, -12, 12) as long) >= 800"
    )
    t.append(extra)
    t.overwrite_all(t.read(spark))  # churn: makes old files unreferenced-by-current
    # age floor: with clean_files on and no explicit cutoff, FRESH snapshots
    # must survive (a concurrent reader could still be scanning them)
    assert t.expire_snapshots(retain_last=1) == []
    import time as _time
    expired = t.expire_snapshots(older_than_ms=int(_time.time() * 1000) + 60_000, retain_last=1)
    assert expired
    # expire deletes the files only the expired snapshots referenced
    assert t.last_gc_files
    import os

    for rel in t.last_gc_files:
        assert not os.path.exists(os.path.join(t.root, rel))
    # current snapshot fully readable after GC; original 800 rows intact
    cur = t.read(spark)
    assert cur.count() == 850
    orig = cur.join(sequences(spark, 800, max_tok_cap=64).select("doc_id"), "doc_id", "left_semi")
    assert table_digest(orig) == d


def test_orphan_gc_grace_window_spares_recent_files(spark, tmp_table_dir):
    """A crashed writer's leftover (recent mtime) survives the orphan scan;
    an old leftover is reaped — the Iceberg older_than contract that keeps
    GC from corrupting an in-flight commit."""
    import os
    import time as _time

    t = make_sequences_table(spark, tmp_table_dir, n_rows=200, small_files=2, max_tok_cap=64)
    fresh = os.path.join(t.root, "data", "stray-fresh.parquet")
    stale = os.path.join(t.root, "data", "stray-stale.parquet")
    for p in (fresh, stale):
        with open(p, "wb") as fh:
            fh.write(b"not a table file")
    old = _time.time() - 4 * 24 * 3600
    os.utime(stale, (old, old))

    removed = t.remove_orphan_files()  # default grace: now − 3 days
    assert os.path.join("data", "stray-stale.parquet") in removed
    assert os.path.exists(fresh) and not os.path.exists(stale)
    # explicit future cutoff reaps everything unreferenced
    removed2 = t.remove_orphan_files(older_than_ms=int(_time.time() * 1000) + 1000)
    assert os.path.join("data", "stray-fresh.parquet") in removed2
    assert not os.path.exists(fresh)
    assert t.read(spark).count() == 200


def test_export_snapshot_roundtrip_and_detachment(spark, tmp_table_dir, tmp_path):
    """S7: export a pinned snapshot to a standalone table; importing is just
    load(); the export stays intact while the source keeps evolving."""
    t = make_sequences_table(spark, tmp_table_dir, n_rows=400, small_files=4, max_tok_cap=64)
    pin = t.meta.current_snapshot_id
    golden = table_digest(t.read(spark, snapshot_id=pin))

    dest = str(tmp_path / "export")
    exported = t.export_snapshot(dest, snapshot_id=pin)
    assert table_digest(exported.read(spark)) == golden
    # manifest stats travel with the export (no re-harvest)
    assert all("n_tok" in f.stats for f in exported.files())

    # source evolves; export is detached
    t.overwrite_all(t.read(spark).filter("n_tok > 64"))
    imported = LakeTable.load(dest)
    assert table_digest(imported.read(spark)) == golden
    # and the export is a fully functional table (can append independently)
    extra = sequences(spark, 420, max_tok_cap=64).filter(
        "cast(substring(doc_id, -12, 12) as long) >= 400")
    imported.append(extra)
    assert imported.read(spark).count() == 420


def test_timestamp_time_travel_and_rollback(spark, tmp_table_dir):
    """read-as-of-timestamp resolves the right snapshot; rollback is a
    metadata-only pointer move that expiry can later reap."""
    import time as _time

    df = sequences(spark, 300, max_tok_cap=64)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=["source"], stat_cols=["n_tok"])
    s1 = t.append(df.filter("cast(substring(doc_id, -12, 12) as long) < 200"))
    d1 = table_digest(t.read(spark))
    _time.sleep(0.05)
    between = int(_time.time() * 1000)
    _time.sleep(0.05)
    s2 = t.append(df.filter("cast(substring(doc_id, -12, 12) as long) >= 200"))

    assert t.snapshot_as_of(between) == s1.snapshot_id
    assert table_digest(t.read(spark, snapshot_id=t.snapshot_as_of(between))) == d1
    with pytest.raises(KeyError):
        t.snapshot_as_of(s1.timestamp_ms - 10_000)

    # rollback: main points at s1 again; data IO zero (same files readable)
    v_before = t.meta.version
    t.rollback_to(s1.snapshot_id)
    assert t.meta.current_snapshot_id == s1.snapshot_id
    assert t.meta.version == v_before + 1
    assert table_digest(t.read(spark)) == d1
    # roll forward is possible while s2 is retained
    t.rollback_to(s2.snapshot_id)
    assert t.read(spark).count() == 300
    with pytest.raises(KeyError):
        t.rollback_to(12345)


def test_export_archive_roundtrip_and_marker_refusal(spark, tmp_path):
    """Single-file export (reference export.rs:24-60): tar+marker archive
    round-trips a table INCLUDING MoR delete sidecars (the deleted rows stay
    deleted in the import), and import REFUSES a tarball without the format
    marker as its first member."""
    import tarfile

    from pyspark.sql import functions as F

    from tests.conftest import make_sequences_table

    t = make_sequences_table(spark, str(tmp_path / "src"), n_rows=400, small_files=3)
    victim = t.read(spark).select("doc_id").first()["doc_id"]
    t.delete_where(spark, F.col("doc_id") == victim, mode="mor")
    assert t.delete_files()

    arc = str(tmp_path / "snap.tar.gz")
    assert t.export_archive(arc) == arc
    imp = LakeTable.import_archive(arc, str(tmp_path / "imported"))
    assert imp.delete_files()  # sidecars shipped
    from octocode_spark.functions.digest import table_digest

    assert table_digest(imp.read(spark)) == table_digest(t.read(spark))
    assert imp.read(spark).filter(F.col("doc_id") == victim).count() == 0

    # a plain tar of the same table WITHOUT the marker is refused
    bare = str(tmp_path / "bare.tar.gz")
    with tarfile.open(bare, "w:gz") as tf:
        tf.add(str(tmp_path / "imported"), arcname="table")
    with pytest.raises(ValueError, match="marker"):
        LakeTable.import_archive(bare, str(tmp_path / "refused"))
    # corrupt magic is refused too
    evil = str(tmp_path / "evil.tar.gz")
    with tarfile.open(evil, "w:gz") as tf:
        import io
        import json

        payload = json.dumps({"magic": "something-else"}).encode()
        info = tarfile.TarInfo(LakeTable.ARCHIVE_MARKER)
        info.size = len(payload)
        tf.addfile(info, io.BytesIO(payload))
        tf.add(str(tmp_path / "imported"), arcname="table")
    with pytest.raises(ValueError, match="magic"):
        LakeTable.import_archive(evil, str(tmp_path / "refused2"))
