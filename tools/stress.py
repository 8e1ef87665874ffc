"""F1 sf-correct stress run (FIXTURES.md tier 2): the full correctness
story at 100k+ rows in one process — fragmented ingest, golden digest,
kill mid-maintenance, lineage-validated resume, snapshot-isolation read,
MERGE, expiry + GC, replication (one coalesced window, then per commit
across a MERGE). Prints one JSON line; exits nonzero on any gate failure.

Usage: [SPARK_GRAFT_STRESS_ROWS=100000] [SPARK_GRAFT_STRESS_DIR=<work dir>]
       python tools/stress.py
The work directory defaults to a fresh temporary directory; it is removed
at the end of the run.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = int(os.environ.get("SPARK_GRAFT_STRESS_ROWS", "100000"))


def main() -> None:
    from octocode_spark import get_spark
    from octocode_spark.datagen import sequence_updates, sequences
    from octocode_spark.functions.digest import group_counts, table_digest
    from octocode_spark.lakehouse import LakeTable, Ledger
    from octocode_spark.lakehouse.maintenance import TARGET_FILE_SIZE, plan_compaction, rewrite_partitions
    from octocode_spark.lakehouse.merge import merge_into
    from octocode_spark.lakehouse.table import partition_key

    work = os.environ.get("SPARK_GRAFT_STRESS_DIR") or tempfile.mkdtemp(prefix="octocode_stress_")
    spark = get_spark(app="stress")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(work, ignore_errors=True)
    gates: dict[str, bool] = {}
    t_start = time.monotonic()

    df = sequences(spark, ROWS, max_tok_cap=2048)
    t = LakeTable.create(
        f"{work}/seq", df.schema, partition_by=["source"], stat_cols=["n_tok", "doc_id"]
    )
    t.append(df.repartition(256))
    golden = table_digest(t.read(spark))
    golden_groups = {(r["source"], r["n_tok_bucket"]): r["cnt"] for r in group_counts(t.read(spark)).collect()}
    pin = t.meta.current_snapshot_id
    n_files0 = len(t.files())

    # kill after half the partitions, then resume
    ledger = Ledger(f"{work}/ledger")
    plan = plan_compaction(t)
    k = len(plan.partitions) // 2
    try:
        rewrite_partitions(spark, t, plan, ledger=ledger, cluster_by="zorder", fail_after=k)
        gates["kill_simulated"] = False
    except RuntimeError:
        gates["kill_simulated"] = True
    gates["mid_kill_digest_equal"] = table_digest(t.read(spark)) == golden

    t.refresh()
    res = rewrite_partitions(spark, t, plan_compaction(t), ledger=ledger, cluster_by="zorder",
                             max_concurrency=6)
    gates["resume_replayed_only_pending"] = len(res.partitions_done) == len(plan.partitions) - k
    gates["post_compaction_digest_equal"] = table_digest(t.read(spark)) == golden
    gates["group_counts_equal"] = {
        (r["source"], r["n_tok_bucket"]): r["cnt"] for r in group_counts(t.read(spark)).collect()
    } == golden_groups
    gates["pinned_snapshot_isolated"] = table_digest(t.read(spark, snapshot_id=pin)) == golden

    updates = sequence_updates(spark, ROWS, ROWS // 10, max_tok_cap=2048)
    pre_merge = {f.path for f in t.files()}
    merge_into(spark, t, updates, ledger=ledger)
    # every partition the MERGE wrote gained exactly its target file count,
    # ceil(bytes written / TARGET_FILE_SIZE): no sliver beside a survivor file
    gained: dict[str, list] = {}
    for f in t.files():
        if f.path not in pre_merge:
            gained.setdefault(partition_key(f.partition), []).append(f)
    summary = t.meta.snapshot().summary
    gates["merge_partitions_at_target_files"] = bool(gained) and all(
        len(fs) == max(1, math.ceil(sum(f.bytes for f in fs) / TARGET_FILE_SIZE)) for fs in gained.values()
    ) and summary["files-added"] == sum(map(len, gained.values())) and summary["partitions-written"] == len(gained)
    expected = (
        df.join(updates.select("doc_id"), "doc_id", "left_anti")
        .unionByName(updates.filter("not deleted").drop("deleted"))
    )
    gates["merge_digest_equal"] = table_digest(t.read(spark)) == table_digest(expected)

    import time as _time
    # explicit cutoff: the default age floor (reader-safety) would spare
    # these seconds-old snapshots; the stress wants immediate reaping
    expired = t.expire_snapshots(older_than_ms=int(_time.time() * 1000) + 60_000, retain_last=1)
    t.remove_orphan_files()  # grace-windowed crash-leftover scan (nothing here)
    gates["expiry_gc_ran"] = bool(expired) and bool(t.last_gc_files)
    gates["post_gc_readable"] = t.read(spark).count() == expected.count()

    # round-5 replication stage: export a replica, mutate the source through
    # a window (10% append + a LARGE keyed MoR delete via the cluster-side
    # semi-join path), then debounce-replicate the whole window as ONE
    # destination commit and require exact state equality
    from pyspark.sql import functions as F

    from octocode_spark.lakehouse.replicate import replicate_changelog, replicate_coalesced

    cursor = t.meta.current_snapshot_id
    replica = t.export_snapshot(f"{work}/replica")
    fresh = sequences(spark, ROWS // 10, max_tok_cap=2048).withColumn(
        "doc_id", F.concat(F.lit("r5-"), F.col("doc_id"))
    )
    t.append(fresh.repartition(8))
    victims = t.read(spark).select("doc_id").orderBy("doc_id").limit(ROWS // 20)
    gates["keyed_mor_delete_no_rewrite"] = (
        t.delete_where_keys(spark, victims, mode="mor") is not None
        and len(t.delete_files()) >= 1
    )
    v_before = replica.meta.version
    t_rep = time.monotonic()
    cursor = replicate_coalesced(spark, t, replica, cursor, key="doc_id")
    replicate_s = round(time.monotonic() - t_rep, 1)
    gates["replication_one_commit"] = replica.meta.version == v_before + 1
    gates["replication_digest_equal"] = (
        table_digest(replica.read(spark)) == table_digest(t.read(spark))
    )

    # then a CoW MERGE updates ~1% of the source's keys, and the per-commit
    # mode follows the source across it from the coalesced cursor
    merge_into(spark, t, t.read(spark).sample(fraction=0.01, seed=7).withColumn("n_tok", F.col("n_tok") + 1))
    replicate_changelog(spark, t, replica, cursor, key="doc_id")
    gates["replication_across_merge_digest_equal"] = (
        table_digest(replica.read(spark)) == table_digest(t.read(spark))
    )

    out = {
        "rows": ROWS,
        "files_before": n_files0,
        "files_after": len(t.files()),
        "seconds": round(time.monotonic() - t_start, 1),
        "replicate_s": replicate_s,
        "gates": gates,
        "all_pass": all(gates.values()),
    }
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if out["all_pass"] else 1)


if __name__ == "__main__":
    main()
