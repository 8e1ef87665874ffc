"""Model-based testing of the LakeTable op algebra (hypothesis).

The round-4 composition lesson (CLAUDE.md): every new manifest-entry kind
must be audited against EVERY consumer — the bugs live in op COMPOSITION,
not in single ops. This test drives randomized sequences of table
operations (append / MoR delete / CoW delete / keyed MoR delete / compact /
manifest rewrite / snapshot expiry) against a plain dict model and checks
full-content equality after every step — so any pair- or triple-wise
composition that resurrects, drops, or duplicates rows fails with the
exact op sequence as the counterexample. After every step that commits on
main, the step's ``changelog_read`` applied to the previous content (as
multisets) must give the new content.

Spark actions are slow, so examples are few but each is a full random
program; the per-op equality check localizes a failure to the op that
introduced it.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

ROW_SCHEMA = "doc_id: string, n_tok: int, source: string"
SOURCES = ["web", "code", "chat"]


def _rows_of(table, spark):
    return {
        (r["doc_id"], r["n_tok"], r["source"])
        for r in table.read(spark).collect()
    }


OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(3, 12)),
        st.tuples(st.just("delete_mor"), st.integers(2, 5)),
        st.tuples(st.just("delete_cow"), st.integers(2, 5)),
        st.tuples(st.just("delete_keys"), st.integers(1, 6)),
        st.tuples(st.just("merge"), st.integers(2, 5)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("rewrite_manifests"), st.just(0)),
        st.tuples(st.just("expire"), st.just(0)),
        st.tuples(st.just("export_import"), st.just(0)),
        st.tuples(st.just("wap_publish"), st.integers(2, 6)),
    ),
    min_size=3,
    max_size=7,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=OPS)
def test_lake_table_op_algebra_matches_model(spark, tmp_path_factory, ops):
    import itertools
    import time as _time

    from octocode_spark.lakehouse import LakeTable
    from octocode_spark.lakehouse.maintenance import (
        plan_compaction,
        prune_dangling_delete_sidecars,
        rewrite_partitions,
    )

    root = str(tmp_path_factory.mktemp("model") / "t")
    schema = spark.createDataFrame([], ROW_SCHEMA).schema
    t = LakeTable.create(root, schema, partition_by=["source"], stat_cols=["doc_id"])
    model: dict[str, tuple[str, int, str]] = {}
    counter = itertools.count()

    for step, (op, arg) in enumerate(ops):
        prev_head, prev_rows = t.meta.current_snapshot_id, Counter(model.values())
        if op == "append":
            batch = [
                (f"d{next(counter):05d}", 10 + i, SOURCES[i % len(SOURCES)])
                for i in range(arg)
            ]
            t.append(spark.createDataFrame(batch, ROW_SCHEMA))
            for row in batch:
                model[row[0]] = row
        elif op in ("delete_mor", "delete_cow"):
            # deterministic predicate over current content: every arg-th doc
            # (numeric id suffix — trivially identical in Spark and python)
            pred = F.pmod(F.substring("doc_id", 2, 10).cast("int"), F.lit(arg)) == 0
            t.delete_where(spark, pred, mode="mor" if op == "delete_mor" else "cow")
            model = {k: v for k, v in model.items() if int(k[1:]) % arg != 0}
        elif op == "delete_keys":
            victims = sorted(model)[:arg]
            keys = spark.createDataFrame([(v,) for v in victims] or [("none",)],
                                         "doc_id: string")
            t.delete_where_keys(spark, keys, mode="mor")
            for v in victims:
                model.pop(v, None)
        elif op == "merge":
            from octocode_spark.lakehouse.merge import merge_into

            upd = sorted(model)[:arg]
            fresh = [(f"d{next(counter):05d}", 7, SOURCES[0]) for _ in range(arg)]
            src_rows = (
                [(k, 999, model[k][2], False) for k in upd[1:]]
                + ([(upd[0], 0, model[upd[0]][2], True)] if upd else [])  # delete arm
                + [(r[0], r[1], r[2], False) for r in fresh]
            )
            merge_into(
                spark, t,
                spark.createDataFrame(src_rows, ROW_SCHEMA + ", deleted: boolean"),
                key="doc_id",
            )
            if upd:
                model.pop(upd[0], None)
            for k in upd[1:]:
                model[k] = (k, 999, model[k][2])
            for r in fresh:
                model[r[0]] = r
        elif op == "compact":
            if t.files():
                rewrite_partitions(
                    spark, t, plan_compaction(t, target_file_size=1 << 30)
                )
                prune_dangling_delete_sidecars(t)
        elif op == "rewrite_manifests":
            t.rewrite_manifests()
        elif op == "export_import":
            # export must carry FULL state (incl. pending sidecars) and the
            # imported copy must behave identically under every later op —
            # the rest of the program runs against the copy
            t = t.export_snapshot(str(tmp_path_factory.mktemp("model") / f"exp{step}"))
        elif op == "wap_publish":
            # WAP staging: rows appended on a branch are invisible to main
            # until publish fast-forwards it (publish consumes the ref)
            if not model:
                continue  # branching an empty table is refused by design
            batch = [
                (f"d{next(counter):05d}", 20 + i, SOURCES[i % len(SOURCES)])
                for i in range(arg)
            ]
            t.create_branch("stage")
            t.append(spark.createDataFrame(batch, ROW_SCHEMA), branch="stage")
            assert _rows_of(t, spark) == set(model.values()), "branch leaked to main"
            t.publish_branch("stage")
            for row in batch:
                model[row[0]] = row
        elif op == "expire":
            t.expire_snapshots(
                older_than_ms=int(_time.time() * 1000) + 60_000, retain_last=1
            )
            t.remove_orphan_files(older_than_ms=int(_time.time() * 1000) + 60_000)
        got = _rows_of(t, spark)
        want = set(model.values())
        assert got == want, (
            f"divergence after step {step} ({op},{arg}) of {ops}: "
            f"extra={sorted(got - want)[:5]} missing={sorted(want - got)[:5]}"
        )
        head = t.meta.current_snapshot_id
        if op != "export_import" and prev_head is not None and head != prev_head:
            content = prev_rows
            for r in t.changelog_read(spark, prev_head, head).collect():
                row = (r["doc_id"], r["n_tok"], r["source"])
                content[row] += 1 if r["_change_type"] == "insert" else -1
            assert {k: v for k, v in content.items() if v} == Counter(want), (
                f"changelog of step {step} ({op},{arg}) of {ops} does not replay"
            )
