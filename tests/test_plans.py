"""Plan-shape assertions: the optimizer gates from SURVEY §4 — predicate
pushdown reaches the parquet scan, small dims broadcast, top-k is
TakeOrderedAndProject, expressions stay in WholeStageCodegen."""

from __future__ import annotations

import pytest

from octocode_spark.plans.explain import formatted_plan, plan_has
from tests.conftest import make_sequences_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    from octocode_spark.queries import queries

    return queries()


def test_q01_pushes_shipdate_filter_stays_jvm(spark, qs):
    plan = formatted_plan(qs["q01_pricing_summary"](spark, SF))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]
    # hot path must stay JVM-side: no row/Arrow Python eval operators
    # (AQE's pre-execution explain hides WholeStageCodegen spans, so assert
    # the absence of the slow path rather than the presence of codegen)
    assert "EvalPython" not in plan


def test_q02_broadcasts_dimensions(spark, qs):
    plan = formatted_plan(qs["q02_revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_q05_topk_is_take_ordered(spark, qs):
    plan = formatted_plan(qs["q05_topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_q17_cosine_topk_is_take_ordered_single_scan(spark, qs):
    plan = formatted_plan(qs["q17_cosine_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_column_pruning_reads_only_needed_columns(spark, qs):
    # q23 touches only (event_type, user_id): ReadSchema must not list value/props
    plan = formatted_plan(qs["q23_distinct_users_per_type"](spark, SF))
    read = plan.split("ReadSchema")[1][:300]
    assert "user_id" in read and "event_type" in read
    assert "props" not in read and "value" not in read


def test_anti_join_strategy(spark, qs):
    plan = formatted_plan(qs["q03_customers_without_orders"](spark, SF))
    assert "LeftAnti" in plan


def test_merge_prune_join_is_semi(spark, qs):
    checks = plan_has(qs["q04_big_spenders_semi"](spark, SF), "LeftSemi", "PushedFilters")
    assert all(checks.values()), checks


def test_bm25_scan_path_stats_broadcast_no_python(spark):
    """The full-recompute BM25 operator (the q41 registry entry now runs the
    indexed path; this pins the 2-scan form it must stay bit-identical to):
    the corpus-stats row joins via broadcast (never a shuffle) and the whole
    scoring pipeline stays JVM-side."""
    from octocode_spark.operators.hybrid import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(bm25_topk(docs, terms=["spark", "join", "window"], k=50))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts


def test_q42_multiquery_single_window_exchange(spark, qs):
    """Batched multi-query: ALL queries rank through ONE window over one
    hashpartitioning exchange on query_id — not one job per query."""
    plan = formatted_plan(qs["q42_multiquery_rrf"](spark, SF))
    assert plan.count("Window") >= 1
    assert "EvalPython" not in plan


def test_q42_windowgrouplimit_precut_before_exchange(spark, qs):
    """No unbounded per-query window sort: the row_number<=budget filter
    must trigger Catalyst's rank-limit pushdown, planning a MAP-SIDE
    WindowGroupLimit BELOW the query_id exchange — each input task ships
    only its local top-budget per query, so the reduce-side sort is bounded
    by budget x n_input_partitions (round-3 verdict wrong-shape #3)."""
    plan = formatted_plan(qs["q42_multiquery_rrf"](spark, SF))
    tree = plan.split("\n\n")[0]
    wgl = [i for i in range(len(tree)) if tree.startswith("WindowGroupLimit", i)]
    ex = [i for i in range(len(tree)) if tree.startswith("- Exchange (", i)]
    assert len(wgl) >= 2, tree          # reduce-side AND map-side partial top-k
    assert ex, tree
    # root-first tree: a later text position = deeper node. The deepest
    # WindowGroupLimit must sit below the deepest shuffle exchange.
    assert max(wgl) > max(ex), tree


def test_q08_rank_windows_consume_topk_cut_only(spark, qs):
    """q08's rank windows are global (no partition key) by construction —
    they must each consume a TakeOrderedAndProject-cut <=100-row frame, not
    the full user population (round-3 verdict wrong-shape #2)."""
    import re

    plan = formatted_plan(qs["q08_weighted_rrf_users"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("TakeOrderedAndProject") == 2, tree
    # each Window node's direct child is the top-k cut
    pairs = re.findall(r"Window \(\d+\)\n[^\n]*TakeOrderedAndProject", tree)
    assert len(pairs) == 2, tree


def test_q41_indexed_bm25_single_scan_no_aggregate(spark, qs):
    """Index-backed BM25 (the q41 registry path) must not recompute corpus
    stats: exactly one parquet scan, no aggregate/broadcast anywhere."""
    plan = formatted_plan(qs["q41_bm25_topk"](spark, SF))
    tree = plan.split("\n\n")[0]  # formatted explain repeats nodes in details
    assert tree.count("Scan parquet") == 1
    assert "HashAggregate" not in plan and "BroadcastExchange" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q44_offset_pagination_no_global_window(spark, qs):
    """Offset pagination rides TakeOrderedAndProject(offset=...); the only
    Window sits ABOVE it, over the <= page_size slice."""
    import re

    plan = formatted_plan(qs["q44_relationships_by_type"](spark, SF))
    # formatted explain renders the offset as the trailing argument:
    # TakeOrderedAndProject Arguments: <limit 40>, [order], [output], <offset 20>
    assert re.search(r"TakeOrderedAndProject\nInput.*\nArguments: 40, .*\], 20\n", plan)
    body = plan.split("\n\n")[0]  # the tree section
    assert body.index("Window") < body.index("TakeOrderedAndProject")
    assert body.count("Window") == 1


def test_minhash_signatures_codegen_one_exchange(spark):
    """The round-6 minhash shape: codegen-native explode + map-side
    combinable min aggregates — no interpreted higher-order lambdas
    (transform/aggregate are CodegenFallback; measured 3× cold wall), one
    scan, exactly one exchange (the partial aggregate emits one row per
    doc, so it carries #docs × num_perms longs regardless of doc length),
    and partial_min present so the combine really is map-side."""
    from octocode_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(minhash_signatures(docs, num_perms=16))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Scan parquet") == 1, tree
    assert "partial_min" in plan, "min aggregate must be map-side combinable"
    assert "lambdafunction" not in plan, "interpreted HOF crept back in"


def _executed_joins(df) -> list[str]:
    """Join operator lines of ``df``'s executed (AQE final) physical plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return [line for line in plan.toString().splitlines() if "Join" in line]


def test_read_files_applies_sidecars_as_one_broadcast_anti_join(spark, tmp_table_dir):
    """read_files' contract: with no delete sidecars the plan is the plain
    scan (no join at all); after a merge-on-read delete it is the scan plus
    exactly one broadcast LeftAnti join against the sidecar entries."""
    from pyspark.sql import functions as F

    t = make_sequences_table(spark, tmp_table_dir, n_rows=400, small_files=4)
    assert _executed_joins(t.read(spark)) == []
    victim = t.read(spark).select("doc_id").orderBy("doc_id").first()["doc_id"]
    t.delete_where(spark, F.col("doc_id") == victim, mode="mor")
    joins = _executed_joins(t.read(spark))
    assert len(joins) == 1, joins
    assert "BroadcastHashJoin" in joins[0] and "LeftAnti" in joins[0], joins


def test_read_applies_only_sidecars_that_reference_its_files(spark, tmp_table_dir):
    """A delete sidecar joins into a scan only when its manifest ``refs``
    name a scanned file: after a MoR delete inside source=github, a read of
    another partition is the plain scan, with no LeftAnti join."""
    from pyspark.sql import functions as F

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    t = make_sequences_table(spark, tmp_table_dir, n_rows=400, small_files=4)
    rows = {r["source"]: r["count"] for r in t.read(spark).groupBy("source").count().collect()}
    other = sorted(k for k in rows if k != "github")[0]
    victims = [
        r["doc_id"]
        for r in t.read(spark, partition_filter={"source": "github"})
        .select("doc_id").orderBy("doc_id").limit(2).collect()
    ]
    t.delete_where(spark, F.col("doc_id").isin(victims), mode="mor")
    rows["github"] -= 2

    df = t.read(spark, partition_filter={"source": other})
    assert "LeftAnti" not in optimized(df)
    assert df.count() == rows[other]
    gh = t.read(spark, partition_filter={"source": "github"})
    assert "LeftAnti" in optimized(gh)
    assert gh.count() == rows["github"]
    assert t.read(spark).count() == sum(rows.values())
    assert all(p.startswith("data/source=github/") for d in t.delete_files() for p in d.refs)
