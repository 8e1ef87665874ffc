"""Operator-correctness tests: dedup tiers, similarity, text analysis, RRF,
multimodal plumbing — independent small-fixture oracles (the driver's
DuckDB gate covers the big battery; these pin semantics on crafted inputs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
    (3, "the quick brown fox jumped over the lazy dog"),         # near dup
    (4, "completely different text about spark and parquet files"),
    (5, "  The  QUICK   brown fox jumps over the lazy dog  "),   # canonical dup of 1
    (6, "der hund und die katze und das haus und nicht mehr"),   # German-ish
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id: long, text: string").cache()


def test_exact_dedup_canonicalizes(spark, docs):
    from octocode_spark.operators.dedup import dedup_exact, exact_duplicates

    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2, 5]
    kept = dedup_exact(docs)
    assert kept.count() == 4  # 1 (min id of the trio), 3, 4, 6
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4, 6}


def test_ngram_jaccard_finds_near_dup(spark, docs):
    from octocode_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_minhash_lsh_agrees_with_exact_jaccard(spark, docs):
    from octocode_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs
    assert all(4 not in p for p in pairs)


def test_simhash_identical_docs_same_hash(spark, docs):
    from octocode_spark.operators.dedup import simhash64, simhash_near_pairs

    h = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert h[1] == h[2]
    assert all(v >= 0 for v in h.values())
    near = {(r["a"], r["b"]): r["hamming"] for r in simhash_near_pairs(docs, max_hamming=6).collect()}
    assert near[(1, 2)] == 0
    assert (1, 4) not in near


def test_brute_force_topk_self_is_best(spark):
    from octocode_spark.operators.ann import brute_force_topk

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0]), (4, [-1.0, 0.0, 0.0])],
        "vec_id: long, embedding: array<double>",
    )
    top = brute_force_topk(vecs, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert top[0]["cosine"] == 1.0


def test_lsh_topk_matches_brute_force_on_clustered_data(spark):
    from octocode_spark.operators.ann import brute_force_topk, lsh_topk

    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(3, 8)
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(30):
            v = base[c] + rng.randn(8) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    vecs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>").cache()
    q = [float(x) for x in base[0]]
    exact = [r["vec_id"] for r in brute_force_topk(vecs, q, k=5).collect()]
    approx = [r["vec_id"] for r in lsh_topk(vecs, q, k=5, num_planes=8, probe_hamming=2).collect()]
    # LSH must recover most of the true top-5 from the same cluster
    assert len(set(exact) & set(approx)) >= 3


def test_text_analysis_values(spark, docs):
    from octocode_spark.operators.text import analyze_documents

    out = {r["doc_id"]: r for r in analyze_documents(docs).collect()}
    assert out[1]["n_words"] == 9
    assert out[5]["n_words"] == 9  # whitespace canonicalization
    assert out[1]["fingerprint"] == out[2]["fingerprint"] == out[5]["fingerprint"]
    assert out[1]["lang_detected"] == "en"
    assert out[6]["lang_detected"] == "de"
    assert 0.0 <= out[4]["quality"] <= 1.0


def test_weighted_rrf_fuses_and_orders(spark):
    from octocode_spark.operators.rrf import weighted_rrf

    l1 = spark.createDataFrame([(1, 0.9), (2, 0.8), (3, 0.7)], "id: long, score: double")
    l2 = spark.createDataFrame([(3, 10.0), (4, 9.0)], "id: long, n: double")
    fused = weighted_rrf([(l1, 0.7, "score", False), (l2, 0.3, "n", False)]).collect()
    by_id = {r["id"]: r for r in fused}
    assert by_id[3]["sources"] == 2
    # id=3: 0.7/(60+3) + 0.3/(60+1) beats id=1: 0.7/(60+1)
    assert fused[0]["id"] == 3
    assert abs(by_id[3]["rrf_score"] - (0.7 / 63 + 0.3 / 61)) < 1e-12


def test_multimodal_plumbing(spark):
    from octocode_spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        synthetic_media,
        FEATURE_DIM,
    )

    media = synthetic_media(spark, 30).cache()
    feats = extract_features(media).collect()
    assert len(feats) == 30
    assert all(len(r["features"]) == FEATURE_DIM for r in feats)
    assert all(r["n_bytes"] > 0 for r in feats)
    # determinism across runs
    feats2 = extract_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    plan = frame_sample_plan(media, every_n=10).collect()
    assert plan and all(r["frame_idx"] % 10 == 0 for r in plan)


def test_streaming_continuous_merge(spark, tmp_path):
    from octocode_spark.datagen import sequence_updates, sequences
    from octocode_spark.functions.digest import table_digest
    from octocode_spark.lakehouse import LakeTable
    from octocode_spark.streaming.continuous import continuous_merge

    base = sequences(spark, 400, max_tok_cap=64)
    root = str(tmp_path / "tbl")
    t = LakeTable.create(root, base.schema, partition_by=["source"], stat_cols=["n_tok", "doc_id"])
    t.append(base)
    updates = sequence_updates(spark, 400, 120, max_tok_cap=64)
    landing = str(tmp_path / "landing")
    updates.repartition(3).write.parquet(landing)

    q = continuous_merge(spark, root, landing, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    expected = (
        base.join(updates.select("doc_id"), "doc_id", "left_anti")
        .unionByName(updates.filter("not deleted").drop("deleted"))
    )
    assert table_digest(LakeTable.load(root).read(spark)) == table_digest(expected)


def test_bm25_semantics(spark):
    """BM25 pins: idf favors rare terms over common ones at equal tf;
    doc-length normalization favors the shorter doc at equal tf; non-matching
    docs are excluded; reference-computed score matches to 1e-9."""
    import math

    from octocode_spark.operators.hybrid import bm25_scores, bm25_topk

    rows = [
        (1, "spark spark filler filler filler filler"),             # tf(spark)=2, dl=6
        (2, "spark spark filler filler filler filler filler "
            "filler filler filler filler filler"),                  # tf=2, dl=12 (longer)
        (3, "filler common common filler filler filler"),           # only 'common'
        (4, "common filler filler filler filler filler"),
        (5, "common filler filler filler filler filler"),
        (6, "nothing relevant here at all whatsoever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["id"]: r["bm25"] for r in bm25_scores(docs, ["spark"]).collect()}
    assert set(got) == {1, 2}                      # only matching docs
    assert got[1] > got[2]                         # length normalization

    # rare term ('spark', df=2) must outscore common term ('common', df=3)
    # for a doc with the same tf and dl
    s = {r["id"]: r["bm25"] for r in bm25_scores(docs, ["spark", "common"]).collect()}
    assert s[1] > s[4]

    # closed-form check against the textbook formula
    n, avgdl = 6.0, (6 + 12 + 6 + 6 + 6 + 6) / 6.0
    k1, b = 1.2, 0.75
    idf = math.log((n - 2 + 0.5) / (2 + 0.5) + 1)
    tf, dl = 2.0, 6.0
    expect = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    assert abs(got[1] - expect) < 1e-9

    top = bm25_topk(docs, ["spark", "common"], k=3).collect()
    assert [r["id"] for r in top] == sorted(s, key=lambda i: (-s[i], i))[:3]


def test_multi_query_rrf_budget_and_merge(spark):
    """Per-query budget = max(2*max/n, 1); cross-query merge sums 1/(60+r)
    contributions and keeps the best-ranked representative query."""
    from octocode_spark.operators.rrf import multi_query_rrf

    rows = []
    # q0 ranks ids 1..5 by score desc; q1 ranks 3,4,5,6,7; q2 ranks only 3
    for qid, ids in [(0, [1, 2, 3, 4, 5]), (1, [3, 4, 5, 6, 7]), (2, [3])]:
        for pos, i in enumerate(ids):
            rows.append((qid, i, 100.0 - pos))
    scored = spark.createDataFrame(rows, "query_id: int, id: long, score: double")
    # n=3, max_results=4 -> budget = max(8//3, 1) = 2: only top-2 per query count
    out = multi_query_rrf(scored, n_queries=3, max_results=4).collect()
    got = {r["id"]: r for r in out}
    # id 3: rank1 in q1 and q2 (budget cut keeps both), rank3 in q0 (cut)
    assert got[3]["n_queries_matched"] == 2
    assert got[3]["rep_query"] == 1  # best rank 1, tie broken by min query_id
    assert got[3]["best_rank"] == 1
    # id 1: rank1 only in q0
    assert got[1]["n_queries_matched"] == 1 and got[1]["rep_query"] == 0
    # fused order: id3 (two rank-1/rank-2 hits) on top; exact integer math
    micro = lambda r: int(1e15 // (60 + r))  # noqa: E731
    assert got[3]["rrf_micro"] == micro(1) + micro(1)
    assert out[0]["id"] == 3
    assert len(out) == 4  # max_results cap


def test_rank_normalize_cap_fair_across_scales(spark):
    """Scores on wildly different scales contribute fairly after rank
    normalization; per-id dedup keeps the best-normalized entry."""
    from octocode_spark.operators.rrf import rank_normalize_cap

    rows = [
        ("big", 1, 1e9), ("big", 2, 5e8), ("big", 3, 1e8),
        ("small", 3, 0.9), ("small", 4, 0.5), ("small", 5, 0.1),
    ]
    scored = spark.createDataFrame(rows, "modality: string, id: long, score: double")
    out = rank_normalize_cap(scored, cap=10).collect()
    got = {(r["id"]): r for r in out}
    # both list tops get norm 1.0 despite 1e9 vs 0.9 raw scores
    assert got[1]["norm"] == 1.0 and got[1]["modality"] == "big"
    # id 3 appears in both lists: rank3 in big (norm 0) vs rank1 in small
    # (norm 1.0) -> keeps the small entry
    assert got[3]["norm"] == 1.0 and got[3]["modality"] == "small"
    assert len(out) == 5  # ids 1..5 deduped
    # cap enforced
    assert len(rank_normalize_cap(scored, cap=2).collect()) == 2


def test_ivf_build_search_split_recall(spark):
    """Index built once, queried repeatedly with no KMeans.fit in the query
    path; recall@10 vs the exact baseline >= 0.9 on clustered data."""
    import numpy as np

    from octocode_spark.operators.ann import brute_force_topk, build_ivf_index, ivf_search

    rng = np.random.RandomState(11)
    base = rng.randn(4, 16) * 4
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(60):
            v = base[c] + rng.randn(16) * 0.1
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    vecs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>").cache()
    index = build_ivf_index(vecs, n_clusters=4)
    hits = 0
    for c in range(3):  # three queries against the SAME index
        q = [float(x) for x in base[c]]
        exact = {r["vec_id"] for r in brute_force_topk(vecs, q, k=10).collect()}
        approx = {r["vec_id"] for r in ivf_search(index, q, k=10, n_probe=2).collect()}
        hits += len(exact & approx)
    assert hits / 30 >= 0.9  # recall@10 over 3 queries
    index.assigned.unpersist()


def test_lsh_query_signature_python_equals_jvm(spark):
    """The driver-side (pure python xxhash64) query signature is bit-equal to
    the JVM expression it replaced."""
    import numpy as np

    from octocode_spark.operators.ann import lsh_query_signature, lsh_signature_literal

    rng = np.random.RandomState(3)
    for _ in range(5):
        vec = [float(x) for x in rng.randn(12)]
        jvm = spark.range(1).select(lsh_signature_literal(vec, 10).alias("s")).collect()[0]["s"]
        assert lsh_query_signature(vec, 10) == jvm


def test_relationships_by_type_filter_direction_pagination(spark):
    from octocode_spark.operators.graph import relationships_by_type

    rows = [
        ("a", "x", "knows"), ("b", "x", "knows"), ("c", "x", "knows"),
        ("x", "a", "knows"), ("x", "y", "owns"), ("z", "x", "owns"),
    ]
    edges = spark.createDataFrame(rows, "src: string, dst: string, rel_type: string")
    incoming = relationships_by_type(edges, rel_type="knows", node="x", direction="in",
                                     page_size=2, page=0).collect()
    assert [(r["src"], r["rn"]) for r in incoming] == [("a", 1), ("b", 2)]
    page2 = relationships_by_type(edges, rel_type="knows", node="x", direction="in",
                                  page_size=2, page=1).collect()
    assert [(r["src"], r["rn"]) for r in page2] == [("c", 3)]
    outgoing = relationships_by_type(edges, node="x", direction="out").collect()
    assert {(r["src"], r["dst"]) for r in outgoing} == {("x", "a"), ("x", "y")}
    both = relationships_by_type(edges, rel_type="owns", node="x", direction="both").collect()
    assert {(r["src"], r["dst"]) for r in both} == {("x", "y"), ("z", "x")}


def test_shortest_path_min_hops_and_lexicographic_tie(spark):
    from octocode_spark.operators.graph import shortest_path

    #   s -> b -> t   and   s -> a -> t   (tie at 2 hops: path via 'a' wins)
    #   s -> c -> d -> t (longer, ignored);  island disconnected
    rows = [("s", "b"), ("b", "t"), ("s", "a"), ("a", "t"),
            ("s", "c"), ("c", "d"), ("d", "t"), ("i1", "i2")]
    edges = spark.createDataFrame(rows, "src: string, dst: string")
    got = shortest_path(edges, "s", "t", max_hops=5).collect()
    assert len(got) == 1 and got[0]["hops"] == 2 and got[0]["path"] == "s->a->t"
    # directed: no path t -> s; undirected: 2 hops back
    assert shortest_path(edges, "t", "s", max_hops=5).collect() == []
    back = shortest_path(edges, "t", "s", max_hops=5, directed=False).collect()
    assert back[0]["hops"] == 2 and back[0]["path"] == "t->a->s"
    # unreachable island
    assert shortest_path(edges, "s", "i2", max_hops=5, directed=False).collect() == []
    # source == target
    assert shortest_path(edges, "s", "s").collect()[0]["hops"] == 0


def test_bm25_rejects_empty_terms(spark):
    import pytest as _pytest

    from octocode_spark.operators.hybrid import bm25_scores

    docs = spark.createDataFrame([(1, "x")], "doc_id: long, text: string")
    with _pytest.raises(ValueError, match="at least one"):
        bm25_scores(docs, [])


def test_dedup_keep_best_prefers_quality_then_min_id(spark):
    from octocode_spark.operators.dedup import dedup_keep_best
    from octocode_spark.operators.text import quality_score

    rows = [
        # same fingerprint (canonicalization collapses whitespace/case);
        # doc 11's extra whitespace lowers its punct RATIO -> higher quality
        (10, "hello, world. the and of to in words here now"),
        (11, "hello,  world.  the and of to in words here now"),
        # exact tie group: identical raw text -> tie broken by min id
        (20, "the quick brown fox jumps over it"),
        (21, "the quick brown fox jumps over it"),
        (30, "a unique document with no duplicates at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    kept = {r["doc_id"] for r in dedup_keep_best(docs, quality_score(F.col("text"))).collect()}
    assert kept == {11, 20, 30}


def test_repetition_stats_values(spark):
    from octocode_spark.operators.text import repetition_stats

    rows = [
        (1, "a a a a"),                      # all dup words; top bigram 'a a' = 3/3
        (2, "w x y z"),                      # no repetition
        (3, "go go stop go go stop"),        # dup_frac 4/6; top bigram 'go go' 2/5
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    st = repetition_stats(F.col("text"))
    got = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        F.round(st["dup_word_frac"], 4).alias("d"),
        F.round(st["top_bigram_frac"], 4).alias("t"),
    ).collect()}
    assert got[1]["d"] == 0.75 and got[1]["t"] == 1.0
    assert got[2]["d"] == 0.0 and got[2]["t"] == round(1 / 3, 4)  # 3 bigrams, all unique
    assert got[3]["d"] == round(4 / 6, 4) and got[3]["t"] == 0.4


def test_stratified_sample_deterministic_and_bounded(spark):
    from octocode_spark.operators.text import stratified_sample_expr

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keepers").otherwise("dropped").alias("source"),
    )
    keep = stratified_sample_expr(F.col("source"), {"keepers": 0.5}, F.col("doc_id"))
    a = {r["doc_id"] for r in df.filter(keep).collect()}
    b = {r["doc_id"] for r in df.repartition(13).filter(keep).collect()}
    assert a == b  # same rows at any partitioning
    assert all(i % 2 == 0 for i in a)  # unlisted sources fully dropped
    assert 0.4 < len(a) / 2000 < 0.6  # ~50% of the stratum


def test_relationships_keyset_pagination_and_plan(spark):
    """Keyset pages must stitch into the same sequence as offset pages, and
    neither path may compute a global row_number over all matching edges:
    keyset compiles to TakeOrderedAndProject alone; the offset wrapper's
    Window sits ABOVE the TakeOrderedAndProject(offset=...), i.e. over the
    <= page_size slice only."""
    from octocode_spark.operators.graph import (
        relationships_by_type,
        relationships_by_type_keyset,
    )

    rows = [(f"s{i % 50:02d}", f"d{i % 97:02d}", f"t{i % 3}") for i in range(3000)]
    edges = spark.createDataFrame(
        rows, "src: string, dst: string, rel_type: string"
    ).repartition(8)

    pages, after = [], None
    for _ in range(3):
        page = relationships_by_type_keyset(
            edges, rel_type="t0", page_size=7, after=after
        ).collect()
        pages.extend((r["src"], r["dst"], r["rel_type"]) for r in page)
        after = (page[-1]["src"], page[-1]["dst"], page[-1]["rel_type"])
    offset_rows = [
        (r["src"], r["dst"], r["rel_type"])
        for p in range(3)
        for r in relationships_by_type(edges, rel_type="t0", page_size=7, page=p).collect()
    ]
    assert pages == offset_rows

    ks_plan = (
        relationships_by_type_keyset(edges, rel_type="t0", page_size=7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in ks_plan and "Window" not in ks_plan
    off_plan = (
        relationships_by_type(edges, rel_type="t0", page_size=7, page=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "offset=14" in off_plan
    # plans print top-down: the (bounded) Window sits ABOVE the slice
    assert off_plan.index("Window") < off_plan.index("TakeOrderedAndProject")
    assert off_plan.count("Window") == 1


def test_query_shape_auto_weight_tilt(spark):
    """Deterministic query-shape classifier (reference
    src/indexer/search.rs:1743-1756): short identifier-shaped queries tilt
    to 0.3/0.7 keyword; natural language keeps the 0.6/0.4 defaults; and
    hybrid_search_auto actually fuses with the tilted weights."""
    from octocode_spark.operators.hybrid import (
        classify_query_weights,
        hybrid_search,
        hybrid_search_auto,
    )

    assert classify_query_weights("getUserById") == (0.3, 0.7)
    assert classify_query_weights("parse_config file") == (0.3, 0.7)
    assert classify_query_weights("Vec<String> iter") == (0.3, 0.7)
    assert classify_query_weights("store.commit()") == (0.3, 0.7)
    assert classify_query_weights("how does the merge handle deletes") == (0.6, 0.4)
    assert classify_query_weights("spark join window") == (0.6, 0.4)  # 3 plain words
    assert classify_query_weights("weights", 0.8, 0.2) == (0.8, 0.2)  # defaults pass through

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # identifier-shaped: one mixed-case word tokenizing to the same 3 terms
    auto_ident = hybrid_search_auto(docs, vecs, "Spark.join(window)", 0, k=10).collect()
    explicit = hybrid_search(
        docs, vecs, ["spark", "join", "window"], 0, k=10,
        vector_weight=0.3, keyword_weight=0.7,
    ).collect()
    assert [r.asDict() for r in auto_ident] == [r.asDict() for r in explicit]
    # natural-language: same terms, default 0.6/0.4 fusion
    auto_nl = hybrid_search_auto(
        docs, vecs, "where does spark put the join inside a window stage", 0, k=10
    ).collect()
    nl_terms = "where does spark put the join inside a window stage".split()
    explicit_nl = hybrid_search(
        docs, vecs, nl_terms, 0, k=10, vector_weight=0.6, keyword_weight=0.4
    ).collect()
    assert [r.asDict() for r in auto_nl] == [r.asDict() for r in explicit_nl]


def test_hybrid_reranker_injection_seam(spark):
    """Pluggable reranker (reference src/store/mod.rs:1218-1310, Reranker
    trait src/store/weighted_rrf.rs:65-166): a custom callable applied to
    the fused candidate frame reorders/filters before the final cut, and
    the default (None) path is bit-identical to the pre-seam behavior."""
    from pyspark.sql import functions as F

    from octocode_spark.operators.hybrid import hybrid_search
    from octocode_spark.operators.rrf import weighted_rrf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    terms = ["spark", "join", "window"]

    default = hybrid_search(docs, vecs, terms, 0, k=10).collect()
    explicit_none = hybrid_search(docs, vecs, terms, 0, k=10, reranker=None).collect()
    assert [r.asDict() for r in default] == [r.asDict() for r in explicit_none]

    # a reranker that inverts the fused order (stand-in for a cross-encoder)
    def invert(fused):
        return fused.orderBy(F.col("rrf_score").asc(), F.col("id").asc())

    inverted = hybrid_search(docs, vecs, terms, 0, k=10, reranker=invert).collect()
    assert [r["id"] for r in inverted] != [r["id"] for r in default]
    # it saw the FULL fused candidate set: its k-th item ranks below every
    # default top-k item on rrf_score
    assert inverted[0]["rrf_score"] <= default[-1]["rrf_score"]

    # a filtering reranker bounds the output
    def only_multi_source(fused):
        return fused.filter(F.col("sources") >= 2)

    multi = hybrid_search(docs, vecs, terms, 0, k=10, reranker=only_multi_source).collect()
    assert all(r["sources"] >= 2 for r in multi)


def test_temperature_mixing_fractions_properties(spark):
    """α=1 keeps natural proportions; α→0 approaches uniform over sources;
    fractions clamp at 1; deterministic regardless of dict order; the
    sampled frame matches a hand-built stratified predicate."""
    from octocode_spark.operators.text import (
        stratified_sample_expr,
        temperature_mixing_fractions,
        temperature_sample,
    )

    counts = {"big": 8000, "mid": 1500, "tail": 50}
    nat = temperature_mixing_fractions(counts, 1.0, 1000)
    # α=1: expected kept rows per source ∝ n_i → equal fractions
    assert abs(nat["big"] - nat["mid"]) < 1e-12 and abs(nat["big"] - nat["tail"]) < 1e-12
    cold = temperature_mixing_fractions(counts, 0.0, 1000)
    # α=0: equal EXPECTED rows per source (until the clamp), so tail keeps
    # a much larger fraction than big
    assert cold["tail"] == 1.0  # 1000/3 > 50 → clamped
    assert abs(cold["big"] * 8000 - cold["mid"] * 1500) < 1e-6
    mid_a = temperature_mixing_fractions(counts, 0.5, 1000)
    assert nat["tail"] < mid_a["tail"] <= cold["tail"]  # cooling up-samples the tail
    # dict-order invariance (the sorted-sum determinism contract)
    rev = temperature_mixing_fractions(dict(reversed(list(counts.items()))), 0.5, 1000)
    assert rev == mid_a
    assert temperature_mixing_fractions({}, 0.5, 10) == {}

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = temperature_sample(docs, alpha=0.5, target_rows=30)
    from pyspark.sql import functions as F

    cnts = {r["source"]: r["c"] for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()}
    fr = temperature_mixing_fractions(cnts, 0.5, 30)
    want = docs.filter(stratified_sample_expr(F.col("source"), fr, F.col("doc_id")))
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(r["doc_id"] for r in want.collect())


def test_count_pii_equals_placeholders_emitted(spark):
    """count_pii is DEFINED as the number of placeholders redact_pii emits —
    including adjacency-sensitive cases where a replacement changes what a
    later pattern can match (digits abutting a scrubbed span)."""
    from octocode_spark.operators.text import count_pii, redact_pii

    rows = [
        (1, "mail a@b.com and 10.0.0.1 then +1 212-555-1234 done"),
        (2, "glued a@b.com1 212-555-1234 trailing"),      # digit abuts the email
        (3, "ip10.0.0.42end and x@y.io."),
        (4, "no pii at all in this row"),
        (5, "a@b.com c@d.net 192.168.0.1 10.0.0.2 1 333-444-5555"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string").select(
        "doc_id",
        count_pii(F.col("text")).alias("n"),
        F.size(
            F.regexp_extract_all(
                redact_pii(F.col("text")), F.lit("<(EMAIL|IPV4|PHONE)>"), 0
            )
        ).cast("long").alias("placeholders"),
    )
    for r in df.collect():
        assert r["n"] == r["placeholders"], r


def test_adjacency_cache_matches_direct_traversals(spark):
    """AdjacencyCache (materialized, co-partitioned, persisted) must return
    the same k-hop and shortest-path answers as the direct operators, serve
    repeat calls from the cached frame, and report hit stats."""
    from octocode_spark.operators.graph import (
        AdjacencyCache,
        k_hop_neighbors,
        shortest_path,
    )

    rows = [("s", "b"), ("b", "t"), ("s", "a"), ("a", "t"),
            ("s", "c"), ("c", "d"), ("d", "t"), ("i1", "i2")]
    edges = spark.createDataFrame(rows, "src: string, dst: string")
    seeds = spark.createDataFrame([("s",)], "id: string")

    cache = AdjacencyCache(edges, directed=False)
    try:
        direct = {(r["id"], r["hops"]) for r in k_hop_neighbors(
            edges.unionByName(edges.selectExpr("dst as src", "src as dst")).distinct(),
            seeds, k=2).collect()}
        via_cache = {(r["id"], r["hops"]) for r in cache.k_hop(seeds, k=2).collect()}
        assert via_cache == direct

        sp_direct = shortest_path(edges, "s", "t", directed=False).collect()
        sp_cached = cache.shortest_path("s", "t").collect()
        assert [r.asDict() for r in sp_cached] == [r.asDict() for r in sp_direct]

        st = cache.stats()
        assert st["cached"] and st["calls_served"] == 2
        assert st["adj_rows"] == 16  # 8 edges, both directions, all distinct
    finally:
        cache.unpersist()


def test_duplicate_groups_and_fuzzy_dedup(spark):
    """Connected components over near-dup pairs: a transitive chain merges
    into ONE group labeled by its min id (propagation distance > 1), and
    dedup_fuzzy keeps exactly one representative per component."""
    from octocode_spark.operators.dedup import dedup_fuzzy, duplicate_groups

    # chain 1-2, 2-3, 3-4 (diameter 3) + island pair 7-9 + untouched 5
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 9)], "a: long, b: long"
    )
    groups = {r["id"]: r["group_id"] for r in duplicate_groups(pairs).collect()}
    assert groups == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 4, 5, 7, 9)], "doc_id: long, text: string"
    )
    kept = {r["doc_id"] for r in dedup_fuzzy(docs, pairs).collect()}
    assert kept == {1, 5, 7}


def test_pack_greedy_semantics_and_shards(spark):
    """Greedy first-fit packing: exact pack assignment on known weights,
    oversized docs get their own pack, and sharded mode keeps pack ids
    unique per stream while preserving in-shard greedy order."""
    from octocode_spark.operators.packing import pack_greedy, pack_stats

    # weights: a/1→3, a/2→4 (3+4>6: new pack), a/3→9 (>cap: own pack),
    # a/4→2, a/5→2 (2+2<=6: together), b/6→5
    rows = [
        (1, "x " * 3, "a"), (2, "x " * 4, "a"), (3, "x " * 9, "a"),
        (4, "x " * 2, "a"), (5, "x " * 2, "a"), (6, "x " * 5, "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string, source: string")
    out = {r["doc_id"]: r for r in pack_greedy(docs, cap=6).collect()}
    assert [out[i]["pack_id"] for i in (1, 2, 3, 4, 5)] == [0, 1, 2, 3, 3]
    assert out[6]["pack_id"] == 0 and out[6]["stream"] == "b"
    stats = {r["stream"]: r for r in pack_stats(pack_greedy(docs, cap=6), cap=6).collect()}
    assert stats["a"]["n_packs"] == 4 and stats["a"]["total_tok"] == 20

    sharded = pack_greedy(docs, cap=6, shards=3).collect()
    by_stream_pack = {}
    for r in sharded:
        by_stream_pack.setdefault((r["stream"], r["pack_id"]), []).append(r["doc_id"])
    # no pack exceeds cap even across shard-qualified ids
    for (stream, _pid), members in by_stream_pack.items():
        tot = sum(next(x["n_tok"] for x in sharded if x["doc_id"] == m) for m in members)
        assert tot <= 6 or len(members) == 1


def test_stable_rank_key_domain_and_nan(spark):
    """Quantized rank keys must fail LOUDLY outside their domain instead of
    letting floor(double)->long saturate into a silent all-tie collapse,
    and NaN must become NULL (orders last) rather than floor(NaN)=0."""
    import pytest

    from octocode_spark.operators.rrf import stable_rank_key

    ok = spark.createDataFrame(
        [(1, 0.5), (2, float("nan")), (3, None)], "id: long, s: double"
    )
    rows = {r["id"]: r["k"] for r in ok.select("id", stable_rank_key("s").alias("k")).collect()}
    assert rows[1] == int(0.5e6) and rows[2] is None and rows[3] is None

    big = spark.createDataFrame([(1, 1.0e13)], "id: long, s: double")
    with pytest.raises(Exception, match="saturate"):
        big.select(stable_rank_key("s").alias("k")).collect()


def test_duplicate_groups_long_chain_converges(spark):
    """Pointer jumping: a 120-link chain (diameter 120) must converge well
    inside the round cap — label reach doubles per round."""
    from octocode_spark.operators.dedup import duplicate_groups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "a: long, b: long"
    )
    groups = {r["id"]: r["group_id"] for r in duplicate_groups(pairs, max_rounds=12).collect()}
    assert set(groups.values()) == {0} and len(groups) == 121


def test_relationship_pages_keep_extra_edge_columns(spark):
    """Pagination must pass through every edge column (weight etc.), like
    the pre-keyset implementation did."""
    from octocode_spark.operators.graph import (
        relationships_by_type,
        relationships_by_type_keyset,
    )

    edges = spark.createDataFrame(
        [("a", "x", "knows", 0.9), ("b", "x", "knows", 0.7)],
        "src: string, dst: string, rel_type: string, weight: double",
    )
    page = relationships_by_type(edges, rel_type="knows", page_size=10).collect()
    assert {r["src"]: r["weight"] for r in page} == {"a": 0.9, "b": 0.7}
    assert page[0]["rn"] == 1
    ks = relationships_by_type_keyset(edges, rel_type="knows", page_size=10).collect()
    assert {r["src"]: r["weight"] for r in ks} == {"a": 0.9, "b": 0.7}


def test_multimodal_undecodable_fallback_modes(spark):
    """Unsupported codecs fail loudly by default; on_undecodable='stub'
    keeps mixed corpora flowing with deterministic stub features."""
    import pytest

    from octocode_spark.operators.multimodal import FEATURE_DIM, extract_features

    jpeg_ish = spark.createDataFrame(
        [("m-1", "image", bytearray(b"\xff\xd8\xff\xe0 not a ppm"), None)],
        "media_id: string, kind: string, payload: binary, meta: struct<width:int>",
    )
    with pytest.raises(Exception, match="not a binary PPM"):
        extract_features(jpeg_ish).collect()
    out = extract_features(jpeg_ish, on_undecodable="stub").collect()
    assert len(out) == 1 and len(out[0]["features"]) == FEATURE_DIM


def test_c4_clean_line_rules(spark):
    """Each C4 rule on a crafted multi-line doc: min words, terminal
    punctuation, lorem-ipsum marker, brace marker."""
    from octocode_spark.operators.text import c4_clean

    text = "\n".join([
        "This is a perfectly valid sentence right here.",   # kept
        "too short.",                                        # < 5 words
        "this has five words but no terminal punctuation",   # no . ! ? "
        "sprinkle some Lorem Ipsum into this sentence now.", # marker
        "braces { appear } in this otherwise fine sentence.",# marker
        'A quoted ending also counts as terminal "',         # kept (quote)
        "Does a question mark count as terminal punctuation?",  # kept
    ])
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    out = df.select(c4_clean(F.col("text")).alias("c")).collect()[0]["c"]
    assert out.split("\n") == [
        "This is a perfectly valid sentence right here.",
        'A quoted ending also counts as terminal "',
        "Does a question mark count as terminal punctuation?",
    ]


def test_decontaminate_ngram_overlap(spark):
    """Docs sharing an 8-gram with the benchmark are dropped; shorter
    overlaps survive; benchmark-disjoint docs survive."""
    from octocode_spark.operators.dedup import decontaminate

    bench_sentence = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"prefix words then {bench_sentence} and a suffix"),  # full overlap
            (2, "a quick brown fox jumps over the lazy cat today"),  # 7-gram only
            (3, "completely unrelated text about spark shuffles and parquet files"),
        ],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame([(bench_sentence,)], "text: string")
    kept = {r["doc_id"] for r in decontaminate(docs, bench, n=8).collect()}
    assert kept == {2, 3}


def test_dedup_lines_keeps_first_occurrences_in_order(spark):
    from octocode_spark.operators.text import dedup_lines

    text = "\n".join(["nav", "body one", "nav", "cookie", "cookie", "body two", "nav"])
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    out = df.select(dedup_lines(F.col("text")).alias("c")).collect()[0]["c"]
    assert out.split("\n") == ["nav", "body one", "cookie", "body two"]


def test_offset_pagination_deterministic_on_multigraph(spark):
    """Parallel same-typed edges with distinct payloads must land on stable
    pages: no row duplicated or lost across consecutive pages, same pages
    on repeated runs (content-hash tie-break)."""
    from octocode_spark.operators.graph import relationships_by_type

    rows = [("x", "y", "knows", float(w)) for w in range(7)] + [
        ("a", "b", "knows", 1.0), ("c", "d", "knows", 2.0),
    ]
    edges = spark.createDataFrame(
        rows, "src: string, dst: string, rel_type: string, weight: double"
    ).repartition(4)

    def pages():
        got = []
        for p in range(3):
            got.append(sorted(
                (r["src"], r["dst"], r["weight"])
                for r in relationships_by_type(edges, rel_type="knows",
                                               page_size=4, page=p).collect()
            ))
        return got

    first, second = pages(), pages()
    assert first == second  # repeatable
    flat = [t for page in first for t in page]
    assert len(flat) == 9 and len(set(flat)) == 9  # no dup / no loss


def test_spread_for_compute_fans_out_starved_scan_noop_at_scale(spark):
    from octocode_spark.operators.dedup import spread_for_compute

    target = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [(i, f"doc text number {i}") for i in range(64)],
        "doc_id: long, text: string",
    )

    # starved input (one partition, the one-file/one-rowgroup scan shape):
    # fanned out to the session's full parallelism, values untouched
    starved = docs.coalesce(1)
    spread = spread_for_compute(starved)
    assert starved.rdd.getNumPartitions() == 1
    assert spread.rdd.getNumPartitions() == target
    assert sorted(r["doc_id"] for r in spread.collect()) == list(range(64))

    # already-parallel input (the at-scale case): returned UNTOUCHED —
    # same object, so no exchange is ever added above a big scan
    wide = docs.repartition(target + 4, "doc_id")
    assert spread_for_compute(wide) is wide


def test_q21_null_user_or_ts_purchases_follow_nothing(spark, tmp_path):
    """q21 on a crafted events file agrees with its DuckDB oracle when keys
    are NULL: a purchase with a NULL user_id or a NULL ts equi-joins no
    event there, so it follows nothing — even though the window puts NULL
    users (and NULL timestamps of one user) in one frame."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from octocode_spark.queries import oracle_sql, queries

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    minutes = dt.timedelta(minutes=1)
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        "ts": pa.array([t0, t0 + 10 * minutes, t0, t0 + 30 * minutes, None, None],
                       pa.timestamp("us")),
        "user_id": pa.array([None, None, 7, 7, 7, 7], pa.int64()),
        "event_type": ["purchase", "click", "purchase", "click", "purchase", "click"],
        "value": pa.array([1.0] * 6),
        "props": ["{}"] * 6,
    }), str(tmp_path / "events.parquet"))

    name = "q21_events_within_hour_after_purchase"
    got = [tuple(r) for r in queries()[name](spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path / 'events.parquet'}')")
    want = con.sql(oracle_sql()[name]).fetchall()
    assert want == [(1, 0), (3, 1), (5, 0)]
    assert got == want
