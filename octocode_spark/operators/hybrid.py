"""Hybrid search: BM25 keyword scoring ∥ vector cosine → weighted RRF fusion.

The reference's core read path (SURVEY §3.2: ANN ∥ BM25 → WeightedRRF,
src/store/mod.rs:1194-1370 + src/store/weighted_rrf.rs), re-expressed as two
ranked DataFrames fused by operators/rrf.py.

Keyword arm = full BM25 (idf + doc-length normalization, k1=1.2 / b=0.75 —
the Lucene defaults the reference's FTS engine uses, src/store/mod.rs:1323-
1367), computed as pure whole-stage-codegen expressions: tokenize with a
code-style regex (alnum runs, matching the identifier-ish tokenizer in
src/store/table_ops.rs:441-460), per-term tf via array filters, corpus stats
(N, avgdl, per-term df) via one aggregate broadcast back over the scan.
No UDF, no inverted index build — at 10^12-doc scale the (term → df) stats
come from a precomputed term-stats table maintained at ingest (the
reference's lazy FTS index analog); the scoring expression is unchanged.

Default weights: reference benchmark found vector 0.3 / keyword 0.7 the best
local stack (benchmark/RESULTS.md:17) — that tilt is the default here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from octocode_spark.operators.ann import cosine_sim
from octocode_spark.operators.rrf import weighted_rrf

BM25_K1 = 1.2
BM25_B = 0.75
TOKEN_PATTERN = "[a-z0-9]+"  # code-style: lowercase alnum runs

# reference defaults (src/config.rs:204-231): vector 0.6 / keyword 0.4,
# auto-tilted to 0.3/0.7 for identifier-shaped queries
DEFAULT_VECTOR_WEIGHT = 0.6
DEFAULT_KEYWORD_WEIGHT = 0.4
IDENTIFIER_VECTOR_WEIGHT = 0.3
IDENTIFIER_KEYWORD_WEIGHT = 0.7
_QUERY_SYMBOL_CHARS = set("_:(.<>")


def classify_query_weights(
    query: str,
    default_vector_weight: float = DEFAULT_VECTOR_WEIGHT,
    default_keyword_weight: float = DEFAULT_KEYWORD_WEIGHT,
) -> tuple[float, float]:
    """(vector_weight, keyword_weight) from a deterministic query-shape
    heuristic — no LLM (reference classify_query_weights,
    src/indexer/search.rs:1743-1756): a short query (≤3 words) containing
    code punctuation (_ : ( . < >) or camelCase is an identifier lookup and
    leans on BM25 (0.3/0.7), because BM25 owns exact identifier matches
    while dense vectors own paraphrased intent; anything else keeps the
    configured defaults."""
    q = query.strip()
    word_count = len(q.split())
    has_symbol = any(c in _QUERY_SYMBOL_CHARS for c in q)
    mixed_case = any(c.islower() for c in q) and any(c.isupper() for c in q)
    if word_count <= 3 and (has_symbol or mixed_case):
        return IDENTIFIER_VECTOR_WEIGHT, IDENTIFIER_KEYWORD_WEIGHT
    return default_vector_weight, default_keyword_weight


def tokenized_base(
    docs: DataFrame, terms: list[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, _dl, _tf0.._tfK): doc length + per-query-term term frequencies
    over one scan. Each term frequency is an interpreted ``F.filter`` lambda
    over the row's tokens (higher-order functions are CodegenFallback), so
    the cost is one pass over the tokens per query term."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0)

    def _tf(term: str) -> Column:
        # closure helper: a 2-arg lambda would hit F.filter's (elem, index) form
        return F.size(F.filter("_toks", lambda w: w == term))

    return docs.select(F.col(id_col).alias("id"), toks.alias("_toks")).select(
        "id",
        F.size("_toks").alias("_dl"),
        *[_tf(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    )


def _bm25_total(n_terms: int, n, avgdl, dfs, k1: float, b: float) -> tuple[Column, Column]:
    """(score, any_hit) from the shared BM25 expression. ``n``/``avgdl`` are
    Columns or floats, ``dfs[i]`` likewise — so the identical IEEE expression
    serves both the 2-scan form (aggregate columns) and the indexed form
    (driver-folded literals from the term-stats table)."""
    n = n if isinstance(n, Column) else F.lit(float(n))
    avgdl = avgdl if isinstance(avgdl, Column) else F.lit(float(avgdl))
    term_scores = []
    for i in range(n_terms):
        df_i = dfs[i] if isinstance(dfs[i], Column) else F.lit(float(dfs[i]))
        idf = F.log((n - df_i + 0.5) / (df_i + 0.5) + 1)
        denom = F.col(f"_tf{i}") + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("_dl") / avgdl
        )
        term_scores.append(idf * (F.col(f"_tf{i}") * F.lit(k1 + 1.0)) / denom)
    total = term_scores[0]
    for s in term_scores[1:]:
        total = total + s
    any_hit = F.col("_tf0") > 0
    for i in range(1, n_terms):
        any_hit = any_hit | (F.col(f"_tf{i}") > 0)
    return total, any_hit


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bm25) for every document matching ≥1 query term.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   [Lucene's BM25+ variant]

    Two scans of `docs` (one for corpus stats, one to score), zero Python.
    The stats row is broadcast, so the score pass stays embarrassingly
    parallel at any corpus size. At index-maintained deployments use
    lakehouse.fts.bm25_scores_indexed — same expression, ONE corpus scan.
    """
    if not terms:
        raise ValueError("bm25_scores requires at least one query term")
    terms = [t.lower() for t in terms]
    base = tokenized_base(docs, terms, text_col, id_col)
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        (F.sum("_dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("int")).cast("double").alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    total, any_hit = _bm25_total(
        len(terms), F.col("_n"), F.col("_avgdl"),
        [F.col(f"_df{i}") for i in range(len(terms))], k1, b,
    )
    return scored.filter(any_hit).select("id", total.alias("bm25"))


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 50,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k by BM25 with the deterministic id tie-break
    (TakeOrderedAndProject — per-partition partial top-k, no full sort)."""
    return (
        bm25_scores(docs, terms, k1, b, text_col, id_col)
        .select("id", F.round("bm25", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("id").asc())
        .limit(k)
    )


def hybrid_search(
    docs: DataFrame,
    vectors: DataFrame,
    terms: list[str],
    query_vec_id: int,
    k: int = 20,
    vector_weight: float = 0.3,
    keyword_weight: float = 0.7,
    candidates: int = 100,
    term_stats=None,
    reranker: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """docs(doc_id, text) ⊕ vectors(vec_id, embedding) → top-k fused ids.

    Two candidate lists of ``candidates`` each (over-fetch, like the
    reference's top_k_candidates=50), fused with w/(60+rank). Both the
    candidate cut and the in-list rank order on floor(score·1e6)::BIGINT
    (stable_rank_key) so near-tied float scores rank identically on any
    engine — the reference's determinism rule.

    ``term_stats``: an ingest-maintained lakehouse.fts term-stats LakeTable;
    when given, the keyword arm scores with ONE corpus scan from the index
    (bit-identical to the 2-scan form, so fused results are unchanged).

    ``reranker``: injection seam for a downstream scoring stage — the
    reference's hybrid path accepts a pluggable Reranker object
    (src/store/mod.rs:1218-1310; trait src/store/weighted_rrf.rs:65-166).
    Applied to the FUSED candidate frame (id, rrf_score, sources — at most
    2·candidates rows, so an expensive model-backed stage stays bounded)
    BEFORE the final top-k cut; the frame it returns is what gets limited,
    so it may rescore, reorder, or filter. None (default) keeps today's
    weighted-RRF order bit-identical."""
    from octocode_spark.operators.rrf import stable_rank_key

    if term_stats is not None:
        from octocode_spark.lakehouse.fts import bm25_scores_indexed

        kw_scores = bm25_scores_indexed(docs.sparkSession, docs, term_stats, terms)
    else:
        kw_scores = bm25_scores(docs, terms)
    kw = (
        kw_scores
        .select("id", stable_rank_key("bm25").alias("bm25q"))
        .orderBy(F.col("bm25q").desc(), F.col("id").asc())
        .limit(candidates)
    )
    q = vectors.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    vec = (
        vectors.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("id"),
            stable_rank_key(
                cosine_sim(F.col("embedding").cast("array<double>"), F.col("qv"))
            ).alias("cosq"),
        )
        .orderBy(F.col("cosq").desc(), F.col("id").asc())
        .limit(candidates)
    )
    fused = weighted_rrf(
        [(kw, keyword_weight, "bm25q", False), (vec, vector_weight, "cosq", False)]
    )
    if reranker is not None:
        fused = reranker(fused)
    # `k is not None`, not truthiness: k=0 must keep its empty-result
    # semantics instead of silently returning the full fused frame
    return fused.limit(k) if k is not None else fused


def hybrid_search_auto(
    docs: DataFrame,
    vectors: DataFrame,
    query_text: str,
    query_vec_id: int,
    k: int = 20,
    candidates: int = 100,
    default_vector_weight: float = DEFAULT_VECTOR_WEIGHT,
    default_keyword_weight: float = DEFAULT_KEYWORD_WEIGHT,
    reranker: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """hybrid_search with the query-shape auto weight tilt: terms come from
    the query text (same tokenizer as the corpus), weights from
    classify_query_weights — 'getUserById' fuses 0.3/0.7, a natural-language
    sentence keeps the configured defaults."""
    import re

    vw, kw_w = classify_query_weights(
        query_text, default_vector_weight, default_keyword_weight
    )
    terms = re.findall(TOKEN_PATTERN, query_text.lower())
    if not terms:
        raise ValueError("query text contains no indexable terms")
    return hybrid_search(
        docs, vectors, terms, query_vec_id, k,
        vector_weight=vw, keyword_weight=kw_w, candidates=candidates,
        reranker=reranker,
    )
