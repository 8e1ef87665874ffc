"""Graph traversal over (nodes, edges) DataFrames — the GraphRAG analog
(reference: adjacency cache + traversals, src/store/graphrag.rs:54-180).

Plain DataFrames + iterative joins; no GraphFrames needed. BFS is a loop of
(frontier ⋈ edges) with an accumulated visited set — k is small (the
reference caps expansion at 1 hop, we support k), so k shuffles total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_hop_neighbors(edges: DataFrame, seeds: DataFrame, k: int = 2,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """All nodes reachable from ``seeds`` (column `id`) within ≤ k hops,
    with the minimal hop distance: (id, hops). Seeds are hops=0."""
    visited = seeds.select(F.col("id"), F.lit(0).alias("hops"))
    frontier = visited
    for hop in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier.id == edges[src])
            .select(F.col(dst).alias("id"), F.lit(hop).alias("hops"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            # truncate lineage per level: each level is consumed 3× (empty
            # probe, union, next join) and the result outlives the loop —
            # without this, level h re-runs all h-1 previous joins
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def _hashable_type(dt) -> bool:
    """True when Spark's hash/xxhash64 accepts the type: MapType is
    rejected (element order is undefined), including maps nested inside
    arrays/structs."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    return True


def _rel_filtered(
    edges: DataFrame, rel_type: str | None, node: str | None, direction: str,
    src: str, dst: str, type_col: str,
) -> DataFrame:
    out = edges
    if rel_type is not None:
        out = out.filter(F.col(type_col) == rel_type)
    if node is not None:
        if direction == "out":
            cond = F.col(src) == node
        elif direction == "in":
            cond = F.col(dst) == node
        else:
            cond = (F.col(src) == node) | (F.col(dst) == node)
        out = out.filter(cond)
    return out


def relationships_by_type_keyset(
    edges: DataFrame,
    rel_type: str | None = None,
    node: str | None = None,
    direction: str = "both",  # out | in | both
    page_size: int = 100,
    after: tuple[str, str, str] | None = None,
    src: str = "src",
    dst: str = "dst",
    type_col: str = "rel_type",
) -> DataFrame:
    """Keyset page of typed/directed relationships: rows with cursor
    (src, dst, rel_type) > ``after``, ordered, ``page_size`` rows.

    The scale shape: the cursor is a plain pushdown-able predicate and the
    sort+limit compiles to TakeOrderedAndProject — per-partition partial
    top-k merged on the driver. No global row_number window, so a type-only
    query never funnels every matching edge through one reducer. ALL edge
    columns pass through (weight/confidence/etc. stay on the page).

    PRECONDITION: (src, dst, rel_type) must uniquely identify an edge — the
    cursor IS that triple, so a multigraph with parallel same-typed edges
    has rows the cursor cannot address individually (dedupe or fold
    parallel edges first, e.g. max-weight per triple)."""
    out = _rel_filtered(edges, rel_type, node, direction, src, dst, type_col)
    if after is not None:
        a_src, a_dst, a_type = after
        out = out.filter(
            F.struct(F.col(src), F.col(dst), F.col(type_col))
            > F.struct(F.lit(a_src), F.lit(a_dst), F.lit(a_type))
        )
    return (
        out.orderBy(F.col(src).asc(), F.col(dst).asc(), F.col(type_col).asc())
        .limit(page_size)
    )


def relationships_by_type(
    edges: DataFrame,
    rel_type: str | None = None,
    node: str | None = None,
    direction: str = "both",  # out | in | both
    page_size: int = 100,
    page: int = 0,
    src: str = "src",
    dst: str = "dst",
    type_col: str = "rel_type",
) -> DataFrame:
    """Typed/directed relationship query with OFFSET pagination (Q12 — the
    reference's get_relationships_by_type, src/store/graphrag.rs:1017:
    filter by relationship type, by node + direction, deterministic order,
    offset/limit pages). Kept as the reference's API contract; prefer
    relationships_by_type_keyset for deep paging.

    Implementation is a wrapper over the keyset shape: sort + offset +
    limit (TakeOrderedAndProject with offset — per-partition partial
    top-(offset+size), never a global row_number over all matching edges).
    The `rn` column is recomputed over the returned slice only, which is
    ≤ page_size rows — bounded, so its single-partition window is fine.
    ALL edge columns pass through, plus rn."""
    from pyspark.sql import Window

    lo = page * page_size
    filtered = _rel_filtered(edges, rel_type, node, direction, src, dst, type_col)
    # deterministic total order even on multigraphs: parallel same-typed
    # edges (distinct payloads) tie on the triple, so a content-hash of the
    # row breaks the tie identically on every run/partitioning. Restricted
    # to HASHABLE columns — Spark's hash rejects MapType (and maps nested
    # in arrays/structs); an edge payload carrying one would fail where the
    # old row_number implementation worked. Parallel edges differing ONLY
    # in an unhashable column still get a stable (if arbitrary-but-fixed)
    # relative order from the hashable remainder.
    hashable = [c for c, f in zip(filtered.columns, filtered.schema.fields)
                if _hashable_type(f.dataType)]
    row_tie = F.xxhash64(*[F.col(c) for c in hashable])
    sliced = (
        filtered
        .orderBy(F.col(src).asc(), F.col(dst).asc(), F.col(type_col).asc(), row_tie.asc())
        .offset(lo)
        .limit(page_size)
    )
    w = Window.orderBy(
        F.col(src).asc(), F.col(dst).asc(), F.col(type_col).asc(),
        F.xxhash64(*[F.col(c) for c in hashable]).asc(),
    )
    return sliced.withColumn("rn", F.row_number().over(w) + F.lit(lo))


def shortest_path(
    edges: DataFrame,
    source_id: str,
    target_id: str,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Deterministic shortest path: minimal hop count, lexicographically
    smallest node sequence among equal-length paths (Q12 path-find,
    reference GraphRAG ops src/store/mod.rs:972-1067).

    Level-synchronous BFS: each hop is one (frontier ⋈ edges) + a
    min-path-per-node contraction (arrays are orderable, so the contraction
    is a plain ``min`` aggregate — map-side combinable, one shuffle per hop,
    ≤ max_hops shuffles total). First-visit semantics make every kept path
    simple; the per-node lexicographic min provably extends to the global
    lexicographic-min shortest path. Returns 1 row (hops, path) or 0 rows.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        e = e.unionByName(edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))).distinct()
    return _shortest_path_on(edges.sparkSession, e, source_id, target_id, max_hops)


def _shortest_path_on(
    spark, e: DataFrame, source_id: str, target_id: str, max_hops: int
) -> DataFrame:
    """BFS core over a prepared (_s, _d) edge frame (direction already
    expanded) — shared by shortest_path and AdjacencyCache."""
    visited = spark.createDataFrame(
        [(source_id, 0, [source_id])], "id: string, hops: int, path: array<string>"
    )
    if source_id == target_id:
        return visited.select("hops", F.concat_ws("->", "path").alias("path"))
    frontier = visited
    cached: list[DataFrame] = []
    try:
        for hop in range(1, max_hops + 1):
            # persist each level: the level is consumed up to 3× (hit probe,
            # next frontier join, visited union) — without the cache, hop h
            # re-executes every previous frontier⋈edges join from scratch
            nxt = (
                frontier.join(e, frontier.id == e._s)
                .select(F.col("_d").alias("id"), F.concat("path", F.array("_d")).alias("path"))
                .groupBy("id")
                .agg(F.min("path").alias("path"))
                .withColumn("hops", F.lit(hop))
                .join(visited.select("id"), "id", "left_anti")
                .persist()
            )
            cached.append(nxt)
            if nxt.count() == 0:  # count (not isEmpty) fully materializes the cache
                break
            hit = nxt.filter(F.col("id") == target_id).select(
                "hops", F.concat_ws("->", "path").alias("path")
            ).collect()
            if hit:
                # decouple the 1-row result from the cached lineage
                return spark.createDataFrame(
                    [(r["hops"], r["path"]) for r in hit], "hops: int, path: string"
                )
            visited = visited.unionByName(nxt.select("id", "hops", "path"))
            frontier = nxt
        return spark.createDataFrame([], "hops: int, path: string")
    finally:
        for c in cached:
            c.unpersist()


class AdjacencyCache:
    """Materialized adjacency reused across traversals — the Spark analog of
    the reference's adjacency cache with hit-rate stats
    (src/store/graphrag.rs:54-180). The edge list is projected to (_s, _d),
    direction-expanded ONCE, hash-partitioned on the join key and persisted:
    every subsequent k-hop / shortest-path call joins the SAME cached,
    co-partitioned frame instead of re-scanning + re-expanding the raw
    edges table per call (and the exchange on _s is reused across hops)."""

    def __init__(
        self,
        edges: DataFrame,
        src: str = "src",
        dst: str = "dst",
        directed: bool = True,
        num_partitions: int | None = None,
    ):
        e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        if not directed:
            e = e.unionByName(
                edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
            )
        e = e.distinct()
        n = num_partitions or edges.sparkSession.sparkContext.defaultParallelism
        self.adj = e.repartition(n, "_s").persist()
        self.adj_rows = self.adj.count()  # materialize the cache eagerly
        self.directed = directed
        self.calls = 0

    def k_hop(self, seeds: DataFrame, k: int = 2) -> DataFrame:
        self.calls += 1
        return k_hop_neighbors(self.adj, seeds, k, src="_s", dst="_d")

    def shortest_path(self, source_id: str, target_id: str, max_hops: int = 6) -> DataFrame:
        self.calls += 1
        return _shortest_path_on(
            self.adj.sparkSession, self.adj, source_id, target_id, max_hops
        )

    def stats(self) -> dict:
        """Reference-style cache stats: every call after the build is a hit
        (the cache is eager and immutable)."""
        return {
            "adj_rows": self.adj_rows,
            "calls_served": self.calls,
            "partitions": self.adj.rdd.getNumPartitions(),
            "cached": self.adj.is_cached,
        }

    def unpersist(self) -> None:
        self.adj.unpersist()
