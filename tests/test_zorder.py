"""Unit tests for the Z-order / Hilbert bit-interleave kernels.

Mirrors the reference's formula-style unit tests
(src/store/vector_optimizer.rs:261-345): known vectors + invariants.
"""

from __future__ import annotations

import numpy as np

from octocode_spark.functions.zorder import (
    hilbert_index3,
    morton_interleave3,
    with_cluster_key,
)


def _arr(*vals):
    return np.array(vals, dtype=np.uint64)


def test_morton_known_vectors():
    # dim a at bit 0, b at bit 1, c at bit 2 of each triple
    assert morton_interleave3(_arr(1), _arr(0), _arr(0))[0] == 1
    assert morton_interleave3(_arr(0), _arr(1), _arr(0))[0] == 2
    assert morton_interleave3(_arr(0), _arr(0), _arr(1))[0] == 4
    assert morton_interleave3(_arr(3), _arr(3), _arr(3))[0] == 0b111111
    assert morton_interleave3(_arr(2), _arr(0), _arr(0))[0] == 0b001000
    # 21-bit max stays under 2^63
    m = morton_interleave3(_arr((1 << 21) - 1), _arr((1 << 21) - 1), _arr((1 << 21) - 1))[0]
    assert m == (1 << 63) - 1


def test_morton_interleaving_locality():
    # changing the lowest bit of one dim changes the key by < one step of the
    # next dim's lowest bit
    base = morton_interleave3(_arr(4), _arr(4), _arr(4))[0]
    bump_a = morton_interleave3(_arr(5), _arr(4), _arr(4))[0]
    bump_c = morton_interleave3(_arr(4), _arr(4), _arr(5))[0]
    assert bump_a - base == 1
    assert bump_c - base == 4


def test_hilbert_is_bijective_on_small_grid():
    bits = 3
    n = 1 << bits
    aa, bb, cc = np.meshgrid(np.arange(n), np.arange(n), np.arange(n), indexing="ij")
    idx = hilbert_index3(
        aa.ravel().astype(np.uint64),
        bb.ravel().astype(np.uint64),
        cc.ravel().astype(np.uint64),
        bits=bits,
    )
    assert len(np.unique(idx)) == n**3
    assert idx.min() == 0
    assert idx.max() == n**3 - 1


def test_hilbert_consecutive_cells_are_grid_neighbors():
    """The defining Hilbert property: consecutive curve positions differ by
    exactly 1 in exactly one coordinate."""
    bits = 3
    n = 1 << bits
    aa, bb, cc = np.meshgrid(np.arange(n), np.arange(n), np.arange(n), indexing="ij")
    coords = np.stack([aa.ravel(), bb.ravel(), cc.ravel()], axis=1).astype(np.int64)
    idx = hilbert_index3(
        coords[:, 0].astype(np.uint64),
        coords[:, 1].astype(np.uint64),
        coords[:, 2].astype(np.uint64),
        bits=bits,
    )
    order = np.argsort(idx)
    walk = coords[order]
    steps = np.abs(np.diff(walk, axis=0))
    assert (steps.sum(axis=1) == 1).all()


def test_jvm_morton_equals_arrow_udf(spark):
    """The whole-stage-codegen Morton expression must be bit-identical to the
    vectorized-numpy Arrow UDF (the reference implementation)."""
    from octocode_spark.datagen import sequences

    df = sequences(spark, 2000, max_tok_cap=8192)
    from octocode_spark.functions.zorder import cluster_key_col

    cmp = df.select(
        cluster_key_col(curve="zorder", impl="auto").alias("jvm"),
        cluster_key_col(curve="zorder", impl="udf").alias("udf"),
    )
    assert cmp.filter("jvm != udf").count() == 0


def test_cluster_key_deterministic_in_spark(spark):
    from octocode_spark.datagen import sequences

    df = sequences(spark, 200, max_tok_cap=128)
    k1 = with_cluster_key(df, "zorder").select("doc_id", "_zkey").orderBy("doc_id").collect()
    k2 = with_cluster_key(df, "zorder").select("doc_id", "_zkey").orderBy("doc_id").collect()
    assert k1 == k2
    h1 = with_cluster_key(df, "hilbert").select("_zkey").collect()
    assert all(r["_zkey"] >= 0 for r in h1)


def test_python_xxhash64_matches_jvm(spark):
    """functions.xxh is a bit-exact twin of Spark's xxhash64 for chained
    int and long inputs (the basis for driver-side LSH signatures)."""
    from pyspark.sql import functions as F

    from octocode_spark.functions.xxh import xxhash64_ints, xxhash64_longs

    cases_int = [(0,), (1,), (7, 3), (42, 0), (-5, 123456), (2**31 - 1, -(2**31))]
    cases_long = [(0,), (1,), (7, 3), (-99, 2**62), (123456789012345,), (-(2**63), 2**63 - 1)]
    exprs = [
        F.xxhash64(*[F.lit(int(x)) for x in c]).alias(f"i{i}") for i, c in enumerate(cases_int)
    ] + [
        F.xxhash64(*[F.lit(int(x)).cast("long") for x in c]).alias(f"l{i}")
        for i, c in enumerate(cases_long)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    for i, c in enumerate(cases_int):
        assert xxhash64_ints(*c) == row[f"i{i}"]
    for i, c in enumerate(cases_long):
        assert xxhash64_longs(*c) == row[f"l{i}"]
