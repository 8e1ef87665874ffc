"""Seeded input generators for the benchmark.

The program under test never sees the seed: it receives only the DataFrames
and parquet files made here. Every value is a function of (seed, row id), so
the same seed gives bitwise-identical inputs at any parallelism.

- ``sequences`` / ``merge_batch``: the F1 `sequences` schema
  ``(doc_id string, tokens array<int>, n_tok int, source string)`` with the
  Zipf source mix (common-crawl ~50% of rows) and the 80/15/5 n_tok mix, plus
  MERGE batches carrying a ``deleted`` flag.
- ``query_tables``: the seven tables the headline queries read, in the
  column layout of the repository's TPC-H-like test corpus (TESTDATA.md).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 50257
MAX_TOK = 2048

# (upper bound of a 100-bucket hash, source): the hot key holds ~50% of rows
SOURCE_MIX: list[tuple[int, str]] = [
    (50, "common-crawl"), (70, "github"), (80, "wikipedia"), (83, "books"),
    (86, "arxiv"), (89, "stackexchange"), (92, "news"), (94, "forums"),
    (96, "patents"), (98, "legal"), (99, "reference"), (100, "misc"),
]
SOURCES = [s for _, s in SOURCE_MIX]


# ---------------------------------------------------------------- sequences

def _h(seed: int, tag: int, *cols):
    return F.xxhash64(F.lit(seed), F.lit(tag), *cols)


def _uniform(seed: int, tag: int, col, lo: int, hi: int):
    return (F.pmod(_h(seed, tag, col), F.lit(hi - lo + 1)) + F.lit(lo)).cast("int")


def _source_of(seed: int, id_col):
    bucket = F.pmod(_h(seed, 1, id_col), F.lit(100))
    expr = None
    for hi, name in SOURCE_MIX:
        expr = F.when(bucket < hi, name) if expr is None else expr.when(bucket < hi, name)
    return expr.otherwise("misc")


def _rows(seed: int, ids: DataFrame, tag: int) -> DataFrame:
    """F1 rows for an ``id`` column; ``tag`` picks the n_tok/token stream, so
    an update of an id keeps its doc_id and source but gets new content."""
    seg = F.pmod(_h(seed, tag, F.col("id")), F.lit(100))
    n_tok = (
        F.when(seg < 80, _uniform(seed, tag + 1, F.col("id"), 16, 512))
        .when(seg < 95, _uniform(seed, tag + 2, F.col("id"), 513, 2048))
        .otherwise(_uniform(seed, tag + 3, F.col("id"), 2049, 8192))
    )
    df = ids.select(
        "*",
        _source_of(seed, F.col("id")).alias("source"),
        F.least(n_tok, F.lit(MAX_TOK)).cast("int").alias("n_tok"),
    ).withColumn(
        "doc_id", F.concat_ws("-", "source", F.lpad(F.col("id").cast("string"), 12, "0"))
    )
    tokens = F.transform(
        F.sequence(F.lit(0), F.col("n_tok") - 1),
        lambda pos: F.pmod(_h(seed, tag + 4, F.col("doc_id"), pos), F.lit(VOCAB)).cast("int"),
    )
    return df.withColumn("tokens", tokens)


def sequences(spark: SparkSession, seed: int, n_rows: int) -> DataFrame:
    """Base table rows for ids [0, n_rows)."""
    ids = spark.range(0, n_rows, 1, spark.sparkContext.defaultParallelism)
    return _rows(seed, ids, 10).select("doc_id", "tokens", "n_tok", "source")


def _perm(seed: int, n: int) -> tuple[int, int]:
    """Affine bijection x -> (a·x + c) mod n; batches draw disjoint slices of
    it, so every batch updates or deletes keys no earlier batch touched."""
    rng = np.random.default_rng(seed)
    while True:
        a = int(rng.integers(1, n))
        if np.gcd(a, n) == 1:
            return a, int(rng.integers(0, n))


def merge_batch(spark: SparkSession, seed: int, n_base: int, batch: int, size: int) -> DataFrame:
    """MERGE source ``batch``: ~60% updates, ~30% inserts, ~10% deletes.

    Updates and deletes target base ids from this batch's slice of a seeded
    permutation of [0, n_base); inserts mint ids above n_base. Keys are unique
    within the batch and fresh across batches."""
    if (batch + 1) * size > n_base:
        raise ValueError("merge batches exhausted the base key range")
    a, c = _perm(seed, n_base)
    j = spark.range(batch * size, (batch + 1) * size, 1, spark.sparkContext.defaultParallelism)
    kind = F.pmod(_h(seed, 30, F.col("id")), F.lit(100))
    existing = F.pmod(F.col("id") * F.lit(a) + F.lit(c), F.lit(n_base))
    ids = j.select(
        F.when((kind >= 60) & (kind < 90), F.lit(n_base) + F.col("id")).otherwise(existing).alias("id"),
        (kind >= 90).alias("deleted"),
    )
    return _rows(seed, ids, 20 + 10 * batch).select("doc_id", "tokens", "n_tok", "source", "deleted")


# ---------------------------------------------------------------- query tables

QUERY_TABLES = ["lineitem", "orders", "customer", "nation", "events", "documents", "embeddings"]

_WORDS = (
    "a the key agg row scan slow fast table value part hash batch window spark "
    "order data column join small big line customer query merge filter sort "
    "vector stream group"
).split()


_DAY_US = 86_400_000_000


def _unit_rows(m: np.ndarray) -> np.ndarray:
    return (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def query_tables(out_dir: str, seed: int, scale: float) -> dict[str, str]:
    """Write the seven query tables (one file, one row group each, like the
    test corpus) at ``scale`` (1.0 ≈ 6M lineitem rows).

    Row counts, key ranges, date spans and value distributions follow the
    repository's sf0.01 corpus as measured from its files: uniform keys,
    exponential event gaps and values, unit-length Gaussian embeddings, and
    documents of 10-99 words over the corpus's 30-word vocabulary of which
    ~5% are an earlier document plus " dup" (the near-duplicates q16 finds).
    """
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 1000)
    n_line = 4 * n_ord
    n_part = max(int(200_000 * scale), 10)
    n_ev = max(int(1_000_000 * scale), 1000)
    n_users = max(int(15_000 * scale), 50)
    n_docs = max(int(50_000 * scale), 100)
    n_vec = max(int(50_000 * scale), 100)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda opts, n: pa.array(np.array(opts)[rng.integers(0, len(opts), n)])  # noqa: E731

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables = {
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999, 9999, n_cust)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(money(1000, 500000, n_ord)),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, max(n_ord // 150, 10), n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * _DAY_US),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(_unit_rows(rng.standard_normal((n_vec, 64)))),
                                  type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
        }),
    }
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "de", "es", "fr", "zh"])[
            np.searchsorted([0.44, 0.58, 0.72, 0.86], rng.random(n_docs), side="right")]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in QUERY_TABLES:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], paths[name], row_group_size=1 << 30)
    return paths
