"""The workloads. Each calls only public functions of octocode_spark, times
every call from outside, and checks its outputs.

Every workload reports the same end-to-end metrics, each meaning the
workload's own operation (README.md has the table):

- ``setup``: program calls on freshly generated files (generation itself
  is not timed): upsert = create the table and append the base rows;
  queries = build the ten queries' DataFrames over a fresh copy of the
  tables, after an untimed cold pass.
- ``op``: upsert = one MERGE batch plus full_maintenance's cycle;
  queries = one warm pass executing the ten headline queries as one
  set-up planned them, each query at its median over the passes.
- ``read`` (per-layer, traced run only): upsert = one point lookup by
  doc_id; queries = one headline query's execution inside a warm pass.

Work per run is fixed (sized from ``--seconds``, never from the clock), so
counts repeat exactly for a seed and a faster program simply finishes
sooner.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import inputs


class Ctx:
    """What a workload gets from the runner, and what it reports back."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_ms: list[float] = []
        self.read_ms: list[float] = []

    def check(self, what: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


def _metadata_bytes(root: str) -> int:
    """Size of the table's newest metadata JSON, counting every snapshot id
    at 19 digits: ids are random 62-bit integers whose decimal width would
    otherwise make the count differ between runs of one seed.

    Depends on the on-disk layout (``metadata/v<N>.metadata.json``, ids
    under keys ending in ``snapshot_id`` or ``parent_id``), not on any
    Python API of the program."""
    mdir = os.path.join(root, "metadata")
    versions = [int(n[1:].split(".")[0]) for n in os.listdir(mdir)
                if n.startswith("v") and n.endswith(".metadata.json")]
    path = os.path.join(mdir, f"v{max(versions)}.metadata.json")
    size = os.path.getsize(path)
    with open(path) as fh:
        todo = [json.load(fh)]
    while todo:
        node = todo.pop()
        items = node.items() if isinstance(node, dict) else enumerate(node) if isinstance(node, list) else ()
        for k, v in items:
            if isinstance(v, int) and str(k).endswith(("snapshot_id", "parent_id")):
                size += 19 - len(str(v))
            elif isinstance(v, (dict, list)):
                todo.append(v)
    return size


def _digest(df) -> dict:
    from octocode_spark.functions.digest import table_digest

    return table_digest(df)


def _lookup(ctx: Ctx, table, doc_id: str) -> list[tuple]:
    """One point lookup, as LakeTable.read does it: plan with the doc_id
    min/max stats, then scan the kept files with the live delete sidecars."""
    from octocode_spark.lakehouse.table import stat_range_filter

    t0 = time.perf_counter()
    with ctx.tracer.span("table.files[lookup]"):
        files = table.files(stat_filter=stat_range_filter("doc_id", doc_id, doc_id))
    with ctx.tracer.span("table.read_files[lookup]"):
        rows = (
            table.read_files(ctx.spark, files)
            .filter(F.col("doc_id") == doc_id)
            .select("doc_id", "n_tok")
            .collect()
        )
    ctx.read_ms.append((time.perf_counter() - t0) * 1000)
    return [tuple(r) for r in rows]


def _files_kept_per_probe(table, probes: list[tuple[str, int, int]]) -> float:
    """Mean share of a partition's files that an n_tok range probe keeps
    after min/max skipping: the lower, the better the clustering."""
    from octocode_spark.lakehouse.table import stat_range_filter

    shares = []
    for source, lo, hi in probes:
        part = table.files(partition_filter={"source": source})
        if part:
            kept = [f for f in part if stat_range_filter("n_tok", lo, hi)(f)]
            shares.append(len(kept) / len(part))
    return statistics.mean(shares) if shares else 0.0


def _probes(seed: int, n: int = 24) -> list[tuple[str, int, int]]:
    rng = np.random.default_rng(seed + 1)
    out = []
    for i in range(n):
        lo = int(rng.integers(16, inputs.MAX_TOK - 64))
        out.append((inputs.SOURCES[i % 4], lo, lo + 63))
    return out


# ====================================================================== upsert

class Upsert:
    """MERGE batches into a Z-ordered, Zipf-skewed `sequences` table. Each
    batch is followed by full_maintenance's cycle, one call at a time and
    with its defaults (plan, its choice of rewrite, delete-sidecar prune,
    manifest rewrite, snapshot expiry, orphan GC), and by point lookups."""

    SETUP_REPS = 3
    ROWS = 4000
    BATCH = 200             # rows per MERGE source: 60% update, 30% insert, 10% delete
    TARGET = 384 << 10      # file target of the clustered table: ~20 files
    LOOKUPS = 8             # point lookups after each batch

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.batches = 1 + max(2, ctx.seconds // 4)  # batch 0 warms the JIT

    def setup(self, rep: int) -> float:
        """Create the table and append the base rows as small files; returns
        the seconds those program calls took. The rows are generated into
        parquet once, before the first timed set-up."""
        from octocode_spark.lakehouse import LakeTable

        c = self.ctx
        if not rep:
            src = os.path.join(c.work, "base")
            inputs.sequences(c.spark, c.seed, self.ROWS).write.parquet(src)
            self.base = c.spark.read.parquet(src)
        root = os.path.join(c.work, f"upsert{rep}")
        t0 = time.perf_counter()
        t = LakeTable.create(root, self.base.schema, partition_by=["source"], stat_cols=["n_tok", "doc_id"])
        t.append(self.base.repartition(c.spark.sparkContext.defaultParallelism))
        took = time.perf_counter() - t0
        if rep:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = root
        return took

    def prepare(self) -> None:
        """Cluster the last set-up's table with full_maintenance. Materialize
        the MERGE sources (so merge_into times the merge, not the generator),
        the digest the table must end with, and per batch the lookups to make
        with the n_tok each must return (None: deleted)."""
        from pyspark.sql import Window

        from octocode_spark.lakehouse import LakeTable
        from octocode_spark.lakehouse.maintenance import full_maintenance

        c, spark = self.ctx, self.ctx.spark
        full_maintenance(spark, LakeTable.load(self.root), target_file_size=self.TARGET)
        out = os.path.join(c.work, "sources")
        frames = [inputs.merge_batch(spark, c.seed, self.ROWS, b, self.BATCH).withColumn("batch", F.lit(b))
                  for b in range(self.batches)]
        batches = frames[0]
        for f in frames[1:]:
            batches = batches.unionByName(f)
        batches.write.partitionBy("batch").parquet(out)
        self.sources = [os.path.join(out, f"batch={b}") for b in range(self.batches)]
        batches = spark.read.parquet(out)
        untouched = self.base.join(batches.select("doc_id"), "doc_id", "left_anti")
        self.expected = _digest(
            untouched.unionByName(batches.filter(~F.col("deleted")).drop("deleted", "batch"))
        )
        # Per batch: 4 hot-partition and 2 other keys the batch touched, then
        # 1 hot and 1 other untouched key. A lookup scans one partition's
        # files and the hot one has most of them, so a fixed 5-of-8 hot share
        # keeps the median lookup in the hot partition instead of letting
        # it jump between the two kinds with each seed's mix.
        order = [F.xxhash64(F.col("doc_id"), F.lit(c.seed)), "doc_id"]
        hot = (F.col("source") == inputs.SOURCES[0]).alias("hot")
        touched = (
            batches.select("*", hot)
            .withColumn("rn", F.row_number().over(Window.partitionBy("batch", "hot").orderBy(*order)))
            .filter(F.col("rn") <= F.when(F.col("hot"), 4).otherwise(2))
            .select("batch", F.col("hot").cast("int").alias("h"), "rn", "doc_id", "n_tok", "deleted")
            .collect()
        )
        self.lookups = [[] for _ in range(self.batches)]
        for r in sorted(touched, key=lambda r: (r["batch"], -r["h"], r["rn"])):
            self.lookups[r["batch"]].append((r["doc_id"], None if r["deleted"] else r["n_tok"]))
        for want in (True, False):
            kept = (untouched.filter(hot == want).select("doc_id", "n_tok")
                    .orderBy(*order).limit(self.batches).collect())
            for b, r in enumerate(kept):
                self.lookups[b].append((r["doc_id"], r["n_tok"]))

    def run(self) -> None:
        from octocode_spark.lakehouse import LakeTable

        c = self.ctx
        t = LakeTable.load(self.root)
        for b, path in enumerate(self.sources):
            t0 = time.perf_counter()
            with c.tracer.span("upsert.batch"):
                self._batch(t, b, path)
            if b:
                c.op_ms.append((time.perf_counter() - t0) * 1000)
            for k, n_tok in self.lookups[b]:
                rows = _lookup(c, t, k)
                c.check(f"upsert lookup {k} after batch {b}", rows == ([(k, n_tok)] if n_tok is not None else []))
            if not b:
                c.read_ms.clear()
        c.check("upsert: digest equals base minus batch keys plus live batch rows",
                _digest(t.read(c.spark)) == self.expected)
        self.table = t
        self.kept = _files_kept_per_probe(t, _probes(c.seed))

    def _batch(self, t, b: int, path: str) -> None:
        from octocode_spark.lakehouse import Ledger
        from octocode_spark.lakehouse.maintenance import (
            plan_compaction,
            prune_dangling_delete_sidecars,
            rewrite_global,
            rewrite_partitions,
        )
        from octocode_spark.lakehouse.merge import merge_into

        c = self.ctx
        src_bytes = sum(os.path.getsize(os.path.join(path, n)) for n in os.listdir(path) if n.endswith(".parquet"))
        before = {k: {f.path for f in fs} for k, fs in t.partitions().items()}
        with c.tracer.span("merge.merge_into") as s:
            stats = merge_into(c.spark, t, c.spark.read.parquet(path))
        after = t.partitions()
        s["files_rewritten_ratio"] = stats.files_rewritten / sum(len(v) for v in before.values())
        s["bytes_written_per_source_byte"] = sum(
            f.bytes for k, fs in after.items() for f in fs if f.path not in before.get(k, ())
        ) / src_bytes
        ledger = Ledger(os.path.join(c.work, "ledgers", f"batch{b}"))
        # full_maintenance(target_file_size=TARGET) call by call, in its
        # order, with its defaults and its choice of rewrite, so that each
        # call gets its own span
        with c.tracer.span("maint.cycle"):
            with c.tracer.span("maint.plan_compaction"):
                plan = plan_compaction(t, target_file_size=self.TARGET)
            table_bytes = sum(f.bytes for f in t.files()) or 1
            mode = "global" if plan.bytes / table_bytes > 0.5 else "partitions"
            with c.tracer.span("maint.rewrite", threaded=True, mode=mode) as r:
                if mode == "global":
                    res = rewrite_global(c.spark, t, plan, ledger=ledger, op="compact", cluster_by="zorder")
                else:
                    res = rewrite_partitions(c.spark, t, plan, ledger=ledger, op="compact", cluster_by="zorder",
                                             target_file_size=self.TARGET, max_concurrency=4)
            with c.tracer.span("maint.prune_delete_sidecars"):
                prune_dangling_delete_sidecars(t)
            with c.tracer.span("maint.rewrite_manifests"):
                t.rewrite_manifests()
            with c.tracer.span("table.expire_snapshots"):
                t.expire_snapshots(retain_last=3)
            with c.tracer.span("table.remove_orphan_files"):
                t.remove_orphan_files()
        merged = {f.path for fs in after.values() for f in fs}
        r.update(files_in=res.files_in, files_out=res.files_out, bytes_in=res.bytes_in,
                 bytes_out=sum(f.bytes for f in t.files() if f.path not in merged))
        c.check(f"upsert batch {b}: ledger marks every planned partition done",
                ledger.done_partitions("compact") == {p.key for p in plan.partitions})

    def layers(self) -> dict:
        tr = self.ctx.tracer
        merges = tr.named("merge.merge_into")
        rw = tr.named("maint.rewrite")
        return {
            "merge.call_s": tr.median_ms("merge.merge_into") / 1000,
            "merge.files_rewritten_ratio": statistics.mean(s["files_rewritten_ratio"] for s in merges),
            "merge.bytes_written_per_source_byte": statistics.mean(s["bytes_written_per_source_byte"] for s in merges),
            "merge.shuffle_bytes": statistics.mean(s["shuffle_bytes"] for s in merges),
            "merge.compact_after_s": tr.median_ms("maint.cycle") / 1000,
            "maint.plan_ms": tr.median_ms("maint.plan_compaction"),
            "maint.rewrite_s": tr.median_ms("maint.rewrite") / 1000,
            "maint.rewrite_manifests_ms": tr.median_ms("maint.rewrite_manifests"),
            "maint.files_in": statistics.mean(s["files_in"] for s in rw),
            "maint.files_out": statistics.mean(s["files_out"] for s in rw),
            "maint.bytes_out_per_in": sum(s["bytes_out"] for s in rw) / sum(s["bytes_in"] for s in rw),
            "maint.shuffle_bytes": statistics.mean(s["shuffle_bytes"] for s in rw),
            "maint.spill_bytes": statistics.mean(s["spill_bytes"] for s in rw),
            "maint.files_kept_per_probe": self.kept,
            "table.plan_lookup_ms": tr.median_ms("table.files[lookup]"),
            "table.expire_ms": tr.median_ms("table.expire_snapshots"),
            "table.orphan_gc_ms": tr.median_ms("table.remove_orphan_files"),
            "table.metadata_bytes": _metadata_bytes(self.table.root),
            "table.manifests_live": len(self.table.manifests()),
        }


# ====================================================================== queries

HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q06_top3_orders_per_customer",
    "q07_cumulative_quantity",
    "q08_weighted_rrf_users",
    "q16_ngram_jaccard_pairs",
    "q17_cosine_topk",
    "q19_asof_last_click_before_purchase",
    "q21_events_within_hour_after_purchase",
    "q26_sketch_signatures",
]


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result, columns taken by sorted name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    h = hashlib.sha256()
    for line in sorted("|".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Queries:
    """The ten headline entries of the operator battery over generated
    stand-in tables. A cold pass runs each query once, collected, for the
    DuckDB oracle check. Each set-up then plans the ten queries over a fresh
    copy of the tables, and the run executes each set-up's plans as one warm
    pass into the noop sink, going round the set-ups again for passes
    beyond their number. No lakehouse table is touched."""

    SETUP_REPS = 3
    SCALE = 0.01            # lineitem 60k rows, documents 500, events 10k

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.passes = max(3, ctx.seconds // 3)
        self.planned: list[dict] = []

    def setup(self, rep: int) -> float:
        """Copy the tables to a fresh directory and build the ten queries'
        DataFrames over it (file listing, schema reads, analysis and the
        jobs the program runs while planning); returns the seconds that
        took. Before set-up 0, untimed: generate the tables and run the
        cold pass, which warms the JVM."""
        from octocode_spark.queries import queries

        c = self.ctx
        qs = queries()
        src = os.path.join(c.work, "tables")
        if not rep:
            self.paths = inputs.query_tables(src, c.seed, self.SCALE)
            self.results = {}
            t0 = time.perf_counter()
            for name in HEADLINE:
                with c.tracer.span(f"queries.{name}", cold=True):
                    df = qs[name](c.spark, src)
                    self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
            self.cold_s = time.perf_counter() - t0
        out = os.path.join(c.work, f"tables{rep}")
        shutil.copytree(src, out)
        planned = {}
        t0 = time.perf_counter()
        for name in HEADLINE:
            with c.tracer.span(f"queries.{name}[plan]"):
                planned[name] = qs[name](c.spark, out)
        took = time.perf_counter() - t0
        self.planned.append(planned)
        return took

    def prepare(self) -> None:
        """Run each oracle_sql() entry on DuckDB over the same files."""
        import duckdb

        from octocode_spark.queries import oracle_sql

        oracles = oracle_sql()
        con = duckdb.connect()
        try:
            con.sql(f"SET threads TO {self.ctx.spark.sparkContext.defaultParallelism}")
            for name, path in self.paths.items():
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for name in HEADLINE:
                if name in oracles:
                    rel = con.sql(oracles[name])
                    rows = rel.fetchall()
                    self.expected[name] = (sorted(x.lower() for x in rel.columns), len(rows),
                                           _value_hash(rel.columns, rows))
                else:  # xxhash64-based, rows only: one signature row per document
                    n_docs = con.sql("SELECT COUNT(*) FROM documents").fetchone()[0]
                    self.expected[name] = (None, n_docs, None)
        finally:
            con.close()

    def run(self) -> None:
        c = self.ctx
        for name in HEADLINE:  # the cold pass's results against the oracle
            cols, rows = self.results[name]
            ecols, n, vh = self.expected[name]
            ok = len(rows) == n and (ecols is None or (
                sorted(x.lower() for x in cols) == ecols and _value_hash(cols, rows) == vh))
            c.check(f"{name} matches the DuckDB oracle", ok)
        self.warm: dict[str, list[float]] = {n: [] for n in HEADLINE}
        for i in range(self.passes):
            planned = self.planned[i % len(self.planned)]
            for name in HEADLINE:
                t0 = time.perf_counter()
                with c.tracer.span(f"queries.{name}"):
                    planned[name].write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                self.warm[name].append(dt)
                c.read_ms.append(dt * 1000)
                c.attempted += 1
        # one warm pass, each query at its median over the passes: a short
        # stall of the shared host then costs one query one execution, not
        # the whole pass it fell into
        c.op_ms.append(sum(statistics.median(v) for v in self.warm.values()) * 1000)

    def layers(self) -> dict:
        tr = self.ctx.tracer
        out = {"queries.cold_pass_s": self.cold_s}
        for name in HEADLINE:
            out[f"queries.{name}_s"] = statistics.median(self.warm[name])
            warm = [s for s in tr.named(f"queries.{name}") if not s.get("cold")]
            out[f"queries.{name}.shuffle_bytes"] = statistics.mean(s["shuffle_bytes"] for s in warm)
        return out


WORKLOADS = {"upsert": Upsert, "queries": Queries}
