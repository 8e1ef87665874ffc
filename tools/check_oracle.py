"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [--strict] [query_name ...]

--strict: a query with NO oracle_sql() entry FAILS unless it is on the
known rows-only allow-list below — so an accidentally dropped oracle can't
silently downgrade a query to the weaker rows-only check.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

# the only queries ALLOWED to lack a DuckDB oracle (all xxhash64-bound —
# DuckDB has no xxhash64, so only the weaker rows-only driver check applies)
ROWS_ONLY_ALLOWED = {
    "q25_cluster_keys",
    "q26_sketch_signatures",
    "q40_ivf_ann_topk",
}


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    # go through __spark_entry__ (the REAL driver surface), not
    # octocode_spark.queries directly: its wrapper ships the package zip to
    # executor workers (addPyFile), so UDF-bearing queries work from any cwd
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
    entry_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry_mod)
    queries, oracle_sql = entry_mod.queries, entry_mod.oracle_sql

    from octocode_spark import get_spark

    argv = sys.argv[1:]
    strict = "--strict" in argv
    only = {a for a in argv if not a.startswith("--")}
    spark = get_spark(app="oracle-check", cpus=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = queries(), oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            if strict and name not in ROWS_ONLY_ALLOWED:
                print(f"FAIL {name}: no oracle_sql() entry and not on the "
                      "rows-only allow-list (--strict)")
                failures += 1
            else:
                print(f"ok(rows-only) {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0]}")
            failures += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"cols {scols} vs {dcols}")
        if not problems:
            sh, dh = value_hash(scols, srows), value_hash(dcols, drows)
            if sh != dh:
                problems.append("value hash mismatch")
                # show first differing row for debugging
                so = sorted("|".join(norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows)
                do = sorted("|".join(norm_cell(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in drows)
                for a, b in zip(so, do):
                    if a != b:
                        problems.append(f"  spark : {a[:200]}")
                        problems.append(f"  duckdb: {b[:200]}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:1]) + "".join("\n" + p for p in problems[1:]))
            failures += 1
        else:
            print(f"OK   {name}: {len(srows)} rows")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
