"""Spark-vs-DuckDB correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the given
sf dir, compares row count, column names, and order-insensitive values
(exact equality after stringify-and-sort — stricter than a hash, same idea).
The test suite runs the same per-query check (:func:`check_query`) for
every query in ``tests/test_oracle_gate.py``.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]

When run over the FULL registry (no query filter), the per-query results
are also written to ``CORRECTNESS_local.json`` at the repo root, one row
per query in the format of the ``CORRECTNESS_r*.json`` artifacts, so a
full gate run leaves a committed, auditable record of every query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from certified_dogs_and_cats_spark.cache import release_cached
from certified_dogs_and_cats_spark.queries import ORACLE, QUERIES
from certified_dogs_and_cats_spark.session import get_spark
from certified_dogs_and_cats_spark.sources.testdata import TESTDATA_TABLES


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = repr(v)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table in ``sf_dir``."""
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _row(rows_match, schema_match, hash_match, spark_rows, oracle_rows, err):
    return {
        "rows_match": rows_match, "schema_match": schema_match,
        "hash_match": hash_match, "spark_rows": spark_rows,
        "oracle_rows": oracle_rows, "err": err,
    }


def check_query(spark, con, sf_dir: str, name: str) -> dict:
    """Run query ``name`` on Spark and its oracle on ``con``; return its
    ``CORRECTNESS_local.json`` row. The query passes iff ``hash_match``
    is true, which implies matching columns and row count; ``err`` says
    why it failed."""
    try:
        sdf = QUERIES[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return _row(False, False, False, None, None, f"spark error: {e}")
    finally:
        # Release any frames the query persist()ed (dedup shingles): a
        # full-registry sweep must not accumulate executor cache.
        release_cached()
        spark.catalog.clearCache()
    try:
        rel = con.sql(ORACLE[name])
        dcols = list(rel.columns)
        drows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return _row(False, False, False, len(srows), None,
                    f"duckdb error: {e}")
    msgs = []
    schema_match = sorted(scols) == sorted(dcols)
    rows_match = len(srows) == len(drows)
    if not schema_match:
        msgs.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    if not rows_match:
        msgs.append(f"rows spark={len(srows)} duck={len(drows)}")
    hash_match = False
    if not msgs:
        _, sn = normalize(srows, scols)
        _, dn = normalize(drows, dcols)
        hash_match = sn == dn
        if not hash_match:
            diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            msgs.append(f"values differ, first diffs: {diff}")
    return _row(rows_match, schema_match, hash_match, len(srows),
                len(drows), "; ".join(msgs) if msgs else None)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    names = [n for n in QUERIES if not only or n in only]
    spark = get_spark("check_correctness", cpus=8, shuffle_partitions=8)
    con = oracle_connection(sf_dir)
    failures = []
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        row = results[name] = check_query(spark, con, sf_dir, name)
        if row["hash_match"]:
            print(f"ok    {name} ({row['spark_rows']} rows, "
                  f"{time.time()-t0:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL  {name}: {row['err']}")
    if not only:
        repo_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        with open(
            os.path.join(repo_root, "CORRECTNESS_local.json"), "w"
        ) as f:
            json.dump(results, f, indent=2)
        print(f"full-registry artifact: CORRECTNESS_local.json "
              f"({len(names)} queries)")
    scope = "checked queries" if only else "queries"
    print(f"\n{len(names) - len(failures)}/{len(names)} {scope} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
