"""Local mirror of the driver's CORRECTNESS gate: run every
`__spark_entry__.queries()` entry at sf0.01 next to its DuckDB
`oracle_sql()` and compare row count, column names, and sorted value
hash.  Use before a round ends to catch contract drift early.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
(without an existing sf_dir first, every argument is a query name and
the default sf0.01 directory is used)
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _hash_rows(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    if len(sys.argv) > 1 and not os.path.isdir(sys.argv[1]):
        # every argument is a query name: run them on the default sf_dir
        only = set(sys.argv[1:])
        del sys.argv[1:]
    else:
        only = set(sys.argv[2:])
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import duckdb

    import __spark_entry__ as entry
    from rdf_knowledge_extractor_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"noora {name}: rows={len(srows)} (rows-only check)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error {e}")
            failures += 1
            continue
        ok_rows = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        ok_hash = ok_schema and _hash_rows(scols, srows) == _hash_rows(ocols, orows)
        if ok_rows and ok_schema and ok_hash:
            print(f"ok    {name}: {len(srows)} rows")
        else:
            failures += 1
            print(
                f"FAIL  {name}: rows {len(srows)}/{len(orows)} "
                f"schema {sorted(scols)}/{sorted(ocols)} hash_match={ok_hash}"
            )
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
