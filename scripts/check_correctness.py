"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified).  Usage::

    python scripts/check_correctness.py [--json OUT.json] [name ...]

``--json`` additionally writes a driver-format record per query
(rows/schema/hash match booleans + row counts) — bench.py uses it to emit
``CORRECTNESS_FULL.json`` each round so the driver's 50-entry window is
auditable against the full registry without a judge re-run.
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from breg_dcat_harvester_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


def norm(v) -> str:
    if v is None or v != v:  # None / NaN
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def frame_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(norm(v) for v in row) for row in pdf[cols].itertuples(index=False)
    )
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check_correctness.py [--json OUT.json] [name ...]")
            return 2
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    only = set(argv)
    records: dict[str, dict] = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    spark = get_spark(master="local[8]", app_name="correctness")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None, "oracle_rows": None,
                "err": f"spark error: {ex}"[:300],
            }
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(sdf)} (no oracle; rows-only check)")
            records[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None,
                "err": None, "weak": "no oracle; rows-only check",
            }
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures.append(name)
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(sdf), "oracle_rows": None,
                "err": f"duckdb error: {ex}"[:300],
            }
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif frame_hash(sdf) != frame_hash(odf):
            problems.append("value-hash mismatch")
        records[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "hash_match": not problems,
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "err": None,
        }
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
            if len(sdf) and len(odf) and "value-hash mismatch" in problems:
                cols = sorted(sdf.columns)
                s = sdf[cols].astype(str).apply("|".join, axis=1).sort_values()
                o = odf[cols].astype(str).apply("|".join, axis=1).sort_values()
                only_s = set(s) - set(o)
                only_o = set(o) - set(s)
                for x in list(only_s)[:3]:
                    print(f"      spark-only: {x[:200]}")
                for x in list(only_o)[:3]:
                    print(f"      duck-only:  {x[:200]}")
        else:
            print(f"PASS  {name}: rows={len(sdf)}")
    spark.stop()
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(records, f, indent=1)
        print(f"wrote {json_out} ({len(records)} records)")
    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
