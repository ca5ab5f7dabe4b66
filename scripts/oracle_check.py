"""Side-by-side DuckDB oracle check for named gate queries (the
/verify skill's surface #1, scripted): exact value compare after
sorting rows, bitwise on floats.

Usage: python scripts/oracle_check.py [--sf DIR] name [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


class _Null:
    """Stands in for NULL: equal only to itself and sorted before every
    value, so rows with NULLs sort in a column of any type."""

    def __eq__(self, other):
        return isinstance(other, _Null)

    def __lt__(self, other):
        return not isinstance(other, _Null)

    def __gt__(self, other):
        return False

    def __hash__(self):
        return 0

    def __repr__(self):
        return "NULL"


NULL = _Null()


def _norm(v):
    if v is None:
        return NULL
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", b"nan")
        return ("f", struct.pack("d", v))
    return v


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", default="16")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from scrapelect_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", cpus=args.cpus)
    qs, oq = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{t}.parquet')"
        )
    failures = 0
    for name in args.names:
        sdf = qs[name](spark, args.sf)
        scols = sdf.columns
        srows = [tuple(_norm(v) for v in r) for r in sdf.collect()]
        res = con.execute(oq[name])
        ocols = [d[0] for d in res.description]
        orows = [tuple(_norm(v) for v in r) for r in res.fetchall()]
        ok_schema = [c.lower() for c in scols] == [c.lower() for c in ocols]
        ok_rows = len(srows) == len(orows)
        ok_vals = sorted(srows) == sorted(orows)
        status = "OK" if (ok_schema and ok_rows and ok_vals) else "FAIL"
        print(
            f"{name:35s} {status}  rows={len(srows)}/{len(orows)} "
            f"schema={ok_schema} values={ok_vals}",
            flush=True,
        )
        if status != "OK":
            failures += 1
            for a, b in list(zip(sorted(srows), sorted(orows)))[:200]:
                if a != b:
                    print("  spark :", a)
                    print("  oracle:", b)
                    break
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
