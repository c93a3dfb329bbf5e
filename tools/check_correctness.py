"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, sorted column names, and an order-insensitive
canonical value hash.

Usage:
    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:  # NaN
            return "NULL"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canon(df: pd.DataFrame) -> tuple[int, list[str], str, list[str]]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append("\x1f".join(_canon_cell(v) for v in tup))
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), cols, h, rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from cardano_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, no_oracle = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            no_oracle.append(name)
            print(f"rows  {name}: {len(sdf)} rows (no oracle — rows-only check)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            continue
        sn, sc, sh, srows = canon(sdf)
        on, oc, oh, orows = canon(odf)
        dt = time.time() - t0
        if sn != on:
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={sn} oracle={on}")
        elif sc != oc:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={sc} oracle={oc}")
        elif sh != oh:
            failures.append(name)
            print(f"FAIL  {name}: value-hash mismatch ({sn} rows)")
            diff_s = [r for r in srows if r not in set(orows)][:3]
            diff_o = [r for r in orows if r not in set(srows)][:3]
            for r in diff_s:
                print(f"      spark-only : {r[:240]}")
            for r in diff_o:
                print(f"      oracle-only: {r[:240]}")
        else:
            print(f"OK    {name}: {sn} rows, hash {sh} ({dt:.1f}s)")

    print()
    n = len([k for k in qs if not only or k in only])
    print(f"{n - len(failures)}/{n} matched; {len(no_oracle)} rows-only")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
