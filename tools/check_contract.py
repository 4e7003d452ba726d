"""Local replica of the driver's correctness gate: run every
__spark_entry__ query against its DuckDB oracle at a given sf and compare
row count, column names, and order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [query ...]

A row where both engines return nothing prints EMPTY: it certifies the
plan runs, not that it computes the right values. At sf >= 0.1 (read from
the directory name, e.g. ``sf1.0``; a name without one counts as large)
an EMPTY row fails the check, since data of that size should exercise
every query.
"""

from __future__ import annotations

import decimal
import math
import os
import pathlib
import re
import sys

# the repo root, wherever the script is run from: on this process's path
# for the imports below, on PYTHONPATH for the Python workers Spark starts
_ROOT = str(pathlib.Path(__file__).resolve().parents[1])
sys.path.insert(0, _ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p)

import duckdb

from __spark_entry__ import oracle_sql, queries
from documentprocessor_spark.session import get_spark
from documentprocessor_spark.sources.tables import TPCH_TABLES


def canon(v):
    if v is None:
        return "NULL"
    # Decimal canonicalizes like float, NOT like int: DuckDB returns HUGEINT
    # (-> arrow decimal128 / pandas float64) for bare integer sum()s, and the
    # driver's fetch path sees that type difference even when the value is
    # integral. Folding Decimal into the float branch makes an uncast
    # sum() oracle go red HERE, not only on the driver (round-2 lesson:
    # exactly the 3 driver-red rows were the 3 oracles with an uncast final
    # sum()). Oracles must cast integer sums to bigint.
    if isinstance(v, (float, decimal.Decimal)):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    return str(v)


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def empty_certifies(sf_dir: str) -> bool:
    """Whether an EMPTY row passes at this scale: only below sf0.1."""
    m = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return m is not None and float(m.group(1)) < 0.1


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    empty_ok = empty_certifies(sf_dir)

    spark = get_spark(app_name="contract-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = oracle_sql()
    failures = []
    for name, fn in queries().items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:34s} rows-only: {len(srows)} rows, cols={scols}")
            if len(srows) == 0:
                failures.append((name, "0 rows (rows-only check)"))
            continue
        ddf = con.sql(oracles[name])
        dcols = list(ddf.columns)
        # fetch through Arrow, not fetchall(): fetchall() silently converts
        # HUGEINT to Python int (masking type divergence the driver's
        # arrow/pandas fetch path exposes); arrow keeps it decimal128
        atbl = ddf.arrow()
        dcols_py = [c.to_pylist() for c in atbl.columns]
        drows = list(zip(*dcols_py)) if dcols_py else []
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if not problems:
            s = rowset(scols, [[r[c] for c in scols] for r in srows])
            d = rowset(dcols, drows)
            if s != d:
                diff = [
                    (a, b) for a, b in zip(s, d) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            status = "FAIL"
        elif not srows:
            status = "EMPTY"
            if not empty_ok:
                problems.append("both engines return 0 rows")
        else:
            status = "OK "
        print(f"{name:34s} {status} rows={len(srows)}" + (
            f"  {problems}" if problems else ""))
        if problems:
            failures.append((name, problems))

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILING: {[f[0] for f in failures]}")
        sys.exit(1)
    print("\nall queries match their oracles")


if __name__ == "__main__":
    main()
