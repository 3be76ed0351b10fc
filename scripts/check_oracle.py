"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark, runs the matching
``oracle_sql()`` on DuckDB over the same parquet, and compares
row count / column names / order-insensitive value hash.

Both sides go through **pandas** on purpose — the driver's gate does —
so dtype-level divergence shows up locally too: DuckDB HUGEINT (any
uncast SUM over BIGINT) becomes float64 in ``.df()`` and renders
"123.0" vs Spark's "123", and array-typed cells are unhashable in the
driver's pandas canonicalizer (both bit us in round 1 as
props_json_stats / media_features).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from deepie_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, (list, tuple, dict, np.ndarray)):
        # the driver's canonicalizer crashes on these (pandas
        # sort_values → unhashable type) — fail loudly here instead
        raise TypeError(
            f"non-scalar cell {type(v).__name__} — driver gate would crash"
        )
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        f += 0.0  # collapse -0.0 to 0.0 (signed-zero ULP disagreements)
        return f"{f:.6g}"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _pdf_rows(pdf: pd.DataFrame) -> list[tuple]:
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = _pdf_rows(sdf.toPandas())
        except Exception as e:
            print(f"{name:24s} SPARK ERROR: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            try:
                h = value_hash(srows, scols)  # driver canonicalizes
            except TypeError as e:            # rows-only entries too
                print(f"{name:24s} CANON ERROR: {e}")
                failures.append(name)
                continue
            print(f"{name:24s} rows-only: {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
            ocols = list(opdf.columns)
            orows = _pdf_rows(opdf)
        except Exception as e:
            print(f"{name:24s} ORACLE ERROR: {e}")
            failures.append(name)
            continue
        try:
            ok_n = len(srows) == len(orows)
            ok_c = sorted(scols) == sorted(ocols)
            ok_v = ok_c and value_hash(srows, scols) == value_hash(orows, ocols)
        except TypeError as e:
            print(f"{name:24s} CANON ERROR: {e}")
            failures.append(name)
            continue
        status = "OK" if (ok_n and ok_c and ok_v) else "MISMATCH"
        print(
            f"{name:24s} {status}  rows {len(srows)}/{len(orows)} "
            f"cols={'=' if ok_c else f'{scols} vs {ocols}'} "
            f"hash={'=' if ok_v else 'DIFF'} ({time.time()-t0:.1f}s)"
        )
        if status != "OK":
            failures.append(name)
            if ok_c and not ok_v:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = {tuple(norm_cell(r[i]) for i in order) for r in srows}
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                oset = {tuple(norm_cell(r[i]) for i in oorder) for r in orows}
                print("   spark-only:", list(sset - oset)[:3])
                print("   oracle-only:", list(oset - sset)[:3])
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(only=sys.argv[1:] or None))
