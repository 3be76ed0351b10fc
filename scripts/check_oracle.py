"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark, runs the matching
``oracle_sql()`` on DuckDB over the same parquet, and compares
row count / column names / order-insensitive value hash.  Prints one
JSON object per query (``name``, ``status``, ``spark_rows``,
``oracle_rows``, ``cols_equal``, ``hash_equal``, ``spark_sec``,
``oracle_sec``, plus ``error`` or a diff sample when the check fails),
then a final ``FAILURES: [...]`` or ``FAILURES: none`` line.  A named
query that ``queries()`` does not hold is an ``UNKNOWN QUERY`` failure
(exit 2) before Spark starts.

    python scripts/check_oracle.py [query ...]

Both sides go through **pandas** on purpose — the driver's gate does —
so dtype-level divergence shows up locally too: DuckDB HUGEINT (any
uncast SUM over BIGINT) becomes float64 in ``.df()`` and renders
"123.0" vs Spark's "123", and array-typed cells are unhashable in the
driver's pandas canonicalizer (both bit us in round 1 as
props_json_stats / media_features).
"""

from __future__ import annotations

import hashlib
import json
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


def _check(name, fn, oracle, spark, con, sf_dir) -> dict:
    """One query against its oracle → the result object ``main`` prints.

    ``spark_sec`` times the Spark build and collect, ``oracle_sec`` the
    DuckDB run; neither includes the hashing."""
    res = {
        "name": name, "status": "OK", "spark_rows": None,
        "oracle_rows": None, "cols_equal": None, "hash_equal": None,
        "spark_sec": None, "oracle_sec": None,
    }
    t0 = time.perf_counter()
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = _pdf_rows(sdf.toPandas())
    except Exception as e:
        return {**res, "status": "SPARK ERROR", "error": str(e)[:200]}
    res["spark_sec"] = round(time.perf_counter() - t0, 3)
    res["spark_rows"] = len(srows)
    if oracle is None:
        try:
            value_hash(srows, scols)  # driver canonicalizes rows-only too
        except TypeError as e:
            return {**res, "status": "CANON ERROR", "error": str(e)}
        return {**res, "status": "ROWS-ONLY"}
    t0 = time.perf_counter()
    try:
        opdf = con.execute(oracle).df()
        ocols = list(opdf.columns)
        orows = _pdf_rows(opdf)
    except Exception as e:
        return {**res, "status": "ORACLE ERROR", "error": str(e)[:200]}
    res["oracle_sec"] = round(time.perf_counter() - t0, 3)
    res["oracle_rows"] = len(orows)
    ok_c = sorted(scols) == sorted(ocols)
    res["cols_equal"] = ok_c
    try:
        ok_v = ok_c and value_hash(srows, scols) == value_hash(orows, ocols)
    except TypeError as e:
        return {**res, "status": "CANON ERROR", "error": str(e)}
    res["hash_equal"] = ok_v
    if len(srows) == len(orows) and ok_v:
        return res
    res["status"] = "MISMATCH"
    if not ok_c:
        res["spark_cols"], res["oracle_cols"] = scols, ocols
    else:
        order = sorted(range(len(scols)), key=lambda i: scols[i])
        sset = {tuple(norm_cell(r[i]) for i in order) for r in srows}
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        oset = {tuple(norm_cell(r[i]) for i in oorder) for r in orows}
        res["spark_only"] = list(sset - oset)[:3]
        res["oracle_only"] = list(oset - sset)[:3]
    return res


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    """Print one JSON object per checked query, then ``FAILURES: ...``.

    A name in ``only`` that ``queries()`` lacks fails the run before
    Spark starts, so a misspelled query never reads as a pass."""
    queries = entrymod.queries()
    unknown = [n for n in dict.fromkeys(only or ()) if n not in queries]
    if unknown:
        for name in unknown:
            print(json.dumps({"name": name, "status": "UNKNOWN QUERY"}))
        print("FAILURES:", unknown)
        return 2
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        res = _check(name, fn, oracles.get(name), spark, con, sf_dir)
        print(json.dumps(res), flush=True)
        if res["status"] not in ("OK", "ROWS-ONLY"):
            failures.append(name)
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(only=sys.argv[1:] or None))
