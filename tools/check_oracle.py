"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and
(order-insensitively) values. Reports per-query PASS/FAIL with the
first few differing rows so mismatches are debuggable.

Usage:
    python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 and fold float32 noise
        return 0.0 if v == 0 else v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict, set)):
        # The driver's canonicalizer (pandas factorize) hard-fails on
        # unhashable cells; mirror that strictness so an array-typed
        # output column fails HERE, before a driver round records it.
        raise TypeError(
            f"non-scalar result cell {type(v).__name__}: declared query "
            "outputs must be scalar columns (flatten arrays at the edge)"
        )
    return v


def _key(row):
    return tuple((repr(x) for x in row))


def _dtype_kind(dt) -> str:
    """Collapse a pandas dtype to the kind the driver's canonicalizer is
    sensitive to: int64 vs float64 vs bool vs datetime vs object."""
    k = getattr(dt, "kind", "O")  # iufcbOSUMm
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in "Mm":
        return "datetime"
    return "object"


def compare(name: str, spark_df, duck_rows, duck_cols, s_pdf=None, d_pdf=None):
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_cols)
    issues = []
    if s_cols != d_cols:
        issues.append(f"SCHEMA: spark={s_cols} duck={d_cols}")
        return issues
    # Driver-parity dtype check: the driver compares pandas frames
    # (Spark .toPandas() vs DuckDB .df()); DuckDB SUM(BIGINT) returns
    # HUGEINT -> float64 while Spark stays int64, which the driver's
    # dtype-sensitive value hash records as a mismatch even though the
    # values are numerically equal. Surface that HERE.
    if s_pdf is not None and d_pdf is not None:
        for c in s_cols:
            sk, dk = _dtype_kind(s_pdf[c].dtype), _dtype_kind(d_pdf[c].dtype)
            if sk != dk:
                issues.append(
                    f"DTYPE {c}: spark={s_pdf[c].dtype}({sk}) duck={d_pdf[c].dtype}({dk})"
                )
    col_order = s_cols
    s_idx = [spark_df.columns.index(c) for c in col_order]
    d_idx = [list(duck_cols).index(c) for c in col_order]
    s_rows = sorted(_key(tuple(_norm(r[i]) for i in s_idx)) for r in spark_df.collect())
    d_rows = sorted(_key(tuple(_norm(r[i]) for i in d_idx)) for r in duck_rows)
    if len(s_rows) != len(d_rows):
        issues.append(f"ROWCOUNT: spark={len(s_rows)} duck={len(d_rows)}")
    mismatch = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    if mismatch:
        issues.append(f"VALUES: {len(mismatch)} differing rows (of {len(s_rows)})")
        for a, b in mismatch[:3]:
            issues.append(f"  spark={a}")
            issues.append(f"  duck ={b}")
    return issues


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = tuple(sys.argv[2:])  # exact names OR prefixes (e.g. "t2" or "e")

    import duckdb

    import __spark_entry__ as e
    from nlp_data_pipeline_spark.session import get_spark
    from nlp_data_pipeline_spark.sources.catalog import TABLE_NAMES

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = e.queries()
    oracles = e.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and not name.startswith(only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name not in oracles:
                cnt = sdf.count()
                print(f"ROWS-ONLY {name}: {cnt} rows  [{time.time()-t0:.1f}s]")
                n_rows_only += 1
                continue
            d_pdf = con.execute(oracles[name]).df()
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            try:
                s_pdf = sdf.toPandas()
            except Exception:
                s_pdf = None
            issues = compare(name, sdf, duck_rows, duck_cols, s_pdf, d_pdf)
        except Exception as ex:
            issues = [f"ERROR: {type(ex).__name__}: {ex}"]
        dt = time.time() - t0
        if issues:
            n_fail += 1
            print(f"FAIL {name}  [{dt:.1f}s]")
            for i in issues:
                print(f"    {i}")
        else:
            n_pass += 1
            print(f"PASS {name}  [{dt:.1f}s]")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
