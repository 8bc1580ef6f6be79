"""DuckDB oracle gate for the `queries` workload.

Each headline query's Spark result (parquet) is compared with its
`SparkEntry.oracleSql` query run by DuckDB over the same generated tables:
same column names, same row count, and the same multiset of rows. Rows are
sorted on canonical cell keys, so equal values of different Python types sort
alike; numbers compare by value (Decimals exactly, floats by their float64
value, NaN equal to NaN); null equals only null.
"""
import datetime
import decimal
import json
import math
import os

import duckdb


def key(v):
    """Sort key of one cell: equal values of different Python types (an int
    and a Decimal, say) get keys that compare equal."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float, decimal.Decimal)):
        return (3,) if v != v else (2, v)  # NaN sorts on its own
    if isinstance(v, str):
        return (4, v)
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time)):
        return (5, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (6, tuple(key(x) for x in v))
    if isinstance(v, dict):
        return (7, tuple(sorted((str(k), key(x)) for k, x in v.items())))
    return (8, str(v))


def cell_eq(a, b):
    """Null equals only null; Decimals and ints compare by exact value; a
    float compares by its float64 value, NaN equal to NaN."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
    num = (int, float, decimal.Decimal)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool):
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            return fa == fb or (math.isnan(fa) and math.isnan(fb))
        return a == b
    return a == b


def rows_equal(got, want):
    """Multiset equality of two row lists: both sorted by cell keys, then
    compared cell by cell."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"

    def order(rows):
        return sorted(rows, key=lambda r: tuple(key(c) for c in r))
    for i, (a, b) in enumerate(zip(order(got), order(want))):
        if len(a) != len(b) or not all(cell_eq(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} vs {b}"
    return None


def check_all(sf_dir, results_dir, corrupt=False):
    """Returns (number passed, list of failure messages). With `corrupt`, the
    first cell of the first query's first row is altered before comparing,
    which the benchmark's own test uses to show a mismatch is caught."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in sorted(os.listdir(sf_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{t}')")
    passed, failures = 0, []
    for i, name in enumerate(sorted(oracle)):
        try:
            want = con.execute(oracle[name]).fetchall()
            wcols = [d[0].lower() for d in con.description]
            rel = con.sql(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
            gcols = [c.lower() for c in rel.columns]
            got = rel.fetchall()
            if corrupt and i == 0 and got:
                got[0] = ("corrupted",) + tuple(got[0][1:])
            why = (f"columns {gcols} vs {wcols}" if gcols != wcols
                   else rows_equal(got, want))
        except Exception as e:  # a failed oracle or unreadable result is a mismatch
            why = f"{type(e).__name__}: {e}"
        if why:
            failures.append(f"{name}: {why[:300]}")
        else:
            passed += 1
    return passed, failures
