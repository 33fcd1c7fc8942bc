"""Local replica of the driver's correctness gate.

Runs every registered query through Spark AND its DuckDB oracle SQL on the
same parquet fixtures, then compares row count, column names, and an
order-insensitive canonical value comparison (floats exact after the
queries' own rounding; near-miss diagnostics printed when only tolerance
saves us, since the driver's hash has no tolerance).

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [names...]

With no names it runs every registered query: the full-registry gate.
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from datetime import date, datetime
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent


def canon(v):
    """Canonicalize one value for order-insensitive comparison.

    TYPE-STRICT on the numeric class boundary: floats canon to ("f", x),
    ints to ("i", x), bools to ("b", x) — so a DuckDB TINYINT 1 never
    equals a Spark DOUBLE 1.0 here, exactly as the driver's value hash
    treats them (round-2 lesson: fn_math/text_stats passed the old
    `1 == 1.0` gate but failed the driver)."""
    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return ("b", bool(v))
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, (np.floating,)):
        v = float(v)
        return None if math.isnan(v) else ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (np.integer,)):
        return ("i", int(v))
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return None
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, dict)) or type(v).__name__ == "ndarray":
        # The DRIVER's pandas canonicalizer cannot sort/hash list cells
        # (round-6 lesson: text_inverted_index errored driver-side with
        # `unhashable type: 'list'` while this gate tuple-ized and passed
        # it). Mirror the driver: complex-typed output is a hard error —
        # serialize arrays/maps/structs to strings in BOTH the Spark query
        # and the oracle SQL before registering.
        raise TypeError(
            f"complex-typed cell ({type(v).__name__}) — the driver's "
            "canonicalizer cannot hash lists; serialize to a string in "
            "both the Spark query and the oracle SQL"
        )
    return v


def frame_to_rows(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(canon(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def approx_equal(a, b, rtol=1e-6):
    if (
        isinstance(a, tuple) and len(a) == 2 and a[0] in ("f", "i", "b")
        and isinstance(b, tuple) and len(b) == 2 and b[0] in ("f", "i", "b")
    ):
        if a[0] == "f" and b[0] == "f":
            return math.isclose(a[1], b[1], rel_tol=rtol, abs_tol=1e-9)
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(approx_equal(x, y, rtol) for x, y in zip(a, b))
    return a == b


def compare(name, spark_pdf, duck_pdf):
    problems = []
    s_cols, s_rows = frame_to_rows(spark_pdf)
    d_cols, d_rows = frame_to_rows(duck_pdf)
    if s_cols != d_cols:
        problems.append(f"columns differ: spark={s_cols} duck={d_cols}")
        return problems, False
    if len(s_rows) != len(d_rows):
        problems.append(f"row count differs: spark={len(s_rows)} duck={len(d_rows)}")
    exact = s_rows == d_rows
    if not exact and len(s_rows) == len(d_rows):
        n_bad = 0
        first_bad = None
        close_all = True
        for sr, dr in zip(s_rows, d_rows):
            if sr != dr:
                n_bad += 1
                if first_bad is None:
                    first_bad = (sr, dr)
                if not approx_equal(sr, dr):
                    close_all = False
        if close_all:
            problems.append(
                f"NEAR-MISS (floats within tolerance but not bit-exact; driver hash would FAIL): "
                f"{n_bad} rows, e.g. {first_bad}"
            )
        else:
            problems.append(f"{n_bad}/{len(s_rows)} rows differ, e.g. spark={first_bad[0]} duck={first_bad[1]}")
    return problems, exact


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.names or list(queries)

    from data_ingestor_web_app_spark.io import TABLES
    from data_ingestor_web_app_spark.session import get_spark

    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    n_pass = n_fail = n_rows_only = 0
    failed = []
    for name in names:
        if name not in queries:
            print(f"?? {name}: not registered")
            continue
        # lifecycle belongs to the driver, not the builders (ADVICE r9):
        # iterative queries cache per-round frames as lazy reuse markers;
        # dropping the previous query's entries keeps a full-registry
        # sweep's executor storage flat instead of accumulating
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf)
            spdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(exc).__name__}: {exc}")
            n_fail += 1
            failed.append(name)
            continue
        if name not in oracles:
            print(f"rows {name}: rows-only ({len(spdf)} rows) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(exc).__name__}: {exc}")
            n_fail += 1
            failed.append(name)
            continue
        try:
            problems, exact = compare(name, spdf, dpdf)
        except TypeError as exc:
            print(f"FAIL {name}: canonicalizer rejected output: {exc}")
            n_fail += 1
            failed.append(name)
            continue
        if not problems:
            print(f"ok   {name}: {len(spdf)} rows exact [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
            failed.append(name)

    print(f"\n{n_pass} exact, {n_rows_only} rows-only, {n_fail} FAIL")
    if failed:
        print("failed:", " ".join(failed))
        sys.exit(1)


if __name__ == "__main__":
    main()
