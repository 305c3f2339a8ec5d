"""Local mirror of the driver's correctness pass: run every registry
query on Spark and its DuckDB oracle twin at sf0.01, compare row count,
column names, and order-insensitive values.

Usage:
    python tools/check_oracles.py [name ...] [--sf-dir DIR] [--first N]

With no names, checks the full registry in ``harness.registry()`` order
(the order the driver sees; its window is the first 50). ``--first N``
checks only the first N of that order.
"""

from __future__ import annotations

import argparse
import decimal
import math
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


class UncanonicalizableCell(TypeError):
    """Raised for cell types the DRIVER's canonicalizer cannot hash.

    The driver sorts/hashes result cells with pandas; top-level array /
    map / struct cells crash it (``TypeError: unhashable type:
    'numpy.ndarray'``). This mirror must fail the same queries the
    driver fails — never paper over nested cells locally.
    """


def _norm(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        # DuckDB emits DECIMAL cells for decimal-typed expressions; the
        # driver's pandas canonicalizer coerces them numerically (e.g.
        # profile_benford is driver-green with a Decimal column), so the
        # mirror must too.
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple, dict)) or hasattr(v, "tolist"):
        raise UncanonicalizableCell(
            f"driver-uncanonicalizable cell type {type(v).__name__}: "
            "oracle-paired queries must emit scalar columns only "
            "(serialize arrays with array_join / array_to_string)"
        )
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm(r[i]) for i in order) for r in rows]
    # NULL cells are driver-canonicalizable (pandas sorts them; e.g.
    # join_full_outer is driver-green), but Python's plain sort crashes
    # on None < int — order None after values per cell instead.
    return sorted(normed, key=lambda t: tuple((c is None, c) for c in t))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--first", type=int, default=None)
    args = ap.parse_args()

    from lakehouse_platform_nyc_taxi_spark import harness
    from lakehouse_platform_nyc_taxi_spark.session import get_spark

    reg = harness.registry()
    names = args.names or list(reg)
    if args.first:
        names = names[: args.first]

    spark = get_spark(app_name="check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    n_pass = n_rows_only = n_fail = 0
    for name in names:
        spec = reg[name]
        t0 = time.monotonic()
        try:
            sdf = spec.fn(spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e!r}"[:500])
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"rows-only  {name}: spark_rows={len(srows)} ({time.monotonic()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            cur = con.execute(spec.oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e!r}"[:500])
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            try:
                sc, oc = _canon(srows, scols), _canon(orows, ocols)
            except UncanonicalizableCell as e:
                problems.append(f"DRIVER-INCOMPATIBLE: {e}")
            else:
                if sc != oc:
                    diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
                    problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}"[:800])
            n_fail += 1
        else:
            print(f"ok    {name}: {len(srows)} rows ({time.monotonic()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL / {len(names)} checked")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
