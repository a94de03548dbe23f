"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` AND ``extra_queries()`` entry
at sf0.01 and compares against ``oracle_sql()`` / ``extra_oracle_sql()``
via DuckDB: row count, column names, and an order-insensitive value
comparison (sorted rows, columns sorted by name). Floats compared
exactly after string normalization — same strictness as a value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py [sf_dir] --main-only
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows_key(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from rdsa_utils_spark.session import create_spark_session

    spark = create_spark_session("oracle-check", size="local")

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')",
        )

    qs = dict(entrymod.queries())
    oracles = dict(entrymod.oracle_sql())
    if "--main-only" in only:
        only.discard("--main-only")
    else:
        qs.update(entrymod.extra_queries())
        oracles.update(entrymod.extra_oracle_sql())
    unknown = only - set(qs)
    if unknown:
        # a typo'd name silently "passing" is how a query skips its gate
        print(f"UNKNOWN query names: {sorted(unknown)}")
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_pdf = sdf.toPandas()
            spark_rows = [tuple(r) for r in spark_pdf.itertuples(index=False)]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
            duck_cols = list(duck_pdf.columns)
            duck_rows = [tuple(r) for r in duck_pdf.itertuples(index=False)]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue

        problems = []
        # The driver's hash canonicalization is dtype-sensitive (round-1
        # lesson: DuckDB HUGEINT vs Spark bigint hash-mismatched while
        # string-normalized values agreed), so compare pandas dtypes too.
        def _dt(x):
            # Collapse dtype differences the driver's hash tolerates
            # (round-1 evidence: events_hourly green with ns-vs-us
            # datetimes, doc_stats green with int32-vs-int64). What it
            # does NOT tolerate is a representation change — DuckDB
            # HUGEINT surfacing as float64 ("3.0" vs "3") or dates as
            # object vs datetime64.
            s = str(x)
            if s.startswith("datetime64"):
                return "datetime64"
            if s in {"int8", "int16", "int32", "int64", "uint32", "uint64"}:
                return "int"
            return s

        sd = {c: _dt(spark_pdf[c].dtype) for c in spark_cols}
        dd = {c: _dt(duck_pdf[c].dtype) for c in duck_cols}
        if sd != dd:
            diffs = {
                c: (sd.get(c), dd.get(c))
                for c in set(sd) | set(dd)
                if sd.get(c) != dd.get(c)
            }
            problems.append(f"dtype mismatch {diffs}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rows {len(spark_rows)} vs {len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols {sorted(spark_cols)} vs {sorted(duck_cols)}")
        if not problems:
            sk = _rows_key(spark_rows, spark_cols)
            dk = _rows_key(duck_rows, duck_cols)
            if sk != dk:
                diff_i = next(
                    (i for i, (a, b) in enumerate(zip(sk, dk)) if a != b), None,
                )
                detail = ""
                if diff_i is not None:
                    detail = f" first diff @ {diff_i}: {sk[diff_i]} vs {dk[diff_i]}"
                problems.append("value mismatch" + detail)
        status = "ok  " if not problems else "FAIL"
        if problems:
            failures.append(name)
        print(f"{status}  {name}: {len(spark_rows)} rows, "
              f"{time.perf_counter()-t0:.1f}s {'; '.join(problems)}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
