"""Expected query results from the DuckDB oracles, cached on disk.

The comparison is the repository's oracle gate (``tools/check_oracle.py``),
whose cell and row normalization this module imports: same pandas dtype
family, same row count, same column names, then an order-insensitive
match of string-normalized values. The oracle side is normalized once and
cached as JSON, so no oracle time falls inside a timed run. A cached
result is reused only while the tables, the oracle's SQL text, the DuckDB
version and the normalization code are all unchanged.
"""

from __future__ import annotations

import hashlib
import importlib.metadata
import inspect
import json
import os

from tools.check_oracle import _norm_cell, _rows_key


def _dtype_family(dtype) -> str:
    # Follows the dtype comparison nested in tools/check_oracle.py:main.
    s = str(dtype)
    if s.startswith("datetime64"):
        return "datetime64"
    if s in {"int8", "int16", "int32", "int64", "uint32", "uint64"}:
        return "int"
    return s


def summarize(pdf) -> dict:
    """Normalized form of a pandas result: columns, dtypes, sorted rows."""
    cols = list(pdf.columns)
    rows = [list(r) for r in _rows_key(pdf.itertuples(index=False), cols)]
    return {
        "columns": sorted(cols),
        "dtypes": {c: _dtype_family(pdf[c].dtype) for c in cols},
        "n_rows": len(rows),
        "rows": rows,
    }


def mismatch(got: dict, want: dict) -> str | None:
    """First difference between two summaries, or None when they agree."""
    if got["dtypes"] != want["dtypes"]:
        return f"dtypes {got['dtypes']} vs {want['dtypes']}"
    if got["n_rows"] != want["n_rows"]:
        return f"rows {got['n_rows']} vs {want['n_rows']}"
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} vs {want['columns']}"
    if got["rows"] != want["rows"]:
        i = next(i for i, (a, b) in enumerate(zip(got["rows"], want["rows"])) if a != b)
        return f"value mismatch @ {i}: {got['rows'][i]} vs {want['rows'][i]}"
    return None


def fingerprint(data_dir: str) -> str:
    """Content hash of every table file under ``data_dir``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as fh:
            h.update(name.encode())
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _cache_key(name: str, sql: str) -> str:
    """Key of one query's cached result: its name plus a hash of the
    oracle SQL, the DuckDB version and the normalization code."""
    h = hashlib.sha256()
    for part in (
        sql, importlib.metadata.version("duckdb"),
        inspect.getsource(_norm_cell), inspect.getsource(_rows_key),
        inspect.getsource(_dtype_family),
    ):
        h.update(part.encode())
        h.update(b"\0")
    return f"{name}-{h.hexdigest()[:16]}"


def expected_results(
    cache_root: str, data_dir: str, sql_by_name: dict[str, str],
) -> dict[str, dict]:
    """Oracle summaries for ``sql_by_name`` on the tables in ``data_dir``."""
    path = os.path.join(cache_root, f"oracle-{fingerprint(data_dir)}.json")
    keys = {n: _cache_key(n, sql) for n, sql in sql_by_name.items()}
    cached: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
    missing = [n for n, k in keys.items() if k not in cached]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            for name in sorted(os.listdir(data_dir)):
                table = name.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, name)}')",
                )
            for name in missing:
                cached[keys[name]] = summarize(con.execute(sql_by_name[name]).df())
        finally:
            con.close()
        os.makedirs(cache_root, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cached, fh)
        os.replace(tmp, path)
    return {n: cached[k] for n, k in keys.items()}
