"""Data-quality operators: column profiling, declarative expectation
checks, and keyed frame diff.

No reference equivalent (extension surface, SURVEY.md §0/§7): the
validation layer a 100 TB training-data pipeline runs before a corpus
snapshot is blessed — the reference stops at ``validate_dataframe``
(pydantic row glue, mirrored in ``rdsa_utils_spark.validation``), which
collects rows to the driver and cannot run at scale. These operators
keep every check distributed and JVM-side.

100 TB posture:

- ``profile_columns`` is ONE scan: every per-column metric is an
  aggregate expression in a single ``agg`` (map-side partial combine,
  one exchange of a single row). Distinct counts default to HLL
  (``approx_count_distinct``) so the pass stays single-phase; exact
  mode is opt-in and documented as adding Spark's expand-based
  multi-distinct plan.
- ``run_checks`` compiles every row-level expectation into the same
  single-scan aggregation — N checks cost one pass, not N. Dataset
  level checks (uniqueness, referential integrity) are each one
  hash-aggregation / one join: uniqueness shuffles only the key
  columns, referential integrity is a broadcast-able left-anti join.
- ``frame_diff`` is one full-outer co-shuffle on the key columns;
  comparison is null-safe (``IS DISTINCT FROM`` semantics) and emits a
  per-row status so the caller can filter to 'changed' without a
  second join.
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Check",
    "profile_columns",
    "not_null",
    "in_range",
    "in_set",
    "matches_regex",
    "satisfies",
    "run_checks",
    "unique_violations",
    "referential_violations",
    "frame_diff",
    "schema_drift",
    "require_schema",
]


class Check(NamedTuple):
    """A named row-level expectation. ``violated`` is TRUE on rows that
    FAIL the expectation (so checks aggregate as ``sum(violated)``)."""

    name: str
    violated: Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def not_null(col: str) -> Check:
    """Expect ``col`` to be non-null on every row."""
    return Check(f"not_null({col})", F.col(col).isNull())


def in_range(col: str, lo=None, hi=None) -> Check:
    """Expect ``lo <= col <= hi`` (either bound optional; NULL passes —
    pair with :func:`not_null` to forbid NULLs)."""
    if lo is None and hi is None:
        raise ValueError("in_range needs at least one bound")
    c = F.col(col)
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (c < F.lit(lo))
    if hi is not None:
        cond = cond | (c > F.lit(hi))
    bounds = f"{lo!r},{hi!r}"
    return Check(f"in_range({col},{bounds})", c.isNotNull() & cond)


def in_set(col: str, values: Sequence) -> Check:
    """Expect ``col`` to be one of ``values`` (NULL passes)."""
    c = F.col(col)
    return Check(
        f"in_set({col})",
        c.isNotNull() & ~c.isin(list(values)),
    )


def matches_regex(col: str, pattern: str) -> Check:
    """Expect ``col`` to contain a match for ``pattern`` (unanchored,
    like ``rlike`` — anchor with ``^...$`` for a full match; NULL
    passes)."""
    c = F.col(col)
    return Check(
        f"matches_regex({col})",
        c.isNotNull() & ~c.rlike(pattern),
    )


def satisfies(name: str, predicate: Column) -> Check:
    """Expect ``predicate`` to hold on every row (NULL predicate
    passes). Use for cross-column invariants, e.g.
    ``satisfies("ship_before_receipt", F.col("l_shipdate") <= F.col("l_receiptdate"))``."""
    return Check(name, ~F.coalesce(predicate, F.lit(True)))


def run_checks(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """Evaluate every row-level expectation in ONE aggregation pass.

    Returns one row per check: ``(check, violations, rows_checked)``.
    All checks share a single scan — the aggregation computes
    ``sum(int(violated))`` per check plus one total count, then the
    single result row is unpivoted to long form (a driver-free melt of
    a 1-row frame).
    """
    if not checks:
        raise ValueError("checks must be non-empty")
    names = [ch.name for ch in checks]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate check names: {names}")
    aggs = [
        F.sum(ch.violated.cast("long")).alias(f"__v{i}__")
        for i, ch in enumerate(checks)
    ] + [F.count(F.lit(1)).alias("__n__")]
    row = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(ch.name).alias("check"),
                F.coalesce(F.col(f"__v{i}__"), F.lit(0)).alias("violations"),
            )
            for i, ch in enumerate(checks)
        ],
    )
    return (
        row.select(F.explode(pairs).alias("p"), F.col("__n__").alias("rows_checked"))
        .select("p.check", "p.violations", "rows_checked")
    )


def unique_violations(df: DataFrame, keys: str | Sequence[str]) -> DataFrame:
    """Count surplus rows under a uniqueness expectation on ``keys``:
    for every duplicated key group of size n, n-1 rows are violations.

    One hash aggregation shuffling only the key columns (map-side
    combine collapses each key to one row per partition first).
    Returns ``(check, violations, rows_checked)`` — same shape as
    :func:`run_checks` so suites union cleanly.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    label = f"unique({','.join(key_list)})"
    return (
        df.groupBy(*key_list)
        .agg(F.count(F.lit(1)).alias("__n__"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("__n__") > 1, F.col("__n__") - 1)), F.lit(0),
            ).cast("long").alias("violations"),
            # Empty frame: 0 rows checked, not NULL — run_checks
            # coalesces the same way, and suites union/divide cleanly.
            F.coalesce(F.sum("__n__"), F.lit(0)).cast("long").alias("rows_checked"),
        )
        .select(F.lit(label).alias("check"), "violations", "rows_checked")
    )


def referential_violations(
    df: DataFrame,
    col: str,
    dim: DataFrame,
    dim_col: str,
) -> DataFrame:
    """Count rows whose non-null ``col`` has no match in
    ``dim[dim_col]`` (foreign-key expectation). NULLs pass — pair with
    :func:`not_null` to forbid them.

    Left-anti join against the distinct key column only; the planner
    broadcasts the key set while it is under the session's threshold
    and shuffle-joins a fat dimension.
    """
    keys = dim.select(F.col(dim_col).alias("__fk__")).distinct()
    label = f"references({col})"
    total = df.agg(F.count(F.lit(1)).alias("rows_checked"))
    orphans = (
        df.filter(F.col(col).isNotNull())
        .join(keys, F.col(col) == F.col("__fk__"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    return (
        orphans.crossJoin(total)  # two 1-row aggregates — trivially safe
        .select(F.lit(label).alias("check"), "violations", "rows_checked")
    )


def frame_diff(
    left: DataFrame,
    right: DataFrame,
    keys: str | Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Keyed diff of two frames: one row per key present in either
    side, with ``diff_status`` in {'added', 'removed', 'changed',
    'unchanged'} ('added' = key only in ``right``).

    Comparison is null-safe per column (NULL == NULL is unchanged,
    NULL vs value is changed) — ``IS DISTINCT FROM`` semantics via
    ``eqNullSafe``. One full-outer co-shuffle on the keys; project
    ``compare_cols`` down before the join so the shuffle carries only
    the compared payload.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    if compare_cols is None:
        compare_cols = [c for c in left.columns if c in set(right.columns) and c not in key_list]
    lsel = left.select(*key_list, *[F.col(c).alias(f"__l_{c}__") for c in compare_cols])
    rsel = right.select(*key_list, *[F.col(c).alias(f"__r_{c}__") for c in compare_cols])
    # Presence flags: a non-null marker per side, so presence is
    # decided by the outer join itself, not by payload nullability
    # (a side whose compared columns are all NULL is still present).
    lmark = lsel.withColumn("__lpresent__", F.lit(True))
    rmark = rsel.withColumn("__rpresent__", F.lit(True))
    joined = lmark.join(rmark, on=key_list, how="full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"__l_{c}__").eqNullSafe(F.col(f"__r_{c}__"))
    status = (
        F.when(F.col("__lpresent__").isNull(), F.lit("added"))
        .when(F.col("__rpresent__").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out_cols = (
        [F.col(k) for k in key_list]
        + [F.col(f"__l_{c}__").alias(f"left_{c}") for c in compare_cols]
        + [F.col(f"__r_{c}__").alias(f"right_{c}") for c in compare_cols]
        + [status.alias("diff_status")]
    )
    return joined.select(*out_cols)


def profile_columns(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Per-column profile in ONE scan: row count, null count, distinct
    count, min and max (rendered as strings so heterogeneous column
    types share one output schema).

    Every metric is an aggregate expression in a single ``agg`` — the
    scan is shared, partials combine map-side, and one single-row
    result is unpivoted to long form. ``exact_distinct=False``
    (default) uses HLL ``approx_count_distinct`` and keeps the plan a
    plain two-phase hash aggregate; ``True`` switches to
    ``count(DISTINCT col)``, which Spark plans with one expand ×
    n_cols — exact, still one scan, but the expand multiplies rows
    fed to the aggregation, so profile few columns in exact mode.
    """
    names = list(cols) if cols is not None else list(df.columns)
    if not names:
        raise ValueError("no columns to profile")
    missing = [c for c in names if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n__")]
    for i, c in enumerate(names):
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"__null{i}__"))
        if exact_distinct:
            aggs.append(F.countDistinct(col).alias(f"__dist{i}__"))
        else:
            aggs.append(F.approx_count_distinct(col).alias(f"__dist{i}__"))
        aggs.append(F.min(col).cast("string").alias(f"__min{i}__"))
        aggs.append(F.max(col).cast("string").alias(f"__max{i}__"))
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n__").alias("row_count"),
                F.col(f"__null{i}__").alias("null_count"),
                F.col(f"__dist{i}__").alias("distinct_count"),
                F.col(f"__min{i}__").alias("min_value"),
                F.col(f"__max{i}__").alias("max_value"),
            )
            for i, c in enumerate(names)
        ],
    )
    return row.select(F.explode(entries).alias("p")).select("p.*")


def schema_drift(
    expected,
    actual,
) -> list[dict]:
    """Schema-evolution report between an expected schema and an
    incoming frame — the gate an incremental 100 TB ingest runs BEFORE
    touching any data (this is pure metadata: no job, no scan).

    ``expected``/``actual`` each accept a DataFrame or a StructType.
    Returns a list of dicts (driver-side — schemas are driver
    metadata) with keys ``column``, ``status`` (``added`` = in actual
    only, ``removed`` = in expected only, ``type_changed``),
    ``expected_type``, ``actual_type``; empty list = no drift.
    Comparison is by simpleString of each field's type, so nested
    struct/array/map changes surface as a type change on the top
    field; column order is ignored (parquet/Delta resolve by name).
    """
    from pyspark.sql.types import StructType

    def fields(s) -> dict[str, str]:
        st = s.schema if hasattr(s, "schema") and not isinstance(s, StructType) else s
        return {f.name: f.dataType.simpleString() for f in st.fields}

    exp, act = fields(expected), fields(actual)
    report: list[dict] = []
    for name in sorted(exp.keys() | act.keys()):
        e, a = exp.get(name), act.get(name)
        if e is None:
            report.append(
                {"column": name, "status": "added", "expected_type": None,
                 "actual_type": a},
            )
        elif a is None:
            report.append(
                {"column": name, "status": "removed", "expected_type": e,
                 "actual_type": None},
            )
        elif e != a:
            report.append(
                {"column": name, "status": "type_changed", "expected_type": e,
                 "actual_type": a},
            )
    return report


def require_schema(
    df: DataFrame,
    expected,
    allow_added: bool = False,
) -> DataFrame:
    """Raise ``SchemaDriftError`` unless ``df`` matches ``expected``
    (a DataFrame or StructType). ``allow_added=True`` tolerates new
    columns (the common forward-compatible evolution) but never
    removals or type changes. Returns ``df`` unchanged so it chains
    inside read pipelines."""
    from rdsa_utils_spark.exceptions import SchemaDriftError

    drift = schema_drift(expected, df)
    if allow_added:
        drift = [d for d in drift if d["status"] != "added"]
    if drift:
        lines = ", ".join(
            f"{d['column']}: {d['status']}"
            + (
                f" ({d['expected_type']} -> {d['actual_type']})"
                if d["status"] == "type_changed" else ""
            )
            for d in drift
        )
        raise SchemaDriftError(f"schema drift detected — {lines}")
    return df


def benford_deviation(
    df: DataFrame,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic plausibility screen for invented or systematically
    manipulated monetary data. One row per digit 1-9:
    ``(digit, n_obs, expected, chi2_contrib)``;
    ``SUM(chi2_contrib)`` is the 8-d.f. test statistic.

    The first digit is extracted arithmetically
    (``floor(|x| / 10^floor(log10|x|))``) — no string formatting, so
    the scan stays in whole-stage codegen. Zero/NULL values are
    excluded (they have no leading digit). One map-side-combined
    9-group aggregation + a broadcast 1-row total.
    """
    v = F.abs(F.col(value_col).cast("double"))
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    observed = (
        df.filter(v > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    # Complete the 1-9 grid: a digit with ZERO observations (the
    # classic fraud signature) must contribute its full (0−E)²/E term
    # — omitting the row understates the statistic exactly when the
    # screen should fire.
    grid = df.sparkSession.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    counts = grid.join(observed, "digit", "left").select(
        "digit", F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
    )
    total = counts.agg(F.sum("n_obs").alias("__n"))
    t = counts.crossJoin(total)
    expected = (
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
        * F.col("__n").cast("double")
    )
    contrib = (F.col("n_obs").cast("double") - expected) ** 2 / expected
    return t.select(
        "digit",
        "n_obs",
        F.round(expected, round_to).alias("expected"),
        F.round(contrib, round_to).alias("chi2_contrib"),
    )


def detect_pii_columns(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Governance scan: which string columns contain PII-shaped
    content, and how much. One row per (column, pattern) with the
    count of matching rows and the match rate — the triage step
    before :func:`rdsa_utils_spark.operators.text.redact_pii` is
    pointed at the offending columns.

    ALL columns × patterns are counted inside ONE aggregation (a
    conditional-sum accumulator per pair, map-side combined, single
    scan) and the 1-row wide result unpivots with ``stack`` — adding
    columns never adds scans, the same shape as
    ``stats.correlation_matrix``. Patterns are the engine's
    RE2-compatible email / IPv4 / phone regexes, so external engines
    replay the counts exactly.
    """
    from rdsa_utils_spark.operators.text import (
        PII_EMAIL_PATTERN,
        PII_IPV4_PATTERN,
        PII_PHONE_PATTERN,
    )

    if columns is None:
        columns = [
            f.name for f in df.schema.fields
            if f.dataType.typeName() == "string"
        ]
    columns = list(columns)
    if not columns:
        raise ValueError("no string columns to scan")
    patterns = [
        ("email", PII_EMAIL_PATTERN),
        ("ipv4", PII_IPV4_PATTERN),
        ("phone", PII_PHONE_PATTERN),
    ]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for ci, c in enumerate(columns):
        for pi, (_, pat) in enumerate(patterns):
            aggs.append(
                F.sum(
                    F.when(F.regexp_like(F.col(c), F.lit(pat)), 1).otherwise(0),
                ).alias(f"__m_{ci}_{pi}"),
            )
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', '{pname}', __m_{ci}_{pi}"
        for ci, c in enumerate(columns)
        for pi, (pname, _) in enumerate(patterns)
    )
    n_pairs = len(columns) * len(patterns)
    return wide.selectExpr(
        "__n",
        f"stack({n_pairs}, {stack_args}) AS (column_name, pattern, n_matching)",
    ).select(
        "column_name",
        "pattern",
        "n_matching",
        F.round(
            F.col("n_matching").cast("double")
            / F.nullif(F.col("__n").cast("double"), F.lit(0.0)),
            round_to,
        ).alias("match_rate"),
    )


def frame_checksum(
    df: DataFrame,
    cols: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Order-independent content checksum: per group (or globally),
    ``n_rows`` and ``checksum`` = sum over rows of the first 12 md5
    hex digits (48 bits, parsed base-16) of a canonical
    field-separated rendering of ``cols``. Row order, partitioning,
    and engine never change the result — the cheap equality probe for
    migration validation ("same data on both sides?") when a full
    :func:`frame_diff` is overkill; sums fit comfortably in int64
    (2⁴⁸ per row ⇒ overflow needs ~32k billion rows).

    Canonical rendering: each column cast to string, NULL encoded as
    a reserved marker, fields joined with an ASCII unit separator.
    Cast floats/doubles to a fixed decimal rendering UPSTREAM —
    float-to-string formatting differs across engines, which would
    break cross-engine comparison (ints, strings, dates, timestamps
    and decimals render identically).

    One map-side-combinable aggregation; no window, no Python.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    rendered = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in cols],
    )
    row_hash = F.conv(F.substring(F.md5(rendered), 1, 12), 16, 10).cast("long")
    gcols = list(group_cols)
    agg = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).alias("checksum"),
    ]
    if gcols:
        return df.groupBy(*gcols).agg(*agg)
    return df.agg(*agg)
