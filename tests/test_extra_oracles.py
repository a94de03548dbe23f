"""Every retired query (``__spark_entry__.extra_queries()``) stays
oracle-checked here, at sf0.001, with the same comparison the driver
applies to the declared registry: row count, column names, and an
order-insensitive exact value comparison against the DuckDB oracle.

The declared registry itself is verified by the driver (and by
``tools/check_oracle.py`` locally); this module guards the retired
set so consolidating the driver window never silently un-verifies an
operator.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import assert_matches_oracle


def test_registry_contract():
    """The registry table is the only registry: exactly 50 declared
    queries (the correctness check verdicts the first 50), no name twice (a
    duplicate would silently collapse in the dict views), a non-empty
    oracle on every row, and every module-level ``q_*`` function
    registered under its own name."""
    names = [entrymod._name(fn) for fn, _ in entrymod._REGISTRY]
    assert len(entrymod.queries()) == 50
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"registered twice: {dupes}"
    empty = [n for n, (_, sql) in zip(names, entrymod._REGISTRY)
             if not isinstance(sql, str) or not sql.strip()]
    assert not empty, f"empty oracle: {empty}"
    defined = {
        k.removeprefix("q_"): v for k, v in vars(entrymod).items()
        if k.startswith("q_") and callable(v)
    }
    assert sorted(set(defined) - set(names)) == [], "q_* function not in the table"
    assert all(defined.get(n) is fn for n, (fn, _) in zip(names, entrymod._REGISTRY))


@pytest.mark.parametrize("name", sorted(entrymod.extra_queries()))
def test_extra_query_matches_oracle(spark, duck, sf_dir, name):
    sdf = entrymod.extra_queries()[name](spark, sf_dir)
    assert_matches_oracle(sdf, duck, entrymod.extra_oracle_sql()[name])


def test_parity_rows_stay_oracle_checked():
    """Window-rotation invariant: every query name cited in PARITY.md's
    Query column must still resolve in queries() or extra_queries()
    (every registered query carries an oracle; see
    test_registry_contract). A window rotation that drops an
    operator's query fails here."""
    import re
    from pathlib import Path

    all_names = set(entrymod.queries()) | set(entrymod.extra_queries())

    text = Path(__file__).resolve().parent.parent.joinpath("PARITY.md").read_text()
    problems = []
    cited = set()
    in_query_table = False
    for line in text.splitlines():
        if not line.startswith("|"):
            in_query_table = False
            continue
        if line.startswith("|---"):
            continue
        cells = [c.strip() for c in line.strip("|").split("|")]
        if len(cells) < 2:
            continue
        if cells[-1] == "Query":  # header row
            in_query_table = True
            continue
        if not in_query_table:
            continue
        qcell = cells[-1]
        if qcell in ("—", ""):
            continue
        for name in re.findall(r"`([a-z0-9_]+)`", qcell):
            cited.add(name)
            if name not in all_names:
                problems.append(f"{name}: cited in PARITY.md but in neither tier")
    assert len(cited) > 50, "PARITY.md Query column parse found too few names"
    assert not problems, "\n".join(problems)
