"""The DECLARED registry (``__spark_entry__.queries()``) checked
against its DuckDB oracles in pytest, at sf0.001 — the same compare
``tests/test_extra_oracles.py`` applies to the retired tier.

The driver verifies these at sf0.01 per round, but only per round:
without this module a refactor could break a declared query and
pytest would stay green until the next external check.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_declared_query_matches_oracle(spark, duck, sf_dir, name):
    sdf = entrymod.queries()[name](spark, sf_dir)
    assert_matches_oracle(sdf, duck, entrymod.oracle_sql()[name])
