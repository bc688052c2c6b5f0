"""Every registry query keeps a DuckDB oracle (tools/check_oracles.py gates
them all against it)."""

from __future__ import annotations

import __spark_entry__ as entry


def test_every_query_has_an_oracle():
    queries = entry.queries()
    oracles = entry.oracle_sql()
    assert set(queries) == set(oracles)
