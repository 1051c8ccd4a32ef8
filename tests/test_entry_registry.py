"""Driver-contract registry: every gate entry has both halves.

queries() and oracle_sql() are keyed by the same entry names; an entry
deleted from one side only would leave the gate comparing nothing.
Builds neither a Spark session nor a DuckDB connection.
"""

import __spark_entry__ as E


def test_queries_and_oracles_share_keys():
    assert set(E.queries()) == set(E.oracle_sql())
