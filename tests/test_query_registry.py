"""The query/oracle registry, pinned without a Spark session: every
registered query keeps its DuckDB oracle, so a change cannot drop a query
or an oracle without this test saying so."""

import __spark_entry__ as m

# data-dependent result checked by row count only (see queries())
ROWS_ONLY = {"bpe_merges"}


def test_registry_has_57_queries_each_with_an_oracle():
    queries = m.queries()
    assert len(queries) == 57
    assert set(queries) == set(m.oracle_sql()) | ROWS_ONLY
