"""Driver-contract registry invariants (import-level, no Spark session):
every query keeps its oracle, and ``__spark_entry__`` exposes the registry
in registration order."""

from knowledge_extraction_pipeline_spark.queries import ORACLE, QUERIES


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLE)
    assert len(QUERIES) >= 215


def test_spark_entry_contract_surface():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert list(qs) == list(QUERIES)
    assert set(os_) == set(ORACLE)
    assert callable(e.entry)
    # every oracle is non-empty SQL text
    assert all(isinstance(s, str) and s.strip() for s in os_.values())
