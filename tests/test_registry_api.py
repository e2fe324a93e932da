"""The driver contract lists queries in registry order: ``entry``'s
``queries()`` and ``oracle_sql()`` name every registry query once, in
the order the registry declares them."""

from __future__ import annotations

from stock_data_pipeline_spark.queries import REGISTRY, oracle_sql, queries


def test_queries_and_oracles_follow_registry_order():
    names = list(REGISTRY)
    assert list(queries()) == names
    assert list(oracle_sql()) == [n for n in names if REGISTRY[n].oracle]
