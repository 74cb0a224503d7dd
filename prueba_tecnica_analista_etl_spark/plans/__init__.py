"""Declared query plans (SURVEY.md §2.11) — the engine's contract.

Importing this package imports every plan module; each ``@query``
registers itself on the shared ``REGISTRY``, whose order is
registration order (``plans.queries`` first, then the extension
modules in the order imported below). Every oracle-backed query is
value-checked against DuckDB by ``tests/test_oracle_parity.py``.
"""

from prueba_tecnica_analista_etl_spark.plans.queries import (
    REGISTRY,
    QuerySpec,
    oracle_sql,
    queries,
)

# Importing extension modules registers their queries (decorator
# side-effect on the shared REGISTRY).
from prueba_tecnica_analista_etl_spark.plans import extensions_text  # noqa: E402,F401
from prueba_tecnica_analista_etl_spark.plans import extensions_pipeline  # noqa: E402,F401
from prueba_tecnica_analista_etl_spark.plans import extensions_scale  # noqa: E402,F401
from prueba_tecnica_analista_etl_spark.plans import extensions_distributed  # noqa: E402,F401

__all__ = ["REGISTRY", "QuerySpec", "queries", "oracle_sql"]
