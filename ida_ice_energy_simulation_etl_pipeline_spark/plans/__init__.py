"""Analytical query plans + the driver-contract registry.

``registry.QUERIES`` maps query name → QuerySpec (PySpark builder +
equivalent DuckDB oracle SQL).  Every operator family from SURVEY.md §2 has
at least one entry here, expressed over the driver's TPC-H-ish fixture
tables.
"""

from .core import QuerySpec, load_table

__all__ = [
    "QuerySpec",
    "QUERIES",
    "EXTRA_QUERIES",
    "ALL_QUERIES",
    "load_table",
]


def __getattr__(name: str):
    # Lazy: registry imports the operator modules, which import plans.core —
    # eager re-export here would make that a circular import for any direct
    # `operators.*` import.
    if name in ("QUERIES", "EXTRA_QUERIES", "ALL_QUERIES"):
        from . import registry

        return getattr(registry, name)
    raise AttributeError(name)
