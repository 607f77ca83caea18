"""Query registry — the engine's externally-visible query surface.

Every operator family from SURVEY.md §2 is demonstrated by at least one
registered query; ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
re-exports of this registry.
"""

from mysql2pg_spark.plans.registry import (
    DRIVER_ORACLES,
    DRIVER_QUERIES,
    ORACLES,
    QUERIES,
    query,
)

# Imported for their registration side effects: each module registers its
# queries. A module that fails to import fails the registry import.
from mysql2pg_spark.plans import (  # noqa: E402,F401
    relational,
    functions_demo,
    dedup,
    similarity,
    textops,
    timeseries,
    multimodal,
    stored_demo,
    scale_demo,
    merge_demo,
    valuefix_demo,
    validation,
    schema_demo,
    dialect_demo,
)
# merged composes the other modules' registrations, so it imports last
from mysql2pg_spark.plans import merged  # noqa: E402,F401


__all__ = [
    "QUERIES", "ORACLES", "DRIVER_QUERIES", "DRIVER_ORACLES", "query",
]
