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

# Import for registration side effects — each module registers its queries.
from mysql2pg_spark.plans import relational  # noqa: E402,F401

_ALL_PLAN_MODULES = ["relational"]

for _mod in (
    "functions_demo",
    "dedup",
    "similarity",
    "textops",
    "timeseries",
    "multimodal",
    "stored_demo",
    "scale_demo",
    "merge_demo",
    "valuefix_demo",
    "validation",
    "schema_demo",
    "dialect_demo",
    "merged",  # must import last: composes the other modules' registrations
):
    try:
        __import__(f"mysql2pg_spark.plans.{_mod}")
        _ALL_PLAN_MODULES.append(_mod)
    except ImportError:
        pass  # module not built yet (incremental rounds)


__all__ = [
    "QUERIES", "ORACLES", "DRIVER_QUERIES", "DRIVER_ORACLES", "query",
]
