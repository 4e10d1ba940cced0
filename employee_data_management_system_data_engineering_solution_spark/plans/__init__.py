"""Named query registry — the driver contract surface.

``REGISTRY`` maps each query name to a spec holding ``fn(spark,
sf_dir) -> DataFrame`` and ``oracle_sql``, its DuckDB twin (``None``
for the rows-only queries whose output no SQL engine can reproduce).
Entries appear in import order of the plan modules below. Computed
columns carry the same alias on both sides, DATE columns are cast to
strings, and computed doubles are rounded identically in both engines.
"""

from __future__ import annotations

from . import core, curation, llm, pipeline, temporal  # noqa: F401  (import populates REGISTRY)
from .registry import REGISTRY, register

__all__ = ["REGISTRY", "register"]
