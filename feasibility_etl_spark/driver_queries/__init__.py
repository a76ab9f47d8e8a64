"""Driver contract queries, split by family.

``registry.REGISTRY`` maps every op id to its query function and its
DuckDB oracle SQL (``None`` for a rows-only op). The rest is derived from
it: ``QUERIES``/``ORACLES`` are the driver's 50-entry window, a declared
selection of registry ids (``DRIVER_WINDOW``); ``ALL_QUERIES``/
``ALL_ORACLES`` cover every id. Hash-match rules live in ``_shared``; each
family module is self-contained SQL+Spark.
"""

from ._shared import QueryFn  # noqa: F401
from .registry import ALL_ORACLES, ALL_QUERIES, DRIVER_WINDOW, ENGINE_DISK_BOUNDS, ORACLE_COMPUTE_BOUNDS, ORACLE_REGIMES, ORACLES, QUERIES, REGISTRY  # noqa: F401
