"""Driver-contract query registry: every domain module, imported once.

The tables and decorators live in :mod:`.catalog`; each ``registry_*``
module registers its queries, oracles and artifacts there as an import
side effect.  Importing this module imports them all, in dependency order
(every module after the domain modules it imports from), and re-exports
the catalog names the driver, ``bench.py``, ``tools/`` and the tests use.
"""

from __future__ import annotations

from .catalog import (  # noqa: F401
    ARTIFACTS,
    ORACLES,
    ORDERED_QUERIES,
    QUERIES,
    artifact,
    build_artifacts,
    checksum_consume,
    checksum_frame,
)
from . import (  # noqa: F401
    registry_search,
    registry_relational,
    registry_analytics,
    registry_dedup,
    registry_text,
    registry_ml,
    registry_extensions,
    registry_suffix,
    registry_stats,
    registry_forecast,
    registry_mlfit,
    registry_graph,
    registry_features,
)
