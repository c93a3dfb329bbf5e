"""Aggregates every query family into the driver-facing registry.

Queries and their DuckDB oracle twins come in insertion order:
relational, then training-data, then streaming. Every query is
oracle-checked at sf0.001 in CI (test_oracle_parity).
"""

from __future__ import annotations

from cardano_spark.plans.oracles import RELATIONAL_ORACLES
from cardano_spark.plans.queries import RELATIONAL_QUERIES, QueryFn
from cardano_spark.plans.streamingq import (
    STREAMING_ORACLES,
    STREAMING_QUERIES,
)
from cardano_spark.plans.trainingdata import (
    TRAININGDATA_ORACLES,
    TRAININGDATA_QUERIES,
)


def all_queries() -> dict[str, QueryFn]:
    return {**RELATIONAL_QUERIES, **TRAININGDATA_QUERIES, **STREAMING_QUERIES}


def all_oracles() -> dict[str, str]:
    """Oracles in query order (each family's oracle table lists its
    entries in its own order)."""
    raw = {**RELATIONAL_ORACLES, **TRAININGDATA_ORACLES, **STREAMING_ORACLES}
    return {q: raw[q] for q in all_queries() if q in raw}
