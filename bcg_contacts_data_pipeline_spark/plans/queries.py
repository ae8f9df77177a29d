"""Query registry facade: importing this module registers every query.

The registry (``QUERIES``, ``ORACLE``, ``register``) and the helpers
shared across families live in ``plans.registry``; the queries live in
six family modules, ``plans/q_*.py``, imported here for their
registrations.
"""

from bcg_contacts_data_pipeline_spark.plans import (  # noqa: F401
    q_audit,
    q_contacts,
    q_curation,
    q_similarity,
    q_temporal,
    q_tpch,
)
from bcg_contacts_data_pipeline_spark.plans.registry import (
    ORACLE,
    QUERIES,
    register,
)

__all__ = ["ORACLE", "QUERIES", "register"]
