"""Engine errors — names mirror the reference's error surface
(/root/reference/deker_server_adapters/errors.py) so a user porting
from the Deker server adapters meets the same exception vocabulary.
"""

from __future__ import annotations


class DekerSparkError(Exception):
    """Base engine error."""


class DekerCollectionAlreadyExistsError(DekerSparkError):
    pass


class DekerCollectionNotExistsError(DekerSparkError):
    pass


class DekerArrayNotExistsError(DekerSparkError):
    pass


class DekerValidationError(DekerSparkError):
    pass


class DekerSubsetError(DekerSparkError):
    pass


class DekerSessionRequiredError(DekerSparkError):
    """An op that runs Spark was called on a ``Warehouse`` built with no
    SparkSession."""


class DekerDataPointsLimitError(DekerSparkError):
    """Requested subset exceeds the configured data-points budget
    (parity with the reference's 413 CONTENT_TOO_LARGE handling,
    httpx_client.py:55-60)."""

    def __init__(self, message: str, limit: int | None = None, requested: int | None = None):
        super().__init__(message)
        self.message = message
        self.limit = limit
        self.requested = requested


class HashRingError(DekerSparkError):
    pass


class HealthcheckError(DekerSparkError):
    """Every node failed the ping / every fallback failed the request
    (reference errors.py:85 HealthcheckError + cluster_config.py:92-97
    'Healthcheck failed. Deker client will be closed.')."""


class FilteringByIdInClusterIsForbidden(DekerSparkError):
    """Parity with base.py:402-408: id-hash and primary-attribute-hash
    differ, so id lookups are refused when primary attributes exist."""
