"""Data sources: the QBO-style paginated REST scan (``read_qbo``,
planned on the driver) and helpers."""

from qb_data_pipeline_backfill_spark.sources.rest import (
    OAuth2TokenClient,
    read_qbo,
    resolve_base_url,
)

__all__ = ["OAuth2TokenClient", "read_qbo", "resolve_base_url"]
