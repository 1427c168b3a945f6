"""Workload registry."""

from __future__ import annotations

from analytics import Analytics
from dashboard import Dashboard
from ingest import Ingest

ALL = {w.name: w for w in (Dashboard, Analytics, Ingest)}


def import_layers() -> None:
    """Import every engine module a traced run wraps, so the patch sweep
    sees all of them (query modules hold operators under their own names)."""
    import importlib

    from nyc_analytics_database_platform_spark import registry

    registry.all_specs()
    for m in ("nyc.api", "sources.csv_etl", "operators.txnlog", "verify",
              "layouts", "catalog", "session"):
        importlib.import_module(f"nyc_analytics_database_platform_spark.{m}")
