"""Alert sink (SURVEY.md §2.2 K4 / §2.13 Q1-Q2).

The reference POSTs a Teams MessageCard on data-quality failure
(`send_teams`, `sf_html_data.py:28-49`). The engine models this as a
driver-side callback fired after a cheap existence aggregate; the
webhook transport is a stub (no network in this environment) behind the
same interface.
"""

from __future__ import annotations

import abc
import logging

logger = logging.getLogger("ug_dwh_etl_spark.alerts")


class AlertSink(abc.ABC):
    @abc.abstractmethod
    def send(self, title: str, message: str) -> None: ...


class LoggingAlertSink(AlertSink):
    """Offline stand-in for the Teams webhook; records alerts so tests
    can assert DQ gates fire."""

    def __init__(self) -> None:
        self.alerts: list[tuple[str, str]] = []

    def send(self, title: str, message: str) -> None:
        self.alerts.append((title, message))
        logger.warning("ALERT %s: %s", title, message)
