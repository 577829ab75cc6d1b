"""Date / timestamp macros (SURVEY.md §2.10 C5, C9, C11)."""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_day(col: Column | str) -> Column:
    """C5 — truncate a timestamp to its calendar date
    (`sf_html_data.py:143-144` re-formats to '%Y-%m-%d')."""
    return F.to_date(_c(col))


def stamp_date() -> Column:
    """C9 — the daily snapshot stamp column (`crawl_date`),
    `sf_inlink_bulk_data.py:90`, `Audisto/audisto.py:159`."""
    return F.current_date()


def days_between(end: Column | str, start: Column | str) -> Column:
    """C11 — whole-day difference, the reference's booking lead-time
    ``(reisebeginn - anlagedatum).dt.days`` (`Midoco/product_data.py:66`)."""
    return F.datediff(to_day(end), to_day(start))
