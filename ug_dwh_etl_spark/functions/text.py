"""String / regex / conditional macros (SURVEY.md §2.10 C2-C4, C8).

All native Column expressions — the reference does each of these as a
row-at-a-time pandas lambda.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
import pyspark.sql.functions as F

def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def rlike_any(col: Column | str, patterns: Sequence[str], case_insensitive: bool = True) -> Column:
    """C2 — boolean: does the string match any of the regexes."""
    pat = "|".join(f"(?:{p})" for p in patterns)
    if case_insensitive:
        pat = "(?i)" + pat
    return _c(col).rlike(pat)


def bool_label(cond: Column, if_true: str, if_false: str) -> Column:
    """C3 — the reference's ``.map({True: 'Picture', False: 'HTML'})``."""
    return F.when(cond, F.lit(if_true)).otherwise(F.lit(if_false))


def regex_case(col: Column | str, cases: Sequence[tuple[str, str]], default: str) -> Column:
    """C4 — N-way regex CASE (Internal / Whitelabel / External shape,
    `sf_html_data.py:152`, `sf_inlink_bulk_data.py:91-92`)."""
    col = _c(col)
    expr: Column | None = None
    for pattern, label in cases:
        clause = F.when(col.rlike(pattern), F.lit(label))
        expr = clause if expr is None else expr.when(col.rlike(pattern), F.lit(label))
    assert expr is not None
    return expr.otherwise(F.lit(default))


def concat_ws_skipnull(sep: str, cols: Sequence[Column | str]) -> Column:
    """C8 — delimiter-joined values skipping NULLs
    (`concatenate_agents`, `sf_html_data.py:120-124`). ``concat_ws``
    skips NULL arguments natively."""
    return F.concat_ws(sep, *[_c(c).cast("string") for c in cols])
