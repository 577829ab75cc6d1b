"""Skew mitigation (SURVEY.md §4 / the 100 TB checklist).

AQE's skew-join splitting handles most cases at runtime
(`spark.sql.adaptive.skewJoin.enabled`, on in ``session.get_spark``);
these are the MANUAL patterns for when a single group/join key is hot
enough that even one post-split partition won't fit an executor:

- ``salted_agg``: two-phase aggregation. Phase 1 groups on
  (key, salt) — the hot key fans out over ``n_salt`` reducers — phase 2
  merges the partials per key. Works for any decomposable aggregate
  (count/sum/min/max); result is EXACTLY the plain groupBy.

Salts are derived from a hash of stable columns (never ``rand()``) so
task retries and the DuckDB oracle are deterministic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def salt_col(cols: Sequence[str], n_salt: int) -> Column:
    """Deterministic salt in [0, n_salt) from stable columns."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salt))


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    salt_from: Sequence[str],
    n_salt: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output name → (input column, fn) with fn in
    {count,sum,min,max}. Phase-1 partials per (key, salt), phase-2 merge
    per key: count→sum of partial counts, sum→sum, min→min, max→max.
    """
    merge_fn = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    salted = df.withColumn("_salt", salt_col(salt_from, n_salt))
    phase1 = salted.groupBy(key, "_salt").agg(
        *[
            getattr(F, fn)(F.lit(1) if fn == "count" else col).alias(f"_p_{out}")
            for out, (col, fn) in aggs.items()
        ]
    )
    return phase1.groupBy(key).agg(
        *[
            getattr(F, merge_fn[fn])(f"_p_{out}").alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )
