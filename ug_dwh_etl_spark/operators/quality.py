"""Data-quality gate (SURVEY.md §2.13 Q1-Q2).

Reference shape: "root URL must be status 200 else Teams alert + abort"
(`sf_html_data.py:95-105`). The check is an existence aggregate —
``limit(1)`` keeps it cheap: Spark stops scanning at the first violating
row instead of counting all of them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from ug_dwh_etl_spark.sinks.alerts import AlertSink


def expect(
    df: DataFrame,
    violation: Column,
    title: str,
    message: str,
    alert: AlertSink | None = None,
    fail: bool = False,
) -> bool:
    """True if the gate PASSES (no row matches ``violation``)."""
    violated = df.filter(violation).limit(1).count() > 0
    if violated:
        if alert is not None:
            alert.send(title, message)
        if fail:
            raise AssertionError(f"DQ gate failed: {title}: {message}")
    return not violated


def contract_check(df: DataFrame, rules: list[tuple[str, Column]]) -> DataFrame:
    """Declarative data-contract validation: ``rules`` is a list of
    (constraint_name, boolean aggregate Column); the result has one row
    per constraint with its pass flag — the whole contract costs ONE
    partial-aggregated pass over the table regardless of rule count
    (every rule is an aggregate expression in the same agg, then the
    1-row result unpivots). Compose with ``expect``/Gate to make a
    failing contract block the pipeline, or sink the rows to the run
    log for drift tracking."""
    import pyspark.sql.functions as F

    agg = df.agg(*[c.alias(f"_r{i}") for i, (_, c) in enumerate(rules)])
    pairs = ", ".join(
        f"'{name}', cast(_r{i} AS string)" for i, (name, _) in enumerate(rules)
    )
    return agg.selectExpr(
        f"stack({len(rules)}, {pairs}) AS (constraint_name, passed)"
    ).select(
        "constraint_name", (F.col("passed") == "true").alias("passed")
    )
