"""Incremental view maintenance (IVM) for JOIN views.

The aggregate side of IVM is a monoid merge per delta
(``ivm_count_distinct_view`` and its stream twin
``stream_cdc_count_distinct`` sum multiplicities over base ∪ delta
log); this is the JOIN side: a
materialized view V = A ⋈ B is maintained under inserts with the
bilinear delta rule

    Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

so refreshing V costs joins whose left or right side is a DELTA —
O(|Δ|·matches) work per refresh instead of re-joining the full bases.
At 100 TB both bases are bucketed on the join key
(``operators/bucketing``) and each delta term is a co-located or
broadcast join against one base; the view itself appends Δ via the
history sink. Deletes/updates extend the same algebra with counted
(multiset) rows — not needed for the append-only reference pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_view_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Rows ADDED to the inner-join view A ⋈ B when ΔA and ΔB arrive.

    Exactness is algebraic: (A_old ∪ ΔA) ⋈ (B_old ∪ ΔB) distributes
    into four terms, of which A_old ⋈ B_old is already materialized —
    the other three are the delta. The driver-gate query
    ``ivm_join_view`` proves old-view ∪ this-delta equals the direct
    full join against the DuckDB oracle."""
    keys = [on] if isinstance(on, str) else list(on)
    return (
        a_delta.join(b_old, keys)
        .unionByName(a_old.join(b_delta, keys))
        .unionByName(a_delta.join(b_delta, keys))
    )


def refresh_join_view(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """The maintained view after one refresh: previously materialized
    A_old ⋈ B_old plus the three delta terms."""
    keys = [on] if isinstance(on, str) else list(on)
    return a_old.join(b_old, keys).unionByName(
        join_view_delta(a_old, a_delta, b_old, b_delta, keys)
    )


def refresh_left_outer_view(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: str,
    b_key: str,
) -> DataFrame:
    """LEFT-OUTER join view maintained under inserts — the flip rule.

    Inner-join IVM is bilinear; the outer join adds one non-monotone
    wrinkle: a NULL-padded row of V_old = A_old ⟕ B_old must be
    RETRACTED when ΔB brings its key's first match. One refresh is

        V_new =   (V_old  minus  padded rows whose key ∈ keys(ΔB))
                ∪ (A_old ⋈ ΔB)          -- flipped matches + new extras
                ∪ (ΔA ⟕ (B_old ∪ ΔB))   -- new left rows see everything

    Padded rows are recognized by NULL in ``b_key`` (B's own key column,
    non-nullable in B itself); the retraction is a semi-join of the
    padded slice against ΔB's keys — |Δ|-sized, like every other term.
    Deletes would extend this with counted rows; the reference
    pipelines are append-only (`sf_html_data.py:178`)."""
    # carry b_key as _bk so padded rows stay detectable after the drop
    b_old_k = b_old.withColumn("_bk", F.col(b_key))
    b_delta_k = b_delta.withColumn("_bk", F.col(b_key))
    v_old = a_old.join(b_old_k, a_old[on] == b_old_k[b_key], "left").drop(b_key)
    flipped_keys = b_delta.select(F.col(b_key).alias(on)).distinct()
    kept = v_old.join(
        flipped_keys, (v_old[on] == flipped_keys[on]) & v_old["_bk"].isNull(),
        "left_anti",
    )
    flips = a_old.join(b_delta_k, a_old[on] == b_delta_k[b_key]).drop(b_key)
    b_all_k = b_old_k.unionByName(b_delta_k)
    news = a_delta.join(b_all_k, a_delta[on] == b_all_k[b_key], "left").drop(b_key)
    return kept.unionByName(flips).unionByName(news).drop("_bk")


def refresh_count_distinct_multiplicity(
    m_old: DataFrame,
    delta: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """COUNT(DISTINCT) view maintenance under inserts AND DELETES.

    A distinct count cannot be retracted from the count alone (removing
    one occurrence of a value only drops the count when it was the LAST
    occurrence), so the maintained state is the standard multiplicity
    relation M(group, value, mult). A delta carries dmult = +1 per
    inserted row and -1 per deleted row; the refresh is one grouped sum
    of the delta merged onto M by full-outer key join, keeping rows with
    mult > 0. The view itself is a row count per group over M — and a
    refresh touches only the delta's (group, value) keys, O(|delta|)
    shuffle regardless of base size. Over-deletes (mult < 0) mean the
    delta retracted rows the base never had; they are surfaced, not
    silently clamped."""
    d = delta.groupBy(group_col, value_col).agg(F.sum("dmult").alias("_dm"))
    merged = (
        m_old.join(d, [group_col, value_col], "full_outer")
        .select(
            group_col,
            value_col,
            (
                F.coalesce(F.col("mult"), F.lit(0))
                + F.coalesce(F.col("_dm"), F.lit(0))
            ).alias("mult"),
        )
    )
    return merged.filter(F.col("mult") > 0)


def count_distinct_view(m: DataFrame, group_col: str) -> DataFrame:
    """The COUNT(DISTINCT value) view over a multiplicity relation:
    one row per (group, value) with mult > 0, so distinct = row count."""
    return m.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_distinct"))
