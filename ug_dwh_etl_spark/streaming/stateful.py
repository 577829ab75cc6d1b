"""Custom stateful streaming operator (SURVEY.md §2.11 →
``applyInPandasWithState``).

The built-in streaming aggregates cover windows/dedup; this is the
escape hatch for operator state Spark doesn't ship — per-key running
totals here as the canonical shape (the same skeleton carries fraud
scoring, CDC merge, per-entity ML feature state, ...).

State model: one (count, total) pair per user_id in the state store,
updated per micro-batch from Arrow-batched pandas frames; emits the
cumulative row per active user per batch. Downstream takes max(cum) per
user, which is batch-split-invariant — so the AvailableNow run equals
the batch groupBy no matter how the file source chops micro-batches.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ug_dwh_etl_spark.session import conf_scope
from ug_dwh_etl_spark.streaming.jobs import read_events_stream, run_stream_to_memory

# state keeps the value total as integer CENTS, not a double: the state
# is folded over micro-batches in arrival order, and float addition is
# order-dependent — integer cents make the running total exact and
# batch-split-invariant (same parity rule as the DECIMAL sums batch-side;
# fixture contract: event values carry exactly 2 decimals).
STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total_cents", LongType())]
)
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events_cum", LongType()),
        StructField("total_value_cum", DoubleType()),
    ]
)


def _update_user_totals(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, cents = state.get if state.exists else (0, 0)
    for batch in batches:
        n += len(batch)
        cents += int(batch["value"].mul(100).round().sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events_cum": [n], "total_value_cum": [cents / 100.0]}
    )


def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (count, sum) per user via the custom state op; the final
    max-per-user equals the batch aggregate exactly."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update")
    return out.groupBy("user_id").agg(
        F.max("n_events_cum").alias("n_events"),
        F.round(F.max("total_value_cum"), 2).alias("total_value"),
    )


# --- transformWithStateInPandas (the Spark 4 successor API) --------------------
#
# Same per-user running-totals state as _update_user_totals, on the
# next-generation stateful API: typed state handles (value/list/map
# state), timers, and TTL support — the applyInPandasWithState skeleton
# above carries over operator-for-operator.
#
# RUNTIME: Spark's TWS driver worker and executor workers need
# google.protobuf. With no pip install in this container,
# ug_dwh_etl_spark.compat.ensure_protobuf (called by get_spark before
# the JVM starts) exposes the google-cloud-sdk's bundled pure-python
# protobuf runtime on PYTHONPATH, and _pbshim/sitecustomize.py applies
# the same shim inside every worker interpreter — so this path runs and
# is oracle-checked (query key: stream_user_totals_tws). On a normal
# Spark 4 deployment with pip protobuf the shim is a no-op.

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)


class UserTotalsProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        n, cents = self._totals.get() if self._totals.exists() else (0, 0)
        for batch in rows:
            n += len(batch)
            cents += int(batch["value"].mul(100).round().sum())
        self._totals.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events_cum": [n], "total_value_cum": [cents / 100.0]}
        )

    def close(self) -> None:
        pass


def stream_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``transformWithStateInPandas`` twin of
    ``stream_user_running_totals`` — identical state model and the same
    batch-split-invariant max-per-user reduction, so it shares the batch
    oracle."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    out = _with_rocksdb(spark, lambda: run_stream_to_memory(updated, "update"))
    return out.groupBy("user_id").agg(
        F.max("n_events_cum").alias("n_events"),
        F.round(F.max("total_value_cum"), 2).alias("total_value"),
    )


# --- transformWithStateInPandas MAP STATE: per-user event-type counters --------
#
# The second TWS surface: MapState (a keyed sub-store inside each
# grouping key's state) — the shape per-entity feature maps, per-device
# metric registries, and CDC column-level merge state all take. The
# ValueState query above proves the scalar path; this one proves the
# map path: containsKey / getValue / updateValue / iterator against a
# per-user {event_type: count} map, emitting the distinct-type count
# and cumulative event count (both monotone, so max-per-user is
# batch-split-invariant and the batch GROUP BY is the exact oracle).

TYPES_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_types_cum", LongType()),
        StructField("n_events_cum", LongType()),
    ]
)
_TYPE_KEY_SCHEMA = StructType([StructField("event_type", StringType())])
_TYPE_VAL_SCHEMA = StructType([StructField("c", LongType())])


class UserTypeCountsProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState(
            "type_counts", _TYPE_KEY_SCHEMA, _TYPE_VAL_SCHEMA
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        for batch in rows:
            for etype, c in batch["event_type"].value_counts().items():
                prev = (
                    self._counts.getValue((etype,))[0]
                    if self._counts.containsKey((etype,))
                    else 0
                )
                self._counts.updateValue((etype,), (prev + int(c),))
        n_types, n_events = 0, 0
        for _k, (c,) in self._counts.iterator():
            n_types += 1
            n_events += c
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_types_cum": [n_types],
                "n_events_cum": [n_events],
            }
        )

    def close(self) -> None:
        pass


def stream_user_type_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user distinct-event-type and event counts on
    ``transformWithStateInPandas`` MapState (RocksDB-backed, same
    provider scoping as the ValueState twin)."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "event_type")
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTypeCountsProcessor(),
        outputStructType=TYPES_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    out = _with_rocksdb(spark, lambda: run_stream_to_memory(updated, "update"))
    return out.groupBy("user_id").agg(
        F.max("n_types_cum").alias("n_types"),
        F.max("n_events_cum").alias("n_events"),
    )


# applyInPandasWithState twin of the map-state processor (the fallback
# for sessions without the protobuf shim, and the cross-API equivalence
# witness): the map lives as two parallel arrays in the state row —
# the old API has no keyed sub-store, which is exactly the ergonomic
# gap MapState closes.
TYPES_STATE_SCHEMA = StructType(
    [
        StructField("types", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def _update_user_type_counts(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    types, counts = state.get if state.exists else ([], [])
    m = dict(zip(types, counts))
    for batch in batches:
        for etype, c in batch["event_type"].value_counts().items():
            m[etype] = m.get(etype, 0) + int(c)
    state.update((list(m.keys()), list(m.values())))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_types_cum": [len(m)],
            "n_events_cum": [sum(m.values())],
        }
    )


def stream_user_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState twin of stream_user_type_counts_tws —
    same state model, same oracle."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "event_type")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_type_counts,
        outputStructType=TYPES_OUTPUT_SCHEMA,
        stateStructType=TYPES_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update")
    return out.groupBy("user_id").agg(
        F.max("n_types_cum").alias("n_types"),
        F.max("n_events_cum").alias("n_events"),
    )


# --- transformWithStateInPandas LIST STATE: per-user exact running median ------
#
# The third TWS surface, completing the typed-state trio: ListState —
# the shape for order-insensitive aggregates that genuinely need the
# full value history (exact quantiles, Mann-Whitney rank state,
# reservoir audits), where ValueState can't hold the data and MapState
# keys mean nothing. Values accumulate as integer cents (appendList per
# batch); each emit reports the DISCRETE median over everything seen —
# sorted[(n-1)//2], which is DuckDB's quantile_disc(0.5) indexing — and
# the row with the largest n per user (n is monotone) is the
# complete-data answer, so the batch GROUP BY + quantile_disc oracle is
# exact regardless of micro-batch chopping.

MEDIAN_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_cum", LongType()),
        StructField("median_cents", LongType()),
    ]
)
_CENTS_SCHEMA = StructType([StructField("cents", LongType())])


class UserMedianProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._vals = handle.getListState("cents", _CENTS_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        for batch in rows:
            cents = batch["value"].mul(100).round().astype("int64")
            self._vals.appendList([(int(c),) for c in cents])
        all_cents = sorted(c for (c,) in self._vals.get())
        n = len(all_cents)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_cum": [n],
                "median_cents": [all_cents[(n - 1) // 2]],
            }
        )

    def close(self) -> None:
        pass


def stream_user_median_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user discrete median on ``transformWithStateInPandas``
    ListState (RocksDB-backed, same provider scoping as the other TWS
    twins); the final answer is the max-n emitted row per user."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserMedianProcessor(),
        outputStructType=MEDIAN_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    out = _with_rocksdb(spark, lambda: run_stream_to_memory(updated, "update"))
    # the complete-data row per user = the one with the largest n_cum
    # (monotone); min-of-struct argmax, no window
    return (
        out.groupBy("user_id")
        .agg(
            F.max(F.struct(F.col("n_cum"), F.col("median_cents"))).alias("m")
        )
        .select(
            "user_id",
            F.col("m.n_cum").alias("n_events"),
            F.round(F.col("m.median_cents") / 100.0, 2).alias("median_value"),
        )
    )


# applyInPandasWithState twin (fallback for sessions without the
# protobuf shim): the value history lives as one array column in the
# state row — workable, but re-written wholesale every batch, which is
# exactly the append-amplification ListState's appendList avoids.
MEDIAN_STATE_SCHEMA = StructType(
    [StructField("cents", ArrayType(LongType()))]
)


def _update_user_median(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    (cents,) = state.get if state.exists else ([],)
    cents = list(cents)
    for batch in batches:
        cents.extend(int(c) for c in batch["value"].mul(100).round().astype("int64"))
    state.update((cents,))
    s = sorted(cents)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_cum": [len(s)],
            "median_cents": [s[(len(s) - 1) // 2]],
        }
    )


def stream_user_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState twin of stream_user_median_tws — same
    state model, same oracle."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_median,
        outputStructType=MEDIAN_OUTPUT_SCHEMA,
        stateStructType=MEDIAN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max(F.struct(F.col("n_cum"), F.col("median_cents"))).alias("m")
        )
        .select(
            "user_id",
            F.col("m.n_cum").alias("n_events"),
            F.round(F.col("m.median_cents") / 100.0, 2).alias("median_value"),
        )
    )


# --- stateful EWMA (order-sensitive state, the recursion the batch twin
# --- replaces with its closed form) -------------------------------------------

EWMA_ALPHA = 0.3
EWMA_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("ewma", DoubleType())]
)
EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
    ]
)


def _update_user_ewma(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, e = state.get if state.exists else (0, 0.0)
    for batch in batches:
        # fold in event-time order WITHIN the batch; across batches the
        # file source must deliver event-time-ordered splits (the
        # production contract for any order-sensitive stream state —
        # daily partitions ingested in date order satisfy it)
        for v in batch.sort_values(["ts", "event_id"])["value"]:
            e = v if n == 0 else EWMA_ALPHA * v + (1 - EWMA_ALPHA) * e
            n += 1
    state.update((n, float(e)))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "ewma": [float(e)]})


def stream_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running EWMA via ``applyInPandasWithState`` — the
    genuinely ORDER-SENSITIVE state shape (unlike running totals, the
    fold does not commute), which is exactly what the custom-state
    escape hatch exists for: no built-in streaming aggregate expresses
    the recursion e_j = a*x_j + (1-a)*e_{j-1}.

    The final per-user row (max n_events) must equal the batch twin's
    closed-form window computation (``events_user_ewma``) — same DuckDB
    oracle, so the streaming recursion and the algebraic re-expression
    check each other."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_ewma,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update")
    w_last = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("ewma", "n_events").alias("ewma_raw"),
    )
    return w_last.select(
        "user_id", "n_events", F.round("ewma_raw", 4).alias("ewma")
    )


# --- stateful sequential pattern match (CEP): view -> purchase <= 30 min ------
#
# The custom-state twin of the batch window rewrite
# (queries.events.events_pattern_view_to_purchase): per user, keep the
# PENDING (not yet matched, not yet expired) view timestamps; every
# purchase either converts each pending view (within the 30-minute
# horizon -> its first subsequent purchase, by in-order processing) or
# expires it (first subsequent purchase landed outside the horizon — it
# can never convert later). State is bounded by views-per-user within
# one horizon, the CEP analogue of a watermark bound.

_PATTERN_WINDOW_US = 30 * 60 * 1_000_000

PATTERN_STATE_SCHEMA = StructType(
    [
        StructField("n_views", LongType()),
        StructField("n_conv", LongType()),
        StructField("sum_us", LongType()),
        StructField("pending", ArrayType(LongType())),
        # per-key (ts, event_id) high-watermark: the order contract —
        # arrival order must follow the batch twin's (ts, event_id)
        # sort across micro-batches — is ENFORCED, not assumed; a
        # violating split fails the query with a diagnostic instead of
        # silently diverging from the batch oracle
        StructField("hwm_us", LongType()),
        StructField("hwm_eid", LongType()),
    ]
)
PATTERN_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_views", LongType()),
        StructField("n_converted", LongType()),
        StructField("sum_us", LongType()),
    ]
)


def _update_pattern(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n_v, n_c, s_us, pending, hwm_us, hwm_eid = state.get
        pending = list(pending)
    else:
        n_v, n_c, s_us, pending, hwm_us, hwm_eid = 0, 0, 0, [], -1, -1
    for batch in batches:
        b = batch.sort_values(["ts", "event_id"])
        for et, us, eid in zip(b["event_type"], b["us"], b["event_id"]):
            us, eid = int(us), int(eid)
            if (us, eid) <= (hwm_us, hwm_eid):
                raise ValueError(
                    f"stream_pattern_conversions order contract violated for "
                    f"user {user_id}: event (ts_us={us}, event_id={eid}) arrived "
                    f"after (ts_us={hwm_us}, event_id={hwm_eid}) was already "
                    f"processed — micro-batch splits must respect (ts, event_id) "
                    f"order (date-partitioned ingest does)"
                )
            hwm_us, hwm_eid = us, eid
            if et == "view":
                n_v += 1
                pending.append(us)
            elif et == "purchase" and pending:
                for v in pending:
                    d = us - v
                    if d <= _PATTERN_WINDOW_US:
                        n_c += 1
                        s_us += d
                pending = []  # converted or expired — either way resolved
    state.update((n_v, n_c, s_us, pending, hwm_us, hwm_eid))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_views": [n_v],
            "n_converted": [n_c],
            "sum_us": [s_us],
        }
    )


def stream_pattern_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP twin of ``events_pattern_view_to_purchase`` — same
    DuckDB oracle, so the stateful matcher and the batch forward-looking
    window check each other. Same order contract as stream_user_ewma:
    event-time order within a batch is enforced by the sort; across
    batches the splits must respect (ts, event_id) order
    (date-partitioned ingest satisfies this). The contract is ENFORCED:
    state carries a per-key (ts, event_id) high-watermark and a
    violating split raises with a diagnostic rather than silently
    diverging from the batch twin's tiebreak."""
    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _update_pattern,
        outputStructType=PATTERN_OUTPUT_SCHEMA,
        stateStructType=PATTERN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update")
    # all three counters are monotone non-decreasing across update
    # rows, so plain max is the final state — max_by keyed on n_views
    # would tie (same n_views, different counters) when a batch adds
    # only purchases, and Spark resolves max_by ties arbitrarily
    last = out.groupBy("user_id").agg(
        F.max("n_views").alias("n_views"),
        F.max("n_converted").alias("n_converted"),
        F.max("sum_us").alias("sum_us"),
    )
    return last.filter(F.col("n_views") > 0).select(
        "user_id",
        "n_views",
        "n_converted",
        F.round(
            F.when(
                F.col("n_converted") > 0,
                (F.col("sum_us") / F.col("n_converted")) / 1000000.0,
            ),
            3,
        ).alias("avg_latency_s"),
    )


# --- ORDER-TOLERANT CEP: buffer-and-watermark variant -------------------------
#
# stream_pattern_conversions enforces (ts, event_id) arrival order and
# ERRORS on a violating split — correct but brittle (round-5 ADVICE).
# This twin buffers events per key and folds them only once they drop
# below a per-key event-time watermark (max event time seen minus an
# allowed-lateness budget), so any reordering within the budget yields
# the identical result; an arrival older than the already-folded horizon
# still fails loudly (it exceeded the declared budget). Emissions carry
# the PROVISIONAL totals — resolved prefix plus a replay of the sorted
# buffer — so the last emission per key always reflects every event,
# and the final answer matches the batch oracle. State per key is the
# resolved aggregate + the events inside one lateness window (bounded),
# the CEP analogue of a stream-stream join's watermark-bounded state.

PATTERN_OOO_STATE_SCHEMA = StructType(
    [
        StructField("n_views", LongType()),
        StructField("n_conv", LongType()),
        StructField("sum_us", LongType()),
        StructField("pending", ArrayType(LongType())),
        StructField("resolved_us", LongType()),  # folded horizon (≤ this = final)
        StructField("max_us", LongType()),
        StructField("n_seen", LongType()),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_eid", ArrayType(LongType())),
        StructField("buf_view", ArrayType(LongType())),
    ]
)
PATTERN_OOO_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_views", LongType()),
        StructField("n_converted", LongType()),
        StructField("sum_us", LongType()),
        # strictly-increasing per-key emission stamp: provisional sum_us
        # is NOT monotone (a late-but-in-budget purchase can re-match a
        # view earlier), so the reader takes max_by(n_seen), never max
        StructField("n_seen", LongType()),
    ]
)


def _fold_pattern(events, n_v: int, n_c: int, s_us: int, pending: list):
    """Fold (us, eid, isview) tuples — MUST be pre-sorted — through the
    view→purchase matcher: a view goes pending; a purchase converts
    every pending view inside the horizon and resolves (clears) all of
    them either way. Shared by the resolved-prefix fold and the
    provisional buffer replay so the two cannot drift."""
    for us, _eid, isview in events:
        if isview:
            n_v += 1
            pending.append(us)
        elif pending:
            for v in pending:
                d = us - v
                if d <= _PATTERN_WINDOW_US:
                    n_c += 1
                    s_us += d
            pending = []
    return n_v, n_c, s_us, pending


def _make_update_pattern_ooo(lateness_us: int):
    """Builds the applyInPandasWithState update fn with the allowed
    lateness baked in (closure — cloudpickle ships it to workers)."""

    def update(
        key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            (
                n_v, n_c, s_us, pending, resolved_us, max_us, n_seen,
                buf_us, buf_eid, buf_view,
            ) = state.get
            pending = list(pending)
            buf = list(zip(buf_us, buf_eid, buf_view))
        else:
            n_v, n_c, s_us, pending = 0, 0, 0, []
            resolved_us, max_us, n_seen = -1, -1, 0
            buf = []
        for batch in batches:
            for et, us, eid in zip(batch["event_type"], batch["us"], batch["event_id"]):
                us, eid = int(us), int(eid)
                n_seen += 1
                if us <= resolved_us:
                    raise ValueError(
                        f"stream_pattern_conversions_ooo lateness budget "
                        f"exceeded for user {user_id}: event (ts_us={us}, "
                        f"event_id={eid}) arrived after the fold horizon "
                        f"advanced to {resolved_us} (allowed lateness "
                        f"{lateness_us} us) — raise the budget or fix the "
                        f"ingest"
                    )
                if us > max_us:
                    max_us = us
                if et == "view":
                    buf.append((us, eid, 1))
                elif et == "purchase":
                    buf.append((us, eid, 0))
        cutoff = max_us - lateness_us
        buf.sort()
        # fold STRICTLY below the cutoff and record the folded horizon
        # as cutoff-1: an arrival delayed exactly the declared budget
        # (us == cutoff) then stays buffered and is tolerated, instead
        # of tripping the us <= resolved_us check on the next batch —
        # the at-budget boundary sits consistently on the tolerated side
        ready = [e for e in buf if e[0] < cutoff]
        buf = [e for e in buf if e[0] >= cutoff]
        n_v, n_c, s_us, pending = _fold_pattern(ready, n_v, n_c, s_us, pending)
        if cutoff - 1 > resolved_us:
            resolved_us = cutoff - 1
        state.update(
            (
                n_v, n_c, s_us, pending, resolved_us, max_us, n_seen,
                [e[0] for e in buf],
                [e[1] for e in buf],
                [e[2] for e in buf],
            )
        )
        pv, pc, ps, _ = _fold_pattern(buf, n_v, n_c, s_us, list(pending))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_views": [pv],
                "n_converted": [pc],
                "sum_us": [ps],
                "n_seen": [n_seen],
            }
        )

    return update


def stream_pattern_conversions_ooo(
    spark: SparkSession, sf_dir: str, lateness_us: int = 3600 * 1_000_000
) -> DataFrame:
    """Order-tolerant CEP twin of ``stream_pattern_conversions`` — SAME
    oracle. Events may arrive shuffled across micro-batches up to the
    lateness budget (default 1 h of event time); the matcher folds only
    the watermark-complete prefix into state and emits provisional
    totals that include the buffered tail, so the final emission equals
    the batch window twin exactly (proven per key by max_by(n_seen) —
    the provisional values are not monotone, see the schema note)."""
    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _make_update_pattern_ooo(lateness_us),
        outputStructType=PATTERN_OOO_OUTPUT_SCHEMA,
        stateStructType=PATTERN_OOO_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update")
    last = out.groupBy("user_id").agg(
        F.max_by(
            F.struct("n_views", "n_converted", "sum_us"), "n_seen"
        ).alias("s")
    )
    return last.select("user_id", "s.n_views", "s.n_converted", "s.sum_us").filter(
        F.col("n_views") > 0
    ).select(
        "user_id",
        "n_views",
        "n_converted",
        F.round(
            F.when(
                F.col("n_converted") > 0,
                (F.col("sum_us") / F.col("n_converted")) / 1000000.0,
            ),
            3,
        ).alias("avg_latency_s"),
    )


# --- stateful last-touch attribution (streaming twin of
# --- events_attribution_last_touch) -------------------------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000

ATTR_STATE_SCHEMA = StructType(
    [
        StructField("touch_us", LongType()),
        StructField("touch_type", StringType()),
        StructField("hwm_us", LongType()),
        StructField("hwm_eid", LongType()),
    ]
)
ATTR_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("channel", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _update_attribution(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        touch_us, touch_type, hwm_us, hwm_eid = state.get
    else:
        touch_us, touch_type, hwm_us, hwm_eid = -1, None, -1, -1
    out = []
    for batch in batches:
        b = batch.sort_values(["ts", "event_id"])
        for et, us, eid, val in zip(b["event_type"], b["us"], b["event_id"], b["value"]):
            us, eid = int(us), int(eid)
            if (us, eid) <= (hwm_us, hwm_eid):
                raise ValueError(
                    f"stream_attribution_last_touch order contract violated for "
                    f"user {user_id}: (ts_us={us}, event_id={eid}) after "
                    f"(ts_us={hwm_us}, event_id={hwm_eid})"
                )
            hwm_us, hwm_eid = us, eid
            if et == "purchase":
                if touch_type is not None and touch_us >= us - _ATTR_WINDOW_US:
                    out.append((user_id, eid, touch_type, float(val)))
                else:
                    out.append((user_id, eid, "direct", float(val)))
            else:
                touch_us, touch_type = us, et
    state.update((touch_us, touch_type, hwm_us, hwm_eid))
    yield pd.DataFrame(out, columns=["user_id", "event_id", "channel", "value"])


def stream_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-touch attribution — the stateful twin of the batch
    window query (SAME oracle): state per user is just the latest
    non-purchase (ts, type) plus the enforced (ts, event_id) order
    high-watermark; each purchase emits exactly one attribution row in
    the micro-batch that processes it, so the memory sink accumulates
    every purchase exactly once and the per-channel rollup equals the
    batch result. Constant state per user — the O(1)-state end of the
    custom-operator spectrum (pattern matching keeps a pending list,
    EWMA a float; this keeps one touch)."""
    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _update_attribution,
        outputStructType=ATTR_OUTPUT_SCHEMA,
        stateStructType=ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "append")
    return out.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


# --- KMV sketch as stream state (mergeable sketch, incremental) ---------------

_KMV_K = 64
_KMV_DOM = float(1 << 60)

KMV_STATE_SCHEMA = StructType([StructField("mins", ArrayType(LongType()))])
KMV_OUTPUT_SCHEMA = StructType(
    [StructField("grp", LongType()), StructField("est", DoubleType())]
)


def _update_kmv(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (grp,) = key
    (mins,) = state.get if state.exists else ([],)
    mins = list(mins)
    for batch in batches:
        # sketch MERGE: union the incoming hashes, keep the k smallest —
        # the same operation that merges per-partition or per-day
        # sketches batch-side, applied per micro-batch here
        mins = sorted(set(mins) | set(int(h) for h in batch["h"]))[:_KMV_K]
    state.update((mins,))
    est = (
        (_KMV_K - 1) * _KMV_DOM / mins[-1]
        if len(mins) >= _KMV_K
        else float(len(mins))
    )
    yield pd.DataFrame({"grp": [grp], "est": [est]})


def stream_kmv_viewers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct-count sketch: the k smallest hashes of
    the viewer cohort ARE the state (k longs, constant forever —
    the streaming form of sketch_kmv_overlap's per-partition top-k),
    merged per micro-batch; the cardinality estimate is emitted per
    batch and only tightens, so max-over-updates is the final sketch —
    and because the hashes are deterministic, the streaming estimate
    equals the batch estimate EXACTLY (shared oracle arithmetic).
    This is how you watch 'distinct users today' on an unbounded
    stream without a COUNT DISTINCT state that grows with users."""
    from ug_dwh_etl_spark.operators.hashing import md5_long

    ev = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    hashed = ev.select(
        F.lit(1).cast("long").alias("grp"),
        md5_long(
            F.concat(F.col("user_id").cast("string"), F.lit("|kmv"))
        ).alias("h"),
    )
    updated = hashed.groupBy("grp").applyInPandasWithState(
        _update_kmv,
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update")
    return out.agg(
        F.round(F.max("est")).cast("long").alias("est_viewers")
    )


# --- stateful transition counting (streaming twin of
# --- events_transition_matrix) --------------------------------------------------

TRANS_STATE_SCHEMA = StructType(
    [
        StructField("last_type", StringType()),
        StructField("hwm_us", LongType()),
        StructField("hwm_eid", LongType()),
    ]
)
TRANS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("from_type", StringType()),
        StructField("to_type", StringType()),
    ]
)


def _update_transitions(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        last_type, hwm_us, hwm_eid = state.get
    else:
        last_type, hwm_us, hwm_eid = None, -1, -1
    out = []
    for batch in batches:
        b = batch.sort_values(["ts", "event_id"])
        for et, us, eid in zip(b["event_type"], b["us"], b["event_id"]):
            us, eid = int(us), int(eid)
            if (us, eid) <= (hwm_us, hwm_eid):
                raise ValueError(
                    f"stream_transition_matrix order contract violated for "
                    f"user {user_id}: (ts_us={us}, event_id={eid}) after "
                    f"(ts_us={hwm_us}, event_id={hwm_eid})"
                )
            hwm_us, hwm_eid = us, eid
            if last_type is not None:
                out.append((user_id, last_type, et))
            last_type = et
    state.update((last_type, hwm_us, hwm_eid))
    yield pd.DataFrame(out, columns=["user_id", "from_type", "to_type"])


def stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming transition-matrix maintenance — the stateful twin of
    events_transition_matrix (SAME oracle): state per user is ONE
    event type plus the enforced (ts, event_id) order high-watermark,
    each arriving event emits exactly one (from, to) transition row, so
    the memory sink accumulates the transition multiset exactly once
    and the final count/probability rollup equals the batch window
    result. Constant state per key, transition volume = event volume:
    the recommender-feature table this maintains stays fresh at
    arrival rate, never by re-scanning history."""
    from pyspark.sql import Window

    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _update_transitions,
        outputStructType=TRANS_OUTPUT_SCHEMA,
        stateStructType=TRANS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "append")
    counts = out.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(w), 6).alias("prob"),
    )


# --- transformWithState EVENT-TIME TIMERS: idle-session timeout facts ---------
#
# The last uncovered corner of the Spark-4 stateful API after the
# Value/Map/ListState trio: ``registerTimer`` in EventTime mode. The
# reference's cron-append history model (sf_html_data.py:178 daily
# append) needs exactly this shape for "session closed" facts — a fact
# should land when the entity goes IDLE, not only when its next event
# happens to arrive. Close rules:
#   - inline: an arriving event with gap > 30min closes the standing
#     session (batch-split-invariant — whichever micro-batch carries
#     the event);
#   - timer: a session with NO later event closes when the event-time
#     watermark passes last_seen + 30min (+1ms, see below) — measured
#     on this Spark: a timer fires iff expiry < watermark STRICTLY,
#     and AvailableNow runs a trailing NO-DATA micro-batch after the
#     last data batch (noDataMicroBatches, default on) whose eviction
#     watermark is the global max event time — so the final close set
#     is exactly {expiry < max event ts}, which is what the registered
#     oracle recomputes.
# The +1ms guard keeps an event at EXACTLY last+30min (same session by
# the > gap rule) from racing its own session's close timer: chronology
# of the staged time-bucket source then guarantees the event is
# processed before any watermark ≥ its timestamp exists.
#
# handleExpiredTimer double-fire guard: a fired timer only emits when
# its expiry matches the CURRENT state's last_seen — if the same batch
# already processed newer events for the key (re-registering the
# timer), the stale expiry mismatches and the close is skipped, making
# the output identical whichever order Spark runs timers vs input rows.

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)
_GAP_US = 1800 * 1_000_000
_GAP_MS = 1800 * 1000
_SESSION_COLS = ["user_id", "session_start_us", "session_end_us", "n_events"]


class SessionTimeoutProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._s = handle.getValueState("sess", "start_us long, last_us long, n long")
        self._h = handle

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        us: list[int] = []
        for b in rows:
            us.extend(int(v) for v in b["ts_us"])
        us.sort()
        start, last, n = (
            self._s.get() if self._s.exists() else (None, None, 0)
        )
        closes = []
        for t in us:
            if last is not None and t - last > _GAP_US:
                closes.append((key[0], start, last, n))
                start, n = t, 0
            if start is None:
                start = t
            n += 1
            last = t
        self._s.update((start, last, n))
        for tm in self._h.listTimers():
            self._h.deleteTimer(tm)
        self._h.registerTimer(last // 1000 + _GAP_MS + 1)
        if closes:
            yield pd.DataFrame(closes, columns=_SESSION_COLS)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        if self._s.exists():
            start, last, n = self._s.get()
            if last // 1000 + _GAP_MS + 1 == expiredTimerInfo.getExpiryTimeInMs():
                self._s.clear()
                yield pd.DataFrame(
                    [(key[0], start, last, n)], columns=_SESSION_COLS
                )

    def close(self) -> None:
        pass


def _stage_time_buckets(spark: SparkSession, sf_dir: str, n: int = 4) -> str:
    """Stage events as ``n`` CHRONOLOGICAL time-bucket parquet files with
    forced ascending mtimes (FileStreamSource orders by modification
    time), so `maxFilesPerTrigger=1` yields a deterministic in-order
    micro-batch sequence and the event-time watermark entering batch i
    is exactly the max timestamp of buckets < i — the quantity the
    DuckDB oracle recomputes. Bucket boundaries are pure min/max
    arithmetic (no data-sized total-order window): bucket =
    ((ts_us - min) * n) div (max - min + 1)."""
    import os
    import shutil

    from ug_dwh_etl_spark.queries.registry import scratch_dir, table

    work = scratch_dir("sess_timeout", sf_dir)
    src = os.path.join(work, "src")
    marker = os.path.join(work, "_STAGED")
    if not os.path.exists(marker):
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src, exist_ok=True)
        ev = table(spark, sf_dir, "events").select("user_id", "ts")
        mn, mx = ev.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).first()
        span = mx - mn + 1
        bucket = F.expr(f"((unix_micros(ts) - {mn}L) * {n}) div {span}L")
        for i in range(n):
            tmp = os.path.join(work, f"tmp{i}")
            ev.filter(bucket == i).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                p for p in os.listdir(tmp) if p.endswith(".parquet")
            )
            dst = os.path.join(src, f"bucket{i}.parquet")
            os.replace(os.path.join(tmp, part), dst)
            os.utime(dst, (1_700_000_000 + i * 3600,) * 2)
            shutil.rmtree(tmp)
        open(marker, "a").close()
    return src


def _session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _stage_time_buckets(spark, sf_dir)
    return (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )


def _with_rocksdb(spark: SparkSession, run) -> DataFrame:
    """transformWithState is only supported on the RocksDB state store
    (the JNI lib ships inside Spark's own jars); scope the provider
    switch to the wrapped run — the HDFS-backed default stays in place
    for every other stateful op."""
    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with conf_scope(spark, {"spark.sql.streaming.stateStore.providerClass": provider}):
        return run()


def stream_session_timeout_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time-timer sessionization over the staged chronological
    stream: emits one (user, start, end, n_events) fact per CLOSED
    session — inline on the session-breaking event, or via
    ``registerTimer`` when the watermark passes the idle horizon. Open
    sessions at end-of-stream are never emitted (their timers can't
    fire: no batch runs after the last watermark advance)."""
    ev = _session_stream(spark, sf_dir)
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionTimeoutProcessor(),
        outputStructType=SESSION_OUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )
    return _with_rocksdb(spark, lambda: run_stream_to_memory(updated, "append"))


# --- applyInPandasWithState cross-check twin (EventTimeTimeout) ---------------
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _update_session_timeout(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame([(key[0], start, last, n)], columns=_SESSION_COLS)
        return
    us: list[int] = []
    for b in batches:
        us.extend(int(v) for v in b["ts_us"])
    us.sort()
    start, last, n = state.get if state.exists else (None, None, 0)
    closes = []
    for t in us:
        if last is not None and t - last > _GAP_US:
            closes.append((key[0], start, last, n))
            start, n = t, 0
        if start is None:
            start = t
        n += 1
        last = t
    state.update((start, last, n))
    state.setTimeoutTimestamp(last // 1000 + _GAP_MS + 1)
    if closes:
        yield pd.DataFrame(closes, columns=_SESSION_COLS)


def stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInPandasWithState`` twin of ``stream_session_timeout_tws``
    (GroupStateTimeout.EventTimeTimeout / setTimeoutTimestamp instead of
    registerTimer) — identical close semantics over the identical staged
    source, so the two APIs cross-check each other and either answers
    the same oracle."""
    ev = _session_stream(spark, sf_dir)
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _update_session_timeout,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_stream_to_memory(updated, "append")


# --- transformWithState TTL: value state with an expiry horizon ---------------
class UserTotalsTTLProcessor(StatefulProcessor):
    """UserTotalsProcessor with a TTL'd ValueState: any update re-arms
    the expiry at processing-time + ttl. With the default 1h horizon
    nothing expires inside a seconds-long AvailableNow run, so the
    registered query answers the exact batch oracle while exercising
    the TTL machinery end-to-end (secondary-index writes, expiry
    bookkeeping on RocksDB); tests/test_streaming.py drives a SHORT ttl
    across two runs on one checkpoint and asserts the state actually
    expires (totals reset) while a parallel non-TTL state survives."""

    def __init__(self, ttl_ms: int = 3_600_000) -> None:
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState(
            "totals", STATE_SCHEMA, ttlDurationMs=self._ttl_ms
        )
        self._ever = handle.getValueState("ever", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        n, cents = self._totals.get() if self._totals.exists() else (0, 0)
        en, ecents = self._ever.get() if self._ever.exists() else (0, 0)
        for batch in rows:
            k = len(batch)
            c = int(batch["value"].mul(100).round().sum())
            n, cents = n + k, cents + c
            en, ecents = en + k, ecents + c
        self._totals.update((n, cents))
        self._ever.update((en, ecents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events_cum": [n],
                "total_value_cum": [cents / 100.0],
            }
        )

    def close(self) -> None:
        pass


def _run_stream_drain_then_stop(
    stream_df: DataFrame, output_mode: str, state_partitions: int = 8
) -> DataFrame:
    """Run a ProcessingTime-mode stream until the file source is drained,
    then stop it and return the memory-sink result. State TTL forces
    ``timeMode="ProcessingTime"``, and in that mode AvailableNow never
    terminates on its own — the engine keeps scheduling no-data batches
    forever so processing-time timers/TTL can keep evicting (measured:
    9+ epochs over one already-drained file before the 60s cutoff). The
    output is unaffected by when we stop: no-data batches call no
    ``handleInputRows`` and this family registers no timers, so every
    emission happens in data batches — we poll progress and stop after
    the first no-data batch that follows the drained source."""
    import tempfile
    import time as _time
    import uuid as _uuid

    from ug_dwh_etl_spark.streaming.jobs import _checkpoint_dir

    name = f"mem_{_uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    state = {"spark.sql.shuffle.partitions": str(state_partitions)}
    with conf_scope(spark, state), _checkpoint_dir(None, f"ckpt_{name}_") as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        deadline = _time.time() + 300
        saw_data = False
        while q.isActive and _time.time() < deadline:
            if q.awaitTermination(0.25):
                break
            p = q.lastProgress
            if p is None:
                continue
            if p["numInputRows"] > 0:
                saw_data = True
            elif saw_data:
                break  # a no-data batch after data: source drained
        # expose progress + the executed micro-batch plan to the
        # plan audit (run_stream_to_memory convention) BEFORE stop()
        # drops the execution
        from ug_dwh_etl_spark.streaming import jobs as _jobs

        _jobs.LAST_PROGRESS = q.lastProgress
        try:
            _jobs.LAST_BATCH_PLAN = q._jsq.explainInternal(True)
        except Exception:
            _jobs.LAST_BATCH_PLAN = None
        q.stop()
        q.awaitTermination()
    return spark.table(name)


def stream_user_totals_ttl_tws(
    spark: SparkSession, sf_dir: str, ttl_ms: int = 3_600_000
) -> DataFrame:
    """TTL variant of ``stream_user_totals_tws`` — same state model and
    batch-split-invariant max-per-user reduction, same oracle; the
    ValueState carries a processing-time TTL (the only timeMode Spark
    allows TTL under: STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL
    otherwise)."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotalsTTLProcessor(ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
    out = _with_rocksdb(
        spark, lambda: _run_stream_drain_then_stop(updated, "update")
    )
    return out.groupBy("user_id").agg(
        F.max("n_events_cum").alias("n_events"),
        F.round(F.max("total_value_cum"), 2).alias("total_value"),
    )


# --- transformWithState INITIAL STATE: warehouse -> stream handoff ------------
#
# The last hook of the Spark-4 stateful API after Value/Map/ListState +
# timers + TTL: ``handleInitialState`` bootstraps each key's state from
# a BATCH relation before the first micro-batch — the backfill-then-
# stream handoff every migration to streaming needs (the reference's
# daily-append history IS that batch relation; a cutover day starts the
# stream with totals seeded from the warehouse instead of replaying
# years of history through the stream).


class UserTotalsBootstrapProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", STATE_SCHEMA)

    def handleInitialState(self, key, initialState, timerValues) -> None:
        self._totals.update(
            (
                int(initialState["n"].iloc[0]),
                int(initialState["cents"].iloc[0]),
            )
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        n, cents = self._totals.get() if self._totals.exists() else (0, 0)
        for batch in rows:
            n += len(batch)
            cents += int(batch["value"].mul(100).round().sum())
        self._totals.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events_cum": [n],
                "total_value_cum": [cents / 100.0],
            }
        )

    def close(self) -> None:
        pass


def _bootstrap_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (n, cents) over the 'warehouse history' slice
    (event_id % 3 != 0) — the batch relation the stream seeds from.
    Integer cents, same fold semantics as the processor."""
    from ug_dwh_etl_spark.queries.registry import read_events

    return (
        read_events(spark, sf_dir)
        .filter(F.col("event_id") % 3 != 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )


def stream_user_totals_bootstrap_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Running totals where the stream (event_id % 3 == 0) starts from
    state BOOTSTRAPPED off the batch history (event_id % 3 != 0) via
    ``initialState=`` + ``handleInitialState`` — final totals per
    stream-active user equal the full-table batch aggregate exactly
    (users with only history rows never emit: no input rows, no
    output), which is the registered oracle."""
    ev = read_events_stream(spark, sf_dir).filter(
        F.col("event_id") % 3 == 0
    ).select("user_id", "value")
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotalsBootstrapProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
        initialState=_bootstrap_totals(spark, sf_dir).groupBy("user_id"),
    )
    out = _with_rocksdb(spark, lambda: run_stream_to_memory(updated, "update"))
    return out.groupBy("user_id").agg(
        F.max("n_events_cum").alias("n_events"),
        F.round(F.max("total_value_cum"), 2).alias("total_value"),
    )


def stream_user_totals_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInPandasWithState`` twin of the bootstrap handoff (no
    initial-state parameter exists on that API): the batch totals ride
    a BROADCAST seed map and each key seeds itself on first sight —
    key-count-sized broadcast, the documented trade for the fallback
    path; same oracle, cross-checked in tests."""
    seeds = {
        r.user_id: (r.n, r.cents)
        for r in _bootstrap_totals(spark, sf_dir).collect()
    }
    bseeds = spark.sparkContext.broadcast(seeds)

    def update(key, batches, state):
        (user_id,) = key
        if state.exists:
            n, cents = state.get
        else:
            n, cents = bseeds.value.get(user_id, (0, 0))
        for batch in batches:
            n += len(batch)
            cents += int(batch["value"].mul(100).round().sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events_cum": [n],
                "total_value_cum": [cents / 100.0],
            }
        )

    ev = read_events_stream(spark, sf_dir).filter(
        F.col("event_id") % 3 == 0
    ).select("user_id", "value")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(updated, "update")
    return out.groupBy("user_id").agg(
        F.max("n_events_cum").alias("n_events"),
        F.round(F.max("total_value_cum"), 2).alias("total_value"),
    )
