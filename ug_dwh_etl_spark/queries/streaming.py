"""Streaming queries for the driver gate: each runs a Structured
Streaming job to completion (Trigger.AvailableNow) and is checked
against the SAME DuckDB oracle as its batch twin — the strongest
correctness statement available for the streaming surface (SURVEY.md §5
step 2: streaming result == batch SQL)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ug_dwh_etl_spark.queries.registry import register
from ug_dwh_etl_spark.streaming.jobs import (
    stream_dedup_events,
    stream_hourly_tumbling,
    stream_ohlc_hourly,
    stream_session_windows,
)


@register(
    "stream_hourly_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
)
def q_stream_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_hourly_tumbling(spark, sf_dir)


def _aqp_oracle() -> str:
    from ug_dwh_etl_spark.queries.mlfit import _AQP_SQL

    return _AQP_SQL


@register("stream_aqp_sampled_revenue", _aqp_oracle())
def q_stream_aqp_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same oracle as the batch AQP estimator: the deterministic sample
    # filter is stateless and the HT sums are mergeable, so the
    # streaming fold must land on the identical estimate + error bar.
    from ug_dwh_etl_spark.streaming.jobs import stream_aqp_sampled_revenue

    return stream_aqp_sampled_revenue(spark, sf_dir)


@register(
    "stream_ohlc_hourly",
    """
    WITH w AS (
      SELECT date_trunc('hour', ts) AS h, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_value
    FROM w GROUP BY h
    """,
)
def q_stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min_by/max_by on the (ts, event_id) struct replace the batch
    # twin's row_number picks — order-insensitive, so any micro-batch
    # arrival order folds to the same open/close.
    return stream_ohlc_hourly(spark, sf_dir)


@register(
    "stream_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session_window merges on a >30min gap; LAG uses >1800s — identical
    # boundaries, so streaming session counts equal the batch window SQL.
    return stream_session_windows(spark, sf_dir)


@register(
    "stream_dedup_events",
    "SELECT COUNT(DISTINCT event_id) AS n_unique FROM events",
)
def q_stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_dedup_events(spark, sf_dir)


@register(
    "stream_stateful_user_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # custom applyInPandasWithState operator; max-per-user of the running
    # totals is micro-batch-split-invariant, so it matches the batch SQL
    from ug_dwh_etl_spark.streaming.stateful import stream_user_running_totals

    return stream_user_running_totals(spark, sf_dir)


@register(
    "stream_user_totals_tws",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transformWithStateInPandas (Spark 4 typed-state API) twin of
    # stream_stateful_user_totals — same state model, same oracle; runs
    # on the RocksDB state store with the protobuf fallback from
    # ug_dwh_etl_spark.compat when no pip protobuf exists.
    #
    # The protobuf shim must be on the worker interpreters' PYTHONPATH
    # BEFORE the JVM starts (compat.ensure_protobuf, called by
    # session.get_spark). Under a session someone else started without
    # it (e.g. an external harness's vanilla SparkSession in this
    # pip-protobuf-less container), the TWS python driver worker
    # crashes at launch — so on THAT specific failure fall back to the
    # applyInPandasWithState twin, which implements the identical state
    # model against the identical oracle. On a normal deployment with
    # pip protobuf (or any get_spark session) the TWS path runs;
    # tests/test_streaming.py asserts it end-to-end.
    from ug_dwh_etl_spark.streaming.stateful import (
        stream_user_running_totals,
        stream_user_totals_tws,
    )

    try:
        return stream_user_totals_tws(spark, sf_dir)
    except Exception:
        try:
            import google.protobuf  # noqa: F401
            raise  # protobuf was present: the failure is real, surface it
        except ImportError:
            return stream_user_running_totals(spark, sf_dir)


@register(
    "stream_user_type_counts_tws",
    """
    SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q_stream_user_type_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transformWithStateInPandas MAP STATE: a per-user {event_type:
    # count} keyed sub-store (containsKey/getValue/updateValue/iterator)
    # — the second TWS surface after the ValueState totals twin, proving
    # the map path of the Spark-4 stateful API against an exact batch
    # oracle (distinct-type and event counts are monotone, so
    # max-per-user is micro-batch-split-invariant). Same protobuf-shim
    # fallback contract as stream_user_totals_tws: under a foreign
    # session without the shim, the applyInPandasWithState twin (the
    # map as two parallel state arrays) answers the same oracle.
    from ug_dwh_etl_spark.streaming.stateful import (
        stream_user_type_counts,
        stream_user_type_counts_tws,
    )

    try:
        return stream_user_type_counts_tws(spark, sf_dir)
    except Exception:
        try:
            import google.protobuf  # noqa: F401
            raise  # protobuf was present: the failure is real, surface it
        except ImportError:
            return stream_user_type_counts(spark, sf_dir)


@register(
    "stream_user_median_tws",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(quantile_disc(value, 0.5) AS DOUBLE), 2) AS median_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_user_median_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transformWithStateInPandas LIST STATE: exact per-user discrete
    # median over the full value history (sorted[(n-1)//2], integer
    # cents — the same indexing as DuckDB's quantile_disc(0.5), verified
    # on odd/even/tie cases) — completes the TWS typed-state trio
    # (ValueState totals, MapState type counts, ListState median). Same
    # protobuf-shim fallback contract as the other TWS twins.
    from ug_dwh_etl_spark.streaming.stateful import (
        stream_user_median,
        stream_user_median_tws,
    )

    try:
        return stream_user_median_tws(spark, sf_dir)
    except Exception:
        try:
            import google.protobuf  # noqa: F401
            raise  # protobuf was present: the failure is real, surface it
        except ImportError:
            return stream_user_median(spark, sf_dir)


@register(
    "stream_sliding_2h",
    """
    WITH expanded AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type, value
      FROM events)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM expanded GROUP BY window_start, event_type
    """,
)
def q_stream_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ug_dwh_etl_spark.streaming.jobs import stream_sliding_counts

    return stream_sliding_counts(spark, sf_dir)


@register(
    "stream_stream_join",
    """
    SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_attributed
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (view→purchase within 1h),
    checked against the identical batch join SQL."""
    from ug_dwh_etl_spark.streaming.jobs import stream_stream_attribution_join

    return stream_stream_attribution_join(spark, sf_dir)


def _corpus_ingest_sql() -> str:
    from ug_dwh_etl_spark.operators import hashing as H
    from ug_dwh_etl_spark.operators.textstats import (
        QUALITY_RULES_DEFAULTS as R,
        STOPWORDS,
        sql_stop_filter,
    )

    return f"""
    WITH tok AS (SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents),
    m AS (
      SELECT doc_id, t,
             len(t) AS n_words,
             CASE WHEN len(t) > 0
                  THEN length(array_to_string(t, '')) / len(t)::DOUBLE END AS mean_raw,
             CASE WHEN len(t) > 0
                  THEN {sql_stop_filter('t', STOPWORDS['en'])} / len(t)::DOUBLE
                  ELSE 0.0 END AS stop_raw
      FROM tok),
    keepers AS (
      SELECT doc_id, md5(array_to_string(t, ' ')) AS fingerprint
      FROM m
      WHERE n_words BETWEEN {R['min_words']} AND {R['max_words']}
        AND COALESCE(mean_raw BETWEEN {R['min_mean_word_len']} AND {R['max_mean_word_len']}, FALSE)
        AND stop_raw >= {R['min_stopword_ratio']})
    SELECT MIN(doc_id) AS doc_id FROM keepers GROUP BY fingerprint
    """


@register("stream_corpus_ingest", _corpus_ingest_sql())
def q_stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming training-corpus ingest: per-micro-batch C4/Gopher
    quality gate + fingerprinting, batch-side min-id-per-fingerprint
    exact dedup — split-invariant, so the AvailableNow run matches the
    pure-batch gate+dedup SQL exactly."""
    from ug_dwh_etl_spark.streaming.jobs import stream_corpus_ingest

    return stream_corpus_ingest(spark, sf_dir)


@register(
    "stream_hourly_anomaly",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr, hour(ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY hr, hod),
    baseline AS (
      SELECT hod, AVG(n) AS mu,
             COALESCE(STDDEV_SAMP(n), 0.0) AS sigma
      FROM hourly GROUP BY hod)
    SELECT strftime(h.hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
           h.n,
           ROUND(b.mu, 6) AS expected,
           ROUND(CASE WHEN b.sigma > 0 THEN (h.n - b.mu) / b.sigma END, 6) AS zscore,
           COALESCE(b.sigma > 0 AND ABS((h.n - b.mu) / b.sigma) > 2.0, FALSE)
             AS is_anomaly
    FROM hourly h JOIN baseline b USING (hod)
    """,
)
def q_stream_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained hourly counts + batch-side diurnal
    baseline and z-flags — shares the batch twin's exact oracle."""
    from ug_dwh_etl_spark.streaming.jobs import stream_hourly_anomaly

    return stream_hourly_anomaly(spark, sf_dir)


def _ewma_oracle() -> str:
    from ug_dwh_etl_spark.queries.events import EWMA_ORACLE

    return EWMA_ORACLE


@register("stream_user_ewma", _ewma_oracle())
def q_stream_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    # order-sensitive applyInPandasWithState recursion; checked against
    # the SAME closed-form oracle as the batch twin events_user_ewma
    from ug_dwh_etl_spark.streaming.stateful import stream_user_ewma

    return stream_user_ewma(spark, sf_dir)


def _mixture_oracle() -> str:
    from ug_dwh_etl_spark.queries.registry import QUERIES

    return QUERIES["corpus_mixture_weights"].oracle


@register("stream_language_mix", _mixture_oracle())
def q_stream_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental complete-mode lang counts + batch-side temperature
    # weighting on the 5-row result; same oracle as the batch twin
    from ug_dwh_etl_spark.streaming.jobs import stream_language_mix

    return stream_language_mix(spark, sf_dir)


def _hh_oracle() -> str:
    from ug_dwh_etl_spark.queries.registry import QUERIES

    return QUERIES["events_heavy_hitters"].oracle


@register("stream_heavy_hitters", _hh_oracle())
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental per-user counters + batch-side phi filter; same oracle
    # as the batch twin events_heavy_hitters
    from ug_dwh_etl_spark.streaming.jobs import stream_heavy_hitters

    return stream_heavy_hitters(spark, sf_dir)


@register(
    "stream_static_enrich",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming orders x static broadcast customer dim, per-segment rollup
    from ug_dwh_etl_spark.streaming.jobs import stream_static_enrich

    return stream_static_enrich(spark, sf_dir)


def _pattern_oracle() -> str:
    from ug_dwh_etl_spark.queries.registry import QUERIES

    return QUERIES["events_pattern_view_to_purchase"].oracle


@register("stream_pattern_conversions_ooo", _pattern_oracle())
def q_stream_pattern_conversions_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    # order-TOLERANT CEP: per-key buffer + event-time watermark fold
    # (arrivals shuffled within the lateness budget give identical
    # results), same oracle as the strict twin and the batch window
    from ug_dwh_etl_spark.streaming.stateful import stream_pattern_conversions_ooo

    return stream_pattern_conversions_ooo(spark, sf_dir)


@register("stream_pattern_conversions", _pattern_oracle())
def q_stream_pattern_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # applyInPandasWithState CEP matcher; same oracle as the batch
    # forward-looking-window twin events_pattern_view_to_purchase
    from ug_dwh_etl_spark.streaming.stateful import stream_pattern_conversions

    return stream_pattern_conversions(spark, sf_dir)


@register(
    "stream_stream_left_outer",
    """
    WITH b AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'view'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 4 HOUR AS c)
    SELECT v.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(p.ts) AS BIGINT) AS n_attributed,
           CAST(COUNT(CASE WHEN p.ts IS NULL THEN 1 END) AS BIGINT)
             AS n_unattributed
    FROM (SELECT user_id, ts FROM events, b
          WHERE event_type = 'view' AND ts <= c) v
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
)
def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # watermark-evicted NULL padding checked against the batch LEFT JOIN
    from ug_dwh_etl_spark.streaming.jobs import stream_stream_left_outer_join

    return stream_stream_left_outer_join(spark, sf_dir)


@register(
    "stream_attribution_last_touch",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN ts END IGNORE NULLS)
               OVER w AS touch_ts,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER w AS touch_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN touch_ts IS NOT NULL
                     AND touch_ts >= ts - INTERVAL 7 DAY
                THEN touch_type ELSE 'direct' END AS channel,
           COUNT(*) AS n_purchases,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY channel
    """,
)
def q_stream_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stateful streaming twin of events_attribution_last_touch — SAME
    # oracle; state per user is one (ts, type) touch + the enforced
    # order high-watermark, each purchase emits its credit exactly once
    from ug_dwh_etl_spark.streaming.stateful import stream_attribution_last_touch

    return stream_attribution_last_touch(spark, sf_dir)


@register(
    "stream_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6)
             AS prob
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stateful streaming twin of events_transition_matrix — SAME oracle;
    # state per user is one event type + the order high-watermark, each
    # event emits its transition exactly once
    from ug_dwh_etl_spark.streaming.stateful import stream_transition_matrix

    return stream_transition_matrix(spark, sf_dir)


@register(
    "stream_kmv_viewers",
    """
    WITH va AS (SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR || '|kmv'), 1, 15))::BIGINT AS h
                FROM events WHERE event_type = 'view'),
    ska AS (SELECT h FROM va ORDER BY h LIMIT 64),
    st AS (SELECT COUNT(*) AS c, MAX(h) AS kth FROM ska)
    SELECT CASE WHEN c < 64 THEN c
                ELSE CAST(ROUND(63 * 1152921504606846976.0 / kth) AS BIGINT) END
             AS est_viewers
    FROM st
    """,
)
def q_stream_kmv_viewers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mergeable-sketch-as-stream-state: k longs of state, estimate only
    # tightens across batches, deterministic hashes make the streaming
    # sketch equal the batch sketch bit-for-bit
    from ug_dwh_etl_spark.streaming.stateful import stream_kmv_viewers

    return stream_kmv_viewers(spark, sf_dir)


@register(
    "stream_dq_benford",
    # same oracle as the batch twin dq_benford_totalprice — streaming
    # result must equal the batch SQL (SURVEY.md §5 step 2)
    """
    WITH digits AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)::INT
               AS digit
      FROM orders),
    obs AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
    tot AS (SELECT SUM(n) AS t FROM obs)
    SELECT digit, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / t, 6) AS observed_share,
           ROUND(ln(1 + 1.0 / digit) / ln(10), 6) AS benford_share
    FROM obs, tot
    """,
)
def q_stream_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ug_dwh_etl_spark.streaming.jobs import stream_benford_totalprice

    return stream_benford_totalprice(spark, sf_dir)


def _incremental_neardup_oracle() -> str:
    from ug_dwh_etl_spark.queries.dedup import _incremental_neardup_sql

    return _incremental_neardup_sql()


@register("stream_incremental_neardup", _incremental_neardup_oracle())
def q_stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # foreachBatch match-then-append against the persisted LSH index —
    # the streaming twin of dedup_incremental_neardup, SAME oracle: the
    # union of per-batch emissions equals the full-corpus re-run
    # restricted to stream-side ids, however the stream is micro-batched
    from ug_dwh_etl_spark.streaming.jobs import stream_incremental_neardup

    return stream_incremental_neardup(spark, sf_dir)


@register(
    "stream_stream_full_outer",
    """
    WITH cut AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'view'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 4 HOUR AS c),
    j AS (
      SELECT v.user_id AS vu, v.ts AS vts, p.user_id AS pu, p.ts AS pts
      FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
      FULL JOIN (SELECT user_id, ts FROM events
                 WHERE event_type = 'purchase') p
        ON v.user_id = p.user_id AND p.ts >= v.ts
       AND p.ts <= v.ts + INTERVAL 1 HOUR)
    SELECT COALESCE(vu, pu) AS user_id,
           CAST(COUNT(CASE WHEN vts IS NOT NULL AND pts IS NOT NULL
                           THEN 1 END) AS BIGINT) AS n_matched,
           CAST(COUNT(CASE WHEN pts IS NULL THEN 1 END) AS BIGINT)
             AS n_view_only,
           CAST(COUNT(CASE WHEN vts IS NULL THEN 1 END) AS BIGINT)
             AS n_purchase_only
    FROM j CROSS JOIN cut
    WHERE (vts IS NULL OR vts <= c) AND (pts IS NULL OR pts <= c)
    GROUP BY COALESCE(vu, pu)
    """,
)
def q_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both-side watermark-evicted NULL padding checked against the batch
    # FULL JOIN — completes the stream-stream family (inner/left/full)
    from ug_dwh_etl_spark.streaming.jobs import stream_stream_full_outer_join

    return stream_stream_full_outer_join(spark, sf_dir)


@register(
    "stream_snapshot_ingest",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_stream_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 8 micro-batches -> 8 idempotent atomic append commits; the oracle
    # proves the manifest-layer read equals the plain batch table
    from ug_dwh_etl_spark.streaming.jobs import stream_snapshot_ingest

    return stream_snapshot_ingest(spark, sf_dir)


def _stream_semantic_ingest_oracle() -> str:
    from ug_dwh_etl_spark.queries.dedup import _semantic_incremental_sql

    return _semantic_incremental_sql()


@register("stream_semantic_dedup_ingest", _stream_semantic_ingest_oracle())
def q_stream_semantic_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-micro-batch verdicts against the persisted elite index; the
    # SAME oracle as the batch twin proves split-insensitivity
    from ug_dwh_etl_spark.streaming.jobs import stream_semantic_dedup_ingest

    return stream_semantic_dedup_ingest(spark, sf_dir)


# --- transformWithState event-time timers + TTL (round 10) --------------------
_SESSION_TIMEOUT_ORACLE = """
    WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    flagged AS (
      SELECT user_id, us,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)),
    sess AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    agg AS (
      SELECT user_id, sid,
             MIN(us) AS session_start_us,
             MAX(us) AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sid),
    wm AS (SELECT MAX(us) // 1000 AS wm_ms FROM ev),
    lasts AS (SELECT user_id, MAX(sid) AS last_sid FROM agg GROUP BY user_id)
    SELECT a.user_id, a.session_start_us, a.session_end_us, a.n_events
    FROM agg a JOIN lasts l USING (user_id), wm
    WHERE a.sid < l.last_sid
       OR a.session_end_us // 1000 + 1800001 < wm.wm_ms
    """


@register("stream_session_timeout_tws", _SESSION_TIMEOUT_ORACLE)
def q_stream_session_timeout_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Event-time registerTimer sessionization (the Spark-4 stateful
    # API's timer surface): one fact per CLOSED session — inline when a
    # later event breaks the session, by TIMER when the watermark passes
    # the idle horizon with no later event. The oracle recomputes the
    # close set exactly: every non-last session closes; a user's last
    # session closes iff its expiry (end + 30min + 1ms) is STRICTLY
    # below the FINAL watermark — measured on this build, AvailableNow
    # runs a trailing no-data micro-batch after the last data batch
    # (noDataMicroBatches) whose eviction watermark is the global max
    # event time, and a timer fires iff expiry < that watermark. Same
    # protobuf-shim fallback contract as stream_user_totals_tws: under a
    # foreign session the applyInPandasWithState EventTimeTimeout twin
    # answers the same oracle.
    from ug_dwh_etl_spark.streaming.stateful import (
        stream_session_timeout,
        stream_session_timeout_tws,
    )

    try:
        return stream_session_timeout_tws(spark, sf_dir)
    except Exception:
        try:
            import google.protobuf  # noqa: F401

            raise  # protobuf was present: the failure is real, surface it
        except ImportError:
            return stream_session_timeout(spark, sf_dir)


@register(
    "stream_user_totals_ttl_tws",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_user_totals_ttl_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ValueState with a processing-time TTL (the last piece of the
    # Spark-4 typed-state API after Value/Map/List + timers): the 1h
    # horizon never expires inside a seconds-long AvailableNow run, so
    # the exact totals oracle gates the whole TTL machinery (expiry
    # bookkeeping on RocksDB) end-to-end; tests/test_streaming.py
    # drives a SHORT ttl across two runs on one checkpoint and asserts
    # real expiry (TTL'd state resets, parallel non-TTL state
    # survives). Same fallback contract as stream_user_totals_tws.
    from ug_dwh_etl_spark.streaming.stateful import (
        stream_user_running_totals,
        stream_user_totals_ttl_tws,
    )

    try:
        return stream_user_totals_ttl_tws(spark, sf_dir)
    except Exception:
        try:
            import google.protobuf  # noqa: F401

            raise
        except ImportError:
            return stream_user_running_totals(spark, sf_dir)


@register(
    "stream_user_totals_bootstrap_tws",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_value
    FROM events GROUP BY user_id
    HAVING SUM(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) > 0
    """,
)
def q_stream_user_totals_bootstrap_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # handleInitialState (the last Spark-4 stateful-API hook after
    # Value/Map/ListState + timers + TTL): the stream (event_id%3==0)
    # starts from per-user state bootstrapped off the batch history
    # (event_id%3!=0) — the warehouse->stream cutover handoff. Final
    # totals for stream-active users equal the FULL-table aggregate
    # exactly (users with only history rows never emit). Same fallback
    # contract as the other TWS queries: the applyInPandasWithState
    # twin seeds from a broadcast map instead (no initialState on that
    # API) and answers the same oracle.
    from ug_dwh_etl_spark.streaming.stateful import (
        stream_user_totals_bootstrap,
        stream_user_totals_bootstrap_tws,
    )

    try:
        return stream_user_totals_bootstrap_tws(spark, sf_dir)
    except Exception:
        try:
            import google.protobuf  # noqa: F401

            raise
        except ImportError:
            return stream_user_totals_bootstrap(spark, sf_dir)


@register(
    "stream_wap_ingest",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderdate < DATE '1997-01-01'
    GROUP BY o_orderstatus
    """,
)
def q_stream_wap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-micro-batch write-audit-publish: stage on a branch, DQ-gate the
    # INCREMENT, remediate (drop junk rows) on failure, fast-forward
    # LATEST on pass — the oracle is the junk-free relation, proving no
    # dirty row ever published regardless of how the source carved
    # batches
    from ug_dwh_etl_spark.streaming.jobs import stream_wap_gated_ingest

    return stream_wap_gated_ingest(spark, sf_dir)


def _hll_stream_oracle() -> str:
    from ug_dwh_etl_spark.queries.events import (
        _HLL_EST_SQL,
        _HLL_M,
        _hll_reg_sql,
    )

    return f"""
    WITH spine AS (SELECT range AS j FROM range({_HLL_M})),
    r AS ({_hll_reg_sql("event_id::VARCHAR")}),
    f AS (SELECT spine.j, COALESCE(r.mreg, 0) AS mreg FROM spine LEFT JOIN r ON spine.j = r.j),
    sums AS (SELECT SUM(1::BIGINT << (55 - mreg)) AS s, SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS v FROM f),
    e AS (SELECT {_HLL_EST_SQL} AS est, v FROM sums)
    SELECT ROUND(e.est, 4) AS est, CAST(e.v AS BIGINT) AS zero_regs FROM e
    """


@register("stream_hll_event_ids", _hll_stream_oracle())
def q_stream_hll_event_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the HLL sketch AS stream state: <=64 ints forever, register-wise
    # max IS the merge operator, so a built-in complete-mode aggregate
    # maintains the union sketch with no custom state code; the
    # deterministic hash makes the streaming estimate equal the batch
    # sketch's oracle bit-for-bit
    from ug_dwh_etl_spark.streaming.jobs import stream_hll_event_ids

    return stream_hll_event_ids(spark, sf_dir)
