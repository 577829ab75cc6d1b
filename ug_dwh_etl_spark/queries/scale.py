"""Scale-technique queries: manual skew salting and bucketed co-located
joins, each proven equal to its plain relational oracle.

The point of these is the PLAN, not the answer: salted_agg's answer is
identical to a plain GROUP BY (that is the test), but the hot key's
rows fan out over n_salt reducers; the bucketed join's answer is
identical to a plain join, but its physical plan has no Exchange."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators.bucketing import bucketed_join, write_bucketed
from ug_dwh_etl_spark.operators.skew import salted_agg
from ug_dwh_etl_spark.queries.registry import register, scratch_dir, table
from ug_dwh_etl_spark.session import pinned


@register(
    "skew_salted_event_counts",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value,
           CAST(ROUND(MAX(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
)
def skew_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # event_type has 5 hot keys — the canonical skewed-groupBy shape.
    # Decimal-sum parity: cast BEFORE the salted two-phase sum so both
    # partial and merge sums are order-independent decimals.
    ev = table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,2)")
    )
    out = salted_agg(
        ev,
        key="event_type",
        aggs={
            "n": ("event_id", "count"),
            "total_value_raw": ("value", "sum"),
            "max_value_raw": ("value", "max"),
        },
        salt_from=["event_id"],
        n_salt=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("total_value_raw", 2).cast("double").alias("total_value"),
        F.round("max_value_raw", 2).cast("double").alias("max_value"),
    )


@register(
    "bucketed_join_order_lineitems",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_order_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-time clustered write per scale factor, then an Exchange-free
    # sort-merge join (plan asserted shuffle-free in tests/test_scale.py)
    tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    lt, ot = f"li_b_{tag}", f"ord_b_{tag}"
    existing = {t.name for t in spark.catalog.listTables()}
    if lt not in existing:
        write_bucketed(
            table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"),
            lt,
            "o_orderkey",
        )
    if ot not in existing:
        write_bucketed(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"), ot, "o_orderkey"
        )
    joined = bucketed_join(spark, ot, lt, "o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


@register(
    "diag_custkey_skew",
    """
    WITH per_key AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_per_key,
           ROUND(AVG(n), 4) AS avg_per_key,
           ROUND(MAX(n) / AVG(n), 4) AS skew_ratio,
           CAST(SUM(CASE WHEN n > 2 * (SELECT AVG(n) FROM per_key)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
    FROM per_key
    """,
)
def diag_custkey_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: per-key cardinality moments and the
    max/avg skew ratio — the measurement that decides whether a key
    needs salting (operators/skew.py) or AQE skew-join splitting before
    a 100 TB join. Two cheap aggregates (per-key, then global); the
    hot-key count attaches the scalar average via a broadcast, the same
    1-row pattern as text_tfidf_terms."""
    import pyspark.sql.functions as F

    orders = table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    avg_row = per_key.agg(F.avg("n").alias("avg_n"))
    return (
        per_key.crossJoin(F.broadcast(avg_row))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.max("n").alias("max_per_key"),
            F.round(F.avg("n"), 4).alias("avg_per_key"),
            F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
            F.sum(
                F.when(F.col("n") > 2 * F.col("avg_n"), 1).otherwise(0)
            ).alias("n_hot_keys"),
        )
    )


# --- z-order layout quality: per-file rectangles under three layouts ----------
def _zorder_stats_sql() -> str:
    from ug_dwh_etl_spark.operators.storage import zorder_interleave_sql

    z = zorder_interleave_sql("xn", "yn", duck=True)
    return f"""
    WITH base AS (
      SELECT o_orderkey AS ok, o_custkey AS x,
             datediff('day', DATE '1992-01-01', o_orderdate) AS d
      FROM orders),
    s AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(d) AS dmin, MAX(d) AS dmax,
                 MAX(ok) AS okmax
          FROM base),
    n AS (
      SELECT ok, x, d,
             (ok * 16) // (okmax + 1) AS ap_bucket,
             ((x - xmin) * 16) // (xmax - xmin + 1) AS ck_bucket,
             ((x - xmin) * 65535) // GREATEST(xmax - xmin, 1) AS xn,
             ((d - dmin) * 65535) // GREATEST(dmax - dmin, 1) AS yn,
             xmax - xmin AS gx, dmax - dmin AS gd
      FROM base, s),
    zb AS (SELECT *, ({z}) >> 28 AS z_bucket FROM n),
    per AS (
      SELECT 'append' AS strategy, ap_bucket AS bucket,
             MAX(x) - MIN(x) AS cks, MAX(d) - MIN(d) AS ds, ANY_VALUE(gx) AS gx,
             ANY_VALUE(gd) AS gd
      FROM zb GROUP BY ap_bucket
      UNION ALL
      SELECT 'custkey_range', ck_bucket, MAX(x) - MIN(x), MAX(d) - MIN(d),
             ANY_VALUE(gx), ANY_VALUE(gd)
      FROM zb GROUP BY ck_bucket
      UNION ALL
      SELECT 'zorder', z_bucket, MAX(x) - MIN(x), MAX(d) - MIN(d),
             ANY_VALUE(gx), ANY_VALUE(gd)
      FROM zb GROUP BY z_bucket)
    SELECT strategy, COUNT(*) AS n_files,
           ROUND(AVG(cks), 2) AS avg_ck_span,
           ROUND(AVG(ds), 2) AS avg_day_span,
           ROUND(AVG((cks * 1.0 * ds) / (gx * 1.0 * gd)), 4) AS avg_area_frac,
           ROUND(GREATEST(AVG(cks * 1.0 / gx), AVG(ds * 1.0 / gd)), 4) AS max_dim_frac
    FROM per GROUP BY strategy
    """


@register("storage_zorder_stats", _zorder_stats_sql())
def storage_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout diagnostic behind optimize_table's Z-order rewrite: bucket
    orders 16 ways under three layouts — insertion order (append),
    single-column range clustering, and the 32-bit Morton key — and
    measure the min/max rectangle a parquet file would carry under each.
    Every bucket id is pure integer arithmetic against a 1-row broadcast
    min/max aggregate (NO global sort/ntile window — at scale bucket
    assignment must be map-side; the sort only happens when actually
    writing). Any F-file layout covers ~1/F of the rectangle, so
    avg_area_frac ties; the z-order win is max_dim_frac — the fraction
    of files a point filter on the WORSE dimension must read (~1.0 for
    append and for the unclustered dim of a range layout, ~1/sqrt(F)
    for z-order on both dims at once)."""
    orders = table(spark, sf_dir, "orders")
    from ug_dwh_etl_spark.operators.storage import zorder_interleave_sql

    base = orders.selectExpr(
        "o_orderkey AS ok",
        "o_custkey AS x",
        "datediff(to_date(o_orderdate), date'1992-01-01') AS d",
    )
    s = base.agg(
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
        F.max("ok").alias("okmax"),
    )
    n = base.crossJoin(F.broadcast(s)).selectExpr(
        "ok",
        "x",
        "d",
        # bigint casts so int32 inputs can't wrap in the *16/*65535
        # products under non-ANSI mode (fixtures are int64 already; the
        # cast makes the expression type-safe for any integer input and
        # matches DuckDB's int64 arithmetic exactly)
        "(cast(ok AS bigint) * 16) div (okmax + 1) AS ap_bucket",
        "((cast(x AS bigint) - xmin) * 16) div (cast(xmax AS bigint) - xmin + 1) AS ck_bucket",
        "((cast(x AS bigint) - xmin) * 65535) div greatest(cast(xmax AS bigint) - xmin, 1) AS xn",
        "((cast(d AS bigint) - dmin) * 65535) div greatest(cast(dmax AS bigint) - dmin, 1) AS yn",
        "xmax - xmin AS gx",
        "dmax - dmin AS gd",
    )
    zb = n.selectExpr(
        "*", f"shiftright({zorder_interleave_sql('xn', 'yn', duck=False)}, 28) AS z_bucket"
    )

    def per(strategy: str, bucket: str) -> DataFrame:
        return (
            zb.groupBy(F.col(bucket).alias("bucket"))
            .agg(
                (F.max("x") - F.min("x")).alias("cks"),
                (F.max("d") - F.min("d")).alias("ds"),
                F.first("gx").alias("gx"),
                F.first("gd").alias("gd"),
            )
            .select(F.lit(strategy).alias("strategy"), "bucket", "cks", "ds", "gx", "gd")
        )

    u = (
        per("append", "ap_bucket")
        .unionByName(per("custkey_range", "ck_bucket"))
        .unionByName(per("zorder", "z_bucket"))
    )
    return u.groupBy("strategy").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.round(F.avg("cks"), 2).alias("avg_ck_span"),
        F.round(F.avg("ds"), 2).alias("avg_day_span"),
        F.round(F.avg(F.col("cks") * 1.0 * F.col("ds") / (F.col("gx") * 1.0 * F.col("gd"))), 4)
        .alias("avg_area_frac"),
        F.round(
            F.greatest(
                F.avg(F.col("cks") * 1.0 / F.col("gx")),
                F.avg(F.col("ds") * 1.0 / F.col("gd")),
            ),
            4,
        ).alias("max_dim_frac"),
    )


# --- rendezvous (HRW) hashing: minimal-movement shard assignment ---------------
@register(
    "storage_rendezvous_shards",
    """
    WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
    s8 AS (
      SELECT k, arg_max(s, h) AS shard8 FROM (
        SELECT k, s, ('0x' || substr(md5(k::VARCHAR || '#' || s::VARCHAR), 1, 15))::BIGINT AS h
        FROM keys, (SELECT unnest(generate_series(0, 7)) AS s))
      GROUP BY k),
    s9 AS (
      SELECT k, arg_max(s, h) AS shard9 FROM (
        SELECT k, s, ('0x' || substr(md5(k::VARCHAR || '#' || s::VARCHAR), 1, 15))::BIGINT AS h
        FROM keys, (SELECT unnest(generate_series(0, 8)) AS s))
      GROUP BY k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           ROUND(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) / COUNT(*)::DOUBLE, 4)
             AS moved_frac,
           CAST(SUM(CASE WHEN shard8 <> shard9 AND shard9 <> 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved_wrongly
    FROM s8 JOIN s9 USING (k)
    """,
)
def storage_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing: each key lands on the
    shard whose (key, shard) hash is highest. The query PROVES the
    property that makes HRW the right assignment for 100 TB shard maps:
    growing 8 → 9 shards moves only ~1/9 of keys (moved_frac ≈ 0.111),
    and every move goes TO the new shard (n_moved_wrongly = 0) — unlike
    `hash(k) % n`, which reshuffles ~8/9 of the corpus. Per key the
    argmax over shards is map-side (explode × n_shards, one grouped
    argmax); no shuffle grows with the shard count."""
    orders = table(spark, sf_dir, "orders")
    from ug_dwh_etl_spark.operators.hashing import md5_long

    keys = orders.select(F.col("o_custkey").alias("k")).distinct()

    def assign(n: int, out: str) -> DataFrame:
        exploded = keys.select(
            "k", F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("s")
        ).withColumn(
            "h",
            md5_long(
                F.concat(F.col("k").cast("string"), F.lit("#"), F.col("s").cast("string"))
            ),
        )
        return exploded.groupBy("k").agg(F.max_by("s", "h").alias(out))

    joined = assign(8, "shard8").join(assign(9, "shard9"), "k")
    moved = F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0)
    return joined.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(moved).cast("long").alias("n_moved"),
        F.round(F.sum(moved) / F.count(F.lit(1)), 4).alias("moved_frac"),
        F.sum(
            F.when((F.col("shard8") != F.col("shard9")) & (F.col("shard9") != 8), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_moved_wrongly"),
    )


# --- consistent pseudonymization with referential integrity --------------------
@register(
    "privacy_pseudonymize_join",
    """
    WITH oc AS (SELECT md5('pepper|' || o_custkey::VARCHAR) AS tok, o_totalprice
                FROM orders),
    cc AS (SELECT md5('pepper|' || c_custkey::VARCHAR) AS tok, c_nationkey
           FROM customer),
    tokjoin AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_orders,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS revenue
      FROM oc JOIN cc USING (tok) GROUP BY c_nationkey),
    plain AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_plain
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey)
    SELECT nationkey, n_orders, revenue,
           n_orders = n_plain AS integrity_ok
    FROM tokjoin JOIN plain USING (nationkey)
    """,
)
def privacy_pseudonymize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent key pseudonymization: customer keys are replaced by a
    peppered hash token on EVERY table that carries them, so analysts
    and training pipelines join on tokens with full referential
    integrity while the raw identifier never leaves ingest — the
    standard privacy posture for shipping event/order data into a
    training corpus. integrity_ok compares every nation's tokenized-join
    count against the plain-key join IN the result, proving the
    tokenization collision-free and consistent per group. Pure
    narrow maps: tokenization adds zero shuffles; the join shuffles on
    the token exactly as it would on the key."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    tok = lambda c: F.md5(F.concat(F.lit("pepper|"), F.col(c).cast("string")))  # noqa: E731
    oc = orders.select(tok("o_custkey").alias("tok"), "o_totalprice")
    cc = cust.select(tok("c_custkey").alias("tok"), "c_nationkey")
    tokjoin = (
        oc.join(cc, "tok")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )
    plain = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_plain"))
    )
    return tokjoin.join(plain, "nationkey").select(
        "nationkey",
        "n_orders",
        "revenue",
        (F.col("n_orders") == F.col("n_plain")).alias("integrity_ok"),
    )


# --- k-anonymity audit ----------------------------------------------------------
_K_ANON = 10


@register(
    "privacy_k_anonymity",
    f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
             AS risky_groups,
           CAST(SUM(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS BIGINT)
             AS risky_rows,
           CAST(MIN(n) AS BIGINT) AS min_group_size,
           ROUND(SUM(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) * 1.0 / SUM(n), 6)
             AS suppression_rate
    FROM g
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair
    (nation, market segment): how many equivalence classes fall below
    k={_K} members, and what fraction of rows would generalization or
    suppression have to touch before release — the pre-publication
    privacy gate for any user-derived training table (the companion of
    privacy_pseudonymize_join, which hides IDs but not quasi-ID
    re-identification). Two map-side-combined aggregations, group-sized
    intermediate — scan-bound at 100 TB.""".replace("{_K}", str(_K_ANON))
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    risky_n = F.sum(F.when(F.col("n") < _K_ANON, F.col("n")).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("n") < _K_ANON, 1).otherwise(0))
        .cast("long")
        .alias("risky_groups"),
        risky_n.cast("long").alias("risky_rows"),
        F.min("n").alias("min_group_size"),
        F.round(risky_n / F.sum("n"), 6).alias("suppression_rate"),
    )


# --- zone-map file skipping: clustered vs row-order layout ----------------------
_ZM_FILES = 64


@register(
    "storage_zonemap_skipping",
    f"""
    WITH mx AS (SELECT MAX(o_custkey) AS m FROM orders),
    bounds AS (SELECT (SELECT m * 45 // 100 FROM mx) AS lo,
                      (SELECT m * 50 // 100 FROM mx) AS hi),
    assigned AS (
      SELECT o_custkey,
             ((o_custkey - 1) * {_ZM_FILES}) // (SELECT m FROM mx) AS f_clustered,
             o_orderkey % {_ZM_FILES} AS f_roworder
      FROM orders),
    zc AS (SELECT f_clustered AS f, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
           FROM assigned GROUP BY f_clustered),
    zr AS (SELECT f_roworder AS f, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
           FROM assigned GROUP BY f_roworder)
    SELECT 'clustered' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN mn <= (SELECT hi FROM bounds)
                          AND mx >= (SELECT lo FROM bounds) THEN 1 ELSE 0 END)
                AS BIGINT) AS files_scanned,
           ROUND(1.0 - SUM(CASE WHEN mn <= (SELECT hi FROM bounds)
                                 AND mx >= (SELECT lo FROM bounds) THEN 1 ELSE 0 END)
                        * 1.0 / COUNT(*), 6) AS skip_rate
    FROM zc
    UNION ALL
    SELECT 'roworder', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN mn <= (SELECT hi FROM bounds)
                          AND mx >= (SELECT lo FROM bounds) THEN 1 ELSE 0 END)
                AS BIGINT),
           ROUND(1.0 - SUM(CASE WHEN mn <= (SELECT hi FROM bounds)
                                 AND mx >= (SELECT lo FROM bounds) THEN 1 ELSE 0 END)
                        * 1.0 / COUNT(*), 6)
    FROM zr
    """,
)
def storage_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer) file-skipping simulation: lay the same
    orders out {N} ways — custkey-CLUSTERED (file = custkey range
    stripe) vs ROW-ORDER (file = arrival hash) — build each file's
    per-column min/max zone map, and measure what fraction of files a
    5%-band custkey predicate can skip. Clustered layout skips ~95% of
    files; row-order skips ~0% because every file's min/max straddles
    the band — THE quantified argument for the z-order/sort-on-write
    operators (operators/storage.py) at 100 TB: identical bytes,
    identical query, 20x less IO. All relational: two group-bys to
    file-count-sized zone maps plus broadcast scalar bounds; no window,
    no sort of the fact table.""".replace("{N}", "2")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    mx = orders.agg(F.max("o_custkey").alias("m"))
    a = (
        orders.crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            ((F.col("o_custkey") - 1) * _ZM_FILES)
            .cast("long")
            .alias("_num"),
            "m",
            (F.col("o_orderkey") % _ZM_FILES).alias("f_roworder"),
        )
        .select(
            "o_custkey",
            F.expr("_num div m").alias("f_clustered"),
            "f_roworder",
            "m",
        )
    )
    bounds = mx.select(
        F.expr("m * 45 div 100").alias("lo"), F.expr("m * 50 div 100").alias("hi")
    )

    def layout(col: str, label: str) -> DataFrame:
        zm = a.groupBy(col).agg(
            F.min("o_custkey").alias("mn"), F.max("o_custkey").alias("mx")
        )
        hit = F.sum(
            F.when((F.col("mn") <= F.col("hi")) & (F.col("mx") >= F.col("lo")), 1)
            .otherwise(0)
        )
        return (
            zm.crossJoin(F.broadcast(bounds))
            .agg(
                F.lit(label).alias("layout"),
                F.count(F.lit(1)).alias("n_files"),
                hit.cast("long").alias("files_scanned"),
                F.round(F.lit(1.0) - hit / F.count(F.lit(1)), 6).alias("skip_rate"),
            )
        )

    return layout("f_clustered", "clustered").unionByName(
        layout("f_roworder", "roworder")
    )


# --- l-diversity audit ----------------------------------------------------------
_L_DIV = 3


@register(
    "privacy_l_diversity",
    f"""
    WITH g AS (
      SELECT c_nationkey, CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             COUNT(*) AS n, COUNT(DISTINCT c_mktsegment) AS n_sensitive
      FROM customer GROUP BY c_nationkey, bal_band)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN 1 ELSE 0 END) AS BIGINT)
             AS risky_groups,
           CAST(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN n ELSE 0 END) AS BIGINT)
             AS risky_rows,
           CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity,
           ROUND(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN n ELSE 0 END) * 1.0
                 / SUM(n), 6) AS exposure_rate
    FROM g
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l={_L}) over quasi-identifier groups
    (nation x account-balance band) with market segment as the
    sensitive attribute: a group can be k-anonymous and still leak —
    if all its members share one segment, membership REVEALS the
    segment. Counts groups whose sensitive-value diversity falls below
    l and the row fraction exposed; the homogeneity-attack companion
    to privacy_k_anonymity. Same two-aggregation shape, group-sized
    intermediates, scan-bound at any scale.""".replace("{_L}", str(_L_DIV))
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("c_mktsegment").alias("n_sensitive"),
    )
    risky_n = F.sum(F.when(F.col("n_sensitive") < _L_DIV, F.col("n")).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("n_sensitive") < _L_DIV, 1).otherwise(0))
        .cast("long")
        .alias("risky_groups"),
        risky_n.cast("long").alias("risky_rows"),
        F.min("n_sensitive").cast("long").alias("min_diversity"),
        F.round(risky_n / F.sum("n"), 6).alias("exposure_rate"),
    )


# --- t-closeness: distributional leakage per quasi-identifier group --------------
_T_CLOSE = 0.2


@register(
    "privacy_t_closeness",
    f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    gdist AS (
      SELECT c_mktsegment, SUM(n) * 1.0 / (SELECT SUM(n) FROM g) AS p
      FROM g GROUP BY c_mktsegment),
    gt AS (SELECT c_nationkey, SUM(n) AS tot FROM g GROUP BY c_nationkey),
    grid AS (
      SELECT gt.c_nationkey, gt.tot, gdist.c_mktsegment, gdist.p,
             COALESCE(g.n, 0) AS n
      FROM gt CROSS JOIN gdist
      LEFT JOIN g ON g.c_nationkey = gt.c_nationkey
                 AND g.c_mktsegment = gdist.c_mktsegment)
    SELECT c_nationkey AS nationkey,
           ROUND(SUM(ABS(n * 1.0 / tot - p)) / 2, 6) AS tvd,
           CAST(ROUND(SUM(ABS(n * 1.0 / tot - p)) / 2, 6) > {_T_CLOSE}
                AS BOOLEAN) AS t_violation
    FROM grid GROUP BY c_nationkey
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (the third rung after k-anonymity and
    l-diversity): per quasi-identifier group (nation), the total
    variation distance between the group's sensitive-attribute
    (market segment) distribution and the GLOBAL one — groups whose
    distribution leans far from global leak the sensitive value even
    when every group is large and diverse. The missing-category terms
    (a nation with zero rows in some segment still contributes p(s)/2)
    are covered by densifying onto the nation × segment grid — a
    |QI-groups| × |sensitive-domain| relation built from two group-sized
    aggregates and a broadcast cross join, so the fact table is scanned
    once and everything downstream is group-sized at any scale."""
    cust = table(spark, sf_dir, "customer")
    with pinned() as pin:
        # 3 group-sized consumers: glob, gt, grid probe
        g = pin(
            cust.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
        )
        glob = (
            g.groupBy("c_mktsegment")
            .agg(F.sum("n").alias("gn"))
            .crossJoin(F.broadcast(g.agg(F.sum("n").alias("_t"))))
            .select("c_mktsegment", (F.col("gn") * 1.0 / F.col("_t")).alias("p"))
        )
        gt = g.groupBy("c_nationkey").agg(F.sum("n").alias("tot"))
        grid = (
            gt.crossJoin(F.broadcast(glob))
            .join(g, ["c_nationkey", "c_mktsegment"], "left")
            .select(
                "c_nationkey",
                "tot",
                "p",
                F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            )
        )
        tvd = F.round(F.sum(F.abs(F.col("n") * 1.0 / F.col("tot") - F.col("p"))) / 2, 6)
        out = grid.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
            tvd.alias("tvd"), (tvd > _T_CLOSE).alias("t_violation")
        )
        out = out.localCheckpoint(eager=True)
    return out


# --- QI generalization: the k-anonymity REPAIR transform ---------------------------
@register(
    "privacy_generalize_qi",
    f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    joined AS (
      SELECT c.c_custkey, c.c_mktsegment, c.c_nationkey, n.n_regionkey, g.n
      FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN g ON g.c_nationkey = c.c_nationkey
              AND g.c_mktsegment = c.c_mktsegment),
    published AS (
      SELECT c_mktsegment,
             CASE WHEN n >= {_K_ANON} THEN 'nation:' || c_nationkey::VARCHAR
                  ELSE 'region:' || n_regionkey::VARCHAR END AS qi_location,
             CAST(n < {_K_ANON} AS BOOLEAN) AS generalized
      FROM joined)
    SELECT qi_location, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(generalized) AS BOOLEAN) AS was_generalized
    FROM published GROUP BY qi_location, c_mktsegment
    """,
)
def privacy_generalize_qi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REPAIR transform behind the privacy_k_anonymity audit:
    customers whose (nation, segment) equivalence class falls below
    k={_K} get their location generalized one rung up the hierarchy
    (nation → region) before release, the standard
    generalization-lattice step — so the published table trades
    precision for group size instead of dropping rows (suppression).
    Group sizes come from one aggregation broadcast back onto the scan
    with the nation→region dim join; the output is the published
    equivalence-class census. Scan-bound, group-sized state, the same
    shape at 100 TB.""".replace("{_K}", str(_K_ANON))
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    joined = (
        cust.select("c_custkey", "c_mktsegment", "c_nationkey")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(g), ["c_nationkey", "c_mktsegment"])
    )
    qi = F.when(
        F.col("n") >= _K_ANON,
        F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")),
    ).otherwise(F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")))
    return (
        joined.select(
            qi.alias("qi_location"),
            "c_mktsegment",
            (F.col("n") < _K_ANON).alias("generalized"),
        )
        .groupBy("qi_location", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("generalized").alias("was_generalized"),
        )
    )


# --- snapshot time travel (Iceberg-lite manifest table) ---------------------------
@register(
    "storage_time_travel",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderdate < DATE '1996-01-01'
    GROUP BY o_orderstatus
    """,
)
def storage_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the Iceberg-lite snapshot table
    (operators/snapshot_table.py): three commits are staged once per
    process — (1) OVERWRITE with pre-1995 orders, (2) APPEND the 1995
    orders, (3) OVERWRITE with post-1996 orders (the 'current' state) —
    and the query reads AS OF snapshot 2, a state the current table no
    longer contains. The oracle reconstructs that exact state straight
    from the orders history (o_orderdate < 1996), so a hash match
    proves the manifest layer serves bygone snapshots bit-exactly. At
    100 TB this is the audit/backfill path the reference's BigQuery
    replace tables cannot answer (sf_html_data.py:185 destroys
    history); commits are rename-atomic, so readers never see a torn
    table (tested under concurrent overwrite in
    tests/test_round8_ops.py)."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    o = table(spark, sf_dir, "orders")
    root = scratch_dir("snaptable", sf_dir)
    t = SnapshotTable(root)
    # guard on the EXPECTED FINAL snapshot id, not table-nonempty: a
    # same-process retry after a crash mid-staging (e.g. after commit 1
    # of 3) must restage from scratch, or read_as_of(2) reads the wrong
    # state — so anything short of the full 3-commit history is wiped
    if t.latest_snapshot_id() != 3:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable(root)
        t.commit_overwrite(o.filter(F.col("o_orderdate") < "1995-01-01"))
        t.commit_append(
            o.filter(
                (F.col("o_orderdate") >= "1995-01-01")
                & (F.col("o_orderdate") < "1996-01-01")
            )
        )
        t.commit_overwrite(o.filter(F.col("o_orderdate") >= "1997-01-01"))
    return (
        t.read_as_of(spark, snapshot_id=2)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "storage_manifest_pruning",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderdate >= DATE '1995-06-01' AND o_orderdate < DATE '1996-01-01'
    GROUP BY 1
    """,
)
def storage_manifest_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-STATS FILE PRUNING (Iceberg scan planning) over the
    snapshot table: orders are committed range-clustered on o_orderdate
    (repartitionByRange -> each parquet file holds a contiguous date
    slice) with per-file min/max recorded in the manifest
    (operators/snapshot_table.py:scan_pruned); the June-Dec-1995 scan
    then plans from PURE MANIFEST ARITHMETIC — no data I/O — and opens
    only the overlapping files, with the residual row filter on top.
    The oracle computes the same aggregate from the raw orders
    relation, so a hash match proves pruning dropped no rows; the
    files-read < files-total assertion lives in
    tests/test_round8_ops.py (the gate's result schema stays
    data-only). This is the needle-in-100 TB read path: time travel
    picks the snapshot, stats pruning picks the files, partition/rowgroup
    pushdown does the rest."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    o = table(spark, sf_dir, "orders")
    root = scratch_dir("snaptable_pruned", sf_dir)
    t = SnapshotTable(root)
    # staging-complete means snapshot 1 exists (single-commit staging;
    # commits are rename-atomic, so a crash mid-commit leaves None and
    # this restages — the expected-final-id guard convention)
    if t.latest_snapshot_id() != 1:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable(root)
        t.commit_overwrite(
            o.repartitionByRange(8, "o_orderdate"),
            stats_cols=("o_orderdate",),
        )
    # bounds chosen to compare correctly against BOTH string renderings
    # a date-ish column can take ('1995-06-01' and '1995-06-01 00:00:00'):
    # lo is date-only (a prefix of any same-day timestamp, so it sorts
    # <= both forms), hi carries the day's max time (sorts >= both)
    lo, hi = "1995-06-01", "1995-12-31 23:59:59.999999"
    df, _read, _total = t.scan_pruned(spark, "o_orderdate", lo, hi)
    return (
        df.filter(
            (F.col("o_orderdate") >= "1995-06-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "storage_manifest_df_scan",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
    GROUP BY 1
    """,
)
def storage_manifest_df_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED scan planning: the manifest itself as a parquet
    side-table (`SnapshotTable.manifest_df`), with file pruning run as
    a Spark filter over it (`scan_pruned_df`) instead of a driver-side
    Python loop — the 100 TB escalation the round-11 manifest probe
    sized (driver JSON planning is flat to ~10^5 files at ~250 B/file;
    past that the manifest must be a relation, which is exactly
    Iceberg's avro manifest-list design). Orders are committed
    range-clustered on o_orderdate with per-file min/max; the Jan-Jun
    1996 scan filters the manifest relation for overlapping files,
    collects only the SURVIVING paths (needle-sized under range
    clustering), and reads those with the residual row filter on top.
    The oracle computes the same aggregate from raw orders, so a hash
    match proves the distributed planner dropped no rows; files_read <
    files_total and parity with the driver-side scan_pruned planner are
    pinned in tests/test_round11_ops.py."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    o = table(spark, sf_dir, "orders")
    root = scratch_dir("snaptable_mdf", sf_dir)
    t = SnapshotTable(root)
    if t.latest_snapshot_id() != 1:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable(root)
        t.commit_overwrite(
            o.repartitionByRange(8, "o_orderdate"),
            stats_cols=("o_orderdate",),
        )
    lo, hi = "1996-01-01", "1996-06-30 23:59:59.999999"
    df, _read, _total = t.scan_pruned_df(spark, "o_orderdate", lo, hi)
    return (
        df.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-07-01")
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


# The orders after the merge twins' upsert: 1995 restated at +10.00,
# 1996 inserted, later years never loaded.
_MERGE_ORACLE = """
    WITH effective AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderdate >= DATE '1995-01-01'
                   AND o_orderdate < DATE '1996-01-01'
                  THEN o_totalprice + 10.0 ELSE o_totalprice END AS price
      FROM orders
      WHERE o_orderdate < DATE '1997-01-01')
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM effective GROUP BY o_orderstatus
    """


def _merge_changes(o: DataFrame) -> DataFrame:
    """The one batch both merge twins upsert by ``o_orderkey``: the 1995
    orders restated at +10.00 and the 1996 orders as inserts."""
    updates = o.filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    ).withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
    inserts = o.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    return updates.unionByName(inserts)


def status_totals(df: DataFrame) -> DataFrame:
    """Order count and total price per ``o_orderstatus``: the read-back of
    every orders snapshot table, here and in the orders ingest streams."""
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )


@register("storage_merge_upsert", _MERGE_ORACLE)
def storage_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the snapshot table (copy-on-write upsert,
    operators/snapshot_table.py:commit_merge): snapshot 1 lands the
    pre-1996 orders; one merge then RESTATES the 1995 rows (price
    +10.00 — additive, the cross-engine-safe restatement shape) and
    INSERTS the 1996 orders in a single atomic commit. The query reads
    the post-merge state; the oracle reconstructs it from the raw
    orders relation (CASE on the restated year), so a hash match proves
    the upsert touched exactly the matched keys — and the pre-merge
    snapshot remains time-travelable (asserted in
    tests/test_round8_ops.py). This is the reference's
    if_exists='replace' upgraded to keyed upserts with history, the
    piece BigQuery DML did for it (SURVEY.md K1/K2)."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    o = table(spark, sf_dir, "orders")
    root = scratch_dir("snaptable_merge", sf_dir)
    t = SnapshotTable(root)
    # expected-final-id guard: staging is 2 commits (overwrite + merge);
    # a retry after a crash between them must wipe and restage, or the
    # read below serves the pre-merge state
    if t.latest_snapshot_id() != 2:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable(root)
        t.commit_overwrite(o.filter(F.col("o_orderdate") < "1996-01-01"))
        t.commit_merge(_merge_changes(o), key_cols=["o_orderkey"])
    return status_totals(t.read_as_of(spark))


@register("storage_merge_on_read", _MERGE_ORACLE)
def storage_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME upsert as storage_merge_upsert, committed MERGE-ON-READ
    (operators/snapshot_table.py:commit_merge_on_read — Iceberg v2
    equality deletes): the merge writes only the incoming rows plus a
    key-only delete file; the reader anti-joins the broadcast delete
    keys against the seq-older data dirs at scan time. Registered
    against the IDENTICAL oracle as the copy-on-write twin, so the gate
    proves delete-file semantics == full-rewrite semantics row for row
    — including the seq scoping that keeps the merge's own rows alive.
    The staging then runs compact_deletes (Iceberg rewrite_data_files)
    and the query reads the COMPACTED snapshot, so the fold-in path is
    what the oracle certifies end-to-end; the pre-compaction MOR
    snapshot stays time-travelable (tests assert both reads agree).
    Write cost O(increment), read amplification bounded by maintenance
    — the heavy-update posture copy-on-write cannot afford at 100 TB."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    o = table(spark, sf_dir, "orders")
    root = scratch_dir("snaptable_mor", sf_dir)
    t = SnapshotTable(root)
    # expected-final-id guard: staging is 3 commits (overwrite +
    # merge-on-read + compaction); anything short restages from scratch
    if t.latest_snapshot_id() != 3:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable(root)
        t.commit_overwrite(o.filter(F.col("o_orderdate") < "1996-01-01"))
        t.commit_merge_on_read(_merge_changes(o), key_cols=["o_orderkey"])
        t.compact_deletes(spark)
    return status_totals(t.read_as_of(spark))


@register(
    "storage_point_lookup_bloom",
    """
    WITH needle AS (
      SELECT MIN(o_custkey) AS k FROM orders
      WHERE o_custkey % 1000 = 7)
    SELECT o.o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
             AS DOUBLE) AS total_price
    FROM orders o JOIN needle n ON o.o_custkey = n.k
    GROUP BY o.o_custkey
    """,
)
def storage_point_lookup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER POINT LOOKUP over the snapshot table (Iceberg's
    puffin secondary-stats shape, operators/snapshot_table.py
    scan_point): orders are committed hash-scattered on o_custkey — the
    layout where per-file [min,max] range stats are USELESS for a point
    predicate (every file spans nearly the whole key range, so range
    pruning opens everything) — with per-file Bloom bitmaps over the
    key recorded in the manifest at write time. The lookup hashes the
    needle with the same engine hash (type-cast to the column type) and
    opens only the files whose bitmap claims the key (~2% false-positive
    file rate at the default 16 Kb/4-hash sizing). The oracle computes
    the identical aggregate from the raw relation, so a hash match
    proves the skip dropped no rows; the files_read << files_total
    assertion lives in tests/test_round10_ops.py. At 100 TB this is the
    "which shard holds this customer" path a support lookup or GDPR
    locate takes — manifest arithmetic + a couple of file reads, never
    a table scan."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    o = table(spark, sf_dir, "orders")
    root = scratch_dir("snaptable_bloom", sf_dir)
    t = SnapshotTable(root)
    if t.latest_snapshot_id() != 1:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable(root)
        # hash-scatter: every file holds keys from the full range —
        # exactly the layout that defeats range stats (the adversarial
        # case for scan_pruned, the home game for scan_point)
        t.commit_overwrite(
            o.repartition(8, "o_custkey"), bloom_cols=("o_custkey",)
        )
    needle = (
        o.filter(F.col("o_custkey") % 1000 == 7)
        .agg(F.min("o_custkey"))
        .collect()[0][0]
    )
    df, _read, _total = t.scan_point(spark, "o_custkey", needle)
    return (
        df.filter(F.col("o_custkey") == needle)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "storage_zorder_box_scan",
    """
    WITH b AS (SELECT MIN(o_custkey) AS cmn, MAX(o_custkey) AS cmx
               FROM orders),
    box AS (SELECT cmn + (cmx - cmn) * 2 // 5 AS clo,
                   cmn + (cmx - cmn) * 3 // 5 AS chi
            FROM b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
             AS DOUBLE) AS total_price
    FROM orders, box
    WHERE o_custkey BETWEEN box.clo AND box.chi
      AND o_orderdate >= DATE '1994-01-01'
      AND o_orderdate <= DATE '1994-03-31'
    """,
)
def storage_zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER + MULTI-COLUMN MANIFEST PRUNING, end to end: orders are
    committed Morton-clustered on (o_custkey, day) — each file owns a
    compact RECTANGLE in customer x time space — with typed per-file
    min/max for BOTH columns in the manifest; a 2-D box predicate (a
    customer band in a quarter) then plans via
    ``SnapshotTable.scan_pruned_multi``, which drops every file whose
    rectangle is disjoint from the box on EITHER axis. A 1-D
    range-clustered layout can only prune its leading column — the
    box's time axis would touch every custkey-matching file; Z-order is
    what makes BOTH filters file-skipping (Delta/Iceberg OPTIMIZE
    ZORDER, built from plain integer arithmetic in
    operators/storage.py). The oracle computes the identical aggregate
    from the raw relation; the files_read(zorder) < files_read(1-D)
    assertion lives in tests/test_round10_ops.py."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable
    from ug_dwh_etl_spark.operators.storage import zorder_frame

    o = table(spark, sf_dir, "orders").withColumn(
        "day", F.datediff("o_orderdate", F.lit("1990-01-01")).cast("long")
    )
    root = scratch_dir("snaptable_zorder", sf_dir)
    t = SnapshotTable(root)
    if t.latest_snapshot_id() != 1:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable(root)
        t.commit_overwrite(
            zorder_frame(o, "o_custkey", "day", n_files=16),
            stats_cols=("o_custkey", "day"),
        )
    cmn, cmx = o.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    clo = cmn + (cmx - cmn) * 2 // 5
    chi = cmn + (cmx - cmn) * 3 // 5
    import datetime

    d0 = datetime.date(1990, 1, 1)
    dlo = (datetime.date(1994, 1, 1) - d0).days
    dhi = (datetime.date(1994, 3, 31) - d0).days
    df, _read, _total = t.scan_pruned_multi(
        spark, {"o_custkey": (clo, chi), "day": (dlo, dhi)}
    )
    return df.filter(
        F.col("o_custkey").between(clo, chi) & F.col("day").between(dlo, dhi)
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )


@register(
    "storage_wap_publish",
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
def storage_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH on the snapshot table (the Iceberg WAP
    recipe, operators/snapshot_table.py:stage_append/publish_branch):
    snapshot 1 publishes the pre-1996 orders on main; the 1996-97 batch
    is then STAGED on an ``audit`` branch — deliberately dirty (it
    carries post-1997 rows, violating the freshness contract). The DQ
    gate (operators/quality.py:expect — the reference's abort-on-bad-
    fetch check, `sf_html_data.py:95-105`, pointed at staged data
    instead of a live table) reads the BRANCH, fails, and the branch is
    dropped and re-staged with the violating rows filtered; the second
    audit passes and publish_branch fast-forwards LATEST. The query
    reads main AFTER the full cycle; the oracle reconstructs the same
    state from the raw orders relation, so a hash match proves the bad
    batch never reached a main reader and the good one landed intact —
    while it was staged, main served snapshot 1 only (asserted in
    tests/test_round10_ops.py). At 100 TB this is the only safe shape
    for gated ingestion: the audit costs a branch read, a failed audit
    costs a pointer delete, and no reader ever sees a half-validated
    table."""

    from ug_dwh_etl_spark.operators.quality import expect
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    o = table(spark, sf_dir, "orders")
    root = scratch_dir("snaptable_wap", sf_dir)
    t = SnapshotTable(root)
    # expected-final-state guard: LATEST == 2 (drop_branch reclaims the
    # failed stage's id, so the published head is v2) and no leftover
    # branch pointer — anything else restages from scratch
    if t.latest_snapshot_id() != 2 or t.branch_head("audit") is not None:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable(root)
        t.commit_overwrite(o.filter(F.col("o_orderdate") < "1996-01-01"))
        dirty = o.filter(F.col("o_orderdate") >= "1996-01-01")
        t.stage_append(dirty, branch="audit")
        fresh_ok = expect(
            t.read_as_of(spark, branch="audit"),
            F.col("o_orderdate") >= "1997-01-01",
            "freshness",
            "staged batch carries post-1996 rows",
        )
        if not fresh_ok:
            t.drop_branch("audit")
            t.stage_append(
                dirty.filter(F.col("o_orderdate") < "1997-01-01"),
                branch="audit",
            )
            # fail=True: a re-staged batch that still violates the
            # contract aborts the pipeline instead of publishing
            expect(
                t.read_as_of(spark, branch="audit"),
                F.col("o_orderdate") >= "1997-01-01",
                "freshness",
                "staged batch carries post-1996 rows",
                fail=True,
            )
        t.publish_branch("audit")
    return status_totals(t.read_as_of(spark))


@register(
    "storage_partition_evolution",
    """
    WITH eras AS (
      SELECT strftime(o_orderdate, '%Y') AS o_year, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate < DATE '1997-01-01')
    SELECT o_year, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM eras GROUP BY o_year, o_orderstatus
    """,
)
def storage_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION SPEC EVOLUTION (Iceberg) on the snapshot table: three
    eras of orders land under three DIFFERENT partition specs — commit 1
    unpartitioned (the table's early life), commit 2 identity-partitioned
    on o_year, commit 3 on (o_year, o_orderstatus) — with zero rewrites
    of prior dirs; each data dir carries the spec it was written under
    (operators/snapshot_table.py: manifest 'specs'), reads reconcile the
    mixed layouts per-dir with partition values restored from directory
    names and CAST back to the tracked schema type (never left to
    directory-name inference), and manifest file stats keep pruning
    spec-agnostically. The oracle computes the same aggregate straight
    from orders — a hash match proves the layout change is invisible to
    query results, which is the entire contract of partition evolution:
    repartition the FUTURE of a 100 TB table (finer grain as it grows)
    without a rewrite job over its past."""
    from ug_dwh_etl_spark.operators.snapshot_table import SnapshotTable

    o = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.date_format("o_orderdate", "yyyy")
    ).select("o_orderkey", "o_year", "o_orderstatus", "o_totalprice", "o_orderdate")
    root = scratch_dir("snaptable_spec", sf_dir)
    t = SnapshotTable(root)
    if t.latest_snapshot_id() != 3:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = SnapshotTable(root)
        t.commit_overwrite(
            o.filter(F.col("o_orderdate") < "1994-01-01"), stats_cols=("o_orderdate",)
        )
        t.commit_append(
            o.filter(
                (F.col("o_orderdate") >= "1994-01-01")
                & (F.col("o_orderdate") < "1996-01-01")
            ),
            stats_cols=("o_orderdate",),
            partition_by=("o_year",),
        )
        t.commit_append(
            o.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ),
            stats_cols=("o_orderdate",),
            partition_by=("o_year", "o_orderstatus"),
        )
    return (
        t.read_as_of(spark)
        .groupBy("o_year", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )
