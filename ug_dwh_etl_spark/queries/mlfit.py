"""Closed-form model fitting, selection, estimation, and imputation.

The in-warehouse ML and estimation shapes a training-data platform
runs before (or instead of) shipping data to a dedicated trainer:
multivariate OLS / ridge / one logistic Newton step by normal
equations (single-pass mergeable moments — the same shuffle shape as
a SUM at any scale), MMR diverse top-k selection over embeddings, the
stationary distribution of the event-transition Markov chain by
unrolled power iteration, group-median imputation of masked values,
Horvitz-Thompson approximate query processing off a deterministic
sample, PACF by Durbin-Levinson, Theil inequality indices, OHLC bar
resampling, Warner randomized response with debiasing, and quantiles
by bisection (no sort at any scale).

Reference anchor: the public reference fits nothing in-engine (its
pandas scripts hand everything to BigQuery / downstream notebooks,
e.g. sf_html_data.py's plain aggregation before export), so these are
extensions in the SURVEY.md LLM-pipeline direction, built on the same
moment aggregates the relational layer already proves
(`agg_regression_price_qty`, `fit_price_trend_pandas`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from ug_dwh_etl_spark.queries.registry import register, table
from ug_dwh_etl_spark.session import pinned

# ---------------------------------------------------------------------------
# multivariate OLS via normal equations (centered 2x2 Cramer solve)
# ---------------------------------------------------------------------------
# Shared aggregate plan: one pass computing population (co)variances —
# all mergeable moments, so the physical plan is partial-aggregate +
# one shuffle regardless of input size. The 2x2 solve happens on the
# single aggregated row.

# The means and population (co)variances of quantity, discount and price:
# a SELECT list with no FROM, to which the caller may add columns before
# its ``FROM lineitem``.
_OLS_MOMENTS_SQL = """SELECT CAST(COUNT(*) AS BIGINT) AS n,
             AVG(l_quantity)       AS mx1,
             AVG(l_discount)       AS mx2,
             AVG(l_extendedprice)  AS my,
             var_pop(l_quantity)   AS s11,
             var_pop(l_discount)   AS s22,
             covar_pop(l_quantity, l_discount)      AS s12,
             covar_pop(l_quantity, l_extendedprice) AS s1y,
             covar_pop(l_discount, l_extendedprice) AS s2y"""

_OLS_SQL = f"""
    WITH m AS (
      {_OLS_MOMENTS_SQL},
             var_pop(l_extendedprice) AS syy
      FROM lineitem),
    b AS (
      SELECT n, mx1, mx2, my, s1y, s2y, syy,
             (s1y * s22 - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
             (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2
      FROM m)
    SELECT n,
           ROUND(my - b1 * mx1 - b2 * mx2, 4) AS b0,
           ROUND(b1, 4) AS b1,
           ROUND(b2, 4) AS b2,
           ROUND((b1 * s1y + b2 * s2y) / syy, 6) AS r2
    FROM b
"""


def _ols_moments(li: DataFrame) -> DataFrame:
    q, d, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(q).alias("mx1"),
        F.avg(d).alias("mx2"),
        F.avg(y).alias("my"),
        F.var_pop(q).alias("s11"),
        F.var_pop(d).alias("s22"),
        F.covar_pop(q, d).alias("s12"),
        F.covar_pop(q, y).alias("s1y"),
        F.covar_pop(d, y).alias("s2y"),
        F.var_pop(y).alias("syy"),
    )


@register("fit_ols_normal_equations", _OLS_SQL)
def fit_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate OLS (extendedprice ~ quantity + discount) by NORMAL
    EQUATIONS: one pass of mergeable moments (var_pop / covar_pop,
    Welford-style partials map-side), then a 2x2 Cramer solve on the
    centered scatter matrix and intercept recovery from the means.
    This is the 100 TB regression recipe — the data is touched once,
    the shuffle carries ten doubles per partition, and the solve is
    O(d^3) on one row. R^2 falls out of the same moments
    ((b'S_xy)/S_yy). Oracle computes the identical closed form in
    DuckDB, so coefficients match to the rounded digit."""
    m = _ols_moments(table(spark, sf_dir, "lineitem"))
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1y") * F.col("s22") - F.col("s12") * F.col("s2y")) / det
    b2 = (F.col("s11") * F.col("s2y") - F.col("s12") * F.col("s1y")) / det
    b = m.select("n", "mx1", "mx2", "my", "s1y", "s2y", "syy", b1.alias("b1"), b2.alias("b2"))
    return b.select(
        "n",
        F.round(F.col("my") - F.col("b1") * F.col("mx1") - F.col("b2") * F.col("mx2"), 4).alias("b0"),
        F.round("b1", 4).alias("b1"),
        F.round("b2", 4).alias("b2"),
        F.round((F.col("b1") * F.col("s1y") + F.col("b2") * F.col("s2y")) / F.col("syy"), 6).alias("r2"),
    )


_RIDGE_LAMBDA = 0.5

_RIDGE_SQL = f"""
    WITH m AS (
      {_OLS_MOMENTS_SQL}
      FROM lineitem),
    b AS (
      SELECT n, mx1, mx2, my,
             (s1y * (s22 + {_RIDGE_LAMBDA}) - s12 * s2y)
               / ((s11 + {_RIDGE_LAMBDA}) * (s22 + {_RIDGE_LAMBDA}) - s12 * s12) AS b1,
             ((s11 + {_RIDGE_LAMBDA}) * s2y - s12 * s1y)
               / ((s11 + {_RIDGE_LAMBDA}) * (s22 + {_RIDGE_LAMBDA}) - s12 * s12) AS b2
      FROM m)
    SELECT n,
           {_RIDGE_LAMBDA} AS lambda,
           ROUND(my - b1 * mx1 - b2 * mx2, 4) AS b0,
           ROUND(b1, 4) AS b1,
           ROUND(b2, 4) AS b2
    FROM b
"""


@register("fit_ridge_closed_form", _RIDGE_SQL)
def fit_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression in closed form: the same single-pass moments as
    `fit_ols_normal_equations`, with lambda added to the diagonal of
    the population covariance matrix before the 2x2 solve (intercept
    unpenalized, recovered from the means — the standard centered-ridge
    convention). Shrinks the near-collinear discount coefficient
    visibly vs the OLS twin while touching the data exactly once."""
    lam = F.lit(_RIDGE_LAMBDA)
    m = _ols_moments(table(spark, sf_dir, "lineitem"))
    det = (F.col("s11") + lam) * (F.col("s22") + lam) - F.col("s12") * F.col("s12")
    b1 = (F.col("s1y") * (F.col("s22") + lam) - F.col("s12") * F.col("s2y")) / det
    b2 = ((F.col("s11") + lam) * F.col("s2y") - F.col("s12") * F.col("s1y")) / det
    b = m.select("n", "mx1", "mx2", "my", b1.alias("b1"), b2.alias("b2"))
    return b.select(
        "n",
        lam.alias("lambda"),
        F.round(F.col("my") - F.col("b1") * F.col("mx1") - F.col("b2") * F.col("mx2"), 4).alias("b0"),
        F.round("b1", 4).alias("b1"),
        F.round("b2", 4).alias("b2"),
    )


# ---------------------------------------------------------------------------
# one logistic-regression Newton step (IRLS reduced to least squares)
# ---------------------------------------------------------------------------
_LOGREG_SQL = """
    WITH src AS (
      SELECT l_quantity AS x1, l_discount AS x2,
             CASE WHEN l_returnflag = 'R' THEN 2.0 ELSE -2.0 END AS z
      FROM lineitem),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             AVG(x1) AS mx1, AVG(x2) AS mx2, AVG(z) AS mz,
             var_pop(x1) AS s11, var_pop(x2) AS s22,
             covar_pop(x1, x2) AS s12,
             covar_pop(x1, z) AS s1z, covar_pop(x2, z) AS s2z
      FROM src),
    b AS (
      SELECT n, mx1, mx2, mz,
             (s1z * s22 - s12 * s2z) / (s11 * s22 - s12 * s12) AS b1,
             (s11 * s2z - s12 * s1z) / (s11 * s22 - s12 * s12) AS b2
      FROM m),
    c AS (
      SELECT n,
             ROUND(mz - b1 * mx1 - b2 * mx2, 6) AS b0,
             ROUND(b1, 6) AS b1,
             ROUND(b2, 6) AS b2
      FROM b)
    SELECT n, b0, b1, b2,
           ROUND(1.0 / (1.0 + exp(-(b0 + 10.0 * b1 + 0.05 * b2))), 6)
             AS p_qty10_disc005
    FROM c
"""


@register("fit_logreg_newton_step", _LOGREG_SQL)
def fit_logreg_newton_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Newton/IRLS step of logistic regression
    (P(returnflag='R') ~ quantity + discount) from beta = 0. At the
    zero start the Hessian is X'X/4 and the gradient X'(y - 1/2), so
    the step equals an ORDINARY least-squares fit of the pseudo-target
    z = 4(y - 1/2) in {-2, +2} — the same single-pass moments + 2x2
    Cramer solve as `fit_ols_normal_equations`, which is exactly how a
    distributed IRLS iteration runs at 100 TB (each step = one moment
    pass + tiny solve; full IRLS is this query looped with reweighted
    moments). Reports the step's coefficients and the predicted
    probability at a fixed probe point (qty=10, discount=0.05),
    computed from the ROUNDED coefficients so both engines feed exp()
    bit-identical inputs."""
    li = table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.when(F.col("l_returnflag") == "R", F.lit(2.0)).otherwise(F.lit(-2.0)).alias("z"),
    )
    x1, x2, z = F.col("x1"), F.col("x2"), F.col("z")
    m = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(x1).alias("mx1"),
        F.avg(x2).alias("mx2"),
        F.avg(z).alias("mz"),
        F.var_pop(x1).alias("s11"),
        F.var_pop(x2).alias("s22"),
        F.covar_pop(x1, x2).alias("s12"),
        F.covar_pop(x1, z).alias("s1z"),
        F.covar_pop(x2, z).alias("s2z"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1z") * F.col("s22") - F.col("s12") * F.col("s2z")) / det
    b2 = (F.col("s11") * F.col("s2z") - F.col("s12") * F.col("s1z")) / det
    c = m.select(
        "n",
        F.round(F.col("mz") - b1 * F.col("mx1") - b2 * F.col("mx2"), 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
    )
    eta = F.col("b0") + F.lit(10.0) * F.col("b1") + F.lit(0.05) * F.col("b2")
    return c.select(
        "n", "b0", "b1", "b2",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-eta)), 6).alias("p_qty10_disc005"),
    )


# ---------------------------------------------------------------------------
# ROC-AUC + calibration readout for in-warehouse classifiers
# ---------------------------------------------------------------------------
# Each order's day ``d`` and its propensity label ``y`` (a hash coin
# weighted by where ``d`` falls between the first and last order day):
# the scored fixture of the AUC oracles. It ends inside the ``base`` CTE's
# SELECT list, after ``y``: the caller may add columns and closes the CTE
# with ``FROM raw, bounds)``.
_AUC_LABEL_SQL = """raw AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS u
      FROM orders),
    bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM raw),
    base AS (
      SELECT d,
             CASE WHEN u < ((d - dmin) * 10000) // (dmax - dmin)
                  THEN 1 ELSE 0 END AS y"""
_AUC_SQL = f"""
    WITH {_AUC_LABEL_SQL}
      FROM raw, bounds),
    pv AS (SELECT d,
                  CAST(SUM(y) AS BIGINT) AS ca,
                  CAST(SUM(1 - y) AS BIGINT) AS cb
           FROM base GROUP BY 1),
    w AS (SELECT ca, cb, ca + cb AS c,
                 COALESCE(SUM(ca + cb) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
          FROM pv),
    agg AS (SELECT CAST(SUM(ca) AS BIGINT) AS npos,
                   CAST(SUM(cb) AS BIGINT) AS nneg,
                   CAST(SUM(ca * (2 * less + c + 1)) AS BIGINT) AS r2pos
            FROM w),
    auc AS (SELECT npos, nneg,
                   ROUND((r2pos - npos * (npos + 1))
                         / (2.0 * npos * nneg), 6) AS auc
            FROM agg),
    cal AS (
      SELECT LEAST(((d - dmin) * 10) // (dmax - dmin), 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(SUM(d - dmin) * 1.0
                   / (COUNT(*) * ANY_VALUE(dmax - dmin)), 6) AS mean_pred,
             ROUND(SUM(y) * 1.0 / COUNT(*), 6) AS obs_rate
      FROM base, bounds GROUP BY 1)
    SELECT CAST(bin AS BIGINT) AS bin, n_orders, mean_pred, obs_rate,
           npos, nneg, auc
    FROM cal CROSS JOIN auc
"""


@register("fit_auc_roc", _AUC_SQL)
def fit_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC + 10-bin RELIABILITY (calibration) table — the acceptance
    readout the fit family (logistic Newton, Naive Bayes langid,
    boosting stump, depth-2 tree) ships its models against. Model under
    test: the monotone scorer s = minmax(epoch_day(o_orderdate)), with
    labels DRAWN AT the scorer's own propensity — y = 1 iff the shared
    deterministic md5 uniform (operators/hashing.py, the bootstrap/AQP
    sampler) falls below s — so the model is PERFECTLY CALIBRATED by
    construction (each reliability bin reads obs_rate ~ mean_pred, the
    pattern a healthy model shows) and AUC sits at the theoretical
    5/6 for a uniform score that equals the true propensity (any
    mis-implementation of ranks or ties moves it). AUC is the Mann-Whitney
    statistic AUC = U_pos/(n_pos*n_neg) via the SAME exact-integer
    doubled-rank helper as events_ab_mannwhitney (queries/events.py
    doubled_rank_sums): ranks depend only on score ORDER, so they run on
    the raw integer day — no float enters until the final division of
    identical BIGINTs. The calibration bin least(10*(d-dmin)//(dmax-
    dmin), 9) and per-bin mean prediction are exact integer/rational
    arithmetic too. Scale shape: one grouped count per distinct day; the
    cumulative rank window runs over DISTINCT DAYS (calendar-bounded,
    ~2.4k rows at any SF), never over orders; the AUC scalar broadcasts
    into the 10-row calibration table. Reference parity: the reference
    ships model fits with no acceptance metric (SURVEY.md §2 fit
    family); this is the standard evaluation companion."""
    from ug_dwh_etl_spark.queries.events import doubled_rank_sums

    from ug_dwh_etl_spark.operators.hashing import md5_long

    o = table(spark, sf_dir, "orders")
    raw = o.select(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("d"),
        (md5_long(F.col("o_orderkey").cast("string"), 8) % 10000).alias("u"),
    )
    bounds = raw.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    base = raw.crossJoin(F.broadcast(bounds)).select(
        "d",
        "dmin",
        "dmax",
        F.when(
            F.col("u") < F.expr("((d - dmin) * 10000) div (dmax - dmin)"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    pv = base.groupBy("d").agg(
        F.sum("y").cast("long").alias("ca"),
        F.sum(1 - F.col("y")).cast("long").alias("cb"),
    )
    agg = doubled_rank_sums(pv, [], "d")
    auc = agg.select(
        F.col("na").alias("npos"),
        F.col("nb").alias("nneg"),
        F.round(
            (F.col("r2a") - F.col("na") * (F.col("na") + 1))
            / (2.0 * F.col("na") * F.col("nb")),
            6,
        ).alias("auc"),
    )
    cal = (
        base
        .groupBy(
            F.least(
                F.expr("((d - dmin) * 10) div (dmax - dmin)"),
                F.lit(9).cast("long"),
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("d") - F.col("dmin"))
                * 1.0
                / (F.count(F.lit(1)) * F.first(F.col("dmax") - F.col("dmin"))),
                6,
            ).alias("mean_pred"),
            F.round(F.sum("y") * 1.0 / F.count(F.lit(1)), 6).alias("obs_rate"),
        )
    )
    return cal.crossJoin(F.broadcast(auc)).select(
        "bin", "n_orders", "mean_pred", "obs_rate", "npos", "nneg", "auc"
    )


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) diverse top-k selection
# ---------------------------------------------------------------------------
_MMR_QUERY_ID = 0
_MMR_POOL = 12
_MMR_K = 5
_MMR_LAMBDA = 0.7


# oracle-side cosine comes from the shared helper so the 6dp rounding
# that guarantees cross-engine tie-breaking lives in ONE place
from ug_dwh_etl_spark.operators.similarity import duck_cosine_sql as _duck_cos


def _mmr_sql() -> str:
    lam, mu = _MMR_LAMBDA, round(1.0 - _MMR_LAMBDA, 6)
    parts = [
        "base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"q AS (SELECT e AS qe FROM base WHERE vec_id = {_MMR_QUERY_ID})",
        f"""cand AS (
      SELECT b.vec_id, b.e, {_duck_cos('b.e', 'q.qe')} AS rel
      FROM base b, q WHERE b.vec_id <> {_MMR_QUERY_ID}
      ORDER BY list_dot_product(b.e, q.qe)
               / (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(q.qe, q.qe)))
               DESC, b.vec_id
      LIMIT {_MMR_POOL})""",
        "s1 AS (SELECT vec_id, e, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1)",
        f"""m1 AS (
      SELECT c.vec_id, c.e, c.rel, {_duck_cos('c.e', 's1.e')} AS msim
      FROM cand c, s1 WHERE c.vec_id <> s1.vec_id)""",
    ]
    for k in range(2, _MMR_K + 1):
        parts.append(
            f"""s{k} AS (
      SELECT vec_id, e, rel, ROUND({lam} * rel - {mu} * msim, 6) AS score
      FROM m{k - 1} ORDER BY score DESC, vec_id LIMIT 1)"""
        )
        if k < _MMR_K:
            parts.append(
                f"""m{k} AS (
      SELECT m.vec_id, m.e, m.rel,
             GREATEST(m.msim, {_duck_cos('m.e', f's{k}.e')}) AS msim
      FROM m{k - 1} m, s{k} WHERE m.vec_id <> s{k}.vec_id)"""
            )
    selects = [
        "SELECT 1 AS step, (SELECT vec_id FROM s1) AS vec_id,"
        " (SELECT rel FROM s1) AS mmr_score"
    ]
    for k in range(2, _MMR_K + 1):
        selects.append(
            f"SELECT {k}, (SELECT vec_id FROM s{k}), (SELECT score FROM s{k})"
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@register("sim_mmr_selection", _mmr_sql())
def sim_mmr_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal marginal relevance) diverse top-k: from the
    {pool}-candidate relevance pool around query vector {qid}, greedily
    pick {k} items maximizing lambda*relevance - (1-lambda)*max-
    similarity-to-already-picked — the canonical redundancy-free
    retrieval / training-example selection step (dedup-aware RAG
    context packing, diverse eval-set sampling).

    Scale shape mirrors `sim_farthest_first_centroids`: the relevance
    pool is a distributed brute-force (or IVF) top-N — the only part
    that touches the corpus — and each greedy round is ONE scan of the
    surviving pool updating max-sim against the newest pick (a
    broadcast 1-row frame) plus a 1-row min-struct argmax. O(K*pool)
    after the top-N, never K x corpus. Relevance and similarity are
    rounded to 6dp before scoring so both engines tie-break
    identically; ties fall to min vec_id. The oracle unrolls the same
    greedy recursion as chained CTEs."""
    from ug_dwh_etl_spark.operators.similarity import cosine

    base = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("e")
    )
    q = base.filter(F.col("vec_id") == _MMR_QUERY_ID).select(F.col("e").alias("qe"))
    cand = (
        base.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "e", cosine("e", "qe").alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .select("vec_id", "e", F.round("cos_raw", 6).alias("rel"))
        # the ONLY corpus-sized job: materialize the 12-row pool once so
        # the K greedy rounds below never re-derive the top-N scan (same
        # lineage-cut discipline as operators.graph's loops)
        .localCheckpoint()
    )
    # greedy pick 1: pure relevance, min-id tie-break (min of struct on
    # (-rel, vec_id) — floats negate exactly)
    s1 = (
        cand.agg(F.min(F.struct((-F.col("rel")).alias("nr"), F.col("vec_id"))).alias("m"))
        .select(F.col("m.vec_id").alias("pick_id"))
    )
    picked = cand.join(F.broadcast(s1), cand.vec_id == F.col("pick_id")).select(
        F.col("vec_id").alias("p_id"), F.col("e").alias("pe")
    )
    out_rows = [
        cand.join(F.broadcast(s1), cand.vec_id == F.col("pick_id"))
        .select(F.lit(1).alias("step"), "vec_id", F.col("rel").alias("mmr_score"))
    ]
    pool = (
        cand.crossJoin(F.broadcast(picked))
        .filter(F.col("vec_id") != F.col("p_id"))
        .select("vec_id", "e", "rel", F.round(cosine("e", "pe"), 6).alias("msim"))
    )
    lam, mu = F.lit(_MMR_LAMBDA), F.lit(round(1.0 - _MMR_LAMBDA, 6))
    for k in range(2, _MMR_K + 1):
        # per-round lineage cut on the <=12-row pool: the argmax agg, the
        # emitted row, AND next round's pool update all branch from this
        # relation, and Spark shares no subplans across union branches —
        # without the cut each branch re-executes every earlier round
        # (measured 12.4s -> ~3s for K=5)
        scored = pool.withColumn(
            "score", F.round(lam * F.col("rel") - mu * F.col("msim"), 6)
        ).localCheckpoint()
        sk = (
            scored.agg(
                F.min(F.struct((-F.col("score")).alias("ns"), F.col("vec_id"))).alias("m")
            )
            .select(F.col("m.vec_id").alias("pick_id"))
        )
        out_rows.append(
            scored.join(F.broadcast(sk), scored.vec_id == F.col("pick_id")).select(
                F.lit(k).alias("step"), "vec_id", F.col("score").alias("mmr_score")
            )
        )
        if k < _MMR_K:
            picked = scored.join(
                F.broadcast(sk), scored.vec_id == F.col("pick_id")
            ).select(F.col("vec_id").alias("p_id"), F.col("e").alias("pe"))
            pool = (
                scored.drop("score")
                .crossJoin(F.broadcast(picked))
                .filter(F.col("vec_id") != F.col("p_id"))
                .select(
                    "vec_id", "e", "rel",
                    F.greatest(F.col("msim"), F.round(cosine("e", "pe"), 6)).alias("msim"),
                )
            )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out


# docstring placeholders
sim_mmr_selection.__doc__ = sim_mmr_selection.__doc__.replace(
    "{pool}", str(_MMR_POOL)
).replace("{qid}", str(_MMR_QUERY_ID)).replace("{k}", str(_MMR_K))


# ---------------------------------------------------------------------------
# Markov stationary distribution by unrolled power iteration
# ---------------------------------------------------------------------------
_MARKOV_ITERS = 8


def _markov_sql() -> str:
    parts = [
        """seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events)""",
        "cnt AS (SELECT cur, nxt, COUNT(*) AS c FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt)",
        """p AS (
      SELECT cur, nxt, ROUND(c * 1.0 / SUM(c) OVER (PARTITION BY cur), 6) AS prob
      FROM cnt)""",
        # uniform start derived from the DATA's state set (not a constant:
        # a fixture with more/fewer event types must still start at a
        # probability vector summing to 1 on both engines)
        "k AS (SELECT CAST(COUNT(DISTINCT cur) AS DOUBLE) AS k FROM cnt)",
        "pi0 AS (SELECT DISTINCT cur AS et, 1.0 / k.k AS pi FROM cnt CROSS JOIN k)",
    ]
    for i in range(1, _MARKOV_ITERS + 1):
        parts.append(
            f"""pi{i} AS (
      SELECT p.nxt AS et, ROUND(SUM(pi{i - 1}.pi * p.prob), 6) AS pi
      FROM pi{i - 1} JOIN p ON p.cur = pi{i - 1}.et
      GROUP BY p.nxt)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT et AS event_type, pi FROM pi{_MARKOV_ITERS}"
    )


@register("events_markov_stationary", _markov_sql())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain: the
    row-normalized event-type transition matrix (the
    `events_transition_matrix` relation) power-iterated from the
    uniform distribution for a fixed 8 rounds — the long-run share of
    attention each event type captures, the 5-state cousin of PageRank.

    Scale split: estimating P is the only corpus-sized work (one
    sessionized window + one groupBy over the full event log); the
    iteration then runs on a |types| x |types| relation — 25 rows here,
    thousands at worst — so each round is a broadcast join + tiny
    aggregate, nothing iterates over the log. Probabilities and each
    pi update are rounded to 6dp on both engines so the fixed-point
    arithmetic matches; the oracle unrolls the same 8 steps as chained
    CTEs."""
    from ug_dwh_etl_spark.queries.registry import read_events

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    cnt = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("cur")
    # materialize the |types|^2 transition relation once — the 8 rounds
    # below must iterate over 25 rows, not re-derive the event-log scan
    p = cnt.select(
        "cur", "nxt", F.round(F.col("c") / F.sum("c").over(wp), 6).alias("prob")
    ).localCheckpoint()
    states = p.select("cur").distinct()
    k = states.agg(F.count(F.lit(1)).cast("double").alias("k"))
    pi = states.crossJoin(F.broadcast(k)).select(
        F.col("cur").alias("et"), (F.lit(1.0) / F.col("k")).alias("pi")
    )
    for _ in range(_MARKOV_ITERS):
        pi = (
            p.join(F.broadcast(pi), p.cur == pi.et)
            .groupBy(F.col("nxt").alias("_et"))
            .agg(F.round(F.sum(F.col("pi") * F.col("prob")), 6).alias("pi"))
            .select(F.col("_et").alias("et"), "pi")
        )
    return pi.select(F.col("et").alias("event_type"), "pi")


# ---------------------------------------------------------------------------
# group-median imputation of masked values
# ---------------------------------------------------------------------------
# Deterministic masking rule standing in for real missingness (the
# fixture tables ship complete): a lineitem's discount is "missing"
# when (7*orderkey + linenumber) % 20 == 0 — ~5% of rows, spread across
# every group. The OPERATOR under test — per-group exact-median
# imputation and its effect on the group mean — is the production
# data-cleaning step; only the mask is synthetic, and both engines
# apply the identical rule.
_IMPUTE_SQL = """
    WITH src AS (
      SELECT l_returnflag, l_linestatus,
             CASE WHEN (7 * l_orderkey + l_linenumber) % 20 = 0
                  THEN NULL ELSE l_discount END AS disc
      FROM lineitem),
    med AS (
      SELECT l_returnflag, l_linestatus,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(COUNT(*) - COUNT(disc) AS BIGINT) AS n_missing,
             quantile_cont(disc, 0.5) AS imputed_value,
             SUM(disc) AS sum_obs
      FROM src GROUP BY l_returnflag, l_linestatus)
    SELECT l_returnflag, l_linestatus, n_total, n_missing,
           ROUND(imputed_value, 4) AS imputed_value,
           ROUND((sum_obs + n_missing * imputed_value) / n_total, 6)
             AS mean_after_impute
    FROM med
"""


@register("dq_impute_group_median", _IMPUTE_SQL)
def dq_impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation: fill missing discounts with their
    (returnflag, linestatus) group's exact interpolated median and
    report the group mean after imputation — the standard numeric-
    cleaning step before model training. Exact `percentile(x, 0.5)`
    is a sort-based aggregate within each group (mergeable partials;
    at 100 TB you'd swap in approx_percentile with a documented error
    bound, same plan shape) and the imputed mean needs NO second pass:
    mean = (sum_observed + n_missing * median) / n_total, all from the
    one aggregate row. The missingness mask is a deterministic rule on
    the key (see module comment); the operator is real."""
    li = table(spark, sf_dir, "lineitem")
    src = li.select(
        "l_returnflag",
        "l_linestatus",
        F.when(
            (F.lit(7) * F.col("l_orderkey") + F.col("l_linenumber")) % 20 == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(F.col("l_discount"))
        .alias("disc"),
    )
    med = src.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_total"),
        (F.count(F.lit(1)) - F.count("disc")).alias("n_missing"),
        F.expr("percentile(disc, 0.5)").alias("imp"),
        F.sum("disc").alias("sum_obs"),
    )
    return med.select(
        "l_returnflag",
        "l_linestatus",
        "n_total",
        "n_missing",
        F.round("imp", 4).alias("imputed_value"),
        F.round(
            (F.col("sum_obs") + F.col("n_missing") * F.col("imp")) / F.col("n_total"), 6
        ).alias("mean_after_impute"),
    )


# ---------------------------------------------------------------------------
# approximate query processing: Horvitz-Thompson estimate off a
# deterministic Bernoulli sample, with a CLT confidence interval
# ---------------------------------------------------------------------------
_AQP_RATE = 0.05
_AQP_DENOM = 1152921504606846976.0  # 2^60, same scaling as the bootstrap

def _aqp_sql() -> str:
    from ug_dwh_etl_spark.operators.hashing import sql_md5_long

    coin = sql_md5_long("o_orderkey::VARCHAR || '|aqp'")
    return f"""
    WITH s AS (
      SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS x
      FROM orders
      WHERE {coin} / {_AQP_DENOM} < {_AQP_RATE}),
    agg AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_sample,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM s GROUP BY o_orderpriority)
    SELECT o_orderpriority, n_sample,
           ROUND(n_sample / {_AQP_RATE}, 2) AS est_count,
           ROUND(sx / {_AQP_RATE}, 2) AS est_revenue,
           ROUND(sqrt((1.0 - {_AQP_RATE}) / ({_AQP_RATE} * {_AQP_RATE}) * sxx), 2)
             AS se_revenue,
           ROUND(1.96 * sqrt((1.0 - {_AQP_RATE}) / ({_AQP_RATE} * {_AQP_RATE}) * sxx)
                 / (sx / {_AQP_RATE}), 6) AS rel_ci95
    FROM agg
"""


_AQP_SQL = _aqp_sql()


@register("aqp_sampled_revenue", _AQP_SQL)
def aqp_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing: per-priority order count and
    revenue estimated from a deterministic 5% Bernoulli sample
    (md5-hash uniform on the key — the same engine-exact coin as the
    Poisson bootstrap), scaled up by the Horvitz-Thompson 1/f factor,
    with the Bernoulli-sampling standard error
    se(T^) = sqrt((1-f)/f^2 * sum_sample x^2) and the relative 95% CI
    half-width next to every estimate. This is the interactivity
    contract at 100 TB: the scan touches f of the data (with a
    pre-materialized sample table it IS a 5%-sized scan; partition/
    bucket by the hash and the sampling predicate prunes storage), the
    error column tells the user whether the estimate is usable, and
    the whole thing is one partial-aggregated groupBy. The oracle runs
    the identical estimator, so determinism — not luck — makes it
    engine-exact."""
    return aqp_estimates(aqp_sample_sums(table(spark, sf_dir, "orders")))


def aqp_sample_sums(orders: DataFrame) -> DataFrame:
    """Per priority, the md5-Bernoulli sample's row count ``n_sample``
    and the sums ``sx``/``sxx`` of its prices and squared prices:
    mergeable aggregates, batch or stream."""
    from ug_dwh_etl_spark.operators.hashing import md5_long

    u = md5_long(
        F.concat(F.col("o_orderkey").cast("string"), F.lit("|aqp"))
    ) / F.lit(_AQP_DENOM)
    # decimal-sum parity rule: sum x and x^2 as exact DECIMAL (order-
    # independent), cast to double only at the aggregate edge
    x = F.col("o_totalprice").cast("decimal(18,2)")
    s = orders.filter(u < _AQP_RATE).select("o_orderpriority", x.alias("x"))
    return s.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )


def aqp_estimates(sums: DataFrame) -> DataFrame:
    """The Horvitz-Thompson count and revenue estimates, the revenue's
    standard error and its relative 95% CI half-width from
    ``aqp_sample_sums``."""
    f = _AQP_RATE
    se = F.sqrt((1.0 - f) / (f * f) * F.col("sxx"))
    return sums.select(
        "o_orderpriority",
        "n_sample",
        F.round(F.col("n_sample") / f, 2).alias("est_count"),
        F.round(F.col("sx") / f, 2).alias("est_revenue"),
        F.round(se, 2).alias("se_revenue"),
        F.round(F.lit(1.96) * se / (F.col("sx") / f), 6).alias("rel_ci95"),
    )


# ---------------------------------------------------------------------------
# PACF by Durbin-Levinson over the hourly event series
# ---------------------------------------------------------------------------
_PACF_LAGS = 4

# Durbin-Levinson recursion unrolled to lag 4 as (column, expression)
# steps — the SAME expression strings run as Spark F.expr and inside
# the DuckDB oracle's chained CTEs, so the scalar arithmetic (IEEE
# +,-,*,/ are exactly rounded, hence bit-identical across engines on
# identical inputs) cannot diverge. Inputs r1..r4 are 6dp-rounded
# autocorrelations.
_DL_STEPS = (
    ("p11", "r1"),
    ("p22", "(r2 - p11 * r1) / (1 - p11 * r1)"),
    ("p21", "p11 - p22 * p11"),
    ("p33", "(r3 - (p21 * r2 + p22 * r1)) / (1 - (p21 * r1 + p22 * r2))"),
    ("p32", "p22 - p33 * p21"),
    ("p31", "p21 - p33 * p22"),
    (
        "p44",
        "(r4 - (p31 * r3 + p32 * r2 + p33 * r1))"
        " / (1 - (p31 * r1 + p32 * r2 + p33 * r3))",
    ),
)


def _pacf_sql() -> str:
    lag_cols = ",\n             ".join(
        f"LAG(c, {k}) OVER w AS c{k}" for k in range(1, _PACF_LAGS + 1)
    )
    r_cols = ",\n             ".join(
        f"ROUND(SUM(c * c{k}) / SUM(c * c), 6) AS r{k}"
        for k in range(1, _PACF_LAGS + 1)
    )
    steps = []
    prev = "rr"
    for i, (col, expr) in enumerate(_DL_STEPS):
        steps.append(f"s{i} AS (SELECT *, {expr} AS {col} FROM {prev})")
        prev = f"s{i}"
    finals = "\n    UNION ALL ".join(
        f"SELECT {k} AS lag, ROUND(p{k}{k}, 6) AS pacf FROM {prev}"
        for k in range(1, _PACF_LAGS + 1)
    )
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) * 1.0 AS x
      FROM events GROUP BY h),
    cent AS (SELECT h, x - (SELECT AVG(x) FROM hourly) AS c FROM hourly),
    lagged AS (
      SELECT c,
             {lag_cols}
      FROM cent WINDOW w AS (ORDER BY h)),
    rr AS (
      SELECT {r_cols}
      FROM lagged),
    {steps_sql}
    {finals}
    """


@register("events_pacf", _pacf_sql())
def events_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL autocorrelation of the hourly event series at lags 1-4
    via the Durbin-Levinson recursion — the AR-order selector that
    separates direct lag-k dependence from what lags 1..k-1 already
    explain (the cut-off lag is the AR(p) you'd fit;
    events_autocorrelation alone can't distinguish propagated from
    direct correlation). Corpus-sized work is the one groupBy(hour)
    rollup; the lag windows run on the hourly relation (series-sized,
    same justification as the ACF twin) and the recursion itself is
    scalar arithmetic on ONE row. Autocorrelations are rounded to 6dp
    first, and both engines evaluate the IDENTICAL unrolled expression
    strings (_DL_STEPS) — IEEE arithmetic is exactly rounded, so the
    recursion cannot diverge between Spark and the oracle."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        (F.count(F.lit(1)) * 1.0).alias("x")
    )
    m = hourly.agg(F.avg("x").alias("m"))
    cent = hourly.crossJoin(F.broadcast(m)).select(
        "h", (F.col("x") - F.col("m")).alias("c")
    )
    w = W.orderBy("h")
    lagged = cent.select(
        "c", *[F.lag("c", k).over(w).alias(f"c{k}") for k in range(1, _PACF_LAGS + 1)]
    )
    rr = lagged.agg(
        *[
            F.round(
                F.sum(F.col("c") * F.col(f"c{k}")) / F.sum(F.col("c") * F.col("c")), 6
            ).alias(f"r{k}")
            for k in range(1, _PACF_LAGS + 1)
        ]
    )
    for col, expr in _DL_STEPS:
        rr = rr.withColumn(col, F.expr(expr))
    out = None
    for k in range(1, _PACF_LAGS + 1):
        row = rr.select(
            F.lit(k).alias("lag"), F.round(F.col(f"p{k}{k}"), 6).alias("pacf")
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# inequality indices: Theil T and mean log deviation (Theil L)
# ---------------------------------------------------------------------------
_THEIL_SQL = """
    WITH m AS (
      SELECT o_orderpriority, o_totalprice,
             AVG(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mu
      FROM orders)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG((o_totalprice / mu) * ln(o_totalprice / mu)), 6) AS theil_t,
           ROUND(AVG(ln(mu / o_totalprice)), 6) AS theil_l
    FROM m GROUP BY o_orderpriority
"""


@register("agg_theil_index", _THEIL_SQL)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and mean-log-deviation (Theil L) inequality indices of
    order value per priority — the decomposable cousins of the Gini the
    warehouse already computes (`customer_gini`): unlike Gini they sum
    exactly across subgroups (within + between), which is why
    concentration monitoring at scale prefers them. One windowed mean
    + one aggregate — no sort over values, no pairwise terms (Gini's
    rank trick needs the per-group sort; Theil doesn't) — so the plan
    is two hash exchanges on the same key at any data size. Prices are
    strictly positive, so ln() is total on both engines; 6dp rounding
    absorbs libm-vs-StrictMath last-ulp drift in the transcendental."""
    w = Window.partitionBy("o_orderpriority")
    orders = table(spark, sf_dir, "orders")
    m = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.avg("o_totalprice").over(w).alias("mu"),
    )
    ratio = F.col("o_totalprice") / F.col("mu")
    return m.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(ratio * F.log(ratio)), 6).alias("theil_t"),
        F.round(F.avg(F.log(F.col("mu") / F.col("o_totalprice"))), 6).alias("theil_l"),
    )


# ---------------------------------------------------------------------------
# OHLC bars: open/high/low/close resampling of the event value series
# ---------------------------------------------------------------------------
# Each event's hour with its first/last-in-hour ranks, and the hourly
# open/high/low/close bars over them: shared with the stream twin
# stream_ohlc_hourly. OHLC_BARS_SQL is the SELECT list after the hour
# column, with its FROM and GROUP BY: the caller writes ``SELECT`` and
# the hour column before it.
OHLC_RANKED_CTE = """w AS (
      SELECT date_trunc('hour', ts) AS h, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)"""
OHLC_BARS_SQL = """MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_value
    FROM w GROUP BY h"""

_OHLC_SQL = f"""
    WITH {OHLC_RANKED_CTE}
    SELECT h,
           {OHLC_BARS_SQL}
"""


@register("events_ohlc_hourly", _OHLC_SQL)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick resampling of the event value series at hour
    grain — the first/last-in-window aggregates (open/close) that plain
    min/max can't express, done with the two-row_number trick:
    ascending and descending rank inside one hour partition, then
    conditional MAX picks the rn=1 rows. Both window passes share the
    same (hour) partitioning, so Catalyst plans ONE exchange + two
    sorts; ties break on (ts, event_id) so open/close are deterministic
    even with equal timestamps. At 100 TB the hour key is perfectly
    parallel (no unpartitioned window anywhere) and the bar table is
    hours-sized. The financial shape, but equally the 'first/last
    reading per device per window' of any telemetry rollup."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts"))
    wa = W.partitionBy(h).orderBy(F.asc("ts"), F.asc("event_id"))
    wd = W.partitionBy(h).orderBy(F.desc("ts"), F.desc("event_id"))
    w = ev.select(
        h.alias("h"),
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return w.groupBy("h").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("volume"),
        # decimal-sum parity rule (and definitional parity with the
        # streaming twin): exact DECIMAL sum, double only at the edge
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


# ---------------------------------------------------------------------------
# randomized response: plausible-deniability collection + debiasing
# ---------------------------------------------------------------------------
_RR_KEEP = 0.75  # P(report truth); flip otherwise
_RR_DENOM = _AQP_DENOM  # 2^60, the shared md5-uniform scaling


def _rr_sql() -> str:
    from ug_dwh_etl_spark.operators.hashing import sql_md5_long

    coin = sql_md5_long("event_id::VARCHAR || '|rr'")
    return f"""
    WITH src AS (
      SELECT extract(hour FROM ts) AS hod,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b,
             CASE WHEN {coin} / {_RR_DENOM} < {_RR_KEEP}
                  THEN CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  ELSE CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END
             END AS r
      FROM events)
    SELECT hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(r * 1.0), 6) AS reported_rate,
           ROUND((AVG(r * 1.0) - (1.0 - {_RR_KEEP})) / (2.0 * {_RR_KEEP} - 1.0), 6)
             AS debiased_rate,
           ROUND(AVG(b * 1.0), 6) AS true_rate
    FROM src GROUP BY hod
"""


_RR_SQL = _rr_sql()


@register("privacy_randomized_response", _RR_SQL)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized response over the purchase bit, per hour of
    day: each row reports its true bit with probability p={keep} and
    the flipped bit otherwise (plausible deniability per record —
    ln(p/(1-p)) local differential privacy), then the aggregate
    debiases with rate = (reported - (1-p)) / (2p - 1). The noise coin
    is the same deterministic md5 uniform as the bootstrap/AQP
    samplers, so the 'random' mechanism is engine-exact and the oracle
    reproduces the exact debiased estimate; true_rate sits alongside
    to show the recovery. Pure map-side arithmetic + one groupBy —
    the LDP collection plan costs the same as the honest one at any
    scale."""
    ev = table(spark, sf_dir, "events")
    from ug_dwh_etl_spark.operators.hashing import md5_long

    b = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    u = md5_long(F.concat(F.col("event_id").cast("string"), F.lit("|rr"))) / F.lit(
        _RR_DENOM
    )
    src = ev.select(
        F.hour("ts").alias("hod"),
        b.alias("b"),
        F.when(u < _RR_KEEP, b).otherwise(1 - b).alias("r"),
    )
    p = _RR_KEEP
    return src.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("r") * 1.0), 6).alias("reported_rate"),
        F.round((F.avg(F.col("r") * 1.0) - (1.0 - p)) / (2.0 * p - 1.0), 6).alias(
            "debiased_rate"
        ),
        F.round(F.avg(F.col("b") * 1.0), 6).alias("true_rate"),
    )


privacy_randomized_response.__doc__ = privacy_randomized_response.__doc__.replace(
    "{keep}", str(_RR_KEEP)
)


# ---------------------------------------------------------------------------
# median by bisection: distributed quantile without any sort
# ---------------------------------------------------------------------------
_BISECT_ROUNDS = 8


def _bisect(orders: DataFrame, qs: tuple[int, ...], rounds: int) -> DataFrame:
    """The 1-row state (``lo<q>``, ``hi<q>`` per percentile q, and ``n``)
    after ``rounds`` bisection rounds over ``o_totalprice``, each bracket
    halving from [min, max] on the integer test below*100 >= n*q."""
    init = orders.agg(
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    state = init.select(
        *[c for q in qs for c in
          (F.col("mn").alias(f"lo{q}"), F.col("mx").alias(f"hi{q}"))],
        "n",
    ).localCheckpoint()
    for _ in range(rounds):
        # broadcast the checkpointed 1-row state itself; midpoints fold
        # inline so each round is exactly one scan job + one state job
        counts = orders.crossJoin(F.broadcast(state.drop("n"))).agg(
            *[
                F.sum(
                    F.when(
                        F.col("o_totalprice")
                        <= (F.col(f"lo{q}") + F.col(f"hi{q}")) / 2,
                        1,
                    ).otherwise(0)
                ).alias(f"below{q}")
                for q in qs
            ]
        )
        new_cols = []
        for q in qs:
            mid = (F.col(f"lo{q}") + F.col(f"hi{q}")) / 2
            go_down = F.col(f"below{q}") * 100 >= F.col("n") * q
            new_cols.append(F.when(go_down, F.col(f"lo{q}")).otherwise(mid).alias(f"lo{q}"))
            new_cols.append(F.when(go_down, mid).otherwise(F.col(f"hi{q}")).alias(f"hi{q}"))
        state = (
            state.crossJoin(F.broadcast(counts)).select(*new_cols, "n").localCheckpoint()
        )
    return state


def _bisect_sql() -> str:
    parts = [
        """r0 AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders)"""
    ]
    for i in range(1, _BISECT_ROUNDS + 1):
        parts.append(
            f"""r{i} AS (
      SELECT CASE WHEN c.below * 2 >= p.n THEN p.lo ELSE (p.lo + p.hi) / 2 END AS lo,
             CASE WHEN c.below * 2 >= p.n THEN (p.lo + p.hi) / 2 ELSE p.hi END AS hi,
             p.n
      FROM r{i - 1} p,
           (SELECT CAST(COUNT(*) AS BIGINT) AS below
            FROM orders, r{i - 1} p2
            WHERE o_totalprice <= (p2.lo + p2.hi) / 2) c)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT n,
           ROUND((lo + hi) / 2, 4) AS est_median,
           ROUND(hi - lo, 4) AS bracket_width
    FROM r{_BISECT_ROUNDS}"""
    )


@register("agg_median_bisection", _bisect_sql())
def agg_median_bisection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median of order value by BISECTION — the quantile algorithm that
    needs NO sort and NO per-group buffering: start from [min, max],
    and each round ONE mergeable count (rows <= midpoint) halves the
    bracket, keeping the median inside it. {rounds} rounds pin the
    median to range/2^{rounds} deterministically — unlike
    approx_percentile's sketch there is a hard error bound, and unlike
    exact percentile nothing is ever sorted or buffered, so it scales
    to any cardinality with {rounds}+1 trivial scan+count passes (cache
    the column once and they're cheap; binary-search more quantiles by
    reusing the same passes). Counts are integers and the midpoint
    arithmetic is IEEE-exact, so both engines walk the identical
    bracket sequence. The production pattern when you need a
    guaranteed-precision quantile of a 100 TB column."""
    state = _bisect(
        table(spark, sf_dir, "orders").select("o_totalprice"), (50,), _BISECT_ROUNDS
    )
    return state.select(
        "n",
        F.round((F.col("lo50") + F.col("hi50")) / 2, 4).alias("est_median"),
        F.round(F.col("hi50") - F.col("lo50"), 4).alias("bracket_width"),
    )


agg_median_bisection.__doc__ = agg_median_bisection.__doc__.replace(
    "{rounds}", str(_BISECT_ROUNDS)
)


# ---------------------------------------------------------------------------
# facility-location greedy selection (submodular max-coverage coreset)
# ---------------------------------------------------------------------------
_FL_K = 3
_FL_CAND_MOD = 21  # candidate set: vec_id % 21 == 0 (~n/21 spread over ids)


def _fl_sql() -> str:
    cos = _duck_cos("u.e", "c.e")
    parts = [
        "base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"cand AS (SELECT vec_id, e FROM base WHERE vec_id % {_FL_CAND_MOD} = 0)",
        "u0 AS (SELECT vec_id, e, 0.0 AS cover FROM base)",
    ]
    for k in range(1, _FL_K + 1):
        parts.append(
            f"""g{k} AS (
      SELECT c.vec_id AS cid,
             ROUND(SUM(GREATEST(GREATEST({cos}, 0.0) - u.cover, 0.0)), 6) AS gain
      FROM u{k - 1} u, cand c GROUP BY c.vec_id)"""
        )
        parts.append(
            f"s{k} AS (SELECT cid, gain FROM g{k} ORDER BY gain DESC, cid LIMIT 1)"
        )
        if k < _FL_K:
            parts.append(
                f"""u{k} AS (
      SELECT u.vec_id, u.e,
             GREATEST(u.cover, GREATEST({_duck_cos('u.e', 'p.e')}, 0.0)) AS cover
      FROM u{k - 1} u, (SELECT c.e FROM cand c JOIN s{k} ON c.vec_id = s{k}.cid) p)"""
            )
    selects = "\n    UNION ALL ".join(
        f"SELECT {k} AS step, cid AS vec_id, ROUND(gain, 4) AS coverage_gain FROM s{k}"
        for k in range(1, _FL_K + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + selects


@register("sim_facility_location", _fl_sql())
def sim_facility_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facility-location greedy selection: pick K exemplars maximizing
    total corpus COVERAGE sum_u max_s sim(u, s) — the submodular
    coreset objective behind training-data selection (pick documents
    that represent everything) as opposed to MMR's redundancy penalty
    (pick documents unlike each other). Lazy exact greedy with the
    1-1/e guarantee: each round scores every candidate's marginal gain
    sum_u max(sim - cover, 0) in ONE scan of the universe against the
    BROADCAST candidate set (bounded, ~n/{mod} here, fixed at scale),
    then updates the per-row cover against the broadcast pick.
    K rounds = K scans + K tiny argmaxes; the universe's cover column
    is the only state (one double per row, localCheckpointed per
    round). Similarities clamp at 0 and round to 6dp on both engines,
    and the gain SUM rounds to 6dp BEFORE the argmax — a corpus-sized
    sum's fold order differs at the ulp between engines, so the pick
    must compare identically-rounded values (the same tie-breaking
    contract as MMR); the reported gain rounds to 4dp."""
    from ug_dwh_etl_spark.operators.similarity import cosine

    base = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("e")
    )
    cand = base.filter(F.col("vec_id") % _FL_CAND_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    # the (universe x candidate) similarity matrix is round-invariant:
    # materialize it ONCE (rounded+clamped exactly as the oracle does)
    # and let every greedy round reuse it — the cosines are interpreted
    # higher-order-function expressions, by far the dominant cost, and
    # recomputing them per round tripled the query. |U| x |C| rows is
    # the price; at corpus scale the candidate set stays bounded, so
    # the matrix grows linearly with the universe like the cover state.
    with pinned() as pin:
        scores = pin(
            base.crossJoin(F.broadcast(cand)).select(
                "vec_id",
                "cid",
                F.greatest(F.round(cosine("e", "ce"), 6), F.lit(0.0)).alias("sim"),
            )
        )
        picks = None
        out_rows = []
        for k in range(1, _FL_K + 1):
            if picks is None:
                contrib = scores.select("cid", F.col("sim").alias("g"))
            else:
                cover = (
                    scores.join(F.broadcast(picks), "cid")
                    .groupBy("vec_id")
                    .agg(F.max("sim").alias("cover"))
                )
                contrib = scores.join(cover, "vec_id").select(
                    "cid",
                    F.greatest(F.col("sim") - F.col("cover"), F.lit(0.0)).alias("g"),
                )
            gains = (
                contrib.groupBy("cid")
                # round BEFORE the argmax: the gain is a corpus-sized sum
                # whose engine fold order differs at the ulp — the pick must
                # compare identically-rounded values or near-tied candidates
                # argmax differently across engines (same contract as MMR)
                .agg(F.round(F.sum("g"), 6).alias("gain"))
            )
            pick = (
                gains.agg(
                    F.min(
                        F.struct((-F.col("gain")).alias("ng"), F.col("cid"))
                    ).alias("m")
                )
                .select(F.col("m.cid").alias("cid"))
                .localCheckpoint()
            )
            out_rows.append(
                gains.join(F.broadcast(pick), "cid").select(
                    F.lit(k).alias("step"),
                    F.col("cid").alias("vec_id"),
                    F.round("gain", 4).alias("coverage_gain"),
                )
            )
            picks = pick if picks is None else picks.unionByName(pick).localCheckpoint()
        out = out_rows[0]
        for r in out_rows[1:]:
            out = out.unionByName(r)
        out = out.localCheckpoint()
    return out


sim_facility_location.__doc__ = sim_facility_location.__doc__.replace(
    "{mod}", str(_FL_CAND_MOD)
)


# ---------------------------------------------------------------------------
# ABC (Pareto) classification of parts by revenue
# ---------------------------------------------------------------------------
_ABC_SQL = """
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT SUM(r) AS t FROM rev),
    ranked AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey) AS cum
      FROM rev),
    classed AS (
      SELECT l_partkey, r,
             CASE WHEN CAST(cum AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) <= 0.5
                    THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) <= 0.8
                    THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked)
    SELECT abc,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(r) AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE), 6)
             AS revenue_share
    FROM classed GROUP BY abc
"""


def part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each part's decimal-exact line revenue ``r``: the rollup both ABC
    classifications rank."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r")
    )


@register("orders_abc_classification", _ABC_SQL)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: cumulative
    revenue share down the sorted part list cuts A (first 50% of
    revenue), B (to 80%), C (tail) — the inventory-policy and
    hot-data-tiering primitive. The corpus-sized work is the per-part
    rollup; the cumulative revenue is the DISTRIBUTED running sum
    (operators/ranking.py global_running_sum: range-repartition on the
    (revenue DESC, partkey) order, partitioned local running sums,
    broadcast prior-partition subtotals), with DECIMAL sums so the
    running total is order-exact — parts are data-sized at 100 TB, so
    no single window task ever holds the rollup."""
    from ug_dwh_etl_spark.operators.ranking import global_running_sum

    ranked = global_running_sum(
        part_revenue(spark, sf_dir),
        [F.desc("r"), F.asc("l_partkey")],
        "r",
        out="cum",
        total_out="t",
    )
    share = F.col("cum").cast("double") / F.col("t").cast("double")
    classed = ranked.select(
        "r",
        "t",
        F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C").alias("abc"),
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(
            F.sum("r").cast("double") / F.first("t").cast("double"), 6
        ).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# point-in-time feature-store join (leakage-safe, multi-table)
# ---------------------------------------------------------------------------
_PIT_SQL = """
    WITH spine AS (
      SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od
      FROM orders WHERE o_custkey % 50 = 0)
    SELECT s.o_orderkey,
           s.o_custkey,
           CAST((SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                 FROM orders o2
                 WHERE o2.o_custkey = s.o_custkey
                   AND CAST(o2.o_orderdate AS DATE) <= s.od - INTERVAL 1 DAY)
                AS DOUBLE) AS spend_before,
           CAST(COALESCE((SELECT COUNT(*)
                          FROM lineitem l JOIN orders o3
                               ON l.l_orderkey = o3.o_orderkey
                          WHERE o3.o_custkey = s.o_custkey
                            AND l.l_returnflag = 'R'
                            AND CAST(l.l_shipdate AS DATE)
                                  <= s.od - INTERVAL 1 DAY), 0)
                AS BIGINT) AS returns_before
    FROM spine s
"""


@register("join_pit_features", _PIT_SQL)
def join_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (feature-store) join: every training example (an
    order) is enriched with the feature values KNOWN AT T-1 — lifetime
    spend and lifetime returned-line shipments — from two feature tables with their own
    update cadences, via two chained ``merge_asof`` joins at
    orderdate - 1 day. The T-1 anchor is the leakage contract: the
    current order (and anything else from the same day) can never leak
    into its own features, which is the defining correctness property
    of feature-store retrieval and the thing a naive equi-join on date
    gets wrong. Each feature table is a daily-grain cumulative rollup
    built once (aggregate + per-key window); each as-of join is the
    union-tag single-window shape (one shuffle per join key, no range
    explosion — see operators/joins.py merge_asof). The oracle states
    the same semantics declaratively as correlated T-1 subqueries.
    Spine sampled to custkey % 50 == 0 to keep the gate comparison
    small; features draw on the full history of those customers."""
    from pyspark.sql import Window as W

    from ug_dwh_etl_spark.operators.joins import merge_asof

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    sampled = orders.filter(F.col("o_custkey") % 50 == 0)

    spine = sampled.select(
        "o_orderkey",
        "o_custkey",
        F.date_sub(F.to_date("o_orderdate"), 1).alias("feat_date"),
    )
    # feature table 1: daily-grain cumulative spend per customer
    cw = W.partitionBy("o_custkey").orderBy("d")
    f1 = (
        sampled.groupBy("o_custkey", F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("day_spend"))
        .select(
            "o_custkey",
            "d",
            F.sum("day_spend").over(cw).cast("double").alias("spend_to_date"),
        )
    )
    # feature table 2: daily-grain cumulative returned-line count
    f2 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            sampled.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .groupBy("o_custkey", F.to_date("l_shipdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("day_returns"))
        .select(
            "o_custkey",
            "d",
            F.sum("day_returns").over(cw).alias("returns_to_date"),
        )
    )
    j1 = merge_asof(
        spine,
        f1,
        key="o_custkey",
        left_time="feat_date",
        right_time="d",
        left_vals=["o_orderkey"],
        right_vals=["spend_to_date"],
    ).select(
        F.col("_k").alias("o_custkey"),
        F.col("_t").alias("feat_ts"),
        "o_orderkey",
        "asof_spend_to_date",
    )
    j2 = merge_asof(
        j1,
        f2,
        key="o_custkey",
        left_time="feat_ts",
        right_time="d",
        left_vals=["o_orderkey", "asof_spend_to_date"],
        right_vals=["returns_to_date"],
    )
    return j2.select(
        "o_orderkey",
        F.col("_k").alias("o_custkey"),
        F.round(F.col("asof_spend_to_date"), 2).alias("spend_before"),
        F.coalesce(F.col("asof_returns_to_date"), F.lit(0))
        .cast("long")
        .alias("returns_before"),
    )


# ---------------------------------------------------------------------------
# shared-scan multi-quantile bisection: p25/p50/p75 in the same passes
# ---------------------------------------------------------------------------
_MQ_ROUNDS = 8
_MQ_QS = (25, 50, 75)


def _mq_sql() -> str:
    cols = []
    for q in _MQ_QS:
        cols += [f"lo{q}", f"hi{q}"]
    init = ", ".join(
        f"mn AS lo{q}, mx AS hi{q}" for q in _MQ_QS
    )
    parts = [
        """r0x AS (
      SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders)""",
        f"r0 AS (SELECT {init}, n FROM r0x)",
    ]
    for i in range(1, _MQ_ROUNDS + 1):
        counts = ", ".join(
            f"SUM(CASE WHEN o_totalprice <= (p.lo{q} + p.hi{q}) / 2 THEN 1 ELSE 0 END)"
            f" AS below{q}"
            for q in _MQ_QS
        )
        updates = ", ".join(
            f"CASE WHEN c.below{q} * 100 >= p.n * {q} THEN p.lo{q}"
            f" ELSE (p.lo{q} + p.hi{q}) / 2 END AS lo{q}, "
            f"CASE WHEN c.below{q} * 100 >= p.n * {q} THEN (p.lo{q} + p.hi{q}) / 2"
            f" ELSE p.hi{q} END AS hi{q}"
            for q in _MQ_QS
        )
        parts.append(
            f"""r{i} AS (
      SELECT {updates}, p.n
      FROM r{i - 1} p,
           (SELECT {counts} FROM orders, r{i - 1} p) c)"""
        )
    finals = "\n    UNION ALL ".join(
        f"SELECT {q} AS pct, ROUND((lo{q} + hi{q}) / 2, 4) AS est_value,"
        f" ROUND(hi{q} - lo{q}, 4) AS bracket_width FROM r{_MQ_ROUNDS}"
        for q in _MQ_QS
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + finals


@register("agg_quantiles_bisection_shared", _mq_sql())
def agg_quantiles_bisection_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p25/p50/p75 by bisection in SHARED scans: one pass per round
    computes all three bracket-midpoint counts as conditional sums of
    the same scan, so three quantiles cost the same {rounds} passes as
    one — the amortization `agg_median_bisection`'s docstring promises,
    demonstrated. Per round the state is one row of three (lo, hi)
    brackets; each bracket halves independently on its own count-vs-
    q*n/100 test (integer cross-multiplication, no float percent
    arithmetic). Still no sort, still a hard range/2^{rounds} bound per
    quantile, still mergeable counts — the shape that hands you an
    entire deterministic-precision quantile TABLE of a 100 TB column
    for {rounds} cheap scans (cache the column once)."""
    state = _bisect(
        table(spark, sf_dir, "orders").select("o_totalprice"), _MQ_QS, _MQ_ROUNDS
    )
    out = None
    for q in _MQ_QS:
        row = state.select(
            F.lit(q).alias("pct"),
            F.round((F.col(f"lo{q}") + F.col(f"hi{q}")) / 2, 4).alias("est_value"),
            F.round(F.col(f"hi{q}") - F.col(f"lo{q}"), 4).alias("bracket_width"),
        )
        out = row if out is None else out.unionByName(row)
    return out


agg_quantiles_bisection_shared.__doc__ = agg_quantiles_bisection_shared.__doc__.replace(
    "{rounds}", str(_MQ_ROUNDS)
)


# ---------------------------------------------------------------------------
# Fano factor: burstiness of the event process per type
# ---------------------------------------------------------------------------
_FANO_SQL = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events GROUP BY event_type, h),
    grid AS (SELECT CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS nh
             FROM events),
    m AS (
      SELECT event_type,
             SUM(c) * 1.0 / (SELECT nh FROM grid) AS mean_c,
             SUM(c * c) * 1.0 / (SELECT nh FROM grid) AS e2
      FROM hourly GROUP BY event_type)
    SELECT event_type,
           ROUND(mean_c, 6) AS mean_per_hour,
           ROUND((e2 - mean_c * mean_c) / mean_c, 6) AS fano
    FROM m
"""


@register("events_fano_burstiness", _FANO_SQL)
def events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion, var/mean of hourly counts) per
    event type — the burstiness dial: 1 = Poisson arrivals, >1 =
    clustered/bursty, <1 = regular; pairs with events_autocorrelation
    and hourly_anomaly when deciding whether rate alerts need
    overdispersion-aware thresholds. Zero-event hours are handled WITHOUT
    materializing the hour grid: with H = total distinct hours,
    var = Sum(c^2)/H - mean^2 — the moment identity makes the silent
    zeros free, so the plan is one groupBy(type, hour) rollup + one
    per-type aggregate at any scale."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    grid = ev.agg(
        F.count_distinct(F.date_trunc("hour", "ts")).alias("nh")
    )
    m = (
        hourly.groupBy("event_type")
        .agg(F.sum("c").alias("sc"), F.sum(F.col("c") * F.col("c")).alias("sc2"))
        .crossJoin(F.broadcast(grid))
        .select(
            "event_type",
            (F.col("sc") * 1.0 / F.col("nh")).alias("mean_c"),
            (F.col("sc2") * 1.0 / F.col("nh")).alias("e2"),
        )
    )
    return m.select(
        "event_type",
        F.round("mean_c", 6).alias("mean_per_hour"),
        F.round((F.col("e2") - F.col("mean_c") * F.col("mean_c")) / F.col("mean_c"), 6).alias("fano"),
    )


# --- leakage-safe categorical feature: leave-one-out target encoding ------------
_TE_THRESH = 250_000


@register(
    "fit_target_encode_loo",
    f"""
    WITH j AS (
      SELECT o_orderkey, c_mktsegment AS segment,
             CASE WHEN o_totalprice > {_TE_THRESH} THEN 1 ELSE 0 END AS y
      FROM orders JOIN customer ON o_custkey = c_custkey),
    seg AS (
      SELECT segment, SUM(y) AS s, COUNT(*) AS n FROM j GROUP BY segment)
    SELECT j.o_orderkey, j.segment, CAST(j.y AS BIGINT) AS y,
           ROUND((seg.s - j.y) / CAST(NULLIF(seg.n - 1, 0) AS DOUBLE), 6)
             AS loo_enc
    FROM j JOIN seg ON seg.segment = j.segment
    """,
)
def fit_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out TARGET ENCODING of a categorical feature — each
    row's encoding is its category's target mean computed WITHOUT the
    row itself ((sum - y_i)/(n - 1)), the standard leakage-safe variant
    (plain mean encoding leaks each row's own label into its feature;
    split_leakage_check polices the train/test flavor of the same
    disease). One grouped aggregate per category broadcast back onto
    the rows — integer sums and counts, so the encoding is engine-exact
    before the single 6dp rounding."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice") > _TE_THRESH).cast("long").alias("y"),
    )
    seg = j.groupBy("segment").agg(
        F.sum("y").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return j.join(F.broadcast(seg), "segment").select(
        "o_orderkey",
        "segment",
        "y",
        F.round(
            (F.col("s") - F.col("y"))
            / F.nullif(F.col("n") - 1, F.lit(0)).cast("double"),
            6,
        ).alias("loo_enc"),
    )


# --- weight-of-evidence / information-value binning -----------------------------
_WOE_BINS = 10


_WOE_PS = [i / _WOE_BINS for i in range(1, _WOE_BINS)]


@register(
    "fit_woe_binning",
    f"""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, {_WOE_PS}) AS cs FROM orders),
    r AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
             1 + len(list_filter(cs, c -> o_totalprice > c)) AS bin
      FROM orders CROSS JOIN cuts),
    b AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
      FROM r GROUP BY bin),
    t AS (SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn FROM b)
    SELECT bin, n, n_pos,
           ROUND(CASE WHEN n_pos > 0 AND n_neg > 0
                      THEN ln((n_pos / CAST(tp AS DOUBLE))
                              / (n_neg / CAST(tn AS DOUBLE))) END, 6) AS woe,
           ROUND(CASE WHEN n_pos > 0 AND n_neg > 0
                      THEN (n_pos / CAST(tp AS DOUBLE) - n_neg / CAST(tn AS DOUBLE))
                           * ln((n_pos / CAST(tp AS DOUBLE))
                                / (n_neg / CAST(tn AS DOUBLE))) END, 6) AS iv_term
    FROM b CROSS JOIN t
    """,
)
def fit_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value readout for a numeric
    feature vs a binary target: equal-frequency decile bins from EXACT
    percentile cutpoints, per-bin WOE = ln((pos_i/P)/(neg_i/N)) and its
    IV contribution — the classic credit-scoring / feature-selection
    table. Zero-cell bins yield NULL WOE on both engines (guarded CASE;
    DuckDB would otherwise error on ln(0) where Spark nulls).

    Scale shape (the agg_equidepth_histogram plan): ONE partial-
    aggregated percentile pass produces the 9 cutpoints, which
    broadcast back onto the rows; bin = 1 + |{cutpoints < x}| is a
    per-row array filter, then one grouped aggregate. No global-order
    window anywhere (the NTILE formulation this replaced sorted the
    whole fact on one executor). Spark's exact `percentile` merges
    per-partition value->count maps — memory O(distinct values), which
    for a 2dp money column is bounded; at 100 TB quantize to cents
    first or swap in approx_percentile with a documented error bound,
    same plan shape. Cutpoint parity: Spark percentile and DuckDB
    quantile_cont both interpolate at rank (n-1)p — measured bit-equal
    on this column, and a value EQUAL to a cutpoint bins identically on
    both engines (strict > on both sides)."""
    orders = table(spark, sf_dir, "orders")
    cuts = orders.agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(p) for p in _WOE_PS])
        ).alias("cs")
    )
    r = orders.crossJoin(F.broadcast(cuts)).select(
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
        (
            F.lit(1)
            + F.size(F.filter("cs", lambda c: F.col("o_totalprice") > c))
        ).alias("bin"),
    )
    b = r.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
    )
    t = b.agg(F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn"))
    pos_r = F.col("n_pos") / F.col("tp").cast("double")
    neg_r = F.col("n_neg") / F.col("tn").cast("double")
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return b.crossJoin(F.broadcast(t)).select(
        "bin",
        "n",
        "n_pos",
        F.round(F.when(ok, F.log(pos_r / neg_r)), 6).alias("woe"),
        F.round(F.when(ok, (pos_r - neg_r) * F.log(pos_r / neg_r)), 6).alias(
            "iv_term"
        ),
    )


# --- k-fold cross-validated OLS from one scan of sufficient statistics ----------
_KFOLDS = 5


@register(
    "fit_kfold_cv_ols",
    f"""
    WITH r AS (
      SELECT (l_orderkey + l_linenumber) % {_KFOLDS} AS fold,
             CAST(l_quantity AS DECIMAL(9,3)) AS x,
             CAST(l_extendedprice AS DECIMAL(13,3)) AS y
      FROM lineitem),
    fs AS (
      SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM r GROUP BY fold),
    tot AS (
      SELECT SUM(n) AS tn, SUM(sx) AS tsx, SUM(sy) AS tsy,
             SUM(sxx) AS tsxx, SUM(sxy) AS tsxy
      FROM fs),
    params AS (
      SELECT fold, n,
             (CAST(tsxy - sxy AS DOUBLE) - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE) / CAST(tn - n AS DOUBLE))
             / (CAST(tsxx - sxx AS DOUBLE) - CAST(tsx - sx AS DOUBLE) * CAST(tsx - sx AS DOUBLE) / CAST(tn - n AS DOUBLE)) AS b1,
             CAST(tsy - sy AS DOUBLE) / CAST(tn - n AS DOUBLE) AS my,
             CAST(tsx - sx AS DOUBLE) / CAST(tn - n AS DOUBLE) AS mx
      FROM fs CROSS JOIN tot)
    SELECT p.fold, p.n AS n_test,
           ROUND(p.b1, 4) AS b1,
           ROUND(p.my - p.b1 * p.mx, 4) AS b0,
           ROUND(sqrt(AVG(POW(CAST(r.y AS DOUBLE)
                              - (p.my - p.b1 * p.mx)
                              - p.b1 * CAST(r.x AS DOUBLE), 2))), 4) AS rmse
    FROM r JOIN params p ON p.fold = r.fold
    GROUP BY p.fold, p.n, p.b1, p.my, p.mx
    """,
)
def fit_kfold_cv_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated simple OLS where every fold's TRAINING
    statistics come from ONE scan: per-fold exact-decimal sufficient
    statistics (n, Σx, Σy, Σx², Σxy) roll up to the global totals, and
    fold k trains on the COMPLEMENT (total - fold_k) — k models for the
    price of one aggregate, no per-fold rescans. Decimal sums make the
    complement subtraction engine-exact regardless of fold order (the
    double-sum ulp drift rule from SURVEY §5); the only doubles are the
    final closed-form slope and the per-row residual RMSE, both rounded.
    The held-out RMSE pass joins the 5-row param table broadcast onto
    the rows — one more scan, still nothing quadratic."""
    li = table(spark, sf_dir, "lineitem").select(
        ((F.col("l_orderkey") + F.col("l_linenumber")) % _KFOLDS).alias("fold"),
        F.col("l_quantity").cast("decimal(9,3)").alias("x"),
        F.col("l_extendedprice").cast("decimal(13,3)").alias("y"),
    )
    fs = li.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tot = fs.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    p = fs.crossJoin(F.broadcast(tot)).select(
        "fold",
        "n",
        (
            (d(F.col("tsxy") - F.col("sxy"))
             - d(F.col("tsx") - F.col("sx")) * d(F.col("tsy") - F.col("sy"))
             / d(F.col("tn") - F.col("n")))
            / (d(F.col("tsxx") - F.col("sxx"))
               - d(F.col("tsx") - F.col("sx")) * d(F.col("tsx") - F.col("sx"))
               / d(F.col("tn") - F.col("n")))
        ).alias("b1"),
        (d(F.col("tsy") - F.col("sy")) / d(F.col("tn") - F.col("n"))).alias("my"),
        (d(F.col("tsx") - F.col("sx")) / d(F.col("tn") - F.col("n"))).alias("mx"),
    )
    resid = d(F.col("y")) - (F.col("my") - F.col("b1") * F.col("mx")) - F.col(
        "b1"
    ) * d(F.col("x"))
    return (
        li.join(F.broadcast(p), "fold")
        .groupBy("fold", "n", "b1", "my", "mx")
        .agg(F.round(F.sqrt(F.avg(resid * resid)), 4).alias("rmse"))
        .select(
            "fold",
            F.col("n").alias("n_test"),
            F.round("b1", 4).alias("b1"),
            F.round(F.col("my") - F.col("b1") * F.col("mx"), 4).alias("b0"),
            "rmse",
        )
    )


# --- one gradient-boosting round: the best regression stump ----------------------


# The per-quantity counts and sums with their running left-side totals,
# and the normalized split score over them: the search both tree
# oracles run.
_STUMP_CUM_CTES = """perx AS (
      SELECT CAST(l_quantity AS BIGINT) AS x, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s
      FROM lineitem GROUP BY 1),
    tot AS (SELECT SUM(n) AS tn, SUM(s) AS ts FROM perx),
    cum AS (
      SELECT x AS threshold,
             SUM(n) OVER (ORDER BY x) AS nl,
             SUM(s) OVER (ORDER BY x) AS sl
      FROM perx)"""
_STUMP_SCORE_SQL = """ROUND((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
                    + CAST(ts - sl AS DOUBLE) * CAST(ts - sl AS DOUBLE)
                      / (tn - nl))
                   / (CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / tn), 6)"""


def _per_quantity(li: DataFrame) -> DataFrame:
    """Per distinct integer quantity ``x``: the row count ``n`` and the
    decimal-exact price sum ``s`` the split search runs on."""
    return li.groupBy(F.col("l_quantity").cast("long").alias("x")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
    )


def _split_curve(perx: DataFrame, part_cols: list[str]) -> DataFrame:
    """Every candidate split ``x <= threshold`` of ``perx`` within each
    ``part_cols`` group that leaves rows on both sides: the running
    left count ``nl`` and sum ``sl`` next to the group totals ``tn`` and
    ``ts``."""
    tot = perx.groupBy(*part_cols).agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts")
    ) if part_cols else perx.agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    w = (
        Window.partitionBy(*part_cols).orderBy("x")
        if part_cols
        else Window.orderBy("x")
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = perx.select(
        *part_cols,
        F.col("x").alias("threshold"),
        F.sum("n").over(w).alias("nl"),
        F.sum("s").over(w).alias("sl"),
    )
    joined = (
        cum.join(F.broadcast(tot), part_cols)
        if part_cols
        else cum.crossJoin(F.broadcast(tot))
    )
    return joined.filter(F.col("nl") < F.col("tn"))


def _split_stats() -> list[Column]:
    """A split's normalized variance-reduction ``score`` and the two
    leaf means, each rounded to 6 places, over ``_split_curve``'s
    columns."""
    d = lambda c: c.cast("double")  # noqa: E731
    score = F.round(
        (
            d(F.col("sl")) * d(F.col("sl")) / F.col("nl")
            + d(F.col("ts") - F.col("sl")) * d(F.col("ts") - F.col("sl"))
            / (F.col("tn") - F.col("nl"))
        )
        / (d(F.col("ts")) * d(F.col("ts")) / F.col("tn")),
        6,
    )
    return [
        score.alias("score"),
        F.round(d(F.col("sl")) / F.col("nl"), 6).alias("gamma_left"),
        F.round(
            d(F.col("ts") - F.col("sl")) / (F.col("tn") - F.col("nl")), 6
        ).alias("gamma_right"),
    ]


@register(
    "fit_boost_stump",
    f"""
    WITH {_STUMP_CUM_CTES},
    sc AS (
      SELECT threshold, CAST(nl AS BIGINT) AS n_left,
             {_STUMP_SCORE_SQL}
               AS score,
             ROUND(CAST(sl AS DOUBLE) / nl, 6) AS gamma_left,
             ROUND(CAST(ts - sl AS DOUBLE) / (tn - nl), 6) AS gamma_right
      FROM cum CROSS JOIN tot WHERE nl < tn)
    SELECT threshold, n_left, score, gamma_left, gamma_right,
           threshold = (SELECT MIN(threshold) FROM sc
                        WHERE score = (SELECT MAX(score) FROM sc)) AS is_best
    FROM sc
    """,
)
def fit_boost_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE GRADIENT-BOOSTING ROUND, warehouse-native: fit the best
    regression STUMP (x <= t split) to the residuals of the constant
    model. Variance reduction is shift-invariant, so the best split on
    residuals equals the best split on y itself and the whole search is
    ONE grouped aggregate: per-distinct-x counts and decimal-exact
    y-sums (x = l_quantity, a DOMAIN-BOUNDED integer, <= 50 distinct),
    a cumulative fold over that <=50-row relation (the only window —
    bounded by the feature's domain, never by data; continuous features
    first quantize to the fit_woe_binning cutpoint grid), and the split
    score sl^2/nl + sr^2/nr evaluated per threshold. Leaf values are
    the per-side residual means shifted back (= per-side y means here).
    The score is NORMALIZED by the constant-model term ts^2/tn (a
    dimensionless between/total sum-of-squares ratio ~1.x): raw scores
    are ~1e14 here, where one ulp of cross-engine double noise is 0.03
    and survives any rounding — normalizing puts 6dp rounding ~1e9
    above the noise floor without moving the argmax (positive constant
    divisor). The best row is flagged with the 6dp-before-argmax discipline
    (score rounded, ties to the smallest threshold) so both engines
    agree on the winner; emitting the full candidate curve makes the
    search auditable, not just its argmax."""
    li = table(spark, sf_dir, "lineitem")
    perx = _per_quantity(li)
    sc = _split_curve(perx, []).select(
        "threshold",
        F.col("nl").cast("long").alias("n_left"),
        *_split_stats(),
    )
    best = sc.agg(
        F.min_by(
            "threshold", F.struct((-F.col("score")).alias("ns"), F.col("threshold"))
        ).alias("bt")
    )
    return sc.crossJoin(F.broadcast(best)).select(
        "threshold",
        "n_left",
        "score",
        "gamma_left",
        "gamma_right",
        (F.col("threshold") == F.col("bt")).alias("is_best"),
    )


# --- multinomial Naive Bayes: in-warehouse train + eval ------------------------------


@register(
    "fit_naive_bayes_langid",
    """
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents),
    tok2 AS (SELECT * FROM tok WHERE term <> ''),
    train AS (SELECT * FROM tok2 WHERE doc_id % 5 <> 0),
    cnt AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
            FROM train GROUP BY 1, 2),
    totl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS tot
             FROM train GROUP BY 1),
    vsz AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM train),
    prior AS (
      SELECT lang,
             ln(COUNT(DISTINCT doc_id) * 1.0
                / (SELECT COUNT(DISTINCT doc_id) FROM train)) AS lp
      FROM train GROUP BY 1),
    tdocs AS (SELECT doc_id, lang AS true_lang FROM documents
              WHERE doc_id % 5 = 0),
    tt AS (
      SELECT t.doc_id, t.term FROM tok2 t
      JOIN (SELECT DISTINCT term FROM train) v ON v.term = t.term
      WHERE t.doc_id % 5 = 0),
    body AS (
      SELECT tt.doc_id, l.lang,
             SUM(ln(COALESCE(c.c, 0) + 1.0))
               - COUNT(*) * ln(l.tot + vsz.v) AS b
      FROM tt
        CROSS JOIN vsz
        JOIN totl l ON TRUE
        LEFT JOIN cnt c ON c.lang = l.lang AND c.term = tt.term
      GROUP BY tt.doc_id, l.lang, l.tot, vsz.v),
    scored AS (
      SELECT d.doc_id, d.true_lang, p.lang,
             ROUND(COALESCE(b.b, 0.0) + p.lp, 6) AS score
      FROM tdocs d
        CROSS JOIN prior p
        LEFT JOIN body b ON b.doc_id = d.doc_id AND b.lang = p.lang),
    pred AS (
      SELECT doc_id, true_lang, lang AS pred_lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rk
      FROM scored)
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE rk = 1
    GROUP BY true_lang, pred_lang
    """,
)
def fit_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTINOMIAL NAIVE BAYES language classifier, trained AND
    evaluated in-warehouse: token counts per (lang, term) with Laplace
    smoothing fit on 80% of docs (doc_id % 5 != 0), held-out confusion
    matrix on the rest — the learned-model upgrade of the heuristic
    `text_langid`, and the shape any token-count classifier (spam,
    quality tiers, topic routing) takes at 100 TB: training is ONE
    grouped count over the token relation, scoring is a vocab-join +
    per-(doc, class) sum — no iteration, model size = |vocab| x
    |classes|. OOV test tokens are dropped (standard NB practice;
    smoothing covers in-vocab/unseen-in-class). Scores are ROUNDED TO
    6DP BEFORE THE ARGMAX with ties broken on class name — the
    cross-engine argmax discipline (sum-of-ln fold order differs
    between engines at ~1e-14) — and zero-in-vocab-token docs fall back
    to the prior-only argmax via the (test-doc x class) grid."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).filter(F.col("term") != "")
    train = tok.filter(F.col("doc_id") % 5 != 0)
    cnt = train.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    totl = train.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    vocab = train.select("term").distinct()
    vsz = vocab.agg(F.count(F.lit(1)).alias("v"))
    ndocs = train.agg(F.count_distinct("doc_id").alias("ntd"))
    prior = (
        train.groupBy("lang")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .crossJoin(F.broadcast(ndocs))
        .select("lang", F.log(F.col("nd") * 1.0 / F.col("ntd")).alias("lp"))
    )
    tdocs = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    tt = (
        tok.filter(F.col("doc_id") % 5 == 0)
        .join(vocab, "term")
        .select("doc_id", "term")
    )
    body = (
        tt.crossJoin(F.broadcast(vsz))
        .crossJoin(F.broadcast(totl.select(F.col("lang"), F.col("tot"))))
        .join(
            cnt.select(F.col("lang").alias("_l"), F.col("term").alias("_t"), "c"),
            (F.col("lang") == F.col("_l")) & (F.col("term") == F.col("_t")),
            "left",
        )
        .groupBy("doc_id", "lang", "tot", "v")
        .agg(
            (
                F.sum(F.log(F.coalesce(F.col("c"), F.lit(0)) + 1.0))
                - F.count(F.lit(1)) * F.log(F.col("tot") + F.col("v"))
            ).alias("b")
        )
        .select("doc_id", "lang", "b")
    )
    scored = (
        tdocs.crossJoin(F.broadcast(prior))
        .join(body, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            F.round(F.coalesce(F.col("b"), F.lit(0.0)) + F.col("lp"), 6).alias(
                "score"
            ),
        )
    )
    pred = scored.groupBy("doc_id", "true_lang").agg(
        F.min_by(
            "lang", F.struct((-F.col("score")).alias("ns"), F.col("lang"))
        ).alias("pred_lang")
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- depth-2 regression tree: recurse the stump once, same aggregates ----------------


@register(
    "fit_tree_depth2",
    f"""
    WITH {_STUMP_CUM_CTES},
    sc AS (
      SELECT threshold,
             {_STUMP_SCORE_SQL}
               AS score
      FROM cum CROSS JOIN tot WHERE nl < tn),
    root AS (SELECT MIN(threshold) AS t0 FROM sc
             WHERE score = (SELECT MAX(score) FROM sc)),
    -- second level: the SAME aggregate keyed by which side of t0 a row
    -- falls on; each side searches its own thresholds
    perx2 AS (
      SELECT CASE WHEN CAST(l_quantity AS BIGINT) <= root.t0
                  THEN 'L' ELSE 'R' END AS side,
             CAST(l_quantity AS BIGINT) AS x, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s
      FROM lineitem CROSS JOIN root GROUP BY 1, 2),
    tot2 AS (SELECT side, SUM(n) AS tn, SUM(s) AS ts FROM perx2 GROUP BY 1),
    cum2 AS (
      SELECT side, x AS threshold,
             SUM(n) OVER (PARTITION BY side ORDER BY x) AS nl,
             SUM(s) OVER (PARTITION BY side ORDER BY x) AS sl
      FROM perx2),
    sc2 AS (
      SELECT c.side, c.threshold,
             ROUND((CAST(c.sl AS DOUBLE) * CAST(c.sl AS DOUBLE) / c.nl
                    + CAST(t.ts - c.sl AS DOUBLE) * CAST(t.ts - c.sl AS DOUBLE)
                      / (t.tn - c.nl))
                   / (CAST(t.ts AS DOUBLE) * CAST(t.ts AS DOUBLE) / t.tn), 6)
               AS score,
             ROUND(CAST(c.sl AS DOUBLE) / c.nl, 6) AS gamma_left,
             ROUND(CAST(t.ts - c.sl AS DOUBLE) / (t.tn - c.nl), 6)
               AS gamma_right
      FROM cum2 c JOIN tot2 t ON t.side = c.side WHERE c.nl < t.tn),
    best2 AS (
      SELECT side, MIN(threshold) AS bt FROM sc2 s
      WHERE score = (SELECT MAX(score) FROM sc2 x WHERE x.side = s.side)
      GROUP BY side)
    SELECT s.side, s.threshold, s.score, s.gamma_left, s.gamma_right,
           s.threshold = b.bt AS is_best
    FROM sc2 s JOIN best2 b ON b.side = s.side
    """,
)
def fit_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPTH-2 REGRESSION TREE in exactly two scans: the root split is
    fit_boost_stump's argmax (first scan); the second scan re-keys the
    SAME domain-bounded aggregate by which side of the root threshold a
    row falls on, and each side searches its own candidate curve — the
    level-wise tree-growing schedule every distributed GBDT uses
    (XGBoost/LightGBM histogram mode: one pass per LEVEL, never per
    node). Emits both sides' full curves with per-side
    6dp-before-argmax best flags; scores carry the stump's
    constant-model normalization (per side), keeping 6dp rounding far
    above double noise. All windows run on the <=50-row (side x
    threshold) relation — domain-bounded, never data-bounded."""
    li = table(spark, sf_dir, "lineitem")
    perx = _per_quantity(li)
    sc = _split_curve(perx, []).select("threshold", *_split_stats())
    root = sc.agg(
        F.min_by(
            "threshold", F.struct((-F.col("score")).alias("ns"), F.col("threshold"))
        ).alias("t0")
    )
    perx2 = (
        li.crossJoin(F.broadcast(root))
        .groupBy(
            F.when(F.col("l_quantity").cast("long") <= F.col("t0"), "L")
            .otherwise("R")
            .alias("side"),
            F.col("l_quantity").cast("long").alias("x"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
        )
    )
    sc2 = _split_curve(perx2, ["side"]).select("side", "threshold", *_split_stats())
    best2 = sc2.groupBy("side").agg(
        F.min_by(
            "threshold", F.struct((-F.col("score")).alias("ns"), F.col("threshold"))
        ).alias("bt")
    )
    return sc2.join(F.broadcast(best2), "side").select(
        "side",
        "threshold",
        "score",
        "gamma_left",
        "gamma_right",
        (F.col("threshold") == F.col("bt")).alias("is_best"),
    )


# --- one EM step for a 2-component Gaussian mixture --------------------------------


def _gmm_resp(x: str, mu1: str, mu2: str, s: str) -> str:
    """Responsibility of component 1 under equal weights, as ONE shared
    expression string: r = 1/(1 + exp(((x-mu1)^2 - (x-mu2)^2)/(2 s^2)))
    — algebraically N1/(N1+N2) with the normalizers cancelled, so the
    only libm surface is a single exp()."""
    dd = (
        f"((({x}) - ({mu1})) * (({x}) - ({mu1}))"
        f" - (({x}) - ({mu2})) * (({x}) - ({mu2})))"
        f" / (2.0 * ({s}) * ({s}))"
    )
    return f"(1.0 / (1.0 + exp({dd})))"


@register(
    "fit_gmm_em_step",
    f"""
    WITH init AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS mu1,
             quantile_cont(o_totalprice, 0.75) AS mu2
      FROM orders),
    init2 AS (SELECT mu1, mu2, (mu2 - mu1) / 2.0 AS s FROM init),
    e AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
             CAST(ROUND({_gmm_resp('o_totalprice', 'mu1', 'mu2', 's')}, 6)
                  AS DECIMAL(9,6)) AS r
      FROM orders CROSS JOIN init2),
    m AS (
      SELECT SUM(r) AS n1, SUM((1 - r)) AS n2,
             SUM(r * x) AS sx1, SUM((1 - r) * x) AS sx2,
             -- x*x bounded to DECIMAL(24,4) first: unbounded decimal
             -- multiplication chains overflow DuckDB's 38-digit width
             SUM(r * CAST(x * x AS DECIMAL(24,4))) AS sq1,
             SUM((1 - r) * CAST(x * x AS DECIMAL(24,4))) AS sq2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM e)
    SELECT c.component,
           ROUND(CAST(c.nk AS DOUBLE) / n, 6) AS weight,
           ROUND(CAST(c.sxk AS DOUBLE) / CAST(c.nk AS DOUBLE), 4) AS mu,
           ROUND(sqrt(CAST(c.sqk AS DOUBLE) / CAST(c.nk AS DOUBLE)
                      - (CAST(c.sxk AS DOUBLE) / CAST(c.nk AS DOUBLE))
                        * (CAST(c.sxk AS DOUBLE) / CAST(c.nk AS DOUBLE))), 4)
             AS sigma
    FROM m, LATERAL (VALUES (1, n1, sx1, sq1), (2, n2, sx2, sq2))
             AS c(component, nk, sxk, sqk)
    """,
)
def fit_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE EM STEP for a 2-component Gaussian mixture over order totals
    — the latent-variable member of the in-warehouse fit family
    (k-means is its hard-assignment limit; this is the soft version).
    Deterministic init from exact quartiles (mu = q25/q75, shared sigma
    = IQR/2, equal weights); the E-step responsibility reduces to one
    logistic of the squared-distance difference (normalizers cancel
    under equal weights), and — the cross-engine trick — is QUANTIZED
    to 6dp and cast DECIMAL(9,6) before the M-step, so every M-step
    accumulator (sum r, sum r*x, sum r*x^2 with x DECIMAL(18,2)) is an
    EXACT decimal sum: fold order cannot move the result, and the two
    components' statistics are complementary by construction
    (r2 = 1 - r exactly). One corpus scan for the E+M pass, one
    percentile pass for init; the only doubles are the final
    weight/mu/sigma readouts."""
    orders = table(spark, sf_dir, "orders")
    init = orders.agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("mu1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("mu2"),
    ).select("mu1", "mu2", ((F.col("mu2") - F.col("mu1")) / 2.0).alias("s"))
    e = orders.crossJoin(F.broadcast(init)).select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        F.round(F.expr(_gmm_resp("o_totalprice", "mu1", "mu2", "s")), 6)
        .cast("decimal(9,6)")
        .alias("r"),
    )
    one = F.lit(1).cast("decimal(9,6)")
    m = e.agg(
        F.sum("r").alias("n1"),
        F.sum(one - F.col("r")).alias("n2"),
        F.sum(F.col("r") * F.col("x")).alias("sx1"),
        F.sum((one - F.col("r")) * F.col("x")).alias("sx2"),
        F.sum(
            F.col("r") * (F.col("x") * F.col("x")).cast("decimal(24,4)")
        ).alias("sq1"),
        F.sum(
            (one - F.col("r")) * (F.col("x") * F.col("x")).cast("decimal(24,4)")
        ).alias("sq2"),
        F.count(F.lit(1)).alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rows = []
    for comp, nk, sxk, sqk in ((1, "n1", "sx1", "sq1"), (2, "n2", "sx2", "sq2")):
        mu = d(sxk) / d(nk)
        rows.append(
            m.select(
                F.lit(comp).alias("component"),
                F.round(d(nk) / F.col("n"), 6).alias("weight"),
                F.round(mu, 4).alias("mu"),
                F.round(F.sqrt(d(sqk) / d(nk) - mu * mu), 4).alias("sigma"),
            )
        )
    return rows[0].unionByName(rows[1])


# ---------------------------------------------------------------------------
# PR-AUC (average precision) + calibration report — share fit_auc_roc's
# propensity-labeled fixture
# ---------------------------------------------------------------------------
_AUC_BASE_CTES = f"""
    {_AUC_LABEL_SQL},
             dmin, dmax
      FROM raw, bounds)
"""


def _auc_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, y, dmin, dmax) for the propensity-labeled scorer fixture —
    the Spark side of _AUC_BASE_CTES (see fit_auc_roc for the design)."""
    from ug_dwh_etl_spark.operators.hashing import md5_long

    o = table(spark, sf_dir, "orders")
    raw = o.select(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("d"),
        (md5_long(F.col("o_orderkey").cast("string"), 8) % 10000).alias("u"),
    )
    bounds = raw.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    return raw.crossJoin(F.broadcast(bounds)).select(
        "d",
        F.when(
            F.col("u") < F.expr("((d - dmin) * 10000) div (dmax - dmin)"), 1
        )
        .otherwise(0)
        .alias("y"),
        "dmin",
        "dmax",
    )


_PR_AUC_SQL = f"""
    WITH {_AUC_BASE_CTES},
    pv AS (SELECT d, CAST(SUM(y) AS BIGINT) AS ca,
                  CAST(SUM(1 - y) AS BIGINT) AS cb
           FROM base GROUP BY 1),
    cum AS (
      SELECT ca,
             SUM(ca) OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING) AS tp,
             SUM(cb) OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING) AS fp
      FROM pv),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS p, CAST(SUM(cb) AS BIGINT) AS n
            FROM pv),
    terms AS (
      SELECT CAST(ROUND((ca * 1.0 / p) * (tp * 1.0 / (tp + fp)), 12)
                  AS DECIMAL(20,12)) AS term
      FROM cum, tot)
    SELECT (SELECT p FROM tot) AS npos, (SELECT n FROM tot) AS nneg,
           ROUND((SELECT p FROM tot) * 1.0
                 / ((SELECT p FROM tot) + (SELECT n FROM tot)), 6) AS base_rate,
           ROUND(CAST(SUM(term) AS DOUBLE), 6) AS average_precision
    FROM terms
"""


@register("fit_pr_auc", _PR_AUC_SQL)
def fit_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR-AUC (AVERAGE PRECISION, sklearn's step-interpolation
    definition AP = Σ ΔR_k · P_k over descending-score tie blocks) —
    the imbalanced-data companion to fit_auc_roc, against the same
    propensity-labeled fixture; the readout to trust when positives are
    rare (ROC-AUC stays rosy under imbalance, AP collapses toward the
    base rate). Numerics: TP/FP cumulate as BIGINTs over the
    distinct-day relation (calendar-bounded window, never over orders);
    each block's ΔR·P term divides the SAME integers on both engines,
    is quantized to DECIMAL(20,12), and the final fold is a DECIMAL sum
    — order-independent by construction, so engine fold order cannot
    flip the 6dp rounding (the money-sum rule applied to a float
    reduction). AP lands at 0.834 vs base rate 0.496 — the lift the
    monotone scorer really has."""
    base = _auc_base(spark, sf_dir)
    pv = base.groupBy("d").agg(
        F.sum("y").cast("long").alias("ca"),
        F.sum(1 - F.col("y")).cast("long").alias("cb"),
    )
    wdesc = Window.orderBy(F.desc("d")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = pv.select(
        "ca",
        F.sum("ca").over(wdesc).alias("tp"),
        F.sum("cb").over(wdesc).alias("fp"),
    )
    tot = pv.agg(
        F.sum("ca").cast("long").alias("p"),
        F.sum("cb").cast("long").alias("n"),
    )
    terms = cum.crossJoin(F.broadcast(tot)).select(
        "p",
        "n",
        F.round(
            (F.col("ca") * 1.0 / F.col("p"))
            * (F.col("tp") * 1.0 / (F.col("tp") + F.col("fp"))),
            12,
        )
        .cast("decimal(20,12)")
        .alias("term"),
    )
    return terms.groupBy("p", "n").agg(
        F.round(F.sum("term").cast("double"), 6).alias("average_precision")
    ).select(
        F.col("p").alias("npos"),
        F.col("n").alias("nneg"),
        F.round(F.col("p") * 1.0 / (F.col("p") + F.col("n")), 6).alias(
            "base_rate"
        ),
        "average_precision",
    )


_CALIB_SQL = f"""
    WITH {_AUC_BASE_CTES},
    moments AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((d - dmin) * (d - dmin)) AS BIGINT) AS a,
             CAST(SUM((d - dmin) * y) AS BIGINT) AS b,
             CAST(SUM(y) AS BIGINT) AS c,
             CAST(ANY_VALUE(dmax - dmin) AS BIGINT) AS r
      FROM base),
    bins AS (
      SELECT LEAST(((d - dmin) * 10) // (dmax - dmin), 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS nb,
             ROUND(SUM(d - dmin) * 1.0
                   / (COUNT(*) * ANY_VALUE(dmax - dmin)), 6) AS mean_pred,
             ROUND(SUM(y) * 1.0 / COUNT(*), 6) AS obs_rate
      FROM base GROUP BY 1),
    ece AS (
      SELECT SUM(CAST(ROUND(nb * ABS(obs_rate - mean_pred), 9)
                      AS DECIMAL(20,9))) AS werr,
             ROUND(MAX(ABS(obs_rate - mean_pred)), 6) AS max_gap
      FROM bins)
    SELECT n,
           ROUND((a - 2 * r * b + r * r * c) * 1.0 / (n * r * r), 6) AS brier,
           ROUND(CAST(werr AS DOUBLE) / n, 6) AS ece,
           max_gap
    FROM moments, ece
"""


@register("fit_calibration_report", _CALIB_SQL)
def fit_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE + EXPECTED CALIBRATION ERROR for the propensity-
    labeled scorer — the one-row health readout next to fit_auc_roc's
    per-bin reliability table. Brier = mean((s-y)²) expands to
    (A - 2RB + R²C)/(nR²) over three EXACT BIGINT moments (A=Σ(d-dmin)²,
    B=Σ(d-dmin)y, C=Σy, R=dmax-dmin), so no float enters until one final
    division of identical integers; ECE folds the ten 6dp-rounded bin
    gaps through a DECIMAL sum (order-independent). For a perfectly
    calibrated scorer Brier ≈ E[s(1-s)] (the irreducible noise term,
    ~0.157 for this near-uniform s) and ECE sits at sampling noise —
    a miscalibrated model moves both, which is exactly what the gate
    would catch."""
    base = _auc_base(spark, sf_dir)
    m = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("d") - F.col("dmin")) * (F.col("d") - F.col("dmin")))
        .cast("long")
        .alias("a"),
        F.sum((F.col("d") - F.col("dmin")) * F.col("y")).cast("long").alias("b"),
        F.sum("y").cast("long").alias("c"),
        F.first(F.col("dmax") - F.col("dmin")).cast("long").alias("r"),
    )
    bins = base.groupBy(
        F.least(
            F.expr("((d - dmin) * 10) div (dmax - dmin)"),
            F.lit(9).cast("long"),
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.round(
            F.sum(F.col("d") - F.col("dmin"))
            * 1.0
            / (F.count(F.lit(1)) * F.first(F.col("dmax") - F.col("dmin"))),
            6,
        ).alias("mean_pred"),
        F.round(F.sum("y") * 1.0 / F.count(F.lit(1)), 6).alias("obs_rate"),
    )
    ece = bins.agg(
        F.sum(
            F.round(
                F.col("nb") * F.abs(F.col("obs_rate") - F.col("mean_pred")), 9
            ).cast("decimal(20,9)")
        ).alias("werr"),
        F.round(F.max(F.abs(F.col("obs_rate") - F.col("mean_pred"))), 6).alias(
            "max_gap"
        ),
    )
    return m.crossJoin(F.broadcast(ece)).select(
        "n",
        F.round(
            (F.col("a") - 2 * F.col("r") * F.col("b")
             + F.col("r") * F.col("r") * F.col("c"))
            * 1.0
            / (F.col("n") * F.col("r") * F.col("r")),
            6,
        ).alias("brier"),
        F.round(F.col("werr").cast("double") / F.col("n"), 6).alias("ece"),
        "max_gap",
    )
