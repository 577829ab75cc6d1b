"""Entity resolution / record linkage over the `part` dimension.

The full production ER pipeline as composable, oracle-paired stages —
the warehouse counterpart of the reference's implicit "one row per
business entity" contract (its snapshot sinks assume upstream keys are
already resolved; `sf_html_data.py:178` appends daily rows keyed by a
scraped name column, exactly the kind of feed that needs this):

  multi-pass blocking  →  in-block fuzzy scoring  →  transitive
  clustering (connected components)  →  golden-record survivorship

Scale shape (100 TB): every stage is a shuffle on a bounded key — the
quadratic pair scoring runs only INSIDE blocking groups (two cheap
passes with different keys recover pairs a single key would miss), the
cluster contraction is the convergent large-star/small-star fixpoint
(no iteration-count guess), and survivorship is one grouped aggregate
over cluster ids. No stage materializes the all-pairs relation.

Single-pass blocked scoring itself is proven by `fuzzy_match_parts`
(queries/relational_ext.py) and `dedup_sorted_neighborhood`
(queries/dedup.py); this module composes the stages those stop short
of.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ug_dwh_etl_spark.queries.registry import register, table

_LEV_MAX = 3

# The two blocking passes: same scoring predicate, different keys. A
# pair must collide on at least one pass to become a candidate — the
# standard multi-pass trade: each pass stays selective (small blocks,
# no quadratic blow-up) while the union recovers the recall a single
# key loses to a dirty blocking attribute.
_PASSES = (("p_brand", "p_type"), ("p_brand", "p_size"))


def _pairs_sql() -> str:
    """Shared candidate-pair CTE body (DuckDB): union of both blocking
    passes, scored with levenshtein inside the block."""
    sels = []
    for i, (k1, k2) in enumerate(_PASSES, start=1):
        sels.append(
            f"""
  p{i} AS (
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           {i} AS pass_id
    FROM part a JOIN part b
      ON a.{k1} = b.{k1} AND a.{k2} = b.{k2} AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {_LEV_MAX})"""
        )
    return (
        ",".join(sels)
        + """,
  allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
  pairs AS (
    SELECT id_a, id_b, MIN(dist) AS dist,
           CAST(COUNT(DISTINCT pass_id) AS BIGINT) AS n_passes
    FROM allp GROUP BY id_a, id_b)"""
    )


def _candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the pairs CTE: one blocked self-join per pass,
    union, collapse to distinct pairs with pass provenance."""
    return candidate_pairs_from(table(spark, sf_dir, "part"))


def candidate_pairs_from(part: DataFrame) -> DataFrame:
    """Multi-pass blocked candidate generation over any part-shaped
    relation (p_partkey, p_name + the blocking attributes) — the
    testable core of the ER stage."""
    per_pass = []
    for i, (k1, k2) in enumerate(_PASSES, start=1):
        a = part.select(
            F.col("p_partkey").alias("id_a"),
            F.col(k1).alias("_k1"),
            F.col(k2).alias("_k2"),
            F.col("p_name").alias("_name_a"),
        )
        b = part.select(
            F.col("p_partkey").alias("id_b"),
            F.col(k1).alias("_k1"),
            F.col(k2).alias("_k2"),
            F.col("p_name").alias("_name_b"),
        )
        per_pass.append(
            a.join(b, ["_k1", "_k2"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.levenshtein("_name_a", "_name_b").cast("long").alias("dist"),
                F.lit(i).alias("pass_id"),
            )
            .filter(F.col("dist") <= _LEV_MAX)
        )
    allp = per_pass[0].unionByName(per_pass[1])
    return allp.groupBy("id_a", "id_b").agg(
        F.min("dist").alias("dist"),
        F.count_distinct("pass_id").alias("n_passes"),
    )


@register(
    "er_multipass_pairs",
    f"""
    WITH {_pairs_sql()}
    SELECT id_a, id_b, dist, n_passes FROM pairs
    """,
)
def er_multipass_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate match pairs from TWO blocking passes (brand+type,
    brand+size), levenshtein-scored inside each block, unioned and
    collapsed to one row per pair with provenance (how many passes
    surfaced it, best distance). The multi-pass recall fix for
    single-key blocking: a typo'd `p_type` still collides on the
    (brand, size) pass. Each pass's join shuffles on its composite
    block key only — the all-pairs relation never exists."""
    return _candidate_pairs(spark, sf_dir)


def _reach_sql(select: str) -> str:
    """Recursive-CTE transitive closure over the candidate pairs —
    engine-exact cluster membership, same shape as embed_dup_clusters'
    oracle (queries/dedup.py)."""
    return f"""
    WITH RECURSIVE {_pairs_sql()},
    und AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM und
      UNION
      SELECT und.a, reach.r FROM und JOIN reach ON reach.node = und.b
    ),
    comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
    {select}
    """


@register(
    "er_entity_clusters",
    _reach_sql(
        """SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM comp GROUP BY cluster_id"""
    ),
)
def er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the multi-pass match pairs into ENTITY
    CLUSTERS via the convergent large-star/small-star fixpoint
    (operators.graph.connected_components_converged) — cluster_id is
    the true minimum member key regardless of chain diameter, so A~B,
    B~C lands A and C in one entity even though they never matched
    directly. The oracle closes reachability with a recursive CTE over
    the identical pair set. The (node, component) table is materialized
    once per process (_er_components) and shared with er_golden_record
    — at 100 TB the resolved-entity mapping is an artifact you compute
    once and join everywhere, not per downstream query."""
    comp = _er_components(spark, sf_dir)
    return comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


def _er_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The converged (node, component) closure of the multi-pass match
    pairs, materialized ONCE per process per sf_dir (the per-process
    parquet convention of queries/graph.py:_lpa_communities) — both ER
    consumers read it instead of re-running blocking + in-block
    levenshtein + the iterative closure."""
    from ug_dwh_etl_spark.operators.graph import connected_components_converged
    from ug_dwh_etl_spark.queries.registry import materialize_once

    def build() -> DataFrame:
        pairs = _candidate_pairs(spark, sf_dir).select("id_a", "id_b")
        return connected_components_converged(pairs, src="id_a", dst="id_b")

    return materialize_once(spark, sf_dir, "er_components", build)


@register(
    "er_golden_record",
    _reach_sql(
        """,
    mem AS (SELECT c.cluster_id, p.* FROM comp c JOIN part p
            ON p.p_partkey = c.node),
    type_counts AS (
      SELECT cluster_id, p_type, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY COUNT(*) DESC, p_type) AS rk
      FROM mem GROUP BY cluster_id, p_type),
    mode_t AS (SELECT cluster_id, p_type AS mode_type
               FROM type_counts WHERE rk = 1),
    base AS (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             MIN(CASE WHEN p_partkey = cluster_id THEN p_name END)
               AS canonical_name,
             ROUND(MAX(p_retailprice), 2) AS max_price
      FROM mem GROUP BY cluster_id)
    SELECT b.cluster_id, b.n_members, b.canonical_name,
           m.mode_type, b.max_price
    FROM base b JOIN mode_t m USING (cluster_id)"""
    ),
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD survivorship over the entity clusters — one
    canonical row per resolved entity with rule-based field selection:

    - ``canonical_name``: oldest-record-wins (the minimum-key member —
      which IS the cluster id, so it's a cheap equality, not a sort);
    - ``mode_type``: most-frequent-value wins, ties broken
      lexicographically (deterministic across engines);
    - ``max_price``: greatest-value wins.

    One grouped aggregate over cluster membership; the mode needs one
    extra (cluster, value)-grained count — both shuffles are on the
    cluster key, nothing pairwise survives past the clustering stage.
    The closure itself is READ from the per-process materialization
    (_er_components), shared with er_entity_clusters."""
    part = table(spark, sf_dir, "part")
    comp = _er_components(spark, sf_dir)
    mem = comp.join(part, comp["node"] == part["p_partkey"]).select(
        F.col("component").alias("cluster_id"),
        "p_partkey",
        "p_name",
        "p_type",
        "p_retailprice",
    )
    # most-frequent p_type per cluster, ties to the smallest string —
    # min_by over (-cnt, p_type) avoids a rank window on the hot path
    type_mode = (
        mem.groupBy("cluster_id", "p_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("cluster_id")
        .agg(
            F.min_by(
                "p_type", F.struct((-F.col("cnt")).alias("neg"), F.col("p_type"))
            ).alias("mode_type")
        )
    )
    base = mem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(
            F.when(F.col("p_partkey") == F.col("cluster_id"), F.col("p_name"))
        ).alias("canonical_name"),
        F.round(F.max("p_retailprice"), 2).alias("max_price"),
    )
    return base.join(type_mode, "cluster_id").select(
        "cluster_id", "n_members", "canonical_name", "mode_type", "max_price"
    )


# --- block purging: the cap that keeps blocked ER linear ---------------------
# A blocking key can DEGENERATE as data grows: this fixture's
# (brand, type) key saturates at 150 distinct blocks, so block size —
# and the in-block quadratic scoring — grows linearly with the corpus
# (165-member blocks at sf0.1 vs 24 at sf0.01). Block purging drops
# over-cap blocks from a pass entirely: an oversized block means the
# key has stopped discriminating there, and its pairs are recovered
# exactly when they ALSO collide on a still-selective pass — the
# multi-pass recall contract. Cap chosen to bind at sf0.01+ on the
# (brand, type) pass while leaving (brand, size) untouched.
_BLOCK_CAP = 16


def candidate_pairs_capped_from(part: DataFrame, cap: int = _BLOCK_CAP) -> DataFrame:
    """Multi-pass candidate generation with per-pass BLOCK PURGING:
    blocks larger than ``cap`` contribute no pairs from that pass. The
    over-cap block list is a grouped count filtered to <= cap — block-
    key-sized, broadcast back onto both join sides, so the purge adds
    no shuffle and the in-block self-join fan-out is bounded by cap²
    per block regardless of corpus size (measured in SCALE.md §er)."""
    per_pass = []
    for i, (k1, k2) in enumerate(_PASSES, start=1):
        ok = (
            part.groupBy(F.col(k1).alias("_k1"), F.col(k2).alias("_k2"))
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= cap)
            .select("_k1", "_k2")
        )
        a = part.select(
            F.col("p_partkey").alias("id_a"),
            F.col(k1).alias("_k1"),
            F.col(k2).alias("_k2"),
            F.col("p_name").alias("_name_a"),
        ).join(F.broadcast(ok), ["_k1", "_k2"])
        b = part.select(
            F.col("p_partkey").alias("id_b"),
            F.col(k1).alias("_k1"),
            F.col(k2).alias("_k2"),
            F.col("p_name").alias("_name_b"),
        )
        per_pass.append(
            a.join(b, ["_k1", "_k2"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.levenshtein("_name_a", "_name_b").cast("long").alias("dist"),
                F.lit(i).alias("pass_id"),
            )
            .filter(F.col("dist") <= _LEV_MAX)
        )
    allp = per_pass[0].unionByName(per_pass[1])
    return allp.groupBy("id_a", "id_b").agg(
        F.min("dist").alias("dist"),
        F.count_distinct("pass_id").alias("n_passes"),
    )


def _capped_pairs_sql(cap: int = _BLOCK_CAP) -> str:
    sels = []
    for i, (k1, k2) in enumerate(_PASSES, start=1):
        sels.append(
            f"""
  pc{i} AS (
    SELECT {k1} AS k1, {k2} AS k2 FROM part
    GROUP BY {k1}, {k2} HAVING COUNT(*) <= {cap}),
  p{i} AS (
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           {i} AS pass_id
    FROM part a
    JOIN pc{i} c ON a.{k1} = c.k1 AND a.{k2} = c.k2
    JOIN part b ON a.{k1} = b.{k1} AND a.{k2} = b.{k2}
                AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {_LEV_MAX})"""
        )
    return (
        ",".join(sels)
        + """,
  allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
  pairs AS (
    SELECT id_a, id_b, MIN(dist) AS dist,
           CAST(COUNT(DISTINCT pass_id) AS BIGINT) AS n_passes
    FROM allp GROUP BY id_a, id_b)"""
    )


@register(
    "er_pairs_block_capped",
    f"""
    WITH {_capped_pairs_sql()}
    SELECT id_a, id_b, dist, n_passes FROM pairs
    """,
)
def er_pairs_block_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`er_multipass_pairs` with BLOCK PURGING (cap {cap}): the
    degenerate-block guard every production blocked ER needs — see
    candidate_pairs_capped_from. At this fixture's sf0.1 the purge
    drops the saturated (brand, type) pass almost entirely while the
    (brand, size) pass keeps recall; the capped/uncapped growth curves
    and the recall given up are measured in SCALE.md §er."""
    return candidate_pairs_capped_from(table(spark, sf_dir, "part"))


er_pairs_block_capped.__doc__ = er_pairs_block_capped.__doc__.replace(
    "{cap}", str(_BLOCK_CAP)
)
