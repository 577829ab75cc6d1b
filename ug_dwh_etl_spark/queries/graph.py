"""Link-graph queries: PageRank over a deterministic edge table.

Edge stand-in (FIXTURES.md §B2 — the inlinks edge CSV): the distinct
supplier→part bipartite relation from lineitem. Both engines derive the
identical edge set, and the fixed-iteration dataflow is unrolled into
the oracle SQL, so ranks match to float precision."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ug_dwh_etl_spark.operators.graph import (
    _symmetric,
    node_universe,
    pagerank,
    pagerank_incremental,
    strongly_connected_components,
    sql_bfs,
    sql_label_propagation,
    sql_connected_components,
    sql_hits,
    sql_pagerank,
)
from ug_dwh_etl_spark.queries.registry import register, table
from ug_dwh_etl_spark.session import conf_scope, pinned

# supplier s<k> links to part p<k>; prefixes keep the two node
# namespaces disjoint so the graph is a real bipartite link graph
_EDGES_SQL = """
    SELECT DISTINCT 's' || l_suppkey::VARCHAR AS src,
                    'p' || l_partkey::VARCHAR AS dst
    FROM lineitem
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier→part link-graph edge table, materialized once per
    process (registry.materialize_once): ~14 graph queries consume this
    same relation — at 100 TB the edge table is an ingest artifact the
    graph jobs share, not a distinct-scan each re-runs (and several
    consumers reference it twice within one plan)."""
    from ug_dwh_etl_spark.queries.registry import materialize_once

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem")
        return li.select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
        ).distinct()

    return materialize_once(spark, sf_dir, "graph_edges", build)


@register("graph_pagerank", sql_pagerank(_EDGES_SQL, iterations=3))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank(_edges(spark, sf_dir), iterations=3)
    return ranks.select("node", F.round("rank", 4).alias("rank"))


# IVM fixture: the UNDIRECTED view of the block-structured community
# graph (10 disjoint blocks, see _COMMUNITY_EDGES_SQL) — every node has
# out-edges, so rank deltas genuinely propagate hop by hop, and a delta
# confined to one block stays confined (the realistic crawl shape: a
# daily link delta touches one site section, not every page's degree).
_IVM_BLOCK = "l_suppkey % 10 = l_partkey % 10"
_IVM_DELTA = "(l_orderkey % 20 = 0 AND l_suppkey % 10 = 0)"
_IVM_FULL_SQL = f"""
    SELECT DISTINCT src, dst FROM (
      SELECT 's' || l_suppkey::VARCHAR AS src,
             'p' || l_partkey::VARCHAR AS dst
      FROM lineitem WHERE {_IVM_BLOCK}
      UNION ALL
      SELECT 'p' || l_partkey::VARCHAR, 's' || l_suppkey::VARCHAR
      FROM lineitem WHERE {_IVM_BLOCK})
"""


def _ivm_edges(spark: SparkSession, sf_dir: str, base_only: bool) -> DataFrame:
    from ug_dwh_etl_spark.queries.registry import materialize_once

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem").filter(F.expr(_IVM_BLOCK))
        if base_only:
            li = li.filter(~F.expr(_IVM_DELTA))
        s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
        p = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        return (
            li.select(s.alias("src"), p.alias("dst"))
            .unionByName(li.select(p.alias("src"), s.alias("dst")))
            .distinct()
        )

    name = "graph_ivm_edges_base" if base_only else "graph_ivm_edges_full"
    return materialize_once(spark, sf_dir, name, build)


@register(
    "graph_pagerank_incremental",
    sql_pagerank(_IVM_FULL_SQL, iterations=3, round_to=3),
)
def graph_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank maintained under an EDGE DELTA by incremental view
    maintenance (operators/graph.py:pagerank_incremental): yesterday's
    graph lacks the block-0 links contributed by 5% of orders; today's
    crawl adds them (the reference replaces its inlink edge table
    daily, `sf_inlink_bulk_data.py:104`, then re-ingests full rank
    snapshots, `Audisto/audisto.py:147-159` — here the engine UPDATES
    the ranks instead of recomputing). Only changed contributions and
    the dirty frontier flow through the 3-step dataflow, and because
    the delta is confined to one of the graph's 10 disjoint blocks,
    that is ~1/10th of the edges per iteration (measured in SCALE.md
    §pagerank-ivm) — a block-local delta never touches the other
    blocks' state. The ORACLE is the cold full recompute over the
    unioned edges, so the gate proves incremental == from-scratch.
    Compared at 3dp, not the pagerank-default 4dp: this fixture's
    uniform tiny blocks yield small-denominator rational ranks EXACTLY
    on the 4dp half-grid (14.34925 at sf0.001), where even cold Spark
    vs DuckDB flips; measured 3dp margins are >=2.6e-7 at both SFs,
    ~1e7x the float-order noise."""
    ranks = pagerank_incremental(
        _ivm_edges(spark, sf_dir, base_only=True),
        _ivm_edges(spark, sf_dir, base_only=False),
        iterations=3,
    )
    return ranks.select("node", F.round("rank", 3).alias("rank"))


@register(
    "graph_degree_stats",
    """
    WITH edges AS (
      SELECT DISTINCT 's' || l_suppkey::VARCHAR AS src,
                      'p' || l_partkey::VARCHAR AS dst
      FROM lineitem)
    SELECT 'out' AS side, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MAX(d) AS BIGINT) AS max_degree, ROUND(AVG(d), 6) AS avg_degree
    FROM (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)
    UNION ALL
    SELECT 'in' AS side, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MAX(d) AS BIGINT) AS max_degree, ROUND(AVG(d), 6) AS avg_degree
    FROM (SELECT dst, COUNT(*) AS d FROM edges GROUP BY dst)
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)

    def side(col: str, label: str) -> DataFrame:
        return (
            edges.groupBy(col)
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(
                F.lit(label).alias("side"),
                F.count(F.lit(1)).alias("n_nodes"),
                F.max("d").alias("max_degree"),
                F.round(F.avg("d"), 6).alias("avg_degree"),
            )
        )

    return side("src", "out").unionByName(side("dst", "in"))


@register(
    "graph_cheirank",
    sql_pagerank(
        """
        SELECT DISTINCT 'p' || l_partkey::VARCHAR AS src,
                        's' || l_suppkey::VARCHAR AS dst
        FROM lineitem
        """,
        iterations=3,
    ),
)
def graph_cheirank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CheiRank — the second rank column the reference ingests per URL
    (`Audisto/audisto.py:147-148`): PageRank over the REVERSED edge set
    (communicativity instead of popularity). Same operator, edges
    flipped."""
    edges = _edges(spark, sf_dir).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    ranks = pagerank(edges, iterations=3)
    return ranks.select("node", F.round("rank", 4).alias("rank"))



# disjoint-by-construction community subgraph for the components query:
# supplier s<k> links part p<j> only when k % 10 == j % 10
_COMMUNITY_EDGES_SQL = """
    SELECT DISTINCT 's' || l_suppkey::VARCHAR AS src,
                    'p' || l_partkey::VARCHAR AS dst
    FROM lineitem WHERE l_suppkey % 10 = l_partkey % 10
"""


@register(
    "graph_components_converged",
    f"""
    WITH RECURSIVE e0 AS ({_COMMUNITY_EDGES_SQL}),
    und AS (SELECT DISTINCT a, b FROM (
      SELECT src AS a, dst AS b FROM e0 UNION ALL SELECT dst, src FROM e0)),
    reach(node, r) AS (
      SELECT a, a FROM und
      UNION
      SELECT und.a, reach.r FROM und JOIN reach ON reach.node = und.b
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    SELECT component, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM comp GROUP BY component HAVING COUNT(*) > 1
    """,
)
def graph_components_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE connected components via large-star/small-star contraction
    to a verified fixpoint (operators.graph.connected_components_converged)
    — the unbounded-diameter production path next to the bounded
    ``graph_components`` twin. The oracle is the genuine fixpoint too:
    a DuckDB recursive CTE closing reachability, so the two engines
    agree on the exact component structure, not just on a shared
    iteration count."""
    from ug_dwh_etl_spark.operators.graph import connected_components_converged

    comp = connected_components_converged(_community_edges(spark, sf_dir))
    return (
        comp.groupBy(F.col("component"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .filter(F.col("n_nodes") > 1)
    )


def _community_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed community-subgraph edges, materialized once per process
    (shared by components/kcore/link-prediction/louvain consumers —
    the round-11 extension of the graph_edges artifact: every edge
    projection the family re-derived per query is now built by its
    first consumer and read by the rest)."""
    from ug_dwh_etl_spark.queries.registry import materialize_once

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem").filter(
            F.col("l_suppkey") % 10 == F.col("l_partkey") % 10
        )
        return li.select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
        ).distinct()

    return materialize_once(spark, sf_dir, "graph_community_edges", build)


def _und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric distinct adjacency (a, b) of the link graph —
    the single most re-derived relation in the family (BFS, walks,
    assortativity, modularity each paid the union+distinct shuffle);
    now one artifact built from the graph_edges artifact."""
    from ug_dwh_etl_spark.queries.registry import materialize_once

    def build() -> DataFrame:
        return _symmetric(_edges(spark, sf_dir), "src", "dst")

    return materialize_once(spark, sf_dir, "graph_und", build)


def _community_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct adjacency of the community subgraph."""
    from ug_dwh_etl_spark.queries.registry import materialize_once

    def build() -> DataFrame:
        return _symmetric(_community_edges(spark, sf_dir), "src", "dst")

    return materialize_once(spark, sf_dir, "graph_community_und", build)


def _copurchase_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted part co-purchase graph (a < b, w = shared-order count):
    the order-width-bounded projection triangles and Louvain both
    build; the unweighted edge set is its (a, b) columns."""
    from ug_dwh_etl_spark.queries.registry import materialize_once

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem")
        op = li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        ).distinct()
        x, y = op.alias("x"), op.alias("y")
        return (
            x.join(
                y, (F.col("x.o") == F.col("y.o")) & (F.col("x.p") < F.col("y.p"))
            )
            .groupBy(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
            .agg(F.count(F.lit(1)).alias("w"))
        )

    return materialize_once(spark, sf_dir, "graph_copurchase_w", build)


@register(
    "graph_components",
    sql_connected_components(_COMMUNITY_EDGES_SQL, iterations=3)
    + """
    SELECT label AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM l3 GROUP BY label HAVING COUNT(*) > 1
    """,
)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (bounded min-label propagation, 3 rounds)
    aggregated to (component, n_nodes) for non-singleton groups — the
    'site cluster' report over an inlinks edge table, same machinery as
    the near-dup clusterer. Runs on the residue-class community
    subgraph (supplier links part only when suppkey%10 == partkey%10),
    which has genuinely disjoint components — the full bipartite graph
    collapses to one giant component and checks nothing. 3 rounds do
    not fully converge these diameters; the oracle runs the identical
    bounded dataflow, so the comparison is exact either way."""
    from ug_dwh_etl_spark.operators.graph import connected_components

    comp = connected_components(
        _community_und(spark, sf_dir),
        iterations=3,
        src="a",
        dst="b",
        undirected=True,
    )
    return (
        comp.groupBy(F.col("component"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .filter(F.col("n_nodes") > 1)
    )


# --- triangle count over the co-purchase projection ---------------------------
_COPURCHASE_CTES = """
    op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (SELECT a.p AS a, b.p AS b
           FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
           GROUP BY a.p, b.p)"""


@register(
    "graph_triangle_count",
    f"""
    WITH {_COPURCHASE_CTES},
    deg AS (SELECT node, COUNT(*) AS d
            FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
            GROUP BY node),
    ori AS (SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
                   CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v
            FROM e0 JOIN deg da ON da.node = a JOIN deg db ON db.node = b)
    SELECT CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM ori w1
      JOIN ori w2 ON w1.u = w2.u AND w1.v < w2.v
      JOIN e0 e ON e.a = w1.v AND e.b = w2.v
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the part co-purchase graph (parts sharing an
    order), via degree-ordered orientation (compact-forward): each edge
    points from its lower-(degree, id) endpoint, and each triangle is
    counted exactly once at its unique out-degree-2 apex as
    |N+(u) ∩ N+(v)| summed over oriented edges (u, v).

    Scale shape: the bipartite→unipartite projection is bounded by
    order width (≤ ~7 parts/order → ≤ 21 pairs), and orientation caps
    out-neighborhoods at O(sqrt(|E|)) per node. The intersection form
    deliberately does NOT materialize the wedge relation the oracle SQL
    enumerates: wedges exist only inside the per-edge array_intersect
    (codegen, no shuffle), which measured 3.5x faster than shuffling the
    wedge set into a closing join at sf0.1 (1.4s vs 5s) — same count,
    same O(E^1.5) work bound, but the blow-up term never hits the
    exchange. Out-neighbor arrays are |N+| ≤ O(sqrt E) longs, so the
    collect_list state is bounded per node."""
    # the shared weighted co-purchase artifact: its (a, b) keys ARE the
    # distinct pair set; five consumers (degree x2, orientation, closing
    # join, edge count) each re-read the materialized parquet
    e0 = _copurchase_w(spark, sf_dir).select("a", "b")
    deg = (
        e0.select(F.col("a").alias("node"))
        .unionByName(e0.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    flip = (F.col("da") > F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") > F.col("b"))
    )
    ori = (
        e0.join(da, "a")
        .join(db, "b")
        .select(
            F.when(flip, F.col("b")).otherwise(F.col("a")).alias("u"),
            F.when(flip, F.col("a")).otherwise(F.col("b")).alias("v"),
        )
        .localCheckpoint(eager=False)  # edge stream + both neighbor maps
    )
    nbrs = ori.groupBy("u").agg(F.collect_list("v").alias("ns"))
    nu = nbrs.select("u", F.col("ns").alias("nu"))
    nv = nbrs.select(F.col("u").alias("v"), F.col("ns").alias("nv"))
    tri = (
        ori.join(nu, "u")
        .join(nv, "v")
        .select(F.size(F.array_intersect("nu", "nv")).alias("c"))
        .agg(F.sum("c").cast("long").alias("n_triangles"))
    )
    sides = e0.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return sides.crossJoin(tri).select("n_edges", "n_nodes", "n_triangles")


_SEEDS_SQL = """
    SELECT DISTINCT 's' || l_suppkey::VARCHAR AS node
    FROM lineitem WHERE l_suppkey % 10 = 0
"""


def _ppr_oracle() -> str:
    from ug_dwh_etl_spark.operators.graph import sql_personalized_pagerank

    return (
        sql_personalized_pagerank(_EDGES_SQL, _SEEDS_SQL, iterations=3)
        + """
    SELECT node, ROUND(rank * 1000, 6) AS rank_permille
    FROM r3 WHERE rank > 0 ORDER BY rank_permille DESC, node LIMIT 50
    """
    )


@register("graph_personalized_pagerank", _ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the seed suppliers (suppkey % 10 = 0):
    teleport mass stays near the seeds, so the ranking answers 'which
    parts/suppliers are closest to THIS portfolio' — the
    recommendation/related-items primitive the uniform rank can't
    express. Top-50 by proximity (permille scale, 6-digit round);
    zero-rank nodes (unreachable within 3 hops) are excluded on both
    engines. Same per-iteration shuffle budget as graph_pagerank."""
    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.operators.graph import personalized_pagerank

    li = table(spark, sf_dir, "lineitem")
    seeds = (
        li.filter(F.col("l_suppkey") % 10 == 0)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("node")
        )
        .distinct()
    )
    ranks = personalized_pagerank(_edges(spark, sf_dir), seeds, iterations=3)
    return (
        ranks.filter(F.col("rank") > 0)
        .select("node", F.round(F.col("rank") * 1000, 6).alias("rank_permille"))
        .orderBy(F.desc("rank_permille"), F.asc("node"))
        .limit(50)
    )


_KCORE_EDGES_SQL = """
    SELECT DISTINCT 'p' || l_partkey::VARCHAR AS a,
                    's' || l_suppkey::VARCHAR AS b
    FROM lineitem
"""


def _kcore_oracle() -> str:
    from ug_dwh_etl_spark.operators.graph import sql_kcore_rounds

    return sql_kcore_rounds(_KCORE_EDGES_SQL, k=4, rounds=3)


@register("graph_kcore", _kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core peeling on the supplier↔part bipartite graph, 3 bounded
    rounds (operators.graph.kcore_rounds): each round drops nodes of
    degree < 4 and reports the shrinking (n_nodes, n_edges) — the
    degeneracy/dense-subgraph primitive (spam-cluster mining on the
    reference's inlink graph). Peeling cascades: removing sparse parts
    lowers supplier degrees, which the next round acts on. The oracle
    unrolls the identical dataflow, so the per-round counts are exact.
    Per-round cost is one node-sized degree agg + two semi joins on the
    surviving set — linear in edges per round at any scale."""
    edges = _edges(spark, sf_dir).select(
        F.col("dst").alias("a"), F.col("src").alias("b")
    )  # the shared artifact is already the distinct pair set
    from ug_dwh_etl_spark.operators.graph import kcore_rounds

    return kcore_rounds(edges, k=4, rounds=3)


# --- common-neighbor link prediction -------------------------------------------
_LP_DEG_CAP = 64
_LP_TOPK = 30


@register(
    "graph_link_prediction",
    f"""
    WITH e0 AS ({_COMMUNITY_EDGES_SQL}),
    und AS (SELECT DISTINCT a, b FROM (
      SELECT src AS a, dst AS b FROM e0 UNION ALL SELECT dst, src FROM e0)),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY a),
    hub AS (SELECT node FROM deg WHERE d <= {_LP_DEG_CAP}),
    wedge AS (
      SELECT x.b AS w, x.a AS u, y.a AS v
      FROM und x JOIN und y ON x.b = y.b AND x.a < y.a
      WHERE x.b IN (SELECT node FROM hub)),
    cn AS (SELECT u, v, COUNT(*) AS common FROM wedge GROUP BY u, v),
    nonadj AS (
      SELECT cn.u, cn.v, cn.common FROM cn
      WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = cn.u AND und.b = cn.v)),
    scored AS (
      SELECT u, v, common,
             common * 1.0 / (du.d + dv.d - common) AS jaccard
      FROM nonadj JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v)
    SELECT u, v, CAST(common AS BIGINT) AS common_neighbors,
           ROUND(jaccard, 6) AS jaccard
    FROM scored ORDER BY ROUND(jaccard, 6) DESC, u, v LIMIT {_LP_TOPK}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the community graph: for each
    NON-adjacent node pair sharing >= 1 neighbor, the Jaccard score
    |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — the classic 'who should be
    connected' / related-entities primitive. Wedge enumeration is
    Σ deg(n)^2 over SHARED neighbors, so hub nodes (degree >
    {_LP_DEG_CAP}) are excluded from the wedge pivot — the same
    df-cap bound as dedup_ngram_jaccard_capped: a hub's wedges are
    the quadratic term, and a shared hub carries almost no signal
    (its Jaccard contribution is tiny by construction). Degrees stay
    UNcapped, so surviving scores are exact. Existing edges drop via
    an anti-join; ranking is on the rounded score with (u, v)
    tiebreaks."""
    # the shared symmetric adjacency artifact (4 consumers here:
    # wedge x2, deg, anti — each re-reads the materialized parquet)
    und = _community_und(spark, sf_dir)
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    hub = deg.filter(F.col("d") <= _LP_DEG_CAP).select("node")
    capped = und.join(
        F.broadcast(hub.select(F.col("node").alias("b"))), "b", "semi"
    )
    x, y = capped.alias("x"), capped.alias("y")
    wedge = x.join(
        y, (F.col("x.b") == F.col("y.b")) & (F.col("x.a") < F.col("y.a"))
    ).select(F.col("x.a").alias("u"), F.col("y.a").alias("v"))
    cn = wedge.groupBy("u", "v").agg(F.count(F.lit(1)).alias("common"))
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v"))
    nonadj = cn.join(adj, ["u", "v"], "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    scored = (
        nonadj.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            F.col("common").cast("long").alias("common_neighbors"),
            F.round(
                F.col("common") * 1.0
                / (F.col("du") + F.col("dv") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc(F.round(F.col("jaccard"), 6)), F.asc("u"), F.asc("v")
    ).limit(_LP_TOPK)


# --- HITS hubs & authorities -----------------------------------------------------
@register("graph_hits", sql_hits(_EDGES_SQL, iterations=3))
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores over the supplier→part link graph —
    the second classic link-authority metric next to PageRank (the
    reference ingests authority metrics from the Audisto API,
    sf_inlink_bulk_data.py; the engine computes them). Fixed 3
    iterations, normalization deferred to one final per-side scalar
    (linear updates commute with scaling), edge relation persisted
    hash-partitioned per join side so it shuffles twice TOTAL for the
    whole run — only |V|-sized score vectors move per iteration. Scores
    scaled to mean 1.0 per side, rounded 4dp (same float-accumulation
    grid argument as graph_pagerank)."""
    from ug_dwh_etl_spark.operators.graph import hits

    scores = hits(_edges(spark, sf_dir), iterations=3)
    return scores.select("node", "side", F.round("score", 4).alias("score"))


# --- multi-source bounded BFS ----------------------------------------------------
_BFS_SEEDS_SQL = (
    "SELECT DISTINCT 's' || s_suppkey::VARCHAR AS node FROM supplier WHERE s_suppkey <= 3"
)


@register("graph_bfs_distance", sql_bfs(_EDGES_SQL, _BFS_SEEDS_SQL, rounds=4))
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance from a 3-supplier seed set within 4
    frontier-expansion rounds over the undirected link graph — the
    Pregel-style distributed BFS primitive (crawl-depth / influence
    radius audits on the reference's link graph). Each round is one
    join against the once-shuffled adjacency relation plus a per-node
    min; the reached set only grows, so round cost tracks the frontier,
    never |V|². Unreached nodes are absent from the result — exactly
    mirrored by the unrolled oracle."""
    from ug_dwh_etl_spark.operators.graph import bfs_distances

    supp = table(spark, sf_dir, "supplier")
    seeds = (
        supp.filter(F.col("s_suppkey") <= 3)
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
        .distinct()
    )
    d = bfs_distances(
        _und(spark, sf_dir),
        seeds,
        rounds=4,
        src="a",
        dst="b",
        undirected=True,
    )
    return d.select("node", F.col("dist").cast("int").alias("dist"))


# --- label-propagation communities -----------------------------------------------
def _lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-round LPA partition, materialized ONCE per process per
    sf_dir (the semantic-rollup per-process-path convention,
    queries/semantic.py) — graph_label_propagation and graph_modularity
    both read the same parquet instead of each re-running the full
    iterative dataflow. At 100 TB the community table is a |V|-row
    artifact you compute once and join everywhere; recomputing it per
    downstream query is the scale killer this removes."""
    from ug_dwh_etl_spark.operators.graph import label_propagation
    from ug_dwh_etl_spark.queries.registry import materialize_once

    return materialize_once(
        spark,
        sf_dir,
        "lpa_partition",
        lambda: label_propagation(_edges(spark, sf_dir), rounds=3),
    )


@register("graph_label_propagation", sql_label_propagation(_EDGES_SQL, rounds=3))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by deterministic synchronous label
    propagation (3 bounded rounds, most-frequent-neighbor-label rule,
    min-label tie-break) over the supplier→part link graph — groups of
    pages/products that densely interlink, the clustering companion to
    connected components (which only answers reachability). Per round:
    one join against the once-shuffled adjacency, one (node, label)
    count, one per-node argmax window — everything |V|- or |E|-sized
    and keyed, never all-pairs. The bounded round count both defines
    the (otherwise oscillation-prone) synchronous result and keeps it
    exactly unrollable as the oracle. The partition itself is
    materialized once per process (_lpa_communities) and shared with
    graph_modularity."""
    return _lpa_communities(spark, sf_dir).select("node", "community")


# --- modularity of the LPA partition ---------------------------------------------
def _modularity_sql() -> str:
    from ug_dwh_etl_spark.operators.graph import sql_label_propagation_ctes

    return f"""
    WITH {sql_label_propagation_ctes(_EDGES_SQL, rounds=3)},
    lab AS (SELECT node, label AS c FROM l3),
    canon AS (SELECT a, b FROM und WHERE a < b),
    m AS (SELECT COUNT(*) AS m FROM canon),
    intra AS (
      SELECT la.c, COUNT(*) AS ec
      FROM canon e
        JOIN lab la ON la.node = e.a
        JOIN lab lb ON lb.node = e.b AND lb.c = la.c
      GROUP BY la.c),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY a),
    dc AS (
      SELECT lab.c, SUM(deg.d) AS dsum
      FROM deg JOIN lab ON lab.node = deg.node GROUP BY lab.c)
    SELECT CAST((SELECT COUNT(*) FROM dc) AS BIGINT) AS n_communities,
           (SELECT CAST(m AS BIGINT) FROM m) AS n_edges,
           ROUND(SUM(COALESCE(intra.ec, 0) * 1.0 / (SELECT m FROM m)
                     - (dc.dsum / (2.0 * (SELECT m FROM m)))
                       * (dc.dsum / (2.0 * (SELECT m FROM m)))), 6) AS modularity
    FROM dc LEFT JOIN intra ON intra.c = dc.c
    """


@register("graph_modularity", _modularity_sql())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q = Σ_c [e_c/m − (d_c/2m)²] of the
    label-propagation partition — the quality score that says whether
    the communities LPA found are denser than a degree-preserving
    random graph (Q>0) or noise; the acceptance gate you'd run before
    shipping a community column at scale. Intra-community edge counts
    come from one canonical-edge join against the (persisted,
    checkpointed) label table; degree sums from one group-by — both
    community-sized relations, with m a broadcast scalar. The partition
    is READ from the per-process materialization graph_label_propagation
    wrote (_lpa_communities; shared CTE generator on the oracle side),
    so the two queries cannot drift AND the iterative dataflow runs
    once per process, not once per downstream consumer."""
    lab = _lpa_communities(spark, sf_dir).select(
        "node", F.col("community").alias("c")
    )
    with pinned() as pin:
        und = pin(_und(spark, sf_dir))
        canon = und.filter(F.col("a") < F.col("b"))
        m = canon.agg(F.count(F.lit(1)).alias("m"))
        la = lab.select(F.col("node").alias("a"), F.col("c"))
        lb = lab.select(F.col("node").alias("b"), F.col("c").alias("cb"))
        intra = (
            canon.join(la, "a")
            .join(lb, "b")
            .filter(F.col("c") == F.col("cb"))
            .groupBy("c")
            .agg(F.count(F.lit(1)).alias("ec"))
        )
        deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
        dc = deg.join(lab, "node").groupBy("c").agg(F.sum("d").alias("dsum"))
        out = (
            dc.join(intra, "c", "left")
            .crossJoin(F.broadcast(m))
            .agg(
                F.count(F.lit(1)).alias("n_communities"),
                F.first("m").cast("long").alias("n_edges"),
                F.round(
                    F.sum(
                        F.coalesce(F.col("ec"), F.lit(0)) * 1.0 / F.col("m")
                        - (F.col("dsum") / (2.0 * F.col("m")))
                        * (F.col("dsum") / (2.0 * F.col("m")))
                    ),
                    6,
                ).alias("modularity"),
            )
        )
        out = out.localCheckpoint(eager=True)
    return out


# --- degree assortativity --------------------------------------------------------
@register(
    "graph_assortativity",
    f"""
    WITH ed AS ({_EDGES_SQL}),
    und AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM ed
      UNION ALL SELECT dst, src FROM ed)),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY a)
    SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
           ROUND(corr(da.d, db.d), 6) AS assortativity
    FROM und
      JOIN deg da ON da.node = und.a
      JOIN deg db ON db.node = und.b
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the link graph: the Pearson correlation
    of endpoint degrees over all (directed-view) edges — positive means
    hubs link to hubs (social-network shape), negative means hubs link
    to leaves (typical web/bipartite shape). One degree aggregate +
    two |E|-sized broadcast-able joins + a single-pass corr moment
    aggregate: linear in edges at any scale, and the one-row answer
    calibrates expectations for every other graph metric (a strongly
    disassortative graph is exactly where PageRank mass concentrates
    and where skew salting earns its keep)."""
    und = _und(spark, sf_dir)
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (
        und.join(da, "a")
        .join(db, "b")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            F.round(F.corr("da", "db"), 6).alias("assortativity"),
        )
    )


# --- deterministic random walks (DeepWalk-style sampling) -----------------------
_WALK_STEPS = 4
_WALK_SEED_MOD = 5  # seeds: suppliers with suppkey % 5 == 0


def _walks_sql() -> str:
    from ug_dwh_etl_spark.operators.hashing import sql_md5_long

    parts = [
        f"""e AS ({_EDGES_SQL})""",
        "und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)",
        f"""w0 AS (
      SELECT DISTINCT 's' || l_suppkey::VARCHAR AS walk_id,
                      's' || l_suppkey::VARCHAR AS node
      FROM lineitem WHERE l_suppkey % {_WALK_SEED_MOD} = 0)""",
    ]
    for k in range(1, _WALK_STEPS + 1):
        coin = sql_md5_long(f"w.node || '|{k}|' || und.dst")
        parts.append(
            f"""w{k} AS (
      SELECT walk_id, node FROM (
        SELECT w.walk_id, und.dst AS node,
               row_number() OVER (PARTITION BY w.walk_id
                                  ORDER BY {coin}, und.dst) AS rn
        FROM w{k - 1} w JOIN und ON und.src = w.node)
      WHERE rn = 1)"""
        )
    finals = "\n    UNION ALL ".join(
        f"SELECT walk_id, {k} AS step, node FROM w{k}"
        for k in range(0, _WALK_STEPS + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + finals


def _walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic walk corpus as a shared memoized artifact
    (r12): graph_walk_skipgram_pairs used to RE-RUN the whole
    _WALK_STEPS frontier loop graph_random_walks had just executed —
    the corpus is exactly the 'derived relation several queries share'
    case of the r11 artifact pattern (guide §2.4/§5), so the loop runs
    once per process and both consumers scan the parquet (build priced
    in artifact_builds like every other artifact)."""
    from ug_dwh_etl_spark.operators.hashing import md5_long
    from ug_dwh_etl_spark.queries.registry import materialize_once

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem")
        seeds = (
            li.filter(F.col("l_suppkey") % _WALK_SEED_MOD == 0)
            .select(
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                    "walk_id"
                )
            )
            .distinct()
            .select("walk_id", F.col("walk_id").alias("node"))
        )
        out = seeds.select("walk_id", F.lit(0).alias("step"), "node")
        cur = seeds.localCheckpoint()
        with pinned() as pin:
            # the shared symmetric-adjacency artifact, pinned for the
            # _WALK_STEPS frontier joins
            und = pin(_und(spark, sf_dir).toDF("src", "dst"))
            for k in range(1, _WALK_STEPS + 1):
                coin = md5_long(
                    F.concat(F.col("node"), F.lit(f"|{k}|"), F.col("dst"))
                )
                nxt = (
                    cur.join(und, cur.node == und.src)
                    .select("walk_id", F.col("dst"), coin.alias("h"))
                    .groupBy("walk_id")
                    .agg(F.min(F.struct(F.col("h"), F.col("dst"))).alias("m"))
                    .select("walk_id", F.col("m.dst").alias("node"))
                    .localCheckpoint()
                )
                out = out.unionByName(
                    nxt.select("walk_id", F.lit(k).alias("step"), "node")
                )
                cur = nxt
        return out

    return materialize_once(spark, sf_dir, "graph_walks", build)


@register("graph_random_walks", _walks_sql())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style random walks over the undirected link graph, made
    DETERMINISTIC: at step k the walker at node u moves to the neighbor
    v minimizing md5(u|k|v) — an unbiased-in-practice hash coin that
    both engines compute identically, so the sampled walks (the
    training corpus for node embeddings / graph2vec) are reproducible
    and engine-exact, the same determinism contract as the bootstrap
    and AQP samplers. Per step: one join of the walker frontier
    (seed-count rows, localCheckpointed) against the adjacency, then a
    per-walker min-struct argmin — no collect, no per-node Python. At
    100 TB the adjacency is the cached/bucketed relation every other
    graph_* query shuffles once; walkers scale with seed count, not
    graph size. Output is pure (walk_id, step, node) strings/ints —
    no float parity surface at all. The corpus itself is the shared
    ``graph_walks`` artifact (see _walk_corpus)."""
    return _walk_corpus(spark, sf_dir)


_SG_WINDOW = 2


def _skipgram_sql() -> str:
    # same CTE chain as _walks_sql, with the step union wrapped as a
    # relation the window self-join can read
    walks = _walks_sql()
    head, union = walks.rsplit(")", 1)
    return (
        head
        + """),
    wout AS (
    """
        + union
        + f"""),
    pairs AS (
      SELECT a.node AS center, b.node AS context
      FROM wout a JOIN wout b
        ON a.walk_id = b.walk_id
       AND a.step <> b.step
       AND abs(a.step - b.step) <= {_SG_WINDOW})
    SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY center, context
    """
    )


@register("graph_walk_skipgram_pairs", _skipgram_sql())
def graph_walk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step after `graph_random_walks`: turn the walk corpus into
    SKIP-GRAM (center, context) training pairs with window {w} — the
    exact input word2vec-style node-embedding training consumes
    (DeepWalk = walks + skip-gram). A self-join of the walk relation on
    walk_id with |step distance| <= {w}, then a pair-count aggregate;
    the fan-out is bounded by 2*window per position, never quadratic in
    walk length, and the join key (walk_id) is perfectly spread. Counts
    are integers — no float surface."""
    from pyspark.sql import functions as FF

    walks = _walk_corpus(spark, sf_dir)
    a = walks.select("walk_id", FF.col("step").alias("sa"), FF.col("node").alias("center"))
    b = walks.select("walk_id", FF.col("step").alias("sb"), FF.col("node").alias("context"))
    pairs = a.join(b, "walk_id").filter(
        (FF.col("sa") != FF.col("sb"))
        & (FF.abs(FF.col("sa") - FF.col("sb")) <= _SG_WINDOW)
    )
    return pairs.groupBy("center", "context").agg(FF.count(FF.lit(1)).alias("n"))


graph_walk_skipgram_pairs.__doc__ = graph_walk_skipgram_pairs.__doc__.replace(
    "{w}", str(_SG_WINDOW)
)


# --- node2vec: second-order biased walks (p=2, q=0.5, exploratory) --------------
_N2V_STEPS = 4
_N2V_SEED_MOD = 23
# integer replica weights: return=1 (1/p with p=2), distance-1=2,
# distance-2=4 (1/q with q=0.5), all scaled x2 so they stay integers —
# weighted sampling becomes argmin over w hash-salted replicas, which
# both engines compute EXACTLY (no pow()/ln() parity surface at all)
_N2V_W_RET, _N2V_W_D1, _N2V_W_D2 = 1, 2, 4


def _n2v_sql() -> str:
    from ug_dwh_etl_spark.operators.hashing import sql_md5_long

    parts = [
        """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)""",
        """e2 AS (SELECT a.p AS a, b.p AS b
           FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
           GROUP BY a.p, b.p HAVING COUNT(*) >= 2)""",
        "und AS (SELECT a AS src, b AS dst FROM e2 UNION SELECT b, a FROM e2)",
        "reps AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(i))",
        f"""w0 AS (
      SELECT DISTINCT src AS walk_id, src AS node, src AS prev
      FROM und WHERE src % {_N2V_SEED_MOD} = 0)""",
    ]
    for k in range(1, _N2V_STEPS + 1):
        coin = sql_md5_long(
            f"w.node::VARCHAR || '|{k}|' || c.dst::VARCHAR || '|' || r.i::VARCHAR"
        )
        parts.append(
            f"""w{k} AS (
      SELECT walk_id, node, prev FROM (
        SELECT w.walk_id, c.dst AS node, w.node AS prev,
               row_number() OVER (PARTITION BY w.walk_id
                                  ORDER BY {coin}, c.dst, r.i) AS rn
        FROM w{k - 1} w
        JOIN und c ON c.src = w.node
        LEFT JOIN und t ON t.src = w.prev AND t.dst = c.dst
        JOIN reps r ON r.i < (CASE WHEN c.dst = w.prev THEN {_N2V_W_RET}
                                   WHEN t.dst IS NOT NULL THEN {_N2V_W_D1}
                                   ELSE {_N2V_W_D2} END))
      WHERE rn = 1)"""
        )
    finals = "\n    UNION ALL ".join(
        f"SELECT walk_id, {k} AS step, node FROM w{k}"
        for k in range(0, _N2V_STEPS + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + finals


@register("graph_node2vec_walks", _n2v_sql())
def graph_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec SECOND-ORDER biased walks (Grover & Leskovec 2016) over
    the support>=2 co-purchase graph, deterministic and engine-exact:
    the (p, q) transition bias is expressed as INTEGER replica weights
    (return 1, distance-1 2, distance-2 4 — p=2, q=0.5, the exploratory
    DFS-ish setting), each candidate neighbor is expanded into w
    hash-salted replicas, and the walker takes the replica minimizing
    md5(u|step|v|i) — exact weighted sampling with zero float surface,
    the same replica trick as the Poisson bootstrap. The second-order
    state (prev, cur) needs one extra |frontier|-sized LEFT join per
    step against the adjacency to classify candidates by distance from
    prev; everything else is graph_random_walks' shape: frontier join,
    min-struct argmin, localCheckpoint lineage cut per step. The first
    step degenerates to uniform automatically (prev = cur makes every
    candidate distance-1). Co-purchase projection is the unipartite
    graph where all three bias classes actually fire (the supplier-part
    bipartite graph has no distance-1 candidates by construction)."""
    from ug_dwh_etl_spark.operators.hashing import md5_long

    e2 = _copurchase_w(spark, sf_dir).filter(F.col("w") >= 2).select("a", "b")
    with pinned() as pin:
        und = pin(_symmetric(e2, "a", "b").toDF("src", "dst"))
        t_adj = und.select(F.col("src").alias("ts"), F.col("dst").alias("td"))
        seeds = (
            und.filter(F.col("src") % _N2V_SEED_MOD == 0)
            .select(F.col("src").alias("walk_id"))
            .distinct()
            .selectExpr("walk_id", "walk_id AS node", "walk_id AS prev")
        )
        cur = seeds.localCheckpoint()
        out = cur.select("walk_id", F.lit(0).alias("step"), "node")
        for k in range(1, _N2V_STEPS + 1):
            w = (
                F.when(F.col("dst") == F.col("prev"), F.lit(_N2V_W_RET))
                .when(F.col("td").isNotNull(), F.lit(_N2V_W_D1))
                .otherwise(F.lit(_N2V_W_D2))
            )
            coin = md5_long(
                F.concat(
                    F.col("node").cast("string"),
                    F.lit(f"|{k}|"),
                    F.col("dst").cast("string"),
                    F.lit("|"),
                    F.col("i").cast("string"),
                )
            )
            nxt = (
                cur.join(und, und["src"] == cur["node"])
                .join(
                    t_adj,
                    (F.col("ts") == F.col("prev")) & (F.col("td") == F.col("dst")),
                    "left",
                )
                .select(
                    "walk_id",
                    "node",
                    "dst",
                    F.explode(F.sequence(F.lit(0), w - 1)).alias("i"),
                )
                .select("walk_id", "node", "dst", "i", coin.alias("h"))
                .groupBy("walk_id", "node")
                .agg(F.min(F.struct("h", "dst", "i")).alias("m"))
                .select(
                    "walk_id",
                    F.col("m.dst").alias("node"),
                    F.col("node").alias("prev"),
                )
                .localCheckpoint()
            )
            out = out.unionByName(
                nxt.select("walk_id", F.lit(k).alias("step"), "node")
            )
            cur = nxt
    return out


# --- strongly connected components over the directed community graph ---------------
# Directed fixture with real cycles: supplier -> part for every
# community lineitem; part -> supplier only for high-quantity lines
# (the "prominent placement links back" rule). Back-edges close cycles,
# so SCCs range from singletons (parts with no back-edge) to large
# mutually-reachable cores — all confined to the 10 disjoint blocks.
_SCC_EDGES_SQL = """
    SELECT DISTINCT src, dst FROM (
      SELECT 's' || l_suppkey::VARCHAR AS src,
             'p' || l_partkey::VARCHAR AS dst
      FROM lineitem WHERE l_suppkey % 10 = l_partkey % 10
      UNION ALL
      SELECT 'p' || l_partkey::VARCHAR, 's' || l_suppkey::VARCHAR
      FROM lineitem
      WHERE l_suppkey % 10 = l_partkey % 10 AND l_quantity > 25)
"""


def _scc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ug_dwh_etl_spark.queries.registry import materialize_once

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem").filter(
            F.col("l_suppkey") % 10 == F.col("l_partkey") % 10
        )
        s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
        p = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        fwd = li.select(s.alias("src"), p.alias("dst"))
        back = li.filter(F.col("l_quantity") > 25).select(
            p.alias("src"), s.alias("dst")
        )
        return fwd.unionByName(back).distinct()

    return materialize_once(spark, sf_dir, "graph_scc_edges", build)


@register(
    "graph_scc",
    f"""
    WITH RECURSIVE e AS ({_SCC_EDGES_SQL}),
    n AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION SELECT dst FROM e)),
    reach(a, b) AS (
      SELECT src, dst FROM e
      UNION
      SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
    mutual AS (
      SELECT r1.a AS u, r1.b AS v
      FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
    scc AS (
      SELECT n.node,
             LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS scc_id
      FROM n LEFT JOIN mutual m ON m.u = n.node
      GROUP BY n.node)
    SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM scc GROUP BY scc_id
    """,
)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRONGLY connected components of the directed community link
    graph (supplier->part always, part->supplier only for
    high-quantity lines — back-edges close real cycles). Computed by
    the Orzan coloring scheme (operators/graph.py:
    strongly_connected_components): per round, forward- and backward-
    min-label propagation to a verified fixpoint inside each color
    class; fwd_min == bwd_min settles a whole SCC, the rest re-color by
    the (fwd_min, bwd_min) pair. The directed twin of
    graph_components_converged — mutual reachability, not mere
    connectivity: a part that links back joins its suppliers' core; one
    that doesn't is a singleton even though it is REACHED by everyone.
    The oracle closes reachability with a recursive CTE and takes the
    mutual-min per node — O(pairs-within-blocks), viable at gate scale
    precisely because the fixture's blocks bound it; the Spark side
    never materializes closure pairs (state is |V| labels)."""
    se = _scc_edges(spark, sf_dir)
    comp = strongly_connected_components(se, assume_distinct=True)
    return comp.groupBy("scc_id").agg(F.count(F.lit(1)).alias("n_members"))


# --- approximate neighborhood function (ANF / HyperANF shape) -----------------------
# Flajolet-Martin bitmask sketches propagated by bitwise-OR joins:
# B_k(u) = B_{k-1}(u) | OR over neighbors' B_{k-1}(v), so after k hops
# B_k(u) sketches the set of nodes within distance k. All integer bit
# arithmetic — deterministic given the md5 hash, hence EXACTLY
# oracle-able despite being an approximation algorithm.
_ANF_R = 8  # FM replicas averaged per node
_ANF_HOPS = 3
_ANF_PHI = 0.77351  # Flajolet-Martin bias correction


def _anf_pos_case(x: str) -> str:
    """Position of the lowest SET bit of x (geometric under a uniform
    hash), capped at 32. log2 of an exact power of two is exact on both
    engines (verified 2^0..2^62) — and ~50x faster than a 32-arm
    searched CASE, which DuckDB evaluates as one vector pass PER ARM
    (measured 55us/row for the ladder form)."""
    return (
        f"(CASE WHEN ({x}) = 0 THEN 32 ELSE "
        f"LEAST(CAST(log2(CAST(({x}) & -({x}) AS DOUBLE)) AS BIGINT), 32)"
        f" END)"
    )


def _anf_mask_case(p: str) -> str:
    return (
        f"(CASE WHEN ({p}) >= 32 THEN 0"
        f" ELSE CAST(pow(2.0, ({p})) AS BIGINT) END)"
    )


def _anf_fz_case(m: str) -> str:
    """Position of the lowest ZERO bit of mask m (the FM R statistic):
    (~m) & (m+1) isolates it as a power of two; masks hold <= 32 bits
    so the operand is always a positive exact power."""
    return f"CAST(log2(CAST((~({m})) & (({m}) + 1) AS DOUBLE)) AS BIGINT)"


def _anf_sk0_cols() -> list[str]:
    from ug_dwh_etl_spark.operators import hashing as H

    cols = []
    for r in range(_ANF_R):
        h = H.sql_md5_long(f"node || '|anf{r}'")
        cols.append(f"{_anf_mask_case(_anf_pos_case(h))} AS b{r}")
    return cols


def _anf_est(prefix: str) -> str:
    rsum = " + ".join(_anf_fz_case(f"{prefix}b{r}") for r in range(_ANF_R))
    return f"pow(2.0, ({rsum}) / {float(_ANF_R)}) / {_ANF_PHI}"


def _anf_sql() -> str:
    parts = [
        f"edges AS ({_IVM_FULL_SQL})",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges))",
        f"b0 AS MATERIALIZED (SELECT node, {', '.join(_anf_sk0_cols())} FROM nodes)",
    ]
    for k in range(1, _ANF_HOPS + 1):
        ors = ", ".join(f"bit_or(b.b{r}) AS b{r}" for r in range(_ANF_R))
        merged = ", ".join(
            f"p.b{r} | COALESCE(n.b{r}, 0) AS b{r}" for r in range(_ANF_R)
        )
        # MATERIALIZED: each b_k is referenced twice downstream (n_{k+1}
        # and b_{k+1}); without the hint DuckDB inlines the chain and
        # re-evaluates it exponentially (measured 61s -> <2s at sf0.001)
        parts.append(
            f"n{k} AS MATERIALIZED (SELECT e.src AS node, {ors} FROM edges e"
            f" JOIN b{k - 1} b ON b.node = e.dst GROUP BY e.src)"
        )
        parts.append(
            f"b{k} AS MATERIALIZED (SELECT p.node, {merged} FROM b{k - 1} p"
            f" LEFT JOIN n{k} n ON n.node = p.node)"
        )
    ests = []
    for k in range(_ANF_HOPS + 1):
        ests.append(
            f"SELECT {k} AS k, CAST(COUNT(*) AS BIGINT) AS n_nodes,"
            f" ROUND(AVG({_anf_est('')}), 4) AS avg_reach_est FROM b{k}"
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(ests)


@register("graph_anf_neighborhood", _anf_sql())
def graph_anf_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE NEIGHBORHOOD FUNCTION (ANF, Palmer et al.; the
    HyperANF shape with FM bitmasks): per hop k, the average number of
    nodes reachable within k — the scalable way to read a 100 TB
    graph's effective diameter, where exact per-node reachability is
    O(V*E). Each node carries 8 Flajolet-Martin bitmask replicas
    (deterministic md5 bit positions); one hop = one bitwise-OR
    aggregate over the edge relation + a left-join merge — sketch
    unions are idempotent/commutative INTEGER ops, so the whole
    approximation is bit-exact across engines and the oracle unrolls
    the same dataflow. Estimates use the classic 2^avg(R)/0.77351
    readout (R = lowest zero bit). Cost shape: O(E) shuffle per hop
    carrying 8 longs per node — state never grows with reach size,
    which is the entire point vs materializing reachable sets."""
    from ug_dwh_etl_spark.operators import hashing as H

    with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
        return _anf_run(spark, sf_dir, H)


def _anf_run(spark: SparkSession, sf_dir: str, H) -> DataFrame:
    edges = _ivm_edges(spark, sf_dir, base_only=False)
    hashed = node_universe(edges).select(
        "node",
        *[
            H.md5_long(F.concat(F.col("node"), F.lit(f"|anf{r}"))).alias(f"h{r}")
            for r in range(_ANF_R)
        ],
    )
    b = hashed.selectExpr(
        "node",
        *[
            f"{_anf_mask_case(_anf_pos_case(f'h{r}'))} AS b{r}"
            for r in range(_ANF_R)
        ],
    ).localCheckpoint(eager=True)
    frames = [b]
    for _ in range(_ANF_HOPS):
        nbr = (
            edges.join(b, edges["dst"] == b["node"])
            .groupBy(F.col("src").alias("nd"))
            .agg(*[F.expr(f"bit_or(b{r})").alias(f"n{r}") for r in range(_ANF_R)])
        )
        b = (
            b.join(nbr, b["node"] == nbr["nd"], "left")
            .select(
                "node",
                *[
                    F.expr(f"b{r} | COALESCE(n{r}, 0)").alias(f"b{r}")
                    for r in range(_ANF_R)
                ],
            )
            .localCheckpoint(eager=True)
        )
        frames.append(b)
    # one stacked aggregate instead of four: the estimate expression is
    # a large generated CASE ladder, and compiling it once (over the
    # k-tagged union) instead of per hop cuts codegen time
    stacked = frames[0].select(F.lit(0).alias("k"), "*")
    for k, fr in enumerate(frames[1:], start=1):
        stacked = stacked.unionByName(fr.select(F.lit(k).alias("k"), "*"))
    return stacked.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.round(F.avg(F.expr(_anf_est(""))), 4).alias("avg_reach_est"),
    ).localCheckpoint(eager=True)


# --- Louvain local-move sweep (Blondel et al. 2008, synchronous variant) --------
def _lv_best(e: DataFrame, deg: DataFrame, mm: DataFrame) -> DataFrame:
    """(node, comm): each edge endpoint's best-gain community after one
    synchronous Louvain local move over the weighted canonical edges
    ``e``, by the integer score 2m*w_uv - k_u*k_v, ties to the smaller
    id; a node with no positive gain keeps its own id."""
    from pyspark.sql.window import Window

    cand = e.select(F.col("a").alias("u"), F.col("b").alias("v"), "w").unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
    )
    ku = deg.select(F.col("node").alias("u"), F.col("k").alias("ku"))
    kv = deg.select(F.col("node").alias("v"), F.col("k").alias("kv"))
    scored = (
        cand.join(ku, "u")
        .join(kv, "v")
        .crossJoin(F.broadcast(mm))
        .select(
            "u",
            "v",
            (
                F.lit(2) * F.col("m") * F.col("w") - F.col("ku") * F.col("kv")
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("u").orderBy(F.desc("score"), "v")
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            F.col("u").alias("node"),
            F.when(F.col("score") > 0, F.col("v")).otherwise(F.col("u")).alias(
                "comm"
            ),
        )
    )


# One synchronous local-move sweep over the weighted edges ``e``: the
# best-gain neighbor community of every node (``assign``).
_LOUVAIN_SWEEP_CTES = """
    mm AS (SELECT SUM(w) AS m FROM e),
    deg AS (SELECT node, SUM(w) AS k FROM (
              SELECT a AS node, w FROM e UNION ALL SELECT b, w FROM e)
            GROUP BY node),
    cand AS (SELECT a AS u, b AS v, w FROM e UNION ALL SELECT b, a, w FROM e),
    scored AS (
      SELECT c.u, c.v, 2 * mm.m * c.w - ku.k * kv.k AS score
      FROM cand c
      JOIN deg ku ON ku.node = c.u
      JOIN deg kv ON kv.node = c.v, mm),
    ranked AS (
      SELECT u, v, score,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY score DESC, v) AS rn
      FROM scored),
    assign AS (
      SELECT u AS node, CASE WHEN score > 0 THEN v ELSE u END AS comm
      FROM ranked WHERE rn = 1)
"""


@register(
    "graph_louvain_move",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT a.p AS a, b.p AS b, COUNT(*) AS w
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p),
    {_LOUVAIN_SWEEP_CTES.rstrip()},
    a_in AS (
      SELECT COALESCE(SUM(e.w), 0) AS a_in
      FROM e JOIN assign ca ON ca.node = e.a
             JOIN assign cb ON cb.node = e.b
      WHERE ca.comm = cb.comm),
    tot AS (SELECT a2.comm, SUM(d.k) AS tot
            FROM assign a2 JOIN deg d ON d.node = a2.node GROUP BY a2.comm),
    bsum AS (SELECT SUM(tot * tot) AS b FROM tot),
    k2 AS (SELECT SUM(k * k) AS sk2 FROM deg),
    moved AS (SELECT COUNT(*) AS n_moved FROM assign WHERE comm <> node),
    nn AS (SELECT COUNT(*) AS n_nodes FROM deg),
    nc AS (SELECT COUNT(DISTINCT comm) AS n_communities FROM assign)
    SELECT CAST(nn.n_nodes AS BIGINT) AS n_nodes,
           CAST(moved.n_moved AS BIGINT) AS n_moved,
           CAST(nc.n_communities AS BIGINT) AS n_communities,
           ROUND(0.0 - k2.sk2::DOUBLE / (4.0 * mm.m * mm.m), 6) AS q_singleton,
           ROUND(a_in.a_in::DOUBLE / mm.m
                 - bsum.b::DOUBLE / (4.0 * mm.m * mm.m), 6) AS q_after
    FROM nn, moved, nc, k2, bsum, a_in, mm
    """,
)
def graph_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One SYNCHRONOUS Louvain local-move sweep (Blondel et al. 2008;
    the Jacobi-style variant distributed implementations run, since the
    paper's sequential sweep doesn't parallelize) over the WEIGHTED part
    co-purchase graph, from the singleton partition. For a singleton
    target {v}, the modularity gain of moving u is
    w_uv/m - k_u*k_v/(2m^2), and argmax over neighbors is equivalently
    argmax of the INTEGER score 2m*w_uv - k_u*k_v (multiply by the
    positive 2m^2) — so candidate ranking never touches a float and is
    exact in both engines; u moves iff its best score is positive, ties
    break to the smallest neighbor id. Emits the sweep's audit row:
    nodes, moves, resulting community count, and modularity before
    (singleton: -sum(k^2)/4m^2) and after (A/m - B/4m^2 with A = intra-
    community weight, B = sum of squared community degrees) — both
    computed from exact integer sums with one float division at the
    edge. Scale shape: one projection groupBy, degree aggregates, a
    per-node argmax window PARTITIONED BY node (bounded by degree, no
    global window), and two broadcast-sized audit folds; nothing
    quadratic beyond the order-width-bounded projection every
    co-purchase query shares. At 100 TB-graph scale the integer score
    wants decimal(38) headroom (2m*w and k*k both fit int64 here)."""
    e = _copurchase_w(spark, sf_dir)
    mm = e.agg(F.sum("w").alias("m"))
    deg = (
        e.select(F.col("a").alias("node"), "w")
        .unionByName(e.select(F.col("b").alias("node"), "w"))
        .groupBy("node")
        .agg(F.sum("w").alias("k"))
    )
    assign = _lv_best(e, deg, mm).localCheckpoint(eager=False)
    ca = assign.select(F.col("node").alias("a"), F.col("comm").alias("comm_a"))
    cb = assign.select(F.col("node").alias("b"), F.col("comm").alias("comm_b"))
    a_in = (
        e.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("comm_a") == F.col("comm_b"))
        .agg(F.coalesce(F.sum("w"), F.lit(0)).alias("a_in"))
    )
    tot = (
        assign.join(deg, "node")
        .groupBy("comm")
        .agg(F.sum("k").alias("tot"))
    )
    bsum = tot.agg(F.sum(F.col("tot") * F.col("tot")).alias("b"))
    k2 = deg.agg(F.sum(F.col("k") * F.col("k")).alias("sk2"))
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    moved = assign.filter(F.col("comm") != F.col("node")).agg(
        F.count(F.lit(1)).alias("n_moved")
    )
    nc = assign.agg(F.countDistinct("comm").alias("n_communities"))
    row = (
        nn.crossJoin(F.broadcast(moved))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(k2))
        .crossJoin(F.broadcast(bsum))
        .crossJoin(F.broadcast(a_in))
        .crossJoin(F.broadcast(mm))
    )
    md = F.col("m").cast("double")
    return row.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_moved").cast("long").alias("n_moved"),
        F.col("n_communities").cast("long").alias("n_communities"),
        F.round(
            F.lit(0.0) - F.col("sk2").cast("double") / (4.0 * md * md), 6
        ).alias("q_singleton"),
        F.round(
            F.col("a_in").cast("double") / md
            - F.col("b").cast("double") / (4.0 * md * md),
            6,
        ).alias("q_after"),
    )


# --- full multi-level Louvain (2 levels: sweep -> coarsen -> sweep) -------------

_LOUVAIN_SQL = f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT a.p AS a, b.p AS b, COUNT(*) AS w
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p),
    {_LOUVAIN_SWEEP_CTES},
    a_in0 AS (
      SELECT COALESCE(SUM(e.w), 0) AS a_in
      FROM e JOIN assign ca ON ca.node = e.a
             JOIN assign cb ON cb.node = e.b
      WHERE ca.comm = cb.comm),
    tot0 AS (SELECT a2.comm, SUM(d.k) AS tot
             FROM assign a2 JOIN deg d ON d.node = a2.node GROUP BY a2.comm),
    bsum0 AS (SELECT SUM(tot * tot) AS b FROM tot0),
    moved0 AS (SELECT COUNT(*) AS n_moved FROM assign WHERE comm <> node),
    nn0 AS (SELECT COUNT(*) AS n_nodes FROM deg),
    nc0 AS (SELECT COUNT(DISTINCT comm) AS n_communities FROM assign),
    -- coarsen: one node per level-0 community; edge weights aggregate,
    -- intra-community weight becomes the (x = y) self-loop rows
    ce AS (
      SELECT LEAST(ca.comm, cb.comm) AS x, GREATEST(ca.comm, cb.comm) AS y,
             SUM(e.w) AS w
      FROM e JOIN assign ca ON ca.node = e.a
             JOIN assign cb ON cb.node = e.b
      GROUP BY 1, 2),
    cdeg AS (SELECT a2.comm AS node, SUM(d.k) AS k
             FROM assign a2 JOIN deg d ON d.node = a2.node GROUP BY a2.comm),
    cand1 AS (SELECT x AS u, y AS v, w FROM ce WHERE x <> y
              UNION ALL SELECT y, x, w FROM ce WHERE x <> y),
    scored1 AS (
      SELECT c.u, c.v, 2 * mm.m * c.w - ku.k * kv.k AS score
      FROM cand1 c
      JOIN cdeg ku ON ku.node = c.u
      JOIN cdeg kv ON kv.node = c.v, mm),
    ranked1 AS (
      SELECT u, v, score,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY score DESC, v) AS rn
      FROM scored1),
    assign1 AS (
      SELECT cd.node, COALESCE(r.comm, cd.node) AS comm
      FROM cdeg cd LEFT JOIN (
        SELECT u AS node, CASE WHEN score > 0 THEN v ELSE u END AS comm
        FROM ranked1 WHERE rn = 1) r ON r.node = cd.node),
    final AS (SELECT a0.node, a1.comm
              FROM assign a0 JOIN assign1 a1 ON a1.node = a0.comm),
    a_in1 AS (
      SELECT COALESCE(SUM(e.w), 0) AS a_in
      FROM e JOIN final fa ON fa.node = e.a
             JOIN final fb ON fb.node = e.b
      WHERE fa.comm = fb.comm),
    tot1 AS (SELECT f.comm, SUM(d.k) AS tot
             FROM final f JOIN deg d ON d.node = f.node GROUP BY f.comm),
    bsum1 AS (SELECT SUM(tot * tot) AS b FROM tot1),
    moved1 AS (SELECT COUNT(*) AS n_moved FROM assign1 WHERE comm <> node),
    nn1 AS (SELECT COUNT(*) AS n_nodes FROM cdeg),
    nc1 AS (SELECT COUNT(DISTINCT comm) AS n_communities FROM final)
    SELECT 1 AS level, CAST(nn0.n_nodes AS BIGINT) AS n_nodes,
           CAST(moved0.n_moved AS BIGINT) AS n_moved,
           CAST(nc0.n_communities AS BIGINT) AS n_communities,
           ROUND(a_in0.a_in::DOUBLE / mm.m
                 - bsum0.b::DOUBLE / (4.0 * mm.m * mm.m), 6) AS q_after
    FROM nn0, moved0, nc0, a_in0, bsum0, mm
    UNION ALL
    SELECT 2, CAST(nn1.n_nodes AS BIGINT),
           CAST(moved1.n_moved AS BIGINT),
           CAST(nc1.n_communities AS BIGINT),
           ROUND(a_in1.a_in::DOUBLE / mm.m
                 - bsum1.b::DOUBLE / (4.0 * mm.m * mm.m), 6)
    FROM nn1, moved1, nc1, a_in1, bsum1, mm
"""


def _lv_sweep(e: DataFrame, deg: DataFrame, mm: DataFrame) -> DataFrame:
    """One synchronous Louvain local-move sweep from the singleton
    partition over weighted canonical edges (a < b, w; self-loops
    excluded by the caller): (node, comm). Integer argmax score
    2m*w_uv - k_u*k_v (see graph_louvain_move); nodes with no non-self
    candidate keep their own community via the LEFT join against deg."""
    return (
        deg.select("node")
        .join(_lv_best(e, deg, mm), "node", "left")
        .select("node", F.coalesce("comm", "node").alias("comm"))
    )


@register("graph_louvain", _LOUVAIN_SQL)
def graph_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Louvain (Blondel et al. 2008): local-move sweep ->
    community-graph coarsening -> second sweep, per-level audit rows
    (level, n_nodes, n_moved, n_communities, q_after) — the multi-level
    loop graph_louvain_move is one pass of. All candidate ranking is
    the same integer-exact score (2m*w_uv - k_u*k_v, ties to smallest
    id), coarse degrees are exact integer sums of member degrees
    (self-loop weight counts twice by construction), and modularity of
    the COMPOSED partition is evaluated on the ORIGINAL edge set — so
    level-2 quality is directly comparable to level-1 and the whole
    computation has one float division per reported Q. Scale shape per
    level: a projection groupBy, degree aggregates, a per-node argmax
    window bounded by degree, and the coarsening groupBy — the graph
    SHRINKS each level (|V_1| = n_communities), so the dominant cost
    is level 0, identical to graph_louvain_move. At 100 TB you'd
    iterate sweeps within a level to a fixpoint before coarsening;
    the fixed 1-sweep-per-level form keeps the dataflow exactly
    unrollable as the DuckDB oracle."""
    e = _copurchase_w(spark, sf_dir)
    mm = e.agg(F.sum("w").alias("m"))
    deg = (
        e.select(F.col("a").alias("node"), "w")
        .unionByName(e.select(F.col("b").alias("node"), "w"))
        .groupBy("node")
        .agg(F.sum("w").alias("k"))
        .localCheckpoint(eager=False)
    )
    assign0 = _lv_sweep(e, deg, mm).localCheckpoint(eager=False)

    ca = assign0.select(F.col("node").alias("a"), F.col("comm").alias("comm_a"))
    cb = assign0.select(F.col("node").alias("b"), F.col("comm").alias("comm_b"))
    e_comm = e.join(ca, "a").join(cb, "b")
    # coarse graph: canonical (x <= y) community pairs; x = y rows are
    # the intra-community self-loops (kept for the edge-weight ledger,
    # excluded from sweep candidates)
    ce = (
        e_comm.select(
            F.least("comm_a", "comm_b").alias("x"),
            F.greatest("comm_a", "comm_b").alias("y"),
            "w",
        )
        .groupBy("x", "y")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    cdeg = (
        assign0.join(deg, "node")
        .groupBy(F.col("comm").alias("node"))
        .agg(F.sum("k").alias("k"))
        .localCheckpoint(eager=False)
    )
    ce1 = ce.filter(F.col("x") != F.col("y")).select(
        F.col("x").alias("a"), F.col("y").alias("b"), "w"
    )
    assign1 = _lv_sweep(ce1, cdeg, mm).localCheckpoint(eager=False)

    # Modularity ledger straight off the COARSE relations (round-11:
    # the e-sized re-joins the first cut paid are redundant — the
    # coarsening already aggregated every integer the ledger needs):
    #  - level-1 a_in  = the x = y self-loop rows of ce (by
    #    construction they carry exactly the intra-community weight)
    #  - level-1 tot   = cdeg itself (sum of member degrees per comm)
    #  - level-2 a_in  = ce re-keyed by assign1 (community-pair rows
    #    aggregate the same e.w integers, so filtering/summing ce where
    #    assign1(x) = assign1(y) equals the e-level sum exactly)
    #  - level-2 tot   = cdeg grouped by assign1 comm
    # Each replaced join was O(E); these are O(communities^2)-bounded.
    # Same integer sums -> same doubles -> identical oracle rows.
    def q_row(
        level: int,
        n_nodes: DataFrame,
        nc: DataFrame,
        a_in: DataFrame,
        bsum: DataFrame,
    ) -> DataFrame:
        md = F.col("m").cast("double")
        return (
            n_nodes.crossJoin(F.broadcast(nc))
            .crossJoin(F.broadcast(a_in))
            .crossJoin(F.broadcast(bsum))
            .crossJoin(F.broadcast(mm))
            .select(
                F.lit(level).alias("level"),
                F.col("n_nodes").cast("long").alias("n_nodes"),
                F.col("n_communities").cast("long").alias("n_communities"),
                F.round(
                    F.col("a_in").cast("double") / md
                    - F.col("b").cast("double") / (4.0 * md * md),
                    6,
                ).alias("q_after"),
            )
        )

    a_in1 = ce.filter(F.col("x") == F.col("y")).agg(
        F.coalesce(F.sum("w"), F.lit(0)).alias("a_in")
    )
    bsum1 = cdeg.agg(F.sum(F.col("k") * F.col("k")).alias("b"))
    nc1 = assign0.agg(F.countDistinct("comm").alias("n_communities"))

    f_x = assign1.select(F.col("node").alias("x"), F.col("comm").alias("fx"))
    f_y = assign1.select(F.col("node").alias("y"), F.col("comm").alias("fy"))
    a_in2 = (
        ce.join(f_x, "x")
        .join(f_y, "y")
        .filter(F.col("fx") == F.col("fy"))
        .agg(F.coalesce(F.sum("w"), F.lit(0)).alias("a_in"))
    )
    tot2 = (
        cdeg.join(
            assign1.select("node", "comm"), "node"
        )
        .groupBy("comm")
        .agg(F.sum("k").alias("tot"))
    )
    bsum2 = tot2.agg(F.sum(F.col("tot") * F.col("tot")).alias("b"))
    nc2 = assign1.agg(F.countDistinct("comm").alias("n_communities"))

    moved0 = assign0.filter(F.col("comm") != F.col("node")).agg(
        F.count(F.lit(1)).alias("n_moved")
    )
    moved1 = assign1.filter(F.col("comm") != F.col("node")).agg(
        F.count(F.lit(1)).alias("n_moved")
    )
    nn0 = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    nn1 = cdeg.agg(F.count(F.lit(1)).alias("n_nodes"))
    r1 = q_row(1, nn0, nc1, a_in1, bsum1).crossJoin(F.broadcast(moved0))
    r2 = q_row(2, nn1, nc2, a_in2, bsum2).crossJoin(F.broadcast(moved1))
    cols = ["level", "n_nodes", "n_moved", "n_communities", "q_after"]
    return r1.select(*[F.col(c).cast("long") if c == "n_moved" else F.col(c) for c in cols]).unionByName(
        r2.select(*[F.col(c).cast("long") if c == "n_moved" else F.col(c) for c in cols])
    )
