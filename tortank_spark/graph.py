"""Graph-analytic operators over edge tables derived from the triple
store (degree, triangles, transitive closure) — the structural
building blocks a KG pipeline runs after canonicalization (triangle
counts feed clustering coefficients and link-farm heuristics;
transitive closure materializes property paths / RDFS entailment
like ``rdfs:subClassOf+`` so type queries become single lookups).

Scale design: triangle enumeration uses the degree-ordered orientation
(Schank/Wagner "node-iterator-core"; the MapReduce formulation is
Suri/Vassilvitskii's MR node-iterator++): every undirected edge is
directed from its lower-(degree, id) endpoint to the higher one, which
bounds every vertex's out-degree by O(sqrt(m)) and therefore the wedge
(2-path) stage by O(m^1.5) TOTAL — without it, one celebrity node of
degree d generates d^2 wedges and a single straggler partition at web
scale. All joins are equi-joins on vertex ids (AQE-splittable); no
per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def edge_set(edges: DataFrame, src: str = "src",
             dst: str = "dst") -> DataFrame:
    """The distinct directed (src, dst) pairs of ``edges`` with no null
    endpoint — the one edge-set rule every graph operator starts from
    (self-loops, symmetrization and partitioning stay with the callers
    that need them)."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )


def pagerank(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    iterations: int = 10, scale: int = 10 ** 9,
    damping_num: int = 85, damping_den: int = 100,
    seeds: DataFrame | None = None, node: str = "node",
) -> DataFrame:
    """Fixed-iteration PageRank -> (node, rank) with ALL arithmetic in
    scaled BIGINT integers — entity importance over the canonicalized
    KG link graph (which IRIs matter; feeds link-scoring priors and
    crawl/sampling weights). Un-normalized per-node teleport form of
    Page et al. 1999: rank' = 0.15*scale + 0.85 * sum(rank_in/odeg),
    with / and * as integer DIV on rank values pre-scaled by ``scale``.

    Integer arithmetic is the point, not a shortcut: float PageRank
    sums incoming contributions in partition order, so the low bits
    differ run-to-run (non-associative fp addition) and no value-hash
    oracle can pin it. Scaled-integer ranks make every iteration
    exactly associative and engine-independent — DuckDB replays all
    ``iterations`` rounds bit-for-bit (truncation drops <= odeg-1
    scale-units of mass per edge per round, ~1e-9 relative at the
    default scale; dangling-node mass is dropped, the standard
    simplification).

    Scale shape: one equi-join (contrib) + one aggregate (fan-in sum)
    + one left join (teleport floor for in-degree-0 nodes) per round,
    all AQE-skew-splittable; the degree-annotated edge list is
    persisted once and released in ``finally``; lineage is truncated
    per round by a lazy localCheckpoint so the 10-round plan stays
    linear. The round count is fixed, so no round waits on a
    convergence check, but under AQE planning a round's checkpoint
    runs that round's shuffle stages as jobs (19 jobs for
    ``iterations=3`` on a 12-edge chain at local[4]).

    ``seeds`` (a 1-column frame of node ids) switches to PERSONALIZED
    PageRank (Haveliwala 2002): the teleport term lands only on seed
    nodes and the initial mass starts there, so rank measures
    importance RELATIVE to the seed set (domain-conditional entity
    ranking, topic-sensitive crawl priors, related-entity expansion).
    Same integer arithmetic, same per-round plan — the seed flag is
    one broadcast-size left join folded into the loop-invariant node
    table, so the per-round cost is unchanged."""
    e = edge_set(edges, src, dst)
    deg = e.groupBy("src").agg(F.count("*").alias("odeg"))
    # pre-partition the two LOOP-INVARIANT tables on their join keys
    # ONCE: the per-round contrib join then reuses ed's partitioning
    # (only the rank side — node-count rows, the small side — moves),
    # and the teleport left join reuses nodes' (the fan-in aggregate
    # already leaves sums hashpartitioned by dst). Per round, the
    # edge table — the 100-TB table — is shuffled ZERO times; only
    # rank-sized and contrib-sized data crosses the wire.
    ed = e.join(deg, "src").repartition("src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is not None:
        sd = seeds.select(F.col(node).alias("node")).distinct()
        nodes = nodes.join(
            sd.withColumn("_seed", F.lit(True)), "node", "left"
        ).select("node", F.coalesce("_seed", F.lit(False)).alias("_seed"))
    else:
        nodes = nodes.withColumn("_seed", F.lit(True))
    nodes = nodes.repartition("node").persist()
    try:
        base = (damping_den - damping_num) * scale // damping_den
        base_col = F.when(F.col("_seed"), F.lit(base)).otherwise(
            F.lit(0)
        ).cast("long")
        rank = nodes.select(
            "node",
            F.when(F.col("_seed"), F.lit(scale)).otherwise(F.lit(0))
            .cast("long").alias("rank"),
        ).localCheckpoint(eager=False)
        for _ in range(iterations):
            contrib = ed.join(
                rank, ed["src"] == rank["node"]
            ).select(
                F.col("dst"),
                F.expr("rank DIV odeg").alias("c"),
            )
            sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            rank = nodes.join(
                sums, nodes["node"] == sums["dst"], "left"
            ).select(
                "node",
                (
                    base_col
                    + F.expr(
                        f"({damping_num} * coalesce(s, 0L))"
                        f" DIV {damping_den}"
                    )
                ).cast("long").alias("rank"),
            ).localCheckpoint(eager=False)
        # materialize HERE so the finally-release doesn't strip the
        # caches before they are ever hit — the triangle_counts cache
        # lifetime
        return rank.localCheckpoint(eager=True)
    finally:
        ed.unpersist()
        nodes.unpersist()


def hits(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    iterations: int = 5, scale: int = 10 ** 9,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) -> (node, auth, hub),
    ALL arithmetic in scaled BIGINT — link analysis for web KGs:
    authorities are the pages/entities good sources point at, hubs
    the good pointers; complements PageRank's single importance axis.

    Integer-exact variant (the pagerank precedent, same rationale —
    float L2 normalization could never value-hash): each half-round
    computes raw fan-in sums then L1-normalizes in integers,
    v' = v_raw * scale DIV max(sum(v_raw), 1), so scores sum to
    ~``scale`` and every round is associative, rerun-stable, and
    engine-replayable. The normalizer rides in as a broadcast 1-row
    cross join, not a driver-side collect; lazy localCheckpoint
    truncates lineage per half-round, and under AQE planning each
    checkpoint runs its shuffle stages as jobs (61 jobs for
    ``iterations=3`` on a 12-edge chain at local[4]).

    Scale shape: per round, two equi-joins against pre-partitioned
    edge copies + two fan-in aggregates + two 1-row total aggregates;
    only score-sized data moves. The auth half joins edges on src,
    the hub half on dst — ONE partitioning cannot serve both, so the
    edge table is persisted TWICE (by src and by dst, 2x storage,
    the standard src/dst-sorted adjacency duplication of graph
    engines); with a single src-partitioned copy every hub half-round
    re-shuffled the full edge table, measured 87 s -> this layout at
    sf0.1 (the 100-TB cost difference is 5 full edge shuffles)."""
    e_src = edge_set(edges, src, dst).repartition("src").persist()
    e_dst = e_src.repartition("dst").persist()
    e_of = {"src": e_src, "dst": e_dst}
    nodes = (
        e_src.select(F.col("src").alias("node"))
        .unionByName(e_src.select(F.col("dst").alias("node")))
        .distinct()
        .repartition("node")
        .persist()
    )
    try:
        hub = nodes.select(
            "node", F.lit(scale).cast("long").alias("v")
        ).localCheckpoint(eager=False)

        def _half(scores, edge_key, node_key):
            """fan-in sum of `scores` across edges oriented
            (edge_key -> node_key), then integer L1 normalization."""
            e = e_of[edge_key]
            fan = (
                e.join(scores, e[edge_key] == scores["node"])
                .groupBy(node_key)
                .agg(F.sum("v").alias("s"))
            )
            raw = nodes.join(
                fan, nodes["node"] == fan[node_key], "left"
            ).select(
                "node", F.coalesce("s", F.lit(0)).cast("long").alias("raw")
            )
            total = raw.agg(
                F.greatest(F.sum("raw"), F.lit(1)).alias("t")
            )
            # raw can reach indeg_max * scale, so raw * scale
            # overflows BIGINT on any hubby graph — the product runs
            # in exact DECIMAL(38,0) (the quotient is <= scale because
            # raw <= t, so it always fits back in a long; the DuckDB
            # oracle twin uses HUGEINT for the same step)
            return raw.crossJoin(F.broadcast(total)).select(
                "node",
                F.expr(
                    f"CAST((CAST(raw AS DECIMAL(38,0)) * {scale})"
                    f" DIV t AS BIGINT)"
                ).alias("v"),
            )

        for _ in range(iterations):
            auth = _half(hub, "src", "dst").localCheckpoint(eager=False)
            hub = _half(auth, "dst", "src").localCheckpoint(eager=False)
        out = nodes.join(
            auth.select(F.col("node"), F.col("v").alias("auth")), "node"
        ).join(
            hub.select(F.col("node"), F.col("v").alias("hub")), "node"
        )
        return out.localCheckpoint(eager=True)
    finally:
        e_src.unpersist()
        e_dst.unpersist()
        nodes.unpersist()


def transitive_closure(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """All pairs (src, dst) connected by a directed path of >= 1 edges
    — the materialized form of a SPARQL property path ``p+`` and the
    workhorse of RDFS entailment (``rdfs:subClassOf+`` /
    ``skos:broaderTransitive``): tortank answers such reachability
    questions only pair-at-a-time via repeated ``list_statements``
    calls (/root/reference/src/lib.rs model, SURVEY §2.3 R1); a
    batch engine materializes the closure once so every downstream
    type/ancestor query is a single equi-join.

    Datalog semi-naive evaluation as a labeled ``_frontier_bfs``: the
    frontier is the edge set itself as (src, node = dst) at depth 0,
    labeled by ``src``, so each round extends only the pairs found
    last round by one edge and anti-joins them against the closure on
    (src, dst) — no pair is derived twice and per-round work is
    frontier-sized, never closure-sized. Rounds = longest-path depth,
    capped at ``max_rounds`` (paths of up to ``max_rounds + 1`` edges),
    which also bounds cyclic inputs (the closure of a cycle is the
    complete reachability relation, self-pairs included — SPARQL
    property-path semantics). Each round ends in a driver-side count;
    under AQE planning its shuffle stages run as separate jobs (72
    jobs on a 12-edge chain at local[4]). The edge set is
    de-duplicated and persisted once per call."""
    e = edge_set(edges, src, dst)
    frontier = e.select("src", F.col("dst").alias("node"))
    return _frontier_bfs(e, frontier, ["src"], max_rounds).select(
        "src", F.col("node").alias("dst")
    )


def bfs_distances(
    edges: DataFrame, seeds: DataFrame,
    src: str = "src", dst: str = "dst", node: str = "node",
    max_depth: int = 6,
) -> DataFrame:
    """Minimum hop distance from a seed SET to every reachable node
    within ``max_depth`` -> (node, dist). The KG neighborhood/radius
    primitive (provenance blast-radius, entity context windows for
    linking, k-hop type propagation); tortank's pattern API walks one
    hop per list_statements call (SURVEY §2.3 R1) — a batch engine
    runs the whole frontier per round (``_frontier_bfs``). Seeds are
    emitted at dist 0 whether or not they touch an edge. Directed by
    construction — pre-union reversed edges for undirected graphs."""
    frontier = seeds.select(F.col(node).alias("node")).distinct()
    return _frontier_bfs(edge_set(edges, src, dst), frontier, [],
                         max_depth)


def _frontier_bfs(
    e: DataFrame, frontier: DataFrame, labels: list[str], max_depth: int,
) -> DataFrame:
    """Frontier BFS over the ``edge_set`` ``e`` from (*labels, node)
    rows at distance 0 -> visited (*labels, node, dist) within
    ``max_depth``; the one reachability loop behind transitive_closure,
    bfs_distances and harmonic_centrality. The join input is ONLY the
    current frontier (first visit IS the minimal distance, so no
    re-expansion and no min-recomputation), extended one edge on the
    vertex id (labels ride along as payload, so they never change join
    geometry), anti-joined against visited on (*labels, node).
    Per-round work is frontier-sized; lineage is truncated with lazy
    localCheckpoint; each round ends in a driver-side count of the new
    frontier, and the loop stops at an empty one. ``e`` is persisted
    here before anything is planned, so a ``frontier`` derived from it
    reads the same cache; it is released in ``finally``."""
    key = [*labels, "node"]
    e = e.persist()
    try:
        hop = e.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
        visited = frontier.withColumn(
            "dist", F.lit(0).cast("long")
        ).localCheckpoint(eager=False)
        for depth in range(1, max_depth + 1):
            nxt = (
                frontier.join(hop, frontier["node"] == hop["_s"])
                .select(*labels, F.col("_d").alias("node"))
                .distinct()
                .join(visited.select(*key), key, "left_anti")
                .localCheckpoint(eager=False)
            )
            if nxt.agg(F.count("*")).collect()[0][0] == 0:
                break
            visited = visited.unionByName(
                nxt.withColumn("dist", F.lit(depth).cast("long"))
            ).localCheckpoint(eager=False)
            frontier = nxt
        return visited
    finally:
        e.unpersist()


# walk-step hash multipliers — the negative-sampling family
# (sampling._NEG_*: inputs reduced mod 2^31-1, coefficient magnitudes
# staggered so the 4-term sum stays far below 2^63 in ANSI BIGINT)
_WALK_M = 2_147_483_647
_WALK_A = 1_103_515_245  # start-node multiplier
_WALK_B = 747_796_405    # walk-index multiplier
_WALK_C = 62_089_911     # step-index multiplier
_WALK_D = 104_729        # current-node multiplier


def random_walks(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    walk_length: int = 4, walks_per_node: int = 2,
    max_degree: int = 16, n_salts: int = 64,
) -> DataFrame:
    """DeepWalk-style random-walk corpus (Perozzi et al., KDD'14) ->
    (start, walk, step, node): ``walks_per_node`` truncated walks of
    up to ``walk_length`` steps from every vertex — the sequence
    corpus an embedding pipeline (skip-gram over walks) materializes
    ahead of training, exactly like negative_samples feeds TransE.

    NO RNG: the step-t choice is a pure function of the data —
    ``idx = H(start, walk, t, cur) mod cdeg(cur)`` with the
    multiplicative-hash family above — so walks are identical across
    reruns, partitionings, AND engines (the DuckDB oracle replays
    every step; a seeded RNG never could). Node ids must be integers
    (the KGE vocabulary encoding, built upstream).

    Adjacency comes from sampling.sample_neighbors(max_degree): each
    node's out-edges ranked by md5("src:dst") via the salted two-level
    tournament, so a web-scale celebrity node never sorts its whole
    adjacency in one task AND per-step fan-out is hard-bounded by
    ``max_degree`` (the standard degree-capped walk at crawl scale).
    The cap changes which graph is walked (md5-smallest neighbors
    kept), not determinism; the oracle replays it as a plain
    per-src row_number — salt-invariance argued at sample_neighbors.

    Scale shape per step: one 1:1 equi-join state->degree, then one
    equi-join into the capped adjacency ON THE NODE KEY ALONE with a
    post-filter on idx: adjacency and degree are persisted
    pre-partitioned by node, so across all L steps only the
    walk-state (score-sized) ever shuffles — a (node, idx) two-key
    join would re-hash the adjacency (the big side) every step. The
    join's pre-filter fan-out is bounded by ``max_degree`` rows per
    state row, by construction. Lineage is truncated per step by a
    lazy localCheckpoint, and under AQE planning each step's
    checkpoint runs that step's shuffle stages as jobs. Walks that
    reach a sink simply end (step-0 rows guarantee every node emits
    >= 1 row)."""
    from functools import reduce

    from tortank_spark.sampling import sample_neighbors

    spark = edges.sparkSession
    # duplicate (src, dst) rows would receive DISTINCT tournament
    # ranks (md5 keys collide exactly), skewing the walk distribution
    # and breaking idx-uniqueness — the adjacency is a set
    edges = edge_set(edges, src, dst)
    adj = (
        sample_neighbors(edges, max_degree, "src", "dst", n_salts)
        .select(
            F.col("src").alias("a_src"), F.col("dst").alias("a_dst"),
            (F.col("rank") - 1).cast("long").alias("idx"),
        )
        .repartition("a_src")  # reused by every step's node-key join
        .persist()
    )
    deg = adj.groupBy(F.col("a_src").alias("d_src")).agg(
        F.count("*").alias("cdeg")
    ).repartition("d_src").persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ws = spark.range(1, walks_per_node + 1).select(
        F.col("id").alias("walk")
    )
    state = nodes.crossJoin(F.broadcast(ws)).select(
        F.col("node").cast("long").alias("start"),
        F.col("walk").cast("long").alias("walk"),
        F.lit(0).cast("long").alias("step"),
        F.col("node").cast("long").alias("cur"),
    ).localCheckpoint(eager=False)
    levels = [state]
    try:
        for t in range(1, walk_length + 1):
            idx = F.pmod(
                F.pmod(F.col("start"), F.lit(_WALK_M)) * _WALK_A
                + F.col("walk") * _WALK_B
                + F.lit(t) * _WALK_C
                + F.pmod(F.col("cur"), F.lit(_WALK_M)) * _WALK_D,
                F.col("cdeg"),
            )
            state = (
                state.join(deg, state["cur"] == deg["d_src"])
                .withColumn("_i", idx)
                # node-key join + idx post-filter: adj keeps its
                # partitioning across steps; fan-out <= max_degree
                .join(adj, F.col("cur") == adj["a_src"])
                .filter(F.col("_i") == F.col("idx"))
                .select(
                    "start", "walk",
                    F.lit(t).cast("long").alias("step"),
                    F.col("a_dst").cast("long").alias("cur"),
                )
                .localCheckpoint(eager=False)
            )
            levels.append(state)
        out = reduce(DataFrame.unionByName, levels).select(
            "start", "walk", "step", F.col("cur").alias("node")
        )
        # materialize before the finally releases the caches
        return out.localCheckpoint(eager=True)
    finally:
        adj.unpersist()
        deg.unpersist()


def canonical_edges(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Distinct undirected edges as (a, b) with a < b; self-loops
    dropped (a triangle never contains one)."""
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    return edges.select(a, b).filter(F.col("a") != F.col("b")).distinct()


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Exact per-node triangle participation counts -> (node, n_tri):
    how many triangles each vertex belongs to (each triangle counts
    once at each of its three vertices — the clustering-coefficient
    numerator). Deterministic, integer-exact, fully SQL-replayable.

    Plan shape (3 shuffles beyond the edge scan, all equi-joins):
      1. degree aggregation over the canonical edge list;
      2. orientation join (edges x degrees, twice) — directs each
         edge low->high in the (degree, id) total order;
      3. wedge join on the shared LOW endpoint with a (deg, id)
         ordering guard so each unordered wedge appears once, then
         closure = one more equi-join probing the oriented edge set
         for the (v, w) closing edge.
    The orientation bound makes step 3's biggest key group O(sqrt(m))
    — the difference between a web-scale run and a straggler.

    Cache lifetime follows the dedup builders: the canonical edge
    list feeds 3 plan branches and the oriented edge set another 3 —
    unpersisted, the whole distinct-self-join chain upstream re-runs
    ~6x (measured 61 s -> ~8 s on the sf0.01 co-purchase graph).
    Both are persisted, the small per-node output is materialized and
    both caches are released before returning."""
    e = canonical_edges(edges, src, dst).persist()
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ed = e.join(da, "a").join(db, "b")
    # orient low -> high in the (degree, id) total order (id breaks
    # degree ties, so the order is total and the orientation acyclic)
    a_low = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_low, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_low, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_low, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_hi"),
    ).persist()
    o1 = oriented.select(
        F.col("lo"), F.col("hi").alias("v"), F.col("deg_hi").alias("dv")
    )
    o2 = oriented.select(
        F.col("lo"), F.col("hi").alias("w"), F.col("deg_hi").alias("dw")
    )
    # each unordered wedge {v, w} at apex lo appears once: require
    # v < w in the same (degree, id) order used for the orientation
    wedge = o1.join(o2, "lo").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("lo").alias("v"), F.col("hi").alias("w")
    )
    tri = wedge.join(closing, ["v", "w"]).select("lo", "v", "w")
    nodes = (
        tri.select(F.col("lo").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    out = nodes.groupBy("node").agg(F.count("*").alias("n_tri"))
    try:
        return out.localCheckpoint(eager=True)
    finally:
        e.unpersist()
        oriented.unpersist()


def propagate_labels(
    edges: DataFrame, seeds: DataFrame,
    src: str = "src", dst: str = "dst",
    node: str = "node", label: str = "label",
    rounds: int = 3,
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002,
    majority-vote variant) -> (node, label): infer types/categories
    for unlabeled KG entities from a labeled seed set — the type-
    inference pass after entity linking gives SOME nodes rdf:type and
    the rest need one. Synchronous rounds: every node adopts the most
    common label among its in-neighbors' current labels; seeds are
    CLAMPED (re-asserted each round, the standard semi-supervised
    discipline). Fully deterministic — the vote tie-break is (max
    count, then smallest label), seed conflicts resolve to min(label)
    per node, and rounds are fixed — so the DuckDB oracle replays
    every round. Directed by construction: pre-union reversed edges
    for undirected propagation.

    Scale shape per round: one equi-join current-labels->edges (only
    label-sized data moves; the edge table is pre-partitioned and
    shuffled zero times per round), a (node, label) count with
    map-side partial aggregation, then a per-node argmax via
    min(struct(-count, label)) — an AGGREGATE, not a window, so no
    per-node sort and celebrity nodes reduce tree-style; per-node
    vote rows are bounded by the distinct-label count anyway.
    Lineage truncated per round with lazy localCheckpoint."""
    e = edge_set(edges, src, dst).repartition("src").persist()
    sd = (
        seeds.select(F.col(node).alias("node"), F.col(label).alias("label"))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=False)
    )
    try:
        cur = sd
        for _ in range(rounds):
            votes = (
                e.join(cur, e["src"] == cur["node"])
                .groupBy(F.col("dst"), F.col("label"))
                .agg(F.count("*").alias("c"))
            )
            win = (
                votes.groupBy("dst")
                .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                    F.col("label").alias("l"))).alias("w"))
                .select(F.col("dst").alias("node"),
                        F.col("w.l").alias("label"))
            )
            cur = sd.unionByName(
                win.join(sd.select("node"), "node", "left_anti")
            ).localCheckpoint(eager=False)
        return cur
    finally:
        e.unpersist()


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    scale: int = 10 ** 6,
) -> DataFrame:
    """Per-node local clustering coefficient -> (node, deg, n_tri,
    cc_ppm): how clique-like each vertex's neighborhood is,
    ``cc = 2*tri / (deg*(deg-1))`` emitted as exact scaled-integer
    parts-per-million (Watts/Strogatz 1998 local coefficient; the
    float quotient would never value-hash). In a web KG this is the
    link-farm / template-cluster detector triangle counts feed: honest
    hub entities have LOW cc (their neighbors don't interlink), SEO
    rings and mirror farms have cc near 1.

    Built on triangle_counts (degree-ordered orientation — the
    O(m^1.5) wedge bound is the whole scale story) plus one degree
    aggregate and one left join; nodes without triangles get cc 0,
    degree-1 nodes are defined 0. The 2*tri*scale product runs in
    DECIMAL(38,0) (a 10^9-degree celebrity's tri count can reach
    ~deg^2/2; the hits overflow discipline) and the quotient returns
    to BIGINT.

    The canonical edge set is persisted HERE and fed to both the
    degree aggregate and triangle_counts: unpersisted, the expensive
    upstream derivation (typically a distinct self-join) would run
    twice — once under the triangle engine's own cache, once for the
    degree branch."""
    e = canonical_edges(edges, src, dst).persist()
    try:
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        tri = triangle_counts(e, "a", "b")  # materializes here
        out = (
            deg.join(tri, "node", "left")
            .select(
                "node", "deg",
                F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
                F.when(
                    F.col("deg") >= 2,
                    F.expr(
                        f"CAST(CAST(coalesce(n_tri, 0) AS DECIMAL(38,0))"
                        f" * 2 * {scale} DIV (deg * (deg - 1)) AS BIGINT)"
                    ),
                ).otherwise(F.lit(0)).cast("long").alias("cc_ppm"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        e.unpersist()


def kcore(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """k-core decomposition -> (node, deg): the maximal subgraph in
    which every vertex keeps undirected degree >= k, with each
    survivor's in-core degree (Seidman 1983 cores; the Batagelj/
    Zaversnik peel expressed as bulk rounds). The web-graph
    core/periphery separator: the dense core is where link farms and
    genuine topic hubs concentrate, the k=1..2 shell is crawl fringe —
    a standard candidate-space reducer before expensive per-node
    analytics.

    Bulk-synchronous peel: each round drops ALL nodes below k at once
    and recounts (fixpoint identical to sequential peeling — the
    k-core is unique). Deterministic by construction; the DuckDB
    oracle unrolls a fixed round budget, safe because rounds are
    IDEMPOTENT after convergence (the sf0.01 verification graphs
    converge far under the unroll).

    Scale shape per round: two semi-joins of the (persisted,
    pre-partitioned) undirected edge table against the surviving node
    set + one map-side-partial degree count; convergence checked with
    one count compare per round (node-set size is monotone
    decreasing, so equal size = fixpoint). Lineage truncated per
    round."""
    # both orientations in one positional union, de-duplicated once
    e = (
        edge_set(edges.select(src, dst).union(edges.select(dst, src)),
                 src, dst)
        .filter(F.col("src") != F.col("dst"))
        .repartition("src")
        .persist()
    )
    try:
        cur = (
            e.groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .localCheckpoint(eager=False)
        )
        n_cur = cur.count()
        for _ in range(max_rounds):
            if n_cur == 0:
                break
            nxt = (
                e.join(cur.select(F.col("node").alias("src")), "src",
                       "left_semi")
                .join(cur.select(F.col("node").alias("dst")), "dst",
                      "left_semi")
                .groupBy(F.col("src").alias("node"))
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= k)
                .localCheckpoint(eager=False)
            )
            n_nxt = nxt.count()
            if n_nxt == n_cur:
                cur = nxt  # degrees recounted within the fixpoint set
                break
            cur, n_cur = nxt, n_nxt
        return cur
    finally:
        e.unpersist()


def harmonic_centrality(
    edges: DataFrame, seeds: DataFrame,
    src: str = "src", dst: str = "dst", node: str = "node",
    max_depth: int = 4, scale: int = 1_000_000,
) -> DataFrame:
    """Seeded harmonic centrality -> (node, n_reached_from,
    harmonic_ppm): for every node reachable from the seed COHORT
    within ``max_depth`` hops, sum(scale DIV d(seed, node)) over the
    seeds that reach it (Boldi & Vigna 2014's harmonic variant of
    closeness, restricted to a seed set the way personalized PageRank
    restricts teleport) — proximity-to-cohort ranking: "which
    entities sit structurally closest to these known-good seeds",
    the distance-based complement of pagerank(seeds=...)'s
    random-walk prior. Unreachable (seed, node) pairs contribute 0
    (the property that makes harmonic centrality well-defined on
    disconnected web graphs where classic closeness is not); d=0
    (the node IS a seed) contributes nothing.

    PER-SEED labeled frontier BFS (``_frontier_bfs`` with label
    ``seed``): one sweep computes all seeds' distance fields at once —
    |seeds| times the bfs_distances state, NOT |seeds| sequential
    jobs; seed count widens the frontier but never changes join
    geometry. All integer arithmetic (scale DIV d), so the result
    value-hashes and the DuckDB oracle replays it exactly. Final rollup
    is one map-side-combinable sum per node. Seed count is the knob:
    cost ~ |seeds| x BFS(depth), intended for cohort-sized (10s-100s)
    seed sets."""
    frontier = seeds.select(F.col(node).alias("seed")).distinct(
    ).withColumn("node", F.col("seed"))
    visited = _frontier_bfs(edge_set(edges, src, dst), frontier, ["seed"],
                            max_depth)
    return (
        visited.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count("*").alias("n_reached_from"),
            F.sum(
                F.expr(f"CAST({scale} AS BIGINT) DIV dist")
            ).alias("harmonic_ppm"),
        )
    )


def reciprocity(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Per-node link reciprocity -> (node, out_deg, n_reciprocal,
    recip_ppm): of a node's distinct out-edges, how many are matched
    by the reverse edge (Garlaschelli & Loffredo 2004's reciprocity,
    reported per node in exact integer ppm). On web/KG graphs the
    global rate is low and organic; near-1e6 nodes are reciprocal-
    linking rings (link farms, mirror pairs) — the directed
    complement of clustering_coefficients' triangle-density signal,
    and one of the classic SEO-spam features.

    Deterministic and integer-exact (n_reciprocal * 1e6 DIV out_deg).
    Scale shape: the distinct edge set feeds all three uses of the
    plan (out-degrees, semi-join probe, reverse side) from ONE
    shuffle — the subtrees are identical, so Spark's ReusedExchange
    dedupes them at the physical level (no persist needed: this
    function materializes nothing internally, so a cache here would
    be released before the caller ever ran — the round-4 cache-
    lifetime lesson). The reverse-match test is a left-semi equi-join
    of the edge table against its own (dst, src) projection on the
    full (src, dst) pair — output bounded by the probe side,
    AQE-splittable — then one map-side-combinable count per node,
    left-joined onto the out-degree table (also one aggregate).
    Self-loops are excluded (trivially reciprocal)."""
    e = edge_set(edges, src, dst).filter(F.col("src") != F.col("dst"))
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg"))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (
        e.join(rev, ["src", "dst"], "left_semi")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("n_reciprocal"))
    )
    return (
        out_deg.join(recip, "node", "left")
        .select(
            "node", "out_deg",
            F.coalesce(F.col("n_reciprocal"), F.lit(0))
            .cast("long").alias("n_reciprocal"),
            F.expr(
                "coalesce(n_reciprocal, CAST(0 AS BIGINT))"
                " * CAST(1000000 AS BIGINT) DIV out_deg"
            ).alias("recip_ppm"),
        )
    )


def triangle_count_sampled(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    p_ppm: int = 200_000, salt: str = "doulion",
) -> DataFrame:
    """DOULION sampled global triangle count (Tsourakakis et al.,
    KDD'09) -> ONE row (p_ppm, n_edges_kept, n_tri_sampled,
    est_n_tri): sparsify the canonical edge set by keeping each edge
    with probability p = p_ppm/1e6, count triangles EXACTLY on the
    sparsified graph (triangle_counts' degree-ordered wedge join),
    and scale by 1/p^3 — an unbiased estimator whose variance decays
    with graph size, and at 100 TB the only affordable way to track
    triangle density (the exact counter's wedge stage is the
    inherent O(m^1.5) wall BASELINE.md measures at 124 s for the
    sf0.1 co-purchase graph; p=0.2 cuts it ~125x).

    NO RNG: the keep-gate is md5-low-60 of "salt:a:b" mod 1e6 <
    p_ppm — the repo's deterministic-sampling idiom (sampling.py), so
    the estimate is reproducible run-to-run AND replayable by the
    DuckDB oracle byte-for-byte (md5 is engine-identical; the scale
    division is integer DECIMAL arithmetic). Changing ``salt``
    redraws the sample — run k salts and average for variance
    control, each run independent and cacheable.
    """
    e = canonical_edges(edges, src, dst)
    gate = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col("a"), F.col("b"))),
            1, 15),
        16, 10,
    ).cast("long") % 1_000_000
    kept = e.filter(gate < p_ppm)
    tri = triangle_counts(kept, "a", "b").agg(
        F.expr("CAST(coalesce(sum(n_tri), 0) DIV 3 AS BIGINT)")
        .alias("n_tri_sampled"))  # integer DIV: the sum is exactly 3T
    n_kept = kept.agg(F.count("*").alias("n_edges_kept"))
    return (
        tri.crossJoin(n_kept)
        .select(
            F.lit(p_ppm).cast("long").alias("p_ppm"),
            "n_edges_kept", "n_tri_sampled",
            (
                F.expr(
                    f"CAST(n_tri_sampled AS DECIMAL(38,0))"
                    f" * CAST(1000000 AS DECIMAL(38,0))"
                    f" * CAST(1000000 AS DECIMAL(38,0))"
                    f" * CAST(1000000 AS DECIMAL(38,0))"
                    f" DIV (CAST({p_ppm} AS DECIMAL(38,0))"
                    f" * {p_ppm} * {p_ppm})"
                ).cast("long")
                if p_ppm > 0 else F.lit(0).cast("long")
            ).alias("est_n_tri"),
        )
    )
