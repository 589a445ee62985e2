"""Graph reachability queries over the property-graph store.

The reference serves these from ArangoDB after loading (AQL traversals are
downstream of this repo's scope); the engine answers bounded reachability
directly on the edges DataFrame with iterative distributed self-joins —
appropriate for ontology DAGs whose depth (subclass chains, partonomy) is
tens, not thousands.

Scale notes: each hop is ONE shuffle join keyed on the frontier's endpoint;
the union of per-hop frontiers is min-folded at the end in a single
aggregation.  For depths beyond ~10, checkpoint the frontier every few hops
(lineage/plan depth grows linearly) or switch to doubling (path-join-path,
O(log d) iterations at higher per-step cost).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def transitive_closure(
    edges: DataFrame, max_hops: int, src: str = "a", dst: str = "b"
) -> DataFrame:
    """All (src, dst, hops) pairs reachable in <= max_hops edges, with the
    minimal hop count.  ``edges`` needs columns (src, dst)."""
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    base = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), F.lit(1).alias("hops"))
    step = edges.select(F.col(src).alias("b"), F.col(dst).alias("c"))
    frontier = base
    all_paths = base
    for _ in range(max_hops - 1):
        frontier = frontier.join(step, on="b").select(
            "a", F.col("c").alias("b"), (F.col("hops") + 1).alias("hops")
        )
        all_paths = all_paths.unionByName(frontier)
    return all_paths.groupBy("a", "b").agg(F.min("hops").alias("hops"))


def connected_components(
    pairs: DataFrame, a: str = "a", b: str = "b", max_iter: int = 25
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = minimum
    node id reachable through the pair graph (deterministic canonical label).

    The duplicate-clustering finisher: exact/MinHash/SimHash dedup emit
    PAIRS, but keep-one-per-group needs the transitive closure of those
    pairs (A~B, B~C ⇒ {A,B,C} one cluster, keep min).

    Min-label propagation: each round, every node takes the min of its own
    and its neighbors' labels — one join + one min-aggregate per round, both
    keyed shuffles on uniformly distributed ids.  Rounds needed = component
    diameter; duplicate clusters from LSH band pairs are near-cliques
    (diameter ≤ 2-3), so this converges in a handful of rounds — the
    convergence check (labels unchanged) is a count aggregate, no collect.
    ``localCheckpoint`` truncates the growing lineage each round (swap for
    reliable ``checkpoint()`` on a cluster).  For adversarial long-chain
    graphs switch to alternating large-star/small-star (O(log d) rounds).
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    edges = pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
    sym = edges.unionByName(edges.select(F.col("y").alias("x"), F.col("x").alias("y")))
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iter):
        nbr = sym.join(
            labels.withColumnRenamed("node", "y"), on="y"
        ).select(F.col("x").alias("node"), "label")
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, on="node")
            .filter(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # Partially-propagated labels would silently split one true component
        # into several — downstream keep-one-per-cluster dedup would then keep
        # extra copies.  Fail loudly instead of returning wrong clusters.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); component diameter exceeds "
            f"max_iter — raise max_iter or switch to large-star/small-star."
        )
    return labels.select("node", F.col("label").alias("component"))


def pagerank_integer(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    checkpoint_every: int = 2,
) -> DataFrame:
    """PageRank with integer-scaled arithmetic: every rank is a BIGINT in
    units of 1/``scale``, every update uses only integer multiply / truncating
    ``div`` / sum — so the result is BIT-EXACT regardless of engine, task
    count, or reduction order.  Float PageRank differs in the last ulps per
    run (sum order varies with partitioning), which breaks cross-engine
    verification and makes incremental re-runs non-reproducible; integer
    units trade a bounded truncation leak (< out_degree ulps per node per
    iteration, mass only ever shrinks) for exact determinism.

    Dangling nodes (no out-edges) keep their base rank; their damped mass is
    dropped rather than redistributed — ranks remain a deterministic
    importance ORDER, which is what dedup canonical-pick / crawl
    prioritization consumes.  The STATIC side is prepared once (round 4):
    out-degree is attached with ONE window count over ``src`` — the same
    shuffle that hash-partitions the edge table by ``src`` for the
    checkpoint, so the separate groupBy + join + repartition chain
    collapses into a single exchange (measured 3.8 s → 3.1 s on the 300k
    bench graph).  Each iteration then shuffles only the (node, rank)
    frontier — the edge side is satisfied by its stored partitioning every
    round, and the per-iteration degree join disappears.
    Per iteration: one contribution join keyed on the frontier node + one
    sum aggregate — and NOTHING else: the textbook per-round
    ``nodes LEFT JOIN contribs`` re-shuffles the full static node list and
    sorts both sides every iteration just to hand nodes with no in-edges
    their constant base rank.  Those nodes are the same set every round
    (nodes never appearing as ``dst``), so they are split out ONCE before
    the loop and their constant-rank frame is UNIONed back per round —
    the per-iteration node Exchange + double Sort + SortMergeJoin are gone
    and the contribution aggregate's exchange is the only shuffle left.
    ``checkpoint_every`` trades lineage depth for
    materialization cost: every k-th iteration ``localCheckpoint``s the
    ranks (swap for reliable ``checkpoint()`` on a cluster); k=2 halves the
    materializations while keeping the uncheckpointed plan at most two
    join+agg layers deep — well under codegen/analysis limits.  Output:
    (node, rank_units BIGINT).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:  # empty graph: empty result, not a ZeroDivisionError
        return nodes.withColumn("rank_units", F.lit(0).cast("long"))
    from pyspark.sql import Window

    e_deg = (
        e.withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .localCheckpoint(eager=True)
    )
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    init_units = scale // n_nodes
    base_units = (scale - scale * damping_num // damping_den) // n_nodes
    # Nodes with no in-edges get coalesce(NULL, 0) -> base_units in EVERY
    # round; their rank never changes, so the per-round left join against the
    # static node list is replaced by one anti-join here + a union per round.
    zero_in = nodes.join(
        e.select(F.col("dst").alias("node")).distinct(), on="node", how="left_anti"
    ).localCheckpoint(eager=True)
    zero_ranks = zero_in.select(
        "node", F.lit(base_units).cast("long").alias("rank_units")
    )
    ranks = nodes.withColumn("rank_units", F.lit(init_units).cast("long"))
    for i in range(n_iter):
        contribs = (
            ranks.join(e_deg, ranks["node"] == e_deg["src"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_units div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_units"))
        )
        # contribs covers exactly the distinct-dst node set (ranks always
        # spans all nodes), so contribs + zero_ranks partition the node set:
        # same rows, bit-exact arithmetic, as nodes LEFT JOIN contribs.
        ranks = contribs.select(
            "node",
            (
                F.lit(base_units)
                + F.expr(
                    f"coalesce(in_units, 0L) * {damping_num} div {damping_den}"
                )
            ).cast("long").alias("rank_units"),
        ).unionByName(zero_ranks)
        if (i + 1) % checkpoint_every == 0 and i != n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def canonical_undirected(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Distinct undirected edge set as (a, b) with a < b; self-loops dropped.
    One projection + one dedup shuffle."""
    lo, hi = F.least(F.col(a), F.col(b)), F.greatest(F.col(a), F.col(b))
    return (
        edges.filter(F.col(a) != F.col(b))
        .select(lo.alias("a"), hi.alias("b"))
        .distinct()
    )


def triangle_count(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global triangle count of the undirected graph given by ``edges``.

    Degree-oriented enumeration: orient every canonical edge from the
    endpoint with (degree, id)-lower rank to the higher one, join oriented
    wedges (u→v→w), then semi-join the closing edge (u→w).  Orientation by
    degree bounds every node's out-degree by O(sqrt(m)), so the wedge join
    is O(m^1.5) worst-case REGARDLESS of hub skew — the property that lets
    this survive power-law web/citation graphs at 100 TB, where orienting by
    raw id would square the hub degrees.  Each triangle is counted exactly
    once (its vertices form a unique oriented path under the total order).

    Three keyed shuffles: degree agg, wedge join, closing semi-join.  The
    canonical edge set feeds four plan branches (degree agg twice, the
    orientation join, the closing side) and the oriented set three — both
    are checkpointed so upstream edge derivation runs ONCE, not once per
    branch (unchecked, a derived edge set like a co-occurrence self-join
    re-executes ~6×: measured 66 exchanges vs 14 on the co-purchase query).
    Output: single row (n_triangles BIGINT).
    """
    und = canonical_undirected(edges, a, b).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "deg_a"), on="a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "deg_b"), on="b")
    )
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=True)
    wedges = (
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(
            oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
            on="v",
        )
        .select("u", "w")
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        on=["u", "w"],
        how="left_semi",
    )
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def triangle_list(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Every triangle of the undirected graph as one (u, v, w) row — the
    same degree-oriented enumeration as ``triangle_count`` (each triangle
    is the unique oriented path under the (degree, id) total order, so no
    dedup pass), but keeping the wedge's middle vertex so per-vertex
    statistics (local clustering coefficient, triangle support for truss
    decomposition) can explode the triple.  Same O(m^1.5) skew-immunity
    argument; same three keyed shuffles."""
    und = canonical_undirected(edges, a, b).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "deg_a"), on="a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "deg_b"), on="b")
    )
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=True)
    wedges = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v")).join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")), on="v"
    )
    return wedges.join(
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        on=["u", "w"],
        how="left_semi",
    ).select("u", "v", "w")


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    v: str = "v",
) -> DataFrame:
    """Multi-source BFS: shortest hop distance (≤ ``max_hops``) from any
    seed vertex, over a directed edge list.  Output: (v, dist BIGINT) for
    every vertex within ``max_hops`` of a seed — the bounded-depth
    traversal behind ontology neighborhood queries (the reference walks
    subclass chains a fixed number of AQL hops; e.g. the 1..n-depth
    traversals issued by its graph query endpoints).

    Bellman-Ford-style min propagation: each round joins the current
    distance frame to the edge list and folds with min(dist) — after k
    rounds distances ≤ k are exact, and min-folding makes the result
    independent of join order (deterministic, hash-gateable).

    Scale: the static edge side is prepared ONCE — hash-partitioned by
    ``src`` and localCheckpointed (swap for reliable ``checkpoint()`` on a
    cluster), so each hop's contribution join satisfies its edge-side
    exchange from the stored partitioning instead of re-deriving the edge
    lineage per round (pre-fix this plan carried 60 Exchanges at 3 hops;
    now 2 keyed shuffles per hop, same shape as pagerank_integer above).
    The distance frame is O(|reached|), never O(edges), and is
    localCheckpointed every ``checkpoint_every`` hops to keep the
    uncheckpointed plan at most two join+agg layers deep.  For deep
    traversals (> ~5 hops) additionally switch to frontier-only propagation
    (join only rows whose dist equals the round number).
    """
    cur = seeds.select(F.col(v).cast("long").alias(v), F.lit(0).cast("long").alias("dist"))
    e = (
        edges.select(F.col(src).cast("long").alias(src), F.col(dst).cast("long").alias(dst))
        .repartition(src)
        .localCheckpoint(eager=True)
    )
    checkpoint_every = 2
    for i in range(max_hops):
        nxt = cur.join(e, cur[v] == e[src]).select(
            F.col(dst).alias(v), (F.col("dist") + F.lit(1).cast("long")).alias("dist")
        )
        cur = (
            cur.unionByName(nxt)
            .groupBy(v)
            .agg(F.min("dist").cast("long").alias("dist"))
        )
        if (i + 1) % checkpoint_every == 0 and i != max_hops - 1:
            cur = cur.localCheckpoint(eager=True)
    return cur


def kcore_vertices(
    edges: DataFrame,
    k: int,
    n_rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core membership by fixed-round peeling over an UNDIRECTED simple
    graph: each round drops every vertex with degree < ``k`` (and its
    edges); with ``n_rounds`` ≥ the graph's peel depth the fixpoint is the
    exact k-core — the standard cohesion screen (spam/fraud subgraph
    pruning, mutual-interaction cores in training-data curation).

    The round count is FIXED, not run-to-convergence, so the computation
    unrolls to a deterministic chained-CTE SQL replay (the
    pq_train/pagerank doctrine: bounded loops, oracle-exact); callers pin
    convergence by checking one extra round changes nothing
    (tests/test_analytics_ops.py does).  Input edges are canonicalized
    here: self-loops dropped, then symmetrized + dedup'd, so degree =
    distinct-neighbor count.

    Scale shape: per round one degree aggregate (map-side combining; the
    frame is O(live vertices)) and one double semi-join of the live edge
    list against the keep set — 3 keyed shuffles per round, nothing wider
    than the live edge list, localCheckpoint every 2 rounds truncates
    lineage exactly like pagerank_integer/bfs_distances above.  Output:
    (v, deg BIGINT) for the surviving vertices with their in-core degree.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    und = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    for r in range(n_rounds):
        deg = und.groupBy(F.col("src").alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        keep = deg.filter(F.col("deg") >= k).select("v")
        und = und.join(
            keep.withColumnRenamed("v", "src"), on="src", how="left_semi"
        ).join(keep.withColumnRenamed("v", "dst"), on="dst", how="left_semi")
        if (r + 1) % 2 == 0 and r != n_rounds - 1:
            und = und.localCheckpoint(eager=True)
    return und.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )


def label_propagation(
    edges: DataFrame,
    n_rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation (round 7): community
    detection by iterated neighborhood majority vote — each round every
    vertex adopts the most frequent label among its neighbors' current
    labels, ties broken (count DESC, label ASC) so the result is a pure
    function of the graph, reproducible at any parallelism and
    hash-gateable (the nondeterministic tie/ordering of textbook LPA is
    exactly what a differential gate cannot tolerate).

    Labels initialize to the vertex id.  The edge list is canonicalized
    (self-loops dropped, symmetrized, dedup'd) and then given ONE
    self-loop per vertex, which makes the vote include the vertex's own
    current label at weight 1 — the standard damping that prevents the
    2-cycle oscillation synchronous LPA exhibits on bipartite structure.
    Fixed round count, so the computation unrolls to a chained-CTE oracle
    (the kcore/pagerank doctrine).

    Scale shape: per round one join of the static edge list (prepared
    once: hash-partitioned by ``dst``, localCheckpointed) against the
    O(vertices) label frame and one two-key count + one-key argmax
    aggregate — all keyed, nothing edge-squared; label frames
    localCheckpoint every 2 rounds.  Output: (v, lab) per vertex.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    verts = und.select(F.col("src").alias("v")).distinct()
    und = (
        und.unionByName(verts.select(F.col("v").alias("src"), F.col("v").alias("dst")))
        .repartition("dst")
        .localCheckpoint(eager=True)
    )
    labels = verts.select("v", F.col("v").alias("lab"))
    for r in range(n_rounds):
        votes = (
            und.join(labels.withColumnRenamed("v", "dst"), on="dst")
            .groupBy(F.col("src").alias("v"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("v").orderBy(F.col("c").desc(), F.col("lab").asc())
        labels = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("v", "lab")
        )
        if (r + 1) % 2 == 0 and r != n_rounds - 1:
            labels = labels.localCheckpoint(eager=True)
    return labels.select("v", F.col("lab").cast("long").alias("lab"))


def common_neighbor_scores(
    edges: DataFrame,
    min_common: int = 2,
    anchor_cap: int | None = None,
    src: str = "src",
    dst: str = "dst",
    jaccard_scale: int = 1_000_000,
) -> DataFrame:
    """Link-prediction candidate scoring by shared neighborhoods: for every
    vertex pair (a < b) with at least ``min_common`` common neighbors,
    emit the common-neighbor count and the integer-scaled Jaccard
    floor(scale·|Γa∩Γb| / |Γa∪Γb|) — the classic missing-edge /
    entity-resolution ranking (Liben-Nowell & Kleinberg), and exactly the
    wedge-enumeration shape of ``triangle_count`` repointed at OPEN wedges.

    Scale shape: pairs are generated ONLY through shared anchors — a
    self-join of the (neighbor → vertex) adjacency keyed on the anchor,
    never vertex×vertex.  Cost is Σ_anchor deg(anchor)², so hub anchors
    are the quadratic risk; ``anchor_cap`` drops anchors with more than
    that many neighbors (the link-prediction analogue of stop-word
    removal — a hub shared by everyone carries no signal; the LSH
    stop-template cap doctrine).  The cap is applied BEFORE pairing in
    both this plan and its oracle, so it is part of the operator's
    definition, not an approximation.  Degrees for the union term are
    computed on the same capped graph (scores stay internally consistent).
    One shuffle for adjacency dedup + degree, one for the anchor
    self-join, one for the pair rollup.

    Output: (a, b, common, deg_a, deg_b, jaccard_ppm) with a < b.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # adjacency keyed by the ANCHOR (the shared neighbor): anchor = src side
    adj = und.select(F.col("src").alias("anchor"), F.col("dst").alias("v"))
    if anchor_cap is not None:
        deg_anchor = adj.groupBy("anchor").agg(F.count(F.lit(1)).alias("_da"))
        adj = adj.join(
            F.broadcast(deg_anchor.filter(F.col("_da") <= anchor_cap)), "anchor"
        ).select("anchor", "v")
    # the capped adjacency feeds THREE consumers (degrees + both self-join
    # sides): materialize it once (the label_propagation prepared-edges
    # doctrine) instead of recomputing the dedup/cap subtree per consumer
    adj = adj.localCheckpoint(eager=True)
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    a1 = adj.select("anchor", F.col("v").alias("a"))
    a2 = adj.select("anchor", F.col("v").alias("b"))
    pairs = (
        a1.join(a2, "anchor")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    scored = (
        pairs.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b")), "b")
    )
    jacc = F.floor(
        (F.col("common") * jaccard_scale)
        / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast("double")
    ).cast("long")
    return scored.select(
        "a", "b", "common", "deg_a", "deg_b", jacc.alias("jaccard_ppm")
    )


def personalized_pagerank_integer(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: identical integer-unit
    arithmetic to :func:`pagerank_integer`, but ALL teleport mass — the
    initial distribution and the per-iteration base term — lands on the
    ``seeds`` set instead of uniformly on every node.  Ranks then measure
    proximity-weighted reachability FROM THE SEEDS (Haveliwala, WWW'02),
    the standard graph feature for recommendation ("rank items near this
    user's items") and for seed-expansion labeling, where global PageRank
    only measures popularity.

    ``seeds`` is a one-column (node) frame; seeds not present in the edge
    set still receive their teleport share (they are unioned into the
    node set), so a seed with no edges keeps base mass instead of
    silently vanishing.  Same bit-exactness contract as the global
    variant: BIGINT units, truncating div, mass only ever shrinks.

    100 TB shape: the seed frame is KB-scale and broadcast onto the node
    frame for the base term; per iteration the cost is exactly the global
    variant's — one contribution join keyed on the frontier node + one
    sum aggregate.  As in :func:`pagerank_integer`, the per-round
    ``nodes LEFT JOIN contribs`` is eliminated: the dst-side base term is
    attached to the STATIC degree-edge frame once (seed flag broadcast)
    and carried through the aggregate as a functionally-dependent grouping
    column, and the static no-in-edge node set keeps its constant teleport
    rank via one union per round.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(seed_nodes)
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError("seeds must be non-empty (all teleport mass lands there)")
    from pyspark.sql import Window

    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    init_units = scale // n_seeds
    base_units = (scale - scale * damping_num // damping_den) // n_seeds
    # The per-dst base term is a function of the dst's seed membership —
    # attach it to the static degree-edge frame ONCE (broadcast seed flag)
    # instead of re-joining the node list against the aggregate per round.
    dst_seed = seed_nodes.select(F.col("node").alias("dst"), F.lit(1).alias("dst_is_seed"))
    e_deg = (
        e.withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .join(F.broadcast(dst_seed), on="dst", how="left")
        .withColumn(
            "base_n",
            F.when(F.col("dst_is_seed") == 1, F.lit(base_units))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("dst_is_seed")
        .localCheckpoint(eager=True)
    )
    seed_flag = seed_nodes.withColumn("is_seed", F.lit(1))
    flagged = nodes.join(F.broadcast(seed_flag), on="node", how="left")
    # Static: nodes with no in-edges keep base_n (seed) / 0 (non-seed) in
    # EVERY round — split out once, unioned back per round.
    zero_in = nodes.join(
        e.select(F.col("dst").alias("node")).distinct(), on="node", how="left_anti"
    )
    zero_flag = zero_in.join(
        F.broadcast(seed_flag), on="node", how="left"
    ).localCheckpoint(eager=True)
    zero_ranks = zero_flag.select(
        "node",
        F.when(F.col("is_seed") == 1, F.lit(base_units))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank_units"),
    )
    ranks = flagged.select(
        "node",
        F.when(F.col("is_seed") == 1, F.lit(init_units))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank_units"),
    )
    for i in range(n_iter):
        # base_n is functionally dependent on node (= the dst's seed flag),
        # so grouping by (node, base_n) yields the same groups; integer sums
        # are reduction-order-exact, and contribs + zero_ranks partition the
        # node set exactly as flagged LEFT JOIN contribs did.
        contribs = (
            ranks.join(e_deg, ranks["node"] == e_deg["src"])
            .select(
                F.col("dst").alias("node"),
                F.col("base_n"),
                F.expr("rank_units div deg").alias("c"),
            )
            .groupBy("node", "base_n")
            .agg(F.sum("c").alias("in_units"))
        )
        ranks = contribs.select(
            "node",
            (
                F.col("base_n")
                + F.expr(
                    f"coalesce(in_units, 0L) * {damping_num} div {damping_den}"
                )
            ).cast("long").alias("rank_units"),
        ).unionByName(zero_ranks)
        if (i + 1) % checkpoint_every == 0 and i != n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def strongly_connected_components_fb(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 50,
    max_inner: int = 64,
    check_every: int = 4,
) -> DataFrame:
    """(node, scc_id) for every node of a DIRECTED edge set; scc_id = the
    minimum member of the node's strongly connected component.

    The PRODUCTION-SHAPE SCC algorithm the `graph_scc` gate tier names:
    multi-pivot forward-backward coloring (Orzan-style), built entirely
    from per-round KEYED shuffles — no transitive closure is ever
    materialized, so memory stays O(|V| + |E|) at any scale (the
    path-doubling gate tier is O(closure)).

    Per outer round, on the still-unassigned subgraph:
      1. FORWARD max-label coloring to fixpoint: color(v) = max label u
         with a path u ⇝ v (one edge join + max-aggregate per hop — the
         `connected_components` shape).  Every color class then contains
         exactly one PIVOT p with color(p) = p.
      2. BACKWARD reachability to the pivot WITHIN each color class
         (boolean flag propagation over same-color edges).  The classic
         FW-BW theorem: SCC(p) = {v : color(v) = p and v ⇝ p}, and every
         v⇝p path stays inside color class p — so restricting to
         same-color edges loses nothing.
      3. All flagged nodes are assigned (scc_id = min member per color
         class, the repo's canonical-label convention) and removed; each
         class removes at least its pivot, so the outer loop strictly
         shrinks and terminates.

    Fixpoint loops chain ``check_every`` lazy hops between eager
    localCheckpoints + change-count checks (4 shuffles per action instead
    of 1 — the convergence probe is the expensive part on small rounds).
    Rounds needed: inner ≈ the subgraph's directed diameter, outer ≈ the
    condensation's pivot-chain depth — both small on real graphs; both
    capped with a LOUD error (partial labels would silently merge or
    split components downstream, the `connected_components` doctrine).
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    remaining = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rem_edges = e
    assigned: DataFrame | None = None

    def _fixpoint(state: DataFrame, step, agg_col: str, agg_fn) -> DataFrame:
        """Iterate ``state -> state ∪ step(state)`` folded by ``agg_fn``
        until unchanged; ``check_every`` lazy hops per eager checkpoint."""
        # hop budget = rounds * check_every (up to max_inner + check_every
        # hops — the error below reports the TRUE budget, ADVICE r9)
        rounds = max_inner // check_every + 1
        for _ in range(rounds):
            before = state
            for _ in range(check_every):
                state = (
                    state.unionByName(step(state))
                    .groupBy("node")
                    .agg(agg_fn(agg_col).alias(agg_col))
                )
            state = stats_cut(state)
            changed = (
                state.withColumnRenamed(agg_col, "__new")
                .join(before, on="node")
                .filter(F.col("__new") != F.col(agg_col))
                .count()
            )
            if changed == 0:
                return state
        raise RuntimeError(
            f"strongly_connected_components_fb: fixpoint on {agg_col} did "
            f"not converge within {rounds * check_every} hops — directed "
            "diameter exceeds the cap; raise max_inner."
        )

    for _ in range(max_outer):
        if remaining.count() == 0:
            break
        # 1. forward max-label coloring
        colors = remaining.withColumn("color", F.col("node"))

        def fwd(state, _edges=rem_edges):
            return _edges.join(
                state.withColumnRenamed("node", "s"), on="s"
            ).select(F.col("d").alias("node"), "color")

        colors = _fixpoint(colors, fwd, "color", F.max)
        # 2. backward flag propagation within color classes
        ce = stats_cut(
            rem_edges.join(
                colors.select(F.col("node").alias("s"), F.col("color").alias("cs")),
                on="s",
            )
            .join(
                colors.select(F.col("node").alias("d"), F.col("color").alias("cd")),
                on="d",
            )
            .filter(F.col("cs") == F.col("cd"))
            .select("s", "d")
        )
        flags = colors.select(
            "node", (F.col("node") == F.col("color")).alias("flg")
        )

        def bwd(state, _ce=ce):
            return _ce.join(
                state.filter(F.col("flg")).withColumnRenamed("node", "d"), on="d"
            ).select(F.col("s").alias("node"), "flg")

        flags = _fixpoint(flags, bwd, "flg", F.max)
        found = (
            flags.filter(F.col("flg"))
            .join(colors, on="node")
            .select("node", "color")
        )
        labeled = found.join(
            found.groupBy("color").agg(F.min("node").alias("scc_id")), on="color"
        ).select("node", "scc_id")
        assigned = (
            labeled if assigned is None else assigned.unionByName(labeled)
        )
        assigned = stats_cut(assigned)
        remaining = stats_cut(
            remaining.join(labeled.select("node"), on="node", how="left_anti")
        )
        rem_edges = (
            rem_edges.join(
                remaining.select(F.col("node").alias("s")), on="s", how="left_semi"
            )
            .join(remaining.select(F.col("node").alias("d")), on="d", how="left_semi")
            .select("s", "d")
        )
        rem_edges = stats_cut(rem_edges)
    n_left = remaining.count()
    if n_left != 0:
        # partial labels would silently merge/split components downstream
        raise RuntimeError(
            f"strongly_connected_components_fb: {n_left} nodes unassigned "
            f"after {max_outer} outer rounds — raise max_outer."
        )
    if assigned is None:
        raise ValueError("strongly_connected_components_fb: empty edge set")
    return assigned


def dag_depth_frontier(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_rounds: int = 64,
    check_every: int = 4,
    with_ancestors: bool = True,
) -> DataFrame:
    """(node, depth[, anc_bm]) for every node of a DAG edge set
    (child -> parent): depth = LONGEST path to any root (max-plus
    Bellman-Ford relaxation), anc_bm = BIGINT bitmap of all reachable
    ancestors (OR-fold) — the layer-relaxation production shape of
    `graph_dag_depth`'s path-doubling gate tier: per-round keyed
    shuffles only, NO (src, dst) closure materialized, memory
    O(|V| * label-width).

    Both lattices (MAX on depth, OR on the bitmap) are monotone and
    bounded on a DAG, so the joint fixpoint exists and is exact;
    rounds = the hierarchy depth.  With ``with_ancestors`` the labels
    must fit the single-BIGINT bitmap universe (< 63 — GUARDED with a
    loud error, because shiftleft wraps mod 64 and would corrupt
    bitmaps SILENTLY past that); at corpus scale the bitmap column
    widens to the bucketed-bitmap machinery (`agg_bitmap_distinct`) or
    an HLL — the relaxation is unchanged, and ``with_ancestors=False``
    runs the unbounded-universe depth-only relaxation.  Rounds capped
    with a LOUD error (a partial fixpoint under-reports silently
    otherwise); convergence probes batch ``check_every`` lazy hops per
    count.
    """
    if with_ancestors:
        [mx] = edges.select(
            F.greatest(F.max(child), F.max(parent)).alias("mx")
        ).collect()
        if mx.mx is not None and mx.mx >= 63:
            raise ValueError(
                f"dag_depth_frontier: label {mx.mx} exceeds the single-"
                "BIGINT bitmap universe (< 63) — shiftleft would wrap and "
                "corrupt ancestor sets silently.  Widen to the bucketed-"
                "bitmap representation (agg_bitmap_distinct machinery) or "
                "call with with_ancestors=False for depth-only."
            )
    anc_cols = (
        [
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({parent} AS INT))"
            ).alias("p_bit")
        ]
        if with_ancestors
        else []
    )
    e = edges.select(
        F.col(child).alias("c"), F.col(parent).alias("p"), *anc_cols
    ).localCheckpoint(eager=True)
    state_cols = [F.lit(0).cast("long").alias("anc_bm")] if with_ancestors else []
    state = (
        e.select(F.col("c").alias("node"))
        .unionByName(e.select(F.col("p").alias("node")))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("depth"), *state_cols)
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds // check_every):
        before = state
        for _ in range(check_every):
            cand = e.join(
                state.withColumnRenamed("node", "p"), on="p"
            ).select(
                F.col("c").alias("node"),
                (F.col("depth") + 1).alias("depth"),
                *(
                    [F.expr("anc_bm | p_bit").alias("anc_bm")]
                    if with_ancestors
                    else []
                ),
            )
            aggs = [F.max("depth").cast("long").alias("depth")] + (
                [F.expr("bit_or(anc_bm)").cast("long").alias("anc_bm")]
                if with_ancestors
                else []
            )
            state = state.unionByName(cand).groupBy("node").agg(*aggs)
        # stats_cut, not bare localCheckpoint: state feeds 2 branches per
        # hop x check_every hops between cuts (§stats-compounding rule)
        state = stats_cut(state)
        delta = F.col("__d") != F.col("depth")
        renamed = state.withColumnRenamed("depth", "__d")
        if with_ancestors:
            renamed = renamed.withColumnRenamed("anc_bm", "__b")
            delta = delta | (F.col("__b") != F.col("anc_bm"))
        changed = renamed.join(before, on="node").filter(delta).count()
        if changed == 0:
            return state
    raise RuntimeError(
        f"dag_depth_frontier: relaxation did not converge within "
        f"{max_rounds} rounds — hierarchy deeper than the cap; raise it."
    )


def bounded_shortest_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
) -> DataFrame:
    """(src, dst, d, sg) for every ordered pair within ``max_hops``:
    d = shortest directed distance, sg = the EXACT number of shortest
    paths — the shared distance table of the bounded-radius family
    (`graph_betweenness_bounded`, `graph_eccentricity_bounded`).

    Spark AGGREGATES walk counts per hop (W_{k+1} = W_k ⋈ A with a
    (src, dst)-keyed SUM — the matrix-power shape, O(L) keyed shuffles,
    never one row per walk); shortest-path count = walk count at the
    minimal hop, exact because a shortest walk cannot revisit a node.
    At corpus scale restrict ``src`` to a sampled source set
    (Brandes sampling) before calling — the per-hop join is keyed by
    the frontier endpoint either way.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    walks = e.select(
        "src", "dst", F.lit(1).alias("k"), F.lit(1).cast("long").alias("cnt")
    )
    frontier = walks
    for _ in range(max_hops - 1):
        frontier = (
            frontier.join(
                e.select(F.col("src").alias("dst"), F.col("dst").alias("nxt")),
                on="dst",
            )
            .groupBy("src", F.col("nxt").alias("dst2"), (F.col("k") + 1).alias("k2"))
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .select("src", F.col("dst2").alias("dst"), F.col("k2").alias("k"), "cnt")
            .localCheckpoint(eager=True)
        )
        walks = walks.unionByName(frontier)
    sigma_all = walks.groupBy("src", "dst", "k").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    dmin = (
        sigma_all.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("k").alias("d"))
    )
    return (
        sigma_all.join(dmin, on=["src", "dst"])
        .filter(F.col("k") == F.col("d"))
        .select("src", "dst", F.col("d").cast("long").alias("d"), F.col("cnt").alias("sg"))
    )


def betweenness_bounded(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
) -> DataFrame:
    """(node, betweenness_ppm, n_contribs): bounded-radius betweenness
    centrality over ``bounded_shortest_counts``'s distance table — per
    (s, t) pair the truncated integer 1e6·σ_sv·σ_vt DIV σ_st summed per
    v (order-independent ⇒ partition-proof), combined on the Brandes
    identity d_sv + d_vt = d_st.  Nodes on no shortest path report 0.
    """
    # stats_cut, not localCheckpoint: sigma feeds three join branches
    # (sv ⋈ vt ⋈ st_), the >2-branch shape of SCALE.md §stats-compounding
    sigma = stats_cut(bounded_shortest_counts(edges, src, dst, max_hops))
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    sv = sigma.select(
        F.col("src").alias("s"), F.col("dst").alias("v"),
        F.col("d").alias("d1"), F.col("sg").alias("sg1"),
    )
    vt = sigma.select(
        F.col("src").alias("v"), F.col("dst").alias("t"),
        F.col("d").alias("d2"), F.col("sg").alias("sg2"),
    )
    st_ = sigma.select(
        F.col("src").alias("s"), F.col("dst").alias("t"),
        F.col("d").alias("dst_d"), F.col("sg").alias("sg_st"),
    )
    contrib = (
        sv.join(vt, on="v")
        .filter(
            (F.col("s") != F.col("t"))
            & (F.col("v") != F.col("s"))
            & (F.col("v") != F.col("t"))
        )
        .join(st_, on=["s", "t"])
        .filter(F.col("dst_d") == F.col("d1") + F.col("d2"))
        .select(
            "v",
            F.expr("CAST(1000000 * sg1 * sg2 DIV sg_st AS BIGINT)").alias(
                "c_milli"
            ),
        )
    )
    return (
        nodes.join(contrib, nodes["node"] == contrib["v"], "left")
        .groupBy("node")
        .agg(
            F.coalesce(F.sum("c_milli"), F.lit(0))
            .cast("long")
            .alias("betweenness_ppm"),
            F.count("c_milli").cast("long").alias("n_contribs"),
        )
        .select(F.col("node").cast("long").alias("node"), "betweenness_ppm", "n_contribs")
    )


def dag_ancestors_bucketed(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_rounds: int = 64,
    check_every: int = 4,
    bucket_bits: int = 62,
) -> DataFrame:
    """(node, bucket, bm) — sparse bucketed-bitmap ancestor sets for an
    UNBOUNDED label universe: the widening `dag_depth_frontier` documents
    for labels >= 63 (its single-BIGINT `anc_bm` would silently wrap).
    Ancestor a of node v sets bit (a % bucket_bits) in v's bucket
    (a DIV bucket_bits) row; rows exist only for non-empty buckets, so
    state is O(Σ|ancestors| / bucket_bits) rows, never a dense matrix.

    Relaxation (monotone OR-lattice, exact fixpoint on a DAG): state
    starts as the direct-parent bits, then each round re-keys every
    parent-side bucket row across the edge set and bit_or-folds — one
    keyed shuffle join + one (node, bucket) aggregation per round,
    rounds = hierarchy depth, NO (src, dst) closure pairs materialized.
    ``bucket_bits`` stays below 63 so shiftleft never touches the
    BIGINT sign bit.  Bucket/bit decomposition is PURE INTEGER
    floor-division arithmetic (ADVICE r10): ``bit = pmod(id, b)`` in
    [0, b-1] and ``bucket = (id - pmod(id, b)) DIV b`` (exact — the
    numerator is divisible by b), so ids >= 2^53 never pass through a
    double and negative ids decompose consistently
    (id == bucket*b + bit) instead of feeding shiftleft a negative
    count.  Sole remaining edge: ids below LONG_MIN + bucket_bits would
    underflow the subtraction; real id universes (hashes, sequence
    ids) never live within 62 of LONG_MIN.  Convergence is probed
    every ``check_every`` hops
    (the `dag_depth_frontier` batching), capped with a LOUD error: a
    partial ancestor set would under-report LCAs silently.

    100 TB shape: per-round join keyed on the parent endpoint; bucket
    fan-out multiplies rows only by occupied buckets per node (ontology
    ancestor sets are tens-to-hundreds → 1-3 buckets).  Skewed hub
    ancestors salt like any hot join key.
    """
    if not 1 <= bucket_bits <= 62:
        raise ValueError("dag_ancestors_bucketed: bucket_bits must be in [1, 62]")
    e = edges.select(
        F.col(child).alias("c"), F.col(parent).alias("p")
    ).localCheckpoint(eager=True)
    bit = lambda col: F.expr(  # noqa: E731
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({col}, {bucket_bits}) AS INT))"
    )
    bucket = lambda col: F.expr(  # noqa: E731
        f"({col} - pmod({col}, {bucket_bits})) DIV {bucket_bits}"
    )
    state = (
        e.select(
            F.col("c").alias("node"),
            bucket("p").alias("bucket"),
            bit("p").alias("bm"),
        )
        .groupBy("node", "bucket")
        .agg(F.expr("bit_or(bm)").alias("bm"))
        .localCheckpoint(eager=True)
    )
    for _ in range(-(-max_rounds // check_every)):
        before = state
        for _ in range(check_every):
            cand = e.join(state.withColumnRenamed("node", "p"), on="p").select(
                F.col("c").alias("node"), "bucket", "bm"
            )
            state = (
                state.unionByName(cand)
                .groupBy("node", "bucket")
                .agg(F.expr("bit_or(bm)").alias("bm"))
            )
        # stats_cut per the §stats-compounding rule (2 branches/hop x
        # check_every hops between cuts)
        state = stats_cut(state)
        changed = (
            state.withColumnRenamed("bm", "__bm")
            .join(before, on=["node", "bucket"], how="left")
            .filter(F.col("bm").isNull() | (F.col("bm") != F.col("__bm")))
            .count()
        )
        if changed == 0:
            return state
    raise RuntimeError(
        "dag_ancestors_bucketed: relaxation did not converge within "
        f"{-(-max_rounds // check_every) * check_every} hops — hierarchy "
        "deeper than the cap; raise it."
    )


def lca_wu_palmer_bucketed(
    edges: DataFrame,
    pairs: DataFrame,
    child: str = "child",
    parent: str = "parent",
    bucket_bits: int = 62,
) -> DataFrame:
    """(n1, n2, d1, d2, lca_node, lca_depth, wup_milli) — the PRODUCTION
    LCA/Wu-Palmer path `graph_dag_lca_similarity` documents: common
    ancestors come from a bucket-aligned bitwise AND of the two terms'
    bucketed ancestor-or-self bitmaps (one codegen op per shared bucket),
    never from a pairs × closure join; only the AND's set bits ever
    become rows.  Depths from the depth-only `dag_depth_frontier`
    relaxation; LCA = deepest common ancestor, ties to MIN node id (the
    two-step exact reduction); Wu-Palmer = 2000·depth(lca) DIV (d1+d2),
    NULL for root-depth-0 pairs — identical contract to the gate tier,
    which is what the shared-oracle facet pins.

    ``pairs`` needs columns (n1, n2).
    """
    depths = dag_depth_frontier(
        edges, child, parent, with_ancestors=False
    ).localCheckpoint(eager=True)
    anc = dag_ancestors_bucketed(edges, child, parent, bucket_bits=bucket_bits)
    self_bits = depths.select(
        "node",
        F.expr(
            f"(node - pmod(node, {bucket_bits})) DIV {bucket_bits}"
        ).alias("bucket"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(node, {bucket_bits}) AS INT))"
        ).alias("bm"),
    )
    anc_or_self = (
        anc.unionByName(self_bits)
        .groupBy("node", "bucket")
        .agg(F.expr("bit_or(bm)").alias("bm"))
        .localCheckpoint(eager=True)
    )
    common_bm = (
        pairs.join(
            anc_or_self.select(
                F.col("node").alias("n1"), "bucket", F.col("bm").alias("bm1")
            ),
            on="n1",
        )
        .join(
            anc_or_self.select(
                F.col("node").alias("n2"), "bucket", F.col("bm").alias("bm2")
            ),
            on=["n2", "bucket"],
        )
        .select("n1", "n2", "bucket", F.expr("bm1 & bm2").alias("bm"))
        .filter(F.col("bm") != 0)
    )
    # only the set bits become rows: filter the 0..bucket_bits-1 positions
    # through the bitmap, then explode — O(common ancestors) rows per pair
    common = common_bm.select(
        "n1",
        "n2",
        F.explode(
            F.expr(
                f"filter(sequence(0, {bucket_bits - 1}),"
                " i -> (bm & shiftleft(CAST(1 AS BIGINT), i)) != 0)"
            )
        ).alias("_bit"),
        "bucket",
    ).select(
        "n1",
        "n2",
        (F.col("bucket") * bucket_bits + F.col("_bit")).alias("anc_node"),
    )
    common = common.join(
        depths.select(F.col("node").alias("anc_node"), F.col("depth").alias("anc_depth")),
        on="anc_node",
    )
    best = common.groupBy("n1", "n2").agg(
        F.max("anc_depth").alias("lca_depth"),
        F.min_by(F.col("anc_node"), F.struct(-F.col("anc_depth"), F.col("anc_node"))).alias(
            "lca_node"
        ),
    )
    return (
        pairs.join(
            depths.select(F.col("node").alias("n1"), F.col("depth").alias("d1")), on="n1"
        )
        .join(
            depths.select(F.col("node").alias("n2"), F.col("depth").alias("d2")), on="n2"
        )
        .join(best, on=["n1", "n2"], how="left")
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("d1").cast("long").alias("d1"),
            F.col("d2").cast("long").alias("d2"),
            F.col("lca_node").cast("long").alias("lca_node"),
            F.col("lca_depth").cast("long").alias("lca_depth"),
            F.when(
                F.col("lca_depth").isNotNull() & (F.col("d1") + F.col("d2") > 0),
                F.expr("CAST(2000 * lca_depth DIV (d1 + d2) AS BIGINT)"),
            ).alias("wup_milli"),
        )
    )


def dag_root_path_counts(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_rounds: int = 64,
) -> DataFrame:
    """(node, n_paths) — number of DISTINCT directed paths from each node
    to any root (a node with no parent), counted entirely in the
    AGGREGATE domain: the per-hop frontier carries (src, dst, cnt) with a
    (src, dst)-keyed SUM, root mass is peeled off each round, and the
    loop runs to frontier exhaustion with a LOUD cap (a silent partial
    count would under-report).  Path counts can be exponential in depth;
    frontier rows never exceed |V|² and are typically ~|V|·|frontier
    reachable| — counting one row per path is exactly what this operator
    exists to avoid.

    100 TB shape: per-round keyed join + map-side-combined partial sum;
    rounds = hierarchy depth (OBO ~20); localCheckpoint per round keeps
    lineage flat."""
    e = edges.select(F.col(child).alias("c"), F.col(parent).alias("p")).localCheckpoint(
        eager=True
    )
    nodes = (
        e.select(F.col("c").alias("node"))
        .unionByName(e.select(F.col("p").alias("node")))
        .distinct()
    )
    roots = nodes.join(
        e.select(F.col("c").alias("node")).distinct(), on="node", how="left_anti"
    ).select(F.col("node").alias("root"))
    frontier = e.select(
        F.col("c").alias("src"), F.col("p").alias("dst"), F.lit(1).cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    totals = None
    for _ in range(max_rounds):
        ended = frontier.join(
            F.broadcast(roots), frontier["dst"] == roots["root"]
        ).groupBy("src").agg(F.sum("cnt").cast("long").alias("n"))
        totals = ended if totals is None else (
            totals.unionByName(ended).groupBy("src").agg(
                F.sum("n").cast("long").alias("n")
            )
        )
        totals = totals.localCheckpoint(eager=True)
        frontier = (
            frontier.join(
                e.select(F.col("c").alias("dst"), F.col("p").alias("nxt")), on="dst"
            )
            .groupBy("src", F.col("nxt").alias("dst2"))
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .select("src", F.col("dst2").alias("dst"), "cnt")
            .localCheckpoint(eager=True)
        )
        if frontier.limit(1).count() == 0:
            break
    else:
        raise RuntimeError(
            f"dag_root_path_counts: frontier not exhausted within {max_rounds} "
            "hops — hierarchy deeper than the cap; raise it."
        )
    return nodes.join(
        totals.withColumnRenamed("src", "node"), on="node", how="left"
    ).select(
        F.col("node").cast("long").alias("node"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_paths"),
    )


def louvain_rounds(
    edges: DataFrame,
    n_rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic multi-round Louvain (Blondel et al. 2008) with
    locally-dominant move matching, plus ONE community-coarsening step —
    the full-algorithm extension of the `graph_louvain_move` primitive
    (which tables the ascent direction from singletons but deliberately
    applies nothing).

    Each round computes every node's best strictly-positive-gain move to a
    NEIGHBOR community using the exact integer modularity delta
    ``gain = 2m·(k_{i,c} − k_{i,d∖i}) − k_i·(Σ_c − Σ_d + k_i)``
    (= 2m²·ΔQ for moving i from its community d to c; from singletons this
    reduces to the single-move row's 2m·k_ic − k_i·k_c), then applies the
    LOCALLY-DOMINANT subset: a move is applied iff it carries the best
    (gain DESC, node ASC) key among ALL candidate moves touching either its
    source or its target community — the handshake matching of parallel
    graph algorithms (Manne–Bisseling; the device Grappolo-style distributed
    Louvain uses to batch moves safely).  Selected moves therefore touch
    pairwise-DISJOINT community sets, which makes their modularity deltas
    exactly additive (each community's membership and Σ_tot change through
    at most one move, so no −k_i·k_j cross term between movers is ever
    dropped) — every round strictly increases Q while any positive-gain
    move exists, the monotonicity textbook synchronous application loses.
    Tie-breaks are total (gain DESC, target ASC per node; gain DESC, node
    ASC per community key), so the trajectory is a pure function of the
    graph — hash-gateable, and the whole fixed-round computation unrolls to
    a chained-CTE oracle (the `label_propagation`/`kcore` doctrine).

    After the final round, ONE coarsening step re-aggregates the graph at
    community grain (the supervertex construction that feeds Louvain's next
    level): per final community the node count, degree mass Σ_c, internal
    edge count e_c (the supervertex self-loop weight), external cut degree
    (Σ_c − 2e_c, the inter-supervertex edge mass), and the exact per-
    community modularity numerator ``q_num_part = 4m·e_c − Σ_c²`` — summing
    to 4m²·Q, so the gate carries the achieved modularity exactly.

    Scale shape: per round one edge-grain census join (k_ic: edges × the
    O(V) community frame, keyed on the endpoint), one O(V) degree/Σ agg,
    two window argmaxes over O(V) candidate rows, and an O(V) label update
    — nothing edge-squared; the edge list is prepared once and
    localCheckpointed, community frames localCheckpoint every round (they
    are O(V) and the lineage would otherwise double per round).
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a") != F.col("b"))
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .repartition("b")
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    m_tot = und.filter(F.col("a") < F.col("b")).agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    comm = deg.select("v", F.col("v").alias("c"))
    comm = _louvain_move_loop(
        und.select("a", "b", F.lit(1).cast("long").alias("w")),
        deg,
        m_tot,
        comm,
        n_rounds,
    )
    return _louvain_summary(und.select("a", "b"), deg, m_tot, comm)


def stats_cut(df: DataFrame) -> DataFrame:
    """Truncate lineage AND statistics through a self-cleaning parquet
    round-trip + localCheckpoint.

    Spark 4.x ``Dataset.localCheckpoint`` carries the pre-checkpoint
    plan's COMPUTED ``sizeInBytes`` onto the new leaf
    (``LogicalRDD.rewriteStatsAndConstraints``).  In an iterative loop
    whose per-round plan joins ~10 frames, those carried sizes MULTIPLY
    round over round — the estimate's bit-length grows exponentially,
    and by round ~6 every stats walk spends minutes in
    ``BigInteger.multiply`` ON THE DRIVER (measured: 80+ s per round,
    zero active executor jobs).  A parquet scratch round-trip resets the
    leaf statistics to the real file size; the immediate eager
    localCheckpoint of the fresh scan pins the blocks in the block
    manager so the scratch directory can be deleted before returning —
    no leaked files, no lineage, no compounding stats.

    Two modes:

    - **Default (LOCAL/local-cluster shaped)**: the scratch lives under a
      driver-local ``tempfile.mkdtemp`` path and is deleted right after
      the eager localCheckpoint, which assumes (a) driver and executors
      share one filesystem, and (b) the pinned block-manager blocks never
      need the recompute fallback.
    - **Shared-root (multi-node shaped)**: set ``SPARK_GRAFT_STATS_CUT_DIR``
      to a shared-filesystem URI (HDFS/S3A/NFS) and each cut writes a
      unique subdirectory there and returns the plain parquet scan — the
      files ARE the reliable materialization (recompute fallback = re-read
      them), nothing is deleted mid-job, and the job owner clears the root
      after the consuming action (the same lifecycle as a checkpoint dir).

    Measured warning (round 14): ``Dataset.checkpoint`` with a reliable
    ``setCheckpointDir`` is NOT a substitute — Spark 4.x routes both
    checkpoint flavors through ``LogicalRDD.rewriteStatsAndConstraints``,
    so reliable checkpoints carry the compounded estimate exactly like
    local ones (measured 32 → 90 → 263 bits over three 3-branch rounds).
    The parquet round-trip is the only stats reset.
    """
    import os
    import shutil
    import tempfile
    import uuid

    shared_root = os.environ.get("SPARK_GRAFT_STATS_CUT_DIR")
    if shared_root:
        path = shared_root.rstrip("/") + "/stats_cut_" + uuid.uuid4().hex
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    root = tempfile.mkdtemp(prefix="stats_cut_")
    df.write.mode("overwrite").parquet(root + "/d")
    out = df.sparkSession.read.parquet(root + "/d").localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


def _louvain_move_loop(wund, deg, m_tot, comm, n_rounds):
    """The weighted locally-dominant move rounds shared by
    :func:`louvain_rounds` (unit weights) and :func:`louvain_two_level`
    (supervertex weights): ``wund`` is the symmetric self-loop-free
    weighted edge list (a, b, w); ``deg`` the strength frame (v, k) —
    for supervertices k includes 2× the self-loop weight; gains use the
    weighted exact-integer formula 2m·(w_ic − w_i,d∖i) − k_i·(Σ_c − Σ_d
    + k_i)."""
    for _ in range(n_rounds):
        # sig and kic are each consumed more than once per round; cutting
        # their plans keeps every downstream join a plain shuffled/broadcast
        # equi-join — the uncut composition was measured planning the
        # k_own lookup as a nested-loop (98 s vs 0.4 s on the gate graph).
        # kic's materialization is the per-round edge-census cost every
        # distributed Louvain pays; sig is O(communities).
        sig = comm.join(deg, on="v").groupBy("c").agg(
            F.sum("k").cast("long").alias("sig")
        )
        kic = (
            wund.join(comm.select(F.col("v").alias("b"), "c"), on="b")
            .groupBy(F.col("a").alias("i"), "c")
            .agg(F.sum("w").cast("long").alias("k_ic"))
        )
        own = comm.select(F.col("v").alias("i"), F.col("c").alias("d"))
        # k_{i, d∖i} (weight into OWN community) via a per-node window over
        # the census — one pass, no kic self-join
        w_own = Window.partitionBy("i")
        cand = (
            kic.join(own, on="i")
            .withColumn(
                "k_own",
                F.max(F.when(F.col("c") == F.col("d"), F.col("k_ic"))).over(w_own),
            )
            .filter(F.col("c") != F.col("d"))
            .join(deg.select(F.col("v").alias("i"), F.col("k").alias("ki")), on="i")
            .join(
                F.broadcast(sig.select(F.col("c"), F.col("sig").alias("sig_t"))),
                on="c",
            )
            .join(
                F.broadcast(sig.select(F.col("c").alias("d"), F.col("sig").alias("sig_d"))),
                on="d",
            )
            .crossJoin(F.broadcast(m_tot))
            .select(
                "i",
                "d",
                F.col("c").alias("tgt"),
                (
                    F.lit(2)
                    * F.col("m")
                    * (F.col("k_ic") - F.coalesce(F.col("k_own"), F.lit(0)))
                    - F.col("ki")
                    * (F.col("sig_t") - F.col("sig_d") + F.col("ki"))
                ).alias("gain"),
            )
            .filter(F.col("gain") > 0)
        )
        w_i = Window.partitionBy("i").orderBy(F.col("gain").desc(), F.col("tgt").asc())
        # best is consumed THREE times (keyed expansion, and twice in sel);
        # without a cut each consumer re-evaluates the whole cand DAG
        # (~10 exchanges) — measured 3× the round cost at level 2.  It is
        # O(V) rows, so the materialization is cheap at any scale.
        best = (
            cand.withColumn("_rn", F.row_number().over(w_i))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        keyed = best.select(F.col("d").alias("key_c"), "i", "gain").unionByName(
            best.select(F.col("tgt").alias("key_c"), "i", "gain")
        )
        w_c = Window.partitionBy("key_c").orderBy(
            F.col("gain").desc(), F.col("i").asc()
        )
        win = (
            keyed.withColumn("_rn", F.row_number().over(w_c))
            .filter(F.col("_rn") == 1)
            .select("key_c", F.col("i").alias("win_i"))
        )
        sel = (
            best.join(
                win.select(F.col("key_c").alias("d"), F.col("win_i").alias("wd")),
                on="d",
            )
            .filter(F.col("wd") == F.col("i"))
            .join(
                win.select(F.col("key_c").alias("tgt"), F.col("win_i").alias("wt")),
                on="tgt",
            )
            .filter(F.col("wt") == F.col("i"))
            .select(F.col("i").alias("v"), F.col("tgt").alias("new_c"))
        )
        # stats_cut, not localCheckpoint: comm is the frame that
        # RECURSES across rounds, so carried statistics would compound
        # exponentially through it (see the helper's docstring)
        comm = stats_cut(
            comm.join(sel, on="v", how="left").select(
                "v", F.coalesce(F.col("new_c"), F.col("c")).alias("c")
            )
        )
    return comm


def _louvain_summary(und, deg, m_tot, comm):
    """Per-community supervertex summary over the ORIGINAL unit-weight
    graph (the gated face of both Louvain depths)."""
    raw_u = und.filter(F.col("a") < F.col("b"))
    internal = (
        raw_u.join(comm.select(F.col("v").alias("a"), "c"), on="a")
        .join(
            comm.select(F.col("v").alias("b"), F.col("c").alias("cb")), on="b"
        )
        .filter(F.col("c") == F.col("cb"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    summary = (
        comm.join(deg, on="v")
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("k").cast("long").alias("sum_deg"),
        )
    )
    return (
        summary.join(internal, on="c", how="left")
        .crossJoin(F.broadcast(m_tot))
        .select(
            F.col("c").cast("long").alias("community"),
            "n_nodes",
            "sum_deg",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("long").alias("internal_edges"),
            (F.col("sum_deg") - 2 * F.coalesce(F.col("e_c"), F.lit(0)))
            .cast("long")
            .alias("external_edges"),
            (
                F.lit(4) * F.col("m") * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("sum_deg") * F.col("sum_deg")
            )
            .cast("long")
            .alias("q_num_part"),
        )
    )


def louvain_two_level(
    edges: DataFrame,
    n_rounds1: int,
    n_rounds2: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """TWO-LEVEL deterministic Louvain — the full iterate → coarsen →
    repeat structure of Blondel et al. 2008 on top of
    :func:`louvain_rounds` (which runs one level + the coarsening):
    after ``n_rounds1`` unit-weight move rounds, communities collapse
    into supervertices (inter-community edge weights + self-loop
    weights), and ``n_rounds2`` WEIGHTED move rounds run on the
    supergraph — the same locally-dominant handshake matching, with
    strengths k_i = Σ_j w(i,j) + 2·w(i,i) and weighted gains.  Merging
    two supervertices changes Q on the ORIGINAL graph by exactly the
    weighted gain (the standard Louvain coarsening identity), so level-2
    modularity still strictly ascends per round and the final partition
    is ≥ level-1's (pinned by test).

    Output: the same per-community supervertex summary as
    :func:`louvain_rounds`, computed over the original unit-weight
    graph under the COMPOSED assignment v → level1(v) → level2(level1).

    Scale shape: level 1 is `louvain_rounds`'s shape; the coarsening is
    two keyed joins + two community-grain aggs; level 2 runs on the
    supergraph (orders of magnitude smaller — the whole point of
    coarsening), so its rounds are nearly free at any corpus size.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a") != F.col("b"))
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .repartition("b")
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    m_tot = und.filter(F.col("a") < F.col("b")).agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    comm1 = _louvain_move_loop(
        und.select("a", "b", F.lit(1).cast("long").alias("w")),
        deg,
        m_tot,
        deg.select("v", F.col("v").alias("c")),
        n_rounds1,
    )
    # ---- coarsen: weighted supergraph over level-1 communities
    raw_u = und.filter(F.col("a") < F.col("b"))
    mapped = raw_u.join(
        comm1.select(F.col("v").alias("a"), F.col("c").alias("ca")), on="a"
    ).join(comm1.select(F.col("v").alias("b"), F.col("c").alias("cb")), on="b")
    inter = mapped.filter(F.col("ca") != F.col("cb"))
    wund2 = (
        inter.select(F.col("ca").alias("a"), F.col("cb").alias("b"))
        .unionByName(inter.select(F.col("cb").alias("a"), F.col("ca").alias("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint(eager=True)
    )
    selfw = (
        mapped.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("sw"))
    )
    verts2 = (
        comm1.select(F.col("c").alias("v")).distinct().localCheckpoint(eager=True)
    )
    strength2 = (
        verts2.join(
            wund2.groupBy(F.col("a").alias("v")).agg(
                F.sum("w").cast("long").alias("kw")
            ),
            on="v",
            how="left",
        )
        .join(selfw, on="v", how="left")
        .select(
            "v",
            (
                F.coalesce(F.col("kw"), F.lit(0))
                + 2 * F.coalesce(F.col("sw"), F.lit(0))
            )
            .cast("long")
            .alias("k"),
        )
        # strength2 is referenced 4× per level-2 round — cut its plan once
        .localCheckpoint(eager=True)
    )
    comm2 = _louvain_move_loop(
        wund2,
        strength2,
        m_tot,
        verts2.select("v", F.col("v").alias("c")),
        n_rounds2,
    )
    composed = (
        comm1.join(
            comm2.select(F.col("v").alias("c"), F.col("c").alias("c2")), on="c"
        )
        .select("v", F.col("c2").alias("c"))
        .localCheckpoint(eager=True)
    )
    return _louvain_summary(und.select("a", "b"), deg, m_tot, composed)


def coreness_bounded(
    edges: DataFrame,
    k_cap: int,
    inner_rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core DECOMPOSITION: every vertex's coreness (the largest
    k whose k-core contains it), capped at ``k_cap`` — the full-algorithm
    extension of :func:`kcore_vertices` (which answers membership for ONE
    k), and the standard curation dial ("keep coreness ≥ k entities"):
    one number per vertex replaces a k-by-k sweep of membership queries.

    Levels run k = 1..k_cap; each level peels ``inner_rounds`` fixed
    rounds of drop-degree-below-k (callers pin that an extra round
    changes nothing — the kcore fixpoint doctrine); vertices removed
    DURING level k survived the (k−1)-core but not the k-core, so their
    coreness is k−1; survivors of level ``k_cap`` report ``k_cap`` (the
    "k_cap+" bucket — coreness beyond the cap is deliberately not
    resolved, which keeps the level count, and with it the unrolled
    oracle, bounded).

    Scale shape: per inner round one degree aggregate over the live edge
    list + one double semi-join (3 keyed shuffles, nothing wider than
    live edges); the live frame is stats-cut once per LEVEL (it feeds 3
    joins per round — the Spark 4.x carried-sizeInBytes compounding
    documented in SCALE.md §stats-compounding); removed sets are O(V)
    anti-joins.  Total work ≈ k_cap × inner_rounds peel rounds, each on
    a shrinking edge list.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    live = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out = None
    for k in range(1, k_cap + 1):
        before = live.select(F.col("src").alias("v")).distinct()
        for _ in range(inner_rounds):
            deg = live.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            keep = deg.filter(F.col("deg") >= k).select(F.col("src").alias("v"))
            live = live.join(
                keep.select(F.col("v").alias("src")), on="src"
            ).join(keep.select(F.col("v").alias("dst")), on="dst")
        live = stats_cut(live.select("src", "dst"))
        after = live.select(F.col("src").alias("v")).distinct()
        removed = before.join(after, on="v", how="left_anti").select(
            "v", F.lit(k - 1).cast("long").alias("coreness")
        )
        out = removed if out is None else out.unionByName(removed)
    survivors = live.select(F.col("src").alias("v")).distinct().select(
        "v", F.lit(k_cap).cast("long").alias("coreness")
    )
    return out.unionByName(survivors)
