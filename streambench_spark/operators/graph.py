"""Iterative graph operators.

Connected components is the canonical follow-on to near-dup pair
generation: dedup groups ARE the components of the pair graph, and the
canonical document of a group is its minimum doc_id.

Scale posture: min-label propagation converges in O(component diameter)
rounds — near-dup clusters are shallow (a dup cluster's pair graph is
dense), so a handful of rounds suffices; each round is one join + one
aggregate, both shuffled on the node id, and the label frame is
localCheckpoint()ed to truncate lineage (without it, round k's plan
re-executes rounds 1..k-1). For adversarially long chains at 100 TB the
same loop upgrades to the large-star/small-star decomposition
(O(log n) rounds, same per-round plan shape); the loop structure,
convergence test, and checkpointing here carry over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component label is the minimum node id reachable from the node.

    Each round: every node adopts min(own label, neighbors' labels).
    Terminates when a round changes nothing (checked with a count — ONE
    action per round: the per-round frames are LAZY localCheckpoints, so
    the convergence count is also the job that materializes them; an
    eager checkpoint would add a second full pass over the node frame
    per round just to store it, then re-read it for the count. The
    per-round dataset is one row per node, NOT per edge).
    """
    # checkpoint the edge list once — without this, every round's join
    # AND convergence count re-executes the upstream edge computation
    # (for neardup_clusters that is the whole Jaccard pipeline per round).
    # sym is LAZY: the labels init below references it exactly once, so
    # that one eager job materializes both frames. labels must stay
    # EAGER: round 1's count references it twice (nbr_min + proposed
    # joins), and a lazy checkpoint referenced twice inside its own
    # materializing job runs both map stages concurrently — duplicating
    # the compute instead of reading stored blocks.
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("a").alias("node")).distinct().withColumn("comp", F.col("node"))
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("b"), F.col("comp").alias("bcomp")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("bcomp").alias("nbr_min"))
            .withColumnRenamed("a", "node")
        )
        proposed = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("_old"),
            )
        ).localCheckpoint(eager=False)
        changed = proposed.filter(F.col("comp") != F.col("_old")).count()
        labels = proposed.drop("_old")
        if changed == 0:
            converged = True
            break
    if not converged:
        # a silently-unconverged label frame is a wrong answer, not a
        # partial one; long-diameter graphs belong on the star variant
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the iteration budget) — use "
            "connected_components_star (O(log n) rounds on any topology)"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) by LARGE-STAR / SMALL-STAR alternation — the
    O(log n)-round connected components of Kiveris et al., "Connected
    Components in MapReduce and Beyond" (SOCC 2014) — the scale upgrade
    the min-label loop's docstring points long-diameter graphs at: a
    path graph converges in ~log n alternations where min-label needs
    diameter rounds (one hop per round).

    Per alternation, with Γ(u) the current undirected neighborhood and
    m(u) = min(Γ(u) ∪ {u}):
      large-star: for v ∈ Γ(u), v > u  → edge (v, m(u))
      small-star: for v ∈ Γ(u) ∪ {u}, v ≤ u, v ≠ m(u) → edge (v, m(u))
    Both preserve connectivity and strictly shrink star heights; at the
    fixed point every edge is (member, component-min). Each operation is
    one node-keyed aggregate (the neighborhood min) + one node-keyed
    join back to the edges — the same bounded per-round plan shape as
    min-label/PageRank — with localCheckpoint lineage truncation;
    convergence = the (count, xxhash64-sum) signature of the edge set
    repeating, one tiny action per round.
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # nodes whose ONLY edges are self-loops vanish from the u != v frame;
    # keep the full node set so they come back as singleton components
    # (matching the min-label twin, which labels them with themselves)
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _sym(frame: DataFrame) -> DataFrame:
        return frame.unionByName(
            frame.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _mins(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    def _signature(frame: DataFrame):
        # hash-sum as decimal: a long sum of xxhash64 values overflows,
        # which ANSI mode (the Spark 4 default) turns into an error
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = _signature(e)
    for _ in range(max_iter):
        sym = _sym(e)
        # large-star: strictly-larger neighbors hook onto u's minimum
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(_mins(sym), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # EAGER: the small-star job references this frame 2x (both _sym
        # legs) and 2x more through mins — a lazy checkpoint would let the
        # concurrent map stages duplicate the large-star join compute
        e = large.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True)
        sym = _sym(e)
        # small-star: u and its not-larger neighbors hook onto the minimum.
        # Materialize the neighborhood-min frame ONCE — both union legs
        # read it, and Spark does not share the groupBy subtree across
        # legs, so an inline _mins(sym) would run the dominant aggregate
        # twice per alternation.
        mins = _mins(sym).localCheckpoint(eager=True)
        small_nbrs = (
            sym.filter(F.col("v") <= F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        small_self = mins.select(F.col("u"), F.col("m").alias("v"))
        e = (
            small_nbrs.unionByName(small_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # LAZY: the signature below is this frame's only reference
            # until it is materialized — the signature job doubles as
            # the materialization, saving one pass per alternation
            .localCheckpoint(eager=False)
        )
        new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "alternations"
        )
    # fixed point: e is (member, root) stars; roots label themselves,
    # and edge-less nodes (self-loop-only inputs) are their own component
    labeled = e.select(
        F.col("u").alias("node"), F.col("v").alias("comp")
    ).unionByName(
        e.select(F.col("v").alias("node"), F.col("v").alias("comp")).distinct()
    )
    singletons = all_nodes.join(
        labeled.select("node").distinct(), "node", "left_anti"
    ).select("node", F.col("node").alias("comp"))
    return labeled.unionByName(singletons)


def pagerank_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    scale: int = 1_000_000,
    checkpoint: bool = True,
    broadcast_max_nodes: int = 4_000_000,
) -> DataFrame:
    """Scaled-integer PageRank (damping 0.85), bit-exact across engines.

    Ranks live in integer micro-units (``scale`` = 1.0): per round,
    contribution = rank DIV out-degree, new rank = 0.15·scale +
    (85 · Σ contributions) DIV 100 — all integer arithmetic, so any
    engine (and the DuckDB oracle) reproduces the values exactly; float
    PageRank differs in the last bits across summation orders.

    The graph is held once, as a node-keyed adjacency frame
    ``adj(a, nb, deg)``: the distinct symmetrized neighbours of each
    node in one array and ``deg = size(nb)``. ``collect_set`` drops
    duplicate edges (either orientation) in the aggregate's own shuffle,
    so callers pass edges as they come, duplicates included. It is the
    only checkpoint: one row per node and one array element per directed
    edge (8 bytes), against one deserialized row per directed edge for
    an edge-list checkpoint.

    Per round: ``adj`` ⋈ ranks on the node id → ``explode(nb)``
    carrying ``pr DIV deg`` → sum per neighbour (the round's one
    shuffle, keyed on the exploded node id) → ranks rebuilt over
    ``adj``'s node set. Fixed iteration count (the classic 100 TB
    posture: ranks converge to working precision in a handful of
    rounds; exactness makes runs reproducible and testable).

    Trade-off of per-node arrays: a hub's whole neighbour list is one
    row, so its explode runs in one task and its array must fit in one
    row (under 2^31 elements); an edge-row layout spreads a hub over
    tasks. The co-purchase graph's degrees are bounded by basket sizes.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    adj = (
        sym.groupBy("a").agg(F.collect_set("b").alias("nb"))
        .withColumn("deg", F.size("nb"))
        .localCheckpoint()
    )
    # Broadcast the node-sized rank frame into the per-round adjacency
    # join when the node count fits (guide §3.1): the adjacency frame is
    # then never shuffled by the join (one shuffle per round, the
    # contribution aggregate), and the node-sized rank rebuild join goes
    # broadcast too. Guarded by an exact count on the checkpointed
    # adjacency frame so a 100 TB graph whose node set cannot broadcast
    # falls back to the per-round SMJ unchanged. Ranks verified
    # identical under both strategies.
    n_nodes = adj.count()
    bcast = n_nodes <= broadcast_max_nodes
    nodes = adj.select("a")
    ranks = nodes.select("a", F.lit(scale).cast("long").alias("pr"))
    base = F.lit((15 * scale) // 100).cast("long")
    for _ in range(iterations):
        rside = F.broadcast(ranks) if bcast else ranks
        contrib = (
            adj.join(rside, "a")
            .select("nb", F.expr("pr DIV deg").alias("c"))
            .select(F.explode("nb").alias("b"), "c")
            .groupBy(F.col("b").alias("a"))
            .agg(F.sum("c").alias("s"))
        )
        cside = F.broadcast(contrib) if bcast else contrib
        ranks = nodes.join(cside, "a", "left").select(
            "a",
            (base + F.expr("85 * coalesce(s, 0L) DIV 100").cast("long")).alias("pr"),
        )
        if checkpoint:
            # truncate lineage so round k's plan doesn't re-execute 1..k-1
            # when the CALLER runs actions between rounds (convergence
            # counts, incremental publishes) or chains many rounds. For a
            # fixed small iteration count consumed by ONE action, pass
            # checkpoint=False: the unrolled lineage executes once and the
            # per-round materialization jobs disappear (r15 measured
            # 27 → 18 jobs on the copurchase graph, identical ranks).
            # checkpoint=False also exposes one round's plan for shape
            # tests.
            ranks = ranks.localCheckpoint()
    return ranks.select(F.col("a").alias("node"), "pr")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    distinct (src, dst) edges with src < dst.

    Enumeration uses the degree-ordered orientation (each undirected
    edge points from its lower-(degree, id) endpoint): every wedge
    (u→v, u→w) then closes into a triangle at most once, and — the scale
    property — the wedge join fans out per node by its ORIENTED
    out-degree, which is O(sqrt(|E|)) even for celebrity nodes
    (Schank & Wagner 2005), instead of the raw degree's quadratic blowup.
    The triangle SET is orientation-independent, so a plain id-ordered
    enumeration (the correctness oracle) yields identical counts.

    Shape: degree aggregate → two hash joins to stamp endpoint degrees →
    per-node oriented adjacency arrays → two node-keyed joins to put both
    endpoints' arrays on each edge → row-local array_intersect. Every
    join is an equi-join on a node id; nothing is broadcast (the degree
    frame is node-cardinality); per-node state is the oriented neighbor
    array, bounded by the orientation's O(sqrt E) out-degree.
    """
    deg = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    stamped = (
        edges.join(deg.select(F.col("n").alias("src"), F.col("deg").alias("ds")), "src")
        .join(deg.select(F.col("n").alias("dst"), F.col("deg").alias("dd")), "dst")
    )
    oriented = stamped.select(
        F.when(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
            F.struct(
                F.col("src").alias("u"), F.col("dst").alias("v"),
                F.col("dd").alias("dv"),
            ),
        )
        .otherwise(
            F.struct(
                F.col("dst").alias("u"), F.col("src").alias("v"),
                F.col("ds").alias("dv"),
            )
        )
        .alias("e")
    ).select("e.u", "e.v")
    # Adjacency-intersection enumeration (no wedge materialization): a
    # triangle's oriented form is u→v, u→w, v→w, so at edge (u, v) the
    # third corners are exactly N+(u) ∩ N+(v). Materializing wedges
    # costs sum(outdeg²) rows (~300M on the sf0.1 co-purchase graph —
    # measured, 18 s); intersecting per-edge neighbor ARRAYS costs
    # sum over edges of (outdeg_u + outdeg_v) with bounded arrays
    # (outdeg ≤ O(sqrt E) under the degree orientation) — one
    # collect_list per node, two node-keyed joins, row-local intersect.
    adj = oriented.groupBy("u").agg(
        F.array_sort(F.collect_list("v")).alias("nbrs")
    ).localCheckpoint(eager=True)
    # ^ the adjacency frame is the most-reused derived frame (both the
    # nu and nv joins read it) and the most expensive to rebuild (degree
    # aggregate + two stamping joins + collect_list). AQE runtime stage
    # reuse dedups the repeated EXCHANGES but not the aggregate above
    # them; materializing the node-keyed arrays once (O(|E|) total
    # elements — each oriented edge sits in exactly one array, the same
    # magnitude as pagerank's checkpointed sym frame) measured
    # 6.39 -> 4.57 s median (4 interleaved reps, sf0.1, r16) with
    # identical counts. EAGER on purpose: the frame is referenced twice
    # by its consuming job, and a lazy checkpoint read twice inside its
    # own materializing job duplicates the upstream compute instead
    # (the r15 connected-components doctrine). An edge-frame checkpoint
    # (r15) measured SLOWER — the win is storing the aggregate, not the
    # edges.
    e2 = (
        oriented.select("u", "v")
        .join(adj.select(F.col("u"), F.col("nbrs").alias("nu")), "u")
        .join(
            adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv")),
            "v",
            "left",
        )
        .select(
            "u", "v",
            F.array_intersect(
                F.col("nu"), F.coalesce(F.col("nv"), F.expr("array()"))
            ).alias("ws"),
        )
        .filter(F.size("ws") > 0)
    )
    # one corner pass: a UNION of three projections re-executes the whole
    # edge pipeline per branch (Spark doesn't share the subtree); instead
    # build each edge's corner contributions as one array and explode it
    corners = e2.select(
        F.explode(
            F.concat(
                F.expr(
                    "array(struct(u AS node, size(ws) AS c), "
                    "struct(v AS node, size(ws) AS c))"
                ),
                F.expr("transform(ws, w -> struct(w AS node, 1 AS c))"),
            )
        ).alias("x")
    ).select("x.node", "x.c")
    return corners.groupBy("node").agg(
        F.sum("c").cast("long").alias("n_triangles")
    )
