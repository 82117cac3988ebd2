"""Graph analytics over edge lists (dedup/similarity graphs).

Connected components (dedup.connected_components) answers "which docs
form one duplicate cluster"; triangle enumeration answers the next
question — how DENSE a neighborhood is (a near-dup cluster that is a
clique is a true duplicate family; a chain of borderline pairs is not).

Scale notes
-----------
``triangle_enumerate`` is two hash joins over the edge list.  With
canonical ordering (src < dst) every triangle {a,b,c} materializes
exactly once as (a,b)·(b,c)·(a,c) — no post-dedup pass.  Join fan-out
is Σ deg(v)² over wedge centers, the standard bound; at scale the skew
lever is degree-capping (drop super-node vertices above a degree cutoff
before joining — they are almost never meaningful near-dup structure,
and the cap turns the worst case into a constant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed ``(src, dst)`` edge list:

        r_{t+1}(v) = (1-d)/N + d * sum_{u->v} r_t(u) / outdeg(u)

    starting from the uniform vector r_0 = 1/N.  This is the simple
    power-iteration variant WITHOUT dangling-mass redistribution (a
    vertex with no out-edges lets its mass decay) — deterministic,
    closed-form per iteration, and therefore replayable by the SQL
    oracle with unrolled CTEs.

    Output: ``(v, rank)`` for every vertex.

    Scale design: the iteration count is a compile-time constant, so
    the loop UNROLLS into one lazy DAG — per iteration one shuffle
    join (edges x ranks on the source vertex) and one hash aggregate
    on the destination; N and the (1-d)/N base term come from a
    broadcast scalar-aggregate cross join (no driver-side count()
    action, AQE-friendly).  Degree skew on popular vertices is
    map-side-combined by the partial aggregation; for power-law graphs
    cap super-nodes upstream like ``triangle_enumerate`` does.

    The iteration invariants — edge list, vertex set, out-degrees —
    are lazily checkpointed, so each is computed ONCE instead of once
    per unrolled iteration leg (the
    standard persist-the-graph discipline of iterative algorithms;
    without it the edge-list derivation re-executes ~2x per iteration
    and the plan tree grows multiplicatively).  Lazy checkpoints run
    no job at plan-construction time.

    Shuffle shape (r13, guide §2.4/§3.1): ``broadcast_ranks=True`` makes
    every per-iteration join a broadcast hash join — the rank vector
    (|V| rows of 16 bytes) and the out-degree table ship as broadcast
    build sides, so the |E|-sized edge list is NEVER shuffled and each
    iteration runs with ONE exchange (the map-side-combined
    contribution aggregate).  Use it when |V| is broadcast-sized
    (vertex dimension tables, id universes ≤ tens of millions); for
    graphs whose vertex set itself is TB-scale leave it False — the
    joins then shuffle both sides per unrolled leg (a pre-partition
    does not survive the checkpoint: LogicalRDD re-surfaces with
    UnknownPartitioning, verified r13).
    """
    # NULL endpoints can never receive or contribute mass (joins skip
    # them) but WOULD otherwise surface as a phantom NULL vertex in the
    # output — drop them up front
    e = edges.select(F.col("src").alias("__s"), F.col("dst").alias("__d")).dropna()
    e = e.localCheckpoint(eager=False)
    verts = (
        e.select(F.col("__s").alias("v"))
        .unionAll(e.select(F.col("__d").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n1 = verts.agg(F.count("*").alias("__n"))
    verts_n = verts.crossJoin(F.broadcast(n1))
    outdeg = e.groupBy("__s").agg(F.count("*").alias("__deg"))
    if broadcast_ranks:
        outdeg = F.broadcast(outdeg)
    # edges annotated with their source's out-degree are an iteration
    # INVARIANT — join once outside the loop (and checkpoint it) so
    # each unrolled iteration pays one join (edges x ranks), not two
    e_deg = e.join(outdeg, "__s").localCheckpoint(eager=False)
    ranks = verts_n.select("v", (F.lit(1.0) / F.col("__n")).alias("rank"))
    base = 1.0 - damping
    for _ in range(iterations):
        r = ranks.withColumnRenamed("v", "__s")
        if broadcast_ranks:
            r = F.broadcast(r)
        contrib = (
            e_deg.join(r, "__s")
            .select(
                F.col("__d").alias("v"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
        )
        summed = contrib.groupBy("v").agg(F.sum("__c").alias("__in"))
        if broadcast_ranks:
            summed = F.broadcast(summed)
        ranks = verts_n.join(summed, "v", "left").select(
            "v",
            (
                F.lit(base) / F.col("__n")
                + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks


def triangle_enumerate(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_degree: int | None = None
) -> DataFrame:
    """All triangles (a, b, c) with a<b<c from a canonically-ordered
    edge list (requires ``src < dst`` per row AND distinct rows, as the
    pair operators emit).  Optional ``max_degree`` drops super-node
    vertices first — the skew cap for power-law graphs.

    Algorithm (r13, guide §2.3/§2.4 — "compact-forward" adjacency
    intersection instead of the wedge self-join): with canonical
    ordering, fwd(x) = {y : (x,y) ∈ E} holds exactly x's GREATER
    neighbors, and the triangles through edge (a,b) are precisely
    fwd(a) ∩ fwd(b) — each triangle {a<b<c} materializes exactly once,
    same set as the former e1⋈e2⋈e3 plan.  The former plan shuffled
    the Σ deg(v)² wedge TABLE into a second join (the dominant exchange
    — at sf0.1 the basket graph makes ~10⁸ wedge rows from ~10⁶ edges);
    this plan shuffles only |E| adjacency rows (one groupBy + two
    id-keyed joins, the fwd exchange reused across both) and intersects
    per edge inside the stage — the wedge table never exists, no
    exchange ever carries it.  Per-edge intersection cost is
    O(deg(a)+deg(b)), the same Σ deg² arithmetic as before, now done
    in-memory per task instead of through a shuffle."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if max_degree is not None:
        deg = (
            e.select(F.col("u").alias("x"))
            .unionAll(e.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") <= max_degree)
        )
        e = (
            e.join(deg.select(F.col("x").alias("u")), "u")
            .join(deg.select(F.col("x").alias("v")), "v")
            .select("u", "v")
        )
    fwd = e.groupBy(F.col("u").alias("x")).agg(F.collect_list("v").alias("nbrs"))
    return (
        e.join(fwd.select(F.col("x").alias("u"), F.col("nbrs").alias("__nu")), "u")
        .join(fwd.select(F.col("x").alias("v"), F.col("nbrs").alias("__nv")), "v")
        .select(
            F.col("u").alias("id_a"),
            F.col("v").alias("id_b"),
            F.explode(F.array_intersect("__nu", "__nv")).alias("id_c"),
        )
    )


def negative_edges(edges: DataFrame, k: int = 2) -> DataFrame:
    """Deterministic negative sampling for link-prediction training:
    for every node appearing in the (canonically ordered, undirected)
    ``(id_a, id_b)`` edge list, ``k`` candidate partners drawn by md5
    hash over a dense node index, minus real edges and self-pairs — the
    non-edge half of every graph-embedding / GNN training batch,
    reproducible across runs and engines (no RNG state; the hash family is the repo's
    ``md5_hash64`` convention, replayable in SQL).

    Scale shape: the node universe is |V|-sized (a global-ordered dense
    index over the distinct endpoints — the one global sort, node-count
    not edge-count sized); candidates are a narrow k-way explode over
    nodes; realness is removed by ONE left-anti hash join against the
    canonical edge list.  Emitted pairs are canonical (neg_a < neg_b)
    and deduped, so a pair sampled from both endpoints appears once.
    Expected yield is ~k·|V|·(1 − 2|E|/|V|²) — on sparse graphs nearly
    every candidate survives.
    """
    from .dedup import md5_hash64

    e = edges.select(F.col("id_a").alias("__u"), F.col("id_b").alias("__v"))
    nodes = (
        e.select(F.col("__u").alias("__n"))
        .unionAll(e.select(F.col("__v").alias("__n")))
        .distinct()
    )
    w = Window.orderBy("__n")
    indexed = nodes.withColumn("__idx", F.row_number().over(w) - 1)
    n_nodes = indexed.select(F.count("*").alias("__nv"))
    cand = (
        indexed.crossJoin(F.broadcast(n_nodes))
        .select(
            "__n",
            F.explode(
                F.array(*[
                    (
                        md5_hash64(
                            F.concat_ws(":", F.col("__n").cast("string"), F.lit(str(i)))
                        )
                        % F.col("__nv")
                    ).cast("int")
                    for i in range(k)
                ])
            ).alias("__tidx"),
        )
    )
    paired = (
        cand.join(
            indexed.select(F.col("__idx").alias("__tidx"), F.col("__n").alias("__t")),
            "__tidx",
        )
        .filter(F.col("__n") != F.col("__t"))
        .select(
            F.least("__n", "__t").alias("neg_a"),
            F.greatest("__n", "__t").alias("neg_b"),
        )
        .distinct()
    )
    return paired.join(
        e.select(F.col("__u").alias("neg_a"), F.col("__v").alias("neg_b")),
        ["neg_a", "neg_b"],
        "left_anti",
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node over a canonically-ordered
    undirected ``(id_a, id_b)`` edge list: cc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) — how clique-like each neighborhood is
    (dup-cluster quality, community cohesion, basket-graph analysis).  Nodes of degree < 2 score 0.

    Scale shape: degrees are one hash aggregate over the edge list;
    per-node triangle counts come from ``triangle_enumerate`` (two hash
    joins, wedge-bounded) with each triangle credited to its three
    corners via a narrow explode — no new join shapes beyond the
    triangle pass.  Returns (node, degree, triangles, cc)."""
    e = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    tris = triangle_enumerate(e, src="u", dst="v")
    per_node = (
        tris.select(
            F.explode(F.array("id_a", "id_b", "id_c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("degree").cast("double") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("cc"),
        )
    )
