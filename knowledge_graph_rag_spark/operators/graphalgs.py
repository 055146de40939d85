"""Iterative graph algorithms over (src, dst) edge frames.

Beyond-reference scale-path analytics (the reference's Neo4j holds ≤5k-node
graphs; these are the DataFrame-iterative equivalents that survive 10^9-node
graphs): PageRank here, connected components in operators/canonicalize.

Design notes (the parts that matter at 100×):
- ranks and links shuffle on the same key each iteration; ``localCheckpoint``
  every ``checkpoint_every`` rounds truncates the growing lineage (without
  it, the plan re-derives ALL prior iterations and planning time goes
  quadratic — the classic iterative-DataFrame trap).
- dangling mass (nodes with no out-edges) is redistributed uniformly each
  iteration via one scalar agg, matching the standard formulation.
- out-degrees are computed once and cached; per-iteration work is one join +
  one aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """(node_id, rank) after ``max_iter`` synchronous power iterations with
    uniform teleport and dangling-mass redistribution. Ranks sum to 1."""
    # localCheckpoint, not cache(): a library function must not leave managed
    # memory pinned after the caller drops the result (same hygiene as
    # dedup.simhash_pairs) — checkpoint blocks are reclaimed by the
    # ContextCleaner once the returned frame is unreferenced, while a
    # .cache() here would stay pinned until someone calls unpersist().
    e = edges.select("src", "dst").filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(
        F.count("*").alias("deg")
    ).localCheckpoint(eager=False)
    links = e.join(out_deg, "src")  # (src, dst, deg)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for it in range(max_iter):
        contribs = (
            links.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass (rank held by nodes with no out-edges) stays IN the
        # plan as a broadcast 1-row aggregate — a driver-side .first() here
        # would launch an extra job per iteration AND recompute the whole
        # uncheckpointed lineage twice per round
        dangling = F.broadcast(
            ranks.join(
                out_deg.withColumnRenamed("src", "node_id"), "node_id", "left_anti"
            ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        ranks = (
            nodes.join(contribs.withColumnRenamed("dst", "node_id"), "node_id", "left")
            .crossJoin(dangling)
            .select(
                "node_id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("dmass") / n
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (it + 1) % checkpoint_every == 0:
            # eager: materialize the last few rounds once, truncating lineage
            # (ranks feeds both contribs and the dangling agg next round)
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node_id", F.col("rank").cast("double").alias("rank"))


def _oriented_edges(edges: DataFrame, src: str, dst: str):
    """Shared front half of the wedge-enumeration family (triangle_count,
    local_clustering): canonical distinct undirected edges, per-node
    degrees, and every edge oriented low→high (degree, node) rank —
    the Suri-Vassilvitskii skew defense. Returns ``(e, deg, oriented)``;
    all three are lazily checkpointed (each feeds multiple consumers —
    r06 note: lazy checkpoint consumers compiled into concurrent stages can
    race the block-cache materialization and duplicate the upstream scan,
    but the duplicated stages overlap on idle cores and measured FASTER
    end-to-end at sf1.0 than the serialized eager form, 5.1 s vs 6.0 s —
    so lazy stays deliberately).
    ONE definition so a future skew/ordering fix cannot drift between the
    two ops."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)
    )
    ru = deg.select(F.col("n").alias("u"), F.struct("d", "n").alias("rank_u"))
    rv = deg.select(F.col("n").alias("v"), F.struct("d", "n").alias("rank_v"))
    oriented = (
        e.join(ru, "u")
        .join(rv, "v")
        .select(
            F.when(F.col("rank_u") < F.col("rank_v"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("a"),
            F.when(F.col("rank_u") < F.col("rank_v"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("b"),
            F.when(F.col("rank_u") < F.col("rank_v"), F.col("rank_v"))
            .otherwise(F.col("rank_u"))
            .alias("rank_b"),
        )
        .localCheckpoint(eager=False)
    )
    return e, deg, oriented


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count of the undirected simple graph underlying
    ``edges`` — one row ``(n_triangles,)``.

    Shape (the standard MapReduce triangle enumeration, Suri & Vassilvitskii
    "Counting triangles and the curse of the last reducer", WWW 2011):
    canonicalize to distinct undirected edges, then ORIENT every edge from
    lower to higher (degree, node) rank and enumerate wedges only at each
    edge's LOW-rank endpoint. Degree ordering is the skew defense the paper
    is named for: a hub of degree d contributes wedges only toward
    neighbors of rank above it, so per-node wedge fan-out is bounded by the
    graph's degeneracy (≈√m worst case) instead of d² — the curse-of-the-
    last-reducer hot key never forms. Each triangle has exactly one
    lowest-rank vertex under a total order, so it is counted exactly once;
    any total order yields the same count, which is what lets an id-ordered
    plain-SQL oracle pin this degree-ordered plan. Three hash joins + two
    aggregations, no driver state, no iteration. Canonicalization /
    degrees / orientation are shared with local_clustering via
    _oriented_edges."""
    _, _, oriented = _oriented_edges(edges, src, dst)
    # (r06: a shuffle_hash hint on this self-join was A/B-tested interleaved
    # at sf1.0 and measured a wash — the sorted 2M-edge sides are cheap —
    # so it stays the planner's choice; the hint that matters is on the
    # CLOSING join below, where the stream side is the quadratic one.)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.a") == F.col("e2.a")).filter(
        F.col("e1.rank_b") < F.col("e2.rank_b")
    ).select(F.col("e1.b").alias("x"), F.col("e2.b").alias("y"))
    # shuffle-hash, not sort-merge (guide §3.1): the wedge stream is the
    # O(Σ d⁺²) blow-up side — sort-merge would SORT it (measured 81.6M wedge
    # rows at sf1.0 for 2M edges); hashing the edge side instead streams the
    # wedges unsorted. Build side is closing edges per partition — bounded
    # by shuffle-partition sizing (AQE), never the wedge stream.
    closing = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    return wedges.join(closing.hint("shuffle_hash"), ["x", "y"], "left_semi").agg(
        F.count("*").alias("n_triangles")
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """``(node_id, degree)`` of the k-core of the undirected simple graph
    underlying ``edges`` — the maximal subgraph where every node has degree
    ≥ ``k`` (Seidman 1983); ``degree`` is the node's degree WITHIN the core.

    Shape: synchronous iterative peeling — each round computes degrees (one
    union + one hash aggregation), finds sub-``k`` nodes, and drops their
    edges with two shuffled anti-joins (never broadcast: the first rounds can
    peel a large fraction of the graph, so the bad set is unbounded). Every
    round eagerly ``localCheckpoint``s both the bad set (consumed by two
    anti-joins AND the isEmpty convergence probe — one materialization, three
    consumers) and the pruned edge set (truncates the growing lineage — the
    classic iterative-DataFrame trap; same hygiene as ``pagerank``, blocks
    reclaimed by the ContextCleaner, nothing left pinned). Rounds are bounded
    by the peel depth of the graph (≤ its degeneracy ordering depth, usually
    a handful) and capped at ``max_iter`` peels: a graph still peeling after
    the cap raises ``RuntimeError`` instead of returning a partially-peeled
    graph's degrees.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def degrees(edge_df: DataFrame) -> DataFrame:
        return (
            edge_df.select(F.col("u").alias("n"))
            .unionAll(edge_df.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )

    deg = degrees(e)
    for peels in range(max_iter + 1):
        bad = deg.filter(F.col("d") < k).select("n").localCheckpoint(eager=True)
        if bad.isEmpty():
            break
        if peels == max_iter:
            raise RuntimeError(f"kcore did not converge in {max_iter} peel rounds")
        e = (
            e.join(bad.withColumnRenamed("n", "u"), "u", "left_anti")
            .join(bad.withColumnRenamed("n", "v"), "v", "left_anti")
            .localCheckpoint(eager=True)
        )
        deg = degrees(e)
    return deg.select(F.col("n").alias("node_id"), F.col("d").alias("degree"))


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """``(node_id, degree, triangles, coeff)`` — per-node triangle counts
    and local clustering coefficient C(v) = 2·t(v) / (d(v)·(d(v)−1)) of the
    undirected simple graph (Watts & Strogatz 1998); nodes with degree < 2
    get coeff 0.

    Same degree-ordered wedge enumeration as ``triangle_count`` (per-node
    wedge fan-out bounded by degeneracy, the curse-of-the-last-reducer
    defense), but the closing join is an INNER join that keeps the wedge
    corner, so every triangle surfaces exactly once as its three corners
    and one explode attributes it to each — no per-node iteration, three
    hash joins + three aggregations. Canonicalization / degrees /
    orientation are shared with triangle_count via _oriented_edges."""
    _, deg, oriented = _oriented_edges(edges, src, dst)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.a") == F.col("e2.a")).filter(
        F.col("e1.rank_b") < F.col("e2.rank_b")
    ).select(
        F.col("e1.a").alias("w0"),
        F.col("e1.b").alias("x"),
        F.col("e2.b").alias("y"),
    )
    # shuffle-hash hint: stream the O(Σ d⁺²) wedge side unsorted, hash the
    # closing edges per partition (see triangle_count for the measurement)
    closing = oriented.select(F.col("a").alias("x"), F.col("b").alias("y")).hint(
        "shuffle_hash"
    )
    tri_nodes = (
        wedges.join(closing, ["x", "y"])  # INNER keeps the wedge corner
        .select(
            F.explode(F.array(F.col("w0"), F.col("x"), F.col("y"))).alias("n")
        )
        .groupBy("n")
        .agg(F.count("*").alias("t"))
    )
    coeff = F.when(
        F.col("d") >= 2,
        2.0 * F.coalesce(F.col("t"), F.lit(0)) / (F.col("d") * (F.col("d") - 1)),
    ).otherwise(F.lit(0.0))
    return deg.join(tri_nodes, "n", "left").select(
        F.col("n").alias("node_id"),
        F.col("d").alias("degree"),
        F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
        F.round(coeff, 4).alias("coeff"),
    )
